"""Mergeable heavy-hitters summaries (Misra–Gries, deterministic).

The CMS top-k report (``operators/aggregate.cms_frequency_report``)
answers frequency queries probabilistically — overestimates possible,
collision-dependent.  Misra–Gries is its deterministic complement, the
other classic mergeable-summary primitive (Agarwal, Cormode, Huang,
Phillips, Wei, Yi — "Mergeable Summaries", PODS 2012): a k-counter
summary where

- every item with true frequency > N/(k+1) is GUARANTEED present;
- estimates never overcount: ``est ≤ true ≤ est + err_bound``, with
  ``err_bound`` = the summary's total decrement (≤ N/(k+1)), carried
  in the output so downstream consumers see the uncertainty;
- merging two summaries (combine counts, subtract the (k+1)-th largest
  count, keep positives) preserves both properties — the theorem that
  makes the two-level distributed build below correct.

Below capacity (≤ k distinct items per group, no decrement fires) the
summary IS the exact frequency table with ``err_bound`` 0 — the regime
the sf0.01 driver oracle value-checks; the over-capacity guarantees
are pinned by property tests (tests/test_heavyhitters.py).

Build shape (the 100 TB shape, same as ``quantiles.quantile_sketch``):
a ``mapInPandas`` pass holds one bounded k-counter summary per group
seen in its partition and emits only summary rows, so the single
shuffle moves ≤ groups × (k+1) rows; an ``applyInPandas`` merge folds
the partials per group.  No stage holds a full group.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from muller_spark.operators.ledger import StatsLedger

# sentinel item for the per-partial error row (parquet-safe: a real
# item can never be NULL because nulls are dropped before counting)
_ERR_ITEM = None


class _MG:
    """Deterministic Misra–Gries k-counter summary (executor-side)."""

    __slots__ = ("k", "counts", "err")

    def __init__(self, k: int):
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        self.k = k
        self.counts: dict[str, int] = {}
        self.err = 0

    def add_counts(self, new: "dict[str, int]") -> None:
        c = self.counts
        for item, n in new.items():
            c[item] = c.get(item, 0) + int(n)
        if len(c) > self.k:
            # subtract the (k+1)-th largest count, keep positives —
            # the mergeable-summaries combine step (deterministic:
            # ties broken by count value only, items never compared)
            d = sorted(c.values(), reverse=True)[self.k]
            self.counts = {i: n - d for i, n in c.items() if n > d}
            self.err += d

    def merge_rows(self, items, counts, errs) -> None:
        """Fold partial rows (sentinel err rows carry item=None)."""
        new: dict[str, int] = {}
        for item, n, e in zip(items, counts, errs):
            if item is None:
                self.err += int(e)
            else:
                new[item] = new.get(item, 0) + int(n)
        self.add_counts(new)

    def rows(self) -> "list[tuple[str | None, int, int]]":
        out: list[tuple[str | None, int, int]] = [
            (i, n, 0) for i, n in self.counts.items()
        ]
        out.append((_ERR_ITEM, 0, self.err))
        return out


def _partial_row_schema(src_fields) -> StructType:
    """The mergeable PARTIAL row form shared by the distributed build
    and the ledger log: ``(*group_cols, item, cnt, err)`` with the
    error sentinel row carrying ``item = NULL``."""
    return StructType(
        list(src_fields)
        + [
            StructField("item", StringType(), True),
            StructField("cnt", LongType(), False),
            StructField("err", LongType(), False),
        ]
    )


def _mg_partials(
    df: DataFrame,
    value_col: str,
    k: int,
    gcols: "list[str]",
    src_fields,
) -> DataFrame:
    """The map-side stage: one bounded k-counter summary per group per
    partition, emitted as partial rows — the single shuffle downstream
    moves ≤ groups × partitions × (k+1) rows, never corpus rows."""
    part_schema = _partial_row_schema(src_fields)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        summaries: dict[tuple, _MG] = {}
        for pdf in batches:
            vals = pdf[value_col].astype("string")
            if gcols:
                for key, sub in pdf.assign(_v=vals).groupby(
                    gcols, dropna=False, sort=False
                ):
                    key = key if isinstance(key, tuple) else (key,)
                    vc = sub["_v"].dropna().value_counts()
                    summaries.setdefault(tuple(key), _MG(k)).add_counts(
                        {str(i): int(n) for i, n in vc.items()}
                    )
            else:
                vc = vals.dropna().value_counts()
                summaries.setdefault((), _MG(k)).add_counts(
                    {str(i): int(n) for i, n in vc.items()}
                )
        for key, mg in summaries.items():
            rows = mg.rows()
            out = pd.DataFrame(rows, columns=["item", "cnt", "err"])
            for i, c in enumerate(gcols):
                out.insert(i, c, key[i])
            yield out

    return df.select(*gcols, value_col).mapInPandas(partial, part_schema)


def heavy_hitters(
    df: DataFrame,
    value_col: str,
    k: int = 64,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Deterministic heavy hitters per group: ``(*group_cols, item
    string, est_count long, err_bound long)``.

    ``est_count`` never overcounts; the true frequency lies in
    ``[est_count, est_count + err_bound]`` and every item with
    frequency > N/(k+1) is present (N = the group's non-null rows).
    ``err_bound`` is the same for every item in a group — it is the
    summary's total decrement, reported per row for self-contained
    consumption.  NULL values are dropped (they are not an item).
    With ≤ k distinct items per group the output is the exact
    frequency table and ``err_bound`` is 0.
    """
    gcols = list(group_cols)
    src_fields = [df.schema[c] for c in gcols]
    partials = _mg_partials(df, value_col, k, gcols, src_fields)
    merge_keys = gcols if gcols else ["_g"]
    if not gcols:
        partials = partials.withColumn("_g", F.lit(0))

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        mg = _MG(k)
        items = [None if pd.isna(i) else str(i) for i in pdf["item"]]
        mg.merge_rows(items, pdf["cnt"], pdf["err"])
        err = mg.err
        out = pd.DataFrame(
            sorted(mg.counts.items()), columns=["item", "est_count"]
        )
        out["err_bound"] = err
        for i, c in enumerate(gcols):
            out.insert(i, c, pdf[c].iloc[0])
        return out

    out_schema = StructType(
        src_fields
        + [
            StructField("item", StringType(), False),
            StructField("est_count", LongType(), False),
            StructField("err_bound", LongType(), False),
        ]
    )
    return (
        partials.groupBy(*merge_keys)
        .applyInPandas(merge_group, out_schema)
        .select(*gcols, "item", "est_count", "err_bound")
    )

# ---------------------------------------------------------------------------
# incremental heavy-hitters ledger — the 4th member of the incremental-
# statistics family (scalars: agg ledger; distinct: HLL ledger; quantiles:
# quantile ledger; top-k: this)
# ---------------------------------------------------------------------------

def _merge_summaries(
    partials: DataFrame,
    keys: "list[str]",
    k: int,
    src_fields,
) -> DataFrame:
    """Per-key merge of Misra–Gries partial rows, kept in the partial
    row form (``*keys, item, cnt, err``).  A key's whole history folds
    through ONE ``_MG.merge_rows`` call — a single combine + at most one
    decrement — so the merge is deterministic in the row multiset
    (order-independent): merging a log is exactly merging its rows."""
    merge_keys = keys if keys else ["_g"]
    if not keys:
        partials = partials.withColumn("_g", F.lit(0))

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        mg = _MG(k)
        items = [None if pd.isna(i) else str(i) for i in pdf["item"]]
        mg.merge_rows(items, pdf["cnt"], pdf["err"])
        out = pd.DataFrame(mg.rows(), columns=["item", "cnt", "err"])
        for i, c in enumerate(keys):
            out.insert(i, c, pdf[c].iloc[0])
        return out

    return (
        partials.groupBy(*merge_keys)
        .applyInPandas(merge_group, _partial_row_schema(src_fields))
        .select(*keys, "item", "cnt", "err")
    )


def _mg_summary_frame(
    df: DataFrame,
    value_col: str,
    k: int,
    keys: "list[str]",
) -> DataFrame:
    """One MERGED Misra–Gries summary per key, in the mergeable partial
    row form — the unit a ledger ingest appends.  Two-level bounded
    build exactly as :func:`heavy_hitters` (map-side partials → one
    summary-row shuffle → per-key merge), but stopping at the partial
    form so later ingests can keep merging."""
    src_fields = [df.schema[c] for c in keys]
    return _merge_summaries(
        _mg_partials(df, value_col, k, keys, src_fields), keys, k, src_fields
    )


_MG_LEDGER = StatsLedger(
    log="summaries",
    meta_cols=("k",),
    partials=lambda df, keys, meta: _mg_summary_frame(
        df, meta["value_col"], int(meta["k"]), keys
    ),
    fold=lambda log, keys, meta: _merge_summaries(
        log, keys, int(meta["k"]), [log.schema[c] for c in keys]
    ),
)


def init_mg_ledger(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    path: str,
    k: int = 64,
    lock=False,
) -> None:
    """Seed a persistent incremental HEAVY-HITTERS ledger: per-key
    Misra–Gries summaries maintained across ingest batches — top-k
    maintenance without a corpus rescan, completing the ledger family
    (scalars / distinct / quantiles / top-k).

    Layout at ``path`` (parquet): ``summaries`` — an append-only log
    of partial rows (``*key_cols, item, cnt, err``; the NULL-item
    sentinel row carries a summary's accumulated decrement); ``meta``
    — one row pinning (key_cols, value_col, k).  MG summaries are
    MERGEABLE (PODS 2012 — combine counts, subtract the (k+1)-th
    largest, keep positives: ``_MG.add_counts``) but NOT
    replay-tolerant — a re-appended summary double-counts its batch:
    crash class marker + landed manifest (``operators/ledger.py``),
    carried by the streaming twin
    (:func:`muller_spark.streaming.windows.mg_ledger_stream`).

    Ingest = one bounded two-level build of the batch appended to the
    log — O(batch), ≤ keys × (k+1) rows, zero reads of prior state.
    Report = per-key fold of the log (≤ keys × ingests × (k+1) rows
    through one ``applyInPandas`` merge).  Guarantees after any
    ingest/merge history: ``est_count ≤ true ≤ est_count +
    err_bound``, and every item with frequency > N/(k+1) present.
    Below capacity (≤ k distinct items per key across ALL ingests) no
    decrement ever fires, so the report is the exact frequency table
    with ``err_bound`` 0 — the regime the driver oracle value-checks;
    over-capacity guarantees are property-tested.  ``lock=`` enforces
    the single-writer discipline with a lease."""
    _MG_LEDGER.init(df, key_cols, value_col, path, lock, k=k)


def mg_ledger_ingest(batch: DataFrame, path: str, lock=False) -> None:
    """Fold one batch into the heavy-hitters ledger: the batch's own
    merged summary rows appended (grouping/k sniffed from meta) —
    O(batch), bounded output, no reads of prior state.  NOT
    replay-safe: single-writer discipline (the streaming twin adds the
    marker machinery); ``lock=`` enforces it with a lease."""
    _MG_LEDGER.ingest(batch, path, lock)


def mg_ledger_report(spark, path: str) -> DataFrame:
    """Heavy hitters from the ledger: fold the summary log per key,
    then shape the merged summary into the :func:`heavy_hitters`
    report form ``(*key_cols, item, est_count, err_bound)`` — same
    columns, same guarantees, same exact-below-capacity regime, so
    the same oracle construction replays it."""
    folded, keys, _ = _MG_LEDGER.read(spark, path)
    # the NULL-item sentinel row carries the fold's total decrement;
    # broadcast it onto the item rows as err_bound (per key)
    items = folded.where(F.col("item").isNotNull()).select(
        *keys, "item", F.col("cnt").alias("est_count")
    )
    errs = folded.where(F.col("item").isNull()).select(
        *keys, F.col("err").alias("err_bound")
    )
    if keys:
        return items.join(errs, keys, "left").select(
            *keys, "item", "est_count",
            F.coalesce("err_bound", F.lit(0)).alias("err_bound"),
        )
    return items.crossJoin(F.broadcast(errs)).select(
        "item", "est_count",
        F.coalesce("err_bound", F.lit(0)).alias("err_bound"),
    )


def compact_mg_ledger(spark, path: str, lock=False) -> None:
    """Fold the summary log to one summary per key.  Reports before
    and after compaction are IDENTICAL — the report fold and the
    compaction fold are the same single merge over the same row
    multiset.  ``lock=`` enforces the no-compact-while-ingesting
    discipline with a lease."""
    _MG_LEDGER.compact(spark, path, lock)
