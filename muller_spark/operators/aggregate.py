"""Group-by aggregation with the reference's validation and ordering rules.

Mirrors ``ds.aggregate_vectorized`` / ``ds.aggregate`` (reference
``muller/core/dataset/mixins/query.py:168-217`` and
``muller/core/query/aggregate_vectorized.py:32-140``):

- one aggregation *method* per call (``count|sum|avg|min|max``) applied to
  every column in ``aggregate_tensors``; ``"*"`` only valid for ``count``
- ``selected`` must be a subset of ``group_by``
  (reference ``aggregate.py:457-481``)
- ``order_by`` must be drawn from ``selected`` or the aggregate outputs
- ``order_direction`` ``ASC``/``DESC``; default ordering for the row engine
  is count-desc (``Counter.most_common``, reference ``aggregate.py:195-199``)

The reference implements this with an ``np.unique(axis=0)`` single pass and
one-hot matmuls — all in driver RAM.  Here it is a plain
``groupBy().agg()``: Spark performs partial (map-side) + final hash
aggregation, which is the distributed generalization of the reference's
per-worker ``Counter`` + reduce (``aggregate.py:238-252``) and removes the
whole-column-in-RAM ceiling.

Aggregate output columns are aliased ``{method}_{tensor}`` (``count_star``
for ``*``) so oracle SQL can match them by name.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from muller_spark.operators.ledger import StatsLedger

_METHODS: dict[str, Callable[[str], Column]] = {
    "count": F.count,
    "sum": F.sum,
    "avg": F.avg,
    "min": F.min,
    "max": F.max,
}


def agg_alias(method: str, tensor: str) -> str:
    return f"{method}_star" if tensor == "*" else f"{method}_{tensor}"


def validate_agg_args(
    group_by: Sequence[str],
    selected: Sequence[str] | None,
    order_by: Sequence[str] | None,
    aggregate_tensors: Sequence[str],
    order_direction: str,
    method: str,
) -> "tuple[list, list, list, list, list, str]":
    """Validation rules ported from reference aggregate.py:457-481 —
    shared by the hash-agg path and the posting-table count fast path
    so both enforce/normalize identically."""
    if method not in _METHODS:
        raise ValueError(f"method must be one of {sorted(_METHODS)}, got {method!r}")
    group_by = list(group_by)
    selected = list(selected) if selected is not None else list(group_by)
    order_by = list(order_by or [])
    aggregate_tensors = list(aggregate_tensors)
    bad = [c for c in selected if c not in group_by]
    if bad:
        raise ValueError(f"selected columns must be in group_by: {bad}")
    if "*" in aggregate_tensors and method != "count":
        raise ValueError('"*" aggregate is only valid with method="count"')
    agg_names = [agg_alias(method, t) for t in aggregate_tensors]
    orderable = set(selected) | set(agg_names) | set(aggregate_tensors)
    bad = [c for c in order_by if c not in orderable]
    if bad:
        raise ValueError(f"order_by columns must be in selected or aggregates: {bad}")
    direction = order_direction.upper()
    if direction not in {"ASC", "DESC"}:
        raise ValueError(f"order_direction must be ASC or DESC, got {order_direction!r}")
    return group_by, selected, order_by, aggregate_tensors, agg_names, direction


def apply_agg_ordering(
    out: DataFrame,
    selected: Sequence[str],
    agg_names: Sequence[str],
    order_by: Sequence[str],
    direction: str,
    method: str,
) -> DataFrame:
    """ORDER BY application shared with the fast path; ``order_by`` may
    name the raw tensor, which maps to its aggregate alias."""
    if not order_by:
        return out

    def resolve(name: str) -> str:
        return name if name in set(selected) | set(agg_names) else agg_alias(method, name)

    cols = [
        F.col(resolve(c)).asc() if direction == "ASC" else F.col(resolve(c)).desc()
        for c in order_by
    ]
    return out.orderBy(*cols)


def aggregate_vectorized(
    df: DataFrame,
    group_by: Sequence[str],
    selected: Sequence[str] | None = None,
    order_by: Sequence[str] | None = None,
    aggregate_tensors: Sequence[str] = ("*",),
    order_direction: str = "ASC",
    method: str = "count",
    pre_filter: Column | None = None,
) -> DataFrame:
    group_by, selected, order_by, aggregate_tensors, agg_names, direction = (
        validate_agg_args(
            group_by, selected, order_by, aggregate_tensors, order_direction, method
        )
    )

    if pre_filter is not None:
        df = df.filter(pre_filter)

    fn = _METHODS[method]
    aggs = [
        fn("*").alias(name) if tensor == "*" else fn(tensor).alias(name)
        for tensor, name in zip(aggregate_tensors, agg_names)
    ]
    out = df.groupBy(*group_by).agg(*aggs).select(*selected, *agg_names)
    return apply_agg_ordering(out, selected, agg_names, order_by, direction, method)


def statistics(df: DataFrame, columns: Sequence[str] | None = None) -> DataFrame:
    """Per-column stats à la ``ds.statistics()`` (reference
    ``muller/core/dataset/statistics/statistics.py:49-97``): nan/null count
    + proportion, min, max, mean, median, std for numeric columns; length
    stats for text.  One output row per column.
    """
    import pyspark.sql.types as T

    numeric = (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
               T.FloatType, T.DoubleType, T.DecimalType)
    rows = []
    fields = [f for f in df.schema.fields
              if columns is None or f.name in set(columns)]
    # row count rides along in the same aggregation — a separate
    # df.count() would scan the data a second time
    aggs: list[Column] = [F.count(F.lit(1)).alias("__total")]
    layout: list[tuple[str, str]] = []  # (col, kind)
    for f in fields:
        name = f.name
        if isinstance(f.dataType, numeric):
            aggs += [
                F.count(F.when(F.col(name).isNull() | F.isnan(F.col(name).cast("double")), 1)).alias(f"{name}__nan"),
                F.min(name).cast("double").alias(f"{name}__min"),
                F.max(name).cast("double").alias(f"{name}__max"),
                F.avg(name).alias(f"{name}__mean"),
                F.expr(f"percentile_approx(`{name}`, 0.5)").cast("double").alias(f"{name}__median"),
                F.stddev(name).alias(f"{name}__std"),
            ]
            layout.append((name, "numeric"))
        elif isinstance(f.dataType, T.StringType):
            aggs += [
                F.count(F.when(F.col(name).isNull(), 1)).alias(f"{name}__nan"),
                F.min(F.length(name)).cast("double").alias(f"{name}__min"),
                F.max(F.length(name)).cast("double").alias(f"{name}__max"),
                F.avg(F.length(name)).alias(f"{name}__mean"),
                F.expr(f"percentile_approx(length(`{name}`), 0.5)").cast("double").alias(f"{name}__median"),
                F.stddev(F.length(name)).alias(f"{name}__std"),
            ]
            layout.append((name, "text_length"))
    if not layout:
        raise ValueError("no supported columns for statistics")
    stats = df.agg(*aggs).collect()[0].asDict()
    total = stats["__total"]
    for name, kind in layout:
        nan = stats[f"{name}__nan"]
        rows.append({
            "column": name,
            "kind": kind,
            "nan_count": nan,
            "nan_proportion": (nan / total) if total else 0.0,
            "min": stats[f"{name}__min"],
            "max": stats[f"{name}__max"],
            "mean": stats[f"{name}__mean"],
            "median": stats[f"{name}__median"],
            "std": stats[f"{name}__std"],
            "row_count": total,
        })
    spark = df.sparkSession
    # explicit schema: stddev is NULL on <2 rows and every stat is NULL
    # on an empty/all-null frame — schema inference over all-None dict
    # fields would raise instead of returning null cells
    schema = (
        "column string, kind string, nan_count long, "
        "nan_proportion double, min double, max double, mean double, "
        "median double, std double, row_count long"
    )
    return spark.createDataFrame(rows, schema).select(
        "column", "kind", "nan_count", "nan_proportion",
        "min", "max", "mean", "median", "std", "row_count",
    )


def histogram(df: DataFrame, column: str, bins: int = 10) -> DataFrame:
    """Equi-width histogram (the reference's 10-bin stats histogram,
    ``statistics.py:49-97``): one pass for min/max, one aggregation on
    ``width_bucket`` — both map-side combinable."""
    # drop NaN alongside NULL: Spark's max() orders NaN above every
    # double, so one NaN row would make hi (and the bin width) NaN and
    # collapse the whole histogram into a single NaN-bounded bucket
    vals = F.col(column).cast("double")
    df = df.filter(F.col(column).isNotNull() & ~F.isnan(vals))
    lo, hi = df.agg(F.min(vals), F.max(vals)).collect()[0]
    if lo is None:
        raise ValueError(f"column {column!r} has no non-null values")
    if lo == hi:
        hi = lo + 1.0
    # explicit equi-width arithmetic (not width_bucket) so the bucketing
    # is plain IEEE ops reproducible bit-for-bit by any SQL oracle
    width = (hi - lo) / bins
    bucket = F.least(
        F.lit(bins).cast("long"),
        F.greatest(
            F.lit(1).cast("long"),
            (F.floor((F.col(column).cast("double") - F.lit(lo)) / F.lit(width)) + 1),
        ),
    )
    return (
        df.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("count"))
        .select(
            "bucket",
            (F.lit(lo) + (F.col("bucket") - 1) * F.lit(width)).alias("lo"),
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("hi"),
            "count",
        )
        .orderBy("bucket")
    )


def correlation_matrix(
    df: DataFrame,
    cols: "list[str]",
    round_to: int = 6,
) -> DataFrame:
    """Pearson correlation for every column pair in ONE aggregate pass:
    all sums, squares, and cross-products accumulate as decimal-exact
    power sums in the same partial aggregation (d + d + d(d-1)/2
    aggregates, map-side combined), then the single result row unpivots
    to ``(col_a, col_b, corr)`` pairs with ``col_a < col_b``.

    Decimal casts make both engines do identical double arithmetic on
    exact inputs — the same float discipline as the corr/covar query
    (built-in ``corr`` streams floats in partition order and cannot
    hash-match across engines).

    Null/NaN discipline: rows with a NULL or NaN in ANY of ``cols`` are
    dropped up front (LISTWISE complete-case deletion), so every power
    sum and the count cover the same row set.  Without the filter,
    ``count(*)`` would include rows the decimal sums silently skip
    (``sum`` ignores NULL, and ``cast(NaN as decimal)`` is NULL),
    mixing moments over different row sets into silently wrong Pearson
    values.  Note the deliberate divergence from built-in ``corr``,
    which deletes PAIRWISE — pairwise-complete moments cannot come out
    of one shared power-sum pass.

    Cost note: a FRESH plan pays ~0.2 s of whole-stage-codegen compile
    per decimal aggregate (measured linearly at 1/5/10/15 aggregates) —
    reuse the returned DataFrame rather than rebuilding when scoring
    repeatedly; the data-path cost itself is one scan with map-side
    partials."""
    complete = None
    for c in cols:
        ok = F.col(c).isNotNull() & ~F.isnan(F.col(c).cast("double"))
        complete = ok if complete is None else (complete & ok)
    df = df.filter(complete)
    n = F.count(F.lit(1)).cast("double").alias("_n")
    aggs = [n]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).cast("decimal(30,4)")).cast("double").alias(f"_s_{c}")
        )
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("decimal(30,4)"))
            .cast("double").alias(f"_q_{c}")
        )
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    for a, b in pairs:
        aggs.append(
            F.sum((F.col(a) * F.col(b)).cast("decimal(30,4)"))
            .cast("double").alias(f"_x_{a}_{b}")
        )
    # land the 1-row power-sum aggregate, then assemble the tiny pair
    # frame locally.  This is a bounded scalar collect, not a corpus
    # collect — and it matters: expressing the pair unpivot as
    # explode(array(struct(<full corr expression>, ...))) made Catalyst
    # + AQE re-optimize the blown-up Generate tree on every action
    # (~0.7 s per re-plan, 4 s per materialization at ANY data size).
    # The ratio arithmetic runs in numpy float64 — the same IEEE ops in
    # the same order the JVM would execute, so values are bit-identical
    # — and the final round stays Spark-side to keep HALF_UP parity
    # with the SQL oracle.
    import numpy as np

    row = df.agg(*aggs).collect()[0]
    n = np.float64(row["_n"])
    out = []
    if row["_n"] == 0:
        # no complete rows: every correlation is undefined — emit nulls
        # rather than letting np.float64(None) raise an opaque TypeError
        out = [(a, b, None) for a, b in pairs]
        pairs = []
    for a, b in pairs:
        sa, sb = np.float64(row[f"_s_{a}"]), np.float64(row[f"_s_{b}"])
        qa, qb = np.float64(row[f"_q_{a}"]), np.float64(row[f"_q_{b}"])
        x = np.float64(row[f"_x_{a}_{b}"])
        num = n * x - sa * sb
        den = np.sqrt((n * qa - sa * sa) * (n * qb - sb * sb))
        v = num / den
        out.append((a, b, None if np.isnan(v) else float(v)))
    spark = df.sparkSession
    return (
        spark.createDataFrame(out, "col_a string, col_b string, corr double")
        .select("col_a", "col_b", F.round("corr", round_to).alias("corr"))
        .orderBy("col_a", "col_b")
    )


def group_cume_dist(
    df: DataFrame,
    value_col: str,
    group_col: str,
    out_col: str = "cume_dist",
) -> DataFrame:
    """Per-row cumulative distribution within its group —
    ``P(value <= x | group)``, SQL's ``cume_dist() OVER (PARTITION BY
    group ORDER BY value)`` — computed WITHOUT a corpus window:

    1. one (group, value) hash aggregate (corpus → distinct values),
    2. a running sum windowed over the DISTINCT VALUES of each group
       (the KS-drift bucket-prefix-sum pattern: cost bounded by
       value cardinality, never corpus rows — SQL's corpus window
       serializes each group through one sorting task),
    3. totals + a join back on (group, value).

    NULL values pass through with NULL ``out_col`` (SQL windows would
    rank them; a quality score that's absent shouldn't claim a
    percentile).  The ratio is a raw IEEE division of exact integer
    counts — engine-portable bits (oracle: q_length_percentile)."""
    from pyspark.sql import Window

    vc = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, value_col)
        .agg(F.count(F.lit(1)).alias("__cd_n"))
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col(value_col).asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vc.withColumn("__cd_cum", F.sum("__cd_n").over(w))
    totals = vc.groupBy(group_col).agg(F.sum("__cd_n").alias("__cd_tot"))
    dist = (
        cum.join(totals, group_col)
        .select(
            group_col,
            value_col,
            (F.col("__cd_cum") / F.col("__cd_tot")).alias(out_col),
        )
    )
    return df.join(dist, [group_col, value_col], "left")


def hll_registers(
    df: DataFrame,
    col: str,
    precision: int = 10,
) -> DataFrame:
    """The HLL sketch itself: (bucket, reg) — max leading-zero rank per
    bucket of the portable md5-60bit hash.  This frame IS the
    distributed/persistable form of the sketch: two sketches over
    disjoint (or overlapping!) data MERGE by ``union → groupBy(bucket)
    → max(reg)`` (:func:`hll_merge`), giving the exact same registers
    as one pass over the combined data — the property that lets
    per-shard/per-day sketches answer corpus-wide cardinality without
    a rescan.  ≤ 2^precision rows."""
    from muller_spark.operators.dedup import portable_hash60

    if not 4 <= precision <= 14:
        raise ValueError("precision must be in [4, 14]")
    w = 60 - precision
    h = portable_hash60(F.col(col).cast("string"))
    rem = h % F.lit(1 << w)  # low w bits (h >> w is the bucket)
    rho = F.when(
        rem > 0,
        F.lit(w) - F.length(F.conv(rem, 10, 2)) + F.lit(1),
    ).otherwise(F.lit(w + 1))
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            F.shiftright(h, w).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(*sketches: DataFrame) -> DataFrame:
    """Merge HLL register frames (same precision): elementwise max —
    exact, order-free, idempotent, duplicate-tolerant."""
    if not sketches:
        raise ValueError("need at least one sketch")
    merged = sketches[0]
    for s in sketches[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy("bucket").agg(F.max("reg").alias("reg"))


def hll_estimate(regs: DataFrame, precision: int = 10) -> DataFrame:
    """Estimate from a register frame (:func:`hll_registers` /
    :func:`hll_merge` output): one row (m, nonzero_registers,
    estimate) — see :func:`hll_distinct` for the float discipline."""
    return _hll_estimate_from_registers(regs, precision)


def hll_distinct(
    df: DataFrame,
    col: str,
    precision: int = 10,
) -> DataFrame:
    """Engine-portable HyperLogLog distinct-count estimate — the
    auditable twin of ``approx_count_distinct``: every register and the
    final estimate are REPLAYABLE by a SQL oracle (q_hll_distinct),
    because the whole sketch is built from exact integer/string
    primitives (md5-60bit hash, binary-string bit length) instead of an
    opaque binary sketch.  At 100 TB this is the cheap cardinality
    probe (one hash aggregate to ``2^precision`` registers) whose
    answer two engines can AGREE on bit-for-bit.

    Returns one row: (m, nonzero_registers, estimate) — estimate
    round-4 (the small-range branch uses ln; everything else is exact
    power-of-two arithmetic folded in BUCKET ORDER, the zipf-slope
    float discipline).  NULL values are excluded (distinct-of-non-null,
    the COUNT(DISTINCT col) convention).

    Scale shape: one corpus pass → (bucket, max rho) hash aggregate
    (≤ m rows), then a driver-free fold over the sorted register
    array.  Standard HLL error ≈ 1.04/√m (~3.2% at precision 10)."""
    return _hll_estimate_from_registers(
        hll_registers(df, col, precision), precision
    )


def hll_distinct_by(
    df: DataFrame,
    col: str,
    group_cols: "list[str]",
    precision: int = 10,
) -> DataFrame:
    """Per-group HyperLogLog distinct estimate — the grouped twin of
    :func:`hll_distinct` (distinct users per day, distinct docs per
    source): one corpus pass → (group, bucket, max rho) hash aggregate
    (≤ m rows PER GROUP — bounded state however hot the group), then a
    per-group bucket-ordered estimate fold.  Same engine-portable
    primitives, so the oracle replays every group's registers and
    estimate (q_hll_by_group).  Returns
    (*group_cols, m, nonzero_registers, estimate)."""
    if not group_cols:
        raise ValueError("group_cols must be non-empty (use hll_distinct)")
    regs = _group_registers(df, col, group_cols, precision)
    return _group_hll_estimate(regs, group_cols, precision)


def _group_registers(
    df: DataFrame,
    col: str,
    group_cols: "list[str]",
    precision: int,
) -> DataFrame:
    """Per-group HLL register frame ``(*group_cols, bucket, reg)`` —
    max-mergeable (union → groupBy → max(reg) of any splits equals one
    pass over the union), the property the HLL ledger rests on."""
    from muller_spark.operators.dedup import portable_hash60

    if not 4 <= precision <= 14:
        raise ValueError("precision must be in [4, 14]")
    w = 60 - precision
    h = portable_hash60(F.col(col).cast("string"))
    rem = h % F.lit(1 << w)
    rho = F.when(
        rem > 0,
        F.lit(w) - F.length(F.conv(rem, 10, 2)) + F.lit(1),
    ).otherwise(F.lit(w + 1))
    return (
        df.filter(F.col(col).isNotNull())
        .select(
            *group_cols,
            F.shiftright(h, w).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def _group_hll_estimate(
    regs: DataFrame,
    group_cols: "list[str]",
    precision: int,
) -> DataFrame:
    """Per-group estimate fold over a register frame (the second half
    of :func:`hll_distinct_by`, shared with the HLL ledger report)."""
    m = 1 << precision
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    packed = regs.groupBy(*group_cols).agg(
        F.sort_array(F.collect_list(F.struct("bucket", "reg"))).alias("rs")
    )
    sum_present = F.aggregate(
        F.col("rs"),
        F.lit(0.0).cast("double"),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r["reg"]),
    )
    present = F.size(F.col("rs"))
    zeros = (F.lit(m) - present).cast("double")
    sum_z = sum_present + zeros
    raw = F.lit(alpha * m * m) / sum_z
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return packed.select(
        *group_cols,
        F.lit(m).alias("m"),
        present.cast("long").alias("nonzero_registers"),
        F.round(est, 4).alias("estimate"),
    )


def _hll_estimate_from_registers(regs: DataFrame, precision: int) -> DataFrame:
    if not 4 <= precision <= 14:
        raise ValueError("precision must be in [4, 14]")
    m = 1 << precision
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)

    packed = regs.groupBy().agg(
        F.sort_array(
            F.collect_list(F.struct("bucket", "reg"))
        ).alias("rs")
    )
    # fold Σ 2^-reg in bucket order (deterministic float addition)
    sum_present = F.aggregate(
        F.col("rs"),
        F.lit(0.0).cast("double"),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r["reg"]),
    )
    present = F.size(F.col("rs"))
    zeros = (F.lit(m) - present).cast("double")
    sum_z = sum_present + zeros  # absent registers contribute 2^0
    raw = F.lit(alpha * m * m) / sum_z
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    out = packed.select(
        F.lit(m).alias("m"),
        present.cast("long").alias("nonzero_registers"),
        F.round(est, 4).alias("estimate"),
    )
    # empty input: groupBy().agg over zero rows still yields one row
    # with an empty array, so the contract (exactly one row) holds
    return out


def _hll_with_exact(
    df: DataFrame,
    col: str,
    precision: int = 10,
) -> DataFrame:
    """:func:`hll_distinct` with the exact distinct count riding along
    in ONE linear plan — registers are duplicate-invariant (rho depends
    only on the value's hash), so both the sketch and the truth derive
    from the distinct values: scan → distinct → per-bucket
    ``max(rho) + count(1)`` → global fold with ``exact_distinct =
    sum(count)``.  Identical integers to running :func:`hll_distinct`
    and ``count_distinct`` separately (duplicate-invariance +
    associativity), with one corpus scan and zero joins instead of two
    scans and a crossJoin.  Contract: ``col`` must cast to string
    injectively (it is hashed and counted AS the cast string — a
    string column trivially qualifies).  Returns one row:
    (m, nonzero_registers, estimate, exact_distinct); the empty-input
    edge matches ``count_distinct``'s 0 via a coalesce."""
    from muller_spark.operators.dedup import portable_hash60

    if not 4 <= precision <= 14:
        raise ValueError("precision must be in [4, 14]")
    m = 1 << precision
    if m == 16:
        alpha = 0.673
    elif m == 32:
        alpha = 0.697
    elif m == 64:
        alpha = 0.709
    else:
        alpha = 0.7213 / (1.0 + 1.079 / m)
    w = 60 - precision
    dist = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("__v"))
        .distinct()
    )
    h = portable_hash60(F.col("__v"))
    rem = h % F.lit(1 << w)
    rho = F.when(
        rem > 0,
        F.lit(w) - F.length(F.conv(rem, 10, 2)) + F.lit(1),
    ).otherwise(F.lit(w + 1))
    regs = (
        dist.select(
            F.shiftright(h, w).cast("int").alias("bucket"),
            rho.cast("int").alias("rho"),
        )
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"), F.count(F.lit(1)).alias("cnt"))
    )
    packed = regs.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("bucket", "reg"))).alias("rs"),
        F.sum("cnt").alias("__exact"),
    )
    sum_present = F.aggregate(
        F.col("rs"),
        F.lit(0.0).cast("double"),
        lambda acc, r: acc + F.pow(F.lit(2.0), -r["reg"]),
    )
    present = F.size(F.col("rs"))
    zeros = (F.lit(m) - present).cast("double")
    sum_z = sum_present + zeros
    raw = F.lit(alpha * m * m) / sum_z
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros),
    ).otherwise(raw)
    return packed.select(
        F.lit(m).alias("m"),
        present.cast("long").alias("nonzero_registers"),
        F.round(est, 4).alias("estimate"),
        F.coalesce(F.col("__exact"), F.lit(0).cast("long")).alias(
            "exact_distinct"
        ),
    )


def cms_frequency_report(
    df: DataFrame,
    col: str,
    k: int = 20,
    width: int = 1024,
    depth: int = 4,
) -> DataFrame:
    """Engine-portable Count-Min sketch, audited against truth: build
    a ``depth × width`` counter sketch of ``col`` (salted md5-60bit
    row hashes) and report the top-``k`` exact-count values alongside
    their CMS estimate — (rank, value, exact_cnt, cms_estimate), with
    the classic one-sided guarantee estimate ≥ exact (collisions only
    ADD).  The bounded-memory frequency probe for 100 TB token/URL
    streams, in the auditable-sketch style of :func:`hll_distinct`:
    counters are EXACT INTEGERS, so a SQL oracle replays the whole
    sketch bit-for-bit.

    Scale shape: ONE corpus pass — ``groupBy(v).count()`` — feeds BOTH
    sides: the sketch counter for (row, bucket) is ``sum(exact_cnt)``
    over the values hashing there (identical integers to counting the
    occurrences directly, by sum associativity), with the ``depth``
    bucket projections exploding the ≤ |vocabulary| count rows instead
    of the corpus; the report side is an exact top-k
    (TakeOrderedAndProject) over the SAME count frame, whose ≤ k·depth
    probes join the tiny sketch.  The corpus is never scanned more
    than the two branch reads (the per-value exchange is shared when
    AQE reuses the stage), and the sketch-side shuffle carries
    depth × |vocabulary| rows, not depth × corpus."""
    from muller_spark.operators.dedup import portable_hash60

    if k <= 0 or width <= 1 or not 1 <= depth <= 8:
        raise ValueError("need k > 0, width > 1, depth in [1, 8]")
    vals = (
        df.filter(F.col(col).isNotNull())
        .select(F.col(col).cast("string").alias("v"))
    )

    def bucket_of_row(v: Column, i: int) -> Column:
        return (
            portable_hash60(F.concat(v, F.lit(f"#cms{i}"))) % F.lit(width)
        ).cast("int")

    # the one corpus pass both branches read
    counts = vals.groupBy("v").agg(F.count(F.lit(1)).alias("exact_cnt"))

    sketch = (
        counts.select(
            "exact_cnt",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(i).alias("row"),
                        bucket_of_row(F.col("v"), i).alias("bucket"),
                    )
                    for i in range(depth)
                ])
            ).alias("p"),
        )
        .groupBy(F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
        .agg(F.sum("exact_cnt").alias("c"))
    )

    from pyspark.sql import Window

    top = (
        counts
        .orderBy(F.col("exact_cnt").desc(), F.col("v").asc())
        .limit(k)
    )
    w = Window.orderBy(F.col("exact_cnt").desc(), F.col("v").asc())
    probes = top.withColumn("rank", F.row_number().over(w)).select(
        "rank", "v", "exact_cnt",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("row"),
                    bucket_of_row(F.col("v"), i).alias("bucket"),
                )
                for i in range(depth)
            ])
        ).alias("p"),
    ).select("rank", "v", "exact_cnt",
             F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(sketch, ["row", "bucket"])
        .groupBy("rank", "v", "exact_cnt")
        .agg(F.min("c").alias("cms_estimate"))
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# incremental aggregate ledger — materialized-view maintenance, LSM-style
# ---------------------------------------------------------------------------

def _agg_partials(df: DataFrame, key_cols: "Sequence[str]", value_col: str) -> DataFrame:
    """One partial-aggregate row per key for a batch: the mergeable
    tuple (cnt, nn, sum, sumsq, min, max).  Sums accumulate as
    DECIMAL(38,6) — exact and order-independent for inputs with ≤ 6
    fractional digits (integers always), so a report merged from any
    batch split hashes identically to a one-shot aggregate.

    Input contract — two bounds, both from the decimal layout:

    - ≤ 6 fractional digits (above);
    - ``|value| < 1e13``: the square accumulates through a
      decimal(19,6) cast (13 integer digits), so larger magnitudes
      overflow it — a loud runtime error under ANSI mode (Spark 4's
      default), or a silent NULL ``sumsq_v`` (corrupting ``std_v``
      while ``sum_v`` stays correct) with ANSI off.  Per-key values
      at 1e13 scale have no meaningful 6-dp std anyway; rescale the
      column before ledgering it.
    """
    v = F.col(value_col)
    return df.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.count(value_col).alias("nn"),
        F.sum(v.cast("decimal(38,6)")).cast("decimal(38,6)").alias("sum_v"),
        F.sum(v.cast("decimal(19,6)") * v.cast("decimal(19,6)"))
        .cast("decimal(38,6)")
        .alias("sumsq_v"),
        F.min(v).cast("double").alias("min_v"),
        F.max(v).cast("double").alias("max_v"),
    )


def _agg_fold(log: DataFrame, keys: "list[str]", meta) -> DataFrame:
    """Partial rows merged per key, in the partial-log schema (the
    decimal sums re-cast to the log's type after the widening fold)."""
    return log.groupBy(*keys).agg(
        F.sum("cnt").alias("cnt"),
        F.sum("nn").alias("nn"),
        F.sum("sum_v").cast("decimal(38,6)").alias("sum_v"),
        F.sum("sumsq_v").cast("decimal(38,6)").alias("sumsq_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


_AGG_LEDGER = StatsLedger(
    log="partials",
    meta_cols=(),
    partials=lambda df, keys, meta: _agg_partials(df, keys, meta["value_col"]),
    fold=_agg_fold,
)


def init_agg_ledger(
    df: DataFrame,
    key_cols: "Sequence[str]",
    value_col: str,
    path: str,
    lock=False,
) -> None:
    """Seed a persistent incremental AGGREGATE ledger — materialized-
    view maintenance for per-key statistics, the scalar twin of the
    dedup/near-dup/Hamming ledgers in ``operators/dedup.py``.

    A continuously-ingested corpus needs per-key reports (count, mean,
    std, min, max per source/shard/day) without re-aggregating 100 TB
    per batch.  The ledger stores PARTIAL aggregate rows, LSM-style:

    - ``partials`` — one mergeable row per key per ingest
      (``cnt, nn, sum_v, sumsq_v, min_v, max_v``); ingest APPENDS
      partials — O(batch) map-side aggregation, zero reads of prior
      state, no join, no shuffle of history;
    - ``meta`` — one row pinning (key_cols, value_col); ingests sniff
      the grouping from the artifact (the append_graph_vectors
      discipline) so mixed-schema state is impossible.

    Merge-on-read: :func:`agg_ledger_report` folds partials with a
    keyed aggregate whose input is ≤ keys × ingests rows — never corpus
    rows.  :func:`compact_agg_ledger` folds the log back to one row per
    key when the ingest count grows.  Crash class: marker + landed
    manifest (``operators/ledger.py``); ``lock=`` (True or BranchLock
    kwargs) enforces the single-writer discipline with a lease.
    """
    _AGG_LEDGER.init(df, key_cols, value_col, path, lock)


def agg_ledger_ingest(batch: DataFrame, path: str, lock=False) -> None:
    """Fold one ingest batch into the ledger: one map-side partial
    aggregate of the BATCH ONLY, appended to the partial log.  Never
    reads prior partials — the O(batch) contract.  ``lock=`` opts into
    the enforced single-writer lease: a scheduler retry racing this
    ingest raises instead of silently double-counting the batch."""
    _AGG_LEDGER.ingest(batch, path, lock)


def agg_ledger_report(spark, path: str) -> DataFrame:
    """Merge-on-read statistics: ``(keys…, cnt, nn, sum_v, min_v,
    max_v, mean_v, std_v)`` folded from the partial log with one keyed
    aggregate over ≤ keys × ingests rows.  ``mean_v`` = exact-decimal
    sum / non-null count; ``std_v`` = population std from the sum-of-
    squares identity, clamped at 0 against fp negativity — both rounded
    to 6 dp (cross-engine stable).  Keys whose values were all NULL
    report NULL sum/min/max/mean/std but keep their row counts."""
    merged, keys, _ = _AGG_LEDGER.read(spark, path)
    nn = F.col("nn")
    # exact decimal sums → double, then pure-double arithmetic: both
    # engines perform the identical IEEE operations on identical inputs
    mean = F.col("sum_v").cast("double") / nn
    var = F.col("sumsq_v").cast("double") / nn - mean * mean
    return merged.select(
        *keys,
        "cnt",
        "nn",
        F.col("sum_v").cast("double").alias("sum_v"),
        "min_v",
        "max_v",
        F.round(F.when(nn > 0, mean), 6).alias("mean_v"),
        F.round(F.when(nn > 0, F.sqrt(F.greatest(var, F.lit(0.0)))), 6).alias(
            "std_v"
        ),
    )


def compact_agg_ledger(spark, path: str, lock=False) -> None:
    """Fold the partial log back to ONE row per key (bounds merge-on-
    read cost after many ingests).  Reports before and after compaction
    are identical — the report reads the same fold, and decimal sums
    are order-independent.  Safe on a STOPPED stream's state, never on
    a live one (marker + landed manifest class,
    ``operators/ledger.py``); ``lock=`` enforces that against a
    concurrent batch writer."""
    _AGG_LEDGER.compact(spark, path, lock)


_HLL_LEDGER = StatsLedger(
    log="registers",
    meta_cols=("precision",),
    partials=lambda df, keys, meta: _group_registers(
        df, meta["value_col"], keys, meta["precision"]
    ),
    fold=lambda log, keys, meta: log.groupBy(*keys, "bucket").agg(
        F.max("reg").alias("reg")
    ),
)


def init_hll_ledger(
    df: DataFrame,
    key_cols: "Sequence[str]",
    value_col: str,
    path: str,
    precision: int = 10,
    lock=False,
) -> None:
    """Seed a persistent incremental DISTINCT-count ledger: per-key HLL
    registers maintained across ingest batches — the cardinality twin
    of :func:`init_agg_ledger` ("distinct users per source, updated
    per batch, never a corpus rescan").

    Layout at ``path`` (parquet): ``registers`` — an append-only log of
    ``(*key_cols, bucket, reg)`` register rows; ``meta`` — one row
    pinning (key_cols, value_col, precision).  Registers are
    MAX-mergeable (``_group_registers``): crash class no guard
    (``operators/ledger.py``) — a replayed append is HARMLESS, not
    just detected.  Report = fold + estimate; compact = fold-and-swap.
    ``lock=`` enforces single-writer discipline with a lease."""
    _HLL_LEDGER.init(df, key_cols, value_col, path, lock, precision=precision)


def hll_ledger_ingest(batch: DataFrame, path: str, lock=False) -> None:
    """Fold one batch into the distinct ledger: the batch's register
    rows appended — O(batch) hash aggregate, zero reads of prior
    state, and idempotent under replay (max-merge absorbs
    duplicates).  ``lock=`` serializes against a concurrent compaction
    swap — replay-idempotence protects against duplicate APPENDS, not
    against appending into a dir mid-swap."""
    _HLL_LEDGER.ingest(batch, path, lock)


def hll_ledger_report(spark, path: str) -> DataFrame:
    """Per-key distinct estimate from the ledger: fold the register log
    (``max(reg)`` per (keys, bucket) — exactly the registers ONE pass
    over the union of all ingests would produce, by max-mergeability)
    then the shared estimate fold.  Returns ``(*key_cols, m,
    nonzero_registers, estimate)`` — same columns and float discipline
    as :func:`hll_distinct_by`, so the same SQL oracle construction
    replays it."""
    folded, keys, meta = _HLL_LEDGER.read(spark, path)
    return _group_hll_estimate(folded, keys, meta["precision"])


def compact_hll_ledger(spark, path: str, lock=False) -> None:
    """Fold the register log to one row per (keys, bucket).  Reports
    before and after are identical (max is idempotent/associative).
    ``lock=`` serializes against concurrent appends."""
    _HLL_LEDGER.compact(spark, path, lock)
