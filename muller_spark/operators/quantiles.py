"""Mergeable quantile summaries (deterministic MRL sketch).

The reference's ``statistics()`` computes exact medians by sorting
whole columns (`/root/reference/muller/core/dataset/statistics/statistics.py:49-97`)
— fine per-column on one node, impossible per-group at 100 TB.  The
scalable shape is a MERGEABLE bounded summary per group, the same
contract the HLL/CMS sketches in ``operators/aggregate.py`` give for
distinct-count and frequency: build bounded partials per partition,
shuffle only the partials, merge associatively.

This module implements the Manku–Rajagopalan–Lindsay (MRL-style)
multi-level summary with DETERMINISTIC alternating-offset compaction
(no randomness — the same input always yields the identical sketch,
which is what the driver's value-hash gate and restart-durable
pipelines need; KLL's random coin only improves the constant):

- a sketch is a set of levels; a value at level L carries weight 2^L;
- a level holding ≥ k values compacts: sort, keep every second value
  (offset alternates 0/1 per compaction at that level), promote the
  kept half one level up — rank error per compaction ≤ its weight, so
  the total rank error is ≤ N·log₂(n/k)/(2k)-ish (the classic MRL
  bound), tested empirically in tests/test_quantiles.py;
- merging two sketches = concatenating their levels, then compacting —
  associative and commutative up to the documented error bound.

Below the capacity (n ≤ k, no compaction ever fires) the sketch is the
raw sorted sample and every reported quantile is EXACT — the regime
the sf0.01 driver oracle certifies; the compaction regime is pinned by
rank-error property tests instead (an approximate answer has no
row-equal SQL oracle by construction).

Quantile definition (both regimes, and mirrored by the oracle SQL):
the reported value for φ is the element at rank ⌈φ·N⌉ (1-indexed,
clamped to ≥ 1) of the weighted sorted multiset — the "lower" discrete
quantile, never an interpolated value that exists in no row.
"""

from __future__ import annotations

import math
from collections.abc import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from muller_spark.operators.ledger import StatsLedger


class _MRL:
    """Deterministic multi-level quantile summary (driver/executor-side
    helper; never holds more than k·levels values)."""

    __slots__ = ("k", "levels", "offsets")

    def __init__(self, k: int):
        if k < 8:
            raise ValueError(f"k must be >= 8, got {k}")
        self.k = k
        self.levels: list[np.ndarray] = []
        self.offsets: list[int] = []  # next compaction offset per level

    def _ensure(self, lv: int) -> None:
        while len(self.levels) <= lv:
            self.levels.append(np.empty(0, dtype=np.float64))
            self.offsets.append(0)

    def add(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[~np.isnan(v)]
        if v.size == 0:
            return
        self._ensure(0)
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compact()

    def add_level(self, lv: int, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        if v.size == 0:
            return
        self._ensure(lv)
        self.levels[lv] = np.concatenate([self.levels[lv], v])
        self._compact()

    def merge(self, other: "_MRL") -> None:
        for lv, vals in enumerate(other.levels):
            self.add_level(lv, vals)

    def _compact(self) -> None:
        lv = 0
        while lv < len(self.levels):
            buf = self.levels[lv]
            if buf.size >= self.k:
                buf = np.sort(buf, kind="stable")
                off = self.offsets[lv]
                self.offsets[lv] = 1 - off
                pairs = (buf.size - off) // 2 * 2
                keep_tail = buf[off + pairs:]
                head = buf[:off]
                promoted = buf[off:off + pairs][::2]
                self.levels[lv] = np.concatenate([head, keep_tail])
                self._ensure(lv + 1)
                self.levels[lv + 1] = np.concatenate(
                    [self.levels[lv + 1], promoted]
                )
            lv += 1

    def rows(self) -> Iterator[tuple[int, float]]:
        for lv, vals in enumerate(self.levels):
            for x in vals:
                yield lv, float(x)

    def total_weight(self) -> int:
        return sum(int(v.size) << lv for lv, v in enumerate(self.levels))

    def quantiles(self, phis: Sequence[float]) -> list[tuple[float, float]]:
        items: list[tuple[float, int]] = []
        for lv, vals in enumerate(self.levels):
            w = 1 << lv
            items.extend((float(x), w) for x in vals)
        if not items:
            return []
        items.sort(key=lambda t: t[0])
        n = sum(w for _, w in items)
        out = []
        for phi in phis:
            target = max(1, math.ceil(phi * n))
            cum = 0
            for x, w in items:
                cum += w
                if cum >= target:
                    out.append((float(phi), x))
                    break
        return out


def _sketch_row_schema(src_fields) -> StructType:
    """Sketch row form ``(*group_cols, level int, value double)``."""
    return StructType(
        list(src_fields)
        + [
            StructField("level", IntegerType(), False),
            StructField("value", DoubleType(), False),
        ]
    )


def _merge_sketches(
    partials: DataFrame,
    keys: "list[str]",
    k: int,
    src_fields,
) -> DataFrame:
    """Per-key MRL merge of sketch rows (concatenate levels, compact),
    kept in the sketch row form — the second stage of
    :func:`quantile_sketch` and the quantile ledger's fold."""
    merge_keys = keys if keys else ["_g"]
    if not keys:
        # single global sketch: merge all partials in one group
        partials = partials.withColumn("_g", F.lit(0))

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        sk = _MRL(k)
        for lv in sorted(pdf["level"].unique()):
            sk.add_level(
                int(lv),
                pdf.loc[pdf["level"] == lv, "value"].to_numpy(np.float64),
            )
        out = pd.DataFrame(list(sk.rows()), columns=["level", "value"])
        for i, c in enumerate(keys):
            out.insert(i, c, pdf[c].iloc[0])
        out["level"] = out["level"].astype("int32")
        return out

    return (
        partials.groupBy(*merge_keys)
        .applyInPandas(merge_group, _sketch_row_schema(src_fields))
        .select(*keys, "level", "value")
    )


def quantile_sketch(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str] = (),
    k: int = 256,
) -> DataFrame:
    """Build a mergeable MRL quantile sketch per group.

    Returns sketch rows ``(*group_cols, level int, value double)`` —
    a value at ``level`` L represents 2^L original rows.  NULL/NaN
    values are dropped (they have no rank).

    Two-level build, the 100 TB shape: a ``mapInPandas`` pass holds one
    bounded sketch per group seen in its partition (state ≤ groups ×
    k·log₂(n/k) doubles — same per-partition-state contract as
    ``hll_distinct_by``) and emits only sketch rows, so the single
    shuffle moves partials, never raw rows; a per-group merge pass
    (``applyInPandas`` over the bounded partials) folds them into the
    final sketch.  No stage ever holds a full group in memory.
    """
    gcols = list(group_cols)
    src_fields = [df.schema[c] for c in gcols]
    out_schema = _sketch_row_schema(src_fields)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        sketches: dict[tuple, _MRL] = {}
        for pdf in batches:
            if gcols:
                for key, sub in pdf.groupby(gcols, dropna=False, sort=False):
                    key = key if isinstance(key, tuple) else (key,)
                    vals = pd.to_numeric(
                        sub[value_col], errors="coerce"
                    ).to_numpy(dtype=np.float64)
                    sketches.setdefault(tuple(key), _MRL(k)).add(vals)
            else:
                vals = pd.to_numeric(
                    pdf[value_col], errors="coerce"
                ).to_numpy(dtype=np.float64)
                sketches.setdefault((), _MRL(k)).add(vals)
        for key, sk in sketches.items():
            rows = list(sk.rows())
            if not rows:
                continue
            out = pd.DataFrame(rows, columns=["level", "value"])
            for i, c in enumerate(gcols):
                out.insert(i, c, key[i])
            out["level"] = out["level"].astype("int32")
            yield out

    partials = df.select(*gcols, value_col).mapInPandas(partial, out_schema)
    return _merge_sketches(partials, gcols, k, src_fields)


def quantile_values(
    sketch: DataFrame,
    quantiles: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Answer quantile queries from sketch rows: for each group and
    each φ, the value at weighted rank ⌈φ·N⌉ (lower discrete quantile).

    Pure DataFrame plan — one window over sketch rows (bounded: k·log n
    rows per group, NOT corpus rows), no collect."""
    from pyspark.sql import Window

    for phi in quantiles:
        if not 0.0 < phi <= 1.0:
            raise ValueError(f"quantiles must be in (0, 1], got {phi}")
    gcols = list(group_cols)
    weighted = sketch.select(
        *gcols, "value", (F.lit(2) ** F.col("level")).cast("long").alias("w")
    )
    w_order = (
        Window.partitionBy(*gcols).orderBy("value")
        .rowsBetween(Window.unboundedPreceding, 0)
        if gcols
        else Window.orderBy("value").rowsBetween(
            Window.unboundedPreceding, 0
        )
    )
    w_all = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    cum = weighted.select(
        *gcols,
        "value",
        F.sum("w").over(w_order).alias("cum"),
        F.sum("w").over(w_all).alias("n"),
    )
    qdf = cum.sparkSession.createDataFrame(
        [(float(p),) for p in quantiles], "q double"
    )
    hits = (
        cum.crossJoin(F.broadcast(qdf))
        .where(
            F.col("cum")
            >= F.greatest(F.lit(1), F.ceil(F.col("q") * F.col("n")))
        )
        .groupBy(*gcols, "q")
        .agg(F.min("value").alias("value"))
    )
    return hits.select(*gcols, "q", "value")


def quantile_report(
    df: DataFrame,
    value_col: str,
    quantiles: Sequence[float],
    group_cols: Sequence[str] = (),
    k: int = 256,
) -> DataFrame:
    """Convenience: :func:`quantile_sketch` → :func:`quantile_values`.

    Exact when every group holds ≤ k non-null rows (no compaction);
    within the MRL rank-error bound otherwise."""
    sk = quantile_sketch(df, value_col, group_cols=group_cols, k=k)
    return quantile_values(sk, quantiles, group_cols=group_cols)


# ---------------------------------------------------------------------------
# incremental quantile ledger — the third leg of the incremental-statistics
# family (scalars: agg ledger; distinct: HLL ledger; quantiles: this)
# ---------------------------------------------------------------------------

_QUANTILE_LEDGER = StatsLedger(
    log="sketches",
    meta_cols=("k",),
    partials=lambda df, keys, meta: quantile_sketch(
        df, meta["value_col"], group_cols=keys, k=int(meta["k"])
    ),
    fold=lambda log, keys, meta: _merge_sketches(
        log, keys, int(meta["k"]), [log.schema[c] for c in keys]
    ),
)


def init_quantile_ledger(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    path: str,
    k: int = 256,
    lock=False,
) -> None:
    """Seed a persistent incremental QUANTILE ledger: per-key MRL
    sketch rows maintained across ingest batches.

    Layout at ``path`` (parquet): ``sketches`` — an append-only log of
    ``(*key_cols, level, value)`` sketch rows (a value at level L
    weighs 2^L); ``meta`` — one row pinning (key_cols, value_col, k).
    Sketches merge by concatenation + compaction (the MRL merge), so
    ingest = one bounded partial-sketch build of the batch appended to
    the log — O(batch), zero reads of prior state.  Sketch rows are
    weight-carrying (a replayed append double-weights its batch):
    crash class marker + landed manifest (``operators/ledger.py``).

    Report = per-key fold of the log (≤ keys × ingests × k·log n rows)
    + weighted-rank answers; exact while a key's total row count stays
    ≤ k, within the documented MRL rank-error bound after.  ``lock=``
    enforces the single-writer discipline with a lease."""
    _QUANTILE_LEDGER.init(df, key_cols, value_col, path, lock, k=k)


def quantile_ledger_ingest(batch: DataFrame, path: str, lock=False) -> None:
    """Fold one batch into the quantile ledger: the batch's own
    bounded sketch rows appended (grouping/k sniffed from meta).
    ``lock=`` opts into the enforced single-writer lease — a racing
    retry of the same batch double-weights it silently otherwise."""
    _QUANTILE_LEDGER.ingest(batch, path, lock)


def quantile_ledger_report(
    spark,
    path: str,
    quantiles: Sequence[float],
) -> DataFrame:
    """Per-key quantiles from the ledger: fold the sketch log per key,
    then weighted-rank answers — ``(*key_cols, q, value)``, same
    definition and float discipline as :func:`quantile_values`."""
    folded, keys, _ = _QUANTILE_LEDGER.read(spark, path)
    return quantile_values(folded, quantiles, group_cols=keys)


def compact_quantile_ledger(spark, path: str, lock=False) -> None:
    """Fold the sketch log to one sketch per key.  Post-compaction
    reports equal pre-compaction reports EXACTLY when no key has ever
    compacted (raw level-0 rows just concatenate), and stay within the
    MRL bound otherwise.  ``lock=`` enforces the
    no-compact-while-ingesting discipline with a lease."""
    _QUANTILE_LEDGER.compact(spark, path, lock)
