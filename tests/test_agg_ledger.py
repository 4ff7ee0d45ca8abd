"""Incremental aggregate ledger: batch-split invariance (the whole
point — any ingest split reports identically to a one-shot aggregate),
compaction equivalence, NULL handling, and the meta sniff contract."""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from muller_spark.operators.aggregate import (
    agg_ledger_ingest,
    agg_ledger_report,
    compact_agg_ledger,
    init_agg_ledger,
)


def _report_dict(spark, path):
    return {
        r["g"]: (
            r["cnt"], r["nn"], r["sum_v"], r["min_v"], r["max_v"],
            r["mean_v"], r["std_v"],
        )
        for r in agg_ledger_report(spark, path).collect()
    }


def _expected(rows):
    by_g: dict = {}
    for g, v in rows:
        by_g.setdefault(g, []).append(v)
    out = {}
    for g, vals in by_g.items():
        nn = [v for v in vals if v is not None]
        if nn:
            mean = sum(nn) / len(nn)
            var = max(sum(v * v for v in nn) / len(nn) - mean * mean, 0.0)
            out[g] = (
                len(vals), len(nn), float(sum(nn)), float(min(nn)),
                float(max(nn)), round(mean, 6), round(math.sqrt(var), 6),
            )
        else:
            out[g] = (len(vals), 0, None, None, None, None, None)
    return out


def test_split_invariance_and_compaction(spark, tmp_path):
    rng = random.Random(31)
    rows = [
        (f"g{rng.randrange(6)}", float(rng.randrange(10000)))
        for _ in range(900)
    ]
    path = os.path.join(str(tmp_path), "ledger")
    df = spark.createDataFrame(rows, "g string, v double")
    init_agg_ledger(df.limit(0), ["g"], "v", path)  # empty seed
    # ingest in 5 uneven batches
    cuts = [0, 100, 350, 500, 880, 900]
    for a, b in zip(cuts, cuts[1:]):
        agg_ledger_ingest(
            spark.createDataFrame(rows[a:b], "g string, v double"), path
        )
    got = _report_dict(spark, path)
    assert got == _expected(rows)
    # compaction folds the log to one row per key and changes nothing
    compact_agg_ledger(spark, path)
    n_partials = spark.read.parquet(os.path.join(path, "partials")).count()
    assert n_partials == len({g for g, _ in rows})
    assert _report_dict(spark, path) == got
    # post-compaction ingest still appends cleanly (schema stable)
    agg_ledger_ingest(
        spark.createDataFrame([("g0", 1.0)], "g string, v double"), path
    )
    got2 = _report_dict(spark, path)
    assert got2 == _expected(rows + [("g0", 1.0)])


def test_nulls_and_all_null_keys(spark, tmp_path):
    path = os.path.join(str(tmp_path), "ledger")
    rows = [("a", 2.0), ("a", None), ("b", None), ("b", None)]
    df = spark.createDataFrame(rows, "g string, v double")
    init_agg_ledger(df, ["g"], "v", path)
    got = _report_dict(spark, path)
    assert got["a"] == (2, 1, 2.0, 2.0, 2.0, 2.0, 0.0)
    assert got["b"] == (2, 0, None, None, None, None, None)


def test_meta_sniff_ignores_caller_assumptions(spark, tmp_path):
    """Ingest derives key/value columns from the artifact's meta, so a
    batch with extra columns folds on the pinned grouping."""
    path = os.path.join(str(tmp_path), "ledger")
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    init_agg_ledger(df, ["g"], "v", path)
    batch = spark.createDataFrame(
        [("a", 3.0, "noise")], "g string, v double, extra string"
    )
    agg_ledger_ingest(batch, path)
    assert _report_dict(spark, path)["a"][:3] == (2, 2, 4.0)


def test_init_refuses_existing_path(spark, tmp_path):
    path = os.path.join(str(tmp_path), "ledger")
    df = spark.createDataFrame([("a", 1.0)], "g string, v double")
    init_agg_ledger(df, ["g"], "v", path)
    with pytest.raises(Exception):
        init_agg_ledger(df, ["g"], "v", path)


# ---------------------------------------------------------------------------
# streaming twin: exactly-once partial landing (marker skip, no heal —
# aggregate partials are NOT duplicate-tolerant, unlike posting rows)
# ---------------------------------------------------------------------------

def test_agg_ledger_stream_folds_batches_and_restarts(spark, tmp_path):
    import glob as _glob

    import pyspark.sql.types as T

    from muller_spark.streaming.windows import (
        agg_ledger_stream,
        stream_from_directory,
    )

    schema = T.StructType([
        T.StructField("g", T.StringType()),
        T.StructField("v", T.DoubleType()),
    ])
    src = os.path.join(str(tmp_path), "src"); os.makedirs(src)
    ledger = os.path.join(str(tmp_path), "ledger")
    init_agg_ledger(
        spark.createDataFrame([("a", 1.0)], "g string, v double"),
        ["g"], "v", ledger,
    )

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    def drain(ckpt):
        stream = stream_from_directory(spark, src + "/*/", schema)
        q = agg_ledger_stream(stream, ledger, ckpt, available_now=True)
        q.awaitTermination(120)

    write_batch("b1", [("a", 3.0), ("b", 10.0)])
    drain(os.path.join(str(tmp_path), "ckpt1"))
    got = _report_dict(spark, ledger)
    assert got == _expected([("a", 1.0), ("a", 3.0), ("b", 10.0)])

    # second run, fresh checkpoint: b1 re-read would double-count —
    # the fresh run namespace lands it under new batch dirs, so feed
    # only the new batch through a source glob the old run also saw
    write_batch("b2", [("b", 20.0)])
    drain(os.path.join(str(tmp_path), "ckpt1"))  # SAME checkpoint: resume
    got = _report_dict(spark, ledger)
    assert got == _expected(
        [("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 20.0)]
    )
    # landed batch dirs carry markers
    assert _glob.glob(
        os.path.join(ledger, "partials", "ingest_run=*", "ingest_batch=*",
                     "_SUCCESS")
    )


def test_agg_ledger_stream_replay_is_exactly_once(spark, tmp_path):
    """Replaying a batch_id must NOT double-count: the marker makes the
    handler a no-op, and the report is unchanged."""
    from muller_spark.streaming.windows import make_agg_ledger_batch_handler

    ledger = os.path.join(str(tmp_path), "ledger")
    init_agg_ledger(
        spark.createDataFrame([("a", 1.0)], "g string, v double"),
        ["g"], "v", ledger,
    )
    handler = make_agg_ledger_batch_handler(ledger, run_ns="testns")
    batch = spark.createDataFrame(
        [("a", 5.0), ("c", 7.0)], "g string, v double"
    )
    handler(batch, 0)
    expect = _expected([("a", 1.0), ("a", 5.0), ("c", 7.0)])
    assert _report_dict(spark, ledger) == expect
    handler(batch, 0)  # crash-replay of the same micro-batch
    assert _report_dict(spark, ledger) == expect  # no double count
    # compaction after streaming folds everything and keeps the report
    compact_agg_ledger(spark, ledger)
    assert _report_dict(spark, ledger) == expect
    # THE r10-ADVICE hazard: the stream stopped after landing batch 0
    # but before its checkpoint commit; compaction dropped the batch
    # subdir's _SUCCESS marker (folded to flat files) — a restart
    # replays batch 0, which must STILL be a no-op because the landed
    # manifest survives compaction
    handler(batch, 0)
    assert _report_dict(spark, ledger) == expect
    # and a genuinely new batch after compaction still ingests
    handler(spark.createDataFrame([("c", 3.0)], "g string, v double"), 1)
    assert _report_dict(spark, ledger) == _expected(
        [("a", 1.0), ("a", 5.0), ("c", 7.0), ("c", 3.0)]
    )


def test_agg_ledger_marker_without_manifest_heals(spark, tmp_path):
    """Crash between the partial write and the manifest write: the
    replay must skip the rewrite (marker) AND record the manifest
    entry, so a later compaction + second replay stays exactly-once."""
    import glob as _glob

    from muller_spark.streaming.windows import make_agg_ledger_batch_handler

    ledger = os.path.join(str(tmp_path), "ledger")
    init_agg_ledger(
        spark.createDataFrame([("a", 1.0)], "g string, v double"),
        ["g"], "v", ledger,
    )
    handler = make_agg_ledger_batch_handler(ledger, run_ns="healns")
    batch = spark.createDataFrame([("a", 5.0)], "g string, v double")
    handler(batch, 0)
    # simulate the crash: delete the manifest entry, keep the marker
    (manifest,) = _glob.glob(os.path.join(ledger, "landed", "healns_0"))
    os.remove(manifest)
    expect = _expected([("a", 1.0), ("a", 5.0)])
    handler(batch, 0)  # replay: marker skip + manifest heal
    assert _report_dict(spark, ledger) == expect
    assert os.path.exists(manifest)
    compact_agg_ledger(spark, ledger)
    handler(batch, 0)  # post-compaction replay rides the healed manifest
    assert _report_dict(spark, ledger) == expect


def test_recover_log_swap_finishes_interrupted_compaction(spark, tmp_path):
    """Crash between the two renames of the compaction swap: the live
    log dir is missing, the .compact dir is complete — the next report
    must self-heal instead of failing on a missing path."""
    import shutil

    from muller_spark.operators.ledger import _recover_log_swap  # noqa: F401

    ledger = os.path.join(str(tmp_path), "ledger")
    init_agg_ledger(
        spark.createDataFrame(
            [("a", 1.0), ("b", 2.0)], "g string, v double"
        ),
        ["g"], "v", ledger,
    )
    expect = _expected([("a", 1.0), ("b", 2.0)])
    part = os.path.join(ledger, "partials")
    # simulate: compaction wrote .compact fully, then crashed mid-swap
    # (live dir already renamed away, replacement not yet promoted)
    shutil.copytree(part, part + ".compact")
    os.rename(part, part + ".old")
    assert _report_dict(spark, ledger) == expect  # report self-heals
    assert os.path.isdir(part)
    assert not os.path.isdir(part + ".old")
    assert not os.path.isdir(part + ".compact")


# ---------------------------------------------------------------------------
# HLL distinct ledger: register max-merge makes split/replay/compaction
# all exactly equivalent to a one-shot hll_distinct_by
# ---------------------------------------------------------------------------

def _hll_report_rows(spark, path):
    from muller_spark.operators.aggregate import hll_ledger_report

    return sorted(
        tuple(r) for r in hll_ledger_report(spark, path).collect()
    )


def test_hll_ledger_split_replay_compact_equivalence(spark, tmp_path):
    import random

    from muller_spark.operators.aggregate import (
        compact_hll_ledger,
        hll_distinct_by,
        hll_ledger_ingest,
        init_hll_ledger,
    )

    rng = random.Random(59)
    rows = [
        (f"g{rng.randrange(4)}", f"item{rng.randrange(500)}")
        for _ in range(3000)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    oneshot = sorted(
        tuple(r) for r in hll_distinct_by(df, "v", ["g"], precision=8).collect()
    )

    path = os.path.join(str(tmp_path), "hll")
    init_hll_ledger(
        spark.createDataFrame(rows[:1000], "g string, v string"),
        ["g"], "v", path, precision=8,
    )
    for a, b in ((1000, 2200), (2200, 3000)):
        hll_ledger_ingest(
            spark.createDataFrame(rows[a:b], "g string, v string"), path
        )
    assert _hll_report_rows(spark, path) == oneshot  # split invariance

    # replaying an ingest is HARMLESS (max-merge absorbs duplicates) —
    # the strongest crash class in the ledger family
    hll_ledger_ingest(
        spark.createDataFrame(rows[1000:2200], "g string, v string"), path
    )
    assert _hll_report_rows(spark, path) == oneshot

    compact_hll_ledger(spark, path)
    n = spark.read.parquet(os.path.join(path, "registers")).count()
    distinct_pairs = (
        spark.read.parquet(os.path.join(path, "registers"))
        .select("g", "bucket").distinct().count()
    )
    assert n == distinct_pairs  # folded to one row per (key, bucket)
    assert _hll_report_rows(spark, path) == oneshot

    # post-compaction ingest still folds in
    hll_ledger_ingest(
        spark.createDataFrame([("g0", "brand-new-item")], "g string, v string"),
        path,
    )
    est = {
        r[0]: r[3]
        for r in _hll_report_rows(spark, path)
    }
    base = {r[0]: r[3] for r in oneshot}
    assert est["g0"] >= base["g0"]  # new item can only raise the estimate


def test_hll_ledger_meta_pins_family(spark, tmp_path):
    from muller_spark.operators.aggregate import (
        hll_ledger_ingest,
        hll_ledger_report,
        init_hll_ledger,
    )

    path = os.path.join(str(tmp_path), "hll")
    init_hll_ledger(
        spark.createDataFrame([("a", "x")], "g string, v string"),
        ["g"], "v", path, precision=6,
    )
    # a batch with extra columns folds on the pinned (keys, value)
    hll_ledger_ingest(
        spark.createDataFrame(
            [("a", "y", 1.0)], "g string, v string, noise double"
        ),
        path,
    )
    row = hll_ledger_report(spark, path).collect()[0]
    assert row["m"] == 64  # precision sniffed from meta, not caller
