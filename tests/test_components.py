"""connected_components (large-star/small-star) vs a Python union-find
oracle, plus the convergence properties that justify its existence:
diameter-independence (long chains) and the dedup_clusters parity.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from muller_spark.operators.components import connected_components
from muller_spark.operators.dedup import dedup_clusters


def _union_find(edges):
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # min member per component
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in parent}


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    out = connected_components(df, **kw)
    return {r["id"]: r["component"] for r in out.collect()}


@pytest.mark.parametrize("seed,n,m", [(1, 40, 25), (2, 60, 60), (3, 30, 90)])
def test_random_graphs_match_union_find(spark, seed, n, m):
    rng = random.Random(seed)
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    expect = _union_find(edges)
    got = _run(spark, edges)
    assert got == expect


def test_long_chain_is_diameter_independent(spark):
    # a 512-node chain has diameter 511: min-label would need 511
    # rounds; the star algorithm must converge within ~log2(512)+slack
    edges = [(i, i + 1) for i in range(511)]
    got = _run(spark, edges, max_rounds=15)
    assert got == {i: 0 for i in range(512)}


def test_two_components_and_self_loops(spark):
    edges = [(5, 3), (3, 9), (20, 21), (7, 7)]
    got = _run(spark, edges)
    # self-loop-only node 7 does not appear (documented contract)
    assert got == {3: 3, 5: 3, 9: 3, 20: 20, 21: 20}


def test_string_ids(spark):
    df = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string"
    )
    out = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert out == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src long, dst long")
    out = connected_components(df)
    assert out.columns == ["id", "component"]
    assert out.count() == 0


def test_nonconvergence_raises(spark):
    # max_rounds=0 exhausts the loop without ever converging
    df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_rounds=0)


def test_dedup_clusters_star_parity(spark):
    """dedup_clusters(algorithm='star') must label identically to the
    default min-label propagation on the same pair graph."""
    rng = random.Random(7)
    edges = [(rng.randrange(30), rng.randrange(30)) for _ in range(40)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    minlabel = {
        r["id"]: r["cluster_id"] for r in dedup_clusters(pairs).collect()
    }
    star = {
        r["id"]: r["cluster_id"]
        for r in dedup_clusters(pairs, algorithm="star").collect()
    }
    assert star == minlabel == _union_find(edges)


def test_dedup_clusters_rejects_unknown_algorithm(spark):
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    with pytest.raises(ValueError, match="algorithm"):
        dedup_clusters(pairs, algorithm="bogus")


def test_keep_list_star_passthrough(spark):
    """canonical_keep_list / canonical_keep_best / cluster_size_report
    accept algorithm='star' and agree with the min-label default."""
    from muller_spark.operators.dedup import (
        canonical_keep_best,
        canonical_keep_list,
        cluster_size_report,
    )

    rng = random.Random(61)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, 24)],  # one 25-node chain
        "id_a long, id_b long",
    )
    df = spark.createDataFrame(
        [(i, float(rng.randrange(100))) for i in range(30)],
        "doc_id long, score double",
    )
    for fn in (
        lambda alg: canonical_keep_list(df, pairs, "doc_id", algorithm=alg),
        lambda alg: canonical_keep_best(
            df, pairs, "doc_id", "score", algorithm=alg
        ),
        lambda alg: cluster_size_report(df, "doc_id", pairs, algorithm=alg),
    ):
        # the 25-node chain exceeds min-label's default 20-round cap —
        # 'star' must handle it where the default raises
        with pytest.raises(RuntimeError, match="did not converge"):
            fn("minlabel").collect()
        star = sorted(tuple(r) for r in fn("star").collect())
        assert star  # converged, non-empty


# ---------------------------------------------------------------------------
# incremental components ledger (round 11): equivalence vs full rerun under
# random ingest splits, replay absorption (the semilattice theorem), the
# labels-before-remaps crash window, empty seed, string ids, compaction
# ---------------------------------------------------------------------------

def _ledger_report(spark, path):
    from muller_spark.operators.components import components_ledger_report

    return {
        r["id"]: r["component"]
        for r in components_ledger_report(spark, path).collect()
    }


@pytest.mark.parametrize("seed,n,m,batches", [(7, 40, 30, 3), (8, 25, 60, 4)])
def test_components_ledger_matches_full_rerun(spark, tmp_path, seed, n, m,
                                              batches):
    import os

    from muller_spark.operators.components import (
        compact_components_ledger,
        components_ledger_ingest,
        init_components_ledger,
    )

    rng = random.Random(seed)
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(m)
    ]
    cut = sorted(rng.sample(range(1, m), batches - 1))
    parts = [edges[a:b] for a, b in zip([0] + cut, cut + [m])]
    path = os.path.join(str(tmp_path), "cl")
    init_components_ledger(
        spark.createDataFrame(parts[0], "src long, dst long"), path,
        buckets=8,
    )
    for p in parts[1:]:
        components_ledger_ingest(
            spark.createDataFrame(p, "src long, dst long"), path
        )
    truth = {
        k: v for k, v in _union_find(edges).items()
    }
    # self-loop-only nodes are excluded by both (contract)
    loops_only = {
        a for a, b in edges if a == b
    } - {x for a, b in edges if a != b for x in (a, b)}
    truth = {k: v for k, v in truth.items() if k not in loops_only}
    assert _ledger_report(spark, path) == truth
    compact_components_ledger(spark, path)
    assert _ledger_report(spark, path) == truth


def test_components_ledger_replay_absorbed(spark, tmp_path):
    import os

    from muller_spark.operators.components import (
        components_ledger_ingest,
        init_components_ledger,
    )

    path = os.path.join(str(tmp_path), "cl")
    init_components_ledger(
        spark.createDataFrame([(1, 0), (11, 10)], "src long, dst long"),
        path, buckets=4,
    )
    merge = spark.createDataFrame([(1, 10), (21, 20)], "src long, dst long")
    components_ledger_ingest(merge, path)
    want = {0: 0, 1: 0, 10: 0, 11: 0, 20: 20, 21: 20}
    assert _ledger_report(spark, path) == want
    components_ledger_ingest(merge, path)  # full replay: semilattice no-op
    assert _ledger_report(spark, path) == want
    # partial-overlap replay (different batch boundary) also absorbed
    components_ledger_ingest(
        spark.createDataFrame([(1, 10), (11, 0)], "src long, dst long"),
        path,
    )
    assert _ledger_report(spark, path) == want


def test_components_ledger_crash_window_heals(spark, tmp_path, monkeypatch):
    """Crash between the label append and the remap swap (the one
    ordered window): the report is transiently split, and REPLAYING
    the batch heals it — the contract the streaming twin rides."""
    import os

    import muller_spark.operators.components as comp_mod
    from muller_spark.operators.components import (
        components_ledger_ingest,
        init_components_ledger,
    )

    path = os.path.join(str(tmp_path), "cl")
    init_components_ledger(
        spark.createDataFrame([(1, 0), (11, 10)], "src long, dst long"),
        path, buckets=4,
    )
    batch = spark.createDataFrame(
        [(20, 10), (1, 10)], "src long, dst long"
    )
    real_swap = comp_mod._swap_log_dir

    def boom(live_dir):
        raise RuntimeError("simulated crash before remap swap")

    monkeypatch.setattr(comp_mod, "_swap_log_dir", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        components_ledger_ingest(batch, path)
    monkeypatch.setattr(comp_mod, "_swap_log_dir", real_swap)
    components_ledger_ingest(batch, path)  # the replay heals
    assert _ledger_report(spark, path) == {
        0: 0, 1: 0, 10: 0, 11: 0, 20: 0
    }


def test_components_ledger_empty_seed_and_string_ids(spark, tmp_path):
    import os

    from muller_spark.operators.components import (
        components_ledger_ingest,
        init_components_ledger,
    )

    path = os.path.join(str(tmp_path), "cl")
    init_components_ledger(
        spark.createDataFrame([], "src string, dst string"), path,
        buckets=4,
    )
    assert _ledger_report(spark, path) == {}
    components_ledger_ingest(
        spark.createDataFrame(
            [("b", "a"), ("c", "b"), ("z", "y")], "src string, dst string"
        ),
        path,
    )
    assert _ledger_report(spark, path) == {
        "a": "a", "b": "a", "c": "a", "y": "y", "z": "y"
    }


def test_components_ledger_stream_end_to_end(spark, tmp_path):
    """File-source stream of edge batches → ledger; restart with the
    same checkpoint continues; report equals the full-rerun labels."""
    import os

    import pyspark.sql.types as T

    from muller_spark.operators.components import (
        components_ledger_report,
        init_components_ledger,
    )
    from muller_spark.streaming.windows import (
        components_ledger_stream,
        stream_from_directory,
    )

    schema = T.StructType([
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
    ])
    src_dir = os.path.join(str(tmp_path), "src"); os.makedirs(src_dir)
    path = os.path.join(str(tmp_path), "cl")
    init_components_ledger(
        spark.createDataFrame([], "src long, dst long"), path, buckets=4
    )
    ckpt = os.path.join(str(tmp_path), "ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src_dir}/{name}")

    def drain():
        stream = stream_from_directory(spark, src_dir + "/*/", schema)
        q = components_ledger_stream(stream, path, ckpt, available_now=True)
        q.awaitTermination(120)

    write_batch("b1", [(1, 0), (11, 10)])
    drain()
    got = {
        r["id"]: r["component"]
        for r in components_ledger_report(spark, path).collect()
    }
    assert got == {0: 0, 1: 0, 10: 10, 11: 10}

    write_batch("b2", [(1, 11), (21, 20)])  # merge + new pair
    drain()  # same checkpoint: resume
    got = {
        r["id"]: r["component"]
        for r in components_ledger_report(spark, path).collect()
    }
    assert got == {0: 0, 1: 0, 10: 0, 11: 0, 20: 20, 21: 20}


# ---------------------------------------------------------------------------
# early exit: an edge set that already is a min-rooted star forest (the
# rounds' fixed point) runs no star round at all
# ---------------------------------------------------------------------------

def _count_large_star(monkeypatch):
    import muller_spark.operators.components as comp_mod

    calls = []
    real = comp_mod._large_star

    def counting(edges):
        calls.append(1)
        return real(edges)

    monkeypatch.setattr(comp_mod, "_large_star", counting)
    return calls


def test_star_forest_input_runs_zero_rounds(spark, monkeypatch):
    calls = _count_large_star(monkeypatch)
    # two stars rooted at their minima, given in both orientations
    edges = [(5, 1), (1, 7), (9, 1), (20, 10), (10, 30)]
    got = _run(spark, edges)
    assert calls == []
    assert got == _union_find(edges)
    # the cap is not hit when no round is needed
    assert _run(spark, edges, max_rounds=0) == got
    assert calls == []


@pytest.mark.parametrize("edges", [
    [(3, 2), (2, 1)],  # path: node 2 has both an out- and an in-edge
    [(5, 1), (5, 3)],  # node 5 has out-degree 2
], ids=["path", "out_degree_2"])
def test_non_star_input_runs_a_round(spark, monkeypatch, edges):
    calls = _count_large_star(monkeypatch)
    assert _run(spark, edges) == _union_find(edges)
    assert len(calls) >= 1


# ---------------------------------------------------------------------------
# the ledger rewrites its remap table only when a batch demotes an
# existing root
# ---------------------------------------------------------------------------

def _dir_bytes(root):
    import os

    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = fh.read()
    return out


def _count_swaps(monkeypatch):
    import muller_spark.operators.components as comp_mod

    calls = []
    real = comp_mod._swap_log_dir

    def counting(live_dir):
        calls.append(live_dir)
        return real(live_dir)

    monkeypatch.setattr(comp_mod, "_swap_log_dir", counting)
    return calls


def _cc_of(spark, batches):
    union = [e for b in batches for e in b]
    return _run(spark, union)


def test_components_ledger_attach_only_skips_remap_rewrite(
    spark, tmp_path, monkeypatch
):
    import os

    from muller_spark.operators.components import (
        components_ledger_ingest,
        init_components_ledger,
    )

    path = os.path.join(str(tmp_path), "cl")
    seed, bridge = [(1, 0), (11, 10)], [(1, 10)]
    init_components_ledger(
        spark.createDataFrame(seed, "src long, dst long"), path, buckets=4
    )
    # a bridge first, so the remap table is non-empty: {10 → 0}
    components_ledger_ingest(
        spark.createDataFrame(bridge, "src long, dst long"), path
    )
    remap_dir = os.path.join(path, "remaps")
    before = _dir_bytes(remap_dir)
    assert any(k.endswith(".parquet") for k in before)
    # new ids onto existing clusters: 2 → root 0, 12 → 11 → root 0,
    # 31 → 30 (both new)
    attach = [(2, 0), (12, 11), (31, 30)]
    swaps = _count_swaps(monkeypatch)
    components_ledger_ingest(
        spark.createDataFrame(attach, "src long, dst long"), path
    )
    assert swaps == []
    assert _dir_bytes(remap_dir) == before
    assert _ledger_report(spark, path) == _cc_of(spark, [seed, bridge, attach])


def test_components_ledger_bridge_swaps_remaps_once(
    spark, tmp_path, monkeypatch
):
    import os

    from muller_spark.operators.components import (
        components_ledger_ingest,
        init_components_ledger,
    )

    path = os.path.join(str(tmp_path), "cl")
    seed, bridge = [(1, 0), (11, 10), (21, 20)], [(11, 1), (22, 21)]
    init_components_ledger(
        spark.createDataFrame(seed, "src long, dst long"), path, buckets=4
    )
    swaps = _count_swaps(monkeypatch)
    components_ledger_ingest(
        spark.createDataFrame(bridge, "src long, dst long"), path
    )
    assert swaps == [os.path.join(path, "remaps")]
    remaps = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(path, "remaps")).collect()
    }
    assert remaps == {(10, 0)}  # the demoted root; 22 is a new id
    assert _ledger_report(spark, path) == _cc_of(spark, [seed, bridge])


def test_components_ledger_attach_ingest_job_budget(spark, tmp_path):
    """An attach-only ingest on a fixed tiny ledger stays within its
    Spark-job budget: the reduced graph already is a star forest (no
    star round), nothing is demoted (no remap rewrite) and every
    ledger read uses the pinned schema (no inference job).  The count
    is of driver actions, so it does not depend on the host."""
    import os

    from muller_spark.operators.components import (
        components_ledger_ingest,
        init_components_ledger,
    )

    path = os.path.join(str(tmp_path), "cl")
    init_components_ledger(
        spark.createDataFrame([(1, 0), (11, 10)], "src long, dst long"),
        path, buckets=4,
    )
    batch = spark.createDataFrame([(2, 0), (12, 11)], "src long, dst long")
    sc = spark.sparkContext
    group = f"components-ingest-budget-{id(batch)}"
    sc.setJobGroup(group, "attach-only components ledger ingest")
    try:
        components_ledger_ingest(batch, path)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # 28 jobs measured with this change (under AQE every materialized
    # query stage is its own job); the same ingest took 45 before the
    # star-forest exit, the remap-rewrite skip and the pinned-schema reads
    assert jobs <= 28
    assert _ledger_report(spark, path) == {
        0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10
    }
