"""Incremental EMBEDDING near-dup ledger (operators/dedup.py:
init_embedding_ledger / embedding_against_ledger /
embedding_pairs_against_ledger) — the semantic (cosine) member of the
ledger family, closing the modality matrix: text ingests through the
MinHash ledger, media fingerprints through the Hamming ledger, and
embeddings through this one.

Parity target: the batch-vs-ledger decision must equal the exact
cross-corpus cosine relation (unit-dot ≥ threshold) whenever SRP-LSH
recall is 1.0 — asserted here against a numpy brute-force replay on a
planted construction whose duplicate pairs sit at cosine ≥ 0.99 (where
the default 10×6 family's miss probability is < 1e-9 per pair), the
q_keep_best_lsh discipline applied to the embedding modality."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from muller_spark.operators.dedup import (  # noqa: E402
    embedding_against_ledger,
    embedding_pairs_against_ledger,
    init_embedding_ledger,
)

DIM = 16
THRESHOLD = 0.9


def _planted_matrix(seed: int = 7) -> "tuple[np.ndarray, np.ndarray]":
    """(ids, vectors): 6 families of 4 near-identical vectors (pairwise
    cosine ≥ 0.99 — tiny additive noise on a shared random direction)
    plus 8 singletons.  Ids interleave even/odd inside every family so
    the even/odd split always crosses family lines."""
    rng = np.random.default_rng(seed)
    rows, ids = [], []
    for fam in range(6):
        base = rng.normal(size=DIM)
        base /= np.linalg.norm(base)
        for v in range(4):
            noise = rng.normal(size=DIM) * 0.01
            rows.append(base + noise)
            ids.append(fam * 100 + v)
    for i in range(8):
        vec = rng.normal(size=DIM)
        rows.append(vec / np.linalg.norm(vec))
        ids.append(901 + i)
    return np.array(ids, dtype=np.int64), np.array(rows)


def _unit(mat: np.ndarray) -> np.ndarray:
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def _df(spark, ids, mat):
    return spark.createDataFrame(
        [(int(i), [float(x) for x in row]) for i, row in zip(ids, mat)],
        "vec_id long, embedding array<double>",
    )


def _brute_cross_dups(seed_ids, seed_mat, batch_ids, batch_mat):
    """Truth: batch ids with ≥1 seed vector at cosine ≥ THRESHOLD."""
    cos = _unit(batch_mat) @ _unit(seed_mat).T
    return {int(b) for k, b in enumerate(batch_ids) if (cos[k] >= THRESHOLD).any()}


@pytest.fixture(scope="module")
def corpus():
    return _planted_matrix()


def _split(ids, mat):
    even = ids % 2 == 0
    return (ids[even], mat[even]), (ids[~even], mat[~even])


def test_batch_decision_matches_exact_cross_relation(spark, corpus, tmp_path):
    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    out = embedding_against_ledger(
        _df(spark, oids, omat), "embedding", "vec_id", path,
        threshold=THRESHOLD, update=False,
    )
    got = {r["vec_id"] for r in out.collect()}
    dups = _brute_cross_dups(eids, emat, oids, omat)
    assert dups, "fixture must produce cross-split near-dups"
    assert got == set(int(i) for i in oids) - dups
    # survivors keep their original columns
    assert set(out.columns) == {"vec_id", "embedding"}


def test_pairs_view_matches_filter_decision(spark, corpus, tmp_path):
    """The pair view's id_a set IS the filter twin's reject set, every
    pair is a true cross-split dup, and cosines match numpy."""
    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    pairs = embedding_pairs_against_ledger(
        _df(spark, oids, omat), "embedding", "vec_id", path, threshold=THRESHOLD
    ).collect()
    dups = _brute_cross_dups(eids, emat, oids, omat)
    assert {r["id_a"] for r in pairs} == dups
    ue, uo = _unit(emat), _unit(omat)
    epos = {int(i): k for k, i in enumerate(eids)}
    opos = {int(i): k for k, i in enumerate(oids)}
    for r in pairs:
        want = float(uo[opos[r["id_a"]]] @ ue[epos[r["id_b"]]])
        assert r["cosine"] >= THRESHOLD
        assert abs(r["cosine"] - want) < 1e-9


def test_update_makes_next_batch_see_survivors(spark, corpus, tmp_path):
    """An admitted batch-1 vector rejects its batch-2 near-dup even
    though the SEED never contained either."""
    ids, mat = corpus
    (eids, emat), _ = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    rng = np.random.default_rng(99)
    fresh = rng.normal(size=DIM)
    fresh /= np.linalg.norm(fresh)
    assert not _brute_cross_dups(eids, emat, np.array([1]), fresh[None, :]), \
        "fresh direction must not collide with the seed"
    b1 = _df(spark, np.array([2001]), fresh[None, :])
    admitted = embedding_against_ledger(
        b1, "embedding", "vec_id", path, threshold=THRESHOLD, update=True
    )
    assert {r["vec_id"] for r in admitted.collect()} == {2001}
    b2 = _df(spark, np.array([2003]), (fresh + 0.01)[None, :])
    out = embedding_against_ledger(
        b2, "embedding", "vec_id", path, threshold=THRESHOLD, update=False
    )
    assert out.count() == 0  # rejected against the batch-1 admit


def test_replay_of_admitted_batch_rejects_itself(spark, corpus, tmp_path):
    """At-least-once ledger state: re-running an admitted batch rejects
    every row as a dup of its own prior append (the documented
    scheduler-retry semantics)."""
    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    batch = _df(spark, oids, omat)
    first = embedding_against_ledger(
        batch, "embedding", "vec_id", path, threshold=THRESHOLD, update=True
    )
    assert first.count() > 0
    replay = embedding_against_ledger(
        batch, "embedding", "vec_id", path, threshold=THRESHOLD, update=False
    )
    assert replay.count() == 0


def test_dry_run_leaves_ledger_untouched(spark, corpus, tmp_path):
    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    before = spark.read.parquet(os.path.join(path, "vectors")).count()
    embedding_against_ledger(
        _df(spark, oids, omat), "embedding", "vec_id", path,
        threshold=THRESHOLD, update=False,
    ).collect()
    assert spark.read.parquet(os.path.join(path, "vectors")).count() == before


def test_family_config_sniffed_from_meta(spark, corpus, tmp_path):
    """A non-default (num_planes, num_tables, seed) pinned at init is
    replayed from meta on query — the decision still matches brute
    force, so the batch was bucketed with the LEDGER's family, not the
    function defaults."""
    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(
        _df(spark, eids, emat), "embedding", "vec_id", path,
        num_planes=5, num_tables=9, seed=1234, dim=DIM,
    )
    meta = spark.read.parquet(os.path.join(path, "meta")).first()
    assert (meta["num_planes"], meta["num_tables"], meta["seed"]) == (5, 9, 1234)
    out = embedding_against_ledger(
        _df(spark, oids, omat), "embedding", "vec_id", path,
        threshold=THRESHOLD, update=False,
    )
    got = {r["vec_id"] for r in out.collect()}
    dups = _brute_cross_dups(eids, emat, oids, omat)
    assert got == set(int(i) for i in oids) - dups


def test_null_vector_raises(spark, corpus, tmp_path):
    ids, mat = corpus
    (eids, emat), _ = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    bad = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="NULL vector"):
        embedding_against_ledger(
            bad, "embedding", "vec_id", path, update=False
        ).collect()


def test_width_mismatch_raises(spark, corpus, tmp_path):
    """A batch whose vectors are narrower than the ledger's pinned dim
    raises loudly instead of silently mis-bucketing (the components
    id-type lesson applied to vector geometry)."""
    ids, mat = corpus
    (eids, emat), _ = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    bad = spark.createDataFrame(
        [(1, [1.0] * (DIM - 3))], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="width mismatch"):
        embedding_against_ledger(
            bad, "embedding", "vec_id", path, update=False
        ).collect()


def test_empty_init_requires_dim(spark, tmp_path):
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="dim"):
        init_embedding_ledger(
            empty, "embedding", "vec_id", str(tmp_path / "ledger")
        )


def test_lock_blocks_concurrent_writer(spark, corpus, tmp_path):
    """lock=True enforces the single-writer discipline with the
    ledger's lease (round-12 contract shared across the family)."""
    from muller_spark.operators.ledger import _writer_lease
    from muller_spark.versioning.locks import BranchLockedError

    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(
        _df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM, lock=True
    )
    batch = _df(spark, oids, omat)
    with _writer_lease(path, {"owner": "other-writer"}):
        with pytest.raises(BranchLockedError):
            embedding_against_ledger(
                batch, "embedding", "vec_id", path, update=True, lock=True
            )
        # dry-run is read-only: never takes the lease
        embedding_against_ledger(
            batch, "embedding", "vec_id", path, update=False, lock=True
        ).collect()
    # lease released: the mutation proceeds
    embedding_against_ledger(
        batch, "embedding", "vec_id", path, update=True, lock=True
    ).collect()


def test_no_cartesian_in_decision_plan(spark, corpus, tmp_path):
    """Candidates come from the (table, bucket)-keyed join — the plan
    must contain no cartesian/broadcast-nested-loop batch × corpus
    product."""
    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    pairs = embedding_pairs_against_ledger(
        _df(spark, oids, omat), "embedding", "vec_id", path, threshold=THRESHOLD
    )
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---------------------------------------------------------------------------
# streaming twin: embedding_dedup_stream / make_embedding_batch_handler
# ---------------------------------------------------------------------------

def _write_vec_batch(spark, src_dir, name, rows):
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src_dir}/{name}")


def _vlist(vec):
    return [float(x) for x in vec]


def test_embedding_stream_dedups_within_and_across_runs(spark, tmp_path):
    """Micro-batches drop semantic near-dups of the ledger, admit
    novelties, and a SECOND stream run (fresh checkpoint, same ledger)
    rejects near-dups of batch-1 survivors — restart durability for
    the embedding modality."""
    import glob as _glob

    import pyspark.sql.types as T

    from muller_spark.streaming.windows import (
        embedding_dedup_stream,
        stream_from_directory,
    )

    rng = np.random.default_rng(5)
    seed_vec = rng.normal(size=DIM); seed_vec /= np.linalg.norm(seed_vec)
    novel1 = rng.normal(size=DIM); novel1 /= np.linalg.norm(novel1)
    novel2 = rng.normal(size=DIM); novel2 /= np.linalg.norm(novel2)

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    src = str(tmp_path / "src"); os.makedirs(src)
    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")

    init_embedding_ledger(
        _df(spark, np.array([0]), seed_vec[None, :]),
        "embedding", "vec_id", ledger, dim=DIM,
    )

    _write_vec_batch(spark, src, "b1", [
        (1, _vlist(seed_vec + 0.005)),   # near-dup of the ledger seed
        (2, _vlist(novel1)),             # novel direction
        (3, None),                       # poison NULL row: dropped, not fatal
    ])

    def drain(ckpt):
        stream = stream_from_directory(spark, src + "/*/", schema)
        q = embedding_dedup_stream(
            stream, "embedding", "vec_id", ledger, out, ckpt,
            threshold=THRESHOLD, available_now=True,
        )
        q.awaitTermination(120)

    drain(str(tmp_path / "ckpt1"))
    landed = spark.read.parquet(*_glob.glob(out + "/ingest_run=*/ingest_batch=*"))
    assert {r["vec_id"] for r in landed.collect()} == {2}

    # run 2: a near-dup of batch-1's SURVIVOR must now be rejected
    _write_vec_batch(spark, src, "b2", [
        (4, _vlist(novel1 + 0.005)),     # near-dup of admitted vec 2
        (5, _vlist(novel2)),             # genuinely new
    ])
    drain(str(tmp_path / "ckpt2"))
    landed = spark.read.parquet(*_glob.glob(out + "/ingest_run=*/ingest_batch=*"))
    assert {r["vec_id"] for r in landed.collect()} == {2, 5}


def test_embedding_stream_replay_marker_skip_and_heal(spark, tmp_path):
    """Calling the handler twice with the same batch_id must not
    rewrite the landed output and must re-append ledger state (the
    heal window between land and append) — and decisions stay correct
    despite the duplicate ledger rows."""
    from muller_spark.streaming.windows import make_embedding_batch_handler

    rng = np.random.default_rng(6)
    seed_vec = rng.normal(size=DIM); seed_vec /= np.linalg.norm(seed_vec)
    fresh = rng.normal(size=DIM); fresh /= np.linalg.norm(fresh)

    ledger = str(tmp_path / "ledger")
    out = str(tmp_path / "out")
    init_embedding_ledger(
        _df(spark, np.array([0]), seed_vec[None, :]),
        "embedding", "vec_id", ledger, dim=DIM,
    )
    handler = make_embedding_batch_handler(
        "embedding", "vec_id", ledger, out, run_ns="testns",
        threshold=THRESHOLD,
    )
    handler(_df(spark, np.array([10]), fresh[None, :]), 0)
    landed_dir = f"{out}/ingest_run=testns/ingest_batch=0"
    first_mtime = os.path.getmtime(os.path.join(landed_dir, "_SUCCESS"))
    n_bucket_rows = spark.read.parquet(os.path.join(ledger, "buckets")).count()

    handler(_df(spark, np.array([10]), fresh[None, :]), 0)  # replay
    assert os.path.getmtime(
        os.path.join(landed_dir, "_SUCCESS")
    ) == first_mtime  # marker skip: output not rewritten
    n_after = spark.read.parquet(os.path.join(ledger, "buckets")).count()
    assert n_after > n_bucket_rows  # heal re-appended (duplicates harmless)

    out2 = embedding_against_ledger(
        _df(spark, np.array([11, 12]),
            np.stack([fresh + 0.005, rng.normal(size=DIM)])),
        "embedding", "vec_id", ledger, threshold=THRESHOLD, update=False,
    )
    assert {r["vec_id"] for r in out2.collect()} == {12}


# ---------------------------------------------------------------------------
# compaction: distinct-fold + crash-safe swap + recover-on-read
# ---------------------------------------------------------------------------

def test_compact_folds_heal_duplicates(spark, corpus, tmp_path):
    """A heal-replayed stream batch leaves duplicate bucket/vector
    rows; compact folds them to distinct and the decision is
    unchanged."""
    from muller_spark.operators.dedup import compact_embedding_ledger
    from muller_spark.streaming.windows import make_embedding_batch_handler

    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    handler = make_embedding_batch_handler(
        "embedding", "vec_id", path, str(tmp_path / "out"), run_ns="c",
        threshold=THRESHOLD,
    )
    rng = np.random.default_rng(11)
    fresh = rng.normal(size=DIM); fresh /= np.linalg.norm(fresh)
    handler(_df(spark, np.array([500]), fresh[None, :]), 0)
    handler(_df(spark, np.array([500]), fresh[None, :]), 0)  # heal replay
    buckets = os.path.join(path, "buckets")
    vectors = os.path.join(path, "vectors")
    nb, nv = (spark.read.parquet(buckets).count(),
              spark.read.parquet(vectors).count())
    assert nb > spark.read.parquet(buckets).distinct().count()
    compact_embedding_ledger(spark, path)
    assert spark.read.parquet(buckets).count() < nb
    assert spark.read.parquet(vectors).count() < nv
    # decision unchanged: near-dup of the healed admit still rejected
    out = embedding_against_ledger(
        _df(spark, np.array([501, 502]),
            np.stack([fresh + 0.005, rng.normal(size=DIM)])),
        "embedding", "vec_id", path, threshold=THRESHOLD, update=False,
    )
    assert {r["vec_id"] for r in out.collect()} == {502}


def test_compact_crash_heals_on_next_read(spark, corpus, tmp_path):
    """Simulate a crash inside the swap (live dir renamed away, fully
    written .compact sibling present): the next query heals the table
    and answers correctly instead of raising until manual repair."""
    import shutil

    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    buckets = os.path.join(path, "buckets")
    spark.read.parquet(buckets).distinct().write.mode("overwrite").parquet(
        buckets + ".compact"
    )
    os.rename(buckets, buckets + ".old")  # crash between the two renames
    out = embedding_against_ledger(
        _df(spark, oids, omat), "embedding", "vec_id", path,
        threshold=THRESHOLD, update=False,
    )
    got = {r["vec_id"] for r in out.collect()}
    dups = _brute_cross_dups(eids, emat, oids, omat)
    assert got == set(int(i) for i in oids) - dups
    assert os.path.isdir(buckets)
    assert not os.path.isdir(buckets + ".old")


def test_compact_lock_blocks_concurrent_writer(spark, corpus, tmp_path):
    from muller_spark.operators.ledger import _writer_lease
    from muller_spark.operators.dedup import compact_embedding_ledger
    from muller_spark.versioning.locks import BranchLockedError

    ids, mat = corpus
    (eids, emat), _ = _split(ids, mat)
    path = str(tmp_path / "ledger")
    init_embedding_ledger(_df(spark, eids, emat), "embedding", "vec_id", path, dim=DIM)
    with _writer_lease(path, {"owner": "other-writer"}):
        with pytest.raises(BranchLockedError):
            compact_embedding_ledger(spark, path, lock=True)
    compact_embedding_ledger(spark, path, lock=True)


# ---------------------------------------------------------------------------
# IncrementalSemanticDedupFlow: the O(batch) semantic chain end-to-end
# ---------------------------------------------------------------------------

def _directions(n, seed=21):
    rng = np.random.default_rng(seed)
    dirs = rng.normal(size=(n, DIM))
    return dirs / np.linalg.norm(dirs, axis=1)[:, None]


def test_semantic_flow_end_to_end(spark, tmp_path):
    """Seed → two ingests → labels → keep-list, with flow-level replay
    absorption: the embedding twin of the round-12 text facade."""
    from muller_spark.operators.flow import IncrementalSemanticDedupFlow

    A, B, C = _directions(3)
    flow = IncrementalSemanticDedupFlow(
        str(tmp_path / "flow"), "embedding", "vec_id",
        threshold=THRESHOLD, dim=DIM,
    )
    flow.init(_df(spark, np.array([2, 4]), np.stack([A, A + 0.005])))

    # batch 1: one near-dup of the seed family, one novel direction
    s1 = flow.ingest(_df(spark, np.array([11, 13]),
                         np.stack([A + 0.008, B])))
    assert {r["vec_id"] for r in s1.collect()} == {13}

    # batch 2: near-dup of batch-1's ADMITTED vector + a fresh one
    s2 = flow.ingest(_df(spark, np.array([21, 23]),
                         np.stack([B + 0.005, C])))
    assert {r["vec_id"] for r in s2.collect()} == {23}

    labels = {r["id"]: r["component"] for r in flow.labels().collect()}
    assert labels[2] == labels[4] == labels[11]
    assert labels[13] == labels[21]
    assert labels[13] != labels[2]
    assert 23 not in labels  # singleton: never paired

    # keep-list: highest score wins inside each cluster, singletons keep
    scored = spark.createDataFrame(
        [(2, 1.0), (4, 9.0), (11, 3.0), (13, 5.0), (21, 7.0), (23, 2.0)],
        "vec_id long, score double",
    )
    keep = {r["id"]: (r["keep_id"], r["keep"])
            for r in flow.keep_best(scored, "score").collect()}
    assert keep[4] == (4, True) and keep[2] == (4, False) and keep[11] == (4, False)
    assert keep[21] == (21, True) and keep[13] == (21, False)
    assert keep[23] == (23, True)

    # flow-level replay absorption: re-ingesting batch 2 changes nothing
    r = flow.ingest(_df(spark, np.array([21, 23]),
                        np.stack([B + 0.005, C])))
    assert r.count() == 0  # both reject against their own prior admits
    labels2 = {r["id"]: r["component"] for r in flow.labels().collect()}
    # 23 now pairs with its replayed self's ledger copy is NOT possible
    # (self-loops vanish in canonicalization); 21/13 unchanged
    assert {k: v for k, v in labels2.items() if k != 23} == labels

    flow.compact()  # folds both ledgers; reads still correct
    labels3 = {r["id"]: r["component"] for r in flow.labels().collect()}
    assert labels3 == labels2


def test_semantic_flow_stream_twin(spark, tmp_path):
    """The streaming handler maintains the same state as batch ingest:
    survivors land exactly-once, clusters fold per micro-batch, and a
    handler replay changes no label."""
    import glob as _glob

    from muller_spark.operators.flow import IncrementalSemanticDedupFlow
    from muller_spark.streaming.windows import (
        make_semantic_flow_batch_handler,
    )

    A, B = _directions(2, seed=22)
    root = str(tmp_path / "flow")
    flow = IncrementalSemanticDedupFlow(
        root, "embedding", "vec_id", threshold=THRESHOLD, dim=DIM,
    )
    flow.init(_df(spark, np.array([0]), A[None, :]))

    handler = make_semantic_flow_batch_handler(
        "embedding", "vec_id", root, run_ns="sns", threshold=THRESHOLD
    )
    handler(_df(spark, np.array([5, 7]),
                np.stack([A + 0.006, B])), 0)
    landed = spark.read.parquet(
        *_glob.glob(root + "/admitted/ingest_run=*/ingest_batch=*")
    )
    assert {r["vec_id"] for r in landed.collect()} == {7}
    labels = {r["id"]: r["component"] for r in flow.labels().collect()}
    assert labels[0] == labels[5] == 0

    handler(_df(spark, np.array([5, 7]),
                np.stack([A + 0.006, B])), 0)  # crash replay
    labels2 = {r["id"]: r["component"] for r in flow.labels().collect()}
    # replay absorption up to the documented nondeterminism: 7's replay
    # pairs with its own ledger copy → self-loop → vanishes; labels equal
    assert labels2 == labels
    landed2 = spark.read.parquet(
        *_glob.glob(root + "/admitted/ingest_run=*/ingest_batch=*")
    )
    assert {r["vec_id"] for r in landed2.collect()} == {7}  # marker skip


def test_init_dim_probe_skips_null_rows(spark, tmp_path):
    """dim inference must not trip over a NULL first row (driver-side
    len(None)); an all-NULL frame raises the clear dim= contract."""
    df = spark.createDataFrame(
        [(1, None), (2, [1.0] * DIM)], "vec_id long, embedding array<double>"
    )
    # the NULL row still fails the bucketing contract loudly...
    with pytest.raises(Exception, match="NULL vector"):
        init_embedding_ledger(
            df, "embedding", "vec_id", str(tmp_path / "a")
        )
    # ...but dim probing itself worked (the error is the kernel's, not
    # a len(None) TypeError), and an all-NULL frame names the fix
    allnull = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim="):
        init_embedding_ledger(
            allnull, "embedding", "vec_id", str(tmp_path / "b")
        )


# ---------------------------------------------------------------------------
# semantic decontamination: the embedding member of the decontamination
# family (bloom_decontaminate = exact n-gram; this = paraphrase leakage)
# ---------------------------------------------------------------------------

def test_cross_pairs_match_two_table_brute_force(spark, corpus):
    from muller_spark.operators.dedup import embedding_cross_pairs

    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    pairs = embedding_cross_pairs(
        _df(spark, oids, omat), _df(spark, eids, emat),
        "embedding", "vec_id", threshold=THRESHOLD, dim=DIM,
    ).collect()
    cos = _unit(omat) @ _unit(emat).T
    want = {
        (int(oids[i]), int(eids[j]))
        for i in range(len(oids)) for j in range(len(eids))
        if cos[i, j] >= THRESHOLD
    }
    assert {(r["id_a"], r["id_b"]) for r in pairs} == want
    assert want, "fixture must produce cross pairs"
    for r in pairs:
        assert r["cosine"] >= THRESHOLD


def test_semantic_decontaminate_drops_exactly_contaminated(spark, corpus):
    from muller_spark.operators.dedup import semantic_decontaminate

    ids, mat = corpus
    (eids, emat), (oids, omat) = _split(ids, mat)
    out = semantic_decontaminate(
        _df(spark, oids, omat), _df(spark, eids, emat),
        "embedding", "vec_id", threshold=THRESHOLD, dim=DIM,
    )
    got = {r["vec_id"] for r in out.collect()}
    dups = _brute_cross_dups(eids, emat, oids, omat)
    assert got == set(int(i) for i in oids) - dups
    assert set(out.columns) == {"vec_id", "embedding"}


def test_cross_pairs_empty_both_sides(spark):
    from muller_spark.operators.dedup import embedding_cross_pairs

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    out = embedding_cross_pairs(
        empty, empty, "embedding", "vec_id", threshold=0.9
    )
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cosine"]
