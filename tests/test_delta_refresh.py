"""Change records, delta index refresh and the crash-safe posting table.

- Commits and merges record, relative to their first parent, whether
  row ids stayed stable and which tensors had cells edited
  (``Snapshot.extra``); ``update_index`` / ``update_vector_index`` route
  on that record: noop, delta or rebuild.
- ``InvertedIndex.update`` appends the delta's posting and docstats
  files; a crash between the append and the manifest write heals on
  the retry, and a crash inside a table swap heals on the next mutation
  (or ``recover()``), never on a read.
- Memoized posting reads re-open when another instance moved the
  manifest.
- Cell edits are batched into one projection at flush.
"""

from __future__ import annotations

import contextlib
import logging
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from muller_spark import dataset as ds_mod
from muller_spark.index import inverted as inv_mod
from muller_spark.index.inverted import InvertedIndex

DIM, CLUSTERS = 8, 16


def _clustered(n: int, seed: int = 3):
    """Row i lies near centre i % CLUSTERS; the centres are far apart."""
    rng = np.random.default_rng(seed)
    centres = rng.normal(0.0, 10.0, (CLUSTERS, DIM))
    vecs = centres[np.arange(n) % CLUSTERS] + rng.normal(0.0, 0.5, (n, DIM))
    return centres, vecs


def _vector_ds(spark, path, index_type, n=400):
    centres, vecs = _clustered(n)
    ds = ds_mod.dataset(path, spark)
    ds.create_tensor("emb", htype="embedding")
    ds.extend({"emb": [[float(x) for x in v] for v in vecs]})
    ds.commit("base")
    hyper = {"nlist": CLUSTERS, "nprobe": 1}
    if index_type == "IVFPQ":
        hyper.update(num_subspaces=4, codebook_size=16, refine=8)
    if index_type == "DISKANN":
        hyper = {"num_cells": CLUSTERS, "R": 8}
    ds.create_vector_index("emb", index_type=index_type, **hyper)
    return ds, centres, vecs


def _top1(ds, q):
    row = ds.vector_search([float(x) for x in q], "emb", topk=1).collect()[0]
    return row["id"], row["distance"]


# one family per artifact layout: IVF assign, IVFPQ codes, disk graph
FAMILIES = ["IVFFLAT", "IVFPQ", "DISKANN"]


@pytest.mark.parametrize("index_type", FAMILIES)
def test_vector_index_fresh_after_edit(spark, tmp_path, index_type):
    """An in-place edit moves row 5 into another cluster: the refresh
    rebuilds (ids stable, but ``emb`` edited), so the index finds it at
    distance 0."""
    ds, centres, _ = _vector_ds(spark, str(tmp_path / "v"), index_type)
    target = centres[(5 % CLUSTERS) + 7]
    ds[5] = {"emb": [float(x) for x in target]}
    ds.commit("move row 5")
    assert ds._snapshot.extra == {"ids_stable": True, "edited": ["emb"]}
    ds.update_vector_index("emb")
    rid, dist = _top1(ds, target)
    assert rid == 5 and dist == pytest.approx(0.0, abs=1e-4)


@pytest.mark.parametrize("index_type", FAMILIES)
def test_vector_index_fresh_after_pop(spark, tmp_path, index_type):
    """``pop(0)`` renumbers every row: the refresh rebuilds, and a query
    equal to a stored vector returns that row at distance 0."""
    ds, _, vecs = _vector_ds(spark, str(tmp_path / "v"), index_type)
    ds.pop(0)
    ds.commit("pop the first row")
    assert ds._snapshot.extra["ids_stable"] is False
    ds.update_vector_index("emb")
    # vecs[101] is now row 100
    rid, dist = _top1(ds, vecs[101])
    assert rid == 100 and dist == pytest.approx(0.0, abs=1e-4)


# -- refresh routes and their log record -------------------------------------


def _routes(caplog):
    return [
        (r.operator, r.route) for r in caplog.records
        if r.name == "muller_spark" and hasattr(r, "route")
    ]


@pytest.fixture()
def flat_ds(spark, tmp_path):
    ds = ds_mod.dataset(str(tmp_path / "flat"), spark)
    ds.create_tensor("emb", htype="embedding")
    ds.create_tensor("text", htype="text")
    ds.extend({"emb": [[float(i), 1.0] for i in range(6)],
               "text": [f"doc {i}" for i in range(6)]})
    ds.commit("base")
    ds.create_vector_index("emb", index_type="FLAT")
    return ds


@pytest.mark.parametrize("change,route", [
    ("none", "noop"),
    ("append", "delta"),
    ("edit", "rebuild"),
    ("pop", "rebuild"),
])
def test_refresh_route_is_logged(flat_ds, caplog, change, route):
    ds = flat_ds
    if change == "append":
        ds.extend({"emb": [[9.0, 9.0]], "text": ["new"]})
    elif change == "edit":
        ds[2] = {"emb": [7.0, 7.0]}
    elif change == "pop":
        ds.pop(1)
    if change != "none":
        ds.commit(change)
    caplog.set_level(logging.INFO, logger="muller_spark")
    ds.update_vector_index("emb")
    assert _routes(caplog) == [("update_vector_index", route)]
    (rec,) = [r for r in caplog.records if hasattr(r, "route")]
    assert rec.tensor == "emb" and rec.head_commit == ds.commit_id
    assert rec.reason


def test_refresh_route_without_change_record_rebuilds(flat_ds, caplog):
    """A snapshot written without a change record (older datasets) is
    treated as 'anything may have changed'."""
    ds = flat_ds
    ds.extend({"emb": [[9.0, 9.0]], "text": ["new"]})
    ds.commit("append")
    snap = ds._snapshot
    snap.extra = {}
    ds.log._write_snapshot(snap)
    ds.reset()
    caplog.set_level(logging.INFO, logger="muller_spark")
    ds.update_vector_index("emb")
    assert _routes(caplog) == [("update_vector_index", "rebuild")]


# -- the lake round: merge jobs and the refresh route ----------------------


def _job_count(spark, fn):
    sc = spark.sparkContext
    group = f"delta-refresh-{id(fn)}"
    sc.setJobGroup(group, "counted")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _lake_frame(spark, rng, start, n):
    words = [f"w{i}" for i in range(40)]
    rows = [
        (start + i, " ".join(rng.choice(words, 6)), int(rng.integers(0, 4)),
         float(rng.random()), [float(x) for x in rng.normal(size=4)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows, "key long, text string, label long, score double, emb array<float>"
    )


def test_lake_round_merges_once_and_refreshes_the_delta(spark, tmp_path, monkeypatch):
    """The bench's lake round at its tiny sizes (300 rows, 5 edits and
    40 appends per branch, merge with ``both``): the merge's job count
    is pinned, the merge records ids-stable with ``score`` edited, and
    the refresh appends the delta — no ``InvertedIndex.build`` call."""
    rng = np.random.default_rng(7)
    ds = ds_mod.dataset(str(tmp_path / "lake"), spark)
    for name, htype, dtype in (("key", "generic", "int64"), ("text", "text", None),
                               ("label", "generic", "int64"),
                               ("score", "generic", "float64"),
                               ("emb", "embedding", None)):
        ds.create_tensor(name, htype=htype, dtype=dtype)
    ds.extend_df(_lake_frame(spark, rng, 0, 300))
    ds.commit("initial load")
    ds.create_index_vectorized("text", positions=True)
    ds.create_vector_index("emb", index_type="IVFFLAT", metric="l2", nlist=4)

    ds.checkout("dev", create=True)
    edits = {int(i): float(rng.random()) for i in rng.choice(300, 5, replace=False)}
    for i, v in edits.items():
        ds[i] = {"score": v}
    ds.extend_df(_lake_frame(spark, rng, 1000, 40))
    ds.commit("dev edit+append")
    ds.checkout("main")
    ds.extend_df(_lake_frame(spark, rng, 2000, 40))
    ds.commit("main append")

    jobs = _job_count(spark, lambda: ds.merge("dev", append_resolution="both"))
    # 12 jobs measured with this change on a 4-core session: the census
    # and the write share one evaluation of the cached 3-way join, the
    # numbering is arithmetic and no snapshot read infers a schema (the
    # same merge ran 24 before)
    assert jobs <= 14
    assert ds._snapshot.extra == {"ids_stable": True, "edited": ["score"]}
    assert ds._snapshot.row_count == ds.df.count() == 380
    got = {r["key"]: r["score"] for r in ds.df.filter(F.col("key") < 300).collect()}
    assert all(got[i] == v for i, v in edits.items())

    builds = []
    real = InvertedIndex.build.__func__
    monkeypatch.setattr(InvertedIndex, "build", classmethod(
        lambda cls, *a, **k: builds.append(1) or real(cls, *a, **k)))
    ds.update_index("text")
    ds.update_vector_index("emb")
    assert builds == []
    # the refreshed index equals a fresh build over the merged table
    fresh = real(InvertedIndex, ds.df, "text", str(tmp_path / "fresh"),
                 positions=True)
    idx = ds._load_index("text")
    assert idx.manifest["n_postings"] == fresh.manifest["n_postings"]
    for q in ("w1 w2", "w7", "w3 w30"):
        assert sorted(map(tuple, idx.bm25(q, k=20).collect())) == \
            sorted(map(tuple, fresh.bm25(q, k=20).collect()))


def test_merge_with_pops_records_renumbering(spark, tmp_path):
    ds = ds_mod.dataset(str(tmp_path / "m"), spark)
    ds.create_tensor("x", dtype="int64")
    ds.extend({"x": list(range(10))})
    ds.commit("base")
    ds.checkout("dev", create=True)
    ds.pop(3)
    ds.extend({"x": [100]})
    ds.commit("dev")
    ds.checkout("main")
    ds.extend({"x": [200, 201]})
    ds.commit("main")
    ds.merge("dev", append_resolution="both", pop_resolution="theirs")
    assert ds._snapshot.extra == {"ids_stable": False, "edited": []}
    pdf = ds.df.orderBy("_row_id").select("_row_id", "x").toPandas()
    assert pdf["x"].tolist() == [0, 1, 2, 4, 5, 6, 7, 8, 9, 200, 201, 100]
    assert pdf["_row_id"].tolist() == list(range(12))
    assert ds._snapshot.row_count == 12


# -- batched cell edits -----------------------------------------------------


def test_many_single_cell_edits_match_a_pandas_mirror(spark, tmp_path):
    rng = np.random.default_rng(11)
    n = 120
    ds = ds_mod.dataset(str(tmp_path / "e"), spark)
    ds.create_tensor("score", dtype="float64")
    ds.create_tensor("label", dtype="int64")
    ds.create_tensor("text", htype="text")
    mirror = pd.DataFrame({
        "score": rng.random(n), "label": rng.integers(0, 5, n),
        "text": [f"t{i}" for i in range(n)],
    }).astype(object)
    ds.extend({c: mirror[c].tolist() for c in mirror})
    ds.commit("base")
    for k in range(500):
        if k == 250:  # an edit may target a staged append
            ds.extend({"score": [0.5], "label": [1], "text": ["late"]})
            mirror.loc[len(mirror)] = [0.5, 1, "late"]
        i = int(rng.integers(0, len(mirror)))
        col = ["score", "label", "text"][k % 3]
        val = None if k % 37 == 0 else (
            float(rng.random()) if col == "score"
            else int(rng.integers(0, 9)) if col == "label" else f"e{k}")
        ds[i] = {col: val}
        mirror.at[i, col] = val
    ds.commit("edits")
    assert ds._snapshot.extra == {"ids_stable": True, "edited": ["label", "score", "text"]}
    got = ds.to_dataframe()[["score", "label", "text"]].astype(object)
    want = mirror.where(pd.notna(mirror), None)
    assert got.where(pd.notna(got), None).values.tolist() == want.values.tolist()


# -- the posting table: append, crash windows, memo revalidation -------------


def _docs(spark, lo, hi):
    words = ["cat", "dog", "fish", "bird", "owl", "bee"]
    return spark.createDataFrame(
        [(i, " ".join(words[(i * k) % 6] for k in range(1, 2 + i % 4)))
         for i in range(lo, hi)],
        "id long, text string",
    )


def _scores(idx, queries=("cat", "dog fish", "owl bee bird")):
    return {q: sorted(map(tuple, idx.bm25(q, k=50).collect())) for q in queries}


def test_update_appends_files_and_keeps_postings(spark, tmp_path):
    path = str(tmp_path / "idx")
    idx = InvertedIndex.build(_docs(spark, 0, 40), "text", path, id_col="id",
                              positions=True)
    before = {
        os.path.join(d, f) for d, _, fs in os.walk(os.path.join(path, "postings"))
        for f in fs if f.endswith(".parquet")
    }
    idx.update(_docs(spark, 40, 60), commit_id="c2")
    (segment,) = idx.manifest["segments"]
    after = {
        os.path.join(d, f) for d, _, fs in os.walk(os.path.join(path, "postings"))
        for f in fs if f.endswith(".parquet")
    }
    assert before < after  # nothing rewritten, only files added
    added = after - before
    assert all(os.path.basename(f).startswith(f"delta-{segment}-") for f in added)
    assert len(added) <= idx.manifest["num_shards"]
    fresh = InvertedIndex.build(_docs(spark, 0, 60), "text", str(tmp_path / "f"),
                                id_col="id", positions=True)
    assert idx.manifest["n_postings"] == fresh.manifest["n_postings"]
    assert _scores(idx) == _scores(fresh)


def test_update_overlapping_ids_falls_back_to_merge(spark, tmp_path):
    idx = InvertedIndex.build(_docs(spark, 0, 20), "text", str(tmp_path / "i"),
                              id_col="id")
    idx.update(_docs(spark, 10, 30), commit_id="c2")  # ids 10..19 overlap
    fresh = InvertedIndex.build(_docs(spark, 0, 30), "text", str(tmp_path / "f"),
                                id_col="id")
    assert idx.manifest["n_postings"] == fresh.manifest["n_postings"]
    for q in ("cat", "dog owl"):
        assert {r["id"] for r in idx.search(q).collect()} == \
            {r["id"] for r in fresh.search(q).collect()}


def test_crash_before_manifest_then_retry_lands_delta_once(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "idx")
    InvertedIndex.build(_docs(spark, 0, 40), "text", path, id_col="id", positions=True)
    real = InvertedIndex._write_manifest

    def crash(self, m):
        raise RuntimeError("simulated crash before the manifest write")

    monkeypatch.setattr(InvertedIndex, "_write_manifest", crash)
    with pytest.raises(RuntimeError, match="simulated"):
        InvertedIndex(spark, path).update(_docs(spark, 40, 60), commit_id="c2")
    monkeypatch.setattr(InvertedIndex, "_write_manifest", real)
    idx = InvertedIndex(spark, path)
    assert idx.manifest["commit_id"] is None  # the crashed update left no trace there
    idx.update(_docs(spark, 40, 60), commit_id="c2")
    idx.update(_docs(spark, 60, 70), commit_id="c3")
    fresh = InvertedIndex.build(_docs(spark, 0, 70), "text", str(tmp_path / "f"),
                                id_col="id", positions=True)
    idx = InvertedIndex(spark, path)
    assert idx.manifest["n_postings"] == fresh.manifest["n_postings"]
    assert idx._postings().count() == fresh.manifest["n_postings"]
    assert _scores(idx) == _scores(fresh)


@pytest.mark.parametrize("table", ["postings", "docstats"])
def test_crash_inside_a_swap_heals_on_next_open(spark, tmp_path, table):
    path = str(tmp_path / "idx")
    idx = InvertedIndex.build(_docs(spark, 0, 40), "text", path, id_col="id",
                              positions=True)
    want = _scores(idx)
    real_rename = idx.fs.rename

    def crash(src, dst):
        if src.endswith(f"{table}.compact"):
            raise RuntimeError("simulated crash between the two renames")
        real_rename(src, dst)

    idx.fs.rename = crash
    with pytest.raises(RuntimeError, match="simulated"):
        if table == "postings":
            idx.optimize()
        else:
            idx._write_docstats()
    assert not os.path.isdir(os.path.join(path, table))  # the crash window
    window = sorted(os.listdir(path))
    with contextlib.suppress(Exception):
        _scores(InvertedIndex(spark, path))
    assert sorted(os.listdir(path)) == window  # a read renames nothing
    healed = InvertedIndex(spark, path).recover()
    assert _scores(healed) == want
    assert healed._postings().count() == healed.manifest["n_postings"]
    assert sorted(d for d in os.listdir(path) if d.startswith(table)) == [table]


@pytest.mark.parametrize("maintenance", ["optimize", "reshard"])
def test_update_after_maintenance_keeps_appended_docstats(spark, tmp_path, maintenance):
    """optimize / reshard rewrite only the postings: the docstats rows an
    earlier update appended stay listed, so the next update keeps them
    and BM25 still equals a fresh build."""
    path = str(tmp_path / "idx")
    idx = InvertedIndex.build(_docs(spark, 0, 30), "text", path, id_col="id",
                              positions=True)
    idx.update(_docs(spark, 30, 45), commit_id="c2")
    if maintenance == "optimize":
        idx.optimize()
    else:
        idx.reshard(3)
    idx.update(_docs(spark, 45, 60), commit_id="c3")
    fresh = InvertedIndex.build(_docs(spark, 0, 60), "text", str(tmp_path / "f"),
                                id_col="id", positions=True)
    idx = InvertedIndex(spark, path)
    assert idx.manifest["n_postings"] == fresh.manifest["n_postings"]
    assert idx._docstats().count() == 60
    assert _scores(idx) == _scores(fresh)


def test_updates_under_one_commit_id_keep_both_deltas(spark, tmp_path):
    path = str(tmp_path / "idx")
    idx = InvertedIndex.build(_docs(spark, 0, 20), "text", path, id_col="id",
                              positions=True)
    idx.update(_docs(spark, 20, 30), commit_id="c2")
    idx.update(_docs(spark, 30, 40), commit_id="c2")
    segments = idx.manifest["segments"]
    assert len(segments) == len(set(segments)) == 2
    fresh = InvertedIndex.build(_docs(spark, 0, 40), "text", str(tmp_path / "f"),
                                id_col="id", positions=True)
    assert idx.manifest["n_postings"] == fresh.manifest["n_postings"]
    assert idx._postings().count() == fresh.manifest["n_postings"]
    assert _scores(idx) == _scores(fresh)


def test_memoized_reads_see_another_instances_append(spark, tmp_path):
    path = str(tmp_path / "idx")
    InvertedIndex.build(_docs(spark, 0, 30), "text", path, id_col="id")
    reader = InvertedIndex(spark, path)
    writer = InvertedIndex(spark, path)
    before = {r["id"] for r in reader.search("cat").collect()}
    writer.update(spark.createDataFrame([(100, "cat")], "id long, text string"),
                  commit_id="c2")
    assert {r["id"] for r in reader.search("cat").collect()} == before | {100}
    writer.reshard(3)
    assert {r["id"] for r in reader.search("cat").collect()} == before | {100}
    assert reader.manifest["num_shards"] == 3


def test_update_does_not_call_build(spark, tmp_path, monkeypatch):
    idx = InvertedIndex.build(_docs(spark, 0, 10), "text", str(tmp_path / "i"),
                              id_col="id")
    calls = []
    monkeypatch.setattr(inv_mod.InvertedIndex, "build", classmethod(
        lambda cls, *a, **k: calls.append(1)))
    idx.update(_docs(spark, 10, 12), commit_id="c2")
    assert calls == []
