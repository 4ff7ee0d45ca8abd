"""The benchmark's workloads: closed-loop sessions with one client, each
call waiting for the previous one, driven through the public
``muller_spark`` API.

``lake_workflow`` is the paper's collaborative session: ingest, commit,
index, branch and edit, three-way merge, index refresh, the hybrid
query mix.  ``curation_ingest`` is the incremental near-dup flow.
The two share no layer below ``dataset``, so a change to one side's
layers should leave the other workload flat.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback
from typing import Any, Callable

import numpy as np
import pandas as pd

from perfbench import inputs, oracles

TABLE_SCHEMA = "key long, text string, label int, score double, emb array<float>, image binary"
TABLE_COLUMNS = ["key", "text", "label", "score", "emb", "image"]
TENSORS = [("key", "generic", "int64"), ("text", "text", None), ("label", "class_label", None),
           ("score", "generic", None), ("emb", "embedding", "float32"), ("image", "image", None)]
QUERY_KINDS = ("filter", "agg", "fts", "hybrid", "bm25", "knn", "fetch")

# Sizes are set by the time of a whole run (about a minute), not by
# memory: every operation here costs a fixed number of Spark jobs, so
# the time of a round barely depends on the row counts.
LAKE_SIZES = {"rows": 2000, "append": 200, "edits": 50}
CURATION_SIZES = {"seed_docs": 500, "batch": 250}
TINY_LAKE = {"rows": 300, "append": 40, "edits": 5}
TINY_CURATION = {"seed_docs": 120, "batch": 40}


class OpFailed(Exception):
    """An operation raised; the closed loop cannot go on after it."""


class Harness:
    """Times operations, counts attempts and failures.  An operation is
    one library call plus fetching its result to the driver; input
    hand-off (``createDataFrame``) and output checks are not timed."""

    def __init__(self, recorder=None) -> None:
        self.recorder = recorder
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.times: dict[str, list[float]] = {}
        self.round_s = 0.0
        self._last_failed = False

    def op(self, kind: str, fn: Callable[[], Any], setup: bool = False) -> Any:
        self.attempted += 1
        self._last_failed = False
        t0 = time.perf_counter()
        try:
            out = self.recorder.run_op(kind, fn) if self.recorder else fn()
        except Exception as exc:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            raise OpFailed(kind) from exc
        dt = time.perf_counter() - t0
        if setup:
            self.setup_s += dt
        else:
            self.times.setdefault(kind, []).append(dt)
            self.round_s += dt
        return out

    def check(self, ok: bool, what: str) -> None:
        """Output check of the last operation; one failure per operation."""
        if ok:
            return
        print(f"perfbench: output check failed: {what}", file=sys.stderr)
        if not self._last_failed:
            self.failed += 1
            self._last_failed = True

    def total(self, *kinds: str) -> float:
        return sum(sum(self.times.get(k, [])) for k in kinds)

    def count(self, *kinds: str) -> int:
        return sum(len(self.times.get(k, [])) for k in kinds)


def disk_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, n)) for d, _s, names in os.walk(root) for n in names)


class LakeWorkflow:
    name = "lake_workflow"

    def __init__(self, spark, seed: int, root: str, sizes: dict | None = None) -> None:
        self.spark, self.sizes = spark, sizes or LAKE_SIZES
        self.path = os.path.join(root, "lake")
        self.gen = inputs.TableGen(seed)
        self.qrng = np.random.default_rng([seed, 1])
        self.rounds = 0
        self.user_bytes = 0

    def _frame(self, pdf: pd.DataFrame):
        self.user_bytes += inputs.user_bytes(pdf)
        return self.spark.createDataFrame(pdf[TABLE_COLUMNS], TABLE_SCHEMA)

    def _rowmap(self) -> dict[int, int]:
        pdf = self.ds.df.select("_row_id", "key").toPandas()
        return dict(zip(pdf["_row_id"].tolist(), pdf["key"].tolist()))

    def setup(self, h: Harness) -> None:
        from muller_spark import dataset as D

        pdf = self.gen.rows(self.sizes["rows"])
        sdf = self._frame(pdf)

        def create():
            ds = D.empty(self.path, spark=self.spark, overwrite=True)
            for name, htype, dtype in TENSORS:
                ds.create_tensor(name, htype=htype, dtype=dtype)
            return ds

        self.ds = ds = h.op("setup.create", create, setup=True)
        h.op("setup.append", lambda: ds.extend_df(sdf), setup=True)
        h.op("setup.commit", lambda: ds.commit("initial load"), setup=True)
        h.op("setup.inverted", lambda: ds.create_index_vectorized("text", positions=True), setup=True)
        h.op("setup.vector", lambda: ds.create_vector_index(
            "emb", index_type="IVFFLAT", metric="l2", nlist=16), setup=True)
        h.op("setup.load", lambda: ds.load_vector_index("emb"), setup=True)
        self.state = pdf
        self.rowmap = self._rowmap()

    def _append(self, h: Harness) -> pd.DataFrame:
        pdf = self.gen.rows(self.sizes["append"])
        sdf = self._frame(pdf)
        h.op("append", lambda: self.ds.extend_df(sdf))
        return pdf

    def round(self, h: Harness) -> None:
        ds, r = self.ds, self.rounds
        dev = f"dev{r}"
        h.op("checkout", lambda: ds.checkout(dev, create=True))
        positions = sorted(self.rowmap)
        pos, vals = self.gen.edits(len(positions), self.sizes["edits"])
        edited = {self.rowmap[positions[p]]: float(v) for p, v in zip(pos, vals)}

        def edit():
            for p, v in zip(pos, vals):
                ds[int(positions[p])] = {"score": float(v)}

        h.op("edit", edit)
        self.user_bytes += 8 * len(edited)
        dev_rows = self._append(h)
        h.op("commit", lambda: ds.commit(f"dev edit+append {r}"))
        h.op("checkout", lambda: ds.checkout("main"))
        main_rows = self._append(h)
        h.op("commit", lambda: ds.commit(f"main append {r}"))
        h.op("merge", lambda: ds.merge(dev, append_resolution="both"))

        state = pd.concat([self.state, main_rows, dev_rows], ignore_index=True)
        state.loc[state["key"].isin(edited), "score"] = state["key"].map(edited)
        self.state = state
        h.check(ds.df.count() == len(state), "merged row count")
        got = dict(ds.df.filter(ds.df["key"].isin(list(edited))).select("key", "score").collect())
        h.check(got == edited, "edited rows carry the dev branch's values")

        h.op("refresh", lambda: (ds.update_index("text"), ds.update_vector_index("emb")))
        self.rowmap = self._rowmap()
        self.queries(h)
        self.rounds += 1

    def queries(self, h: Harness) -> None:
        """One pass of the hybrid query mix against the merged state,
        each result checked against a from-scratch oracle."""
        from muller_spark.multimodal import media

        ds, state, q = self.ds, self.state, self.qrng
        label = int(q.integers(0, inputs.LABELS))
        cut = float(q.uniform(0.2, 0.8))
        head, tail = inputs.query_terms(state["text"].str.split().tolist(), q)
        want = oracles.filter_count(state, label, cut)
        got = h.op("filter", lambda: ds.filter_vectorized(
            [("label", "==", label), ("score", ">", cut)], ["AND"]).count())
        h.check(got == want, "filter_vectorized count")
        got = h.op("filter", lambda: ds.filter(f"label == {label} and score > {cut!r}").count())
        h.check(got == want, "filter query-string count")

        rows = h.op("agg", lambda: ds.aggregate_vectorized(
            group_by=["label"], aggregate_tensors=["score"], method="avg").collect())
        got = {int(r[0]): float(r[1]) for r in rows}
        want = oracles.group_avg(state)
        h.check(got.keys() == want.keys()
                and all(abs(got[k] - want[k]) <= 1e-9 * max(1.0, abs(want[k])) for k in want),
                "group averages")

        fts_q = f"{head} {tail}"
        got = h.op("fts", lambda: {r[0] for r in ds.query("text", fts_q).select("key").collect()})
        h.check(got == oracles.fts_keys(state, fts_q), f"fts id set for {fts_q!r}")

        got = h.op("hybrid", lambda: {r[0] for r in ds.filter(
            f"label == {label}", index_query=head, index_tensor="text").select("key").collect()})
        h.check(got == oracles.fts_keys(state, head, label), f"hybrid id set for {head!r}")

        rows = h.op("bm25", lambda: ds.search_bm25("text", fts_q, k=10)
                    .select("key", "_bm25_score").collect())
        h.check(oracles.bm25_ok([(int(a), float(b)) for a, b in rows],
                                oracles.bm25_scores(state, fts_q), 10), f"bm25 top-10 for {fts_q!r}")

        emb = np.stack(state["emb"].to_numpy())
        keys = state["key"].to_numpy()
        qv = self.gen.query_vectors(1)[0]
        rows = h.op("knn", lambda: ds.vector_search(qv, "emb", topk=10).select("id").collect())
        hits = {self.rowmap.get(r[0]) for r in rows}
        recall = len(hits & oracles.exact_topk(emb, keys, qv, 10)) / 10
        h.check(len(rows) == 10 and recall >= oracles.KNN_RECALL_FLOOR, f"knn recall@10 {recall}")

        ids = self.spark.createDataFrame([(r[0],) for r in rows], "_row_id long")
        rows = h.op("fetch", lambda: media.decode_image_batch(
            ds.df.join(ids, "_row_id", "semi").select("key", "image"), bytes_col="image",
        ).select("key", "image_meta").collect())
        by_key = state.set_index("key")
        ok = {r[0] for r in rows} == hits and all(
            r[1] is not None and tuple(r[1]) == oracles.image_meta(
                by_key.at[r[0], "image"], int(by_key.at[r[0], "channels"]))
            for r in rows)
        h.check(ok, "fetched images are the knn hits, with the generated shape and md5")

    def metrics(self, h: Harness) -> dict[str, float]:
        return {
            "rows_per_s": 2 * self.sizes["append"] * self.rounds
            / h.total("append", "commit", "merge", "refresh"),
            "queries_per_s": h.count(*QUERY_KINDS) / h.total(*QUERY_KINDS),
            "bytes_per_user_byte": disk_bytes(self.path) / self.user_bytes,
        }


class CurationIngest:
    name = "curation_ingest"
    threshold = 0.5

    def __init__(self, spark, seed: int, root: str, sizes: dict | None = None) -> None:
        self.spark, self.sizes = spark, sizes or CURATION_SIZES
        self.path = os.path.join(root, "curation")
        self.gen = inputs.DocGen(seed)
        self.oracle = oracles.LedgerOracle(self.threshold)
        self.rounds = 0
        self.docs = 0
        self.user_bytes = 0

    def _frame(self, pdf: pd.DataFrame):
        self.user_bytes += int(sum(len(t.encode()) for t in pdf["text"]))
        return self.spark.createDataFrame(pdf, "doc_id long, text string")

    def setup(self, h: Harness) -> None:
        from muller_spark.operators.flow import IncrementalDedupFlow

        pdf = self.gen.seed_corpus(self.sizes["seed_docs"])
        for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
            self.oracle.admit(int(doc_id), text)
        sdf = self._frame(pdf)
        self.flow = IncrementalDedupFlow(self.path, "text", "doc_id", threshold=self.threshold)
        h.op("setup.init", lambda: self.flow.init(sdf), setup=True)

    def round(self, h: Harness) -> None:
        batch, is_dup = self.gen.batch(self.sizes["batch"])
        want, dup_of = self.oracle.decide(batch)
        if want != set(batch["doc_id"][~is_dup].tolist()):
            raise RuntimeError("generator planted a batch its own oracle disagrees with")
        bdf = self._frame(batch)
        got = h.op("ingest", lambda: {r[0] for r in self.flow.ingest(bdf).select("doc_id").collect()})
        self.docs += len(batch)
        h.check(got == want, f"admitted set: {len(got ^ want)} documents differ")
        comp = self._labels(h)
        h.check(all(d in comp and comp.get(d) == comp.get(s) for d, s in dup_of.items()),
                "every planted duplicate shares a cluster with its source")
        h.op("compact", self.flow.compact)
        h.check(self._labels(h) == comp, "compaction keeps every label")
        self.rounds += 1

    def _labels(self, h: Harness) -> dict[int, int]:
        return {int(a): int(b) for a, b in h.op("labels", lambda: self.flow.labels().collect())}

    def metrics(self, h: Harness) -> dict[str, float]:
        return {
            "rows_per_s": self.docs / h.total("ingest"),
            "queries_per_s": h.count("labels") / h.total("labels"),
            "bytes_per_user_byte": disk_bytes(self.path) / self.user_bytes,
        }


WORKLOADS = {w.name: w for w in (LakeWorkflow, CurationIngest)}


def _rounds(workload, h: Harness, seconds: float, traced: bool) -> tuple[list[float], bool]:
    """Set up, then run rounds until ``seconds`` of measuring have passed
    (at least one round), or exactly one round when traced so traced runs
    repeat the same operations.  Returns the per-round operation times
    and whether every round completed."""
    workload.setup(h)
    rounds_s: list[float] = []
    deadline = time.perf_counter() + seconds
    while True:
        h.round_s = 0.0
        try:
            workload.round(h)
        except OpFailed:
            return rounds_s, False
        rounds_s.append(h.round_s)
        if traced or time.perf_counter() >= deadline:
            return rounds_s, True


def measure(spark, name: str, seed: int, root: str, seconds: float, session_s: float = 0.0,
            spans_path: str | None = None, sizes: dict | None = None) -> dict:
    """One run of workload ``name`` under ``root``.  With ``spans_path``
    the run is traced and its spans are written there.  Raises
    ``OpFailed`` when set-up fails; returns the harness, the round times,
    whether every round completed, and the end-to-end and (traced)
    per-layer metrics."""
    from perfbench import trace

    recorder = trace.Recorder(spark.sparkContext) if spans_path else None
    workload = WORKLOADS[name](spark, seed, root, sizes)
    h = Harness(recorder)
    if recorder:
        recorder.write_root = workload.path
        recorder.install()
    try:
        rounds_s, complete = _rounds(workload, h, seconds, recorder is not None)
    finally:
        if recorder:
            recorder.uninstall()
    out = {"harness": h, "rounds_s": rounds_s, "complete": complete, "e2e": None, "layer": None}
    if rounds_s:
        out["e2e"] = {
            "setup_s": session_s + h.setup_s,
            "round_p50_s": statistics.median(rounds_s),
            **workload.metrics(h),
        }
    if recorder:
        out["layer"] = recorder.finish(spans_path, {"failed_ops_ratio": h.failed / h.attempted})
    return out
