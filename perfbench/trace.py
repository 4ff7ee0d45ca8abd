"""Traced-run recorder: spans around library entry points plus Spark's
own job/stage counters, read from outside the library.

Wrappers are installed only in traced runs, around the public entry
points listed in ``ENTRY_POINTS``.  Every span opens its own Spark job
group, so a job belongs to the span that was innermost when it was
submitted; after the run, the listener bus is drained and the status
store maps each group to its jobs, stages and shuffle bytes.  Spans
stay in memory until ``finish`` writes them out.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import statistics
import time
import uuid
from typing import Any, Callable

from py4j.protocol import Py4JJavaError

# (layer, owner module, owner class or None, attribute, entry name).
# The owner is where the caller looks the name up: ``dataset.py``
# imports ``compile_query_string`` and ``aggregate_vectorized`` at module
# level, every other callee is read from its module at call time.
ENTRY_POINTS = [
    *[("dataset", "muller_spark.dataset", "Dataset", m, m) for m in (
        "extend_df", "commit", "checkout", "merge", "filter",
        "filter_vectorized", "aggregate_vectorized", "query", "search_bm25",
        "vector_search", "update_index", "update_vector_index")],
    ("versioning.log", "muller_spark.versioning.log", "CommitLog", "commit", "commit"),
    ("versioning.log", "muller_spark.versioning.log", "CommitLog", "resolve", "resolve"),
    ("versioning.log", "muller_spark.versioning.log", "CommitLog", "lca", "lca"),
    ("versioning.merge", "muller_spark.versioning.merge", None, "three_way_merge", "three_way_merge"),
    ("plans", "muller_spark.dataset", None, "compile_query_string", "compile_query_string"),
    ("plans", "muller_spark.plans.conditions", None, "compile_condition", "compile_condition"),
    ("index.inverted", "muller_spark.index.inverted", "InvertedIndex", "build", "build"),
    ("index.inverted", "muller_spark.index.inverted", "InvertedIndex", "update", "update"),
    ("index.inverted", "muller_spark.index.inverted", "InvertedIndex", "search", "search"),
    ("index.inverted", "muller_spark.index.inverted", "InvertedIndex", "bm25", "bm25"),
    ("index.vector", "muller_spark.index.vector", None, "build_ivf_artifacts", "build_ivf_artifacts"),
    ("index.vector", "muller_spark.index.vector", None, "ivf_search_prebuilt", "ivf_search_prebuilt"),
    ("index.vector", "muller_spark.index.vector", None, "append_ivf_assignments", "append_ivf_assignments"),
    ("index.vector", "muller_spark.index.vector", None, "exact_knn", "exact_knn"),
    ("operators.aggregate", "muller_spark.dataset", None, "aggregate_vectorized", "aggregate_vectorized"),
    ("multimodal.media", "muller_spark.multimodal.media", None, "decode_image_batch", "decode_image_batch"),
    ("operators.flow", "muller_spark.operators.flow", "IncrementalDedupFlow", "ingest", "ingest"),
    ("operators.flow", "muller_spark.operators.flow", "IncrementalDedupFlow", "compact", "compact"),
    ("operators.flow", "muller_spark.operators.flow", "IncrementalDedupFlow", "labels", "labels"),
    ("operators.dedup", "muller_spark.operators.dedup", None, "neardup_pairs_against_ledger", "neardup_pairs_against_ledger"),
    ("operators.dedup", "muller_spark.operators.dedup", None, "neardup_against_ledger", "neardup_against_ledger"),
    ("operators.dedup", "muller_spark.operators.dedup", None, "compact_neardup_ledger", "compact_neardup_ledger"),
    ("operators.components", "muller_spark.operators.components", None, "components_ledger_ingest", "components_ledger_ingest"),
    ("operators.components", "muller_spark.operators.components", None, "compact_components_ledger", "compact_components_ledger"),
]

# op kinds that get per-op Spark counters, and those whose writes are measured
COUNTED_OPS = ("filter", "agg", "fts", "hybrid", "bm25", "knn", "fetch",
               "append", "commit", "merge", "refresh", "ingest", "compact")
WRITE_OPS = ("commit", "merge", "ingest", "compact")


def per_layer_names() -> list[tuple[str, str, str]]:
    """Every per-layer metric a traced run reports: (name, unit, better)."""
    out = []
    for layer, _mod, _cls, _attr, entry in ENTRY_POINTS:
        out += [(f"{layer}.{entry}.self_s", "s", "lower"),
                (f"{layer}.{entry}.jobs", "count", "lower")]
    out += [("index.vector.fresh_hit_ratio", "ratio", "higher"),
            ("dataset.agg_fastpath_ratio", "ratio", "higher"),
            ("index.inverted.incremental_refresh_ratio", "ratio", "higher")]
    for op in COUNTED_OPS:
        out += [(f"spark.{op}.stages", "count", "lower"),
                (f"spark.{op}.shuffle_bytes", "bytes", "lower"),
                (f"spark.{op}.driver_s", "s", "lower")]
    out += [(f"fs.{op}.bytes_written", "bytes", "lower") for op in WRITE_OPS]
    out += [("spark.pinned_rdds_end", "count", "lower"), ("spark.storage_mb_end", "MB", "lower"),
            ("merge_p50_ms", "ms", "lower"), ("refresh_p50_ms", "ms", "lower"),
            ("failed_ops_ratio", "ratio", "lower"), ("trace.overhead_ratio", "ratio", "lower")]
    return out


def _files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for d, _dirs, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue  # removed by a concurrent swap
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


class Span:
    __slots__ = ("sid", "name", "parent", "op", "start", "end", "group", "written")

    def __init__(self, sid: int, name: str, parent: "Span | None", op: int, run: str) -> None:
        self.sid, self.name, self.parent, self.op = sid, name, parent, op
        self.start = self.end = 0.0
        self.group = f"perfbench-{run}-{sid}"
        self.written = 0


class Recorder:
    """Collects spans for one traced run.  ``op`` spans are opened by
    the workload around each operation; ``install`` adds entry-point
    spans inside them."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.run = uuid.uuid4().hex[:12]  # job groups stay unique per recorder
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.overhead_s = 0.0
        self._patched: list[tuple[Any, str, Any]] = []
        self.write_root: str | None = None

    # -- spans -----------------------------------------------------------
    def _open(self, name: str, is_op: bool) -> Span:
        t0 = time.perf_counter()
        parent = self.stack[-1] if self.stack else None
        sid = len(self.spans) + 1
        op = sid if is_op else (parent.op if parent else 0)
        span = Span(sid, name, parent, op, self.run)
        self.spans.append(span)
        self.stack.append(span)
        self.sc.setJobGroup(span.group, name)
        self.overhead_s += time.perf_counter() - t0
        span.start = time.time()
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        t0 = time.perf_counter()
        self.stack.pop()
        if self.stack:
            self.sc.setJobGroup(self.stack[-1].group, self.stack[-1].name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.overhead_s += time.perf_counter() - t0

    def run_op(self, kind: str, fn: Callable[[], Any]) -> Any:
        t0 = time.perf_counter()
        files = _files(self.write_root) if kind in WRITE_OPS and self.write_root else None
        self.overhead_s += time.perf_counter() - t0
        span = self._open(f"op.{kind}", True)
        try:
            return fn()
        finally:
            self._close(span)
            if files is not None:
                t0 = time.perf_counter()
                after = _files(self.write_root)
                span.written = sum(size for p, (size, mt) in after.items()
                                   if files.get(p) != (size, mt))
                self.overhead_s += time.perf_counter() - t0

    def _wrap(self, name: str, fn: Callable) -> Callable:
        rec = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = rec._open(name, False)
            try:
                return fn(*args, **kwargs)
            finally:
                rec._close(span)
        return wrapper

    def install(self) -> None:
        for layer, mod_name, cls_name, attr, entry in ENTRY_POINTS:
            owner = importlib.import_module(mod_name)
            if cls_name:
                owner = getattr(owner, cls_name)
            raw = owner.__dict__[attr]
            name = f"{layer}.{entry}"
            if isinstance(raw, classmethod):
                new = classmethod(self._wrap(name, raw.__func__))
            else:
                new = self._wrap(name, raw)
            self._patched.append((owner, attr, raw))
            setattr(owner, attr, new)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    # -- readout ---------------------------------------------------------
    def finish(self, out_path: str, extra: dict[str, float]) -> dict[str, float]:
        """Drain the listener bus, attach Spark counters to every span,
        write the spans to ``out_path`` and return the per-layer metrics.
        Per-entry and per-op values are means per call, so they do not
        depend on how many rounds a run made."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store, tracker = jsc.statusStore(), self.sc.statusTracker()
        jobs: dict[int, list[int]] = {}
        job_stages: dict[int, list[int]] = {}
        stages: dict[int, tuple[int, int]] = {}
        windows: dict[int, tuple[float, float]] = {}
        for span in self.spans:
            jobs[span.sid] = sorted(tracker.getJobIdsForGroup(span.group))
            for j in jobs[span.sid]:
                jd = store.job(j)
                sub, done = jd.submissionTime(), jd.completionTime()
                if sub.isDefined() and done.isDefined():
                    windows[j] = (sub.get().getTime() / 1e3, done.get().getTime() / 1e3)
                job_stages[j] = list(tracker.getJobInfo(j).stageIds)
                for s in job_stages[j]:
                    if s in stages:
                        continue
                    try:
                        sd = store.lastStageAttempt(s)
                    except Py4JJavaError:  # skipped stages were never submitted
                        stages[s] = (0, 0)
                        continue
                    ran = str(sd.status()) == "COMPLETE"
                    stages[s] = (int(ran), int(sd.shuffleWriteBytes()) if ran else 0)

        children: dict[int, list[Span]] = {}
        for span in self.spans:
            if span.parent is not None:
                children.setdefault(span.parent.sid, []).append(span)

        def subtree(span: Span) -> list[Span]:
            out, todo = [], [span]
            while todo:
                s = todo.pop()
                out.append(s)
                todo.extend(children.get(s.sid, []))
            return out

        def self_s(span: Span) -> float:
            return (span.end - span.start) - sum(c.end - c.start for c in children.get(span.sid, []))

        def driver_s(span: Span, job_ids: list[int]) -> float:
            """Span time covered by no job window (union of the windows)."""
            busy, reach = 0.0, span.start
            for a, b in sorted(windows[j] for j in job_ids if j in windows):
                a, b = max(a, reach), min(b, span.end)
                if b > a:
                    busy += b - a
                    reach = b
            return max(0.0, (span.end - span.start) - busy)

        metrics: dict[str, float] = {}
        by_entry: dict[str, list[Span]] = {}
        by_op: dict[str, list[Span]] = {}
        for span in self.spans:
            if span.name.startswith("op."):
                by_op.setdefault(span.name[3:], []).append(span)
            else:
                by_entry.setdefault(span.name, []).append(span)
        for layer, _m, _c, _a, entry in ENTRY_POINTS:
            name = f"{layer}.{entry}"
            calls = by_entry.get(name, [])
            n = max(1, len(calls))
            metrics[f"{name}.self_s"] = sum(self_s(s) for s in calls) / n
            metrics[f"{name}.jobs"] = sum(len(jobs[s.sid]) for s in calls) / n

        def reached(span: Span, name: str) -> bool:
            return any(c.name == name for c in subtree(span)[1:])

        ivf = len(by_entry.get("index.vector.ivf_search_prebuilt", []))
        exact = len(by_entry.get("index.vector.exact_knn", []))
        metrics["index.vector.fresh_hit_ratio"] = ivf / (ivf + exact) if ivf + exact else 0.0
        aggs = by_entry.get("dataset.aggregate_vectorized", [])
        metrics["dataset.agg_fastpath_ratio"] = (
            sum(not reached(s, "operators.aggregate.aggregate_vectorized") for s in aggs) / len(aggs)
            if aggs else 0.0)
        refresh = by_entry.get("dataset.update_index", [])
        metrics["index.inverted.incremental_refresh_ratio"] = (
            sum(not reached(s, "index.inverted.build") for s in refresh) / len(refresh)
            if refresh else 0.0)

        op_rows = []
        for op in COUNTED_OPS:
            calls = by_op.get(op, [])
            n = max(1, len(calls))
            st = sh = dr = 0.0
            for span in calls:
                job_ids = sorted({j for s in subtree(span) for j in jobs[s.sid]})
                st += sum(stages[s][0] for j in job_ids for s in job_stages[j])
                sh += sum(stages[s][1] for j in job_ids for s in job_stages[j])
                dr += driver_s(span, job_ids)
                op_rows.append({"op": op, "sid": span.sid, "jobs": len(job_ids)})
            metrics[f"spark.{op}.stages"] = st / n
            metrics[f"spark.{op}.shuffle_bytes"] = sh / n
            metrics[f"spark.{op}.driver_s"] = dr / n
        for op in WRITE_OPS:
            calls = by_op.get(op, [])
            metrics[f"fs.{op}.bytes_written"] = sum(s.written for s in calls) / max(1, len(calls))

        metrics["spark.pinned_rdds_end"] = float(len(self.sc._jsc.getPersistentRDDs()))
        rdds = store.rddList(True)
        metrics["spark.storage_mb_end"] = sum(
            rdds.apply(i).memoryUsed() + rdds.apply(i).diskUsed() for i in range(rdds.size())
        ) / 2**20
        for kind, key in (("merge", "merge_p50_ms"), ("refresh", "refresh_p50_ms")):
            calls = by_op.get(kind, [])
            metrics[key] = statistics.median((s.end - s.start) * 1e3 for s in calls) if calls else 0.0
        op_time = sum(s.end - s.start for spans in by_op.values() for s in spans)
        metrics["trace.overhead_ratio"] = self.overhead_s / op_time if op_time else 0.0
        metrics.update(extra)

        with open(out_path, "w") as fh:
            json.dump({
                "spans": [{
                    "id": s.sid, "name": s.name, "parent": s.parent.sid if s.parent else None,
                    "op": s.op, "start": s.start, "end": s.end, "jobs": jobs[s.sid],
                } for s in self.spans],
                "op_jobs": op_rows,
            }, fh)
        return metrics


def summary_lines(metrics: dict[str, float]) -> list[str]:
    """Self time per layer (summed over its entries, per call) and the
    recorder's own overhead, for the run's stderr summary."""
    layers: dict[str, float] = {}
    for layer, _m, _c, _a, entry in ENTRY_POINTS:
        layers[layer] = layers.get(layer, 0.0) + metrics.get(f"{layer}.{entry}.self_s", 0.0)
    lines = [f"  self_s per call, summed over entries  {layer:22s} {v:9.4f}"
             for layer, v in layers.items()]
    lines.append(f"  tracing overhead (recorder time / op time): {metrics['trace.overhead_ratio']:.5f}")
    return lines
