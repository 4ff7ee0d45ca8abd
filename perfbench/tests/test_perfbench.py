"""Tiny-size runs of every workload and the benchmark's determinism."""

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import inputs, trace, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
TINY = {"lake_workflow": workloads.TINY_LAKE, "curation_ingest": workloads.TINY_CURATION}


def _run(spark, tmp_path, name, seed, traced):
    spans = tmp_path / "spans.json"
    tmp_path.mkdir(parents=True, exist_ok=True)
    run = workloads.measure(spark, name, seed, str(tmp_path), 0,
                            spans_path=str(spans) if traced else None, sizes=TINY[name])
    assert run["complete"] and len(run["rounds_s"]) == 1
    if not traced:
        return run["harness"], run["e2e"], None
    ops = [(r["op"], r["jobs"]) for r in json.loads(spans.read_text())["op_jobs"]]
    return run["harness"], {**run["e2e"], **run["layer"]}, ops


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_smoke(spark, tmp_path, name):
    h, metrics, _ = _run(spark, tmp_path, name, 5, traced=False)
    assert h.failed == 0 and h.attempted > 0
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for m in spec["end_to_end"]:
        assert metrics[m["name"]] > 0, m["name"]


@pytest.mark.parametrize("name", [
    "lake_workflow",
    pytest.param("curation_ingest", marks=pytest.mark.xfail(
        reason="components_ledger_ingest issues one or two Spark jobs more or fewer "
               "on identical input; connected_components inside it repeats exactly",
        strict=False)),
])
def test_traced_runs_repeat(spark, tmp_path, name):
    h1, m1, ops1 = _run(spark, tmp_path / "a", name, 9, traced=True)
    h2, m2, ops2 = _run(spark, tmp_path / "b", name, 9, traced=True)
    assert h1.failed == h2.failed == 0
    assert ops1 == ops2 and ops1
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for m in spec["per_layer"]:
        assert m["name"] in m1, m["name"]
        if m["name"].endswith(".jobs"):
            assert m1[m["name"]] == m2[m["name"]], m["name"]
    # _uuid values are salted per call, so parquet sizes differ slightly
    assert m1["bytes_per_user_byte"] == pytest.approx(m2["bytes_per_user_byte"], rel=0.02)
    assert m1["trace.overhead_ratio"] < 0.05


def _frames_equal(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    return a.drop(columns=["emb"]).equals(b.drop(columns=["emb"])) and all(
        np.array_equal(x, y) for x, y in zip(a["emb"], b["emb"]))


def test_inputs_follow_the_seed():
    a, b, c = inputs.TableGen(3), inputs.TableGen(3), inputs.TableGen(4)
    ra, rb, rc = a.rows(50), b.rows(50), c.rows(50)
    assert _frames_equal(ra, rb) and not _frames_equal(ra, rc)
    assert np.array_equal(a.query_vectors(3), b.query_vectors(3))

    d, e, f = inputs.DocGen(3), inputs.DocGen(3), inputs.DocGen(4)
    sd, se, sf = d.seed_corpus(30), e.seed_corpus(30), f.seed_corpus(30)
    assert sd.equals(se) and not sd.equals(sf)
    (bd, md), (be, me) = d.batch(20), e.batch(20)
    assert bd.equals(be) and np.array_equal(md, me) and md.sum() == 6


def test_planted_duplicates_are_near_duplicates():
    from perfbench import oracles

    gen = inputs.DocGen(11)
    oracle = oracles.LedgerOracle(0.5)
    seed = gen.seed_corpus(50)
    for doc_id, text in zip(seed["doc_id"], seed["text"]):
        oracle.admit(int(doc_id), text)
    batch, is_dup = gen.batch(40)
    survivors, dup_of = oracle.decide(batch)
    assert survivors == set(batch["doc_id"][~is_dup].tolist())
    assert set(dup_of) == set(batch["doc_id"][is_dup].tolist())


def test_benchmark_json_lists_every_traced_metric():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == trace.per_layer_names()
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
