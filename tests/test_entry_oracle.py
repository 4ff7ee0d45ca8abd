"""Mirror of the driver's t2 correctness gate, run locally at sf0.01."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_utils import compare_query  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.01")

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()
_ROWS_ONLY = entrymod.rows_only_queries()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


def test_every_query_has_oracle_or_is_flagged():
    missing = set(_ORACLES) - set(_QUERIES)
    assert not missing, f"oracles without queries: {missing}"
    # the driver-facing registry must be 100% oracle-covered — a drawn
    # query without oracle SQL is err:no_oracle, which broke round 7
    no_oracle = set(_QUERIES) - set(_ORACLES)
    assert not no_oracle, f"driver-registered queries without oracle: {no_oracle}"
    overlap = set(_QUERIES) & set(_ROWS_ONLY)
    assert not overlap, f"rows-only queries leaked into queries(): {overlap}"


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_no_complex_output_columns(spark, name):
    """Registry invariant (round-8 err class): the driver canonicalizes
    result rows with pandas ``sort_values`` over all columns, which
    raises ``TypeError: unhashable type`` on Array/Map/Struct cells
    BEFORE any value comparison.  Every driver-facing query must
    therefore emit scalar-only columns — long-form (posexplode) where
    an operator's natural output is a vector."""
    from pyspark.sql import types as T

    sdf = _QUERIES[name](spark, SF_DIR)  # analysis only
    complex_cols = [
        f"{f.name}:{f.dataType.simpleString()}"
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    ]
    assert not complex_cols, (
        f"{name} emits driver-incompatible complex columns {complex_cols}; "
        "reshape to long-form scalars (posexplode) or stringify"
    )


# Round-13 tiering (VERDICT r12 #6): the full 200-query oracle sweep is
# the single biggest block of the suite and pushed the driver's pytest
# run past its window.  The DEFAULT tier keeps a deterministic smoke
# slice — every 4th query by sorted name (the driver's own draw is ~50)
# plus every query whose operator was touched in rounds 12–13 — and the
# remaining params carry the `slow` marker (run them all with
# ``-m "slow or not slow"``).  The driver's own 50-query oracle gate is
# unaffected; this only tiers the LOCAL mirror.
_RECENTLY_TOUCHED = {
    "q_typo_match", "q_fuzzy_search", "q_fuzzy_multi", "q_fuzzy_d2",
    "q_ds_query_posting", "q_semantic_decontaminate",
    "q_embedding_ledger", "q_flow_semantic", "q_containment_prefix",
    "q_jaccard_prefix", "q_containment_pairs", "q_ngram_jaccard",
    "q_connected_components", "q_components_ledger", "q_cluster_sizes",
    "q_leakage_split", "q_keep_best", "q_keep_best_lsh",
    "q_dedup_clusters", "q_cms_topk", "q_hll_distinct",
    "q_hll_by_group", "q_knn_join", "q_decontamination",
    "q_contamination_severity", "q_resample_linear", "q_bigram_logprob",
    "q_neardup_ledger", "q_curation_pipeline",
    "q_agg_ledger", "q_hll_ledger", "q_mg_ledger", "q_quantile_ledger",
    "q_quantile_compacted", "q_hamming_ledger",
    "q_flow_keeplist", "q_minhash_portable", "q_keep_best_ledger",
}
_ORACLE_SMOKE = set(sorted(_QUERIES)[::4]) | (
    _RECENTLY_TOUCHED & set(_QUERIES)
)


@pytest.mark.parametrize(
    "name",
    [
        pytest.param(
            n, marks=[] if n in _ORACLE_SMOKE else [pytest.mark.slow]
        )
        for n in sorted(_QUERIES)
    ],
)
def test_query_matches_oracle(spark, name):
    problems = compare_query(spark, name, _QUERIES[name], _ORACLES[name], SF_DIR)
    assert not problems, "\n".join(problems)


@pytest.mark.parametrize("name", sorted(_ROWS_ONLY))
def test_rows_only_query_runs(spark, name):
    """Non-SQL-expressible queries (zlib/k-means/IRLS) stay exercised
    end-to-end here; their VALUES are pinned by dedicated goldens."""
    df = _ROWS_ONLY[name](spark, SF_DIR)
    assert df.count() > 0


# ---------------------------------------------------------------------------
# Oracle result-type sweep.
#
# The driver's value hash is TYPE-sensitive: a DuckDB HUGEINT (int128, from
# sum() over integers) hashes differently from Spark's BIGINT even when every
# value is identical — this failed 4 queries in rounds 1-2 while the local
# value-normalizing comparison stayed green. Guard the whole class here:
# map both engines' result types to a canonical kind and require equality.
# int128 has no Spark-emittable kind, so any HUGEINT oracle column fails.
# ---------------------------------------------------------------------------

def _duck_kind(t: str) -> str:
    t = t.strip().upper()
    if t.endswith("[]"):
        return f"list<{_duck_kind(t[:-2])}>"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"):
        return "int"
    if t in ("HUGEINT", "UHUGEINT", "UBIGINT"):
        return "int128"  # not emittable by Spark -> always a mismatch
    if t in ("FLOAT", "DOUBLE", "REAL"):
        return "float"
    if t.startswith("DECIMAL"):
        return "decimal"
    if t in ("VARCHAR", "TEXT", "STRING"):
        return "str"
    if t == "DATE":
        return "date"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    if t == "BOOLEAN":
        return "bool"
    return f"other:{t}"


def _spark_kind(dt) -> str:
    from pyspark.sql import types as T

    if isinstance(dt, T.ArrayType):
        return f"list<{_spark_kind(dt.elementType)}>"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "int"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "float"
    if isinstance(dt, T.DecimalType):
        return "decimal"
    if isinstance(dt, T.StringType):
        return "str"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "timestamp"
    if isinstance(dt, T.BooleanType):
        return "bool"
    return f"other:{dt.simpleString()}"


@pytest.mark.parametrize("name", sorted(_ORACLES))
def test_oracle_types_match_spark(spark, name):
    from tests.oracle_utils import duckdb_connection

    con = duckdb_connection(SF_DIR)
    rel = con.sql(_ORACLES[name])
    duck = {c.lower(): _duck_kind(str(t)) for c, t in zip(rel.columns, rel.types)}
    con.close()

    sdf = _QUERIES[name](spark, SF_DIR)  # analysis only; .schema never executes
    mine = {f.name.lower(): _spark_kind(f.dataType) for f in sdf.schema.fields}

    assert set(duck) == set(mine), f"{name}: columns duck={sorted(duck)} spark={sorted(mine)}"
    bad = {c: (duck[c], mine[c]) for c in duck if duck[c] != mine[c]}
    assert not bad, f"{name}: oracle/spark result-type mismatch (duck, spark): {bad}"


def test_parity_provenance_matches_live_registry():
    """PARITY.md is the provenance file a draw audit trusts — its
    totals line must track the live registry (round-9 verdict: it
    drifted to 176 while queries() returned 177).  Regenerate with
    tools/gen_provenance.py when this fails."""
    import re

    parity = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "PARITY.md")
    with open(parity) as fh:
        doc = fh.read()
    m = re.search(r"Totals: (\d+) registered", doc)
    assert m, "PARITY.md totals line missing"
    assert int(m.group(1)) == len(entrymod.queries()), (
        f"PARITY.md says {m.group(1)} registered but queries() has "
        f"{len(entrymod.queries())} — run tools/gen_provenance.py"
    )
    ro = re.search(r"Plus (\d+) rows-only queries", doc)
    assert ro and int(ro.group(1)) == len(entrymod.rows_only_queries())
    # every registered query appears in the provenance table, with its
    # registration round (round-10 verdict #6: never-drawn aging) from
    # the checked-in ledger
    import json

    rounds_file = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "registry_rounds.json")
    with open(rounds_file) as fh:
        registered = json.load(fh)
    for name in entrymod.queries():
        assert f"`{name}`" in doc, f"{name} missing from PARITY.md"
        assert name in registered, (
            f"{name} missing from tools/registry_rounds.json — run "
            "tools/gen_provenance.py"
        )
        assert f"| `{name}` | r{registered[name]} |" in doc, (
            f"{name}: PARITY.md Registered column disagrees with "
            "tools/registry_rounds.json — run tools/gen_provenance.py"
        )
    assert re.search(r"waiting ≥2 rounds", doc), (
        "PARITY.md totals line missing the aged-mirror-only count"
    )
