"""The golden robots corpus evaluated THROUGH the engine's DataFrame path
(SURVEY.md §5): each case becomes a row in a robots_docs/candidates fixture,
compiled by the robots-compile UDF and gated by the distributed gate join —
not just the Python kernel."""

import pytest
from pyspark.sql import functions as F

from kit_spark.functions.robots_udfs import (gate_allowed,
                                             gate_allowed_relational,
                                             make_compile_udf)
from kit_spark.kit_py.robots import normalize_path
from tests.test_robots_kernel import (AGENT_CASES, AGENT_TXT, MATCH_CASES,
                                      PRECEDENCE_CASES)


def run_gate(spark, docs, candidates, user_agent, relational=False):
    """docs: [(host_key, body bytes)]; candidates: [(host_key, path)] ->
    {(host_key, path): allowed} via compile UDF + gate join — either the
    vectorized-UDF gate or the pure-Catalyst relational gate (which takes
    pre-normalized paths per its contract and must agree everywhere)."""
    docs_df = spark.createDataFrame(docs, "host_key string, body binary") \
        .withColumn("access_state", F.lit("successful"))
    compiled = docs_df.withColumn(
        "__r", make_compile_udf(user_agent)(F.col("access_state"),
                                            F.col("body"))) \
        .select("host_key", F.col("__r.always").alias("always"),
                F.col("__r.rules").alias("rules"))
    if relational:
        cand_df = spark.createDataFrame(
            [(h, p, normalize_path(p)) for h, p in candidates],
            "host_key string, raw string, match_path string")
        gated = gate_allowed_relational(
            cand_df.join(F.broadcast(compiled), "host_key"))
        return {(r["host_key"], r["raw"]): r["allowed"]
                for r in gated.collect()}
    cand_df = spark.createDataFrame(candidates,
                                    "host_key string, match_path string")
    gated = gate_allowed(cand_df.join(F.broadcast(compiled), "host_key"))
    return {(r["host_key"], r["match_path"]): r["allowed"]
            for r in gated.collect()}


@pytest.mark.parametrize("relational", [False, True])
def test_google_match_table_through_dataframes(spark, relational):
    # one host per distinct pattern; Disallow-form so "matched" == denied
    docs, candidates, expect = [], [], {}
    patterns = sorted({p for p, _, _ in MATCH_CASES})
    host_of = {p: f"https://m{i}.test:443" for i, p in enumerate(patterns)}
    for pattern, host in host_of.items():
        docs.append((host, f"User-agent: *\nDisallow: {pattern}\n"
                     .encode("utf-8")))
    for pattern, path, matches in MATCH_CASES:
        host = host_of[pattern]
        candidates.append((host, path))
        # rule matched -> disallowed; no match -> allowed
        expect[(host, path)] = not matches
    got = run_gate(spark, docs, candidates, "kitbot", relational)
    assert got == expect


@pytest.mark.parametrize("relational", [False, True])
def test_precedence_table_through_dataframes(spark, relational):
    docs, candidates, expect = [], [], {}
    for i, (txt, path, allowed) in enumerate(PRECEDENCE_CASES):
        host = f"https://p{i}.test:443"
        docs.append((host, txt))
        candidates.append((host, path))
        expect[(host, path)] = allowed
    got = run_gate(spark, docs, candidates, "*", relational)
    assert got == expect


@pytest.mark.parametrize("ua,expectations", AGENT_CASES)
def test_agent_selection_through_dataframes(spark, ua, expectations):
    host = "https://a.test:443"
    got = run_gate(spark, [(host, AGENT_TXT)],
                   [(host, p) for p in expectations], ua)
    assert got == {(host, p): exp for p, exp in expectations.items()}
