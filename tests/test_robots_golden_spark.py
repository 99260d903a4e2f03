"""The golden robots corpus evaluated THROUGH the engine's DataFrame path
(SURVEY.md §5): each case becomes a row in a robots_docs/candidates fixture,
compiled by the robots-compile UDF and gated by the relational gate join
the crawl runs — not just the Python kernel."""

import pytest
from pyspark.sql import functions as F

from kit_spark.functions.robots_udfs import (gate_allowed_relational,
                                             make_compile_udf)
from kit_spark.kit_py.robots import normalize_path
from tests.test_robots_kernel import (AGENT_CASES, AGENT_TXT, MATCH_CASES,
                                      PRECEDENCE_CASES)


def run_gate(spark, docs, candidates, user_agent):
    """docs: [(host_key, body bytes)]; candidates: [(host_key, path)] ->
    {(host_key, path): allowed} via compile UDF + the relational gate
    join, each raw path normalized first as the gate's contract asks."""
    docs_df = spark.createDataFrame(docs, "host_key string, body binary") \
        .withColumn("access_state", F.lit("successful"))
    compiled = docs_df.withColumn(
        "__r", make_compile_udf(user_agent)(F.col("access_state"),
                                            F.col("body"))) \
        .select("host_key", F.col("__r.always").alias("always"),
                F.col("__r.rules").alias("rules"))
    cand_df = spark.createDataFrame(
        [(h, p, normalize_path(p)) for h, p in candidates],
        "host_key string, raw string, match_path string")
    gated = gate_allowed_relational(
        cand_df.join(F.broadcast(compiled), "host_key"))
    return {(r["host_key"], r["raw"]): r["allowed"] for r in gated.collect()}


def test_google_match_table_through_dataframes(spark):
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
    got = run_gate(spark, docs, candidates, "kitbot")
    assert got == expect


def test_precedence_table_through_dataframes(spark):
    docs, candidates, expect = [], [], {}
    for i, (txt, path, allowed) in enumerate(PRECEDENCE_CASES):
        host = f"https://p{i}.test:443"
        docs.append((host, txt))
        candidates.append((host, path))
        expect[(host, path)] = allowed
    got = run_gate(spark, docs, candidates, "*")
    assert got == expect


@pytest.mark.parametrize("ua,expectations", AGENT_CASES)
def test_agent_selection_through_dataframes(spark, ua, expectations):
    host = "https://a.test:443"
    got = run_gate(spark, [(host, AGENT_TXT)],
                   [(host, p) for p in expectations], ua)
    assert got == {(host, p): exp for p, exp in expectations.items()}
