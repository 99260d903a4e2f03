"""Deterministic sampling/split/per-group-cap: DuckDB replay + properties."""

import duckdb
import pytest

from kit_spark import plans
from kit_spark.functions.sampling import (
    BUCKETS, hash_sample, hash_split, per_group_cap)

SF = "/root/testdata/sf0.001"

MD5_BUCKET = ("CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR), "
              "'#{salt}')), 1, 15)) AS BIGINT) % {buckets}")


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_hash_split_matches_duckdb(docs):
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    got = {r["doc_id"]: r["split"] for r in
           hash_split(docs, weights, method="md5_long").collect()}

    bucket = MD5_BUCKET.format(salt="v1", buckets=BUCKETS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    expect = {r[0]: r[1] for r in con.execute(f"""
        SELECT doc_id, CASE WHEN {bucket} < 8000 THEN 'train'
                            WHEN {bucket} < 9000 THEN 'val'
                            ELSE 'test' END AS split
        FROM documents""").fetchall()}
    assert got == expect
    # all three splits are populated at 500 docs
    assert {"train", "val", "test"} <= set(got.values())


def test_hash_split_is_stable_and_salted(docs):
    a = {r["doc_id"]: r["split"] for r in
         hash_split(docs, {"a": 1, "b": 1}).collect()}
    b = {r["doc_id"]: r["split"] for r in
         hash_split(docs, {"a": 1, "b": 1}).collect()}
    assert a == b  # rerun-identical (no rand())
    resalted = {r["doc_id"]: r["split"] for r in
                hash_split(docs, {"a": 1, "b": 1}, salt="v2").collect()}
    assert a != resalted  # the salt actually namespaces the split


def test_hash_sample_subset_and_rate(docs):
    n = docs.count()
    kept10 = {r["doc_id"] for r in
              hash_sample(docs, 0.10, salt="s").select("doc_id").collect()}
    kept30 = {r["doc_id"] for r in
              hash_sample(docs, 0.30, salt="s").select("doc_id").collect()}
    assert kept10 <= kept30  # thresholds nest: a sample grows, never churns
    assert abs(len(kept30) / n - 0.30) < 0.10
    with pytest.raises(ValueError):
        hash_sample(docs, 1.5)


def test_hash_split_rejects_bad_weights(docs):
    for bad in ({}, {"a": -1, "b": 2}, {"a": 0}):
        with pytest.raises(ValueError):
            hash_split(docs, bad)


WGL_THRESHOLD = "spark.sql.optimizer.windowGroupLimitThreshold"


def _capped(spark, docs, k, threshold):
    """``per_group_cap`` rows and physical plan under one WindowGroupLimit
    threshold: 0 keeps the plain window, a threshold >= k plans the
    Partial/Final bounded window."""
    from pyspark.sql import functions as F

    old = spark.conf.get(WGL_THRESHOLD)
    spark.conf.set(WGL_THRESHOLD, str(threshold))
    try:
        out = per_group_cap(docs, "source",
                            [F.col("n_chars").desc(), F.col("doc_id")], k)
        return out.collect(), plans.formatted_plan(out)
    finally:
        spark.conf.set(WGL_THRESHOLD, old)


def test_per_group_cap_matches_duckdb_both_paths(spark, docs):
    """Both plans Spark may pick — the plain window (threshold 0) and the
    bounded WindowGroupLimit window (threshold >= k) — keep exactly a
    plain ranked selection's top-k per source."""
    k = 5
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    expect = set(con.execute(f"""
        SELECT source, doc_id, rn FROM (
          SELECT source, doc_id, row_number() OVER (PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS rn
          FROM documents) WHERE rn <= {k}""").fetchall())
    for threshold, bounded in ((0, False), (1000, True)):
        rows, plan = _capped(spark, docs, k, threshold)
        assert ("WindowGroupLimit" in plan) == bounded, plan[:3000]
        got = {(r["source"], r["doc_id"], r["group_rank"]) for r in rows}
        assert got == expect, threshold
    # the cap binds: some source has more than k docs
    sizes = dict(con.execute(
        "SELECT source, count(*) FROM documents GROUP BY source").fetchall())
    assert max(sizes.values()) > k


def test_per_group_cap_normal_path_only(spark, docs):
    """The plain window alone (no WindowGroupLimit planned) still caps
    every source at k."""
    from collections import Counter

    rows, plan = _capped(spark, docs, 3, 0)
    assert "WindowGroupLimit" not in plan, plan[:3000]
    per_src = Counter(r["source"] for r in rows)
    assert per_src and all(v <= 3 for v in per_src.values())


def test_split_and_sample_plans_are_scan_narrow(docs):
    # no shuffle at all for split; sample is a pushable filter
    split_plan = plans.formatted_plan(hash_split(docs, {"a": 1, "b": 1}))
    assert "Exchange" not in split_plan
    sample_plan = plans.formatted_plan(hash_sample(docs, 0.5))
    assert "Exchange" not in sample_plan
    plans.assert_no_cartesian(per_group_cap(
        docs, "source", ["doc_id"], 3))


def test_mix_corpus_matches_duckdb(docs):
    from kit_spark.functions.sampling import mix_corpus

    weights = {"src0": 3.0, "src1": 1.0, "src2": 1.0}
    got = {r["doc_id"] for r in
           mix_corpus(docs, weights, method="md5_long", salt="mix-v1")
           .select("doc_id").collect()}

    tot = sum(weights.values())
    vals = ", ".join(f"('{s}', CAST({w / tot!r} AS DOUBLE))"
                     for s, w in weights.items())
    bucket = MD5_BUCKET.format(salt="mix-v1", buckets=BUCKETS)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    expect = {r[0] for r in con.execute(f"""
        WITH w(source, wgt) AS (VALUES {vals}),
        c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
        j AS (SELECT c.source, CAST(c.n AS DOUBLE) AS n, w.wgt
              FROM c JOIN w USING (source)),
        f AS (SELECT MIN(n / wgt) AS feas FROM j),
        rr AS (SELECT source,
                      LEAST(CAST(1 AS DOUBLE),
                            (wgt * (SELECT feas FROM f)) / n) AS rate
               FROM j),
        r AS (SELECT source,
                     CASE WHEN rate >= 1 - 1e-9 THEN {BUCKETS}
                          WHEN rate > 0 AND FLOOR(rate * {BUCKETS}) = 0
                               THEN 1
                          ELSE CAST(FLOOR(rate * CAST({BUCKETS} AS DOUBLE))
                                    AS BIGINT) END AS thresh
              FROM rr)
        SELECT d.doc_id FROM documents d JOIN r USING (source)
        WHERE {bucket} < r.thresh""").fetchall()}
    assert got == expect
    assert got  # non-degenerate


def test_mix_corpus_properties(docs):
    from pyspark.sql import functions as F

    from kit_spark.functions.sampling import mix_corpus

    weights = {"src0": 3.0, "src1": 1.0, "src2": 1.0}
    out = mix_corpus(docs, weights)
    counts = {r["source"]: r["n"] for r in
              out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # only weighted sources survive
    assert set(counts) <= set(weights)
    # the binding source (highest weight per doc) keeps everything
    assert counts["src0"] == 25
    # the others shed toward w_s/w_bind of the binding source's keep
    for s in ("src1", "src2"):
        assert 0 < counts[s] < 25
    # rerun-stable
    a = {r["doc_id"] for r in out.select("doc_id").collect()}
    b = {r["doc_id"] for r in
         mix_corpus(docs, weights).select("doc_id").collect()}
    assert a == b
    # a total cap only shrinks, and the capped mix nests inside
    capped = {r["doc_id"] for r in
              mix_corpus(docs, weights, total=20).select("doc_id").collect()}
    assert capped < a


def test_mix_corpus_rejects_bad_weights(docs):
    from kit_spark.functions.sampling import mix_corpus

    for bad in ({}, {"src0": -1.0}, {"src0": 0.0}):
        with pytest.raises(ValueError):
            mix_corpus(docs, bad)


def test_mix_corpus_plan_shape(docs):
    from kit_spark.functions.sampling import mix_corpus

    out = mix_corpus(docs, {"src0": 2.0, "src1": 1.0})
    plan = plans.formatted_plan(out)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    plans.assert_broadcast_join(out)   # rates ride a broadcast, never a
    plans.assert_no_cartesian(out)     # shuffle of the data rows


def test_mix_corpus_infeasible_source_yields_empty(docs):
    """A WEIGHTED source with zero corpus rows makes the mixture
    infeasible: N = 0, so the mix is empty rather than silently
    renormalized over the sources that exist."""
    from kit_spark.functions.sampling import mix_corpus, source_mix_rates

    weights = {"src0": 1.0, "no-such-source": 1.0}
    assert mix_corpus(docs, weights).count() == 0
    rates = {r["source"]: r["keep_rate"]
             for r in source_mix_rates(docs, weights).collect()}
    assert rates == {"src0": 0.0, "no-such-source": 0.0}


def test_source_mix_rates_quantization_snaps(docs):
    """Two float-noise guards on the bucket quantization: the BINDING
    source (keep_rate within epsilon of 1.0) gets thresh == BUCKETS
    exactly — floor of a 0.999...9 float round-trip must not shave it to
    BUCKETS-1 — and any strictly positive rate keeps >= 1 bucket, so an
    extremely over-represented source is floored at the documented
    1/BUCKETS minimum effective rate instead of silently dropping out."""
    from kit_spark.functions.sampling import source_mix_rates

    # sweep weight shapes whose normalized w is a repeating binary
    # fraction (1/3, 1/7, ...) — the cases where w*(n/w)/n != 1.0 in
    # floats — and assert the binding source always snaps to BUCKETS
    for weights in ({"src0": 1.0, "src1": 2.0},
                    {"src0": 1.0, "src1": 3.0, "src2": 3.0},
                    {"src0": 2.0, "src1": 5.0},
                    {"src0": 1.0, "src1": 1.0, "src2": 1.0}):
        rows = {r["source"]: r for r in
                source_mix_rates(docs, weights).collect()}
        binding = max(rows.values(), key=lambda r: r["keep_rate"])
        assert binding["keep_rate"] >= 1.0 - 1e-9
        assert binding["__thresh"] == BUCKETS, weights
    # a positive-but-tiny rate keeps at least one bucket
    rows = {r["source"]: r for r in
            source_mix_rates(docs, {"src0": 1.0, "src1": 1e-6}).collect()}
    tiny = rows["src1"]
    assert 0 < tiny["keep_rate"] < 1.0 / BUCKETS
    assert tiny["__thresh"] == 1


def test_sample_then_split_defaults_are_independent(docs):
    """hash_sample and hash_split use DISTINCT default salts, so a
    default-sample composed with a default-split still populates every
    split range (a shared salt would funnel all survivors into the
    first range)."""
    from pyspark.sql import functions as F

    sampled = hash_sample(docs, 0.4)
    splits = {r["split"] for r in
              hash_split(sampled, {"train": 0.8, "val": 0.1, "test": 0.1})
              .select("split").distinct().collect()}
    assert splits == {"train", "val", "test"}
