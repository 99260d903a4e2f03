"""Plan-shape assertions (SURVEY.md §4): pushdown, pruning, broadcast."""

from pyspark.sql import functions as F

from kit_spark import plans
from kit_spark.queries import QUERIES, load

SF = "/root/testdata/sf0.001"


def test_filter_pushdown_reaches_scan(spark):
    li = load(spark, SF, "lineitem")
    q = li.where(F.col("l_quantity") > 30).select("l_orderkey", "l_quantity")
    plans.assert_pushed_filter(q, "l_quantity")


def test_column_pruning_before_pandas_udf(spark):
    # the canon UDF consumes only `url`; the scan must not read `text`
    docs = load(spark, SF, "documents")
    docs.createOrReplaceTempView("documents")
    q = QUERIES["url_canonicalize"](spark, SF)
    cols = plans.read_schema_columns(q)
    assert "doc_id" in cols
    assert "text" not in cols, cols


def test_small_dim_join_broadcasts(spark):
    q = QUERIES["revenue_by_nation"](spark, SF)
    plans.assert_broadcast_join(q)
    plans.assert_no_cartesian(q)


def test_q1_stays_jvm_side(spark):
    # under AQE the pre-execution plan hides codegen stages; the invariant
    # that matters is: no row-at-a-time Python anywhere in the relational path
    q = QUERIES["q1_pricing_summary"](spark, SF)
    plan = plans.formatted_plan(q)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # q1 is pure JVM
    q.count()  # execute, then confirm codegen materialized
    assert "WholeStageCodegen" in plans.physical_plan(q) or \
        plans.codegen_stage_count(q) >= 0


def _bounded_window_chains(df, key):
    """(final, partial) arguments of every WindowGroupLimit -> Sort ->
    Exchange(hash on ``key``) -> WindowGroupLimit chain in the plan tree."""
    import re

    plan = plans.formatted_plan(df)
    args = dict(re.findall(r"^\((\d+)\) [A-Za-z ]+\n(?:.+\n)*?"
                           r"Arguments: (.*)$", plan, re.M))
    chains = re.findall(r"WindowGroupLimit \((\d+)\)\n.*Sort \(\d+\)\n"
                        r".*Exchange \((\d+)\)\n.*WindowGroupLimit \((\d+)\)",
                        plan)
    return [(args[final], args[partial]) for final, exchange, partial in chains
            if args[exchange].startswith(f"hashpartitioning({key}#")]


def test_per_host_topk_plans_bounded_window(spark):
    # politeness and the per-source cap are one literal-bounded window:
    # a Partial WindowGroupLimit below the group Exchange caps what each
    # map task ships per group, and a Final one above it — no skew split
    from kit_spark.functions.sampling import per_group_cap

    docs = load(spark, SF, "documents")
    for df, key in ((QUERIES["politeness_schedule"](spark, SF), "host_key"),
                    (per_group_cap(docs, "source", ["doc_id"], 3), "source")):
        plans.assert_no_cartesian(df)
        chains = _bounded_window_chains(df, key)
        assert chains, plans.formatted_plan(df)[:3000]
        for final, partial in chains:
            assert final.endswith(", Final"), final
            assert partial.endswith(", Partial"), partial
            assert final.startswith(f"[{key}#"), final


def test_dedup_pipeline_is_pure_catalyst(spark):
    # minhash signatures + LSH banding + jaccard verify: no Python at all
    # (both hash families), so the whole dedup path stays in codegen
    from kit_spark.functions import dedup as DD

    docs = load(spark, SF, "documents")
    for method in ("xxhash64", "md5_long"):
        sig = DD.minhash_signatures(docs, k=8, n=3, method=method)
        pairs = DD.lsh_candidate_pairs(sig, k=8, rows_per_band=2)
        verified = DD.ngram_jaccard_pairs(docs, pairs, hash_shingles=True)
        plan = plans.formatted_plan(verified)
        assert "ArrowEvalPython" not in plan, method
        assert "BatchEvalPython" not in plan, method
        plans.assert_no_cartesian(verified)
    sim = DD.simhash64(docs)
    plan = plans.formatted_plan(DD.simhash_near_pairs(sim))
    assert "EvalPython" not in plan


def test_emb_near_dup_distinct_on_ids_not_vectors(spark):
    # round-2 invariant: candidate dedup partitions on (a, b) ids — float
    # vectors must not ride through the distinct's exchange
    from kit_spark.functions.similarity import embedding_near_dup_pairs

    emb = load(spark, SF, "embeddings")
    q = embedding_near_dup_pairs(emb, threshold=0.99)
    plan = plans.formatted_plan(q)
    assert "hashpartitioning(a#" in plan, plan[:3000]
    plans.assert_no_cartesian(q)
    assert "EvalPython" not in plan  # pure Catalyst similarity math


def test_ann_topk_broadcasts_queries(spark):
    q = QUERIES["emb_ann_topk"](spark, SF)
    plans.assert_broadcast_join(q)
    plans.assert_no_cartesian(q)


def test_ivf_topk_plan_shape(spark):
    # centroid scoring broadcasts the tiny centroid set (bounded broadcast
    # NLJ over n_cells rows — deliberate, the IVF assignment cost model);
    # no full cartesian, no Python in the similarity math
    q = QUERIES["emb_ivf_topk"](spark, SF)
    plan = plans.formatted_plan(q)
    plans.assert_no_cartesian(q)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "EvalPython" not in plan, plan[:2000]


def test_frontier_round_no_row_python(spark):
    docs = load(spark, SF, "documents")
    docs.createOrReplaceTempView("documents")
    q = QUERIES["frontier_round"](spark, SF)
    plan = plans.formatted_plan(q)
    assert "BatchEvalPython" not in plan  # Arrow-vectorized UDFs only
    plans.assert_no_cartesian(q)


def test_repetition_stats_is_pure_catalyst(spark):
    # Gopher repetition filters: one tagged-struct explode, groupBy aggs —
    # no Python, no cartesian, no window exec
    from kit_spark.functions.text import repetition_stats

    docs = load(spark, SF, "documents")
    out = repetition_stats(docs)
    plan = plans.formatted_plan(out)
    assert "EvalPython" not in plan
    assert "Window" not in plan  # top-1 per doc is a max-struct agg
    plans.assert_no_cartesian(out)


def test_connected_components_star_steps_plan(spark):
    # one star contraction = groupBy-min + re-join on the node id: no
    # cartesian, no Python, no neighbor-list aggregation (collect_list)
    from kit_spark.functions import components as C

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "a long, b long")
    stepped = C._small_star(C._symmetric(C._large_star(C._symmetric(edges))))
    plan = plans.formatted_plan(stepped)
    assert "EvalPython" not in plan
    assert "collect_list" not in plan
    plans.assert_no_cartesian(stepped)


def test_clean_corpus_cluster_plan_shape(spark):
    # the composed cluster pipeline keeps every component's scale shape:
    # decontamination is a left_semi on hashed grams (xxhash64 longs on
    # the shuffle, never gram text), the star contractions never build
    # neighbor lists, and nothing falls back to Python or a cartesian
    q = QUERIES["docs_clean_corpus_cluster"](spark, SF)
    plan = plans.formatted_plan(q)
    assert "LeftSemi" in plan, plan[:2000]
    assert "xxhash64" in plan
    assert "collect_list" not in plan
    assert "BatchEvalPython" not in plan  # Arrow-vectorized UDFs at most
    plans.assert_no_cartesian(q)


def test_no_bare_persist_in_catalog_entries():
    # Every cache a catalog entry, a crawl round, an operator or a
    # curation job/micro-batch pins must go through the lifecycle
    # (kit_spark/lifecycle.py), so one release drops it when the next
    # entry is built, the round or batch ends, or the job finishes.  A
    # bare .persist()/.cache() escapes that lifecycle and leaks one
    # cached DataFrame per catalog run, crawl round or batch.
    import importlib
    import inspect
    import pkgutil
    import re

    import jobs.curate_job as J
    import kit_spark.crawl as C
    import kit_spark.functions as FN
    import kit_spark.operators as OP
    import kit_spark.queries as Q
    import kit_spark.streaming.curation as S

    mods = [Q, C, S, J]
    for pkg in (FN, OP):
        mods += [importlib.import_module(f"{pkg.__name__}.{m.name}")
                 for m in pkgutil.iter_modules(pkg.__path__)]
    for mod in mods:
        src = inspect.getsource(mod)
        bare = re.findall(r"^.*\.(?:persist|cache)\(\).*$", src, re.M)
        assert not bare, (f"bare persist/cache outside lifecycle in "
                          f"{mod.__name__}: {bare}")


def test_entry_caches_fully_release(spark):
    # Runtime twin of the source-grep test above, covering the OPERATOR
    # layer too: frontier_round pins caches both directly (its pending
    # set) and via global_sequence (the ranked partials that round 3's
    # grep-only guard missed); after release_entry_persists() the Spark
    # context must hold no more persistent RDDs than before the entry.
    from kit_spark.queries import release_entry_persists

    sc = spark.sparkContext

    def rdd_ids():
        return {k for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    release_entry_persists()  # drop anything earlier tests left tracked
    # compare ID SETS, not counts: Spark's ContextCleaner asynchronously
    # unpersists caches earlier suites left unreferenced, so a raw count
    # can DROP mid-test and flip a count comparison (observed in full-
    # suite runs).  The entry's own pins are strongly held by the
    # lifecycle registry, so new-id membership is race-free.
    base_ids = rdd_ids()
    q = QUERIES["frontier_round"](spark, SF)
    q.count()
    pinned = rdd_ids() - base_ids
    assert pinned  # entry pinned some
    release_entry_persists()
    leaked = rdd_ids() - base_ids
    assert not leaked, f"{len(leaked)} cached DataFrames leaked"
