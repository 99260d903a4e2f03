"""Query catalog for the driver correctness gate (__spark_entry__).

Each entry pairs a Spark-first implementation (DataFrame API / Spark SQL /
the engine's own operators and UDFs) with a DuckDB-oracle SQL string over
the same parquet views.  Column names/aliases match exactly; floating
aggregates are rounded identically on both sides so order-insensitive
value-hashes compare equal.

Sections:
 1. relational coverage (SURVEY.md §2C): scan/filter/project, joins
    (inner/semi/anti), agg + rollup, windows, set ops, pivot-style
    conditional agg, sessionization, JSON scalar fns
 2. crawl-engine operators over deterministically derived URL tables
    (D1-D5, D9 as SQL-checkable slices)
 3. training-data ops: exact/minhash-LSH/simhash/jaccard dedup, text
    analysis, fingerprints, embedding similarity + LSH
 4. streaming + multimodal (rows-only where DuckDB can't express them)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from kit_spark.functions import dedup as DD
from kit_spark.functions import similarity as SIM
from kit_spark.functions import text as TX

QUERIES: dict = {}
ORACLES: dict = {}

# Floating-sum stability: Spark's partial-agg combine order is
# nondeterministic, so round(sum(<double>)) can flip its last ulp between
# runs and hash-mismatch an otherwise-correct query (observed on
# events_sessionize in round 1).  Every summed measure in this catalog is an
# exact 2-dp value, so both engines sum in exact DECIMAL (identical by
# construction, any order) and convert to double only at the end.
# Widths are kept small enough that DuckDB never promotes to DOUBLE
# mid-expression (total width <= 38).


def _dec(col, width: int = 14, scale: int = 2):
    return col.cast(f"decimal({width},{scale})")


def _dsum(col, r: int = 2):
    """round(sum(x), r) with an order-independent exact-decimal sum."""
    return F.round(F.sum(_dec(col)).cast("double"), r)


def _davg(col, r: int = 4):
    """round(avg(x), r) via exact-decimal sum / count."""
    return F.round(F.sum(_dec(col)).cast("double") / F.count(F.lit(1)), r)


# Entry-scoped persist lifecycle — shared with the operator layer (e.g.
# global_sequence registers its ranked partials there too), so one
# release covers every cache an entry pinned, directly or via operators.
# See kit_spark/lifecycle.py for the contract.
from kit_spark import lifecycle as _lifecycle  # noqa: E402

_persist = _lifecycle.track
release_entry_persists = _lifecycle.release


def query(name: str, oracle: str | None = None):
    def register(fn):
        def wrapped(spark, sf_dir, _fn=fn):
            from kit_spark.pyfiles import ensure_shipped

            ensure_shipped(spark)  # workers must import kit_spark UDF kernels
            release_entry_persists()  # previous entry's caches die here
            return _fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return fn
    return register


def load(spark: SparkSession, sf_dir: str, name: str,
         spread: bool = False) -> DataFrame:
    """Read a testdata table; ``spread=True`` repartitions an
    under-partitioned scan to full parallelism.

    The driver-generated testdata is one row group per file, so the scan
    is a single task and every narrow stage downstream (explode chains,
    hash fans, heavy projections) would serialize on one core — the local
    analog of mis-sized spark.sql.files.maxPartitionBytes.  Spreading
    costs one shuffle of the raw rows, so it is *opt-in* for the entries
    where the narrow chain dominates (measured: 4-5x on the shingle/LSH
    family, a loss on cheap single-pass projections).  Well-partitioned
    inputs (the 100 TB case: many files / row groups) pass through
    untouched either way."""
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if spread:
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < max(2, par // 2):
            df = df.repartition(par)
    return df


# =====================================================================
# 1. Relational coverage
# =====================================================================

_DISC_PRICE = ("CAST(l_extendedprice AS DECIMAL(12,2)) * "
               "(CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))")


@query("q1_pricing_summary", oracle=f"""
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE), 2)
                                                                   AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE), 2)
                                                                   AS sum_base_price,
       round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2)                AS sum_disc_price,
       round(CAST(sum({_DISC_PRICE}
             * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2))))
             AS DOUBLE), 2)                                        AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(14,2))) AS DOUBLE)
             / count(*), 4)                                        AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))) AS DOUBLE)
             / count(*), 4)                                        AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(14,2))) AS DOUBLE)
             / count(*), 4)                                        AS avg_disc,
       count(*)                                                    AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""")
def q1_pricing_summary(spark, sf_dir):
    # no spread: A/B'd this round — parallelizing the partial agg out of
    # the single-row-group scan task costs a 600k-row shuffle that nets
    # a wash warm and is consistently SLOWER cold (extra stage + AQE
    # planning), so the single-pass scan+agg stays (top3/revenue differ:
    # their lineitem feeds joins, where the spread pays)
    li = load(spark, sf_dir, "lineitem")
    one = F.lit(1).cast("decimal(3,2)")
    disc = (F.col("l_extendedprice").cast("decimal(12,2)")
            * (one - F.col("l_discount").cast("decimal(4,2)")))
    charge = disc * (one + F.col("l_tax").cast("decimal(4,2)"))
    return (li.where(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(_dsum(F.col("l_quantity")).alias("sum_qty"),
                 _dsum(F.col("l_extendedprice")).alias("sum_base_price"),
                 F.round(F.sum(disc).cast("double"), 2).alias("sum_disc_price"),
                 F.round(F.sum(charge).cast("double"), 2).alias("sum_charge"),
                 _davg(F.col("l_quantity")).alias("avg_qty"),
                 _davg(F.col("l_extendedprice")).alias("avg_price"),
                 _davg(F.col("l_discount")).alias("avg_disc"),
                 F.count("*").alias("count_order")))


@query("revenue_by_nation", oracle=f"""
SELECT n.n_name AS nation,
       round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2) AS revenue,
       count(DISTINCT o.o_orderkey) AS n_orders
FROM customer c
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
GROUP BY n.n_name
""")
def revenue_by_nation(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem", spread=True)
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .groupBy(F.col("n_name").alias("nation"))
            .agg(F.round(F.sum(
                F.col("l_extendedprice").cast("decimal(12,2)")
                * (F.lit(1).cast("decimal(3,2)")
                   - F.col("l_discount").cast("decimal(4,2)")))
                .cast("double"), 2).alias("revenue"),
                 F.countDistinct("o_orderkey").alias("n_orders")))


@query("top3_customers_per_segment", oracle=f"""
WITH rev AS (
  SELECT c.c_mktsegment AS segment, c.c_custkey,
         round(CAST(sum({_DISC_PRICE}) AS DOUBLE), 2) AS revenue
  FROM customer c
  JOIN orders o   ON o.o_custkey = c.c_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY c.c_mktsegment, c.c_custkey)
SELECT segment, c_custkey, revenue, rnk FROM (
  SELECT segment, c_custkey, revenue,
         row_number() OVER (PARTITION BY segment
                            ORDER BY revenue DESC, c_custkey) AS rnk
  FROM rev) t
WHERE rnk <= 3
""")
def top3_customers_per_segment(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem", spread=True)  # as in q1/revenue
    rev = (li.join(o, li.l_orderkey == o.o_orderkey)
           .join(c, o.o_custkey == c.c_custkey)
           .groupBy(F.col("c_mktsegment").alias("segment"), F.col("c_custkey"))
           .agg(F.round(F.sum(
               F.col("l_extendedprice").cast("decimal(12,2)")
               * (F.lit(1).cast("decimal(3,2)")
                  - F.col("l_discount").cast("decimal(4,2)")))
               .cast("double"), 2).alias("revenue")))
    w = W.partitionBy("segment").orderBy(F.col("revenue").desc(),
                                         F.col("c_custkey").asc())
    return (rev.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= 3)
            .select("segment", "c_custkey", "revenue", "rnk"))


@query("supplier_rollup", oracle="""
SELECT coalesce(r.r_name, 'ALL') AS region,
       coalesce(n.n_name, 'ALL') AS nation,
       round(CAST(sum(CAST(s.s_acctbal AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_acctbal,
       count(*) AS n_suppliers
FROM supplier s
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP (r.r_name, n.n_name)
""")
def supplier_rollup(spark, sf_dir):
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region")
    joined = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
              .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (joined.rollup("r_name", "n_name")
            .agg(_dsum(F.col("s_acctbal")).alias("total_acctbal"),
                 F.count("*").alias("n_suppliers"))
            .select(F.coalesce("r_name", F.lit("ALL")).alias("region"),
                    F.coalesce("n_name", F.lit("ALL")).alias("nation"),
                    "total_acctbal", "n_suppliers"))


@query("orders_running_window", oracle="""
SELECT o_custkey, o_orderkey,
       round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY
             o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
           AS running_total,
       round(coalesce(lag(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey), 0.0), 2) AS prev_price,
       rank() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS price_rank
FROM orders
""")
def orders_running_window(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    seq = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    byprice = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(),
                                                 F.col("o_orderkey"))
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum("o_totalprice").over(
            seq.rowsBetween(W.unboundedPreceding, 0)), 2).alias("running_total"),
        F.round(F.coalesce(F.lag("o_totalprice").over(seq), F.lit(0.0)), 2)
            .alias("prev_price"),
        F.rank().over(byprice).alias("price_rank"))


@query("events_sessionize", oracle="""
WITH gaps AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - coalesce(lag(ts) OVER w, ts) > INTERVAL '30 minutes'
              THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS session_id
  FROM gaps)
SELECT user_id, session_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS session_value
FROM sess GROUP BY user_id, session_id
""")
def events_sessionize(spark, sf_dir):
    ev = load(spark, sf_dir, "events", spread=True)
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.withColumn(
        "new_session",
        F.when(F.col("ts") > F.coalesce(F.lag("ts").over(w), F.col("ts"))
               + F.expr("INTERVAL 30 MINUTES"), 1).otherwise(0))
    w2 = W.partitionBy("user_id").orderBy("ts") \
        .rowsBetween(W.unboundedPreceding, 0)
    sess = gaps.withColumn("session_id", F.sum("new_session").over(w2))
    return (sess.groupBy("user_id", "session_id")
            .agg(F.count("*").alias("n_events"),
                 _dsum(F.col("value")).alias("session_value")))


@query("order_priority_pivot", oracle="""
SELECT o_orderstatus,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH')   AS high,
       count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS medium,
       count(*) FILTER (WHERE o_orderpriority NOT IN
              ('1-URGENT','2-HIGH','3-MEDIUM'))             AS other
FROM orders GROUP BY o_orderstatus
""")
def order_priority_pivot(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    tagged = o.withColumn(
        "prio_tag",
        F.when(F.col("o_orderpriority") == "1-URGENT", "urgent")
        .when(F.col("o_orderpriority") == "2-HIGH", "high")
        .when(F.col("o_orderpriority") == "3-MEDIUM", "medium")
        .otherwise("other"))
    return (tagged.groupBy("o_orderstatus")
            .pivot("prio_tag", ["urgent", "high", "medium", "other"])
            .count()
            .na.fill(0, ["urgent", "high", "medium", "other"]))


@query("customers_without_orders", oracle="""
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def customers_without_orders(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


@query("big_spenders_semi", oracle="""
SELECT c_custkey, c_acctbal FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
""")
def big_spenders_semi(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return (c.join(o, c.c_custkey == o.o_custkey, "left_semi")
            .select("c_custkey", "c_acctbal"))


@query("lineitem_set_ops", oracle="""
SELECT 'only_h1' AS op, l_orderkey FROM (
  SELECT DISTINCT l_orderkey FROM lineitem
  WHERE l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
  EXCEPT
  SELECT DISTINCT l_orderkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-07-01 00:00:00')
UNION ALL
SELECT 'both' AS op, l_orderkey FROM (
  SELECT DISTINCT l_orderkey FROM lineitem
  WHERE l_shipdate < TIMESTAMP '1995-07-01 00:00:00'
  INTERSECT
  SELECT DISTINCT l_orderkey FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1995-07-01 00:00:00')
""")
def lineitem_set_ops(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    h1 = li.where(F.col("l_shipdate") < "1995-07-01") \
        .select("l_orderkey").distinct()
    h2 = li.where(F.col("l_shipdate") >= "1995-07-01") \
        .select("l_orderkey").distinct()
    only = h1.exceptAll(h1.intersect(h2)).withColumn("op", F.lit("only_h1"))
    both = h1.intersect(h2).withColumn("op", F.lit("both"))
    return only.unionByName(both).select("op", "l_orderkey")


@query("events_json_buckets", oracle="""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
       event_type, count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM events
GROUP BY 1, 2
""")
def events_json_buckets(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    return (ev.withColumn("k_bucket",
                          F.get_json_object("props", "$.k").cast("bigint") % 10)
            .groupBy("k_bucket", "event_type")
            .agg(F.count("*").alias("n"),
                 _dsum(F.col("value")).alias("total_value")))


@query("docs_pack_blocks", oracle="""
WITH d AS (
  SELECT doc_id,
         len(string_split_regex(trim(text), '\\s+')) AS n_tokens,
         CAST(concat('0x', substr(md5(concat(CAST(doc_id AS VARCHAR),
              '#pack-v1')), 1, 15)) AS BIGINT) AS h
  FROM documents
), s AS (
  SELECT doc_id, n_tokens,
         CAST(COALESCE(SUM(n_tokens + 1) OVER (ORDER BY h, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS strt
  FROM d
), e AS (
  SELECT doc_id, n_tokens, strt,
         UNNEST(generate_series(strt // 512, (strt + n_tokens - 1) // 512))
             AS block_id
  FROM s WHERE n_tokens > 0
)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(block_id AS BIGINT) AS block_id,
       CAST(GREATEST(0, block_id * 512 - strt) AS BIGINT)           AS tok_begin,
       CAST(LEAST(n_tokens, (block_id + 1) * 512 - strt) AS BIGINT) AS tok_end,
       CAST(strt + GREATEST(0, block_id * 512 - strt)
            - block_id * 512 AS BIGINT)                             AS block_off
FROM e
""")
def docs_pack_blocks(spark, sf_dir):
    """GPT-style sequence packing's block map (concat-and-chunk over a
    deterministic hash-ordered token stream): one row per (doc, block)
    intersection.  The Spark side runs the scalable dataflow cumsum —
    range partition, per-partition window, #partitions-row offsets
    broadcast (functions/packing.py) — while the oracle replays the
    naive single-partition SUM() OVER (ORDER BY ...) formulation, so
    the driver's gate continuously checks the distributed cumsum against
    the textbook definition.  md5_long is the DuckDB-portable twin of
    the production xxhash64 order (same convention as the dedup
    entries; the xxhash64 path is benched in bench.py)."""
    from kit_spark.functions.packing import pack_sequences
    docs = load(spark, sf_dir, "documents", spread=True)
    return pack_sequences(docs, 512, method="md5_long")


# =====================================================================
# 2. Crawl-engine operators as SQL-checkable slices (D1-D5, D9)
# =====================================================================
#
# The candidate-URL table is derived deterministically from `documents` with
# arithmetic both engines share; messiness (uppercase hosts, default ports,
# dot segments, fragments) is injected by doc_id residue classes so the
# oracle can invert each case symbolically.  Templates are spliced with
# .replace() — SQL uses % as modulo.

_URLS_SQL = """
  SELECT doc_id,
         concat(CASE WHEN doc_id % 3 = 0 THEN 'https://H' ELSE 'https://h' END,
                doc_id % 13, '.Example.com',
                CASE WHEN doc_id % 7 = 0 THEN ':443' ELSE '' END,
                CASE WHEN doc_id % 5 = 0 THEN '/pages/../doc/' ELSE '/doc/' END,
                doc_id,
                CASE WHEN doc_id % 11 = 0 THEN '?q=1#frag' ELSE '' END) AS url,
         CAST(doc_id % 10 AS DOUBLE) / 10.0 AS priority
  FROM documents
"""

_CANON_SQL = """
  SELECT doc_id, priority,
         concat('https://h', doc_id % 13, '.example.com/doc/', doc_id,
                CASE WHEN doc_id % 11 = 0 THEN '?q=1#frag' ELSE '' END)
             AS url_canon,
         concat('https://h', doc_id % 13, '.example.com:443') AS host_key,
         concat('/doc/', doc_id,
                CASE WHEN doc_id % 11 = 0 THEN '?q=1#frag' ELSE '' END)
             AS match_path
  FROM ({URLS}) raw_urls
""".replace("{URLS}", _URLS_SQL)


def _sql(template: str) -> str:
    return template.replace("{CANON}", _CANON_SQL)


def _messy_urls(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", spread=True)
    docs.createOrReplaceTempView("documents")
    return spark.sql(_URLS_SQL)


@query("url_canonicalize", oracle=_sql("""
SELECT doc_id, url_canon, host_key, match_path FROM ({CANON}) c
"""))
def url_canonicalize(spark, sf_dir):
    """D1 through the real vectorized canonicalize UDF; the oracle inverts
    the synthetic messiness symbolically."""
    from kit_spark.functions.canon import with_canon

    return with_canon(_messy_urls(spark, sf_dir), "url") \
        .select("doc_id", "url_canon", "host_key", "match_path")


@query("url_canonicalize_idn", oracle="""
SELECT doc_id,
       concat('https://h', doc_id % 7, '.xn--bcher-kva.de/doc/', doc_id)
           AS url_canon,
       concat('https://h', doc_id % 7, '.xn--bcher-kva.de:443') AS host_key
FROM documents WHERE doc_id % 5 = 0
""")
def url_canonicalize_idn(spark, sf_dir):
    """D1 IDN arm: mixed-case internationalized hosts punycode through the
    vectorized canonicalize UDF exactly as url::Url's domain_to_ascii
    (exclusion/parse/parser.rs:114-120); the oracle carries the expected
    xn-- form symbolically."""
    from kit_spark.functions.canon import with_canon

    docs = load(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://H"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".Bücher.DE/doc/"), F.col("doc_id").cast("string"))
        .alias("url"))
    return with_canon(urls, "url").select("doc_id", "url_canon", "host_key")


@query("url_seen_dedup", oracle=_sql("""
WITH canon AS ({CANON})
SELECT url_canon, round(max(priority), 2) AS priority
FROM canon
WHERE NOT EXISTS (SELECT 1 FROM canon seen
                  WHERE seen.doc_id % 2 = 0
                    AND seen.url_canon = canon.url_canon)
GROUP BY url_canon
"""))
def url_seen_dedup(spark, sf_dir):
    """D2: the engine's admit path (canon UDF + batch max-priority dedup +
    left_anti vs url_seen) against a NOT EXISTS oracle."""
    from kit_spark.functions.canon import with_canon
    from kit_spark.operators.frontier import admit_candidates

    urls = _messy_urls(spark, sf_dir)
    seen = (with_canon(urls.where(F.col("doc_id") % 2 == 0), "url")
            .select("url_canon").where(F.col("url_canon").isNotNull())
            .distinct())
    admitted = admit_candidates(urls, seen)
    return admitted.select("url_canon",
                           F.round("priority", 2).alias("priority"))


@query("host_frontier_stats", oracle=_sql("""
WITH canon AS ({CANON})
SELECT host_key, count(*) AS n_urls,
       round(CAST(sum(CAST(priority AS DECIMAL(8,1))) AS DOUBLE)
             / count(*), 4) AS avg_priority,
       round(max(priority), 2) AS max_priority,
       count(DISTINCT CASE WHEN doc_id % 11 = 0 THEN url_canon END)
           AS n_with_query
FROM canon GROUP BY host_key
"""))
def host_frontier_stats(spark, sf_dir):
    """Frontier metrics rollup per host (the metrics-job shape)."""
    from kit_spark.functions.canon import with_canon

    canon = with_canon(_messy_urls(spark, sf_dir), "url")
    return (canon.groupBy("host_key")
            .agg(F.count("*").alias("n_urls"),
                 F.round(F.sum(F.col("priority").cast("decimal(8,1)"))
                         .cast("double") / F.count(F.lit(1)), 4)
                 .alias("avg_priority"),
                 F.round(F.max("priority"), 2).alias("max_priority"),
                 F.countDistinct(F.when(F.col("url_canon").contains("?"),
                                        F.col("url_canon"))).alias("n_with_query")))


@query("politeness_schedule", oracle=_sql("""
WITH canon AS ({CANON}),
frontier AS (
  SELECT url_canon, host_key, priority,
         CAST(5 * (doc_id % 13 % 4 + 1) AS DOUBLE) AS crawl_delay
  FROM canon),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host_key
                               ORDER BY priority DESC, url_canon) AS host_rank,
         greatest(1, CAST(floor(60.0 / crawl_delay) AS BIGINT)) AS budget
  FROM frontier),
kept AS (SELECT * FROM ranked WHERE host_rank <= budget)
SELECT CAST(row_number() OVER (ORDER BY priority DESC, host_key, url_canon) - 1
            AS BIGINT) AS seq,
       url_canon, host_key, host_rank
FROM kept
"""))
def politeness_schedule(spark, sf_dir):
    """D3+D4+D9: the engine's bounded host window (a Partial
    WindowGroupLimit below the host Exchange) + scalable global
    sequencing vs a plain-window oracle."""
    from kit_spark.functions.canon import with_canon
    from kit_spark.operators.frontier import (politeness_schedule as sched,
                                              sequence_schedule)

    canon = with_canon(_messy_urls(spark, sf_dir), "url")
    frontier = canon.select(
        "url_canon", "host_key", "priority",
        (5.0 * ((F.col("doc_id") % 13) % 4 + 1)).cast("double")
        .alias("crawl_delay"))
    frontier = _persist(frontier)  # the operator scans pending
    # twice (max-budget aggregate + host window) — its contract is a
    # persisted input, exactly as the crawl driver provides (crawl.py);
    # released when the next catalog entry is built
    selected = sched(frontier, round_seconds=60.0, default_delay=10.0)
    return sequence_schedule(selected).select("seq", "url_canon", "host_key",
                                              "host_rank")


_GATE_ROBOTS = (b"User-agent: *\n"
                b"Disallow: /doc/1\n"
                b"Allow: /doc/12\n"
                b"Disallow: /*4$\n"
                b"Crawl-delay: 2\n")


@query("robots_gate", oracle=_sql("""
WITH canon AS ({CANON})
SELECT url_canon, match_path,
       CASE
         WHEN match_path LIKE '/doc/12%' THEN TRUE        -- Allow /doc/12 (len 7)
         WHEN match_path LIKE '/doc/1%' THEN FALSE        -- Disallow /doc/1 (len 6)
         WHEN match_path LIKE '%4' THEN FALSE             -- Disallow /*4$ (len 4)
         ELSE TRUE                                        -- no match -> allow
       END AS allowed
FROM canon
"""))
def robots_gate(spark, sf_dir):
    """D5/P9: the real compile UDF and the crawl's relational gate
    (higher-order array functions, no Python) on a fixed ruleset; the
    oracle hand-encodes the longest-match precedence for that exact
    ruleset.  Rule order after compile-sort: /doc/12 (allow), /doc/1
    (disallow), /*4$ (disallow)."""
    from kit_spark.functions.canon import with_canon
    from kit_spark.functions.robots_udfs import (gate_allowed_relational,
                                                 make_compile_udf)

    # canon feeds the hosts-distinct branch and the gate join's probe
    # side — persist it so the canon UDF runs once (the round-6
    # before-plan showed 4 ArrowEvalPython re-evaluations of this
    # subtree); released when the next entry runs
    canon = _persist(with_canon(_messy_urls(spark, sf_dir), "url"))
    hosts = canon.select("host_key").distinct() \
        .withColumn("access_state", F.lit("successful")) \
        .withColumn("body", F.lit(_GATE_ROBOTS))
    compiled = hosts.withColumn(
        "__r", make_compile_udf("kitbot")(F.col("access_state"),
                                          F.col("body"))) \
        .select("host_key", F.col("__r.always").alias("always"),
                F.col("__r.rules").alias("rules"))
    gated = gate_allowed_relational(canon.join(compiled, "host_key"))
    return gated.select("url_canon", "match_path", "allowed")


@query("sitemap_roundtrip", oracle=_sql("""
WITH canon AS ({CANON})
SELECT url_canon AS loc, round(priority, 1) AS priority
FROM canon WHERE doc_id % 2 = 0
"""))
def sitemap_roundtrip(spark, sf_dir):
    """S5/S10 round-trip: render urlset XML per host JVM-side (concat), parse
    with the real sitemap UDF, explode — must equal the direct derivation."""
    from kit_spark.functions.canon import with_canon
    from kit_spark.functions.sitemap_udfs import parse_sitemap_docs

    # doc_id slice BEFORE the (non-deterministic-marked) canon UDF: the
    # optimizer no longer pushes filters past it, so apply them upstream
    canon = with_canon(_messy_urls(spark, sf_dir)
                       .where(F.col("doc_id") % 2 == 0), "url")
    rec = F.concat(F.lit("<url><loc>"), F.col("url_canon"), F.lit("</loc>"),
                   F.lit("<priority>"),
                   F.format_number(F.round("priority", 1), 1),
                   F.lit("</priority></url>"))
    xml = (canon.groupBy("host_key")
           .agg(F.concat(F.lit('<urlset xmlns="x">'),
                         F.concat_ws("", F.collect_list(rec)),
                         F.lit("</urlset>")).alias("body")))
    parsed = parse_sitemap_docs(xml, "body")
    return (parsed.select(F.explode("entries").alias("e"))
            .select(F.col("e.loc").alias("loc"),
                    F.round(F.col("e.priority"), 1).alias("priority")))


@query("sitemap_index_roundtrip", oracle=_sql("""
WITH canon AS ({CANON})
SELECT concat('https://h', doc_id % 13, '.example.com/sm/', doc_id, '.xml')
           AS loc,
       TIMESTAMP '2024-01-01 00:00:00'
           + to_days(CAST(doc_id % 28 AS INTEGER)) AS lastmod,
       'index' AS kind
FROM canon WHERE doc_id % 3 = 0
"""))
def sitemap_index_roundtrip(spark, sf_dir):
    """S6/S8: render sitemap-index XML per host JVM-side, sniff+parse with
    the real UDF (inclusion/parse/index.rs:75-129 semantics, incl. the
    optional lastmod on Index records — record/index.rs:15-18), explode
    the child records — must equal the direct derivation."""
    from kit_spark.functions.canon import with_canon
    from kit_spark.functions.sitemap_udfs import parse_sitemap_docs

    canon = with_canon(_messy_urls(spark, sf_dir)
                       .where(F.col("doc_id") % 3 == 0), "url")
    child = F.concat(F.lit("https://h"), (F.col("doc_id") % 13).cast("string"),
                     F.lit(".example.com/sm/"), F.col("doc_id").cast("string"),
                     F.lit(".xml"))
    day = F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")
    rec = F.concat(F.lit("<sitemap><loc>"), child, F.lit("</loc>"),
                   F.lit("<lastmod>2024-01-"), day,
                   F.lit("T00:00:00Z</lastmod></sitemap>"))
    xml = (canon.groupBy("host_key")
           .agg(F.concat(F.lit('<sitemapindex xmlns="x">'),
                         F.concat_ws("", F.collect_list(rec)),
                         F.lit("</sitemapindex>")).alias("body")))
    parsed = parse_sitemap_docs(xml, "body")
    return (parsed.select("kind", F.explode("indexes").alias("ix"))
            .select(F.col("ix.loc").alias("loc"),
                    F.col("ix.lastmod").alias("lastmod"), "kind"))


@query("sitemap_txt_roundtrip", oracle=_sql("""
WITH canon AS ({CANON})
SELECT url_canon AS loc, 'txt' AS kind
FROM canon WHERE doc_id % 2 = 1
"""))
def sitemap_txt_roundtrip(spark, sf_dir):
    """S7/S8: render a plain-text sitemap per host (one URL per line, with
    an injected invalid line the parser must skip —
    inclusion/parse/plain.rs:78-81), parse with the real UDF, explode."""
    from kit_spark.functions.canon import with_canon
    from kit_spark.functions.sitemap_udfs import parse_sitemap_docs

    canon = with_canon(_messy_urls(spark, sf_dir)
                       .where(F.col("doc_id") % 2 == 1), "url")
    body = F.concat(F.lit("not_a_url\n"),
                    F.concat_ws("\n", F.collect_list(F.col("url_canon"))))
    xml = canon.groupBy("host_key").agg(body.alias("body"))
    parsed = parse_sitemap_docs(xml, "body")
    return (parsed.select("kind", F.explode("entries").alias("e"))
            .select(F.col("e.loc").alias("loc"), "kind"))


# =====================================================================
# 3. Training-data operators (documents / embeddings)
# =====================================================================

_NORM_SQL = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"


@query("docs_exact_dedup", oracle=f"""
SELECT min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents
GROUP BY {_NORM_SQL}
HAVING count(*) > 1
""")
def docs_exact_dedup(spark, sf_dir):
    return DD.exact_dedup_groups(load(spark, sf_dir, "documents"))


@query("docs_token_stats", oracle=f"""
SELECT doc_id,
       len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
       length(text) AS n_chars_real,
       round(CAST(length(text) AS DOUBLE) /
             greatest(len(regexp_split_to_array(trim(text), '\\s+')), 1), 4)
           AS avg_token_len
FROM documents
""")
def docs_token_stats(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_real"),
        F.round(F.length("text") /
                F.greatest(TX.token_count(F.col("text")), F.lit(1)), 4)
        .alias("avg_token_len"))


_QUALITY_SQL = """
  SELECT doc_id,
         round(least(n_chars / 400.0, 1.0) * 0.4
               + (CASE WHEN CAST(n_chars AS DOUBLE) / greatest(n_tokens, 1)
                            BETWEEN 3 AND 10
                       THEN 1.0 ELSE 0.5 END) * 0.3
               + (CAST(length(regexp_replace(text, '[^A-Za-z ]', '', 'g'))
                       AS DOUBLE) / greatest(n_chars, 1)) * 0.3, 4)
             AS quality
  FROM (SELECT doc_id, text, length(text) AS n_chars,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
        FROM documents) t
"""


_BPE_RE_SQL = TX.BPE_TOKEN_RE.replace("'", "''")


# docs_token_bpe's former catalog oracle, now replayed in pytest
# (tests/test_token_bpe.py): the entry was swapped out of the driver's
# 50-entry gate for docs_clean_corpus_cluster — docs_token_stats already
# exercises token counting there — with identical DuckDB rigor kept.
DOCS_TOKEN_BPE_SQL = f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '{_BPE_RE_SQL}')) AS BIGINT)
           AS n_bpe_tokens,
       CAST(greatest(
           len(regexp_split_to_array(trim(text), '\\s+'))
           + len(string_split_regex(text, '[\\.,;:!\\?]')) - 1,
           ceil(CAST(length(text) AS DOUBLE) / 4)) AS BIGINT)
           AS n_cheap_tokens
FROM documents
"""


def docs_token_bpe(spark, sf_dir):
    """BPE-granularity token counting: the true regex pre-tokenizer count
    (GPT-2-flavoured pattern via one JVM regexp_count) next to the cheap
    words+punct+chars/4 serving heuristic — both pure Catalyst, both
    replayed by the DuckDB oracle in tests/test_token_bpe.py (pytest-level
    since the driver catalog is capped at 50 entries)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        TX.regex_token_count(F.col("text")).alias("n_bpe_tokens"),
        TX.cheap_token_count(F.col("text")).cast("long")
        .alias("n_cheap_tokens"))


@query("docs_quality_score", oracle=f"SELECT doc_id, quality FROM ({_QUALITY_SQL}) q")
def docs_quality_score(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.quality_score(F.col("text")).alias("quality"))


def _lang_expr() -> str:
    """DuckDB expression computing lang_guess over a ``padded`` column."""
    occ = lambda m: (f"CAST((length(padded) - length(replace(padded, '{m}', '')))"
                     f" / {len(m)} AS BIGINT)")
    score = {lang: " + ".join(occ(m) for m in TX.LANG_MARKERS[lang])
             for lang in TX.LANG_MARKERS}
    langs = sorted(score)
    expr = f"'{langs[0]}'"
    best = f"({score[langs[0]]})"
    for lang in langs[1:]:
        s = f"({score[lang]})"
        expr = f"CASE WHEN {s} > {best} THEN '{lang}' ELSE {expr} END"
        best = f"CASE WHEN {s} > {best} THEN {s} ELSE {best} END"
    return expr


_PADDED_SQL = ("concat(' ', regexp_replace(trim(lower(text)), '\\s+', ' ', "
               "'g'), ' ')")


def _lang_oracle() -> str:
    return f"""
WITH p AS (SELECT doc_id, {_PADDED_SQL} AS padded FROM documents)
SELECT doc_id, {_lang_expr()} AS lang_guess FROM p
"""


@query("docs_lang_guess", oracle=_lang_oracle())
def docs_lang_guess(spark, sf_dir):
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", TX.lang_guess(F.col("text")).alias("lang_guess"))


@query("docs_fingerprint", oracle=f"""
SELECT doc_id,
       CAST(concat('0x', substr(md5({_NORM_SQL}), 1, 15)) AS BIGINT)
           AS fingerprint
FROM documents
""")
def docs_fingerprint(spark, sf_dir):
    docs = load(spark, sf_dir, "documents", spread=True)
    return docs.select("doc_id",
                       TX.fingerprint64(F.col("text")).alias("fingerprint"))


_SHINGLE_SQL = f"""
  SELECT doc_id, s FROM (
    SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i
    FROM (SELECT doc_id, string_split_regex({_NORM_SQL}, ' ') AS w
          FROM documents) words
  ) x, LATERAL (SELECT array_to_string(w[i:i+2], ' ') AS s) sh
"""

_MINHASH_K = 8

# 60-bit md5-derived long (functions/dedup.py md5_long) — the oracle twin
# of the production xxhash64 minhash (same operator shape, portable hash)
def _h15(expr: str) -> str:
    return f"CAST(concat('0x', substr(md5({expr}), 1, 15)) AS BIGINT)"


# min over the full hex, 60-bit truncation after the agg (order-equivalent;
# see functions/dedup.py minhash_signatures)
_SIG_SQL = ("SELECT doc_id, "
            + ", ".join(
                "CAST(concat('0x', substr(min(md5(concat(s, '#%d'))), 1, 15))"
                " AS BIGINT) AS h%d" % (i, i)
                for i in range(_MINHASH_K))
            + f" FROM ({_SHINGLE_SQL}) sh GROUP BY doc_id")

_BANDS_SQL = """
  SELECT doc_id, bd, val FROM sig, LATERAL (VALUES
    (0, md5(concat(CAST(h0 AS VARCHAR), '|', CAST(h1 AS VARCHAR)))),
    (1, md5(concat(CAST(h2 AS VARCHAR), '|', CAST(h3 AS VARCHAR)))),
    (2, md5(concat(CAST(h4 AS VARCHAR), '|', CAST(h5 AS VARCHAR)))),
    (3, md5(concat(CAST(h6 AS VARCHAR), '|', CAST(h7 AS VARCHAR))))
  ) AS bv(bd, val)
"""


@query("docs_minhash_signature", oracle=_SIG_SQL)
def docs_minhash_signature(spark, sf_dir):
    """MinHash signatures through the md5_long oracle twin; the production
    path is method='xxhash64' (cheap JVM hash, same plan shape — see
    functions/dedup.py and the docs_minhash_production bench/pytest)."""
    return DD.minhash_signatures(load(spark, sf_dir, "documents", spread=True),
                                 k=_MINHASH_K, n=3, method="md5_long")


@query("docs_lsh_pairs", oracle=f"""
WITH sig AS ({_SIG_SQL}),
bands AS ({_BANDS_SQL})
SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
FROM bands l JOIN bands r ON l.bd = r.bd AND l.val = r.val
WHERE l.doc_id < r.doc_id
""")
def docs_lsh_pairs(spark, sf_dir):
    sig = DD.minhash_signatures(load(spark, sf_dir, "documents", spread=True),
                                k=_MINHASH_K, n=3, method="md5_long")
    return DD.lsh_candidate_pairs(sig, k=_MINHASH_K, rows_per_band=2)


@query("docs_ngram_jaccard", oracle=f"""
WITH sh AS (SELECT DISTINCT doc_id, s FROM ({_SHINGLE_SQL}) raw),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT d1.doc_id AS a, d2.doc_id AS b
  FROM documents d1 JOIN documents d2
    ON d1.source = d2.source AND d1.doc_id < d2.doc_id),
inter AS (
  SELECT p.a, p.b, count(*) AS n_common
  FROM pairs p
  JOIN sh sa ON sa.doc_id = p.a
  JOIN sh sb ON sb.doc_id = p.b AND sb.s = sa.s
  GROUP BY p.a, p.b)
SELECT i.a, i.b,
       round(CAST(i.n_common AS DOUBLE) /
             (za.n_sh + zb.n_sh - i.n_common), 4) AS jaccard,
       round(CAST(i.n_common AS DOUBLE) /
             (za.n_sh + zb.n_sh - i.n_common), 4) >= 0.8 AS is_duplicate
FROM inter i
JOIN sizes za ON za.doc_id = i.a
JOIN sizes zb ON zb.doc_id = i.b
""")
def docs_ngram_jaccard(spark, sf_dir):
    """Exact n-gram Jaccard verification over source-blocked candidate
    pairs, plus the production duplicate verdict at the 0.8 threshold
    (absorbs the former ``docs_near_dup_verdicts`` entry so the whole
    catalog fits the driver's 50-entry gate; the LSH->verify composition
    stays oracled end-to-end via ``docs_clean_corpus``)."""
    docs = load(spark, sf_dir, "documents", spread=True)
    d1, d2 = docs.alias("d1"), docs.alias("d2")
    pairs = (d1.join(d2, (F.col("d1.source") == F.col("d2.source"))
                     & (F.col("d1.doc_id") < F.col("d2.doc_id")))
             .select(F.col("d1.doc_id").alias("a"),
                     F.col("d2.doc_id").alias("b")))
    return (DD.ngram_jaccard_pairs(docs, pairs, n=3)
            .withColumn("is_duplicate", F.col("jaccard") >= 0.8))


def _simhash_oracle() -> str:
    votes = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(60))
    simbits = " + ".join(
        f"CASE WHEN v{b} > 0 THEN CAST({1 << b} AS BIGINT)"
        f" ELSE CAST(0 AS BIGINT) END" for b in range(60))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex({_NORM_SQL}, ' ')) AS tok
  FROM documents),
hashed AS (SELECT doc_id, {_h15('tok')} AS h FROM toks),
votes AS (SELECT doc_id, {votes} FROM hashed GROUP BY doc_id),
sim AS (SELECT doc_id, {simbits} AS simhash FROM votes),
bands AS (
  SELECT doc_id, simhash, bd, (simhash >> (bd * 15)) & 32767 AS val
  FROM sim, (SELECT unnest(generate_series(0, 3)) AS bd) bs),
pairs AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b,
         bit_count(xor(l.simhash, r.simhash)) AS hamming
  FROM bands l JOIN bands r ON l.bd = r.bd AND l.val = r.val
  WHERE l.doc_id < r.doc_id)
SELECT a, b, hamming FROM pairs WHERE hamming <= 3
"""


@query("docs_simhash", oracle=_simhash_oracle())
def docs_simhash(spark, sf_dir):
    """SimHash + banded near-dup pairs through the md5-derived 60-bit
    oracle twin (DuckDB replays the per-token hash, bit votes, 4x15-bit
    banding and the bit_count verify); the production path is the
    xxhash64 64-bit variant with the identical plan shape
    (functions/dedup.py simhash64, pytest-verified)."""
    sim = DD.simhash_md5(load(spark, sf_dir, "documents", spread=True))
    pairs = DD.simhash_near_pairs(sim, max_hamming=3, bits=60, bands=4)
    return pairs.select("a", "b", "hamming")


@query("emb_cosine_topk", oracle="""
WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
           WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(q.qvec, e.embedding) /
               (sqrt(list_dot_product(q.qvec, q.qvec)) *
                sqrt(list_dot_product(e.embedding, e.embedding))), 4) AS cos
  FROM q JOIN embeddings e ON e.vec_id <> q.query_id)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 10
""")
def emb_cosine_topk(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 5)
    return SIM.cosine_topk(emb, queries_df, k=10)


@query("emb_lsh_buckets", oracle="""
WITH planes AS (
  SELECT p, list_transform(generate_series(0, 63), d ->
           CASE WHEN substr(md5(concat(p, ':', d)), 1, 1)
                     SIMILAR TO '[0-7]' THEN 1.0 ELSE -1.0 END) AS vec
  FROM (SELECT unnest(generate_series(0, 7)) AS p)),
bits AS (
  SELECT e.vec_id, pl.p,
         CASE WHEN list_dot_product(list_transform(e.embedding,
                   x -> CAST(x AS DOUBLE)), pl.vec) >= 0
              THEN CAST(power(2, pl.p) AS BIGINT) ELSE 0 END AS bit
  FROM embeddings e CROSS JOIN planes pl)
SELECT vec_id, CAST(sum(bit) AS BIGINT) AS bucket
FROM bits GROUP BY vec_id
""")
def emb_lsh_buckets(spark, sf_dir):
    return SIM.lsh_buckets(load(spark, sf_dir, "embeddings"),
                           planes=8, dims=64)


@query("emb_ann_topk", oracle="""
WITH params AS (
  SELECT greatest(2, least(26, length(bin(count(*))) - 7)) AS np
  FROM embeddings),
planes AS (
  SELECT p, list_transform(generate_series(0, 63), d ->
           CASE WHEN substr(md5(concat(p, ':', d)), 1, 1)
                     SIMILAR TO '[0-7]' THEN 1.0 ELSE -1.0 END) AS pv
  FROM (SELECT unnest(generate_series(0, (SELECT np FROM params) - 1))
            AS p)),
buckets AS (
  SELECT e.vec_id,
         CAST(sum(CASE WHEN list_dot_product(list_transform(e.embedding,
                           x -> CAST(x AS DOUBLE)), pl.pv) >= 0
                       THEN CAST(1 AS BIGINT) << pl.p
                       ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS bucket
  FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
q AS (SELECT vec_id AS query_id, bucket FROM buckets WHERE vec_id < 5),
probes AS (
  SELECT query_id, bucket FROM q
  UNION ALL
  SELECT query_id, xor(bucket, CAST(1 AS BIGINT) << i) AS bucket
  FROM q, (SELECT unnest(generate_series(0, (SELECT np FROM params) - 1))
               AS i) bits),
cand AS (
  SELECT DISTINCT p.query_id, b.vec_id AS neighbor_id
  FROM probes p JOIN buckets b ON b.bucket = p.bucket
  WHERE b.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(list_transform(eq.embedding,
                   x -> CAST(x AS DOUBLE)),
               list_transform(en.embedding, x -> CAST(x AS DOUBLE))) /
               (sqrt(list_dot_product(list_transform(eq.embedding,
                     x -> CAST(x AS DOUBLE)),
                 list_transform(eq.embedding, x -> CAST(x AS DOUBLE)))) *
                sqrt(list_dot_product(list_transform(en.embedding,
                     x -> CAST(x AS DOUBLE)),
                 list_transform(en.embedding, x -> CAST(x AS DOUBLE))))), 4)
             AS cos
  FROM cand c
  JOIN embeddings eq ON eq.vec_id = c.query_id
  JOIN embeddings en ON en.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 10
""")
def emb_ann_topk(spark, sf_dir):
    """ANN top-k (the similarity-search scale path): hyperplane-LSH bucket
    sharding + Hamming-1 multiprobe + exact in-bucket cosine ranking; the
    oracle replays buckets, probes, candidates and ranking in DuckDB.
    ``planes`` is derived from a cheap corpus count (adaptive_planes —
    integer-exact, so the oracle derives the identical value in SQL);
    the exact brute-force baseline is emb_cosine_topk."""
    emb = load(spark, sf_dir, "embeddings")
    planes = SIM.adaptive_planes(emb.count())
    return SIM.ann_topk(emb, emb.where(F.col("vec_id") < 5), k=10,
                        planes=planes)


@query("emb_ivf_topk", oracle="""
WITH params AS (
  SELECT greatest(4, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) AS INT))
             AS n_cells
  FROM embeddings),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
cent AS (
  SELECT vec_id AS cell_id, v AS cv FROM emb
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
  LIMIT (SELECT n_cells FROM params)),
assign AS (
  SELECT vec_id, cell_id FROM (
    SELECT e.vec_id, c.cell_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             round(list_dot_product(e.v, c.cv) /
                   (sqrt(list_dot_product(e.v, e.v)) *
                    sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
             c.cell_id) AS rn
    FROM emb e CROSS JOIN cent c) t
  WHERE rn = 1),
qprobe AS (
  SELECT query_id, cell_id FROM (
    SELECT q.vec_id AS query_id, c.cell_id,
           row_number() OVER (PARTITION BY q.vec_id ORDER BY
             round(list_dot_product(q.v, c.cv) /
                   (sqrt(list_dot_product(q.v, q.v)) *
                    sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
             c.cell_id) AS rn
    FROM emb q CROSS JOIN cent c WHERE q.vec_id < 5) t
  WHERE rn <= 8),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id
  FROM qprobe p JOIN assign a USING (cell_id)
  WHERE a.vec_id <> p.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         round(list_dot_product(eq.v, en.v) /
               (sqrt(list_dot_product(eq.v, eq.v)) *
                sqrt(list_dot_product(en.v, en.v))), 4) AS cos
  FROM cand c JOIN emb eq ON eq.vec_id = c.query_id
  JOIN emb en ON en.vec_id = c.neighbor_id)
SELECT query_id, neighbor_id, rank, cos FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos DESC, neighbor_id) AS rank
  FROM scored) t
WHERE rank <= 10
""")
def emb_ivf_topk(spark, sf_dir):
    """IVF approximate nearest neighbors — coarse-quantizer sharding (the
    FAISS IVF-flat architecture as pure dataflow) beside the hyperplane-LSH
    scale path (emb_ann_topk) and the brute-force baseline
    (emb_cosine_topk).  Deterministic md5-seeded centroids let the DuckDB
    oracle replay index build, inverted-list assignment, nprobe cell
    selection and exact in-cell ranking end to end.  ``n_cells`` follows
    the standard sqrt(corpus) sizing from a cheap count (adaptive_ncells
    — integer-exact, derived identically inside the oracle SQL)."""
    emb = load(spark, sf_dir, "embeddings")
    n_cells = SIM.adaptive_ncells(emb.count())
    return SIM.ivf_topk(emb, emb.where(F.col("vec_id") < 5),
                        k=10, n_cells=n_cells, nprobe=8)


@query("emb_near_dup_pairs", oracle="""
WITH corpus AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x AS DOUBLE) * 1.001 + 0.001)
  FROM embeddings WHERE vec_id < 50),
planes AS (
  SELECT p, list_transform(generate_series(0, 63), d ->
           CASE WHEN substr(md5(concat(p, ':', d)), 1, 1)
                     SIMILAR TO '[0-7]' THEN 1.0 ELSE -1.0 END) AS pv
  FROM (SELECT unnest(generate_series(0, 7)) AS p)),
bits AS (
  SELECT c.vec_id, pl.p // 4 AS bd,
         CASE WHEN list_dot_product(c.v, pl.pv) >= 0
              THEN CAST(1 AS BIGINT) << (pl.p % 4)
              ELSE CAST(0 AS BIGINT) END AS bitval
  FROM corpus c CROSS JOIN planes pl),
bands AS (
  SELECT vec_id, bd, CAST(sum(bitval) AS BIGINT) AS val
  FROM bits GROUP BY vec_id, bd),
cand AS (
  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
  FROM bands l JOIN bands r ON l.bd = r.bd AND l.val = r.val
  WHERE l.vec_id < r.vec_id),
scored AS (
  SELECT c.a, c.b,
         round(list_dot_product(ca.v, cb.v) /
               (sqrt(list_dot_product(ca.v, ca.v)) *
                sqrt(list_dot_product(cb.v, cb.v))), 4) AS cos
  FROM cand c
  JOIN corpus ca ON ca.vec_id = c.a
  JOIN corpus cb ON cb.vec_id = c.b)
SELECT a, b, cos FROM scored WHERE cos >= 0.99
""")
def emb_near_dup_pairs(spark, sf_dir):
    """Embedding-cosine near-dup detection via banded LSH buckets +
    in-bucket verify; the DuckDB oracle replays the whole construction
    (md5 hyperplanes, 2x4-bit bands, bucket self-join, cosine verify).
    Random embeddings have no true near-dups, so recall is demonstrated on
    planted ones: every vec_id < 50 gets a deterministically perturbed twin
    (id + 1_000_000, cos ~= 1), and each must be recovered."""
    emb = load(spark, sf_dir, "embeddings")
    planted = (emb.where(F.col("vec_id") < 50)
               .select((F.col("vec_id") + 1_000_000).alias("vec_id"),
                       F.transform("embedding",
                                   lambda x: x * 1.001 + F.lit(0.001))
                       .alias("embedding")))
    corpus = emb.select("vec_id", "embedding").unionByName(planted)
    pairs = SIM.embedding_near_dup_pairs(corpus, threshold=0.99)
    return pairs.select("a", "b", "cos")


@query("docs_clean_corpus", oracle=f"""
WITH sig AS ({_SIG_SQL}),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.bd = r.bd AND l.val = r.val
  WHERE l.doc_id < r.doc_id),
sh AS (SELECT DISTINCT doc_id, s FROM ({_SHINGLE_SQL}) raw),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
  GROUP BY c.a, c.b),
losers AS (
  SELECT DISTINCT i.b AS doc_id
  FROM inter i
  JOIN sizes za ON za.doc_id = i.a
  JOIN sizes zb ON zb.doc_id = i.b
  WHERE round(CAST(i.n_common AS DOUBLE) /
              (za.n_sh + zb.n_sh - i.n_common), 4) >= 0.8),
p AS (SELECT doc_id, {_PADDED_SQL} AS padded FROM documents),
lang AS (SELECT doc_id, {_lang_expr()} AS lang FROM p),
q AS ({_QUALITY_SQL})
SELECT d.doc_id, l.lang, q.quality
FROM documents d
JOIN lang l ON l.doc_id = d.doc_id
JOIN q ON q.doc_id = d.doc_id
WHERE l.lang = 'en' AND q.quality >= 0.8
  AND d.doc_id NOT IN (SELECT doc_id FROM losers)
""")
def docs_clean_corpus(spark, sf_dir):
    """The composed training-data cleaning pipeline — the actual 100 TB
    use case the pieces exist for: language-ID filter + quality-score
    filter + near-duplicate removal (minhash -> LSH -> exact Jaccard,
    losers = the higher doc_id of each >=0.8 pair) in one dataflow,
    oracle-checked end to end."""
    # round-6 A/B (4 variants, interleaved in one session): the round-start
    # form wins here — a docs pin, the candidate-restricted verify and a
    # pairs pin each ADD time at this entry's one-pass-per-consumer shape
    # (2.76 s baseline vs 3.3/3.6/4.4 s with the additions).  The
    # restricted verify is load-bearing where it matters — the
    # incremental call sites, where texts = batch ∪ corpus (locked in
    # tests/test_incremental_dedup.py)
    docs = load(spark, sf_dir, "documents", spread=True)
    sig = DD.minhash_signatures(docs, k=_MINHASH_K, n=3, method="md5_long")
    pairs = DD.lsh_candidate_pairs(sig, k=_MINHASH_K, rows_per_band=2)
    verified = DD.ngram_jaccard_pairs(docs, pairs, n=3)
    losers = (verified.where(F.col("jaccard") >= 0.8)
              .select(F.col("b").alias("doc_id")).distinct())
    scored = docs.select(
        "doc_id",
        TX.lang_guess(F.col("text")).alias("lang"),
        TX.quality_score(F.col("text")).alias("quality"))
    return (scored.where((F.col("lang") == "en") & (F.col("quality") >= 0.8))
            .join(losers, "doc_id", "left_anti")
            .select("doc_id", "lang", "quality"))


# The cluster pipeline splits documents into a corpus (doc_id >= 20) and
# a held-out "benchmark" set (doc_id < 20) so the decontamination stage
# has an eval set to guard — every corpus-scoped CTE below uses this view.
_CORPUS_WHERE = 20


def _corpus_sql(tpl: str) -> str:
    return tpl.replace("FROM documents", "FROM corpus")


@query("docs_clean_corpus_cluster", oracle=f"""
WITH RECURSIVE corpus AS (
  SELECT * FROM documents WHERE doc_id >= {_CORPUS_WHERE}),
sig AS ({_corpus_sql(_SIG_SQL)}),
bands AS ({_BANDS_SQL}),
cand AS (
  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
  FROM bands l JOIN bands r ON l.bd = r.bd AND l.val = r.val
  WHERE l.doc_id < r.doc_id),
sh AS (SELECT DISTINCT doc_id, s FROM ({_corpus_sql(_SHINGLE_SQL)}) raw),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.a, c.b, count(*) AS n_common
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.a
  JOIN sh sb ON sb.doc_id = c.b AND sb.s = sa.s
  GROUP BY c.a, c.b),
dup AS (
  SELECT i.a, i.b
  FROM inter i
  JOIN sizes za ON za.doc_id = i.a
  JOIN sizes zb ON zb.doc_id = i.b
  WHERE round(CAST(i.n_common AS DOUBLE) /
              (za.n_sh + zb.n_sh - i.n_common), 4) >= 0.8),
sym AS (SELECT a AS u, b AS v FROM dup
        UNION SELECT b AS u, a AS v FROM dup),
reach AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON s.u = r.v),
comp AS (SELECT u AS doc_id, least(u, min(v)) AS component
         FROM reach GROUP BY u),
cluster_losers AS (SELECT doc_id FROM comp WHERE doc_id <> component),
norm AS (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS w
         FROM documents),
grams AS (
  SELECT doc_id, array_to_string(w[p:p+4], ' ') AS gram
  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 4)) AS p
        FROM norm WHERE len(w) >= 5) g),
bench_grams AS (SELECT DISTINCT gram FROM grams
                WHERE doc_id < {_CORPUS_WHERE}),
contaminated AS (
  SELECT DISTINCT g.doc_id FROM grams g
  JOIN bench_grams b USING (gram)
  WHERE g.doc_id >= {_CORPUS_WHERE}),
p AS (SELECT doc_id, {_PADDED_SQL} AS padded FROM corpus),
lang AS (SELECT doc_id, {{LANG}} AS lang FROM p),
q AS ({_corpus_sql(_QUALITY_SQL)})
SELECT d.doc_id, l.lang, q.quality
FROM corpus d
JOIN lang l ON l.doc_id = d.doc_id
JOIN q ON q.doc_id = d.doc_id
WHERE l.lang = 'en' AND q.quality >= 0.8
  AND d.doc_id NOT IN (SELECT doc_id FROM cluster_losers)
  AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)
""".replace("{LANG}", _lang_expr()))
def docs_clean_corpus_cluster(spark, sf_dir):
    """The cluster-policy + decontamination curation pipeline — the
    transitive twin of ``docs_clean_corpus``, composed from the round-3
    scale operators and oracle-checked end to end:

    * near-dup graph: minhash -> LSH buckets -> exact-Jaccard verify
      (``plan_near_dup``, as in the curation job and stream; >=0.8 edges),
    * **cluster dedup**: connected components over the pair graph
      (alternating large-star/small-star, functions/components.py) keep
      exactly one representative (min doc_id) per component — chains
      a~b~c collapse even when a!~c, which the pairwise loser rule
      cannot do,
    * **benchmark decontamination**: any corpus doc sharing a word
      5-gram with the held-out set (doc_id < 20, the eval-set stand-in)
      is dropped via the hashed-gram left_semi (functions/decontam.py —
      the shuffle carries xxhash64 longs, not gram text),
    * language-ID + quality-score filters, as in docs_clean_corpus.

    The DuckDB oracle replays every stage, including the transitive
    closure (recursive CTE — fine at oracle scale; the Spark side runs
    the O(log^2 n)-round star contraction that survives 10^10 edges)."""
    from kit_spark.functions.decontam import contaminated_doc_ids

    # one cache for the corpus/bench split's many consumers (verify,
    # component iterations, decontam gram build, scored gates all
    # re-derive from it): round-6 5-variant A/B made THIS the whole win
    # (9.3 -> 4.9 s; candidate-restricting the verify or pinning pairs
    # added time on top at this scale — the restricted verify lives in
    # the incremental path, where it is the O(batch) contract).
    # The pin plays the role a frontier-table read plays in the crawl
    # driver: at cluster scale these consumers re-read a pruned table
    docs = _persist(load(spark, sf_dir, "documents", spread=True))
    corpus = docs.where(F.col("doc_id") >= _CORPUS_WHERE)
    bench = docs.where(F.col("doc_id") < _CORPUS_WHERE).select("text")
    losers = DD.plan_near_dup(corpus, k=_MINHASH_K, n=3,
                              method="md5_long").losers
    contaminated = contaminated_doc_ids(corpus, bench, n=5)
    scored = corpus.select(
        "doc_id",
        TX.lang_guess(F.col("text")).alias("lang"),
        TX.quality_score(F.col("text")).alias("quality"))
    return (scored.where((F.col("lang") == "en") & (F.col("quality") >= 0.8))
            .join(losers, "doc_id", "left_anti")
            .join(contaminated, "doc_id", "left_anti")
            .select("doc_id", "lang", "quality"))


# =====================================================================
# 4. Streaming + multimodal
# =====================================================================

@query("events_hourly_stream", oracle="""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM events GROUP BY 1, 2
""")
def events_hourly_stream(spark, sf_dir):
    """Structured Streaming windowed aggregation driven to completion via
    the memory sink.  The file source streams the testdata directory
    filtered to the events file: pointed at the single file itself it
    fails (``basePath`` must be a directory)."""
    import uuid

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = load(spark, sf_dir, "events")
    # a uuid (not hash(sf_dir): per-process randomized, reruns within
    # one session could collide with a stale memory-sink view)
    name = f"events_stream_{uuid.uuid4().hex[:12]}"
    stream = (spark.readStream.schema(ev.schema)
              .option("pathGlobFilter", "events.parquet").parquet(sf_dir))
    q = (stream.groupBy(F.window("ts", "1 hour"), "event_type")
         .agg(F.count("*").alias("n"),
              _dsum(F.col("value")).alias("total_value"))
         .writeStream.outputMode("complete")
         .format("memory").queryName(name).start())
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {name}").select(  # noqa: S608
        F.col("window.start").alias("window_start"),
        "event_type", "n", "total_value")


@query("img_decode_stats")
def img_decode_stats(spark, sf_dir):
    """Multimodal binary-column pipeline (rows-only): distributed synthesis
    of the image+caption table, decode + per-row invariant verification,
    aggregated per format.  DuckDB cannot replay the codec."""
    from kit_spark.functions.images import synth_images_df, verify_images

    images = synth_images_df(spark, 200)
    verified = verify_images(images)
    return (verified.groupBy("fmt")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("fetch_ok").cast("long")).alias("n_ok"),
                 F.sum(F.col("caption_ok").cast("long")).alias("n_caption_ok"),
                 F.round(F.avg("psnr_db"), 1).alias("avg_psnr")))


@query("frontier_round", oracle=_sql("""
WITH canon AS ({CANON}),
seen AS (SELECT DISTINCT url_canon FROM canon WHERE doc_id % 17 = 0),
admitted AS (
  SELECT url_canon, host_key, match_path, max(priority) AS priority
  FROM canon
  WHERE url_canon NOT IN (SELECT url_canon FROM seen)
  GROUP BY url_canon, host_key, match_path),
allowed AS (
  SELECT * FROM admitted
  WHERE CASE
          WHEN match_path LIKE '/doc/12%' THEN TRUE   -- Allow /doc/12
          WHEN match_path LIKE '/doc/1%' THEN FALSE   -- Disallow /doc/1
          WHEN match_path LIKE '%4' THEN FALSE        -- Disallow /*4$
          ELSE TRUE                                   -- no match -> allow
        END),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY host_key
                               ORDER BY priority DESC, url_canon) AS host_rank
  FROM allowed),
kept AS (SELECT * FROM ranked WHERE host_rank <= 30)  -- floor(60s / 2s delay)
SELECT CAST(row_number() OVER (ORDER BY priority DESC, host_key, url_canon)
            - 1 AS BIGINT) AS seq,
       url_canon, host_key, priority
FROM kept
"""))
def frontier_round(spark, sf_dir):
    """Flagship: one complete frontier round — canonicalize, URL-seen
    dedup, robots gate, politeness + deterministic sequence — over a
    synthetic web derived from the documents table.  The oracle composes
    the same CTE chain symbolically (canon -> anti-join -> hand-encoded
    gate for the fixed ruleset -> budget top-k -> global sequence); full
    multi-round parity vs the oracle crawler is pytest's
    tests/test_crawl_e2e.py.  The round is the crawl's own composition
    (crawl.plan_round), fed one robots.txt shared by all 13 hosts."""
    from kit_spark.crawl import plan_round
    from kit_spark.functions.canon import with_canon

    urls = _messy_urls(spark, sf_dir)
    # (A one-canon-pass variant — cache the canon output, derive seen and
    # admission from it — was A/B'd this round and reverted: locally a
    # wash, and at scale it trades the tiny %17-slice UDF pass for
    # caching the full canon output of every candidate.)
    seen = (with_canon(urls.where(F.col("doc_id") % 17 == 0), "url")
            .select("url_canon").distinct())
    robots_docs = spark.createDataFrame(
        [(f"https://h{i}.example.com:443", "successful", _GATE_ROBOTS)
         for i in range(13)],
        "host_key string, access_state string, body binary")
    # plan_round pins its round on the entry lifecycle: released when the
    # next catalog entry is built
    plan = plan_round(urls, seen, robots_docs, round_seconds=60.0,
                      default_delay=10.0)
    return plan.schedule.select("seq", "url_canon", "host_key", "priority")


@query("sitemap_recrawl_due", oracle="""
WITH sm AS (
  SELECT doc_id,
         concat('https://h', doc_id % 13, '.example.com/doc/', doc_id) AS loc,
         TIMESTAMP '2024-01-01 00:00:00'
             + to_days(CAST(doc_id % 40 AS INTEGER)) AS lastmod,
         CASE doc_id % 7 WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
              WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly' WHEN 4 THEN 'monthly'
              WHEN 5 THEN 'yearly' ELSE 'never' END AS changefreq
  FROM documents)
SELECT loc, changefreq,
       CASE changefreq
         WHEN 'always' THEN TRUE
         WHEN 'never' THEN FALSE
         WHEN 'hourly' THEN lastmod + INTERVAL 1 HOUR
                            <= TIMESTAMP '2024-02-01 00:00:00'
         WHEN 'daily' THEN lastmod + INTERVAL 1 DAY
                           <= TIMESTAMP '2024-02-01 00:00:00'
         WHEN 'weekly' THEN lastmod + INTERVAL 7 DAY
                            <= TIMESTAMP '2024-02-01 00:00:00'
         WHEN 'monthly' THEN lastmod + INTERVAL 30 DAY
                             <= TIMESTAMP '2024-02-01 00:00:00'
         ELSE lastmod + INTERVAL 365 DAY <= TIMESTAMP '2024-02-01 00:00:00'
       END AS due
FROM sm
""")
def sitemap_recrawl_due(spark, sf_dir):
    """F7: changefreq recrawl-due interval arithmetic
    (inclusion/record/frequency.rs:69-100) as the scheduling predicate, over
    a documents-derived sitemap-entry table; fixed 'now' for determinism."""
    docs = load(spark, sf_dir, "documents")
    freq = (F.element_at(
        F.array(*[F.lit(x) for x in ("always", "hourly", "daily", "weekly",
                                     "monthly", "yearly", "never")]),
        (F.col("doc_id") % 7 + 1).cast("int")))
    sm = docs.select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 13).cast("string"),
                 F.lit(".example.com/doc/"), F.col("doc_id").cast("string"))
        .alias("loc"),
        (F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
         + F.make_dt_interval(days=(F.col("doc_id") % 40).cast("int")))
        .alias("lastmod"),
        freq.alias("changefreq"))
    now = F.lit("2024-02-01 00:00:00").cast("timestamp_ntz")
    delta = {"hourly": F.expr("INTERVAL 1 HOUR"),
             "daily": F.expr("INTERVAL 1 DAY"),
             "weekly": F.expr("INTERVAL 7 DAY"),
             "monthly": F.expr("INTERVAL 30 DAY"),
             "yearly": F.expr("INTERVAL 365 DAY")}
    due = F.when(F.col("changefreq") == "always", F.lit(True)) \
        .when(F.col("changefreq") == "never", F.lit(False))
    for name, d in delta.items():
        due = due.when(F.col("changefreq") == name,
                       F.col("lastmod") + d <= now)
    return sm.select("loc", "changefreq", due.alias("due"))


@query("img_pipeline")
def img_pipeline(spark, sf_dir):
    """Multimodal pipeline (rows-only): synthesize -> resize -> re-verify
    decodability -> feature extraction, aggregated per format."""
    from kit_spark.functions.images import (extract_features, resize_images,
                                            synth_images_df)

    # synth feeds the resize chain AND the fmt join: persist, or the
    # mapInPandas synthesis runs once per consumer (entry lifecycle)
    images = _persist(synth_images_df(spark, 150))
    resized = resize_images(images, target=24)
    feats = extract_features(resized)
    joined = images.select("image_id", "fmt").join(feats, "image_id")
    return (joined.groupBy("fmt")
            .agg(F.count("*").alias("n"),
                 F.round(F.avg("brightness"), 3).alias("avg_brightness"),
                 F.countDistinct("phash").alias("distinct_phash")))


@query("audio_pipeline")
def audio_pipeline(spark, sf_dir):
    """Multimodal audio pipeline (rows-only like the image entries —
    DuckDB cannot parse WAV): distributed synthesis of an audio+caption
    table (real RIFF/WAVE PCM16, stdlib codec) -> per-row lossless
    sample-equality + caption verification -> numpy feature extraction
    (duration / RMS / zero crossings / FFT dominant frequency),
    aggregated into quality buckets."""
    from kit_spark.functions.audio import (extract_audio_features,
                                           synth_audio_df, verify_audio)

    # synth feeds verify AND feature extraction: one pass, two readers
    clips = _persist(synth_audio_df(spark, 200))
    verified = verify_audio(clips)
    feats = extract_audio_features(clips)
    joined = verified.select("audio_id", "fetch_ok", "caption_ok") \
        .join(feats, "audio_id")
    return (joined
            .withColumn("freq_band",
                        (F.col("dom_freq_hz") / 500).cast("int") * 500)
            .groupBy("freq_band")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("fetch_ok").cast("long")).alias("n_ok"),
                 F.sum(F.col("caption_ok").cast("long")).alias("n_caption_ok"),
                 F.round(F.avg("duration_s"), 3).alias("avg_duration"),
                 F.round(F.avg("rms"), 4).alias("avg_rms")))


@query("images_clean_corpus")
def images_clean_corpus(spark, sf_dir):
    """The multimodal counterpart of docs_clean_corpus over the north-rule
    image+caption table (rows-only: needs the codecs): per-row fetch
    invariant (decode + PSNR/exactness + caption equality) drops broken
    rows, a caption quality gate (the text heuristic applied to the
    caption column) drops junk captions, and image near-dedup by banded
    phash drops the higher id of each near-pair — the curation pipeline a
    10^10-row crawl feeds into training."""
    from kit_spark.functions.images import (image_near_dup_pairs,
                                            synth_images_df, verify_images)

    images = synth_images_df(spark, 200)
    # ok carries the decode-verify result and feeds BOTH the near-dup
    # pair build and the final anti-join: persist so every image decodes
    # once per run, not once per consumer (entry lifecycle)
    ok = _persist(verify_images(images)
                  .where(F.col("fetch_ok") & F.col("caption_ok"))
                  .withColumn("cap_quality", TX.quality_score(F.col("caption")))
                  .where(F.col("cap_quality") >= 0.5))
    losers = (image_near_dup_pairs(ok.select("image_id", "phash"),
                                   max_hamming=3)
              .select(F.col("b").alias("image_id")).distinct())
    return (ok.join(losers, "image_id", "left_anti")
            .groupBy("fmt")
            .agg(F.count("*").alias("n_kept"),
                 F.round(F.avg("cap_quality"), 3).alias("avg_cap_quality"))
            .orderBy("fmt"))


@query("img_near_dup")
def img_near_dup(spark, sf_dir):
    """Image near-dedup by perceptual hash (rows-only: phash needs the
    codec): the image table unioned with planted twins whose phash is
    recomputed from the DECODED lossy payload (a real JPEG decode, so the
    twin's hash drifts by the codec's true distortion), banded through the
    same pigeonhole operator as SimHash and verified with bit_count.
    Aggregated by Hamming distance; the pytest twin-recall test asserts
    every lossy image pairs with its decoded twin."""
    from kit_spark.functions.images import (extract_features,
                                            image_near_dup_pairs,
                                            synth_images_df)

    # synth feeds base AND the jpeg-twin branch: one synthesis pass
    images = _persist(synth_images_df(spark, 150))
    base = images.select("image_id", "phash")
    twins = (extract_features(images.where(F.col("fmt") == "jpeg"))
             .select(F.concat(F.col("image_id"), F.lit("~dup"))
                     .alias("image_id"), "phash"))
    pairs = image_near_dup_pairs(base.unionByName(twins), max_hamming=3)
    return (pairs.groupBy("hamming")
            .agg(F.count("*").alias("n_pairs"))
            .orderBy("hamming"))


@query("video_frame_pipeline")
def video_frame_pipeline(spark, sf_dir):
    """Multimodal video pipeline (rows-only like the other codec entries —
    DuckDB cannot parse GIF): distributed synthesis of a video+caption
    table carrying REAL animated-GIF payloads (kit_py/gif.py, spec LZW) ->
    frame sampling every 2nd frame (decode + PNG re-encode) -> per-frame
    exact pixel verification against the deterministic reference ->
    aggregate by sampled frame index."""
    from kit_spark.functions.images import (sample_video_frames,
                                            synth_videos_df,
                                            verify_video_frames)

    # synth feeds frame sampling AND the per-frame verify join: one
    # GIF-encode pass (entry lifecycle)
    videos = _persist(synth_videos_df(spark, 80))
    frames = sample_video_frames(videos, every_n=2)
    verified = verify_video_frames(frames, videos)
    return (verified.groupBy("frame_no")
            .agg(F.count("*").alias("n_frames"),
                 F.sum(F.col("frame_ok").cast("long")).alias("n_ok"),
                 F.countDistinct("video_id").alias("n_videos"))
            .orderBy("frame_no"))


@query("events_cube", oracle="""
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 5
                     AS VARCHAR), 'ALL') AS k_bucket,
       count(*) AS n,
       round(CAST(sum(CAST(value AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_value
FROM events
GROUP BY CUBE (event_type,
               CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 5
                    AS VARCHAR))
""")
def events_cube(spark, sf_dir):
    ev = load(spark, sf_dir, "events").withColumn(
        "k_bucket",
        (F.get_json_object("props", "$.k").cast("bigint") % 5).cast("string"))
    return (ev.cube("event_type", "k_bucket")
            .agg(F.count("*").alias("n"),
                 _dsum(F.col("value")).alias("total_value"))
            .select(F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
                    F.coalesce("k_bucket", F.lit("ALL")).alias("k_bucket"),
                    "n", "total_value"))


@query("frontier_approx_stats", oracle=_sql("""
SELECT count(DISTINCT host_key) AS exact_hosts,
       count(DISTINCT url_canon) AS exact_urls,
       round(quantile_cont(priority, 0.5), 6) AS p50,
       round(quantile_cont(priority, 0.9), 6) AS p90,
       round(quantile_cont(priority, 0.99), 6) AS p99,
       count(*) AS exact_rows
FROM ({CANON}) c
"""))
def frontier_approx_stats(spark, sf_dir):
    """The frontier metrics-job aggregate, oracled via EXACT twins:
    count_distinct and exact interpolated percentile (DuckDB
    quantile_cont on the other side) over the canonicalized frontier.
    The production 10^10-row job substitutes approx_count_distinct /
    percentile_approx for the same columns — those approximate forms are
    pinned against these exact twins within their documented error
    bounds in tests/test_spark_functions.py (no cross-engine sketch is
    comparable value-for-value, so the catalog checks the exact twin)."""
    from kit_spark.functions.canon import with_canon

    canon = with_canon(_messy_urls(spark, sf_dir), "url")
    # scalar percentile columns, not one array column: the driver's row
    # canonicalization sorts result rows and cannot factorize list values
    return canon.agg(
        F.count_distinct("host_key").alias("exact_hosts"),
        F.count_distinct("url_canon").alias("exact_urls"),
        F.round(F.expr("percentile(priority, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(priority, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(priority, 0.99)"), 6).alias("p99"),
        F.count("*").alias("exact_rows"))


@query("events_asof_purchase", oracle="""
SELECT event_id, user_id, event_type,
       round(coalesce(last_value(CASE WHEN event_type = 'purchase'
                                      THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -1.0),
             2) AS last_purchase_value
FROM events
""")
def events_asof_purchase(spark, sf_dir):
    """As-of join pattern (the guide's merge_asof shape): every event
    carries the most recent purchase value at-or-before it, per user —
    expressed as a last_value(ignorenulls) running window instead of an
    actual asof join, which Spark lacks natively."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(W.unboundedPreceding, 0)
    last_purchase = F.last(
        F.when(F.col("event_type") == "purchase", F.col("value")),
        ignorenulls=True).over(w)
    return ev.select(
        "event_id", "user_id", "event_type",
        F.round(F.coalesce(last_purchase, F.lit(-1.0)), 2)
        .alias("last_purchase_value"))


# ``docs_near_dup_verdicts`` (minhash -> LSH -> Jaccard -> 0.8 verdict) was
# retired as a separate catalog entry in round 3: the driver's correctness
# gate checks at most 50 entries and this 51st one fell outside it.  Its
# verdict column now lives on ``docs_ngram_jaccard`` and its LSH->verify
# stage composition remains oracle-checked end-to-end by
# ``docs_clean_corpus``.
