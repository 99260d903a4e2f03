"""Frontier dataflow operators: admission/dedup (D2), priority (D3),
politeness (D4), deterministic sequencing (D9).

Scale notes (the design point is a 10^10-row frontier on a 1000-executor
cluster; sandbox tests only shrink the data, not the plan shape):

* Admission dedups with ``groupBy(url_canon).max(priority)`` (map-side
  partial agg) followed by a **left_anti** join against ``url_seen`` —
  both shuffle on ``url_canon``, and url_seen is written bucketed by
  ``xxhash64(url_canon)`` so the anti-join co-locates (see
  sources/tables.py).  A Bloom prefilter (functions/bloom.py) prunes the
  anti-join probe side; exactness always comes from the anti-join.
* Politeness is a per-host top-k.  A naive window over ``host_key`` puts a
  mega-host (10^8 URLs, Zipf head) in one task; we use the standard
  two-phase exact top-k: rank within (host, salt) — S-way parallel —
  keep local rank <= budget, then re-rank the <= S*budget survivors per
  host.  Result is exactly the global per-host top-budget by the total
  order (-priority, url_canon).
* The round's global sequence avoids a single-partition window over the
  data: range repartition on the order key, local row_number per
  partition, plus per-partition offsets computed as a dataflow running
  sum over the #partitions-row count table (broadcast back; no driver
  collect) — a global sort's plan shape, linearly scalable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F


def admit_candidates(candidates: DataFrame, url_seen: DataFrame | None,
                     url_col: str = "url", priority_col: str = "priority",
                     bloom_table: DataFrame | None = None,
                     bloom_shards: int = 16) -> DataFrame:
    """Canonicalize raw candidates, dedup within the batch by max priority,
    drop anything already seen.  Returns (url_canon, host_key, match_path,
    priority) — the oracle's ``admit_batch`` (crawler.py) exactly.

    With ``bloom_table`` (functions/bloom.py, built over *canonical* URLs),
    rows the Bloom filter clears skip the anti-join probe entirely — only
    'maybe-seen' rows shuffle into the exact left_anti join, so probe
    volume drops to (true dups + false positives).
    """
    from kit_spark.functions.canon import canon_url_udf, derive_host_and_path

    canon = candidates.withColumn("url_canon", canon_url_udf(F.col(url_col)))
    canon = canon.where(F.col("url_canon").isNotNull())
    # shuffle only (url_canon, priority); host_key/match_path are cheap
    # JVM-side derivations from the canonical form, recomputed after dedup
    deduped = (canon.groupBy("url_canon")
               .agg(F.max(priority_col).alias("priority")))
    if url_seen is None:
        return derive_host_and_path(deduped)
    if bloom_table is not None:
        from kit_spark.functions.bloom import might_contain

        probed = might_contain(deduped, bloom_table, url_col="url_canon",
                               shards=bloom_shards)
        fresh = probed.where(~F.col("might_be_seen")).drop("might_be_seen")
        maybe = (probed.where(F.col("might_be_seen")).drop("might_be_seen")
                 .join(url_seen.select("url_canon"), "url_canon", "left_anti"))
        return derive_host_and_path(fresh.unionByName(maybe))
    return derive_host_and_path(
        deduped.join(url_seen.select("url_canon"), "url_canon", "left_anti"))


def politeness_schedule(pending: DataFrame, round_seconds: float,
                        default_delay: float, salt_buckets: int = 8,
                        skew_threshold: int = 500_000) -> DataFrame:
    """D3+D4: exact per-host top-`budget` selection by (-priority, url_canon).

    Expects columns: url_canon, host_key, priority, crawl_delay (nullable,
    from the robots cache).  Returns the selected rows with ``host_rank``.
    budget = max(1, floor(round_seconds / delay)) — delay <= 0 or null
    falls back to default_delay (oracle contract).

    Skew handling is adaptive (the AQE-skew-join idea applied to windows,
    which AQE itself cannot split): hosts whose pending count exceeds
    ``skew_threshold`` take the salted two-phase top-k (rank within
    (host, salt), then exact rank over the <= S*budget survivors); everyone
    else takes a single host window.  Selection is identical either way —
    per-salt top-budget is a superset of the host top-budget — so the
    result never depends on which path a host took.

    The heavy-host set stays a *DataFrame* split via broadcast semi/anti
    joins — no driver ``collect()``, no ``IN`` literal in the plan (at the
    10^10-row design point up to ~20k hosts can exceed the threshold; a
    literal list would bloat the plan and add a driver round-trip every
    round).  It is bounded by total_rows/skew_threshold rows, so the
    broadcast is always tiny.

    ``pending`` is scanned up to three times (detection, normal side,
    heavy side) — pass a persisted DataFrame or a table read;
    ``crawl.plan_round`` persists the round's pending set, and at cluster
    scale pending is the frontier snapshot table, so re-scans are pruned
    parquet reads, not recomputation.
    """
    delay = F.when(F.col("crawl_delay").isNull() | (F.col("crawl_delay") <= 0),
                   F.lit(default_delay)).otherwise(F.col("crawl_delay"))
    with_budget = pending.withColumn(
        "host_budget",
        F.greatest(F.lit(1), F.floor(F.lit(round_seconds) / delay)))

    order = [F.col("priority").desc(), F.col("url_canon").asc()]
    w_host = W.partitionBy("host_key").orderBy(*order)

    def exact_rank(df: DataFrame) -> DataFrame:
        return (df.withColumn("host_rank", F.row_number().over(w_host))
                .where(F.col("host_rank") <= F.col("host_budget"))
                .drop("host_budget"))

    # detect as dataflow: map-side-combined count per host
    heavy_hosts = (pending.groupBy("host_key")
                   .agg(F.count("*").alias("__n"))
                   .where(F.col("__n") > skew_threshold)
                   .select("host_key"))

    normal = with_budget.join(F.broadcast(heavy_hosts), "host_key",
                              "left_anti")
    heavy = with_budget.join(F.broadcast(heavy_hosts), "host_key",
                             "left_semi")
    # phase A on the mega-hosts: S-way parallel pre-top-k within (host, salt)
    w_salt = W.partitionBy("host_key", "salt").orderBy(*order)
    survivors = (heavy.withColumn(
        "salt", F.pmod(F.xxhash64("url_canon"), F.lit(salt_buckets)))
        .withColumn("salt_rank", F.row_number().over(w_salt))
        .where(F.col("salt_rank") <= F.col("host_budget"))
        .drop("salt", "salt_rank"))
    return exact_rank(normal).unionByName(exact_rank(survivors))


def global_sequence(df: DataFrame, order_cols: list, seq_col: str = "seq",
                    partitions: int | None = None) -> DataFrame:
    """Scalable deterministic 0-based sequence by a total order.

    Range-repartitions on the order key, ranks locally per partition, and
    adds per-partition offsets computed IN the dataflow (a running sum
    over the #partitions-row counts table, broadcast back) — no driver
    collect and no single-partition window at any scale.
    """
    # a 0-based sequence is the exclusive running sum of ones — delegate
    # to the repo's one global-cumsum dataflow (functions/packing.py,
    # which packing and sharding also build on); persist/lifecycle
    # semantics live there
    from kit_spark.functions.packing import global_excl_cumsum

    return global_excl_cumsum(
        df.withColumn("__need", F.lit(1).cast("long")), list(order_cols),
        out_col=seq_col, partitions=partitions).drop("__need")


def sequence_schedule(selected: DataFrame) -> DataFrame:
    """D9: the round's emission order — seq over (-priority, host_key,
    url_canon), the oracle's exact sort key."""
    return global_sequence(
        selected,
        [F.col("priority").desc(), F.col("host_key").asc(),
         F.col("url_canon").asc()],
    )
