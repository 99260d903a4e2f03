"""Frontier dataflow operators: admission/dedup (D2), priority (D3),
politeness (D4), deterministic sequencing (D9).

Scale notes (the design point is a 10^10-row frontier on a 1000-executor
cluster; sandbox tests only shrink the data, not the plan shape):

* Admission dedups with ``groupBy(url_canon).max(priority)`` (map-side
  partial agg) followed by a **left_anti** join against ``url_seen`` —
  both shuffle on ``url_canon`` (or url_seen broadcasts while it is
  small).  A Bloom prefilter (functions/bloom.py) prunes the anti-join
  probe side; exactness always comes from the anti-join.
* Politeness is a per-host top-k: one ``row_number`` window over
  ``host_key`` bounded by a literal ``L`` (the round's largest budget).
  Spark's WindowGroupLimit (SPARK-37099) then plans a Partial limit below
  the host Exchange, so no map task ships more than L rows of any host —
  a mega-host (10^8 URLs, Zipf head) reaches its window task as at most
  L rows per map partition.  Result is exactly the per-host top-budget by
  the total order (-priority, url_canon).
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
                        default_delay: float) -> DataFrame:
    """D3+D4: exact per-host top-`budget` selection by (-priority, url_canon).

    Expects columns: url_canon, host_key, priority, crawl_delay (nullable,
    from the robots cache).  Returns the selected rows with ``host_rank``.
    budget = max(1, round_seconds // delay) with Python's float floor
    division, computed as ``round((rs - rs % delay) / delay)`` — a plain
    ``floor(rs / delay)`` schedules 600 URLs for ``Crawl-delay: 0.1`` where
    the oracle crawler schedules 599.  delay <= 0 or null falls back to
    default_delay (oracle contract).

    One host window, filtered on ``host_rank <= L AND host_rank <=
    host_budget``, where the literal ``L`` is the largest budget in the
    input (one global ``max`` aggregate, run when the operator is called:
    no host shuffle, no broadcast).  The literal bound lets Spark plan a
    Partial ``WindowGroupLimit`` below the host Exchange and a Final one
    above it, so every host — not only a detected heavy one — ships at
    most L rows per map task, and the selection stays exact when the
    budget varies within a host.  Spark
    plans the limit only while L <= ``spark.sql.optimizer.
    windowGroupLimitThreshold`` (default 1000); above it the plan is the
    plain window, which is still exact.

    ``pending`` is scanned twice (the max aggregate and the window) — pass
    a persisted DataFrame or a table read; ``crawl.plan_round`` persists
    the round's pending set.
    """
    delay = F.when(F.col("crawl_delay").isNull() | (F.col("crawl_delay") <= 0),
                   F.lit(default_delay)).otherwise(F.col("crawl_delay"))
    rs = F.lit(float(round_seconds))
    budget = F.greatest(F.lit(1),
                        F.round((rs - rs % delay) / delay).cast("long"))
    limit = pending.select(F.max(budget)).first()[0] or 1

    w_host = W.partitionBy("host_key").orderBy(F.col("priority").desc(),
                                               F.col("url_canon").asc())
    return (pending.withColumn("host_rank", F.row_number().over(w_host))
            .where((F.col("host_rank") <= limit)
                   & (F.col("host_rank") <= budget)))


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
