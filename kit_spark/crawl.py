"""The batch crawl-round driver (D2-D9) — DataFrame mirror of the oracle.

Each round is one dataflow over snapshot tables (sources/tables.py; Iceberg
on a real cluster), mirroring ``kit_py.crawler.crawl`` step for step so the
distributed schedule equals the single-threaded reference *exactly*
(tests/test_crawl_e2e.py asserts (round, seq, url_canon) equality and final
URL-seen set equality).

``plan_round`` is the one composition of a frontier round (steps 1-4); the
crawl driver, the ``frontier_round`` catalog entry (queries.py) and the
scaling bench (bench_scaling.py) all build their round with it and differ
only in their inputs and sinks.  The driver adds steps 5-6 and the commits:

1. admit candidates: canonicalize (D1) -> batch-dedup by max priority ->
   left_anti vs url_seen (D2) with optional sharded-Bloom prefilter
2. resolve robots for new hosts (S1-S4 compile UDF); the driver expands
   their sitemaps depth<=1 (S5-S9/D6) into next-round candidates
3. gate new frontier entries (D5: host-key join + zero-Python first match);
   robots never change mid-crawl, so gating once at admission is
   equivalent to the oracle's per-round re-gate
4. politeness + priority schedule (D3/D4: one host window bounded by the
   round's largest budget) and the deterministic global sequence (D9)
5. simulated fetch against the image table + per-row invariant (D7)
6. discovered links -> next-round candidates

Checkpoint/resume (D8): every state table, ``metrics`` included, commits a
new immutable snapshot per round; then the round commits with ONE append
to ``driver_state`` (sources/tables.commit_log, the protocol the curation
state shares).  The appended rows are the round's lineage — (round, table,
snapshot, rows) per committed table, read back as ``table("lineage")`` —
and the snapshot meta carries the round number, the pins (the snapshot
each table's next read resolves through) and the row counts.  Resume is
one meta read, no Spark job.  A crash before that append leaves orphan
snapshots but the previous commit, so the round replays deterministically
and idempotently, chaining its deltas past the orphans.  ``metrics``
aggregates per round (byte counts via length(bytes) — the countio S15
analog).
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import NamedTuple

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from kit_spark import lifecycle
from kit_spark.functions.bloom import build_bloom, merge_bloom
from kit_spark.functions.robots_udfs import (ROBOTS_CACHE_SCHEMA,
                                             gate_allowed_relational,
                                             make_compile_udf)
from kit_spark.kit_py.crawler import PRIORITY_LINK, PRIORITY_SEED
from kit_spark.operators.fetch import fetch_and_verify
from kit_spark.operators.frontier import (admit_candidates,
                                          politeness_schedule,
                                          sequence_schedule)
from kit_spark.operators.sitemap_expand import expand_sitemaps_df
from kit_spark.sources.tables import (SnapshotStore, append_pinned,
                                      commit_log, read_pinned)

CANDIDATE_SCHEMA = "url string, priority double"
FRONTIER_SCHEMA = ("url_canon string, host_key string, match_path string, "
                   "priority double")
SEEN_SCHEMA = "url_canon string"
SCHEDULE_SCHEMA = ("round int, seq long, url_canon string, host_key string, "
                   "priority double")
FETCH_SCHEMA = ("round int, seq long, url_canon string, image_id string, "
                "fetch_ok boolean, psnr_db double, caption_ok boolean, "
                "fetched_bytes long")
METRICS_SCHEMA = ("round int, candidates_in long, admitted long, denied long, "
                  "hosts_new long, scheduled long, fetched_ok long, "
                  "fetch_failed long, bytes long")
LINEAGE_SCHEMA = "round int, table string, snapshot string, rows long"

COMMIT_TABLE = "driver_state"  # the commit log; its rows are the lineage


class RoundPlan(NamedTuple):
    admitted: DataFrame  # new canonical URLs: the url_seen delta
    robots_new: DataFrame  # compiled robots of hosts seen for the first time
    pending: DataFrame  # prior frontier + newly allowed URLs
    schedule: DataFrame  # (round, seq, url_canon, host_key, priority)


def plan_round(candidates: DataFrame, url_seen: DataFrame,
               robots_docs: DataFrame, *,
               robots_cache: DataFrame | None = None,
               frontier: DataFrame | None = None,
               bloom: DataFrame | None = None,
               round_no: int = 0, user_agent: str = "kitbot",
               round_seconds: float, default_delay: float) -> RoundPlan:
    """One frontier round as lazy DataFrames: admit -> robots compile ->
    gate -> politeness -> sequence.

    ``candidates``: (url, priority) — ``url_seen``: (url_canon) —
    ``robots_docs``: (host_key, access_state, body); hosts it lacks compile
    as ``unavailable``.  ``robots_cache``/``frontier`` carry the prior
    rounds' state (None: nothing known yet), ``bloom`` the url_seen Bloom
    table that prefilters admission.  ``admitted``, ``robots_new`` and
    ``pending`` are pinned on the shared lifecycle, as the round scans each
    of them more than once; ``lifecycle.release()`` frees them once the
    caller's sinks ran.  A caller with several sinks on ``schedule`` pins
    it itself.
    """
    # 1. admission (D1/D2): canon + batch dedup + bloom-pruned anti-join
    admitted = lifecycle.track(
        admit_candidates(candidates, url_seen, bloom_table=bloom))

    # 2. robots for new hosts (S1-S4)
    new_hosts = admitted.select("host_key").distinct()
    if robots_cache is not None:
        new_hosts = new_hosts.join(robots_cache.select("host_key"),
                                   "host_key", "left_anti")
    robots_new = lifecycle.track(
        new_hosts.join(robots_docs, "host_key", "left")
        .withColumn("access_state",
                    F.coalesce("access_state", F.lit("unavailable")))
        .withColumn("__r", make_compile_udf(user_agent)(
            F.col("access_state"), F.col("body")))
        .select("host_key", "access_state",
                F.col("__r.user_agent").alias("user_agent"),
                F.col("__r.always").alias("always"),
                F.col("__r.rules").alias("rules"),
                F.col("__r.crawl_delay").alias("crawl_delay"),
                F.col("__r.sitemaps").alias("sitemaps")))
    robots_cache = (robots_new if robots_cache is None
                    else robots_cache.unionByName(robots_new))

    # 3. gate the newly admitted entries (D5); robots never change
    # mid-crawl, so the frontier carried over was gated on admission
    gated = gate_allowed_relational(admitted.join(
        robots_cache.select("host_key", "always", "rules"),
        "host_key", "left"))
    allowed = gated.where(F.col("allowed")).select(
        "url_canon", "host_key", "match_path", "priority")
    # politeness scans pending twice
    pending = lifecycle.track(
        allowed if frontier is None else frontier.unionByName(allowed))

    # 4. schedule (D3/D4/D9)
    with_delay = pending.join(robots_cache.select("host_key", "crawl_delay"),
                              "host_key", "left")
    selected = politeness_schedule(with_delay, round_seconds, default_delay)
    schedule = sequence_schedule(selected).select(
        F.lit(round_no).alias("round"), F.col("seq"),
        "url_canon", "host_key", "priority")
    return RoundPlan(admitted, robots_new, pending, schedule)


@dataclass
class SparkCrawlConfig:
    user_agent: str = "kitbot"
    round_seconds: float = 60.0
    default_delay: float = 10.0
    max_rounds: int = 50
    use_bloom: bool = False  # prefilter before the exact anti-join
    broadcast_fixture_tables: bool = True  # sandbox-size fixtures only


class CrawlDriver:
    """Round-loop driver over a SnapshotStore.

    ``robots_docs``: (host_key, access_state, body binary) —
    ``sitemap_docs``: (sitemap_url, body string) —
    ``links``: (src_url, dst_url) — ``images``: BASELINE.json:15 table.
    """

    def __init__(self, spark: SparkSession, store: SnapshotStore,
                 images: DataFrame, robots_docs: DataFrame,
                 sitemap_docs: DataFrame, links: DataFrame,
                 config: SparkCrawlConfig | None = None) -> None:
        self.spark = spark
        self.store = store
        self.images = images
        self.robots_docs = robots_docs
        self.sitemap_docs = sitemap_docs
        self.links = links
        self.config = config or SparkCrawlConfig()
        self._committed: dict = {}  # driver_state meta: round, pins, counts

    # -- state helpers -------------------------------------------------------

    def _empty(self, schema) -> DataFrame:
        return self.spark.createDataFrame([], schema)

    def _read_state(self, name: str, schema) -> DataFrame:
        df = read_pinned(self.store, self._committed, name)
        return self._empty(schema) if df is None else df

    def start(self, seeds: list[str]) -> None:
        """Initialize state from a seed list (fresh crawl)."""
        seed_df = self.spark.createDataFrame(
            [(s, PRIORITY_SEED) for s in seeds], CANDIDATE_SCHEMA)
        snap = self.store.write("candidates", seed_df)
        # the seed commit has no lineage: it appends no row
        commit_log(self.store, COMMIT_TABLE, self._empty(LINEAGE_SCHEMA),
                   {"candidates": snap}, round=0,
                   counts={"candidates": len(seeds)})

    def _load_commit(self) -> int:
        """Read the last commit (one meta read, no Spark job); returns the
        round to run next."""
        self._committed = self.store.meta(COMMIT_TABLE)
        if "round" not in self._committed:
            raise RuntimeError("no crawl state to resume; call start()")
        return self._committed["round"]

    def run(self, seeds: list[str] | None = None) -> dict:
        """Run rounds until the frontier drains or max_rounds; resumable
        from the last committed round after a crash/kill."""
        if seeds is not None and not self.store.exists(COMMIT_TABLE):
            self.start(seeds)
        round_no = self._load_commit()
        while round_no < self.config.max_rounds:
            if not self._run_round(round_no):
                break
            round_no = self._load_commit()
        return {"rounds": round_no}

    # -- one round -----------------------------------------------------------

    def _fixture(self, df: DataFrame) -> DataFrame:
        return F.broadcast(df) if self.config.broadcast_fixture_tables else df

    def _run_round(self, round_no: int) -> bool:
        cfg = self.config
        lineage: list = []
        candidates = self._read_state("candidates", CANDIDATE_SCHEMA)

        # committed counts from the commit meta — no recount jobs
        prior_counts = self._committed.get("counts", {})
        n_candidates = prior_counts.get("candidates", 0)
        n_frontier = prior_counts.get("frontier", 0)
        if n_candidates == 0 and n_frontier == 0:
            return False

        # 1-4. admit, robots, gate, schedule (D1-D5, D9)
        bloom = (read_pinned(self.store, self._committed, "url_seen_bloom")
                 if cfg.use_bloom else None)
        plan = plan_round(
            candidates, self._read_state("url_seen", SEEN_SCHEMA),
            self._fixture(self.robots_docs),
            robots_cache=self._read_state("robots_cache",
                                          ROBOTS_CACHE_SCHEMA),
            frontier=self._read_state("frontier", FRONTIER_SCHEMA),
            bloom=bloom, round_no=round_no, user_agent=cfg.user_agent,
            round_seconds=cfg.round_seconds, default_delay=cfg.default_delay)
        # the commits, the fetch and link discovery all read the schedule
        schedule = lifecycle.track(plan.schedule)
        sitemap_cand = expand_sitemaps_df(
            plan.robots_new, self._fixture(self.sitemap_docs)
        ).select("url", "priority")

        # 5. fetch + verify (D7)
        fetch_log = fetch_and_verify(
            schedule, self.images,
            broadcast_images=cfg.broadcast_fixture_tables)

        # 6. discovered links -> next candidates
        links = self._fixture(self.links)
        link_cand = (schedule
                     .join(links, schedule.url_canon == links.src_url)
                     .select(F.col("dst_url").alias("url"),
                             F.lit(PRIORITY_LINK).alias("priority")))
        next_candidates = sitemap_cand.unionByName(link_cand)

        # -- commit snapshots (D8): all tables, then driver_state last ------
        # Every commit is exactly ONE Spark job: the row count (and any
        # extra metrics) ride along as an Observation on the write itself.
        # Monotonically growing tables commit as APPEND deltas (snapshot =
        # this round's rows + parent pointer): per-round write cost is
        # O(delta), not O(total) — a full rewrite per round would dominate
        # the round at the 10^10-row design point.  `counts` tracks chain
        # totals so the commit meta keeps whole-table row counts.
        snaps: dict[str, str] = {}
        counts: dict[str, int] = {}
        extra_metrics: dict[str, dict] = {}

        def commit(name: str, df: DataFrame, extra: list | None = None,
                   delta: bool = False) -> int:
            obs = Observation()
            observed = df.observe(obs, F.count(F.lit(1)).alias("rows"),
                                  *(extra or []))
            if delta:
                # chained from the last commit's pin, never the pointer:
                # replaying a torn round bypasses the orphan it left
                snaps[name] = append_pinned(self.store, self._committed,
                                            name, observed)
            else:
                snaps[name] = self.store.write(name, observed)
            got = obs.get
            n = int(got["rows"])
            counts[name] = n + (prior_counts.get(name, 0) if delta else 0)
            extra_metrics[name] = got
            lineage.append((round_no, name, snaps[name], counts[name]))
            return n

        # wave 0: the schedule commit alone — it materializes the pinned
        # schedule/pending/admitted chain every other commit reads
        n_scheduled = commit("schedule", schedule, delta=True)

        # wave 1: the remaining per-round table commits are mutually
        # independent Spark jobs over warm caches; submit them from
        # threads so their stage-scheduling latencies overlap instead of
        # adding up — this fixed cost, not compute, dominated small rounds
        wave1 = [
            ("url_seen", dict(df=plan.admitted.select("url_canon"),
                              delta=True)),
            ("robots_cache", dict(df=plan.robots_new, delta=True)),
            ("frontier", dict(df=plan.pending.join(
                schedule.select("url_canon"), "url_canon",
                "left_anti"))),
            ("candidates", dict(df=next_candidates)),
            ("fetch_log", dict(df=fetch_log.select(
                "round", "seq", "url_canon", "image_id", "fetch_ok",
                "psnr_db", "caption_ok", "fetched_bytes"),
                extra=[
                    F.sum(F.when(F.col("fetch_ok"), 1).otherwise(0))
                    .alias("ok"),
                    F.sum(F.when(~F.col("fetch_ok"), 1).otherwise(0))
                    .alias("bad"),
                    F.sum("fetched_bytes").alias("bytes"),
                ], delta=True)),
        ]
        with ThreadPoolExecutor(max_workers=len(wave1)) as pool:
            futures = [pool.submit(commit, name, **kw) for name, kw in wave1]
            results = [f.result() for f in futures]
        n_admitted = results[0]
        n_hosts_new = results[1]
        # |pending| = n_frontier + n_allowed and frontier' = pending - sched
        n_allowed = counts["frontier"] + n_scheduled - n_frontier
        n_denied = n_admitted - n_allowed

        cap = self._committed.get("bloom_capacity", 0)
        if cfg.use_bloom:
            # rebuild at 2x only when the seen set outgrew the capacity
            # (scalable-Bloom amortization); otherwise merge the delta —
            # never re-hash the whole seen set every round
            if bloom is not None and counts["url_seen"] <= cap:
                bloom_df = merge_bloom(
                    bloom, plan.admitted.select("url_canon"), cap)
            else:
                cap = max(2 * counts["url_seen"], 1 << 14)
                bloom_df = build_bloom(
                    self.store.read("url_seen", snaps["url_seen"]),
                    capacity=cap)
            commit("url_seen_bloom", bloom_df)
        fetched = extra_metrics["fetch_log"]
        metrics_row = [(round_no, n_candidates, n_admitted, n_denied,
                        n_hosts_new, n_scheduled,
                        int(fetched["ok"] or 0), int(fetched["bad"] or 0),
                        int(fetched["bytes"] or 0))]
        commit("metrics", self.spark.createDataFrame(metrics_row,
                                                     METRICS_SCHEMA),
               delta=True)
        lineage.sort()  # wave-1 threads append in completion order
        commit_log(self.store, COMMIT_TABLE,
                   self.spark.createDataFrame(lineage, LINEAGE_SCHEMA),
                   snaps, round=round_no + 1, counts=counts,
                   bloom_capacity=cap)

        # every cache the round pinned — plan_round's and the operators'
        # (global_sequence's ranked partials) — dies with the round
        lifecycle.release()
        return bool(n_scheduled or n_admitted or counts["candidates"])

    # -- result accessors ----------------------------------------------------

    def schedule_df(self) -> DataFrame:
        self._load_commit()
        return self._read_state("schedule", SCHEDULE_SCHEMA)

    def table(self, name: str) -> DataFrame:
        """A state table as of the last commit; ``"lineage"`` is the
        commit log's rows, (round, table, snapshot, rows) per commit."""
        self._load_commit()
        if name == "lineage":
            return self.store.read(COMMIT_TABLE)
        df = read_pinned(self.store, self._committed, name)
        if df is None:
            raise KeyError(f"no committed snapshot for table {name!r}")
        return df
