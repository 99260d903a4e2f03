"""crawl_rounds: a two-round ``CrawlDriver`` crawl from seeds over a seeded
``synth_web``, committing every state table to a ``SnapshotStore`` each
round.

Rounds are small, so per-round fixed cost carries the crawl: Spark job
scheduling, the files committed per round, and the ``url_seen`` delta chain
that grows every round.  It runs every crawl layer the driver composes:
canonicalization and admission, robots compile and gate, politeness,
sequencing, fetch-verify of png and jpeg payloads, sitemap expansion, link
discovery and the store.  The Bloom prefilter stays off, as in
``SparkCrawlConfig``'s default; README.md says why.  The warm-up crawls
round 0 into a base store once.  One operation copies that store and runs
round 1 on the copy, from its ``run`` call until its ``driver_state`` is
committed, so every operation does the same work.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import time

import pandas as pd
from pyspark.sql import functions as F

from common import Stopwatch, walk_bytes
from reference import failed_fetches, schedule_mismatches

WEB = dict(n_hosts=16, total_pages=600, img_min=8, img_max=16)
ROUND_SECONDS = 120.0
DEFAULT_DELAY = 10.0
MAX_ROUNDS = 2


class CrawlRounds:
    WARM_OPS = 0  # untimed operations after the warm-up
    TIMED_OPS = 3  # at least; the median is over them

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.ops = 0

    def setup(self, spark) -> None:
        from kit_spark.functions.images import synth_images_df
        from kit_spark.sources.synth import synth_web

        self.fx = fx = synth_web(seed=self.seed, **WEB)
        self.spark = spark
        self.images = synth_images_df(
            spark, len(fx.image_meta), img_min=WEB["img_min"],
            img_max=WEB["img_max"]).cache()
        self.images.count()
        self.robots_docs = spark.createDataFrame(
            [(h, a, b) for h, (a, b) in fx.web.robots.items()],
            "host_key string, access_state string, body binary")
        self.sitemap_docs = spark.createDataFrame(
            list(fx.web.sitemap_bodies.items()),
            "sitemap_url string, body string")
        self.links = spark.createDataFrame(
            [(src, dst) for src, dsts in fx.web.links.items() for dst in dsts],
            "src_url string, dst_url string")

    def build_reference(self) -> None:
        from kit_spark.kit_py.crawler import CrawlConfig, crawl

        self.reference = crawl(self.fx.seeds, self.fx.web, CrawlConfig(
            round_seconds=ROUND_SECONDS, default_delay=DEFAULT_DELAY,
            max_rounds=MAX_ROUNDS))

    def warm_up(self) -> list[str]:
        """Round 0 into the base store every operation starts from."""
        from kit_spark.sources.tables import SnapshotStore

        self.base = SnapshotStore(self.spark,
                                  os.path.join(self.work, "store-base"))
        self._driver(self.base, 1).run(self.fx.seeds)
        return []

    def _driver(self, store, rounds: int):
        from kit_spark.crawl import CrawlDriver, SparkCrawlConfig

        return CrawlDriver(
            self.spark, store, self.images, self.robots_docs,
            self.sitemap_docs, self.links, config=SparkCrawlConfig(
                round_seconds=ROUND_SECONDS, default_delay=DEFAULT_DELAY,
                max_rounds=rounds))

    def op(self, tracer=None) -> dict:
        """Round 1 in a fresh store, timed.  Untraced, the store starts as a
        copy of the base store; traced, round 0 runs again with spans on, so
        that the spans cover every layer of the crawl."""
        from kit_spark.sources.tables import SnapshotStore

        self.ops += 1
        root = os.path.join(self.work, f"store-{self.ops}")
        if tracer is None:
            shutil.copytree(self.base.root, root)
        store = SnapshotStore(self.spark, root)
        traced = (_traced_crawl(tracer, store) if tracer is not None
                  else contextlib.nullcontext())
        with traced:
            if tracer is not None:
                with tracer.span("driver"):
                    self._driver(store, 1).run(self.fx.seeds)
            driver = self._driver(store, MAX_ROUNDS)
            span = (tracer.span("driver") if tracer is not None
                    else contextlib.nullcontext())
            with Stopwatch() as sw, span:
                driver.run(self.fx.seeds)
        files, size = walk_bytes(store.root)
        result = self._check(driver)
        result.update(
            op_s=sw.seconds, cpu_s=sw.cpu_seconds,
            store_files=files, store_bytes=size, chain_len=_chain_len(store))
        return result

    def _check(self, driver) -> dict:
        ref = self.reference
        want = [(s.round, s.seq, s.url_canon) for s in ref.schedule]
        got = [(r["round"], r["seq"], r["url_canon"])
               for r in driver.schedule_df().collect()]
        errors = []
        if self.reference.rounds != MAX_ROUNDS:
            errors.append(f"the reference crawl ran {self.reference.rounds} "
                          f"rounds, not {MAX_ROUNDS}")
        bad = schedule_mismatches(got, want)
        if bad:
            errors.append(f"schedule: {bad} rows differ from the reference")
        seen = set(driver.table("url_seen").toPandas()["url_canon"])
        if seen != ref.url_seen:
            errors.append("url_seen set differs from the reference")
        fetched = [r.asDict() for r in driver.table("fetch_log").collect()]
        if sorted(r["url_canon"] for r in fetched) != sorted(
                u for _, _, u in want):
            errors.append("fetch_log rows differ from the schedule")
        # a page with no image behind it has no payload to verify
        images = [r for r in fetched if r["image_id"] is not None]
        return {"attempted": len(images), "failed": failed_fetches(images),
                "errors": errors}


def _chain_len(store) -> int:
    """Snapshots in the longest delta chain driver_state points at."""
    longest = 0
    for row in store.read("driver_state").collect():
        n, snap = 0, row["snapshot"]
        while snap:
            n += 1
            snap = store.meta(row["table"], snap).get("parent")
        longest = max(longest, n)
    return longest


def _traced_crawl(tracer, store):
    """Wrap the layer names ``kit_spark.crawl`` imports, the
    canonicalization UDF that admission resolves at call time, and the
    store instance's commits and reads."""
    import kit_spark.crawl as crawl
    from kit_spark.functions import canon
    from spans import patched

    # canonicalization runs inside admission's own plan; the UDF times its
    # Python function on the workers, summed over tasks
    canon_s = tracer.spark.sparkContext.accumulator(0.0)

    def timed_udf(udf):
        raw = udf.func

        def timed(urls: pd.Series) -> pd.Series:
            t0 = time.perf_counter()
            out = raw(urls)
            canon_s.add(time.perf_counter() - t0)
            return out
        return F.pandas_udf(timed, udf.returnType).asNondeterministic()

    def admit(fn):
        def inner(candidates, url_seen, **kw):
            with tracer.span("admit") as sp:
                sp.counts["rows_in"] = candidates.count()
                before = canon_s.value
                out, sp.counts["rows_out"] = tracer.materialize(
                    fn(candidates, url_seen, **kw))
                sp.counts["canon_s"] = canon_s.value - before
            return out
        return inner

    def sitemaps(fn):
        def inner(robots_new, docs):
            with tracer.span("robots.compile") as sp:
                sp.counts["hosts"] = robots_new.count()  # fills its cache
            with tracer.span("sitemap") as sp:
                out, sp.counts["entries"] = tracer.materialize(
                    fn(robots_new, docs))
            return out
        return inner

    def politeness(fn):
        def inner(pending, *args, **kw):
            with tracer.span("politeness") as sp:
                sp.counts["rows_in"] = pending.count()
                out, sp.counts["selected"] = tracer.materialize(
                    fn(pending, *args, **kw))
            return out
        return inner

    def allowed(out):
        return {"allowed": out.where(F.col("allowed")).count()}

    def fetched(out):
        row = out.agg(
            F.coalesce(F.sum("fetched_bytes"), F.lit(0)).alias("b"),
            F.count(F.when(F.col("image_id").isNotNull()
                           & ~(F.col("fetch_ok") & F.col("caption_ok")), 1))
            .alias("f")).collect()[0]
        return {"bytes": int(row["b"]), "failed": int(row["f"])}

    def eager(name):
        def wrap(fn):
            def inner(*args, **kw):
                with tracer.span(name):
                    return fn(*args, **kw)
            return inner
        return wrap

    return patched((
        (canon, "canon_url_udf", timed_udf),
        (crawl, "admit_candidates", admit),
        (crawl, "expand_sitemaps_df", sitemaps),
        (crawl, "gate_allowed_relational",
         tracer.layer("robots.gate", allowed)),
        (crawl, "politeness_schedule", politeness),
        (crawl, "sequence_schedule", tracer.layer("sequence")),
        (crawl, "fetch_and_verify", tracer.layer("fetch", fetched)),
        (store, "write", eager("store.commit")),
        (store, "append", eager("store.commit")),
        (store, "read", eager("store.read"))))
