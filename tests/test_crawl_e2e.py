"""End-to-end crawl determinism: the Spark engine must reproduce the oracle
crawler's schedule (round, seq, url_canon) and final URL-seen set exactly,
under the same seed list and politeness budget (BASELINE.json north rule),
including after a mid-crawl checkpoint resume and with the Bloom fast path.
"""

import pytest
from pyspark.sql import Row

from kit_spark.crawl import CrawlDriver, SparkCrawlConfig
from kit_spark.functions.images import IMAGES_SCHEMA
from kit_spark.kit_py.crawler import CrawlConfig, crawl
from kit_spark.sources.tables import SnapshotStore


@pytest.fixture(scope="module")
def e2e_web():
    # smaller + bigger per-round budgets than the kernel fixture: the full
    # suite drives ~5 Spark crawls, so keep each to a handful of rounds
    from kit_spark.sources.synth import synth_web

    return synth_web(seed=7, n_hosts=6, total_pages=80)


ROUND_SECONDS = 240.0


@pytest.fixture(scope="module")
def oracle(e2e_web):
    cfg = CrawlConfig(user_agent="kitbot", round_seconds=ROUND_SECONDS,
                      default_delay=10.0, max_rounds=40, optimal=True)
    return crawl(e2e_web.seeds, e2e_web.web, cfg)


@pytest.fixture(scope="module")
def spark_inputs(spark, e2e_web):
    fx = e2e_web
    cols = [f.name for f in IMAGES_SCHEMA.fields]
    images = spark.createDataFrame(
        [tuple(row[c] for c in cols) for row in fx.image_rows(with_bytes=True)],
        IMAGES_SCHEMA)
    robots_docs = spark.createDataFrame(
        [(h, a, b) for h, (a, b) in fx.web.robots.items()],
        "host_key string, access_state string, body binary")
    sitemap_docs = spark.createDataFrame(
        list(fx.web.sitemap_bodies.items()), "sitemap_url string, body string")
    links = spark.createDataFrame(
        [(src, dst) for src, dsts in fx.web.links.items() for dst in dsts],
        "src_url string, dst_url string")
    return images, robots_docs, sitemap_docs, links


def make_driver(spark, spark_inputs, tmpdir, **cfg_kw):
    kw = dict(user_agent="kitbot", round_seconds=ROUND_SECONDS,
              default_delay=10.0, max_rounds=40)
    kw.update(cfg_kw)
    config = SparkCrawlConfig(**kw)
    store = SnapshotStore(spark, str(tmpdir))
    return CrawlDriver(spark, store, *spark_inputs, config=config)


def schedule_key(df):
    return [(r["round"], r["seq"], r["url_canon"])
            for r in df.orderBy("round", "seq").collect()]


def oracle_key(result):
    return [(s.round, s.seq, s.url_canon) for s in result.schedule]


def test_spark_matches_oracle(spark, spark_inputs, e2e_web, oracle,
                              tmp_path):
    driver = make_driver(spark, spark_inputs, tmp_path / "run")
    driver.run(e2e_web.seeds)
    assert schedule_key(driver.schedule_df()) == oracle_key(oracle)
    seen = {r["url_canon"] for r in driver.table("url_seen").collect()}
    assert seen == oracle.url_seen


def test_fetch_invariant_holds(spark, spark_inputs, e2e_web, tmp_path):
    driver = make_driver(spark, spark_inputs, tmp_path / "run2",
                         max_rounds=6)
    driver.run(e2e_web.seeds)
    log = driver.table("fetch_log")
    rows = log.collect()
    assert rows
    with_image = [r for r in rows if r["image_id"] is not None]
    assert with_image, "some scheduled URLs must resolve to images"
    bad = [r for r in with_image if not (r["fetch_ok"] and r["caption_ok"])]
    assert bad == []
    for r in with_image:
        if r["psnr_db"] is not None:  # lossy rows carry finite PSNR
            assert r["psnr_db"] >= 40.0


def test_resume_reproduces_identical_remainder(spark, spark_inputs,
                                               e2e_web, oracle, tmp_path):
    # run 1: stop after 3 rounds (simulated kill)
    d1 = make_driver(spark, spark_inputs, tmp_path / "ckpt", max_rounds=3)
    d1.run(e2e_web.seeds)
    partial = schedule_key(d1.schedule_df())
    assert partial == [k for k in oracle_key(oracle) if k[0] < 3]
    # run 2: a fresh driver over the same store resumes and finishes
    d2 = make_driver(spark, spark_inputs, tmp_path / "ckpt", max_rounds=40)
    d2.run()
    assert schedule_key(d2.schedule_df()) == oracle_key(oracle)
    seen = {r["url_canon"] for r in d2.table("url_seen").collect()}
    assert seen == oracle.url_seen


def test_bloom_fast_path_same_result(spark, spark_inputs, e2e_web,
                                     oracle, tmp_path):
    driver = make_driver(spark, spark_inputs, tmp_path / "bloom",
                         use_bloom=True)
    driver.run(e2e_web.seeds)
    assert schedule_key(driver.schedule_df()) == oracle_key(oracle)


def test_metrics_and_lineage_populated(spark, spark_inputs, e2e_web,
                                       tmp_path):
    driver = make_driver(spark, spark_inputs, tmp_path / "m", max_rounds=2)
    driver.run(e2e_web.seeds)
    metrics = driver.table("metrics").orderBy("round").collect()
    assert [m["round"] for m in metrics] == [0, 1]
    assert metrics[0]["scheduled"] > 0 and metrics[0]["bytes"] > 0
    lineage = driver.table("lineage").collect()
    tables = {(r["round"], r["table"]) for r in lineage}
    for t in ("url_seen", "frontier", "robots_cache", "candidates", "schedule"):
        assert (0, t) in tables and (1, t) in tables
    assert all(r["snapshot"].startswith("snap-") for r in lineage)


def test_partial_commit_crash_recovery(spark, spark_inputs, e2e_web, oracle,
                                       tmp_path):
    """A crash mid-commit (some tables wrote new snapshots, driver_state
    did not advance) must replay the round and still match the oracle —
    driver_state's pins are the round's consistency anchor."""
    d1 = make_driver(spark, spark_inputs, tmp_path / "crash", max_rounds=2)
    d1.run(e2e_web.seeds)
    store = d1.store
    # simulate a torn round-3 commit: url_seen and frontier advanced with
    # garbage, candidates/driver_state did not
    store.write("url_seen", spark.createDataFrame(
        [("https://garbage.example/x",)], "url_canon string"))
    store.write("frontier", spark.createDataFrame(
        [], "url_canon string, host_key string, match_path string, "
            "priority double"))
    d2 = make_driver(spark, spark_inputs, tmp_path / "crash", max_rounds=40)
    d2.run()
    assert schedule_key(d2.schedule_df()) == oracle_key(oracle)
    seen = {r["url_canon"] for r in d2.table("url_seen").collect()}
    assert seen == oracle.url_seen


def test_torn_commit_at_the_commit_point(spark, spark_inputs, e2e_web,
                                         oracle, tmp_path, monkeypatch):
    """The crash ROADMAP direction 2 names: round 2 wrote every state
    table and its driver_state snapshot, but died before that snapshot's
    pointer swap, the round's commit point.  A fresh driver resumes from
    round 1's commit, replays round 2 past the orphans, and matches the
    oracle; the lineage holds each (round, table) exactly once."""
    import os
    from collections import Counter

    class Crash(Exception):
        pass

    root = tmp_path / "torn_commit"
    pointer = os.path.join(str(root), "driver_state", "_CURRENT")
    real_replace = os.replace
    swaps = []

    def replace(src, dst):
        if dst == pointer:
            swaps.append(dst)
            if len(swaps) == 4:  # start, round 0, round 1, then round 2
                raise Crash
        return real_replace(src, dst)

    d1 = make_driver(spark, spark_inputs, root)
    monkeypatch.setattr(os, "replace", replace)
    with pytest.raises(Crash):
        d1.run(e2e_web.seeds)
    monkeypatch.undo()
    assert d1.store.meta("driver_state")["round"] == 2
    assert len(d1.store.history("driver_state")) == 4  # the orphan

    d2 = make_driver(spark, spark_inputs, root)
    d2.run()
    assert schedule_key(d2.schedule_df()) == oracle_key(oracle)
    seen = {r["url_canon"] for r in d2.table("url_seen").collect()}
    assert seen == oracle.url_seen
    lineage = Counter((r["round"], r["table"])
                      for r in d2.table("lineage").collect())
    assert set(lineage.values()) == {1}
    assert {t for (rnd, t) in lineage if rnd == 2} >= {
        "schedule", "url_seen", "frontier", "candidates", "metrics"}


def test_run_releases_round_caches(spark, spark_inputs, e2e_web, tmp_path):
    """Runtime twin of test_plans' bare-persist grep for the crawl: every
    cache a round pins (plan_round's frames, global_sequence's partials)
    is released when the round ends.  Compares RDD id sets, as
    test_entry_caches_fully_release does."""
    from kit_spark import lifecycle

    sc = spark.sparkContext

    def rdd_ids():
        return set(sc._jsc.getPersistentRDDs().keySet().toArray())

    lifecycle.release()  # drop anything earlier tests left tracked
    base_ids = rdd_ids()
    driver = make_driver(spark, spark_inputs, tmp_path / "rel", max_rounds=1)
    driver.run(e2e_web.seeds)
    leaked = rdd_ids() - base_ids
    assert not leaked, f"{len(leaked)} cached DataFrames outlived the run"


def test_degenerate_seeds_commit_one_empty_round(spark, spark_inputs,
                                                 e2e_web, tmp_path):
    """Seeds that never canonicalize — null, unparseable, non-http —
    admit nothing: the driver commits one empty round, then stops, and
    like the oracle counts no productive round."""
    seeds = [None, "", "not a url", "http://", "http://[::1",
             "ftp://h0.test/a.png", "mailto:bot@h0.test",
             "javascript:void(0)"]
    driver = make_driver(spark, spark_inputs, tmp_path / "junk")
    out = driver.run(seeds)
    want = crawl(seeds, e2e_web.web, CrawlConfig(round_seconds=ROUND_SECONDS))
    assert out == {"rounds": want.rounds} == {"rounds": 0}
    metrics = driver.table("metrics").collect()
    assert [(m["round"], m["admitted"], m["scheduled"]) for m in metrics] \
        == [(0, 0, 0)]
    assert driver.schedule_df().count() == 0


def test_uri_hostile_seeds_crawl_like_the_oracle(spark, spark_inputs,
                                                 e2e_web, tmp_path):
    """Canonical URLs that ``java.net.URI`` rejects (``[]``, ``|``, ``^``,
    a malformed ``%`` escape) and a bracketed IPv6 host are admitted,
    scheduled and fetched as the oracle crawler does: no round fails on
    them."""
    seeds = list(e2e_web.seeds[:4]) + [
        "https://h0.example.com/list?ids[]=1&q=a|b",
        "https://h1.example.com/a^b", "https://h0.example.com/%zz",
        "https://[::1]:8080/x"]
    driver = make_driver(spark, spark_inputs, tmp_path / "hostile",
                         max_rounds=3)
    driver.run(seeds)
    want = crawl(seeds, e2e_web.web, CrawlConfig(
        user_agent="kitbot", round_seconds=ROUND_SECONDS,
        default_delay=10.0, max_rounds=3, optimal=True))
    assert schedule_key(driver.schedule_df()) == oracle_key(want)
    seen = {r["url_canon"] for r in driver.table("url_seen").collect()}
    assert seen == want.url_seen
