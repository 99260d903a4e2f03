"""Capture the formatted physical plans of the tables a ``CrawlDriver``
round commits, on the ``tests/test_crawl_e2e.py`` fixture web.

Usage (from the repository root):

    python plans/r07/capture_crawl_plans.py --out plans/r07 --suffix after

Every ``SnapshotStore.write``/``append`` of ``schedule``, ``frontier``,
``url_seen`` and ``fetch_log`` in rounds 0 and 1 is explained before it
runs and written to ``crawl_r<round>_<table>_<suffix>.txt``, normalized
(see ``normalize``) so that two captures of the same plan compare equal
with ``diff``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
import tempfile
import threading

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))

TABLES = ("schedule", "frontier", "url_seen", "fetch_log")
ROUNDS = 2


def normalize(plan: str, root: str) -> str:
    """Blank what differs between two runs of one plan: ids, the
    observation names and the query-stage ids AQE hands out in the order
    stages happen to be created."""
    plan = plan.replace(root, "<store>")
    plan = re.sub(r"RDD\[\d+\]", "RDD[N]", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
    plan = re.sub(r"[0-9a-f]{8}(?:-[0-9a-f]{4}){3}-[0-9a-f]{12}", "<uuid>",
                  plan)
    plan = re.sub(r"(QueryStage\n(?:(?!\n\n).)*?\nArguments: )\d+",
                  r"\1N", plan, flags=re.S)
    return re.sub(r"#\d+L?", "#N", plan)


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--out", default="plans/r07")
    parser.add_argument("--suffix", default="after")
    args = parser.parse_args()

    from kit_spark.crawl import CrawlDriver, SparkCrawlConfig
    from kit_spark.functions.images import IMAGES_SCHEMA
    from kit_spark.session import get_spark
    from kit_spark.sources import tables
    from kit_spark.sources.synth import synth_web

    spark = get_spark("capture_crawl_plans", cores=4, shuffle_partitions=4)
    fx = synth_web(seed=7, n_hosts=6, total_pages=80)
    cols = [f.name for f in IMAGES_SCHEMA.fields]
    images = spark.createDataFrame(
        [tuple(r[c] for c in cols) for r in fx.image_rows(with_bytes=True)],
        IMAGES_SCHEMA)
    robots_docs = spark.createDataFrame(
        [(h, a, b) for h, (a, b) in fx.web.robots.items()],
        "host_key string, access_state string, body binary")
    sitemap_docs = spark.createDataFrame(
        list(fx.web.sitemap_bodies.items()), "sitemap_url string, body string")
    links = spark.createDataFrame(
        [(s, d) for s, ds in fx.web.links.items() for d in ds],
        "src_url string, dst_url string")

    os.makedirs(args.out, exist_ok=True)
    root = tempfile.mkdtemp(prefix="crawl_plans_")
    rounds = {"schedule": -1}
    # the driver commits from several threads; explain prints to stdout
    local, lock = threading.local(), threading.Lock()

    def capture(name, df):
        if getattr(local, "depth", 0):  # append commits through write
            return
        if name == "schedule":
            rounds["schedule"] += 1
        if name not in TABLES:
            return
        buf = io.StringIO()
        with lock, contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(
            args.out, f"crawl_r{rounds['schedule']}_{name}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(normalize(buf.getvalue(), root))

    cls = tables.SnapshotStore
    write, append = cls.write, cls.append

    def traced(method):
        def inner(self, name, df, *a, **kw):
            capture(name, df)
            local.depth = getattr(local, "depth", 0) + 1
            try:
                return method(self, name, df, *a, **kw)
            finally:
                local.depth -= 1
        return inner

    cls.write, cls.append = traced(write), traced(append)
    try:
        store = tables.SnapshotStore(spark, root)
        config = SparkCrawlConfig(user_agent="kitbot", round_seconds=240.0,
                                  default_delay=10.0, max_rounds=ROUNDS)
        CrawlDriver(spark, store, images, robots_docs, sitemap_docs, links,
                    config=config).run(fx.seeds)
    finally:
        cls.write, cls.append = write, append
    spark.stop()
    print("wrote", sorted(f for f in os.listdir(args.out)
                          if f.endswith(f"_{args.suffix}.txt")))


if __name__ == "__main__":
    main()
