"""Capture the formatted physical plans of ``docs_clean_corpus_cluster``:
the entry's result, and its near-dup edge set (the verified pairs that
connected components reads, which the result's plan shows only as a
checkpointed scan).

Usage (from the repository root):

    python plans/r11/capture_near_dup_plans.py --sf-dir <sf_dir> \\
        --out plans/r11 --suffix after

Writes ``docs_clean_corpus_cluster_<suffix>.txt`` and
``docs_clean_corpus_cluster_edges_<suffix>.txt``, normalized as in
``plans/r07/capture_crawl_plans.py``, with the data directory read as
``<sf_dir>``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(os.path.dirname(HERE)))
sys.path.insert(0, os.path.join(os.path.dirname(HERE), "r07"))

from capture_crawl_plans import normalize  # noqa: E402

ENTRY = "docs_clean_corpus_cluster"


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--sf-dir", required=True)
    parser.add_argument("--out", default="plans/r11")
    parser.add_argument("--suffix", default="after")
    parser.add_argument("--cores", type=int, default=2)
    args = parser.parse_args()

    from kit_spark import lifecycle
    from kit_spark.functions import components
    from kit_spark.queries import QUERIES
    from kit_spark.session import get_spark

    spark = get_spark("capture_near_dup_plans", cores=args.cores)
    os.makedirs(args.out, exist_ok=True)

    def explain(df, stem):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = normalize(buf.getvalue(), args.sf_dir)
        path = os.path.join(args.out, f"{stem}_{args.suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan.replace("<store>", "<sf_dir>"))
        print("wrote", path)

    # the entry resolves the cluster step through the components module
    # when it runs, so the edge set is explained on its way in
    losers = components.dedup_cluster_losers

    def traced(pairs):
        explain(pairs, f"{ENTRY}_edges")
        return losers(pairs)

    components.dedup_cluster_losers = traced
    try:
        result = QUERIES[ENTRY](spark, args.sf_dir)
    finally:
        components.dedup_cluster_losers = losers
    explain(result, ENTRY)
    lifecycle.release()
    spark.stop()


if __name__ == "__main__":
    main()
