"""Capture the formatted physical plans of catalog entries.

Usage (from the repository root):

    python plans/r16/capture_entry_plans.py --sf-dir <sf_dir> \
        --out plans/r16 --suffix after robots_gate url_canonicalize

Each named ``kit_spark.queries`` entry is built at ``--sf-dir`` and its
plan written to ``<name>_<suffix>.txt``, normalized as in
``plans/r07/capture_crawl_plans.py`` and with ``--sf-dir`` blanked; the
count of ArrowEvalPython nodes (Python UDF evaluations) in each plan is
printed.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "plans", "r07"))


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--sf-dir", required=True)
    parser.add_argument("--out", default="plans/r16")
    parser.add_argument("--suffix", default="after")
    parser.add_argument("names", nargs="+")
    args = parser.parse_args()

    from capture_crawl_plans import normalize

    from kit_spark import lifecycle, plans
    from kit_spark.queries import QUERIES
    from kit_spark.session import get_spark

    spark = get_spark("capture_entry_plans", cores=4, shuffle_partitions=4)
    os.makedirs(args.out, exist_ok=True)
    for name in args.names:
        text = normalize(plans.formatted_plan(
            QUERIES[name](spark, args.sf_dir)), ROOT)
        text = text.replace(os.path.abspath(args.sf_dir), "<sf_dir>")
        with open(os.path.join(args.out, f"{name}_{args.suffix}.txt"),
                  "w") as fh:
            fh.write(text)
        tree = text.split("\n\n\n")[0]
        nodes = set(re.findall(r"ArrowEvalPython \((\d+)\)", tree))
        print(name, "ArrowEvalPython nodes:", len(nodes))
        lifecycle.release()
    spark.stop()


if __name__ == "__main__":
    main()
