"""Capture the formatted physical plan of ``paragraph_dedup`` as
``perfbench/curate_docs.py`` calls it: PII redaction, then paragraph
dedup on ``text_redacted``, projected to ``(doc_id, text)``.

Usage (from the repository root):

    python plans/r12/capture_paragraph_plan.py --sf-dir <sf_dir> \\
        --out plans/r12 --suffix after

Writes ``paragraph_dedup_<suffix>.txt``, normalized as in
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


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--sf-dir", required=True)
    parser.add_argument("--out", default="plans/r12")
    parser.add_argument("--suffix", default="after")
    parser.add_argument("--cores", type=int, default=2)
    args = parser.parse_args()

    from pyspark.sql import functions as F

    from kit_spark.functions import cleaning, dedup
    from kit_spark.session import get_spark

    spark = get_spark("capture_paragraph_plan", cores=args.cores)
    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    corpus = (dedup.paragraph_dedup(cleaning.redact_pii(docs),
                                    text_col="text_redacted")
              .select("doc_id", F.col("text_dedup").alias("text")))
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        corpus.explain("formatted")
    plan = normalize(buf.getvalue(), args.sf_dir).replace("<store>",
                                                          "<sf_dir>")
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, f"paragraph_dedup_{args.suffix}.txt")
    with open(path, "w") as fh:
        fh.write(plan)
    print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
