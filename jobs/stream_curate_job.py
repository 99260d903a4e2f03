#!/usr/bin/env python
"""spark-submit entry point for the STREAMING curation pipeline.

    spark-submit --py-files kit_spark.zip jobs/stream_curate_job.py \
        --stream-dir /data/incoming_docs --state-dir /data/curation_state

The incremental counterpart of jobs/curate_job.py: document parquet
files dropped into --stream-dir become micro-batches (top-level files
only — the Spark file source does not recurse), and each batch runs
clean -> redact -> incremental paragraph dedup -> incremental LSH
near-dup -> decontamination against the dedup state persisted under
--state-dir (kit_spark.streaming.curation).  Each invocation is one
``availableNow`` catch-up pass: it processes every file the checkpoint
has not seen, commits state exactly-once per epoch, and exits — so the
job chains across invocations exactly as curate_job's --state-dir runs
chain, through the same state tables and commit protocol
(streaming.curation.read_state / commit_state), with the checkpoint
handling file tracking.  One state dir serves one of the two jobs: a
curate_job commit carries a fresh run identity, so a stream started on
its state fails fast rather than skip batches.  Leave a scheduler
re-invoking it (or swap the trigger) for a live stream.

Prints one JSON summary: epochs committed this invocation, per-epoch
metrics, and the cumulative curated-corpus size.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list | None = None) -> dict:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--stream-dir", required=True,
                        help="directory watched for document parquet part "
                             "files (doc_id string, source string, "
                             "text string)")
    parser.add_argument("--state-dir", required=True,
                        help="SnapshotStore root for the persisted dedup "
                             "state + curated output tables")
    parser.add_argument("--checkpoint-dir", default=None,
                        help="streaming checkpoint (default: "
                             "{state-dir}/_checkpoint)")
    parser.add_argument("--benchmark-parquet", default=None,
                        help="held-out benchmark table (doc_id, text) to "
                             "decontaminate against; omit to skip")
    parser.add_argument("--c4", action="store_true",
                        help="apply the C4 line/page cleaning stage "
                             "(opt-in for the same reason as curate_job: "
                             "its terminal-punctuation heuristics assume "
                             "web prose)")
    parser.add_argument("--min-words", type=int, default=5)
    parser.add_argument("--min-sentences", type=int, default=3)
    parser.add_argument("--jaccard", type=float, default=0.8)
    parser.add_argument("--decontam-n", type=int, default=13)
    parser.add_argument("--max-bucket", type=int, default=0,
                        help="LSH bucket cap; 0 disables")
    parser.add_argument("--timeout", type=float, default=3600.0,
                        help="seconds to await the catch-up pass")
    parser.add_argument("--cores", type=int, default=None)
    args = parser.parse_args(argv)

    from kit_spark.pyfiles import ensure_shipped
    from kit_spark.session import get_spark
    from kit_spark.sources.tables import SnapshotStore
    from kit_spark.streaming.curation import (COMMIT_TABLE,
                                              CurationStreamConfig,
                                              curated_corpus,
                                              run_streaming_curation,
                                              stream_documents)

    spark = get_spark("kit_spark_stream_curate", cores=args.cores)
    ensure_shipped(spark)

    store = SnapshotStore(spark, args.state_dir)
    before = store.meta(COMMIT_TABLE).get("epoch", -1)
    benchmark = (spark.read.parquet(args.benchmark_parquet)
                 if args.benchmark_parquet else None)
    cfg = CurationStreamConfig(
        c4=args.c4, min_words=args.min_words,
        min_sentences=args.min_sentences, jaccard=args.jaccard,
        decontam_n=args.decontam_n,
        max_bucket=args.max_bucket or None)

    stream = stream_documents(spark, args.stream_dir)
    ckpt = args.checkpoint_dir or os.path.join(args.state_dir,
                                               "_checkpoint")
    query = run_streaming_curation(stream, store, ckpt,
                                   benchmark=benchmark, cfg=cfg).start()
    try:
        query.awaitTermination(args.timeout)
    finally:
        if query.isActive:
            query.stop()

    after = store.meta(COMMIT_TABLE).get("epoch", -1)
    metrics = []
    if store.exists(COMMIT_TABLE):
        metrics = sorted((r.asDict() for r in
                          store.read(COMMIT_TABLE).collect()),
                         key=lambda r: r["epoch"])
    summary = {
        "epochs_before": before,
        "epochs_after": after,
        "epochs_this_run": after - before,
        "metrics": metrics,
        "curated_total": curated_corpus(store).count(),
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main()
