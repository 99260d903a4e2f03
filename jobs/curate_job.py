#!/usr/bin/env python
"""spark-submit entry point for the training-data curation pipeline.

    spark-submit --py-files kit_spark.zip jobs/curate_job.py \
        --sf-dir /root/testdata/sf0.01 --workdir /tmp/curate_run

Composes the corpus-curation operators end to end over the documents
table — the export-side counterpart of jobs/crawl_job.py (which produces
the image+caption corpus this pipeline would consume at scale):

    C4 line/page cleaning -> PII redaction -> cross-document paragraph
    dedup -> lang/quality gates -> Gopher repetition gates (dup-line
    fraction, top-2-gram character fraction) -> cluster-level near-dup
    removal (minhash -> LSH -> Jaccard -> connected components) -> train/val/test
    split -> benchmark decontamination of train against the held-out
    splits -> optional per-source dominance cap -> sequence packing of
    train into fixed-size blocks, materialized as exact block_size token
    rows (separator-filled)

plus the multimodal export leg: synthesize (or at scale, read) the
image+caption table, decode-verify every row, drop phash near-duplicate
clusters (min-id representative kept), and assign byte-balanced output
shards.  Writes the curated corpus, the block map, and the image
shard map under --workdir and prints one JSON summary of per-stage
counts.  With --state-dir, both dedup stages run against the state the
earlier runs committed there, and the run commits its own deltas as
the next epoch (the store's commit protocol, through
kit_spark.streaming.curation, shared with jobs/stream_curate_job.py and
the crawl driver).  ``python jobs/curate_job.py`` works too
(local session).

Every stage is the Spark-shaped operator documented in its module — no
driver-side loops; the job is a thin composition.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list | None = None) -> dict:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    parser.add_argument("--workdir", required=True)
    parser.add_argument("--lang", default="en")
    parser.add_argument("--quality", type=float, default=0.5)
    parser.add_argument("--c4", action="store_true",
                        help="apply the C4 line/page cleaning stage; its "
                             "terminal-punctuation heuristics assume web "
                             "prose, so it is opt-in (the synthetic test "
                             "corpus has no sentence punctuation and would "
                             "be dropped wholesale)")
    parser.add_argument("--min-sentences", type=int, default=1,
                        help="C4 page gate (3 for web pages)")
    parser.add_argument("--max-dup-line-frac", type=float, default=0.3,
                        help="Gopher dup-line gate (repeats beyond the "
                             "first / total lines); 1.0 disables")
    parser.add_argument("--max-top2gram-frac", type=float, default=0.2,
                        help="Gopher top-2-gram character-fraction gate; "
                             "1.0 disables")
    parser.add_argument("--jaccard", type=float, default=0.8)
    parser.add_argument("--state-dir", default=None, metavar="DIR",
                        help="SnapshotStore root of the incremental dedup "
                             "state, shared with stream_curate_job: dedup "
                             "this run against the state the last "
                             "committed run left (paragraph keys, LSH "
                             "band index and texts of every doc that "
                             "reached near-dup, shipped or dropped; cost "
                             "tracks the batch, not the corpus), then "
                             "append this run's deltas and commit them as "
                             "the next epoch.  A run killed before its "
                             "commit leaves state the next run never "
                             "reads.  Only batch docs drop; equals a "
                             "one-shot run over all batches whenever "
                             "earlier doc_ids order before later ones "
                             "(ingestion-ordered ids), else the first "
                             "arrival is kept.  Omit to write no state")
    parser.add_argument("--decontam-n", type=int, default=13)
    parser.add_argument("--max-per-source", type=int, default=0,
                        help="dominance cap; 0 disables")
    parser.add_argument("--mix", default=None,
                        help="JSON source->weight dict: resample the "
                             "cleaned corpus to these mixture proportions "
                             "(downsampling only) before splitting")
    parser.add_argument("--block-size", type=int, default=2048)
    parser.add_argument("--images", type=int, default=200)
    parser.add_argument("--shard-bytes", type=int, default=1 << 20)
    parser.add_argument("--cores", type=int, default=None)
    args = parser.parse_args(argv)

    from pyspark.sql import functions as F

    from kit_spark import lifecycle
    from kit_spark.functions import dedup as DD, text as TX
    from kit_spark.functions.cleaning import c4_line_filter, redact_pii
    from kit_spark.functions.components import dedup_cluster_losers
    from kit_spark.functions.decontam import decontaminate
    from kit_spark.functions.images import (image_near_dup_pairs,
                                            synth_images_df, verify_images)
    from kit_spark.functions.packing import (assign_shards,
                                             materialize_blocks,
                                             pack_sequences)
    from kit_spark.functions.sampling import (hash_split, mix_corpus,
                                              per_group_cap)
    from kit_spark.pyfiles import ensure_shipped
    from kit_spark.session import get_spark
    from kit_spark.sources.tables import SnapshotStore
    from kit_spark.streaming.curation import (COMMIT_TABLE, commit_state,
                                              read_state)

    spark = get_spark("kit_spark_curate", cores=args.cores)
    ensure_shipped(spark)
    counts: dict = {}

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    counts["input"] = docs.count()

    # text leg: clean -> redact -> paragraph-dedup -> gates -> near-dup
    if args.c4:
        cleaned = c4_line_filter(docs, min_sentences=args.min_sentences)
        redacted = redact_pii(cleaned, text_col="text_clean")
    else:
        redacted = redact_pii(docs)
    # without --state-dir there are no pins, so read_state reads nothing
    store = SnapshotStore(spark, args.state_dir) if args.state_dir else None
    committed = store.meta(COMMIT_TABLE) if store else {}
    para_index, near_state = read_state(store, committed)
    paras = DD.plan_paragraph_dedup(redacted, state=para_index,
                                    text_col="text_redacted")
    corpus = (paras.docs.join(docs.select("doc_id", "source"), "doc_id")
              .select("doc_id", "source",
                      F.col("text_dedup").alias("text"),
                      "n_paras", "n_kept"))
    corpus = corpus.where(
        (TX.lang_guess(F.col("text")) == args.lang)
        & (TX.quality_score(F.col("text")) >= args.quality))
    rep = TX.repetition_stats(corpus, ngram_sizes=(2,))
    corpus = (corpus.join(rep, "doc_id")
              .where((F.coalesce(F.col("dup_line_frac"), F.lit(0.0))
                      <= args.max_dup_line_frac)
                     & (F.col("top2gram_char_frac")
                        <= args.max_top2gram_frac))
              .drop("dup_line_frac", "dup_line_char_frac",
                    "top2gram_char_frac"))
    # the gated corpus is consumed by four dataflows (near-dup pair
    # build, its corpus_all delta, the anti-join, the split) — persist
    # via the shared lifecycle
    corpus = lifecycle.track(corpus)
    counts["after_clean_gates"] = corpus.count()

    near = DD.plan_near_dup(corpus, state=near_state, jaccard=args.jaccard)
    corpus = corpus.join(near.losers, "doc_id", "left_anti")
    counts["after_near_dup"] = corpus.count()

    if args.mix:
        corpus = mix_corpus(corpus, json.loads(args.mix))
        corpus = lifecycle.track(corpus)
        counts["after_mix"] = corpus.count()

    split = hash_split(corpus, {"train": 0.9, "val": 0.05, "test": 0.05})
    split = lifecycle.track(split)
    train = split.where(F.col("split") == "train").drop("split")
    heldout = split.where(F.col("split") != "train").drop("split")
    counts["train"] = train.count()
    # counted from the DataFrame, not derived as split_input - train:
    # the test's funnel assertion train + heldout == split_input must
    # actually exercise hash_split's partition property
    counts["heldout"] = heldout.count()

    train = decontaminate(train, heldout, n=args.decontam_n)
    if args.max_per_source > 0:
        train = per_group_cap(train, "source", ["doc_id"],
                              args.max_per_source).drop("group_rank")
    train = lifecycle.track(train)
    counts["train_final"] = train.count()

    split.write.mode("overwrite").parquet(f"{args.workdir}/corpus")
    if store is not None:
        # the dedup state the next run reads: this batch's deltas only
        # (O(batch) IO; earlier snapshots are never rewritten), committed
        # as one epoch with a fresh run identity, so a stream replaying
        # epoch ids on this state dir fails fast instead of skipping
        commit_state(store, committed, committed.get("epoch", -1) + 1,
                     {"para_index": paras.keys, "band_index": near.bands,
                      "corpus_all": near.texts},
                     (counts["input"],
                      counts["after_clean_gates"] - counts["after_near_dup"],
                      counts["train"] + counts["heldout"]),
                     run_id=uuid.uuid4().hex)
    blocks = lifecycle.track(pack_sequences(train, args.block_size))
    blocks.write.mode("overwrite").parquet(f"{args.workdir}/blocks")
    counts["block_rows"] = blocks.count()
    counts["blocks"] = blocks.agg(
        (F.max("block_id") + 1).alias("n")).collect()[0]["n"]
    (materialize_blocks(blocks, train, args.block_size)
     .write.mode("overwrite").parquet(f"{args.workdir}/block_tokens"))

    # multimodal leg: verify every image row, drop phash near-dup
    # clusters (keep each cluster's min-id representative), shard the rest
    images = synth_images_df(spark, args.images)
    ver = verify_images(images).where(
        F.col("fetch_ok") & F.col("caption_ok"))
    ver = lifecycle.track(ver)
    # connected_components takes the raw string image ids directly (any
    # orderable type; the representative is each cluster's lexicographic
    # min) — exact keys, so no surrogate-hash collision can ever merge
    # unrelated clusters and silently drop an extra image
    img_pairs = image_near_dup_pairs(ver.select("image_id", "phash"),
                                     max_hamming=3)
    img_losers = dedup_cluster_losers(img_pairs) \
        .withColumnRenamed("doc_id", "__loser_id")
    kept = ver.join(img_losers,
                    F.col("image_id") == F.col("__loser_id"), "left_anti")
    sized = kept.withColumn(
        "bytes_len", F.length("bytes") + F.length("caption"))
    shards = assign_shards(sized, args.shard_bytes)
    (shards.select("image_id", "shard_id", "bytes_len", "phash")
     .write.mode("overwrite").parquet(f"{args.workdir}/image_shards"))
    counts["images_ok"] = ver.count()
    counts["images_kept"] = kept.count()
    counts["image_shards"] = shards.agg(
        (F.max("shard_id") + 1).alias("n")).collect()[0]["n"]

    lifecycle.release()
    print(json.dumps(counts, indent=2))
    return counts


if __name__ == "__main__":
    main()
