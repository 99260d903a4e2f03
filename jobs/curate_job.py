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
counts.  ``python jobs/curate_job.py`` works too (local session).

Every stage is the Spark-shaped operator documented in its module — no
driver-side loops; the job is a thin composition.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def state_chain(workdir: str) -> list:
    """The ordered workdir chain whose band_index/corpus_all deltas form
    this run's dedup state.  Each --incremental run appends ONLY its own
    batch's rows (O(batch) IO, never a rewrite of the prior corpus) plus
    this manifest; a workdir without a manifest is a pre-chain layout
    (one full directory) and is its own chain."""
    manifest = os.path.join(workdir, "state_chain.json")
    if os.path.exists(manifest):
        with open(manifest) as fh:
            return json.load(fh)["chain"]
    return [workdir]


def load_state(spark, workdir: str, name: str):
    """A state table (band_index / corpus_all) as of ``workdir``: the
    union of its chain's delta directories: every doc that reached
    near-dup, shipped or dropped.  Re-ingest semantics: a
    doc_id re-ingested in the CURRENT batch supersedes its prior rows
    (the probe anti-joins them; the verify's batch-wins union drops the
    stale text).  A doc_id re-ingested with *different text* across two
    prior runs of one chain leaves both delta rows — stale bands only add
    candidates the verify then rejects, so pairs stay correct, but chains
    should keep batches disjoint on doc_id for exact Jaccard on such
    docs (the same precondition the streaming pipeline documents)."""
    return spark.read.parquet(
        *[os.path.join(d, name) for d in state_chain(workdir)])


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
    parser.add_argument("--incremental", default=None, metavar="PRIOR_WORKDIR",
                        help="dedup this batch against a PRIOR run's "
                             "persisted LSH band index instead of batch-"
                             "only: loads the prior chain's band_index/"
                             "corpus_all deltas (state_chain.json: "
                             "every doc that reached near-dup, shipped "
                             "or dropped), probes only the new batch's "
                             "bands (dedup cost tracks batch size, not "
                             "corpus size), and appends this batch's "
                             "delta + manifest so runs chain with "
                             "O(batch) state IO.  Only batch docs drop; "
                             "equals a one-shot run over prior+batch "
                             "whenever prior doc_ids order before the "
                             "batch's (ingestion-ordered ids), else the "
                             "first arrival is kept")
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
    paras = DD.paragraph_dedup(redacted, text_col="text_redacted")
    corpus = (paras.join(docs.select("doc_id", "source"), "doc_id")
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

    state = None
    if args.incremental:
        state = (load_state(spark, args.incremental, "band_index"),
                 load_state(spark, args.incremental, "corpus_all"))
    near = DD.plan_near_dup(corpus, state=state, jaccard=args.jaccard)
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
    # the dedup state the NEXT --incremental run reads: plan_near_dup's
    # delta (bands + texts of every doc that reached near-dup).  O(batch)
    # IO: only this batch's rows go in a new delta directory, and
    # state_chain.json records the chain; prior runs' parquet is never
    # rewritten (read side: state_chain/load_state)
    near.bands.write.mode("overwrite").parquet(f"{args.workdir}/band_index")
    near.texts.write.mode("overwrite").parquet(f"{args.workdir}/corpus_all")
    chain = (state_chain(args.incremental) if args.incremental else []) \
        + [os.path.abspath(args.workdir)]
    with open(f"{args.workdir}/state_chain.json", "w") as fh:
        json.dump({"chain": chain}, fh)
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
