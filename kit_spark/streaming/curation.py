"""Structured Streaming curation pipeline (SURVEY.md §8e; the corpus
analog of runner.run_streaming_rounds).

Documents arrive as a stream; every micro-batch runs the curation
stages incrementally against persisted dedup state, so a corpus can be
curated as it is crawled instead of in one giant batch:

* clean (C4 line/page filters) -> PII redaction — stateless, map-only;
* cross-document paragraph dedup against the persisted ``para_index``
  key table (functions.dedup.paragraph_dedup_incremental) — a paragraph
  seen in ANY earlier batch is boilerplate here;
* MinHash/LSH near-dup against the persisted ``band_index``
  (functions.dedup.lsh_incremental_pairs) with n-gram Jaccard verify
  against the cumulative ``corpus_all`` text table — cost tracks the
  batch, never the corpus;
* benchmark decontamination against a static held-out frame;
* survivors append to the ``curated`` table.

State tables live in a :class:`~kit_spark.sources.tables.SnapshotStore`
and follow the crawl driver's exactly-once protocol: every state read
goes through the snapshot PINNED by the last committed epoch (never the
current pointer), every state write is a delta append chained onto that
pin, and the epoch commits atomically by appending the metrics row —
whose snapshot meta carries the new pins — last.  A batch retried after
a torn epoch re-reads the pinned (pre-torn) state, re-appends its
deltas chained PAST the orphan snapshots, and re-commits; a batch
retried after a COMMITTED epoch is detected by the epoch watermark and
skipped.  This is the same torn-commit recovery the crawl driver's
driver_state table implements (kit_spark/crawl.py), applied to the
curation state.

Near-dup index semantics: ``band_index``/``corpus_all`` cover every doc
SEEN (shipped or dropped), not just shipped docs — so a later near-dup
of a dropped doc is dropped too, matching the one-shot pipeline's
connected-component election for transitive duplicate groups (the
one-shot twin is jobs/curate_job.py's clean->dedup->decontam chain;
equivalence for ascending-id, transitive-duplicate batches is pinned in
tests/test_streaming_curation.py).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import lifecycle
from ..functions import dedup as DD
from ..functions.cleaning import c4_line_filter, redact_pii
from ..functions.components import dedup_cluster_losers
from ..functions.decontam import decontaminate


@dataclass(frozen=True)
class CurationStreamConfig:
    """Knobs mirror jobs/curate_job.py's flags."""
    c4: bool = True
    min_words: int = 5           # C4 line gate
    min_sentences: int = 3       # C4 page gate
    k: int = 8                   # MinHash signature length
    minhash_n: int = 3           # shingle size
    rows_per_band: int = 2
    max_bucket: int | None = None
    jaccard: float = 0.8
    decontam_n: int = 13
    hash_paras: bool = True


STATE_TABLES = ("para_index", "band_index", "corpus_all", "curated")
COMMIT_TABLE = "curation_metrics"


def stream_documents(spark: SparkSession, directory: str,
                     schema: str = "doc_id string, source string, "
                                   "text string") -> DataFrame:
    """File-source document stream: drop document parquet files into
    ``directory`` and each becomes a micro-batch."""
    return spark.readStream.schema(schema).parquet(directory)


def curated_corpus(store, spark: SparkSession | None = None) -> DataFrame:
    """The shipped corpus as of the last COMMITTED epoch (reads through
    the commit pin, so a torn in-flight epoch is invisible)."""
    pins = store.meta(COMMIT_TABLE).get("pins", {})
    snap = pins.get("curated")
    if snap is None:
        sess = spark or store.spark
        return sess.createDataFrame([], "doc_id string, source string, "
                                        "text string")
    return store.read("curated", snap)


def _curate_batch(batch: DataFrame, epoch_id: int, store,
                  benchmark: DataFrame | None,
                  cfg: CurationStreamConfig,
                  run_id: str | None = None) -> None:
    committed = store.meta(COMMIT_TABLE)
    if committed.get("epoch", -1) >= epoch_id:
        # exactly-once skip — but ONLY for a replay of the same streaming
        # run.  If the checkpoint dir was lost or re-pointed while the
        # state dir persisted, Spark's batch ids restart at 0 and every
        # batch with id <= committed epoch would be silently dropped,
        # new data included.  The run identity (pinned in the checkpoint
        # dir by run_streaming_curation and recorded in each commit)
        # distinguishes the two: same identity -> genuine replay, skip;
        # different identity -> fail fast instead of losing data.
        prior_run = committed.get("run_id")
        if (run_id is not None and prior_run is not None
                and prior_run != run_id):
            raise RuntimeError(
                "curation state at epoch %s was committed by streaming run "
                "%s, but this run is %s with batch id %s: the checkpoint "
                "dir restarted while --state-dir persisted, and skipping "
                "would silently drop this batch.  Reuse the original "
                "checkpoint dir, or point --state-dir at fresh state."
                % (committed.get("epoch"), prior_run, run_id, epoch_id))
        return
    try:
        _curate_batch_inner(batch, epoch_id, store, benchmark, cfg,
                            committed, run_id)
    finally:
        # each micro-batch is one lifecycle unit: drop the caches the
        # batch pinned before the next epoch (or the caller) runs
        lifecycle.release()


def _curate_batch_inner(batch: DataFrame, epoch_id: int, store,
                        benchmark: DataFrame | None,
                        cfg: CurationStreamConfig, committed: dict,
                        run_id: str | None = None) -> None:
    pins = committed.get("pins", {})

    def pinned(name: str) -> DataFrame | None:
        # strictly pin-resolved: an orphan snapshot a torn epoch left
        # behind is never read, exactly as crawl resume ignores orphans
        snap = pins.get(name)
        return store.read(name, snap) if snap else None

    n_input = batch.count()

    # -- stateless stages: clean -> redact ---------------------------------
    if cfg.c4:
        cleaned = c4_line_filter(batch, min_words=cfg.min_words,
                                 min_sentences=cfg.min_sentences)
        redacted = redact_pii(cleaned, text_col="text_clean")
    else:
        redacted = redact_pii(batch)

    # -- incremental cross-document paragraph dedup ------------------------
    para_index = pinned("para_index")
    if para_index is None:
        paras = DD.paragraph_dedup(redacted, text_col="text_redacted",
                                   hash_paras=cfg.hash_paras)
    else:
        paras = DD.paragraph_dedup_incremental(
            redacted, para_index, text_col="text_redacted",
            hash_paras=cfg.hash_paras)
    new_keys = DD.paragraph_key_index(redacted, text_col="text_redacted",
                                      hash_paras=cfg.hash_paras)
    if para_index is not None:
        new_keys = new_keys.join(para_index, "para_key", "left_anti")
    # the post-paragraph corpus feeds four dataflows (signatures, the
    # Jaccard verify, the corpus_all append, the curated append) and the
    # signatures feed two (candidate pairs, the band-index append):
    # pin both for the batch, released in _curate_batch's finally
    docs = lifecycle.track(
        paras.join(batch.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", F.col("text_dedup").alias("text")))

    # -- incremental near-dup: batch vs the seen corpus --------------------
    sig = lifecycle.track(
        DD.minhash_signatures(docs, k=cfg.k, n=cfg.minhash_n))
    band_index = pinned("band_index")
    corpus_all = pinned("corpus_all")
    if band_index is None:
        pairs = DD.lsh_candidate_pairs(sig, k=cfg.k,
                                       rows_per_band=cfg.rows_per_band,
                                       max_bucket=cfg.max_bucket)
        texts = docs.select("doc_id", "text")
        restrict = False
    else:
        # pairs feeds the candidate-id set AND the verify joins: pin it so
        # the id derivation does not re-run the index probe (released with
        # the batch's lifecycle unit)
        pairs = lifecycle.track(DD.lsh_incremental_pairs(
            sig, band_index, k=cfg.k, rows_per_band=cfg.rows_per_band,
            max_bucket=cfg.max_bucket))
        texts = docs.select("doc_id", "text").unionByName(
            corpus_all.join(docs.select("doc_id"), "doc_id", "left_anti"))
        # O(batch) contract: candidates are batch-bounded, so the verify
        # must shingle only candidate docs — never the cumulative corpus
        restrict = True
    verified = DD.ngram_jaccard_pairs(texts, pairs, n=cfg.minhash_n,
                                      restrict_to_pairs=restrict)
    dup = (verified.where(F.col("jaccard") >= cfg.jaccard)
           .select("a", "b"))
    # a new doc near-dup of ANY seen doc loses (first sighting shipped or
    # was itself judged); among new-new pairs, the component's min-id
    # representative ships — together the arrival-order form of the
    # one-shot connected-component election
    new_ids = docs.select("doc_id")
    flagged = (dup
               .join(new_ids.select(F.col("doc_id").alias("a"),
                                    F.lit(True).alias("__an")), "a", "left")
               .join(new_ids.select(F.col("doc_id").alias("b"),
                                    F.lit(True).alias("__bn")), "b", "left"))
    cross_losers = (flagged
                    .where(F.col("__an").isNull() | F.col("__bn").isNull())
                    .select(F.when(F.col("__an").isNull(), F.col("b"))
                            .otherwise(F.col("a")).alias("doc_id")))
    both_new = (flagged.where(F.col("__an").isNotNull()
                              & F.col("__bn").isNotNull())
                .select("a", "b"))
    losers = cross_losers.unionByName(
        dedup_cluster_losers(both_new)).distinct()
    shipped = docs.join(losers, "doc_id", "left_anti")
    n_dup_dropped = losers.count()

    # -- decontamination (static held-out benchmark) -----------------------
    if benchmark is not None:
        shipped = decontaminate(shipped, benchmark, n=cfg.decontam_n)
    # pinned: consumed by the curated append AND the metrics count below —
    # and counting the DataFrame keeps this module on the narrow store
    # interface (reading the delta back via store.root broke on any store
    # whose layout is not the parquet SnapshotStore's)
    shipped = lifecycle.track(shipped)

    # -- state deltas, chained onto the pins (PAST any torn orphans) -------
    emeta = {"epoch": epoch_id}
    new_pins = {
        "para_index": store.append("para_index", new_keys,
                                   meta=emeta, parent=pins.get("para_index")),
        # the index records SEEN docs (shipped or dropped) — see module doc
        "band_index": store.append(
            "band_index",
            DD.lsh_band_index(sig, k=cfg.k, rows_per_band=cfg.rows_per_band),
            meta=emeta, parent=pins.get("band_index")),
        "corpus_all": store.append("corpus_all", docs.select("doc_id", "text"),
                                   meta=emeta, parent=pins.get("corpus_all")),
        "curated": store.append("curated", shipped,
                                meta=emeta, parent=pins.get("curated")),
    }
    n_shipped = shipped.count()  # cache hit: the append materialized it

    # -- atomic commit: the metrics append IS the epoch commit point.
    # curation_metrics' pointer only ever moves on a completed epoch, so
    # its default parent (the current pointer) is always the last commit.
    metrics = batch.sparkSession.createDataFrame(
        [(int(epoch_id), n_input, n_dup_dropped, n_shipped)],
        "epoch long, n_input long, n_near_dup_dropped long, n_shipped long")
    commit_meta = {"epoch": epoch_id, "pins": new_pins}
    if run_id is not None:
        commit_meta["run_id"] = run_id  # checkpoint identity (see skip path)
    store.append(COMMIT_TABLE, metrics, meta=commit_meta)


def run_streaming_curation(doc_stream: DataFrame, store,
                           checkpoint_dir: str,
                           benchmark: DataFrame | None = None,
                           cfg: CurationStreamConfig | None = None):
    """foreachBatch bridge: every micro-batch of raw documents runs the
    incremental curation stages against ``store``'s state tables.

    Returns the un-started writer (call ``.start()``); pair with
    ``trigger(availableNow=True)`` runs for catch-up-then-stop batch
    chains, or leave the default trigger for a live stream.
    """
    cfg = cfg or CurationStreamConfig()
    # pin a run identity inside the checkpoint dir: it lives and dies
    # with Spark's batch-id sequence, so a lost/re-pointed checkpoint
    # (whose ids restart at 0) presents a NEW identity and the
    # exactly-once skip can fail fast instead of silently dropping
    # batches (see _curate_batch).  O_EXCL makes the create atomic: of
    # two runs starting on one fresh dir, the loser adopts the winner's id
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    ident = os.path.join(checkpoint_dir, "kit_run_id")
    try:
        fd = os.open(ident, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        with open(ident) as fh:
            run_id = fh.read().strip()
    else:
        run_id = uuid.uuid4().hex
        with os.fdopen(fd, "w") as fh:
            fh.write(run_id)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        _curate_batch(batch_df, epoch_id, store, benchmark, cfg,
                      run_id=run_id)

    return (doc_stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))
