"""Structured Streaming curation pipeline (SURVEY.md §8e).

Documents arrive as a stream; every micro-batch runs the curation
stages incrementally against persisted dedup state, so a corpus can be
curated as it is crawled instead of in one giant batch:

* clean (C4 line/page filters) -> PII redaction — stateless, map-only;
* cross-document paragraph dedup against the persisted ``para_index``
  key table (functions.dedup.plan_paragraph_dedup) — a paragraph seen in
  ANY earlier batch is boilerplate here;
* MinHash/LSH near-dup against the persisted ``band_index`` with n-gram
  Jaccard verify against the cumulative ``corpus_all`` text table
  (functions.dedup.plan_near_dup) — cost tracks the batch, never the corpus;
* benchmark decontamination against a static held-out frame;
* survivors append to the ``curated`` table.

State tables live in a :class:`~kit_spark.sources.tables.SnapshotStore`
and commit through the store's one checkpoint protocol, the crawl
driver's too (sources/tables.py ``read_pinned``/``append_pinned``/
``commit_log``): every state read goes through the snapshot PINNED by
the last committed epoch (never the current pointer), every state write
is a delta append chained onto that pin, and the epoch commits by
appending its metrics row to ``curation_metrics``, whose snapshot meta
carries the new pins, last.  A batch retried after a torn epoch re-reads
the pinned (pre-torn) state, re-appends its deltas chained PAST the
orphan snapshots, and re-commits; a batch retried after a COMMITTED
epoch is detected by the epoch watermark and skipped.
:func:`read_state` and :func:`commit_state` are this module's two
halves of it; ``jobs/curate_job.py --state-dir`` commits through them
too, one epoch per run.

Near-dup semantics (functions.dedup.plan_near_dup's one loser rule):
``band_index``/``corpus_all`` cover every doc SEEN (shipped or dropped),
and a batch doc drops iff its component over the verified edges holds a
seen doc, or it is not its component's min id.  For ascending-id batches
that equals the one-shot pipeline over their union (jobs/curate_job.py's
clean->dedup->decontam chain; pinned in tests/test_streaming_curation.py
and tests/test_near_dup_arrival_order.py); otherwise the first arrival
keeps its place, as in paragraph dedup.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import lifecycle
from ..functions import dedup as DD
from ..functions.cleaning import c4_line_filter, redact_pii
from ..functions.decontam import decontaminate
from ..sources.tables import append_pinned, commit_log, read_pinned


@dataclass(frozen=True)
class CurationStreamConfig:
    """Knobs mirror jobs/stream_curate_job.py's flags; the dedup operators
    run at their defaults."""
    c4: bool = True
    min_words: int = 5           # C4 line gate
    min_sentences: int = 3       # C4 page gate
    max_bucket: int | None = None
    jaccard: float = 0.8
    decontam_n: int = 13


COMMIT_TABLE = "curation_metrics"


def read_state(store, committed: dict):
    """The dedup state as of the commit ``committed`` (the commit table's
    meta): ``(para_index, near)``, where ``near`` is
    ``plan_near_dup``'s ``(band_index, corpus_all)`` state.  Each is None
    before its first commit.  Strictly pin-resolved: an orphan snapshot
    a torn epoch left behind is never read, exactly as crawl resume
    ignores orphans."""
    bands = read_pinned(store, committed, "band_index")
    near = (None if bands is None
            else (bands, read_pinned(store, committed, "corpus_all")))
    return read_pinned(store, committed, "para_index"), near


def commit_state(store, committed: dict, epoch: int,
                 deltas: dict[str, DataFrame], counts: tuple[int, int, int],
                 run_id: str | None = None) -> None:
    """Append each state delta chained onto ``committed``'s pin (PAST any
    torn orphans), then commit the epoch by appending its metrics row,
    ``counts`` = (n_input, n_near_dup_dropped, n_shipped), last: its
    snapshot meta carries the new pins and the run identity."""
    new_pins = {name: append_pinned(store, committed, name, delta,
                                    meta={"epoch": epoch})
                for name, delta in deltas.items()}
    metrics = store.spark.createDataFrame(
        [(int(epoch), *counts)],
        "epoch long, n_input long, n_near_dup_dropped long, n_shipped long")
    # run_id: the checkpoint identity (see _curate_batch's skip path)
    ident = {} if run_id is None else {"run_id": run_id}
    commit_log(store, COMMIT_TABLE, metrics, new_pins, epoch=epoch, **ident)


def stream_documents(spark: SparkSession, directory: str,
                     schema: str = "doc_id string, source string, "
                                   "text string") -> DataFrame:
    """File-source document stream: drop document parquet files into
    ``directory`` and each becomes a micro-batch."""
    return spark.readStream.schema(schema).parquet(directory)


def curated_corpus(store, spark: SparkSession | None = None) -> DataFrame:
    """The shipped corpus as of the last COMMITTED epoch (reads through
    the commit pin, so a torn in-flight epoch is invisible)."""
    curated = read_pinned(store, store.meta(COMMIT_TABLE), "curated")
    if curated is None:
        sess = spark or store.spark
        return sess.createDataFrame([], "doc_id string, source string, "
                                        "text string")
    return curated


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
    para_index, near_state = read_state(store, committed)
    n_input = batch.count()

    # -- stateless stages: clean -> redact ---------------------------------
    if cfg.c4:
        cleaned = c4_line_filter(batch, min_words=cfg.min_words,
                                 min_sentences=cfg.min_sentences)
        redacted = redact_pii(cleaned, text_col="text_clean")
    else:
        redacted = redact_pii(batch)

    # -- incremental cross-document paragraph dedup ------------------------
    paras = DD.plan_paragraph_dedup(redacted, state=para_index,
                                    text_col="text_redacted")
    # the post-paragraph corpus feeds four dataflows (signatures, the
    # Jaccard verify, the corpus_all append, the curated append): pin it
    # for the batch, released in _curate_batch's finally
    docs = lifecycle.track(
        paras.docs.join(batch.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", F.col("text_dedup").alias("text")))

    # -- incremental near-dup: batch vs the seen corpus --------------------
    near = DD.plan_near_dup(docs, state=near_state,
                            max_bucket=cfg.max_bucket, jaccard=cfg.jaccard)
    shipped = docs.join(near.losers, "doc_id", "left_anti")
    n_dup_dropped = near.losers.count()

    # -- decontamination (static held-out benchmark) -----------------------
    if benchmark is not None:
        shipped = decontaminate(shipped, benchmark, n=cfg.decontam_n)
    # pinned: consumed by the metrics count AND the curated append — and
    # counting the DataFrame keeps this module on the narrow store
    # interface (reading the delta back via store.root broke on any store
    # whose layout is not the parquet SnapshotStore's)
    shipped = lifecycle.track(shipped)
    n_shipped = shipped.count()  # fills the cache the append reads

    # the index records SEEN docs (shipped or dropped) — see module doc
    commit_state(store, committed, epoch_id,
                 {"para_index": paras.keys, "band_index": near.bands,
                  "corpus_all": near.texts, "curated": shipped},
                 (n_input, n_dup_dropped, n_shipped), run_id)


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
    # batches (see _curate_batch).  os.link publishes a fully written
    # temp file, so the identity is never seen empty, and fails if the
    # name exists: of two runs on one fresh dir, the loser adopts the id
    import uuid

    os.makedirs(checkpoint_dir, exist_ok=True)
    ident = os.path.join(checkpoint_dir, "kit_run_id")
    run_id = uuid.uuid4().hex
    tmp = f"{ident}.{run_id}.tmp"
    with open(tmp, "w") as fh:
        fh.write(run_id)
    try:
        os.link(tmp, ident)
    except FileExistsError:
        with open(ident) as fh:
            run_id = fh.read().strip()
    finally:
        os.unlink(tmp)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        _curate_batch(batch_df, epoch_id, store, benchmark, cfg,
                      run_id=run_id)

    return (doc_stream.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True))
