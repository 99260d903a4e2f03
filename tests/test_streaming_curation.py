"""Streaming incremental curation (kit_spark.streaming.curation): the
foreachBatch chain over persisted dedup state reproduces the one-shot
batch pipeline for ascending-id batches with transitive duplicate
groups, survives committed-epoch replays and torn-epoch orphans, and
plan_paragraph_dedup chains to the one-shot paragraph_dedup."""

import pytest
from pyspark.sql import functions as F

from kit_spark.functions import dedup as DD
from kit_spark.functions.cleaning import c4_line_filter, redact_pii
from kit_spark.functions.components import dedup_cluster_losers
from kit_spark.functions.decontam import decontaminate
from kit_spark.sources.tables import SnapshotStore
from kit_spark.streaming.curation import (COMMIT_TABLE,
                                          CurationStreamConfig,
                                          _curate_batch, curated_corpus,
                                          run_streaming_curation,
                                          stream_documents)

BOILER = "subscribe to our newsletter for daily updates and offers."
BASE = ("the quick brown fox jumps over the lazy dog while seventeen "
        "sleepy cats watch from a warm windowsill and the afternoon "
        "sun drifts slowly across the quiet village square toward")
BENCH_GRAM = "zebras yodel under quilted violet moons"


def _mkdocs(spark, rows):
    return spark.createDataFrame(
        [(i, "web", t) for i, t in rows],
        "doc_id string, source string, text string")


def _corpus_rows():
    """Ascending string ids; batch1 = d0x, batch2 = d1x.  Exercises:
    boilerplate paragraph across batches, a transitive near-dup triple
    spanning batches, a contaminated doc, a C4 page-gate drop."""
    b1 = [
        ("d00", f"unique tale about rivers and stones.\n{BOILER}"),
        ("d01", BASE + " alpha."),                      # near-dup group
        ("d02", BASE + " beta."),                       # near-dup group
        ("d03", f"{BOILER}\nanother story of small boats and big tides."),
        ("d04", "curly brace page { should be dropped by the c4 gate."),
    ]
    b2 = [
        ("d10", BASE + " gamma."),                      # near-dup group
        ("d11", f"fresh essay on mountain weather.\n{BOILER}"),
        ("d12", f"benchmark leak here {BENCH_GRAM} inside prose."),
        ("d13", "completely original musings on tea and clocks."),
    ]
    return b1, b2


def _oneshot(spark, union_df, benchmark, cfg):
    """The batch-mode twin of curation._curate_batch, on the whole corpus."""
    cleaned = c4_line_filter(union_df, min_words=cfg.min_words,
                             min_sentences=cfg.min_sentences)
    red = redact_pii(cleaned, text_col="text_clean")
    paras = DD.paragraph_dedup(red, text_col="text_redacted",
                               hash_paras=True)
    docs = (paras.join(union_df.select("doc_id", "source"), "doc_id")
            .select("doc_id", "source", F.col("text_dedup").alias("text")))
    sig = DD.minhash_signatures(docs, k=8, n=3)
    pairs = DD.lsh_candidate_pairs(sig, k=8, rows_per_band=2,
                                   max_bucket=cfg.max_bucket)
    verified = DD.ngram_jaccard_pairs(docs, pairs, n=3)
    dup = verified.where(F.col("jaccard") >= cfg.jaccard).select("a", "b")
    shipped = docs.join(dedup_cluster_losers(dup), "doc_id", "left_anti")
    if benchmark is not None:
        shipped = decontaminate(shipped, benchmark, n=cfg.decontam_n)
    return shipped


CFG = CurationStreamConfig(min_words=1, min_sentences=0, decontam_n=5)


@pytest.fixture()
def held_out(spark):
    return spark.createDataFrame(
        [("q0", f"when {BENCH_GRAM} the judges weep")],
        "doc_id string, text string")


def test_plan_paragraph_dedup_chain_matches_batch(spark):
    """Chaining incremental paragraph dedup over ascending-id batches ==
    one-shot paragraph_dedup of the union, hashed and exact modes."""
    b1, b2 = _corpus_rows()
    d1, d2 = _mkdocs(spark, b1), _mkdocs(spark, b2)
    union = d1.unionByName(d2)
    for hp in (True, False):
        one = {(r["doc_id"], r["text_dedup"], r["n_paras"], r["n_kept"])
               for r in DD.paragraph_dedup(union, hash_paras=hp).collect()}
        idx = DD.plan_paragraph_dedup(d1, hash_paras=hp).keys
        out1 = DD.paragraph_dedup(d1, hash_paras=hp)
        out2 = DD.plan_paragraph_dedup(d2, state=idx, hash_paras=hp).docs
        got = {(r["doc_id"], r["text_dedup"], r["n_paras"], r["n_kept"])
               for r in out1.unionByName(out2).collect()}
        assert got == one
    # the boilerplate line actually deduped across the batch boundary
    kept_b2 = {r["doc_id"]: r["text_dedup"] for r in out2.collect()}
    assert BOILER not in kept_b2["d11"]


def test_streaming_curation_matches_oneshot(spark, tmp_path, held_out):
    b1, b2 = _corpus_rows()
    store = SnapshotStore(spark, str(tmp_path / "store"))
    src = tmp_path / "docs_stream"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def run_available():
        stream = stream_documents(spark, str(src))
        q = run_streaming_curation(stream, store, ckpt,
                                   benchmark=held_out, cfg=CFG).start()
        try:
            q.awaitTermination(180)
        finally:
            if q.isActive:
                q.stop()

    def drop(df, stem):
        # the file stream source lists the top-level directory only:
        # stage the batch, then move its part files into the stream root
        import glob
        import shutil
        stage = tmp_path / f"stage_{stem}"
        df.coalesce(1).write.parquet(str(stage))
        for i, part in enumerate(glob.glob(str(stage / "part-*.parquet"))):
            shutil.move(part, str(src / f"{stem}_{i}.parquet"))

    drop(_mkdocs(spark, b1), "b1")
    run_available()
    drop(_mkdocs(spark, b2), "b2")
    run_available()

    got = {(r["doc_id"], r["text"]) for r in
           curated_corpus(store).collect()}
    union = _mkdocs(spark, b1).unionByName(_mkdocs(spark, b2))
    want = {(r["doc_id"], r["text"]) for r in
            _oneshot(spark, union, held_out, CFG).collect()}
    assert got == want
    # each hazard actually fired: near-dup group collapsed to its min id,
    # the contaminated doc and the brace page are gone
    ids = {i for i, _ in got}
    assert "d01" in ids and {"d02", "d10"}.isdisjoint(ids)
    assert "d12" not in ids and "d04" not in ids
    # boilerplate survived exactly once, in its first-arrived doc
    boiler_docs = [i for i, t in got if BOILER in t]
    assert boiler_docs == ["d00"]

    # metrics: one committed row per epoch, near-dup drops recorded
    metrics = store.read(COMMIT_TABLE).collect()
    assert sorted(r["epoch"] for r in metrics) == [0, 1]
    assert sum(r["n_near_dup_dropped"] for r in metrics) >= 2


def test_curated_corpus_empty_store(spark, tmp_path):
    """Before any committed epoch the curated view is an empty frame with
    the output schema (readers need no existence check)."""
    store = SnapshotStore(spark, str(tmp_path / "store"))
    df = curated_corpus(store)
    assert df.columns == ["doc_id", "source", "text"]
    assert df.count() == 0


def test_streaming_curation_replay_and_torn_epoch(spark, tmp_path,
                                                  held_out):
    """Exactly-once: a committed epoch replays as a no-op; a torn epoch's
    orphan state snapshots are invisible to the retry."""
    b1, b2 = _corpus_rows()
    store = SnapshotStore(spark, str(tmp_path / "store"))
    d1, d2 = _mkdocs(spark, b1), _mkdocs(spark, b2)

    _curate_batch(d1, 0, store, held_out, CFG)
    committed = {t: store.current_snapshot(t)
                 for t in ("para_index", "band_index", "corpus_all",
                           "curated", COMMIT_TABLE)}
    # replay of the committed epoch: nothing moves
    _curate_batch(d1, 0, store, held_out, CFG)
    assert committed == {t: store.current_snapshot(t) for t in committed}

    # torn epoch 1: state deltas landed but the metrics commit did not —
    # simulate by appending epoch-1 paragraph keys and dying before commit
    store.append("para_index",
                 DD.plan_paragraph_dedup(redact_pii(d2),
                                         text_col="text_redacted").keys,
                 meta={"epoch": 1})
    # the retry must NOT see the orphan keys (else every batch-2 paragraph
    # would be knocked out and d13's text would come back empty)
    _curate_batch(d2, 1, store, held_out, CFG)
    got = {r["doc_id"]: r["text"] for r in curated_corpus(store).collect()}
    assert got["d13"] == "completely original musings on tea and clocks."
    union = d1.unionByName(d2)
    want = {r["doc_id"]: r["text"] for r in
            _oneshot(spark, union, held_out, CFG).collect()}
    assert got == want


def test_plan_paragraph_dedup_out_of_order_first_arrival_wins(spark):
    """The documented arrival-order contract for NON-ascending ids
    (functions/dedup.py plan_paragraph_dedup): when a later batch
    carries smaller ids, the FIRST-ARRIVED occurrence keeps the
    paragraph — not the union's (doc_id, pos) winner — and the per-doc
    counts reconcile."""
    hi = [("z90", f"first sighting of the banner.\n{BOILER}"),
          ("z91", "unrelated musing on maps.")]
    lo = [("a10", f"{BOILER}\nsecond arrival with a smaller id."),
          ("a11", f"prose before.\n{BOILER}")]
    d_hi, d_lo = _mkdocs(spark, hi), _mkdocs(spark, lo)
    for hp in (True, False):
        idx = DD.plan_paragraph_dedup(d_hi, hash_paras=hp).keys
        out_hi = DD.paragraph_dedup(d_hi, hash_paras=hp)
        out_lo = DD.plan_paragraph_dedup(d_lo, state=idx,
                                         hash_paras=hp).docs
        got_hi = {r["doc_id"]: r for r in out_hi.collect()}
        got_lo = {r["doc_id"]: r for r in out_lo.collect()}
        # first arrival (z90, the earlier batch) keeps the boilerplate;
        # every later-arrived occurrence drops, regardless of id order
        assert BOILER in got_hi["z90"]["text_dedup"]
        assert BOILER not in got_lo["a10"]["text_dedup"]
        assert BOILER not in got_lo["a11"]["text_dedup"]
        # the one-shot union picks the (doc_id, pos) winner instead —
        # the two semantics genuinely diverge here, as documented
        union = DD.paragraph_dedup(d_lo.unionByName(d_hi), hash_paras=hp)
        got_union = {r["doc_id"]: r for r in union.collect()}
        assert BOILER in got_union["a10"]["text_dedup"]
        assert BOILER not in got_union["z90"]["text_dedup"]
        # counts reconcile: exactly the one deduped paragraph is missing
        assert got_lo["a10"]["n_kept"] == got_lo["a10"]["n_paras"] - 1
        assert got_lo["a11"]["n_kept"] == got_lo["a11"]["n_paras"] - 1
        assert got_hi["z90"]["n_kept"] == got_hi["z90"]["n_paras"]


def test_checkpoint_identity_mismatch_fails_fast(spark, tmp_path, held_out):
    """A lost/re-pointed checkpoint dir restarts Spark's batch ids at 0;
    with persisted state the exactly-once skip would then silently drop
    genuinely new batches.  The run identity in the commit meta turns
    that into a fail-fast; a same-identity replay still skips silently."""
    b1, b2 = _corpus_rows()
    store = SnapshotStore(spark, str(tmp_path / "store"))
    d1, d2 = _mkdocs(spark, b1), _mkdocs(spark, b2)

    _curate_batch(d1, 0, store, held_out, CFG, run_id="run-A")
    snaps = {t: store.current_snapshot(t)
             for t in ("curated", COMMIT_TABLE)}
    # same identity, same epoch: genuine replay, silent no-op
    _curate_batch(d1, 0, store, held_out, CFG, run_id="run-A")
    assert snaps == {t: store.current_snapshot(t) for t in snaps}
    # NEW identity (fresh checkpoint dir), restarted epoch 0 carrying
    # new data: must raise, never silently drop
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="checkpoint"):
        _curate_batch(d2, 0, store, held_out, CFG, run_id="run-B")
    # the new run proceeds normally past the committed watermark
    _curate_batch(d2, 1, store, held_out, CFG, run_id="run-B")
    got = {r["doc_id"] for r in curated_corpus(store).collect()}
    assert "d13" in got
    # identity-less callers (legacy/direct) keep the old epoch-only skip
    _curate_batch(d1, 0, store, held_out, CFG)


def test_run_identity_create_keeps_the_race_winner(spark, tmp_path,
                                                   monkeypatch):
    """Two runs starting on one fresh checkpoint dir race to create its
    run identity; the loser must adopt the id already on disk, never
    overwrite it.  Losing the race is simulated: the file exists, but the
    existence check still reports it missing."""
    import os

    ckpt, docs = tmp_path / "ckpt", tmp_path / "docs"
    ckpt.mkdir()
    docs.mkdir()
    ident = ckpt / "kit_run_id"
    ident.write_text("winner")
    exists = os.path.exists
    monkeypatch.setattr(os.path, "exists",
                        lambda p: str(p) != str(ident) and exists(p))
    run_streaming_curation(stream_documents(spark, str(docs)),
                           SnapshotStore(spark, str(tmp_path / "store")),
                           str(ckpt))
    assert ident.read_text() == "winner"


def test_run_identity_is_published_whole(spark, tmp_path, monkeypatch):
    """A racing run reads the identity at any point of the winner's
    create.  Before and after every filesystem call the winner makes,
    ``kit_run_id`` must be absent or hold the full id: never empty, so a
    loser can never adopt a blank identity."""
    import os

    ckpt, docs = tmp_path / "ckpt", tmp_path / "docs"
    docs.mkdir()
    ident = ckpt / "kit_run_id"
    stream = stream_documents(spark, str(docs))
    store = SnapshotStore(spark, str(tmp_path / "store"))
    seen = []

    def snap():
        seen.append(ident.read_text() if ident.exists() else None)

    def watch(name):
        real = getattr(os, name)

        def call(*args, **kwargs):
            snap()
            try:
                return real(*args, **kwargs)
            finally:
                snap()
        monkeypatch.setattr(os, name, call)

    for name in ("open", "fdopen", "link", "rename", "replace", "unlink"):
        watch(name)
    run_streaming_curation(stream, store, str(ckpt))
    monkeypatch.undo()
    run_id = ident.read_text()
    assert len(run_id) == 32
    assert seen and set(seen) <= {None, run_id}
    # the temp file the id was published from is gone
    assert sorted(p.name for p in ckpt.iterdir()) == ["kit_run_id"]
