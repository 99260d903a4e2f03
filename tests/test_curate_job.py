"""End-to-end run of the curation export job (jobs/curate_job.py)."""

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def test_curate_job_end_to_end(spark, tmp_path):
    from jobs.curate_job import main

    wd = str(tmp_path / "curate")
    counts = main(["--workdir", wd, "--images", "60",
                   "--shard-bytes", "32768", "--sf-dir",
                   "/root/testdata/sf0.001"])

    # the funnel only narrows, and nothing degenerates to empty
    assert counts["input"] == 500
    assert 0 < counts["after_clean_gates"] <= counts["input"]
    assert 0 < counts["after_near_dup"] <= counts["after_clean_gates"]
    assert 0 < counts["train"] <= counts["after_near_dup"]
    assert counts["train"] + counts["heldout"] == counts["after_near_dup"]
    assert 0 < counts["train_final"] <= counts["train"]
    assert counts["blocks"] > 0
    assert counts["block_rows"] >= counts["blocks"]
    assert counts["images_ok"] == 60
    assert 0 < counts["images_kept"] <= counts["images_ok"]
    assert counts["image_shards"] > 1

    # written outputs are readable and consistent with the summary
    corpus = spark.read.parquet(f"{wd}/corpus")
    assert corpus.count() == counts["after_near_dup"]
    assert set(corpus.columns) >= {"doc_id", "source", "text", "split"}
    blocks = spark.read.parquet(f"{wd}/blocks")
    assert blocks.count() == counts["block_rows"]
    toks = spark.read.parquet(f"{wd}/block_tokens")
    assert toks.count() == counts["blocks"]
    from pyspark.sql import functions as F
    assert toks.where(F.size("tokens") != 2048).count() == 0
    shards = spark.read.parquet(f"{wd}/image_shards")
    assert shards.count() == counts["images_kept"]
    # every block slice fits its block
    bad = blocks.where((blocks.block_off < 0)
                       | (blocks.tok_end <= blocks.tok_begin)).count()
    assert bad == 0


def test_curate_job_c4_gate_documented_behavior(spark, tmp_path):
    """--c4 applies the punctuation-based page gate; the synthetic corpus
    has no sentence punctuation, so the text leg drains (the exact case
    the flag's help text warns about) while the image leg still runs."""
    from jobs.curate_job import main

    counts = main(["--workdir", str(tmp_path / "c4"), "--images", "30",
                   "--c4", "--sf-dir", "/root/testdata/sf0.001"])
    assert counts["after_clean_gates"] == 0
    assert counts["images_ok"] == 30


def test_curate_job_with_mixture(spark, tmp_path):
    """--mix resamples the cleaned corpus to target source proportions
    before splitting; the funnel arithmetic stays consistent."""
    import json

    from jobs.curate_job import main

    weights = {f"src{i}": 1.0 for i in range(10)}  # drop the other 10
    counts = main(["--workdir", str(tmp_path / "mix"), "--images", "30",
                   "--mix", json.dumps(weights),
                   "--sf-dir", "/root/testdata/sf0.001"])
    assert 0 < counts["after_mix"] <= counts["after_near_dup"]
    assert counts["train"] + counts["heldout"] == counts["after_mix"]
    corpus = spark.read.parquet(str(tmp_path / "mix" / "corpus"))
    srcs = {r["source"] for r in corpus.select("source").distinct().collect()}
    assert srcs <= set(weights)  # unweighted sources are gone


# --- incremental mode --------------------------------------------------------

_VOCAB = ["ocean", "mountain", "forest", "river", "castle", "garden",
          "harbor", "village", "meadow", "island", "bridge", "temple",
          "market", "valley", "lantern", "compass", "anchor", "saddle",
          "mirror", "quarry", "orchard", "canyon", "glacier", "prairie",
          "tundra", "lagoon", "plateau", "dune", "fjord", "reef", "grove",
          "cliff", "marsh", "brook", "summit", "hollow"]


def _doc_text(i: int) -> str:
    """Deterministic distinct English prose that clears the lang/quality
    gates; the shared template contributes few shared 3-shingles because
    every third token is a seeded-random vocab word."""
    import random

    rng = random.Random(i * 7919 + 13)
    w = rng.sample(_VOCAB, 12)
    sents = [f"The {a} and the {b} stood near the {c} for many years."
             for a, b, c in zip(w[0::3], w[1::3], w[2::3])]
    return " ".join(sents)


def _write_docs(spark, rows, path):
    spark.createDataFrame(rows, "doc_id long, source string, text string") \
        .write.mode("overwrite").parquet(f"{path}/documents.parquet")


def _job_args(wd, sf):
    # repetition gates off: the sentence template's 'the' 2-grams are a
    # per-doc constant that would otherwise gate the whole crafted corpus
    return ["--workdir", wd, "--sf-dir", sf, "--images", "4",
            "--shard-bytes", "4096",
            "--max-dup-line-frac", "1.0", "--max-top2gram-frac", "1.0"]


def _incremental_batches():
    """Batches A and B with planted duplicates: within-A, within-B,
    cross-batch identical, a cross-batch identical CHAIN, and a
    cross-batch near-identical (one word swapped) pair."""
    a_rows = [(i, f"src{i % 3}", _doc_text(i)) for i in range(30)]
    a_rows[6] = (6, "src0", _doc_text(5))          # within-A dup of 5
    b_rows = [(100 + i, f"src{i % 3}", _doc_text(100 + i)) for i in range(30)]
    b_rows[10] = (110, "src1", _doc_text(7))       # cross dup of A's 7
    b_rows[15] = (115, "src0", _doc_text(8))       # chain: 8 == 115 == 116
    b_rows[16] = (116, "src1", _doc_text(8))
    b_rows[21] = (121, "src0", _doc_text(120))     # within-B dup of 120
    near = _doc_text(9).replace("many years", "long years", 1)
    b_rows[29] = (129, "src2", near)               # near-dup of A's 9
    return a_rows, b_rows


def _shipped(spark, wd):
    return {r["doc_id"] for r in
            spark.read.parquet(f"{wd}/corpus").select("doc_id").collect()}


def test_curate_job_incremental_equals_one_shot(spark, tmp_path):
    """batch A, then batch B, both with one --state-dir, ships exactly
    the docs a one-shot run over A+B ships — the incremental paragraph
    keys and band index are load-bearing on the job surface (the
    operator-level pair equivalence is pinned in
    tests/test_incremental_dedup.py)."""
    from jobs.curate_job import main
    from kit_spark.sources.tables import SnapshotStore, committed_pins
    from kit_spark.streaming.curation import COMMIT_TABLE

    a_rows, b_rows = _incremental_batches()
    dirs = {k: str(tmp_path / k)
            for k in ("A", "B", "F", "wA", "wB", "wF", "state")}
    _write_docs(spark, a_rows, dirs["A"])
    _write_docs(spark, b_rows, dirs["B"])
    _write_docs(spark, a_rows + b_rows, dirs["F"])
    state = ["--state-dir", dirs["state"]]

    counts_a = main(_job_args(dirs["wA"], dirs["A"]) + state)
    store = SnapshotStore(spark, dirs["state"])
    pins_a = committed_pins(store.meta(COMMIT_TABLE))

    def state_files(pins):
        out = {}
        for tbl, snap in pins.items():
            d = os.path.join(dirs["state"], tbl, snap)
            out[tbl] = {f: os.path.getmtime(os.path.join(d, f))
                        for f in os.listdir(d) if not f.startswith(".")}
        return out

    a_state_before = state_files(pins_a)
    counts_b = main(_job_args(dirs["wB"], dirs["B"]) + state)
    # O(batch) state IO: the second run never rewrites the first run's
    # snapshots — it only appends its own deltas + commit row
    assert state_files(pins_a) == a_state_before
    counts_f = main(_job_args(dirs["wF"], dirs["F"]))

    ship_a, ship_b, ship_f = (_shipped(spark, dirs[k])
                              for k in ("wA", "wB", "wF"))
    assert ship_a | ship_b == ship_f          # the equivalence
    assert ship_a.isdisjoint(ship_b)
    # planted outcomes: every later copy dropped, every original kept
    assert {5, 7, 8, 9} <= ship_a and 6 not in ship_a
    for dup in (110, 115, 116, 121, 129):
        assert dup not in ship_b, dup
    assert 120 in ship_b
    # paragraph keys carry across runs: the cross-batch exact copies 110,
    # 115 and 116 lose every paragraph to A's keys and fail the gates, as
    # they do in the one-shot run, instead of reaching near-dup
    assert (counts_a["after_clean_gates"] + counts_b["after_clean_gates"]
            == counts_f["after_clean_gates"])
    # the committed dedup state covers every doc that reached near-dup
    # (passed the gates), shipped or dropped — a dropped doc must still
    # catch a later near-dup of itself — read through the commit pins as
    # the next run would.  129 is dropped by near-dup itself; an exact
    # copy loses every paragraph to paragraph dedup and fails the gates
    commit = store.meta(COMMIT_TABLE)
    pins = committed_pins(commit)
    dropped_b = {129}
    assert commit["epoch"] == 1
    for tbl, snap in pins.items():   # B's deltas chain onto A's pins
        assert store.meta(tbl, snap)["parent"] == pins_a[tbl]
    idx_ids = {r["doc_id"] for r in
               store.read("band_index", pins["band_index"])
               .select("doc_id").distinct().collect()}
    all_ids = {r["doc_id"] for r in
               store.read("corpus_all", pins["corpus_all"])
               .select("doc_id").collect()}
    assert idx_ids == all_ids
    assert len(all_ids) == (counts_a["after_clean_gates"]
                            + counts_b["after_clean_gates"])
    assert ship_a | ship_b | dropped_b <= all_ids
    # ...and B's own delta snapshot holds ONLY B's batch rows
    b_delta = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(dirs["state"], "corpus_all", pins["corpus_all"]))
        .collect()}
    assert len(b_delta) == counts_b["after_clean_gates"]
    assert ship_b | dropped_b <= b_delta <= {r[0] for r in b_rows}


def test_curate_job_torn_run_is_invisible(spark, tmp_path):
    """A run killed after a state append but before its commit row leaves
    an orphan snapshot.  The next run on that --state-dir reads through
    the committed pins, so it ships what a run on untorn state ships, and
    chains its deltas past the orphan.  A stream whose batch ids restart
    at 0 on that state dir then fails fast on the run identity the job
    committed, instead of silently skipping its batch."""
    import shutil

    import pytest

    from jobs.curate_job import main
    from kit_spark.functions.cleaning import redact_pii
    from kit_spark.functions.dedup import plan_paragraph_dedup
    from kit_spark.sources.tables import SnapshotStore, committed_pins
    from kit_spark.streaming.curation import (COMMIT_TABLE,
                                              CurationStreamConfig,
                                              _curate_batch)

    a_rows, b_rows = _incremental_batches()
    dirs = {k: str(tmp_path / k)
            for k in ("A", "B", "wA", "wB", "wT", "state", "torn")}
    _write_docs(spark, a_rows, dirs["A"])
    _write_docs(spark, b_rows, dirs["B"])
    main(_job_args(dirs["wA"], dirs["A"]) + ["--state-dir", dirs["state"]])
    shutil.copytree(dirs["state"], dirs["torn"])

    # the torn run: B's paragraph keys landed, its commit row did not.
    # Read, they would knock out every paragraph of B
    torn = SnapshotStore(spark, dirs["torn"])
    pins_a = committed_pins(torn.meta(COMMIT_TABLE))
    b_docs = spark.read.parquet(f"{dirs['B']}/documents.parquet")
    orphan = torn.append(
        "para_index", plan_paragraph_dedup(
            redact_pii(b_docs), text_col="text_redacted").keys,
        meta={"epoch": 1})

    main(_job_args(dirs["wB"], dirs["B"]) + ["--state-dir", dirs["state"]])
    main(_job_args(dirs["wT"], dirs["B"]) + ["--state-dir", dirs["torn"]])
    untorn = _shipped(spark, dirs["wB"])
    assert 120 in untorn
    assert _shipped(spark, dirs["wT"]) == untorn
    commit = torn.meta(COMMIT_TABLE)
    assert commit["epoch"] == 1
    para_pin = committed_pins(commit)["para_index"]
    assert para_pin != orphan
    assert torn.meta("para_index", para_pin)["parent"] == pins_a["para_index"]

    batch = spark.createDataFrame([("d0", "web", "new text")],
                                  "doc_id string, source string, text string")
    with pytest.raises(RuntimeError, match="checkpoint"):
        _curate_batch(batch, 0, torn, None, CurationStreamConfig(),
                      run_id="stream-run")
