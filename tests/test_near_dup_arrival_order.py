"""Arrival order on both incremental near-dup surfaces: the curation job
(`jobs/curate_job.py`, two runs on one ``--state-dir``) and
the streaming micro-batch (`_curate_batch`, two epochs).

Both apply one loser rule (`functions.dedup.plan_near_dup`): a batch doc
loses iff its component over the verified near-dup edges holds a doc
from an earlier batch, or it is not its component's min id.  For
ascending ids that equals a one-shot run over the union; with a batch
doc that sorts before an already-seen near-dup, the first arrival keeps
its place, as paragraph dedup's does.
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from kit_spark.sources.tables import SnapshotStore  # noqa: E402
from kit_spark.streaming.curation import (_curate_batch,  # noqa: E402
                                          curated_corpus)
from test_curate_job import _job_args, _write_docs  # noqa: E402
from test_streaming_curation import CFG, _oneshot  # noqa: E402

_SYL = ["ka", "lo", "mi", "nu", "pe", "ra", "si", "to", "vu", "zo"]


def _word(i: int) -> str:
    """A distinct three-syllable word per i < 1000."""
    return "".join(_SYL[(i // 10 ** j) % 10] for j in range(3))


def _prose(offset: int, swap: range = range(0)) -> str:
    """30 sentences, 240 words; every content word is distinct, so every
    word 3-shingle is too.  Each sentence in ``swap`` gets a fresh first
    noun, which changes 3 shingles: 5 swaps put a variant at Jaccard
    223/253 = 0.881 from its base, and two variants swapped in
    disjoint sentences at 208/268 = 0.776 from each other."""
    words = [_word(offset + i) for i in range(90)]
    for s in swap:
        words[3 * s] = _word(offset + 500 + s)
    return " ".join(f"the {words[3 * s]} and the {words[3 * s + 1]} meets "
                    f"the {words[3 * s + 2]}." for s in range(30))


BASE = _prose(0)
LOW = _prose(0, range(1, 6))      # ~BASE, not ~HIGH
HIGH = _prose(0, range(17, 22))   # ~BASE, not ~LOW
FILL1, FILL2 = _prose(100), _prose(200)  # near-dup of nothing

# (batch 1, batch 2, ids a one-shot run over the union ships); None:
# the batches are out of id order, so only the arrival rule is checked
CASES = {
    # P < A < B, P~B and A~B but not P~A: P's component holds A and B
    "P/A/B": ([(1, LOW), (8, FILL1)],
              [(2, HIGH), (3, BASE), (9, FILL2)], {1, 8, 9}),
    # X < Y < Z, X~Y and Y~Z but not X~Z: the dropped Y still links Z
    "X/Y/Z": ([(1, LOW), (2, BASE), (8, FILL1)],
              [(3, HIGH), (9, FILL2)], {1, 8, 9}),
    # batch doc A=4 near-dups the already-seen P=5
    "out-of-order": ([(5, BASE), (8, FILL1)],
                     [(4, LOW), (9, FILL2)], None),
}


@pytest.mark.parametrize("case", list(CASES))
def test_incremental_near_dup_arrival_order(spark, tmp_path, case):
    from jobs.curate_job import main

    b1, b2, oneshot = CASES[case]

    # -- job surface: two runs on one --state-dir --------------------------
    def sf(name, rows):
        d = str(tmp_path / name)
        _write_docs(spark, [(i, "src0", t) for i, t in rows], d)
        return d

    def shipped(wd):
        return {r["doc_id"] for r in
                spark.read.parquet(f"{wd}/corpus").select("doc_id")
                .collect()}

    w1, w2 = str(tmp_path / "w1"), str(tmp_path / "w2")
    state = ["--state-dir", str(tmp_path / "state")]
    main(_job_args(w1, sf("b1", b1)) + state)
    main(_job_args(w2, sf("b2", b2)) + state)
    job = shipped(w1) | shipped(w2)

    # -- streaming surface: two epochs over one store ----------------------
    def frame(rows):
        return spark.createDataFrame(
            [(f"d{i}", "web", t) for i, t in rows],
            "doc_id string, source string, text string")

    store = SnapshotStore(spark, str(tmp_path / "store"))
    _curate_batch(frame(b1), 0, store, None, CFG)
    _curate_batch(frame(b2), 1, store, None, CFG)
    stream = {int(r["doc_id"][1:]) for r in
              curated_corpus(store).select("doc_id").collect()}

    if oneshot is None:
        # the first arrival keeps its place: A drops, P stays shipped
        assert 4 not in job and 5 in job
        assert 4 not in stream and 5 in stream
        return
    wu = str(tmp_path / "wu")
    main(_job_args(wu, sf("union", b1 + b2)))
    assert shipped(wu) == oneshot
    assert job == oneshot
    union = frame(b1).unionByName(frame(b2))
    assert {int(r["doc_id"][1:]) for r in
            _oneshot(spark, union, None, CFG).select("doc_id")
            .collect()} == oneshot
    assert stream == oneshot
