"""Tests of the benchmark's own correctness gates and its metric catalogue.

    python3 -m pytest perfbench/test_gates.py -q
"""

import json
import os

from common import END_TO_END_UNITS, per_layer_units
from inputs import documents
from reference import (cluster_losers, curation_errors, failed_fetches,
                       schedule_mismatches)

SCHEDULE = [(0, 0, "https://h0.example.com/img/img0000000000.png"),
            (0, 1, "https://h1.example.com/img/img0000000001.png"),
            (1, 0, "https://h0.example.com/img/img0000000002.jpeg")]


def _row(**kw):
    row = {"fetch_ok": True, "caption_ok": True, "psnr_db": None,
           "image_id": "img0000000000"}
    row.update(kw)
    return row


def test_identical_schedule_passes():
    assert schedule_mismatches(list(reversed(SCHEDULE)), SCHEDULE) == 0


def test_swapped_seq_is_caught():
    swapped = [(0, 1, SCHEDULE[0][2]), (0, 0, SCHEDULE[1][2]), SCHEDULE[2]]
    assert schedule_mismatches(swapped, SCHEDULE) == 2


def test_missing_row_is_caught():
    assert schedule_mismatches(SCHEDULE[:2], SCHEDULE) == 1


def test_flipped_fetch_ok_is_caught():
    rows = [_row(), _row(fetch_ok=False), _row(psnr_db=47.0)]
    assert failed_fetches(rows) == 1


def test_low_psnr_and_caption_mismatch_are_caught():
    assert failed_fetches([_row(psnr_db=39.9), _row(caption_ok=False)]) == 2


def _curation(**kw):
    args = dict(
        n_input=4, texts=["a b c\nd e f", "g h i", "a b c x", ""],
        dup_pairs=[(0, 2)], losers={2}, copies={2},
        splits={"train": 2, "val": 1},
        blocks=[{"doc_id": 0, "n_tokens": 6, "block_id": 0, "tok_begin": 0,
                 "tok_end": 4, "block_off": 4},
                {"doc_id": 0, "n_tokens": 6, "block_id": 1, "tok_begin": 4,
                 "tok_end": 6, "block_off": 0}],
        block_size=8)
    args.update(kw)
    return curation_errors(**args)


def test_sound_curation_passes():
    assert _curation() == []


def test_cluster_losers_are_all_but_each_components_minimum():
    assert cluster_losers([(5, 3), (3, 9), (1, 2)]) == {5, 9, 2}


def test_curation_faults_are_caught():
    assert _curation(texts=["a b c", "g h i", "A  b c", ""])  # paragraph twice
    assert _curation(losers={0}, copies={0, 2})  # not the components' losers
    assert _curation(dup_pairs=[(0, 1)], losers={1})  # an original dropped
    assert _curation(splits={"train": 2, "val": 2})  # split not a partition
    assert _curation(blocks=[{"doc_id": 0, "n_tokens": 6, "block_id": 0,
                              "tok_begin": 0, "tok_end": 4,
                              "block_off": 4}])  # tokens lost in packing
    assert _curation(blocks=[{"doc_id": 0, "n_tokens": 6, "block_id": 0,
                              "tok_begin": 0, "tok_end": 6,
                              "block_off": 4}])  # block overflow


def test_documents_follow_the_seed():
    assert documents(5, 50) == documents(5, 50)
    assert documents(5, 50) != documents(6, 50)
    _rows, copies = documents(5, 200)
    assert copies and all(0 < c < 200 for c in copies)


def test_benchmark_json_matches_emitted_metrics():
    path = os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")
    with open(path) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} \
        == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} \
        == per_layer_units()
    assert [w["name"] for w in spec["workloads"]] \
        == ["crawl_rounds", "curate_docs"]
