"""Correctness gates.

Pure functions over collected rows, so the benchmark's own tests can show
that they catch a corrupted schedule or fetch log.
"""

from __future__ import annotations

PSNR_MIN_DB = 40.0


def schedule_mismatches(got: list[tuple[int, int, str]],
                        want: list[tuple[int, int, str]]) -> int:
    """Positions at which two (round, seq, url_canon) schedules differ,
    counting a length difference as mismatches."""
    diff = sum(1 for a, b in zip(sorted(got), sorted(want)) if a != b)
    return diff + abs(len(got) - len(want))


def fetch_row_ok(row: dict) -> bool:
    """The per-row fetch invariant: the payload decoded (exactly, or at
    PSNR >= 40 dB for lossy formats) and the caption matched."""
    if not (row["fetch_ok"] and row["caption_ok"]):
        return False
    psnr = row.get("psnr_db")
    return psnr is None or psnr >= PSNR_MIN_DB


def failed_fetches(rows: list[dict]) -> int:
    return sum(1 for row in rows if not fetch_row_ok(row))


def cluster_losers(pairs: list[tuple[int, int]]) -> set[int]:
    """Every node of the pairs' graph that is not the minimum id of its
    connected component."""
    parent: dict[int, int] = {}

    def root(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = root(a), root(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x for x in parent if root(x) != x}


def curation_errors(n_input: int, texts: list[str],
                    dup_pairs: list[tuple[int, int]], losers: set[int],
                    copies: set[int], splits: dict[str, int],
                    blocks: list[dict], block_size: int) -> list[str]:
    """Curation checks.  ``texts`` are the documents after paragraph dedup,
    ``dup_pairs`` the verified near-dup pairs, ``losers`` the cluster
    losers dropped for them, ``copies`` the ids of the near-dup copies the
    generator wrote, ``splits`` the row count of each split of the kept
    documents, and ``blocks`` the packing block map of the decontaminated
    train split."""
    errors = []
    if len(texts) != n_input:
        errors.append(f"paragraph dedup kept {len(texts)} of {n_input} "
                      "documents")
    lines = [" ".join(line.split()).lower()
             for text in texts for line in text.split("\n")]
    lines = [line for line in lines if line]
    if len(set(lines)) != len(lines):
        errors.append(f"{len(lines) - len(set(lines))} paragraphs survive "
                      "paragraph dedup twice")
    if losers != cluster_losers(dup_pairs):
        errors.append("the cluster losers differ from the near-dup pairs' "
                      "components")
    if not losers <= copies:
        errors.append(f"near-dup dropped {len(losers - copies)} documents "
                      "that are not copies")
    if sum(splits.values()) != n_input - len(losers):
        errors.append("the splits do not partition the kept documents")
    per_doc: dict[int, list[dict]] = {}
    per_block: dict[int, int] = {}
    for b in blocks:
        per_doc.setdefault(b["doc_id"], []).append(b)
        per_block[b["block_id"]] = (per_block.get(b["block_id"], 0)
                                    + b["tok_end"] - b["tok_begin"])
        if b["block_off"] + b["tok_end"] - b["tok_begin"] > block_size:
            errors.append(f"doc {b['doc_id']} overflows block "
                          f"{b['block_id']}")
    if len(per_doc) > splits.get("train", 0):
        errors.append("more documents packed than the train split holds")
    for doc_id, rows in per_doc.items():
        rows.sort(key=lambda r: r["block_id"])
        pos = 0
        for r in rows:
            if r["tok_begin"] != pos:
                errors.append(f"doc {doc_id}'s slices are not contiguous")
                break
            pos = r["tok_end"]
        if pos != rows[0]["n_tokens"]:
            errors.append(f"doc {doc_id}'s slices cover {pos} of "
                          f"{rows[0]['n_tokens']} tokens")
    if any(n > block_size for n in per_block.values()):
        errors.append("a block holds more tokens than its size")
    return errors
