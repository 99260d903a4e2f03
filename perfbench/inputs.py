"""Seeded documents for curate_docs.  The same seed always yields the same
rows; the program under test only ever sees the generated table.
"""

from __future__ import annotations

import random

_WORDS = (
    "spark frontier crawl robots sitemap host politeness budget schedule "
    "fetch verify image caption shard block token corpus filter dedup "
    "minhash band bucket jaccard cluster paragraph window merge join sort "
    "partition shuffle stage task driver worker arrow vector batch stream "
    "snapshot commit round seed priority delay queue table column row key "
    "value order group hash index query plan cost cache memory disk file "
    "parquet schema record header footer entry field bloom filter cuckoo "
    "sample split train valid test pack sequence decode encode pixel color"
).split()
NEAR_DUP_SHARE = 0.1  # lightly edited copies of earlier originals
OTHER_LANG_SHARE = 0.05  # originals written with German function words
_BOILERPLATE = (
    "subscribe to the newsletter and follow the feed for the latest news",
    "all rights reserved and the content is provided as is",
    "accept the cookies and continue to the page",
)


def documents(seed: int, n_docs: int) -> tuple[list[dict], set[int]]:
    """English-marked word-bag documents shaped like the ``documents``
    table (doc_id, text, lang, source, n_chars): several lines each, with
    shared boilerplate lines for the paragraph dedup, a ``NEAR_DUP_SHARE``
    of lightly edited copies of earlier original documents (clusters of one
    original and its copies) for the MinHash/LSH/Jaccard stage, and a few
    non-English documents.  Returns the rows and the ids of the copies."""
    rng = random.Random(seed)
    rows: list[dict] = []
    originals: list[str] = []
    copies: set[int] = set()
    for doc_id in range(n_docs):
        if originals and rng.random() < NEAR_DUP_SHARE:
            # one word appended to every line: no line survives as an exact
            # duplicate for the paragraph dedup, and the n-gram Jaccard
            # with the original stays high
            text = "\n".join(f"{line} {rng.choice(_WORDS)}" for line in
                             rng.choice(originals).split("\n"))
            copies.add(doc_id)
        else:
            lines = []
            for _ in range(rng.randrange(2, 5)):
                words = [rng.choice(_WORDS)
                         for _ in range(rng.randrange(14, 30))]
                words.insert(rng.randrange(len(words)), "the")
                words.insert(rng.randrange(len(words)), "and")
                lines.append(" ".join(words))
            if rng.random() < 0.3:
                lines.insert(rng.randrange(len(lines) + 1),
                             rng.choice(_BOILERPLATE))
            if rng.random() < OTHER_LANG_SHARE:
                lines = [line.replace(" the ", " der ")
                         .replace(" and ", " und ") for line in lines]
            text = "\n".join(lines)
            originals.append(text)
        rows.append({"doc_id": doc_id, "text": text, "lang": "en",
                     "source": f"src{rng.randrange(20)}",
                     "n_chars": len(text)})
    return rows, copies
