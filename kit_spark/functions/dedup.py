"""Deduplication operators for training-data pipelines (documents table).

Four families, all expressed shuffle-consciously:

* **exact** — hash-groupBy on the normalized text (one shuffle; map-side
  partial agg folds duplicates before the exchange).
* **MinHash + LSH** — shingle -> per-shingle md5 -> per-doc min over k
  salted hashes (the lexicographic min of md5 hex *is* a valid min-hash
  under the md5 permutation, and is portable to the DuckDB oracle) ->
  band -> bucket self-join on band only (never all-pairs).
* **SimHash** — per-token 64-bit hash, bitwise majority vote folded with
  JVM-side bitwise aggregates (no UDF).
* **n-gram Jaccard** — exact verification on *candidate pairs only*
  (token-level inverted-index join), the standard verify stage after LSH.

:func:`plan_near_dup` composes minhash -> LSH -> Jaccard -> cluster
losers once, for the curation job, the curation stream and the catalog.

At 100 TB the only all-to-all operations are groupBys on
normalized-text/band/token keys — never a cross join.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame, Window as W, functions as F

from . import components
from .text import norm_text

# --- exact -------------------------------------------------------------------


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (after normalization) documents:
    (keep_id = min doc_id, n_dups)."""
    return (docs.groupBy(norm_text(F.col(text_col)).alias("norm"))
            .agg(F.min(id_col).alias("keep_id"),
                 F.count("*").alias("n_dups"))
            .where(F.col("n_dups") > 1)
            .select("keep_id", "n_dups"))


# --- shingles / minhash ------------------------------------------------------


def shingles(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
             n: int = 3) -> DataFrame:
    """Word n-gram shingles, exploded: (doc_id, shingle).  Pure Catalyst:
    split -> sequence -> transform(slice) -> explode."""
    words = F.split(norm_text(F.col(text_col)), " ")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - n, F.lit(0))),
        lambda i: F.concat_ws(" ", F.slice(words, i + 1, n)),
    )
    return docs.select(F.col(id_col).alias("doc_id"),
                       F.explode(sh).alias("shingle"))


def md5_long(col) -> "F.Column":
    """Deterministic 60-bit long from md5 (first 15 hex chars) — the
    engine-portable hash twin: DuckDB replays it as
    ``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def minhash_signatures(docs: DataFrame, k: int = 8, n: int = 3,
                       id_col: str = "doc_id", text_col: str = "text",
                       method: str = "xxhash64") -> DataFrame:
    """(doc_id, h0..h{k-1}) — h_i = min over shingles of hash_i(shingle).

    The min over a hash permutation is the classic MinHash estimator.
    Two hash families:

    * ``xxhash64`` (production default): ``xxhash64(shingle, i)`` — one
      cheap JVM hash per (shingle, i), 8-byte longs through the shuffle
      (4x narrower than md5 hex strings, no digest cost).  At 100 TB the
      per-shingle hashing dominates the dedup pipeline, so this is the
      path that matters.
    * ``md5_long``: 60-bit longs from md5 — slower, but bit-identical
      replayable in DuckDB; the correctness catalog uses it as the oracle
      twin for the same operator shape.
    """
    sh = shingles(docs, id_col, text_col, n)
    if method == "xxhash64":
        aggs = [F.min(F.xxhash64(F.col("shingle"), F.lit(i))).alias(f"h{i}")
                for i in range(k)]
    elif method == "md5_long":
        # min over the 60-bit long per (shingle, salt).  Equal to
        # truncating the min of the full 32-char hex (fixed-length hex
        # compares lexicographically == numerically and truncation to a
        # 15-hex prefix is monotone, so min(conv(substr(hex,1,15))) ==
        # conv(substr(min(hex),1,15)) — the DuckDB oracle replays the
        # full-hex form).  Aggregating LONGS instead of hex strings keeps
        # the partial agg a HashAggregate: min(string) has a var-length
        # buffer and forced a Sort + SortAggregate over the whole
        # exploded shingle table (round-6 before-plan), the wrong shape
        # at any scale.
        aggs = [F.min(md5_long(F.concat(F.col("shingle"), F.lit(f"#{i}"))))
                .alias(f"h{i}")
                for i in range(k)]
    else:
        raise ValueError(f"unknown minhash method {method!r}")
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_band_index(signatures: DataFrame, k: int = 8,
                   rows_per_band: int = 2) -> DataFrame:
    """The banded form of a signature table: one (doc_id, band, val) row
    per band — band_j = md5 of its rows' concat.  This IS the persistable
    dedup index for incremental corpora: write it bucketed by
    (band, val) and new batches probe it without re-banding the corpus
    (:func:`lsh_incremental_pairs`)."""
    n_bands = k // rows_per_band
    bands = F.array(*[
        F.struct(
            F.lit(j).alias("band"),
            F.md5(F.concat_ws("|", *[F.col(f"h{j * rows_per_band + r}")
                                     .cast("string")
                                     for r in range(rows_per_band)]))
            .alias("val"))
        for j in range(n_bands)
    ])
    return (signatures.select("doc_id", F.explode(bands).alias("b"))
            .select("doc_id", F.col("b.band").alias("band"),
                    F.col("b.val").alias("val")))


def _cap_buckets(exploded: DataFrame, max_bucket: int) -> DataFrame:
    w = W.partitionBy("band", "val")
    return (exploded.withColumn("__bn", F.count("*").over(w))
            .where(F.col("__bn") <= max_bucket).drop("__bn"))


def lsh_incremental_pairs(new_signatures: DataFrame, index: DataFrame,
                          k: int = 8, rows_per_band: int = 2,
                          max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs a NEW batch introduces against an existing corpus —
    the incremental-crawl form of LSH dedup (the text-side analog of the
    frontier's URL-seen filter): the corpus's bands live as a persisted
    index table (:func:`lsh_band_index`; at the 10^10 design point,
    bucketed storage on (band, val) makes the probe a co-located join),
    only the new batch is banded, and the join touches only buckets the
    new batch lands in.  Returns (a, b) with a < b — exactly the
    full-batch :func:`lsh_candidate_pairs` output restricted to pairs
    involving at least one new doc (pytest-pinned), so batch + sum of
    increments reproduces the one-shot result.

    A RE-INGESTED doc_id (present in both the index and the new batch)
    is handled by dropping its stale index rows before probing — the
    batch's signature wins — so duplicate (doc_id, band, val) rows never
    inflate bucket counts under ``max_bucket`` and a re-crawled doc can't
    pair with its own prior version.  The anti-join's build side is the
    batch's distinct doc_ids (batch-sized, broadcastable), so at the
    10^10 design point the index scan stays a co-located probe.

    Without a cap, the probe is TWO joins — batch×index and batch×batch —
    rather than one join against index∪batch: a union would erase the
    index's storage partitioning, while the direct index leg lets a
    BUCKETED index table (:func:`write_band_index_bucketed`, bucketed on
    (band, val)) join with no exchange on the index side even when the
    batch is too large to broadcast (plan-locked in
    tests/test_incremental_dedup.py).  With a cap the combined-bucket
    count must see index and batch rows together, so that path keeps the
    union form.
    """
    from kit_spark import lifecycle

    # the batch banding feeds every probe leg: pin it (entry-scoped)
    new_bands = lifecycle.track(lsh_band_index(new_signatures, k,
                                               rows_per_band))
    index = index.join(
        F.broadcast(new_signatures.select("doc_id").distinct()),
        "doc_id", "left_anti")

    def _pairs(left, right):
        j = left.alias("l").join(right.alias("r"), ["band", "val"])
        return (j.where(F.col("l.doc_id") != F.col("r.doc_id"))
                .select(F.least("l.doc_id", "r.doc_id").alias("a"),
                        F.greatest("l.doc_id", "r.doc_id").alias("b")))

    if max_bucket is None:
        return (_pairs(new_bands, index)
                .unionByName(_pairs(new_bands, new_bands))
                .distinct())
    all_bands = _cap_buckets(index.unionByName(new_bands), max_bucket)
    capped_new = all_bands.join(
        new_bands.select("doc_id").distinct(), "doc_id", "left_semi")
    return _pairs(capped_new, all_bands).distinct()


def write_band_index_bucketed(index: DataFrame, table: str,
                              buckets: int = 256,
                              path: str | None = None) -> None:
    """Persist a band index as a parquet table BUCKETED by the probe key
    (band, val) — the storage layout the incremental docstrings assume at
    the 10^10-doc design point.  A bucketed index gives
    :func:`lsh_incremental_pairs`'s index-side probe leg a scan that is
    already hash-partitioned on the join key, so the join needs NO
    exchange of the corpus-sized index even when the batch is too large
    to broadcast — only the batch side shuffles into the bucket layout
    (guide §2.4 bucketed-join; plan-locked in
    tests/test_incremental_dedup.py).  ``bucketBy`` requires a catalog
    table (``saveAsTable``); pass ``path`` to keep the data external to
    the warehouse.  On an Iceberg deployment the equivalent is a
    ``bucket(N, band || val)`` partition transform on the append-only
    index table.
    """
    writer = (index.repartition(buckets, "band", "val")
              .write.mode("overwrite").format("parquet")
              .bucketBy(buckets, "band", "val").sortBy("band", "val"))
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def lsh_candidate_pairs(signatures: DataFrame, k: int = 8,
                        rows_per_band: int = 2,
                        max_bucket: int | None = None) -> DataFrame:
    """Band the signature (band_j = md5 of its rows' concat) and self-join on
    (band_index, band_value): only same-bucket docs ever meet (a, b, a<b).

    ``max_bucket`` guards the degenerate corpus (10^6 byte-identical docs
    land in one bucket -> quadratic pair blowup): buckets above the cap are
    dropped from candidate generation.  Mass-identical documents are the
    *exact* dedup stage's job (one groupBy), so skipping their buckets here
    loses nothing; leave None where the corpus is pre-deduped (the oracle
    twin does, so the DuckDB SQL stays cap-free).
    """
    # the banded table is both sides of the self-join; without a persist
    # Spark plans two independent subtrees and the whole signature
    # pipeline (shingle explode + k hashes + groupBy min) runs twice
    # (round-6 before-plan: duplicated Generate/Exchange chain under the
    # join).  Entry-scoped lifecycle: released by the caller's unit
    # (catalog wrapper, job, or micro-batch).
    from kit_spark import lifecycle

    exploded = lsh_band_index(signatures, k, rows_per_band)
    if max_bucket is not None:
        exploded = _cap_buckets(exploded, max_bucket)
    exploded = lifecycle.track(exploded)
    left = exploded.alias("l")
    right = exploded.alias("r")
    return (left.join(right, ["band", "val"])
            .where(F.col("l.doc_id") < F.col("r.doc_id"))
            .select(F.col("l.doc_id").alias("a"),
                    F.col("r.doc_id").alias("b"))
            .distinct())


# --- simhash -----------------------------------------------------------------


def _simhash(docs: DataFrame, hash_expr, bits: int, id_col: str,
             text_col: str) -> DataFrame:
    """SimHash with JVM-side bit-vote aggregation: explode tokens ->
    per-token hash -> per-bit +-1 votes summed -> sign bits."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("tok"))
    hashed = toks.withColumn("h", hash_expr(F.col("tok")))
    votes = [F.sum(F.when(F.shiftright(F.col("h"), bit).bitwiseAND(F.lit(1))
                          == 1, 1).otherwise(-1)).alias(f"v{bit}")
             for bit in range(bits)]
    voted = hashed.groupBy("doc_id").agg(*votes)
    sim = None
    for bit in range(bits):
        term = F.when(F.col(f"v{bit}") > 0,
                      F.shiftleft(F.lit(1).cast("long"), bit)).otherwise(0)
        sim = term if sim is None else sim.bitwiseOR(term)
    return voted.select("doc_id", sim.alias("simhash"))


def simhash64(docs: DataFrame, id_col: str = "doc_id",
              text_col: str = "text") -> DataFrame:
    """64-bit SimHash on xxhash64 token hashes (production path)."""
    return _simhash(docs, F.xxhash64, 64, id_col, text_col)


def simhash_md5(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """60-bit SimHash on md5-derived token hashes — same operator, hash
    family replayable in DuckDB (the catalog's oracle twin)."""
    return _simhash(docs, md5_long, 60, id_col, text_col)


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3,
                       bits: int = 64, bands: int = 4,
                       max_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``bands`` sub-bands (a pair
    within Hamming distance < bands shares at least one exact band —
    pigeonhole), then verify the true distance with bit_count — never
    all-pairs.  ``max_bucket`` drops degenerate buckets as in
    :func:`lsh_candidate_pairs`."""
    width = bits // bands
    mask = (1 << width) - 1
    banded = sim.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     F.shiftright("simhash", i * width)
                     .bitwiseAND(F.lit(mask)).alias("val"))
            for i in range(bands)])).alias("b")) \
        .select("doc_id", "simhash", "b.band", "b.val")
    if max_bucket is not None:
        w = W.partitionBy("band", "val")
        banded = (banded.withColumn("__bn", F.count("*").over(w))
                  .where(F.col("__bn") <= max_bucket).drop("__bn"))
    l, r = banded.alias("l"), banded.alias("r")
    pairs = (l.join(r, ["band", "val"])
             .where(F.col("l.doc_id") < F.col("r.doc_id"))
             .select(F.col("l.doc_id").alias("a"), F.col("r.doc_id").alias("b"),
                     F.bit_count(F.col("l.simhash").bitwiseXOR(
                         F.col("r.simhash"))).alias("hamming"))
             .distinct())
    return pairs.where(F.col("hamming") <= max_hamming)


# --- n-gram jaccard verify ---------------------------------------------------


class ParagraphPlan(NamedTuple):
    """:func:`plan_paragraph_dedup`'s result: the deduped batch, and the
    state delta of its paragraph keys."""
    docs: DataFrame  # (doc_id, out_col, n_paras, n_kept)
    keys: DataFrame  # (para_key)


def paragraph_dedup(docs: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text", min_chars: int = 1,
                    hash_paras: bool = True,
                    out_col: str = "text_dedup") -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (CCNet / Lee et al. style).

    Splits every document on ``\\n``, keys each paragraph by its
    whitespace-collapsed lowercased form (``norm_text``), and keeps only
    the globally FIRST occurrence of each key — first in the
    deterministic total order ``(doc_id, pos)`` — then reassembles each
    document from its surviving paragraphs in original order.  This is
    the cross-document exact-substring dedup of Lee et al. 2021
    (arXiv:2107.06499) at paragraph granularity, as deployed by CCNet
    (Wenzek et al. 2020, arXiv:1911.00359): boilerplate (nav bars,
    cookie banners, license blocks) repeats verbatim across pages and is
    removed everywhere but its first sighting.

    Paragraphs whose normalized form is shorter than ``min_chars`` are
    exempt (always kept): blank separator lines are structure, not
    boilerplate, and deduping them would splice unrelated paragraphs.
    Eligibility is a function of the key itself, so exempt paragraphs
    can never collide with a deduped key.

    Returns (doc_id, ``out_col``, n_paras, n_kept) — one row per input
    document, empty string when every paragraph was deduped away; the
    count pair makes removal rates auditable without a second pass.

    Scale shape (10^10 docs): three shuffles — (1) groupBy-min on the
    paragraph key to elect the winning occurrence (map-side combinable;
    with ``hash_paras`` the exchange moves ``xxhash64`` 8-byte longs,
    never paragraph text), (2) the join back on the same key (AQE reuses
    the exchange), (3) the per-document reassembly, whose
    ``collect_list`` is bounded by a single document's paragraph count —
    per-doc, never a per-key mega-node.  No window over the corpus, no
    all-pairs.  A 64-bit key collision drops a unique paragraph — the
    conservative direction for dedup; ``hash_paras=False`` keys on the
    exact normalized string (bit-exact, the DuckDB-oracle twin).
    """
    return plan_paragraph_dedup(docs, id_col=id_col, text_col=text_col,
                                min_chars=min_chars, hash_paras=hash_paras,
                                out_col=out_col).docs


def plan_paragraph_dedup(docs: DataFrame, *, state: DataFrame | None = None,
                         id_col: str = "doc_id", text_col: str = "text",
                         min_chars: int = 1, hash_paras: bool = True,
                         out_col: str = "text_dedup") -> ParagraphPlan:
    """:func:`paragraph_dedup` for a batch of ``docs`` against ``state``,
    the ``para_key`` table of every paragraph seen before (earlier calls'
    ``keys``): a paragraph whose key is in ``state`` lost to an earlier
    batch and drops everywhere in this one; keys ``state`` has never seen
    elect their in-batch first occurrence exactly as the one-shot
    operator does.

    ``keys`` is the batch's eligible keys minus ``state`` (one
    ``para_key`` column: 8-byte ``xxhash64`` longs with ``hash_paras``,
    the exact normalized string otherwise), the delta to append to
    ``state``.  It is the key column of the winner election's aggregate,
    so it costs no second explode.  Every eligible key enters, whether
    its first occurrence ships or is later dropped by another stage: the
    state records "seen".

    Contract (pinned in tests/test_streaming_curation.py): with batches
    disjoint on ``id_col`` and arriving in ascending-id order, chaining
    this per batch reproduces ``paragraph_dedup`` of the union
    row-for-row.  With out-of-order ids the union's winner may sit in a
    later batch; the chain then keeps the FIRST-ARRIVED occurrence
    instead (arrival-order semantics, as in ``plan_near_dup``).

    Scale shape: the one-shot operator's plus one anti-join of the
    batch's eligible paragraphs against ``state`` on 8-byte longs: cost
    tracks the batch, never the corpus (the text analog of probing the
    url_seen filter).
    """
    paras = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "para"))
    norm = norm_text(F.col("para"))
    paras = paras.withColumn(
        "__k", F.xxhash64(norm) if hash_paras else norm).withColumn(
        "__elig", F.length(norm) >= min_chars)
    fresh = paras.where("__elig")
    if state is not None:
        # keys already seen by a prior batch have no in-batch winner:
        # every occurrence here is a repeat of an already-shipped
        # paragraph, so the left join below leaves __w null -> dropped
        fresh = fresh.join(
            state.select(F.col("para_key").alias("__k")), "__k", "left_anti")
    winners = (fresh
               .groupBy("__k")
               .agg(F.min(F.struct("doc_id", "pos")).alias("__w")))
    kept = (paras.join(winners, "__k", "left")
            .where((~F.col("__elig")) |
                   ((F.col("__w.doc_id") == F.col("doc_id")) &
                    (F.col("__w.pos") == F.col("pos")))))
    rebuilt = (kept.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(
                        F.struct("pos", "para"))).alias("__ps"),
                    F.count("*").alias("n_kept"))
               .select("doc_id",
                       F.concat_ws("\n", F.expr(
                           "transform(__ps, x -> x.para)")).alias(out_col),
                       "n_kept"))
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), "\n")).alias("n_paras"))
    out = (totals.join(rebuilt, "doc_id", "left")
           .select("doc_id",
                   F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
                   "n_paras",
                   F.coalesce("n_kept", F.lit(0)).alias("n_kept")))
    return ParagraphPlan(out, winners.select(F.col("__k").alias("para_key")))


def ngram_jaccard_pairs(docs: DataFrame, pairs: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        n: int = 3, hash_shingles: bool = False,
                        restrict_to_pairs: bool = False) -> DataFrame:
    """Exact Jaccard over n-gram shingle sets for given candidate (a, b)
    pairs: inverted-index join on the shingle, |A ∩ B| by count, Jaccard by
    inclusion-exclusion — no per-row set objects, no UDF.

    ``hash_shingles=True`` is the production path: the inverted index keys
    on ``xxhash64(shingle)`` longs, so the distinct + two joins shuffle
    8-byte keys instead of full n-gram strings (at 100 TB the shingle
    index dominates the verify stage's shuffle).  A 64-bit collision
    between two *different* shingles of one document pair is ~2^-64 per
    comparison — negligible against the 0.8 decision threshold; the
    string-keyed default stays bit-exact and is the DuckDB oracle twin.

    ``restrict_to_pairs=True`` semi-joins ``docs`` to the ids occurring in
    ``pairs`` BEFORE anything is shingled: the result is identical, but
    the shingle explode + distinct — the verify's dominant cost — touches
    only candidate docs.  That keeps :func:`plan_near_dup`'s incremental
    verify O(batch), where ``docs`` is the batch UNION the cumulative
    corpus.  Pass an already-persisted ``pairs`` so deriving the id set
    does not recompute the LSH probe.
    """
    if restrict_to_pairs:
        ids = (pairs.select(F.col("a").alias(id_col))
               .unionByName(pairs.select(F.col("b").alias(id_col)))
               .distinct())
        docs = docs.join(ids, id_col, "left_semi")
    sh = shingles(docs, id_col, text_col, n)
    if hash_shingles:
        sh = sh.select("doc_id", F.xxhash64("shingle").alias("shingle"))
    sh = sh.distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a_sh = sh.withColumnRenamed("doc_id", "a")
    b_sh = sh.withColumnRenamed("doc_id", "b")
    inter = (pairs.join(a_sh, "a").join(b_sh, ["b", "shingle"])
             .groupBy("a", "b").agg(F.count("*").alias("n_common")))
    return (inter
            .join(sizes.withColumnRenamed("doc_id", "a")
                  .withColumnRenamed("n_sh", "na"), "a")
            .join(sizes.withColumnRenamed("doc_id", "b")
                  .withColumnRenamed("n_sh", "nb"), "b")
            .select("a", "b",
                    F.round(F.col("n_common") /
                            (F.col("na") + F.col("nb") - F.col("n_common")), 4)
                    .alias("jaccard")))


# --- the near-dup composition ------------------------------------------------


class NearDupPlan(NamedTuple):
    """:func:`plan_near_dup`'s result: the batch docs to drop, and the
    state delta of every doc passed in."""
    losers: DataFrame  # (doc_id)
    bands: DataFrame   # (doc_id, band, val)
    texts: DataFrame   # (doc_id, text)


def plan_near_dup(docs: DataFrame, *,
                  state: tuple[DataFrame, DataFrame] | None = None,
                  k: int = 8, n: int = 3, rows_per_band: int = 2,
                  max_bucket: int | None = None, jaccard: float = 0.8,
                  method: str = "xxhash64") -> NearDupPlan:
    """Near-dup removal for a batch of ``docs`` (doc_id, text): minhash ->
    LSH -> n-gram Jaccard verify at ``jaccard`` -> connected components.

    ``state`` is the ``(bands, texts)`` of every doc seen before (earlier
    calls' deltas).  Against it only the batch is banded and probed, and
    the verify reads the batch over ``texts`` (the batch wins a
    re-ingested doc_id), restricted to candidates: cost tracks the batch.

    One loser rule: a batch doc loses iff its component over the verified
    edges holds a ``state`` doc, or it is not its component's min id.
    For ascending-id batches that equals a one-shot run over their union;
    otherwise the first arrival keeps its place.  With ``state=None`` it
    is ``components.dedup_cluster_losers``.  The delta covers dropped
    docs too, so a later near-dup of a dropped doc still drops.
    """
    from kit_spark import lifecycle

    sig = lifecycle.track(minhash_signatures(docs, k=k, n=n, method=method))
    texts = docs.select("doc_id", "text")
    if state is None:
        pairs = lsh_candidate_pairs(sig, k=k, rows_per_band=rows_per_band,
                                    max_bucket=max_bucket)
        verified = ngram_jaccard_pairs(texts, pairs, n=n)
    else:
        state_bands, state_texts = state
        pairs = lifecycle.track(lsh_incremental_pairs(
            sig, state_bands, k=k, rows_per_band=rows_per_band,
            max_bucket=max_bucket))
        seen = state_texts.join(texts.select("doc_id"), "doc_id", "left_anti")
        verified = ngram_jaccard_pairs(texts.unionByName(seen), pairs, n=n,
                                       restrict_to_pairs=True)
    dup = verified.where(F.col("jaccard") >= jaccard).select("a", "b")
    if state is None:
        losers = components.dedup_cluster_losers(dup)
    else:
        # node key (in batch, doc_id): state docs order first, so a
        # component holding one elects it and all its batch docs lose
        def mark(end):
            return docs.select(F.col("doc_id").alias(end),
                               F.lit(True).alias(f"__{end}"))

        def key(end):
            return F.struct(F.col(f"__{end}").isNotNull().alias("batch"),
                            F.col(end).alias("id")).alias(end)

        dup = (dup.join(mark("a"), "a", "left").join(mark("b"), "b", "left")
               .select(key("a"), key("b")))
        losers = (components.dedup_cluster_losers(dup)
                  .where("doc_id.batch")
                  .select(F.col("doc_id.id").alias("doc_id")))
    return NearDupPlan(losers, lsh_band_index(sig, k, rows_per_band), texts)
