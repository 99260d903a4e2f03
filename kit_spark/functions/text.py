"""Text-analysis operators for training-data pipelines (documents table).

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen) — no Python UDFs: token counting, quality scoring,
language-ID scoring and document fingerprinting compile to Catalyst
expressions, so they pushdown/prune/codegen like any other column work and
scale to 100 TB of text without leaving the JVM.

Every operator here has a DuckDB-oracle twin in ``__spark_entry__`` —
deliberately expressed with portable ANSI constructs so the driver's
correctness gate can replay it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# whitespace-collapsed, lowercased text — the normalization every text op
# shares (exact-dedup key, fingerprints, token stats)
def norm_text(col) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def token_count(col) -> Column:
    """Whitespace tokenization; BPE-ish subword proxy is cheap_token_count."""
    return F.size(F.split(F.trim(col), r"\s+"))


def cheap_token_count(col) -> Column:
    """BPE-ish token-count estimate without a tokenizer model: words +
    punctuation runs + ceil(chars/4) blend — the standard serving-side
    heuristic; deterministic and JVM-only."""
    words = token_count(col)
    puncts = F.size(F.split(col, r"[\.,;:!\?]")) - F.lit(1)
    return F.greatest(words + puncts, F.ceil(F.length(col) / F.lit(4)).cast("int"))


# GPT-2-flavoured pre-tokenizer pattern (simplified, ASCII): contraction
# suffixes, letter runs, short digit runs, single non-space symbols — the
# shape real BPE pre-tokenization splits on.  Deliberately portable
# between Java regex (Spark regexp_count) and RE2 (DuckDB
# regexp_extract_all): alternation order and greedy bounded quantifiers
# behave identically for this pattern under both engines' leftmost-first
# matching.
BPE_TOKEN_RE = r"'(?:s|t|re|ve|m|ll|d)|[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9\s]"


def regex_token_count(col) -> Column:
    """True regex tokenizer count (BPE pre-tokenization granularity) —
    one JVM regexp_count, no UDF, no model."""
    return F.regexp_count(col, F.lit(BPE_TOKEN_RE)).cast("long")


def quality_score(col) -> Column:
    """Length/punctuation/diversity quality heuristic in [0,1] (rounded to 4
    decimals for oracle-stable comparison)."""
    n_chars = F.length(col)
    n_tokens = token_count(col)
    avg_word = n_chars / F.greatest(n_tokens, F.lit(1))
    len_score = F.least(n_chars / F.lit(400.0), F.lit(1.0))
    word_score = F.when((avg_word >= 3) & (avg_word <= 10), F.lit(1.0)) \
        .otherwise(F.lit(0.5))
    alpha_ratio = (F.length(F.regexp_replace(col, r"[^A-Za-z ]", "")) /
                   F.greatest(n_chars, F.lit(1)))
    return F.round((len_score * 0.4 + word_score * 0.3 + alpha_ratio * 0.3), 4)


LANG_MARKERS = {
    "en": (" the ", " and "),
    "fr": (" le ", " et "),
    "de": (" der ", " und "),
    "es": (" el ", " los "),
    "zh": (" de ", " shi "),
}


def _occurrences(col, marker: str) -> Column:
    return ((F.length(col) - F.length(F.replace(col, F.lit(marker), F.lit(""))))
            / F.lit(len(marker))).cast("int")


def lang_scores(col) -> dict[str, Column]:
    """Marker-word occurrence votes per language (n-gram-heuristic stand-in;
    SQL-portable so the oracle can replay the exact same arithmetic)."""
    padded = F.concat(F.lit(" "), norm_text(col), F.lit(" "))
    return {lang: sum((_occurrences(padded, m) for m in markers), F.lit(0))
            for lang, markers in LANG_MARKERS.items()}


def lang_guess(col) -> Column:
    """argmax of lang_scores; earlier language (lexicographic) wins ties.

    Computed as ``array_max`` over ``(score, -rank, lang)`` structs —
    struct comparison is field-by-field, so the max is the highest score
    with ties going to the lexicographically earliest language.  The
    former chained-when formulation nested each level's running-best
    expression inside the next (exponential expression growth — janino's
    64 KB method limit tripped on the composed cleaning pipelines,
    dropping the stage out of whole-stage codegen); this is one
    linear-size expression with identical values, and the oracle SQL's
    chained-CASE arithmetic replays the same argmax."""
    scores = lang_scores(col)
    langs = sorted(scores)
    entries = [F.struct(scores[lang].alias("s"),
                        F.lit(-i).alias("r"),
                        F.lit(lang).alias("lang"))
               for i, lang in enumerate(langs)]
    return F.array_max(F.array(*entries))["lang"]


def fingerprint64(col) -> Column:
    """64-bit-ish stable document fingerprint: first 15 hex digits of the
    md5 of normalized text, as bigint (positive, < 2^60).  md5 is identical
    across Spark/DuckDB, making the fingerprint oracle-checkable."""
    return F.conv(F.substring(F.md5(norm_text(col)), 1, 15), 16, 10) \
        .cast("bigint")


def repetition_stats(df: DataFrame, text_col: str = "text",
                     ngram_sizes: tuple = (2, 3, 4)) -> DataFrame:
    """Gopher-style repetition quality filters (Rae et al. 2021,
    "Scaling Language Models", App. A1.1 — the published curation rules
    for MassiveWeb): per document,

    * ``dup_line_frac`` — fraction of lines that are REPEATS of an
      earlier line, i.e. ``sum(cnt - 1) / sum(cnt)`` over per-line
      counts.  This matches the canonical open implementations of the
      Gopher rules (DataTrove's ``find_duplicates``, NeMo Curator's
      ``RepeatingLinesFilter``), which count only occurrences beyond the
      first — so the published thresholds (e.g. 0.30) transfer directly
      (2 identical lines → 0.5, not 1.0);
    * ``dup_line_char_frac`` — same construction over line characters:
      characters in repeats beyond each line's first occurrence over all
      line characters;
    * ``top{n}gram_char_frac`` — fraction of normalized-text characters
      covered by occurrences of the single most frequent word n-gram
      (count * len(gram) / len(text)); ties break to the
      lexicographically greatest gram (deterministic).

    Pure Catalyst (split/transform/explode/groupBy — no Python), one
    explode for all n-gram sizes: grams are tagged structs unioned into
    one array so the scan, the explode shuffle and the per-(doc,n,gram)
    count happen once.  Scale shape at 100 TB: explode output is
    O(tokens * |ngram_sizes|) rows of small structs, counted with
    map-side partial aggregation on (doc_id, n, gram); the per-doc top-1
    is a second map-side-combinable max of a (count, gram) struct — no
    windows, no collect_list, two shuffles total on doc-sized keys.
    """
    col = F.col(text_col)
    doc = df.select("doc_id", col.alias("__t"))

    # --- duplicate-line stats -------------------------------------------
    lines = doc.select(
        "doc_id", F.explode(F.split(F.col("__t"), "\n")).alias("line"))
    per_line = (lines.groupBy("doc_id", "line")
                .agg(F.count("*").alias("cnt"))
                .withColumn("chars", F.length("line") * F.col("cnt")))
    line_stats = (per_line.groupBy("doc_id").agg(
        F.try_divide(F.sum(F.col("cnt") - 1),
                     F.sum("cnt")).alias("dup_line_frac"),
        # null for an all-empty-lines doc (0 line chars), not an error
        F.try_divide(
            F.sum(F.length("line") * (F.col("cnt") - 1)),
            F.sum("chars")).alias("dup_line_char_frac")))

    # --- top n-gram character coverage ----------------------------------
    norm = norm_text(F.col("__t"))
    with_toks = doc.select("doc_id", F.length(norm).alias("__chars"),
                           F.split(norm, " ").alias("__toks"))
    gram_arrays = [
        F.expr(
            f"CASE WHEN size(__toks) >= {n} THEN "
            f"  transform(sequence(0, size(__toks) - {n}), "
            f"    i -> struct({n} AS n, "
            f"         concat_ws(' ', slice(__toks, i + 1, {n})) AS gram)) "
            f"ELSE array() END"
        ).cast("array<struct<n:int,gram:string>>")
        for n in ngram_sizes
    ]
    grams = with_toks.select(
        "doc_id", "__chars", F.explode(F.concat(*gram_arrays)).alias("g"))
    counted = (grams.groupBy("doc_id", "__chars", "g.n", "g.gram")
               .agg(F.count("*").alias("cnt")))
    top = (counted.groupBy("doc_id", "__chars", "n")
           .agg(F.max(F.struct("cnt", "gram")).alias("top"))
           .select("doc_id", "n",
                   F.round(F.try_divide(
                       F.col("top.cnt") * F.length("top.gram"),
                       F.col("__chars")), 4).alias("frac")))
    wide = top.groupBy("doc_id").pivot(
        "n", list(ngram_sizes)).agg(F.first("frac"))
    for n in ngram_sizes:
        wide = wide.withColumnRenamed(str(n), f"top{n}gram_char_frac")

    out = doc.select("doc_id").join(line_stats, "doc_id", "left") \
        .join(wide, "doc_id", "left")
    return out.select(
        "doc_id", "dup_line_frac", "dup_line_char_frac",
        *[F.coalesce(F.col(f"top{n}gram_char_frac"), F.lit(0.0))
          .alias(f"top{n}gram_char_frac") for n in ngram_sizes])
