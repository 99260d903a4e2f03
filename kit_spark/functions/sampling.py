"""Deterministic sampling, splitting, and per-group capping for corpus
curation.

Three standard moves of a training-data pipeline, each reproducible from
the row's own identity (never ``rand()`` — a re-run, a retried task, or a
different partitioning must produce the SAME sample, or downstream caches
and eval splits silently drift):

* ``hash_split`` — train/val/test assignment by a salted stable hash of
  the id column, the construction every corpus release uses so that a
  document's split membership survives re-shuffles and incremental
  ingests.
* ``hash_sample`` — a p-fraction subsample by hash threshold: the same
  mechanism, one split.
* ``per_group_cap`` — at most k rows per group (per source / domain /
  language), the RefinedWeb/C4-style dominance cap, as the same bounded
  window as the politeness scheduler: a literal ``row_number() <= k``
  that Spark splits into a Partial limit below the group Exchange, so no
  map task ships more than k rows of a mega-group.
* ``mix_corpus`` — downsample each source to hit target mixture
  proportions (The Pile / DoReMi-style domain reweighting without
  upsampling): the largest output satisfying every weighted source's
  share is computed from per-source counts in the dataflow, turned
  into per-source hash thresholds, and applied as one broadcast join +
  filter that streams with the scan.

Hash families follow the repo convention (functions/dedup.py): ``xxhash64``
is the production path (one cheap JVM hash, no digest); ``md5_long`` is
the 60-bit md5-derived twin that DuckDB replays bit-exactly, used by the
oracle tests.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F

from .dedup import md5_long

BUCKETS = 10_000  # split resolution: 0.01% granularity


def split_bucket(id_col, salt: str, method: str = "xxhash64") -> Column:
    """Stable bucket in [0, BUCKETS) from (id, salt).  The salt namespaces
    independent splits: sampling with salt 'a' then splitting with salt
    'b' are independent events, while re-running either reproduces
    itself exactly."""
    keyed = F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))
    if method == "xxhash64":
        h = F.xxhash64(keyed)
    elif method == "md5_long":
        h = md5_long(keyed)
    else:
        raise ValueError(f"unknown hash method {method!r}")
    return F.pmod(h, F.lit(BUCKETS))


def hash_split(df: DataFrame, weights: dict, id_col: str = "doc_id",
               salt: str = "v1", method: str = "xxhash64",
               split_col: str = "split") -> DataFrame:
    """Assign every row to one named split with the given weight
    proportions (normalized; resolution 1/BUCKETS).  Deterministic in
    (id, salt): stable across runs, partitionings, and corpus growth —
    a doc that was 'val' stays 'val' when more data arrives.

    ``weights`` insertion order fixes the bucket ranges, so the same
    dict always carves [0, BUCKETS) identically.  The last split absorbs
    rounding remainder.  Pure Catalyst: one hash + a chained CASE —
    no shuffle at all.
    """
    if not weights or any(w < 0 for w in weights.values()) \
            or sum(weights.values()) <= 0:
        raise ValueError("weights must be positive and non-empty")
    total = float(sum(weights.values()))
    bucket = split_bucket(id_col, salt, method)
    names = list(weights)
    expr, cum = None, 0.0
    for name in names[:-1]:
        cum += weights[name] / total
        hi = int(round(cum * BUCKETS))
        branch = bucket < F.lit(hi)
        expr = F.when(branch, F.lit(name)) if expr is None \
            else expr.when(branch, F.lit(name))
    last = F.lit(names[-1])
    out = last if expr is None else expr.otherwise(last)
    return df.withColumn(split_col, out)


def hash_sample(df: DataFrame, rate: float, id_col: str = "doc_id",
                salt: str = "sample-v1",
                method: str = "xxhash64") -> DataFrame:
    """Keep a deterministic ~``rate`` fraction of rows (exactly the rows
    whose bucket falls below rate * BUCKETS).  A narrow filter Catalyst
    pushes to the scan — at 100 TB the dropped rows never leave the
    reader when the filter lands on a parquet column scan.

    The default salt deliberately differs from :func:`hash_split`'s:
    with a SHARED salt a p-sample keeps exactly the lowest buckets, and
    a subsequent split would assign every survivor to its first range —
    the degenerate composition the salt namespacing exists to prevent."""
    if not 0.0 <= rate <= 1.0:
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    thresh = int(round(rate * BUCKETS))
    return df.where(split_bucket(id_col, salt, method) < F.lit(thresh))


def per_group_cap(df: DataFrame, group_col: str, order_cols: list,
                  k: int, rank_col: str = "group_rank") -> DataFrame:
    """Keep the top-``k`` rows of every group under a total order — the
    per-source dominance cap (no single domain/source may flood the
    corpus).  ``order_cols`` must define a TOTAL order (include a unique
    tiebreaker) or the selection is nondeterministic.

    One ``row_number`` window filtered on the literal ``k``, the shape of
    ``operators.frontier.politeness_schedule``: Spark's WindowGroupLimit
    plans a Partial limit below the group Exchange and a Final one above
    it, so a mega-group reaches its window task as at most k rows per map
    partition.  Spark plans the limit only while k <= ``spark.sql.
    optimizer.windowGroupLimitThreshold`` (default 1000); above it the
    plan is the plain window, which is still exact.
    """
    order = [c if isinstance(c, Column) else F.col(c) for c in order_cols]
    w_group = W.partitionBy(group_col).orderBy(*order)
    return (df.withColumn(rank_col, F.row_number().over(w_group))
            .where(F.col(rank_col) <= k))


def source_mix_rates(df: DataFrame, weights: dict,
                     source_col: str = "source",
                     total: int | None = None) -> DataFrame:
    """Per-source keep rates achieving the target mixture ``weights``
    by downsampling only (no document is ever repeated).

    The output size is the largest N with ``w_s * N <= n_s`` for every
    weighted source — i.e. ``N = min_s(n_s / w_s)`` — optionally capped
    by ``total``; then ``rate_s = w_s * N / n_s`` (the binding source
    keeps everything, the over-represented ones shed).  Sources absent
    from ``weights`` get no row (they are dropped from the mix).  A
    WEIGHTED source with zero corpus rows makes the mixture infeasible —
    its n_s/w_s is 0, so N = 0 and every rate is 0 (an empty mix, the
    honest answer) rather than silently renormalizing over the sources
    that happen to exist.

    Everything stays in the dataflow: one map-side-combinable count per
    source (the result is #sources rows), then a min-window over that
    tiny table and arithmetic.  Returns ``(source, n_source,
    keep_rate, __thresh)`` where ``__thresh`` is the integer bucket
    threshold :func:`mix_corpus` filters on.

    Quantization to the BUCKETS grid is conservative (floor — never
    overshoot a source's target share), with two snaps so float noise
    can't break the contract: a rate within 1e-9 of 1.0 maps to
    ``BUCKETS`` exactly (the BINDING source keeps everything — the raw
    ``w * (n/w) / n`` float round-trip can land at 0.999…9, which floor
    alone would shave to 9999/10000), and any strictly positive rate
    keeps at least one bucket (minimum effective rate 1/BUCKETS —
    without it a source over-represented by more than BUCKETSx would
    silently vanish from the mix).
    """
    if not weights or any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be positive and non-empty")
    tot = float(sum(weights.values()))
    spark = df.sparkSession
    wdf = spark.createDataFrame(
        [(s, w / tot) for s, w in weights.items()], [source_col, "__w"])
    counts = df.groupBy(source_col).agg(F.count("*").alias("__n"))
    # LEFT join from the weights: a weighted source with no corpus rows
    # must constrain N to 0, not vanish (unweighted sources still drop —
    # they are on neither side of this join's output)
    j = (wdf.join(F.broadcast(counts), source_col, "left")
         .withColumn("__n", F.coalesce(F.col("__n"), F.lit(0))))
    # feasible N over ALL weighted sources: an unpartitioned window is
    # fine here — j is #sources rows (the same tiny-table exemption as
    # global_sequence's offsets window), never data rows
    feas = F.min(F.col("__n") / F.col("__w")).over(W.partitionBy())
    if total is not None:
        feas = F.least(feas, F.lit(float(total)))
    rate = F.when(F.col("__n") > 0,
                  F.least(F.lit(1.0), (F.col("__w") * feas) / F.col("__n"))) \
        .otherwise(F.lit(0.0))
    floor = F.floor(rate * F.lit(float(BUCKETS))).cast("long")
    thresh = (F.when(rate >= 1.0 - 1e-9, F.lit(BUCKETS))
              .when((rate > 0) & (floor == 0), F.lit(1))
              .otherwise(floor)).cast("long")
    return j.select(source_col,
                    F.col("__n").alias("n_source"),
                    rate.alias("keep_rate"),
                    thresh.alias("__thresh"))


def mix_corpus(df: DataFrame, weights: dict, source_col: str = "source",
               id_col: str = "doc_id", salt: str = "mix-v1",
               method: str = "xxhash64",
               total: int | None = None) -> DataFrame:
    """Deterministic mixture resample: keep each source at the rate that
    realizes the target proportions (:func:`source_mix_rates`), selecting
    rows by the same salted hash threshold as :func:`hash_sample` — so
    the mix is rerun-stable, nests across rate changes (raising a
    source's share only ADDS its docs), and the filter pipelines on the
    scan behind one broadcast join.  At 100 TB the only aggregation is
    the per-source count; no data row moves."""
    rates = source_mix_rates(df, weights, source_col, total)
    return (df.join(F.broadcast(rates.select(source_col, "__thresh")),
                    source_col)
            .where(split_bucket(id_col, salt, method) < F.col("__thresh"))
            .drop("__thresh"))
