"""Partitioned Bloom filter for the URL-seen fast path (D2).

North-rule requirement: a URL-seen set "hashed into a partitioned Bloom
filter persisted as Iceberg tables".  The crawl never expires a seen URL, so
an insert-only filter is enough.  Design:

* The seen-set is hashed into P independent Bloom shards; a URL's shard is
  ``hash64(url) % P``.  Shards are built in parallel with one
  ``applyInPandas`` per shard (numpy bit ops over the whole partition — no
  per-row Python) and persisted as ``(shard int, nbits long, k int,
  bloom binary)`` rows — a table, so it snapshots/resumes with the rest of
  the state (sources/tables.py; Iceberg on a real cluster).
* Membership probing joins candidates to their shard row (P rows — a
  broadcast) and tests k bit positions vectorized.  The filter only
  *prunes*: `might_contain == false` rows are definitely unseen and skip
  the anti-join probe; `true` rows still go through the exact left_anti
  join (SURVEY.md §7.4 risk 5 — exactness always comes from the join).

Hashing is pandas' SipHash (``pd.util.hash_array``, fixed key — stable
across processes/executors) with splitmix64-derived double hashing
(h_i = h1 + i*h2), the standard Kirsch-Mitzenmacher construction.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

BLOOM_SCHEMA = T.StructType([
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("nbits", T.LongType(), False),
    T.StructField("k", T.IntegerType(), False),
    T.StructField("bloom", T.BinaryType(), False),
])

_SPLITMIX_C1 = np.uint64(0xBF58476D1CE4E5B9)
_SPLITMIX_C2 = np.uint64(0x94D049BB133111EB)


def _hash1(values: pd.Series) -> np.ndarray:
    return pd.util.hash_array(values.to_numpy(dtype=object))


def _hash2(h1: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        z = (h1 + np.uint64(0x9E3779B97F4A7C15))
        z = (z ^ (z >> np.uint64(30))) * _SPLITMIX_C1
        z = (z ^ (z >> np.uint64(27))) * _SPLITMIX_C2
        return (z ^ (z >> np.uint64(31))) | np.uint64(1)  # odd


def shard_of(urls: pd.Series, shards: int) -> np.ndarray:
    return (_hash1(urls) % np.uint64(shards)).astype(np.int32)


def make_shard_udf(shards: int):
    @F.pandas_udf(T.IntegerType())
    def shard_udf(urls: pd.Series) -> pd.Series:
        return pd.Series(shard_of(urls, shards))
    return shard_udf


def nbits_for(capacity: int, shards: int, bits_per_key: int = 12,
              min_bits: int = 1 << 16) -> int:
    """Per-shard bit-array size for a capacity-sized filter (all shards
    share one geometry, so delta filters OR-merge bit-for-bit)."""
    return max(min_bits, capacity * bits_per_key // max(shards, 1))


def build_bloom(urls: DataFrame, url_col: str = "url_canon", shards: int = 16,
                bits_per_key: int = 12, k: int = 6,
                min_bits: int = 1 << 16,
                capacity: int | None = None) -> DataFrame:
    """Build the sharded Bloom table from a seen-URL DataFrame.

    With ``capacity`` every shard gets the same capacity-derived geometry
    (no per-shard count job, and deltas built at the same capacity can be
    OR-merged by :func:`merge_bloom`).  Without it, shards are sized by
    their own key counts (one small count job) — the one-shot mode.
    """
    shard_udf = make_shard_udf(shards)
    sharded = urls.select(F.col(url_col).alias("u"),
                          shard_udf(F.col(url_col)).alias("shard"))
    if capacity is not None:
        fixed = nbits_for(capacity, shards, bits_per_key, min_bits)
        counts = None
    else:
        fixed = None
        counts = {r["shard"]: r["n"] for r in
                  sharded.groupBy("shard").agg(F.count("*").alias("n"))
                  .collect()}

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        if fixed is not None:
            nbits = fixed
        else:
            n = max(counts.get(shard, 1), 1)
            nbits = max(min_bits, int(n * bits_per_key))
        bits = np.zeros((nbits + 7) // 8, dtype=np.uint8)
        h1 = _hash1(pdf["u"])
        h2 = _hash2(h1)
        with np.errstate(over="ignore"):
            for i in range(k):
                pos = (h1 + np.uint64(i) * h2) % np.uint64(nbits)
                np.bitwise_or.at(bits, (pos >> np.uint64(3)).astype(np.int64),
                                 np.uint8(1) << (pos & np.uint64(7)).astype(np.uint8))
        return pd.DataFrame({"shard": [shard], "nbits": [nbits], "k": [k],
                             "bloom": [bits.tobytes()]})

    return sharded.groupBy("shard").applyInPandas(build, BLOOM_SCHEMA)


def merge_bloom(prev_table: DataFrame, delta_urls: DataFrame, capacity: int,
                url_col: str = "url_canon", shards: int = 16,
                bits_per_key: int = 12, k: int = 6,
                min_bits: int = 1 << 16) -> DataFrame:
    """Incremental update: OR-merge a delta of newly-seen URLs into an
    existing capacity-sized Bloom table.

    Both sides must share the capacity geometry (the crawl driver carries
    ``capacity`` in the snapshot meta and rebuilds at 2x when the seen
    count outgrows it — the scalable-Bloom amortization).  Per-round cost
    is O(delta) + a ``shards``-row merge, instead of re-hashing the whole
    seen set every round.
    """
    delta = build_bloom(delta_urls, url_col=url_col, shards=shards,
                        bits_per_key=bits_per_key, k=k, min_bits=min_bits,
                        capacity=capacity)

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        nbits = set(pdf["nbits"].tolist())
        assert len(nbits) == 1, f"geometry mismatch in bloom merge: {nbits}"
        bits = None
        for payload in pdf["bloom"]:
            arr = np.frombuffer(payload, dtype=np.uint8)
            bits = arr.copy() if bits is None else np.bitwise_or(bits, arr)
        return pd.DataFrame({"shard": [int(pdf["shard"].iloc[0])],
                             "nbits": [int(pdf["nbits"].iloc[0])],
                             "k": [int(pdf["k"].iloc[0])],
                             "bloom": [bits.tobytes()]})

    return (prev_table.unionByName(delta)
            .groupBy("shard").applyInPandas(merge, BLOOM_SCHEMA))


def might_contain(candidates: DataFrame, bloom_table: DataFrame,
                  url_col: str = "url_canon", shards: int = 16) -> DataFrame:
    """Append boolean ``might_be_seen``; False is definitive (prune-safe)."""
    shard_udf = make_shard_udf(shards)
    with_shard = candidates.withColumn("shard", shard_udf(F.col(url_col)))
    joined = with_shard.join(F.broadcast(bloom_table), "shard", "left")

    @F.pandas_udf(T.BooleanType())
    def probe(urls: pd.Series, nbits: pd.Series, kk: pd.Series,
              bloom: pd.Series) -> pd.Series:
        out = np.ones(len(urls), dtype=bool)
        frame = pd.DataFrame({"u": urls, "nb": nbits, "k": kk, "b": bloom})
        missing = frame["b"].isna()
        out[missing.to_numpy()] = False  # no shard row -> nothing seen there
        # group by the bloom payload itself: shards can share (nbits, k)
        for b_bytes, group in frame[~missing].groupby("b", sort=False):
            nb, kv = group["nb"].iloc[0], group["k"].iloc[0]
            bits = np.frombuffer(b_bytes, dtype=np.uint8)
            h1 = _hash1(group["u"])
            h2 = _hash2(h1)
            hit = np.ones(len(group), dtype=bool)
            with np.errstate(over="ignore"):
                for i in range(int(kv)):
                    pos = (h1 + np.uint64(i) * h2) % np.uint64(int(nb))
                    byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
                    hit &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
            out[frame.index.get_indexer(group.index)] = hit
        return pd.Series(out)

    return (joined.withColumn("might_be_seen",
                              probe(F.col(url_col), F.col("nbits"),
                                    F.col("k"), F.col("bloom")))
            .drop("shard", "nbits", "k", "bloom"))
