"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

The catalog lives in ``kit_spark.queries`` (49 entries — the driver's
gate checks at most 50 — 43 with DuckDB oracles: relational
coverage, crawl-engine slices (canonicalization, admission, the robots
gate, politeness, the composed frontier round),
training-data dedup/text/similarity/ANN, sequence packing (the
distributed cumsum vs the naive single-partition SUM() OVER form)
and both composed cleaning
pipelines (pairwise and cluster-policy + decontamination), streaming,
image+audio+video multimodal; the 6 rows-only entries are the codec
pipelines DuckDB cannot decode); this module is the thin driver-facing
shim.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from kit_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one full frontier round (canonicalize -> URL-seen dedup ->
    robots gate -> politeness + deterministic sequence) on sf0.001."""
    return QUERIES["frontier_round"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
