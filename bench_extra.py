#!/usr/bin/env python
"""Per-query measurement harness beside bench.py.

Modes:

* ``time``  — run each named query (default: the 12 headline queries +
  3 production legs) through bench.py's timing loop: ``--repeats``
  passes in one warmed session, bracketed by the control job, printing
  per-query samples with min, median and spread.
* ``plans`` — write ``.explain('formatted')`` for each named query to
  ``--out/<name>_<suffix>.txt`` (the plan evidence in ``plans/``).
* ``ann``   — recall@10 of the ANN paths on a clustered corpus.

Names are catalog entries or production legs; ``docs_pack_blocks``
names the oracled catalog entry here, so the packing production leg
runs as ``docs_pack_blocks_bench``.

Usage:
    python bench_extra.py time  [--repeats 3] [--names a,b,...]
    python bench_extra.py plans --out plans/r06 --suffix before
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import sys
from functools import partial

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import bench  # noqa: E402

# ``docs_pack_blocks`` names an oracled catalog entry here, so bench.py's
# packing production leg runs under this alias
PACK_LEG = "docs_pack_blocks_bench"


def _leg(spark, sf_dir: str, name: str, cores: int):
    """A zero-argument function returning ``name``'s DataFrame."""
    from kit_spark.queries import QUERIES

    if name in QUERIES:
        return partial(QUERIES[name], spark, sf_dir)
    return partial(bench.production_df, spark, sf_dir,
                   "docs_pack_blocks" if name == PACK_LEG else name, cores)


def ann_clustered_recall(spark, n: int = 2000, clusters: int = 20,
                         dims: int = 64, n_queries: int = 50) -> dict:
    """recall@10 of the approximate similarity paths on a corpus WITH
    cluster structure (planted Gaussian clusters, sigma 0.15 around unit
    Gaussian centers) — the complement of bench.py's near-iid worst-case
    corpus (VERDICT r5 #7): here neighbors are real, so the number
    measures the operator instead of the noise floor."""
    import numpy as np
    from pyspark.sql import functions as F

    from kit_spark.functions import similarity as SIM

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(clusters, dims))
    assign = rng.integers(0, clusters, size=n)
    vecs = centers[assign] + 0.15 * rng.normal(size=(n, dims))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<double>")
    queries = emb.where(F.col("vec_id") < n_queries)
    exact = SIM.cosine_topk(emb, queries, k=10) \
        .select("query_id", "neighbor_id").cache()
    denom = exact.count()

    def recall(approx) -> float:
        hits = exact.join(approx.select("query_id", "neighbor_id"),
                          ["query_id", "neighbor_id"]).count()
        return round(hits / denom, 3)

    planes = SIM.adaptive_planes(n)
    ncells = SIM.adaptive_ncells(n)
    out = {
        "n_corpus": n, "clusters": clusters, "k": 10,
        "n_query_results": denom,
        f"lsh_adaptive_p{planes}": recall(
            SIM.ann_topk(emb, queries, k=10, planes=planes)),
        f"ivf_adaptive_c{ncells}_p8": recall(
            SIM.ivf_topk(emb, queries, k=10, n_cells=ncells, nprobe=8)),
        "note": ("planted-Gaussian-cluster corpus: structured complement "
                 "of bench.py's near-iid worst case"),
    }
    exact.unpersist()
    return out


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("mode", choices=["time", "plans", "ann"])
    parser.add_argument("--names", default=None,
                        help="comma-separated query names (default: headline"
                             " + production legs)")
    parser.add_argument("--repeats", type=int, default=3)
    parser.add_argument("--out", default="plans/r06")
    parser.add_argument("--suffix", default="before")
    args = parser.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    names = (args.names.split(",") if args.names else bench.HEADLINE + [
        PACK_LEG if n == "docs_pack_blocks" else n for n in bench.PRODUCTION])

    from kit_spark import lifecycle

    spark = bench.build_session(cores)
    if args.mode == "ann":
        print(json.dumps({"ann_recall_clustered":
                          ann_clustered_recall(spark)}))
        spark.stop()
        return
    legs = {n: _leg(spark, sf_dir, n, cores) for n in names}
    if args.mode == "plans":
        os.makedirs(args.out, exist_ok=True)
        for name, build in legs.items():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                build().explain("formatted")
            path = os.path.join(args.out, f"{name}_{args.suffix}.txt")
            with open(path, "w") as fh:
                fh.write(buf.getvalue())
            print("wrote", path)
        lifecycle.release()
        spark.stop()
        return

    timed = bench.time_legs(spark, legs, args.repeats)
    out = timed["queries"]
    print(json.dumps({
        "headline_sum_of_mins": round(sum(
            v["min"] for k, v in out.items() if k in bench.HEADLINE), 3),
        "value_median": round(sum(
            v["median"] for k, v in out.items() if k in bench.HEADLINE), 3),
        "control_s": timed["control_s"],
        "queries": out, "sf_dir": sf_dir, "cores": cores}))
    spark.stop()


if __name__ == "__main__":
    main()
