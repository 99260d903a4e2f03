#!/usr/bin/env python
"""Benchmark harness — prints ONE JSON line for the driver.

Headline queries run at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[$SPARK_GRAFT_CPUS]; the frontier-throughput job and the N-vs-4N
core scaling proxy (BASELINE.md) run as subprocesses with their own
sessions (a JVM cannot change its master).

Every headline query and production leg is timed REPEATS (3) times in
one warmed session, pass by pass (all names, then all names again), with
a fixed JVM-only control job timed before the first pass and after the
last (``timing_loop``; ``bench_extra.py time`` runs the same loop).

Output: {"metric": ..., "value": sum of first-pass headline secs,
         "value_median": sum of headline medians, "unit": "sec",
         "queries": {name: first-pass sec, ...},
         "samples": {name: {"samples", "min", "median", "spread"}, ...},
         "control_s": [before, after], "sf": ...,
         "frontier": {...}, "scaling": {...}}

Env knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
KIT_BENCH_SCALING=0 to skip the two-size scaling runs,
KIT_BENCH_SCALE_URLS to resize the frontier job (default 600,000 —
sized so per-round fixed costs amortize and every clean-window pair
clears the 0.8 efficiency bar, see BASELINE.md);
KIT_BENCH_SCALE_CORES the 4N leg's cores (default 8, capped at the CPUs
this process may use; N is a quarter of it, at least 2);
KIT_BENCH_TOTAL_BUDGET seconds for the WHOLE run (default 2800 — the
driver's capture window is ~3600 s and round 4's ~4000 s default run
timed out against it, rc=124, leaving no official record; segments are
ordered must-have-first, each skip recorded under "budget");
KIT_BENCH_SCALE_BUDGET seconds of 2->8 scaling legs (default 2400,
further capped by remaining total budget).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from functools import partial

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

HEADLINE = [
    "q1_pricing_summary",
    "revenue_by_nation",
    "top3_customers_per_segment",
    "orders_running_window",
    "events_sessionize",
    "url_canonicalize",
    "politeness_schedule",
    "robots_gate",
    "docs_minhash_signature",
    "docs_lsh_pairs",
    "emb_cosine_topk",
    "frontier_round",
]


PRODUCTION = [
    "docs_minhash_production",
    "docs_lsh_pairs_production",
    "docs_pack_blocks",
]
REPEATS = 3  # timed passes over every headline query and production leg


def build_session(cores: int):
    from kit_spark.bench_scaling import warm_udf_workers
    from kit_spark.session import get_spark

    spark = get_spark("kit_spark_bench", cores=cores,
                      shuffle_partitions=max(cores, 8))
    # warm ALL python UDF workers once so per-query times are job time: a
    # JVM-only warmup leaves every pandas-UDF worker cold and charges
    # ~2 s/worker of spawn+import to the first UDF query
    warm_udf_workers(spark, cores)
    return spark


def production_df(spark, sf_dir: str, name: str, cores: int):
    """One production leg as a DataFrame, built after the previous
    sample's caches are released.  ``docs_minhash_production`` and
    ``docs_lsh_pairs_production`` are the xxhash64 minhash -> LSH dedup
    path (the md5_long catalog twins are the oracle-portable variants of
    the same plan); ``docs_pack_blocks`` is sequence packing (global
    token cumsum + block-map explode) over the same corpus."""
    from kit_spark import lifecycle
    from kit_spark.functions import dedup as DD
    from kit_spark.functions.packing import pack_sequences

    lifecycle.release()
    # one-row-group testdata file: spread the scan so the shingle/hash
    # chain parallelizes (see kit_spark.queries.load)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .repartition(cores)
    if name == "docs_pack_blocks":
        return pack_sequences(docs, 2048)
    sig = DD.minhash_signatures(docs, k=8, n=3, method="xxhash64")
    if name == "docs_minhash_production":
        return sig
    if name == "docs_lsh_pairs_production":
        return DD.lsh_candidate_pairs(sig, k=8, rows_per_band=2,
                                      max_bucket=100_000)
    raise KeyError(name)


def timing_loop(names: list[str], run_one, control,
                repeats: int = REPEATS) -> dict:
    """Time ``run_one(name)`` ``repeats`` times per name, pass by pass
    (every name once, then every name again, ...), so host drift hits
    every name alike.  ``control`` is timed before the first pass and
    after the last; a drift between its two readings is host drift.
    Returns per-name samples with min, median and spread (max - min),
    and ``control_s``."""
    def timed(fn, *args) -> float:
        t0 = time.perf_counter()
        fn(*args)
        return round(time.perf_counter() - t0, 3)

    control_s = [timed(control)]
    samples: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(repeats):
        for name in names:
            samples[name].append(timed(run_one, name))
    control_s.append(timed(control))
    return {"queries": {n: {"samples": s, "min": min(s),
                            "median": round(statistics.median(s), 3),
                            "spread": round(max(s) - min(s), 3)}
                        for n, s in samples.items()},
            "control_s": control_s}


def time_legs(spark, legs: dict, repeats: int = REPEATS) -> dict:
    """``timing_loop`` over Spark legs (name -> a zero-argument function
    returning the leg's DataFrame), each sample a noop-sink write; the
    control is a fixed JVM-only job."""
    from kit_spark import lifecycle

    def run_one(name):
        spark.sparkContext.setJobDescription(name)
        legs[name]().write.format("noop").mode("overwrite").save()

    def control():
        spark.range(0, 20_000_000, numPartitions=8) \
            .selectExpr("max(xxhash64(id))").collect()

    control()  # compiled once untimed, so both readings time a warm job
    out = timing_loop(list(legs), run_one, control, repeats)
    spark.sparkContext.setJobDescription(None)
    lifecycle.release()
    return out


def run_headline(sf_dir: str, cores: int):
    from pyspark.sql import functions as F

    from kit_spark.queries import QUERIES

    spark = build_session(cores)
    legs = {n: partial(QUERIES[n], spark, sf_dir) for n in HEADLINE}
    legs.update({n: partial(production_df, spark, sf_dir, n, cores)
                 for n in PRODUCTION})
    timed = time_legs(spark, legs)

    # the max-bucket population stat that guards degenerate corpora
    sig = production_df(spark, sf_dir, "docs_minhash_production", cores)
    bands = (sig.select(F.explode(F.array(*[
        F.struct(F.lit(j).alias("bd"),
                 F.concat_ws("|", F.col(f"h{2 * j}").cast("string"),
                             F.col(f"h{2 * j + 1}").cast("string"))
                 .alias("val")) for j in range(4)])).alias("b"))
        .groupBy("b.bd", "b.val").count()
        .agg(F.max("count").alias("mx")).collect())
    max_bucket = int(bands[0]["mx"] or 0)
    ann_recall = _ann_recall(spark, sf_dir)
    spark.stop()
    return timed, max_bucket, ann_recall


def _ann_recall(spark, sf_dir: str) -> dict:
    """recall@10 of the approximate similarity paths vs the exact
    brute-force baseline — the number a user tunes planes/nprobe against
    (both paths' mechanics are already oracle-checked; this reports
    result QUALITY at the bench scale).

    Two configurations: the catalog entries (corpus-ADAPTIVE since round
    4 — planes from adaptive_planes(count), n_cells from
    adaptive_ncells(count), both derived identically inside the oracle
    SQL) and a hand-tuned control (planes=4 / n_cells=sqrt(N),nprobe=8)
    confirming the adaptive formulas land on the right values at this
    corpus size.  Context for reading the
    numbers: the synthetic embeddings are near-iid noise (median pairwise
    cos ~ 0, the whole top-10 sits in a dense 0.36-0.41 band barely above
    the next hundreds), the information-theoretic WORST case for any
    bucketing ANN — structured corpora recall far higher, and planted
    near-duplicate twins are recovered at 1.0 (pytest-pinned,
    test_spark_functions.py)."""
    from pyspark.sql import functions as F

    from kit_spark.functions import similarity as SIM
    from kit_spark.queries import QUERIES

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n_corpus = emb.count()
    queries_df = emb.where(F.col("vec_id") < 5)
    exact = (QUERIES["emb_cosine_topk"](spark, sf_dir)
             .select("query_id", "neighbor_id").cache())
    denom = exact.count()

    def recall(approx) -> float | None:
        hits = exact.join(approx.select("query_id", "neighbor_id"),
                          ["query_id", "neighbor_id"]).count()
        return round(hits / denom, 3) if denom else None

    # the same derivations the catalog entries use (emb_ann_topk /
    # emb_ivf_topk) — never re-derive inline, or the labels here could
    # silently drift from what the entries actually ran with
    ncells = SIM.adaptive_ncells(n_corpus)
    ad_planes = SIM.adaptive_planes(n_corpus)
    tuned_planes, tuned_nprobe = 4, 8
    lsh_catalog = recall(QUERIES["emb_ann_topk"](spark, sf_dir))
    ivf_catalog = recall(QUERIES["emb_ivf_topk"](spark, sf_dir))
    # the hand-tuned control re-runs only where its params DIFFER from
    # the adaptive catalog derivation — at corpus sizes where they
    # coincide (sf0.1: adaptive_planes(2000)=4), re-running the identical
    # job would just report the same measurement under a second label
    lsh_tuned = (lsh_catalog if tuned_planes == ad_planes else recall(
        SIM.ann_topk(emb, queries_df, k=10, planes=tuned_planes)))
    ivf_tuned = ivf_catalog  # catalog IVF already runs (ncells, nprobe=8)
    out = {
        "k": 10, "n_corpus": n_corpus, "n_query_results": denom,
        "catalog": {
            f"lsh_adaptive_p{ad_planes}": lsh_catalog,
            f"ivf_adaptive_c{ncells}_p{tuned_nprobe}": ivf_catalog,
        },
        "tuned": {
            f"lsh_multiprobe_p{tuned_planes}": lsh_tuned,
            f"ivf_c{ncells}_p{tuned_nprobe}": ivf_tuned,
        },
        "tuned_params_match_catalog": tuned_planes == ad_planes,
        "note": ("synthetic near-iid corpus (median cos~0): worst case "
                 "for bucketing ANN; planted-twin recall is 1.0 "
                 "(pytest-pinned)"),
    }
    exact.unpersist()
    return out


def scale_span(cores_hi: int) -> tuple[int, int]:
    """The (N, 4N) core counts a scaling pair runs here: the high leg is
    capped at the CPUs this process may run on, since ``taskset`` onto
    more CPUs than exist succeeds and pins the leg to fewer."""
    cores_hi = min(cores_hi, len(os.sched_getaffinity(0)))
    return max(2, cores_hi // 4), cores_hi


def host_parallel_capacity(procs_lo: int = 4, procs_hi: int = 16) -> dict:
    """Raw multiprocessing scaling of the fetch-verify kernel, no Spark:
    the host VM's true parallel-CPU ceiling.  Measured 2026-08: the
    hypervisor delivers ~1.00 efficiency up to ~16-24 pinned vCPUs but only
    ~0.73 from 8 -> 32 even on a pure register loop — so the engine's
    N -> 4N evidence runs at 2 -> 8 cores, where the hardware itself can
    express 4x."""
    import multiprocessing as mp

    from kit_spark.bench_scaling import verify_image

    cpus = os.sched_getaffinity(0)
    rates = {}
    for procs in (procs_lo, procs_hi):
        os.sched_setaffinity(0, set(range(procs)))
        with mp.Pool(procs) as pool:
            # images 0-4 (warm imports), then 0-399, on each worker
            pool.map(verify_image, list(range(5)) * procs, chunksize=5)
            t0 = time.perf_counter()
            pool.map(verify_image, list(range(400)) * procs, chunksize=400)
            rates[procs] = procs * 400 / (time.perf_counter() - t0)
    os.sched_setaffinity(0, cpus)
    ratio = rates[procs_hi] / rates[procs_lo]
    return {"procs_lo": procs_lo, "procs_hi": procs_hi,
            "rows_per_sec_lo": round(rates[procs_lo], 1),
            "rows_per_sec_hi": round(rates[procs_hi], 1),
            "efficiency": round(ratio / (procs_hi / procs_lo), 3)}


MAX_PAIRS = 3  # scaling pairs measured at most, congested or not


def _scaling_leg(cores: int, n_urls: int, mode: str,
                 timeout_cap: float | None = None) -> dict:
    # pin the process tree to exactly `cores` CPUs: local[N] alone lets
    # JVM GC/shuffle/python workers spill onto the remaining CPUs, which
    # would flatter the small-"cluster" number and understate scaling.
    # (Pinning to a different core range was A/B'd: no benefit on this
    # hypervisor — low cores kept for cross-round comparability.)
    pin = (["taskset", "-c", f"0-{cores - 1}"]
           if shutil.which("taskset") else [])
    # timeout scales with input: a low-core leg must survive a congested
    # window
    timeout = max(1800, min(4200, n_urls // 400))
    if timeout_cap is not None:
        # a leg must never be allowed to blow the whole run's budget:
        # better a recorded timeout error than an rc=124 empty capture
        timeout = min(timeout, max(300.0, timeout_cap))
    proc = subprocess.run(
        pin + [sys.executable, "-m", "kit_spark.bench_scaling",
               str(cores), str(n_urls), mode],
        capture_output=True, text=True, cwd=REPO, timeout=timeout)
    if proc.returncode != 0:
        raise RuntimeError(proc.stderr.strip()[-400:])
    return json.loads(proc.stdout.strip().splitlines()[-1])


def run_scaling(n_urls: int, cores_hi: int, pairs: int = 2,
                mode: str = "round",
                budget_s: float | None = None) -> dict | None:
    """Paired-leg scaling estimator, robust to hypervisor noise drift.

    Each measurement is a back-to-back (lo, hi) PAIR, and the reported
    efficiency comes from the pair with the smallest combined elapsed —
    the pair observed under the least interference.  Rationale: host
    noise only ever *slows* a leg, so independently best-of-N per core
    count can splice a clean lo-leg with a congested hi-leg (or the
    reverse) and corrupt the ratio in either direction; a tight pair sees
    one noise regime, and minimal-total selection favors the cleanest
    regime without cherry-picking the ratio itself.  Extra pairs (up to
    ``MAX_PAIRS``) are measured only on OUTCOME-INDEPENDENT congestion
    evidence — the engine's own efficiency number never feeds the
    stopping rule (resampling conditioned on the outcome would bias the
    reported efficiency upward): the two cleanest pairs disagree on
    total time by >5% (a drifty window — drift BETWEEN the legs of a
    pair biases its ratio in either direction, so total-time drift
    between pairs is the readable congestion symptom; the round-4 dress
    rehearsal read 0.762/0.941 across two pairs drifting 7.6%, which the
    former 8% threshold failed to catch), or any pair's raw
    multiprocessing host probe reads below 0.75 (the hypervisor itself
    was congested in that pair's window — the probe's clean 2->8
    baseline is ~0.95, routine neighbor load reads 0.82-0.9).  All
    measured pairs are reported in ``pairs`` either way.  The span is
    ``scale_span(cores_hi)``."""
    cores_lo, cores_hi = scale_span(cores_hi)
    ideal = cores_hi / cores_lo
    budget = float(os.environ.get("KIT_BENCH_SCALE_BUDGET", "2400"))
    if budget_s is not None:
        budget = min(budget, budget_s)
    measured: list[dict] = []
    spent = 0.0

    try:
        for i in range(MAX_PAIRS):
            if measured and spent + measured[-1]["total"] > budget:
                break  # the NEXT pair (≈ the last one's cost) won't fit
            lo = _scaling_leg(cores_lo, n_urls, mode,
                              timeout_cap=budget - spent)
            hi = _scaling_leg(cores_hi, n_urls, mode,
                              timeout_cap=budget - spent
                              - lo["elapsed_sec"])
            # a ~10 s raw-multiprocessing probe right after each pair: the
            # host's own parallel efficiency in (roughly) the pair's
            # window, so a sub-target pair beside a sub-linear probe is
            # visibly congestion rather than engine
            try:
                probe = host_parallel_capacity(cores_lo, cores_hi)
            except Exception:
                probe = {"efficiency": None}
            measured.append({"lo": lo, "hi": hi,
                             "host_eff": probe["efficiency"],
                             "total": lo["elapsed_sec"] + hi["elapsed_sec"]})
            spent += measured[-1]["total"]
            if i + 1 >= pairs:
                congested = any(p["host_eff"] is None or p["host_eff"] < 0.75
                                for p in measured)
                if len(measured) < 2:
                    if not congested:  # single requested pair, clean probe
                        break
                else:
                    totals = sorted(p["total"] for p in measured)
                    if totals[1] <= totals[0] * 1.05 and not congested:
                        break
            if spent > budget:  # bound the driver-run wall time even in
                break           # heavily congested windows
    except (RuntimeError, subprocess.TimeoutExpired) as exc:
        if not measured:  # keep completed pairs if a later leg died
            return {"error": str(exc)[-400:]}
    best = min(measured, key=lambda p: p["total"])
    lo, hi = best["lo"], best["hi"]
    ratio = hi["urls_per_sec"] / lo["urls_per_sec"]
    return {
        "cores_n": cores_lo, "cores_4n": cores_hi, "n_urls": n_urls,
        "throughput_n": lo["urls_per_sec"], "throughput_4n": hi["urls_per_sec"],
        "elapsed_n": lo["elapsed_sec"], "elapsed_4n": hi["elapsed_sec"],
        "speedup": round(ratio, 3),
        "efficiency": round(ratio / ideal, 3),
        "pairs": [{"elapsed_n": p["lo"]["elapsed_sec"],
                   "elapsed_4n": p["hi"]["elapsed_sec"],
                   "efficiency": round(
                       p["hi"]["urls_per_sec"] / p["lo"]["urls_per_sec"]
                       / ideal, 3),
                   "host_eff": p.get("host_eff")} for p in measured],
        "method": ("min-total-elapsed pair of %d back-to-back (N, 4N) pairs, "
                   "CPU-pinned process trees, same input (strong scaling)"
                   % len(measured)),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 8
    sf = sf_dir.rstrip("/").split("sf")[-1]

    t_total = time.perf_counter()
    timed, max_bucket, ann_recall = run_headline(sf_dir, cores)
    stats = timed["queries"]

    result = {
        "metric": ("headline query wall-clock at sf%s; frontier throughput "
                   "and N-vs-4N-core scaling in 'frontier'/'scaling'" % sf),
        "value": round(sum(stats[n]["samples"][0] for n in HEADLINE), 3),
        "value_median": round(sum(stats[n]["median"] for n in HEADLINE), 3),
        "unit": "sec",
        "queries": {n: s["samples"][0] for n, s in stats.items()},
        "samples": stats,
        "control_s": timed["control_s"],
        "lsh_max_bucket": max_bucket,
        "ann_recall": ann_recall,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cores": cores,
    }

    # total-run budget: the driver captures bench output under a ~3600 s
    # timeout; round 4's ~4000 s default run hit it (rc=124) and left NO
    # official record.  Segments below run must-have-first, and every
    # skip is recorded so an empty field reads as "skipped: <why>", never
    # as silence.
    total_budget = float(os.environ.get("KIT_BENCH_TOTAL_BUDGET", "2800"))
    skipped: dict[str, str] = {}

    def left() -> float:
        return total_budget - (time.perf_counter() - t_total)

    if os.environ.get("KIT_BENCH_SCALING", "1") != "0":
        # 600k URLs sizes the parallel work W so the ~15-25s core-count-
        # independent fixed cost (stage scheduling across a ~15-stage
        # pipeline) amortizes to a few % and clean-window pairs clear the
        # 0.8 efficiency bar without leaning on the pair estimator
        n_urls = int(os.environ.get("KIT_BENCH_SCALE_URLS", "600000"))
        # N -> 4N at 2 -> 8 cores: the span where the host itself can
        # express 4x.  Raw multiprocessing probes (host_capacity below,
        # recorded each run): ~0.95 at 2 -> 8, ~0.87-1.0 at 4 -> 16
        # drifting with neighbor load, ~0.73 at 8 -> 32 even for a pure
        # register loop; wider spans measure the hypervisor's ceiling,
        # not the engine.  BASELINE.md documents this methodology.
        scale_lo, scale_hi = scale_span(
            int(os.environ.get("KIT_BENCH_SCALE_CORES", "8")))
        result["host_capacity"] = host_parallel_capacity(scale_lo, scale_hi)
        # the REQUIRED measurement (the north rule's >=0.8 N->4N bar):
        # gets the lion's share of the budget, minus a reserve for the
        # compute control + frontier throughput that must still run after
        scaling = run_scaling(n_urls, scale_hi,
                              budget_s=max(600.0, left() - 500.0))
        result["scaling"] = scaling
        # compute-only control: per-executor compute scaling with no
        # per-round fixed costs (the asymptotic large-round efficiency);
        # capped — the control's signal saturates well before the full
        # round size and the low-core leg is the bench's longest run
        if left() > 250:
            result["scaling_compute"] = run_scaling(
                max(50_000, min(n_urls // 3, 100_000)), scale_hi, pairs=1,
                mode="compute", budget_s=left() - 150.0)
        else:
            skipped["scaling_compute"] = "budget (<250 s left)"
        # frontier throughput headline: full round on ALL cores, best-of-2
        # (min elapsed = least host interference); best-of-1 when tight
        try:
            runs = 2 if left() > 400 else 1
            full = min((_scaling_leg(cores, n_urls, "round",
                                     timeout_cap=left())
                        for _ in range(runs)),
                       key=lambda r: r["elapsed_sec"])
            result["frontier"] = {"n_urls": full["n_urls"],
                                  "cores": cores,
                                  "urls_per_sec": full["urls_per_sec"],
                                  "runs": runs}
        except (RuntimeError, subprocess.TimeoutExpired):
            if scaling and "error" not in scaling:
                result["frontier"] = {"n_urls": scaling["n_urls"],
                                      "cores": scale_hi,
                                      "urls_per_sec": scaling["throughput_4n"]}
    result["budget"] = {"total_s": total_budget, "skipped": skipped}
    result["total_wall_sec"] = round(time.perf_counter() - t_total, 1)
    # durable copy: the driver's captured stdout has truncated mid-JSON
    # before (BENCH_r03.json `parsed: null`) — the full record always
    # lands on disk too (referenced from BENCH/BASELINE.md)
    try:
        with open(os.path.join(REPO, "BENCH", "last_run.json"), "w") as fh:
            json.dump(result, fh, indent=1)
            fh.write("\n")
    except OSError:
        pass
    print(json.dumps(result))


if __name__ == "__main__":
    main()
