#!/usr/bin/env python3
"""Crawl-frontier benchmark.

    python3 perfbench/run.py --workload crawl_rounds --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the program.  Each run is closed-loop
from this single driver process on ``local[4]``: start the session, prepare
the inputs three times, warm the JVM up, then time the workload's operation
while another one fits in ``--seconds`` (at least once), checking every
operation's output against a reference.  The end-to-end metrics are medians
over the timed operations.  The last line of standard output is one JSON
object with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

SETUP_REPS = 3
CONTROL_REPS = 5  # noise-floor control timings at each end of a run


def parse_args(argv=None):
    parser = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=("crawl_rounds", "curate_docs"))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return parser.parse_args(argv)


def _program_present(root: str) -> bool:
    return all(os.path.exists(os.path.join(root, p))
               for p in ("kit_spark/crawl.py", "jobs/curate_job.py"))


def _workload(name: str, seed: int, work: str):
    if name == "crawl_rounds":
        from crawl_rounds import CrawlRounds
        return CrawlRounds(seed, work)
    from curate_docs import CurateDocs
    return CurateDocs(seed, work)


def measure(args, work: str) -> dict:
    from statistics import median

    from common import (END_TO_END_UNITS, Stopwatch, layer_metrics,
                        per_layer_units, start_session)
    from hostmon import (control_seconds, load_average, reset_peak_rss,
                         tree_peak_rss_mb)
    from spans import Tracer

    control = [control_seconds() for _ in range(CONTROL_REPS)]
    loads = [load_average()]

    # set-up: the session once, the workload's input synthesis and
    # preparation SETUP_REPS times (median), and the warm-up
    with Stopwatch() as sw:
        spark = start_session(work)
    session_s = sw.seconds
    wl = _workload(args.workload, args.seed, work)
    preps = []
    for _ in range(SETUP_REPS):
        with Stopwatch() as sw:
            wl.setup(spark)
        preps.append(sw.seconds)
    wl.build_reference()  # once per seed, outside every timed phase

    # warm-up, untimed: curate_docs runs one operation over another seed's
    # documents, crawl_rounds crawls round 0 into its base store; then
    # WARM_OPS operations, until the JIT compiler has caught up with them
    with Stopwatch() as sw:
        warm_errors = wl.warm_up()
        for _ in range(wl.WARM_OPS):
            warm_errors += wl.op()["errors"]
    warm_up_s = sw.seconds

    # peak memory is read in the traced run only
    ops: list[dict] = []
    if args.trace:
        reset_peak_rss(os.getpid())
    # TIMED_OPS operations, then more while another one, as long as the
    # last, fits in what is left of --seconds.  Every run times the same
    # passes of the warm-up curve unless --seconds is raised.
    t_end = time.perf_counter() + args.seconds
    while (len(ops) < wl.TIMED_OPS
           or t_end - time.perf_counter() > ops[-1]["op_s"]):
        ops.append(wl.op())
    peak_mb = tree_peak_rss_mb(os.getpid()) if args.trace else None
    warm_wall = median([op["op_s"] for op in ops])

    if args.trace:
        tracer = Tracer(spark, f"perfbench-{args.workload}-{args.seed}")
        traced = wl.op(tracer=tracer)
        metrics = layer_metrics(tracer)
        ops.append(traced)
    errors = warm_errors + [e for op in ops for e in op["errors"]]
    control += [control_seconds() for _ in range(CONTROL_REPS)]
    loads.append(load_average())
    print(f"perfbench: session_s={session_s:.2f} "
          f"prep_s={[round(s, 2) for s in preps]} "
          f"warm_up_s={warm_up_s:.2f} "
          f"op_s={[round(op['op_s'], 2) for op in ops]} "
          f"op_cpu_s={[round(op['cpu_s'], 2) for op in ops]} "
          f"control_s={[round(c, 4) for c in control]}",
          file=sys.stderr)

    if args.trace:
        metrics.update({
            "store.files_written": traced["store_files"],
            "store.bytes_written": traced["store_bytes"],
            "store.chain_len": traced["chain_len"],
            "warm_wall_s": warm_wall,
            "setup.session_s": session_s,
            "setup.prep_s": median(preps),
            "setup.warm_up_s": warm_up_s,
            "host.peak_mem_mb": peak_mb,
            "host.control_s": median(control),
            "host.loadavg": max(loads),
            # both measured after the warm-up
            "trace.overhead_s": traced["op_s"] - warm_wall,
        })
        units = per_layer_units()
        _write_spans(tracer, args)
    else:
        metrics = {
            "warm_cpu_s": median([op["cpu_s"] for op in ops]),
            "setup_s": session_s + median(preps) + warm_up_s,
        }
        units = END_TO_END_UNITS
    spark.stop()

    attempted = sum(op["attempted"] for op in ops)
    failed = sum(op["failed"] for op in ops)
    correct = not errors and failed == 0
    for e in errors:
        print(f"perfbench: correctness: {e}", file=sys.stderr)
    if errors:
        failed = attempted
    return {"correct": correct, "attempted": max(attempted, 1),
            "failed": failed,
            "metrics": {name: {"value": metrics[name], "unit": unit}
                        for name, unit in units.items()}}


def _write_spans(tracer, args) -> None:
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json")
    with open(path, "w") as fh:
        json.dump([{"id": s.sid, "name": s.name, "parent": s.parent,
                    "run_id": s.run_id, "start": s.start, "end": s.end,
                    "counts": s.counts} for s in tracer.spans], fh)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not _program_present(root):
        print("perfbench: run from the root of a kit_spark checkout "
              "(kit_spark/ and jobs/ not found)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # everything the run and its JVM and Python workers write stays here
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # also reaches the short launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)
    tempfile.tempdir = None
    from common import stop_jvm
    try:
        result = measure(args, work)
    except Exception:
        # a run that raises counts its work as failed
        traceback.print_exc()
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                          "metrics": {}}))
        return 1
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
