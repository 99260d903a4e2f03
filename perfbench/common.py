"""Session start, the metric catalogue, and the per-layer reduction shared by
the workloads."""

from __future__ import annotations

import os
import time

from hostmon import tree_cpu_seconds, tree_pids

CORES = 4

# layer span names; each reports <name>.s (self seconds), <name>.stages and
# <name>.tasks_failed
LAYERS = (
    "admit", "robots.compile", "robots.gate", "politeness",
    "sequence", "fetch", "sitemap", "store.commit", "driver",
    "dedup.minhash", "dedup.lsh", "dedup.jaccard", "dedup.paragraph",
    "components", "decontam", "packing", "cleaning",
)
# names whose time metric the benchmark doc spells differently
_TIME_NAME = {"store.commit": "store.commit_s", "driver": "driver.overhead_s"}

COUNTS = {
    # metric: (span name, count key, unit)
    "canon.s": ("admit", "canon_s", "s"),
    "admit.rows_in": ("admit", "rows_in", "count"),
    "admit.rows_out": ("admit", "rows_out", "count"),
    "robots.compile.hosts": ("robots.compile", "hosts", "count"),
    "fetch.rows": ("fetch", "rows", "count"),
    "fetch.bytes": ("fetch", "bytes", "bytes"),
    "fetch.failed": ("fetch", "failed", "count"),
    "sitemap.entries": ("sitemap", "entries", "count"),
    "dedup.lsh.pairs": ("dedup.lsh", "rows", "count"),
}
RATIOS = {
    # metric: (span name, numerator key, denominator key)
    "robots.gate.allowed_ratio": ("robots.gate", "allowed", "rows"),
    "politeness.selected_ratio": ("politeness", "selected", "rows_in"),
    "dedup.jaccard.kept_ratio": ("dedup.jaccard", "kept", "rows"),
}
OTHER = {
    # wall time tracks co-tenant load on a shared host more than the
    # program: README.md, "Steadiness"
    "warm_wall_s": "s",
    "store.read_s": "s",
    "setup.session_s": "s",
    "setup.prep_s": "s",
    "setup.warm_up_s": "s",
    "host.peak_mem_mb": "MB",
    "store.files_written": "count",
    "store.bytes_written": "bytes",
    "store.chain_len": "count",
    "host.control_s": "s",
    "host.loadavg": "load",
    "trace.overhead_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units: dict[str, str] = {}
    for name in LAYERS:
        units[_TIME_NAME.get(name, f"{name}.s")] = "s"
        units[f"{name}.stages"] = "count"
        units[f"{name}.tasks_failed"] = "count"
    units.update({name: unit for name, (_, _, unit) in COUNTS.items()})
    units.update({name: "ratio" for name in RATIOS})
    units.update(OTHER)
    return units


END_TO_END_UNITS = {
    "warm_cpu_s": "s",
    "setup_s": "s",
}


def layer_metrics(tracer) -> dict[str, float]:
    """Every per-layer metric the spans can give; a layer the workload
    never called reports 0."""
    by = tracer.by_name()
    empty = {"s": 0.0, "stages": 0, "tasks_failed": 0, "counts": {}}
    out: dict[str, float] = {}
    for name in LAYERS:
        agg = by.get(name, empty)
        out[_TIME_NAME.get(name, f"{name}.s")] = agg["s"]
        out[f"{name}.stages"] = agg["stages"]
        out[f"{name}.tasks_failed"] = agg["tasks_failed"]
    for name, (span_name, key, _) in COUNTS.items():
        out[name] = by.get(span_name, empty)["counts"].get(key, 0)
    for name, (span_name, num, den) in RATIOS.items():
        counts = by.get(span_name, empty)["counts"]
        out[name] = (counts.get(num, 0) / counts[den] if counts.get(den)
                     else 0.0)
    out["store.read_s"] = by.get("store.read", empty)["s"]
    return out


def start_session(work: str):
    """A fresh local[4] session whose scratch space stays under ``work``."""
    from kit_spark.pyfiles import ensure_shipped
    from kit_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    spark = get_spark("perfbench", cores=CORES, extra_conf={
        "spark.local.dir": local,  # SPARK_LOCAL_DIRS, if set, wins
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap and the throughput collector: no concurrent GC
        # threads beside the four task threads, and no heap resizing that
        # differs from run to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work} -XX:-UsePerfData "
            f"-Dderby.system.home={work} -Xms2g -XX:+UseParallelGC",
        # the host is shared: cap the driver heap well below the default
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        # keep every job of a traced run in the status tracker
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    ensure_shipped(spark)
    return spark


def stop_jvm() -> None:
    """Shut down the gateway JVM this process launched and wait until it
    and the Python workers under it have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.2)


def walk_bytes(root: str) -> tuple[int, int]:
    """(files, bytes) under ``root``."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            try:
                size += os.path.getsize(os.path.join(dirpath, name))
            except OSError:
                continue
            files += 1
    return files, size


class Stopwatch:
    """Wall seconds and the process tree's CPU seconds of a block."""

    def __enter__(self):
        self.cpu0 = tree_cpu_seconds(os.getpid())
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.seconds = time.perf_counter() - self.t0
        self.cpu_seconds = tree_cpu_seconds(os.getpid()) - self.cpu0
