"""Host-side measurements that need no Spark: process-tree CPU time and
memory, the fixed noise-floor control, and the load average.

``psutil`` is not available, so the process tree, its CPU time and its
memory are read straight from ``/proc``.
"""

from __future__ import annotations

import os
import time

_CLOCK_TICKS = os.sysconf("SC_CLK_TCK")
CONTROL_ROUND_TRIPS = 400  # png encode/decode round trips in one control


def _children_map() -> dict[int, list[int]]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    return children


def tree_pids(root: int) -> list[int]:
    """``root`` and every process descended from it."""
    children = _children_map()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User plus system CPU seconds of ``root``'s tree, including children
    each process has reaped, so a worker that exits mid-job still counts."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime..cstime
    return ticks / _CLOCK_TICKS


def reset_peak_rss(root: int) -> None:
    """Reset the kernel's peak-RSS mark (``VmHWM``) of every process in
    ``root``'s tree to its current RSS."""
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss_mb(root: int) -> float:
    """Summed peak RSS (``VmHWM``) of ``root``'s tree since the last
    ``reset_peak_rss``.  The kernel keeps the marks, so nothing samples
    while the work runs."""
    total_kb = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024


def control_seconds() -> float:
    """A fixed, Spark-free CPU control: encode and decode one pinned image
    ``CONTROL_ROUND_TRIPS`` times with the program's own codec.  Its time
    moves only with the host, so comparing it across runs exposes a
    drifting window."""
    from kit_spark.kit_py import codec

    pixels = codec.synth_pixels("img0000000000", 48, 48)
    t0 = time.perf_counter()
    for _ in range(CONTROL_ROUND_TRIPS):
        codec.decode_image(codec.encode_image(pixels, codec.FMT_LOSSLESS))
    return time.perf_counter() - t0


def load_average() -> float:
    return os.getloadavg()[0]
