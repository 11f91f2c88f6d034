"""Small measurement helpers: the median, the percentile rule,
process-tree CPU and peak RSS read from /proc, a CPU canary and the
source stamp of a run."""

from __future__ import annotations

import hashlib
import os
import statistics
import subprocess
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail_percentile(values, p: float, min_beyond: int = 10) -> float | None:
    """The `p`-th percentile (0-100, nearest rank) of `values`, or None
    when fewer than `min_beyond` samples lie strictly above it: a tail
    percentile is only reported when at least that many samples support
    it."""
    if not values:
        return None
    s = sorted(values)
    rank = max(1, -(-len(s) * p // 100))  # ceil(n * p / 100), at least 1
    value = s[int(rank) - 1]
    beyond = sum(1 for v in s if v > value)
    return float(value) if beyond >= min_beyond else None


def _proc_stat(pid: int) -> tuple[int, float] | None:
    """(ppid, utime+stime+cutime+cstime in seconds), or None when the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after the last ')'
    fields = raw[raw.rindex(")") + 2 :].split()
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks / CLK_TCK


def process_tree(root: int) -> dict[int, float]:
    """pid -> CPU seconds for `root` and all its live descendants."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            st = _proc_stat(int(entry))
            if st is not None:
                stats[int(entry)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def tree_cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """CPU seconds the tree spent between two process_tree snapshots.
    Processes that exited in between are counted through their parent's
    reaped-children time."""
    return sum(cpu - before.get(pid, 0.0) for pid, cpu in after.items())


def tree_peak_rss_mb(root: int) -> float:
    """Summed VmHWM (peak resident set) of the process tree, in MB."""
    total_kb = 0
    for pid in process_tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def cpu_canary(n: int = 1_500_000) -> float:
    """Seconds a fixed single-thread integer loop takes; compared before
    and after a run, it shows whether the host slowed down meanwhile."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(n):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t0


def source_stamp(root: str) -> str:
    """The git commit of `root`, or a hash of the program's source files
    when `root` is not a git checkout."""
    if os.path.isdir(os.path.join(root, ".git")):
        try:
            out = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"],
                capture_output=True, text=True, timeout=10,
            )
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    pkg = os.path.join(root, "txf_continuous_data_pipeline_spark")
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, root).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return "src-" + h.hexdigest()[:16]
