"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Makes one fresh directory for the run
under .perfbench-run/ (TMPDIR, Spark local dirs, staged inputs, sinks,
checkpoints, warehouse), runs perfbench/main.py in a new process group
with that directory and the checkout root on the Python workers' import
path, stops every process of the group, and removes the directory.

A run measures for at least --seconds and always completes its
workload's minimum passes, so the work per run is fixed. The last line
of stdout is the result JSON: the end-to-end metrics, or with --trace 1
the per-layer ones (spans then go to perfbench-out/). The line before it
is the run's context: cpus, seed, source stamp, CPU canary, pass times,
failures. Compare records only when their cpus agree.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIMEOUT_S = 170


def _group_alive(pgid: int) -> bool:
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2 :].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the group; return
    once none is alive."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + grace
        while _group_alive(pgid) and time.time() < deadline:
            time.sleep(0.05)
        if not _group_alive(pgid):
            return


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "txf_continuous_data_pipeline_spark", "__init__.py")):
        print("perfbench: the program's sources are not in this checkout", file=sys.stderr)
        return 2
    spawned_at = time.time()
    run_dir = os.path.join(ROOT, ".perfbench-run", f"{args.workload}-s{args.seed}-{os.getpid()}")
    for sub in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ)
    env.update({
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
        "PYTHONDONTWRITEBYTECODE": "1",
        # every JVM of the run (launcher and Spark driver) keeps its temp files
        # in the run directory and writes no hsperfdata file to /tmp
        "JAVA_TOOL_OPTIONS": " ".join(p for p in (
            env.get("JAVA_TOOL_OPTIONS"),
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        ) if p),
    })
    cmd = [
        sys.executable, os.path.join(HERE, "main.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--run-dir", run_dir, "--spawned-at", repr(spawned_at),
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, start_new_session=True)
    try:
        code = proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        code = 124
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass
    return code


if __name__ == "__main__":
    sys.exit(main())
