"""Benchmark entry point.

    python3 perfbench/run.py --workload radolan_day --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Inputs are generated (or verified
from the cache under perfbench/_work) before anything is timed; the
workload then runs in one fresh worker process on ``local[$(nproc)]``.
This process becomes the child subreaper of everything it starts, and
waits for the worker, its JVM and the JVM's Python workers to exit before
it prints.  The last line of standard output is the result JSON; with
``--trace 0`` it carries the end-to-end metrics, with ``--trace 1`` the
per-layer ones.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
WORKLOADS = ("radolan_day", "library_mix")
DEADLINE_S = 150.0  # the worker is killed after this; no result is printed
PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def children_map() -> dict[int, list[int]]:
    """Parent pid -> child pids, for every process visible in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while we listed
        children.setdefault(ppid, []).append(int(entry))
    return children


def reap_all(grace_s: float) -> None:
    """Wait for every process re-parented to us to exit; kill stragglers
    after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in children_map().get(os.getpid(), []):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def worker_env() -> dict[str, str]:
    """The environment a benchmark Spark session runs in."""
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEMORY="3g",
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=os.path.join(WORK, "py-tmp"),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",  # the launcher JVM of spark-submit
    )
    return env


def run_worker(args, inputs_file: str, result_file: str) -> dict:
    env = worker_env()
    env["PERFBENCH_T0"] = repr(time.time())
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--inputs", inputs_file,
        "--work", WORK, "--result", result_file,
    ] + (["--smoke"] if args.smoke else [])
    # worker and Spark logs go to stderr: stdout carries only our result
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr)
    try:
        code = proc.wait(timeout=DEADLINE_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = "timeout"
    # the JVM and its Python workers exit once the worker has gone
    reap_all(grace_s=15.0 if code == 0 else 0.0)
    if code != 0:
        raise RuntimeError(f"worker exited with {code}")
    with open(result_file) as f:
        return json.load(f)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for selftest.py")
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "radohydro_spark", "__init__.py")):
        print(f"radohydro_spark not found under {ROOT}", file=sys.stderr)
        return 2
    become_subreaper()
    sys.path.insert(0, HERE)
    from inputs import prepare

    os.makedirs(WORK, exist_ok=True)
    inputs = prepare(args.workload, args.seed, args.smoke, os.path.join(WORK, "inputs"))
    inputs_file = os.path.join(WORK, "inputs.json")
    result_file = os.path.join(WORK, "result.json")
    with open(inputs_file, "w") as f:
        json.dump(inputs, f)
    if os.path.exists(result_file):
        os.remove(result_file)
    try:
        r = run_worker(args, inputs_file, result_file)
    except (RuntimeError, OSError, ValueError) as exc:
        print(f"benchmark failed: {exc}", file=sys.stderr)
        return 1
    for problem in r["problems"]:
        print(f"output check: {problem}", file=sys.stderr)
    print(
        json.dumps(
            {
                "canary_s": r["canary_s"],
                "session_s": r["session_s"],
                "run_s_samples": r["runs"],
                "peak_rss_mb": r["peak_rss_mb"],
                "fail_rate": r["failed"] / r["attempted"],
            }
        )
    )
    if args.trace:
        metrics = r["layers"]
    else:
        metrics = {
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "cold_run_s": {"value": r["cold_run_s"], "unit": "s"},
            "run_s": {"value": statistics.median(r["runs"]), "unit": "s"},
        }
    print(
        json.dumps(
            {
                "correct": r["failed"] == 0,
                "attempted": r["attempted"],
                "failed": r["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
