"""Self-test of the benchmark at smoke sizes.

    python3 perfbench/selftest.py

1. Runs every workload at its smoke size (2 rasters and 5 basins; 2
   queries over small tables), untraced and traced. It asserts that each
   result is correct and that the metric names and units are exactly those
   of BENCHMARK.json.
2. Runs one smoke ``radolan_day`` iteration in-process and checks it. It
   then corrupts one value in one per-basin CSV and checks again: the
   corrupted iteration must count as failed (fail_rate > 0).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke_run(workload: str, trace: int) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke",
    ]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=180)
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace}: exit {out.returncode}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_result(workload: str, trace: int, bench: dict) -> None:
    r = smoke_run(workload, trace)
    assert set(r) == {"correct", "attempted", "failed", "metrics"}, r.keys()
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1, r
    want = {m["name"]: m["unit"] for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in r["metrics"].items()}
    assert got == want, f"{workload} trace={trace}: {set(got) ^ set(want)}"
    assert all(isinstance(v["value"], (int, float)) for v in r["metrics"].values())
    print(f"ok  {workload} trace={trace}: {r['attempted']} attempted, {len(got)} metrics")


def check_corruption_counts() -> None:
    from inputs import prepare
    from run import WORK, worker_env

    os.environ.update(worker_env())
    from worker import start_session
    from workloads import RadolanDay

    inp = prepare("radolan_day", 7, True, os.path.join(WORK, "inputs"))
    spark = start_session(WORK, traced=False)
    try:
        wl = RadolanDay(spark, inp, WORK)
        wl.reset()
        assert wl.run() is None
        wl.release()
        assert wl.check() == (1, 0), wl.problems
        assert wl.run() is None
        wl.release()
        csv = os.path.join(wl.out, sorted(f for f in os.listdir(wl.out) if f.endswith(".csv"))[0])
        with open(csv) as f:
            lines = f.read().splitlines()
        row = next(i for i in range(3, len(lines)) if lines[i].split(",")[1])
        stamp, value = lines[row].split(",")
        lines[row] = f"{stamp},{float(value) + 0.5:.3f}"
        with open(csv, "w") as f:
            f.write("\n".join(lines) + "\n")
        attempted, failed = wl.check()
        assert failed / attempted > 0, "a corrupted CSV value passed the check"
        print(f"ok  corrupted CSV value counted: fail_rate {failed}/{attempted}; {wl.problems[-1]}")
    finally:
        spark.stop()


def main() -> int:
    bench = declared()
    for w in bench["workloads"]:
        for trace in (0, 1):
            check_result(w["name"], trace, bench)
    check_corruption_counts()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
