"""One benchmark invocation in a fresh process (started by run.py).

Timeline: session start + calibration job (``setup_s``), one cold
iteration (``cold_run_s``), then timed iterations until the next one
would overrun ``--seconds`` (at least ``MIN_TIMED``; ``run_s`` is their
median).  Every iteration's outputs are checked after its timer stops.
With ``--trace 1`` the session has the UI on and one traced layer pass
follows the timed iterations.  The result is written as JSON to
``--result``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from run import children_map  # noqa: E402

MIN_TIMED = 1


def tree_hwm_mb(pid: int) -> float:
    """Summed VmHWM of ``pid`` and its descendants (JVM, Python workers)."""
    children = children_map()
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next(
                    (int(line.split()[1]) for line in f if line.startswith("VmHWM:")), 0
                )
        except OSError:
            continue
    return total_kb / 1024.0


def start_session(work: str, traced: bool):
    from radohydro_spark import get_spark

    for d in ("spark-local", "jvm-tmp", "py-tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no /tmp/hsperfdata file: the JVM writes inside the checkout only
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'jvm-tmp')} -XX:-UsePerfData"
        ),
    }
    if traced:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0"})
    return get_spark("perfbench", extra_conf=conf)


def make_workload(name: str, spark, inp: dict, work: str, smoke: bool):
    from workloads import LibraryMix, RadolanDay

    if name == "radolan_day":
        return RadolanDay(spark, inp, work)
    return LibraryMix(spark, inp, smoke)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--inputs", required=True, help="JSON file from inputs.prepare")
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--smoke", action="store_true")
    a = ap.parse_args()
    t_spawn = float(os.environ["PERFBENCH_T0"])
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    with open(a.inputs) as f:
        inp = json.load(f)

    from canary import canary_seconds

    spark = start_session(a.work, bool(a.trace))
    try:
        session_s = time.time() - t_spawn
        canary_s = canary_seconds(spark)
        setup_s = time.time() - t_spawn
        wl = make_workload(a.workload, spark, inp, a.work, a.smoke)
        attempted = failed = 0

        def iteration() -> float:
            nonlocal attempted, failed
            wl.reset()
            t0 = time.perf_counter()
            result = wl.run()
            elapsed = time.perf_counter() - t0
            wl.release()
            n, bad = wl.check(result)
            attempted, failed = attempted + n, failed + bad
            return elapsed

        cold = iteration()
        runs: list[float] = []
        peak_rss = 0.0
        t_loop = time.perf_counter()
        while len(runs) < MIN_TIMED or (
            time.perf_counter() - t_loop + statistics.median(runs) <= a.seconds
        ):
            runs.append(iteration())
            if len(runs) == 1:
                # a fixed point of every run (set-up, cold and one warm
                # iteration), so the figure does not grow with --seconds
                peak_rss = tree_hwm_mb(os.getpid())
        out = {
            "setup_s": setup_s,
            "session_s": session_s,
            "canary_s": canary_s,
            "cold_run_s": cold,
            "runs": runs,
            "peak_rss_mb": peak_rss,
        }
        if a.trace:
            from tracing import LayerTracer

            tr = LayerTracer(spark, cores)
            layers, result = wl.traced(tr)
            n, bad = wl.check(result)
            attempted, failed = attempted + n, failed + bad
            # BENCHMARK.json declares the names; layers this workload does
            # not reach did no work and report 0
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
            values = dict.fromkeys(units, 0.0)
            values.update(layers)
            values["session.start_s"] = session_s
            values["session.canary_s"] = canary_s
            values["session.peak_rss_mb"] = peak_rss
            values["trace.overhead_s"] = tr.own_s
            out["layers"] = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
        out.update(attempted=attempted, failed=failed, problems=wl.problems[:10])
    finally:
        spark.stop()
    with open(a.result, "w") as f:
        json.dump(out, f)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
