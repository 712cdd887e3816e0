"""Diff a driver CORRECTNESS_r{N}.json against the local strict gate.

For every query the driver checked, re-run the strict local comparison on
the same sf0.01 parquet and report disagreements in BOTH directions:

* driver RED / local ok  — the local gate has a false-green (a
  normalization it applies that the driver doesn't); capture both
  engines' raw values for the query and tighten
  scripts/check_correctness.py until it predicts the driver verdict
  (this is how the r6 HUGEINT→Arrow-decimal class was found).
* driver ok / local FAIL — code drifted since the driver ran, or the
  local gate is over-strict; bisect the commit range.

Usage: python scripts/diff_driver_vs_local.py CORRECTNESS_r07.json
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(ROOT, "CORRECTNESS_r07.json")
    driver = json.load(open(path))
    names = sorted(driver)
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check_correctness.py"), "--strict", *names],
        capture_output=True,
        text=True,
        cwd=ROOT,
    )
    local_ok = {
        line.split()[1].rstrip(":")
        for line in proc.stdout.splitlines()
        if line.startswith("ok ")
    }
    disagreements = []
    for name, res in driver.items():
        d_ok = bool(res.get("hash_match")) and res.get("err") is None
        l_ok = name in local_ok
        if d_ok != l_ok:
            disagreements.append(
                (name, "driver only" if d_ok else "local gate only")
            )
    if not disagreements:
        print(f"agreement on all {len(names)} driver-checked queries")
        return 0
    print(f"{len(disagreements)} DISAGREEMENTS (see module docstring for triage):")
    for name, side in disagreements:
        print(f"  {name}: green on {side}")
    return 1


if __name__ == "__main__":
    raise SystemExit(main())
