"""Interleaved cold A/B of operator persists: with ``release_persisted()``
after every repetition, each repetition pays the cache FILL, so the
question is "does persist+fill beat recompute, cold?".

Both arms run interleaved in ONE session.  The "off" arm patches
``DataFrame.cache``/``persist`` to identity for the duration of the
build+run; for the default queries the operator persist is the only
persist in the plan, so the patch removes exactly the candidate persist.
Spark 4 local sessions instantiate the classic ``DataFrame`` subclass,
which overrides ``cache``/``persist``, so that class is the one patched
(patching ``pyspark.sql.DataFrame`` silently does nothing).

    python scripts/ab_persists.py [sf_dir] [reps] [q1,q2,...]
"""

from __future__ import annotations

import sys

from pyspark.sql.classic.dataframe import DataFrame

from soak import SF_DIR, measure, noop, session

DEFAULT = "orders_market_basket,text_tfidf_cosine_pairs,sample_dsir_weights"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    names = (sys.argv[3] if len(sys.argv) > 3 else DEFAULT).split(",")
    import __spark_entry__ as entry

    spark, tr = session("ab_persists")
    qs = entry.queries()
    real = DataFrame.cache, DataFrame.persist

    def run_once(name: str, arm: str, rep: int) -> float:
        if arm == "off":
            DataFrame.cache = lambda self: self
            DataFrame.persist = lambda self, *a, **k: self
        try:
            sink = lambda: noop(qs[name](spark, sf_dir))  # noqa: E731
            return measure(tr, f"{name} persist={arm} rep{rep}", sink)[1]["s"]
        finally:
            DataFrame.cache, DataFrame.persist = real

    walls: dict[tuple[str, str], list[float]] = {}
    for rep in range(reps + 1):  # rep0 is the codegen warm-up of both arms
        for name in names:
            for arm in ("on", "off"):
                s = run_once(name, arm, rep)
                if rep:
                    walls.setdefault((name, arm), []).append(s)
    for name in names:
        on, off = (min(walls[(name, a)]) for a in ("on", "off"))
        verdict = "KEEP persist" if on <= off * 1.10 else "REVERT persist"
        print(f"{name:28s} cold min on {on:.3f}s  off {off:.3f}s  ratio {on / off:.2f}"
              f"  -> {verdict}")


if __name__ == "__main__":
    main()
