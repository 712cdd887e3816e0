"""Event-time family soak: streaming window sketches and the as-of join
at many-windows / many-rows scale, each against a closed form.

* stream_kmv, the engine's only Python-STATE streaming operator
  (applyInPandasWithState bottom-k), keeps state ≤ windows·k longs BY
  CONSTRUCTION: with THOUSANDS of windows, the bottom-16 of each
  window's distinct emitted hashes must equal the python replay (the
  bottom-16 md5 prefixes of the window's keys) on sampled windows.
  Snapshots are monotone-downward supersets of the final sketch, so
  never assert on the raw union, which exceeds k once a drain spans
  several micro-batches.
* stream_psi_buckets, a conditional-count window aggregate, emits
  exactly n_buckets rows per window, whose counts sum to the window's n.
* stream_key_counts + top_k_slice: drained rows stay within
  windows·|domain| (the state bound made visible), and the planted hot
  key ranks 1 in every window.
* asof_join_nearest: right rows on an exact 100 s grid, left rows at
  +30 s offsets, so the PRIOR side is nearer everywhere and ts_asof is
  the grid floor for every row; wall/shuffle ~linear in |L|+|R| (the
  one-exchange dual-window plan).

    python scripts/soak_event_time.py
"""

from __future__ import annotations

import datetime
import hashlib
import tempfile
import uuid

from pyspark.sql import functions as F

from soak import grow, session

BASE = datetime.datetime(2024, 1, 1)


def main() -> None:
    from radohydro_spark.operators.asof import asof_join_nearest
    from radohydro_spark.streaming import (
        run_available_now,
        stream_key_counts,
        stream_kmv,
        stream_psi_buckets,
        top_k_slice,
    )

    spark, tr = session("soak_event_time")

    def hourly(n_win, rows_per, col, schema):
        """A replayable stream of ``n_win`` hourly windows × ``rows_per`` rows."""
        src = tempfile.mkdtemp(prefix="soak_stream_src_")
        ts = F.lit(BASE) + F.make_interval(hours=(F.col("id") / rows_per).cast("int"))
        spark.range(n_win * rows_per).select(ts.alias("ts"), col).write.parquet(src, "overwrite")
        return spark.readStream.schema(f"ts timestamp, {schema}").parquet(src)

    def drain(df, mode):
        name, checkpoint = "soak_" + uuid.uuid4().hex[:8], tempfile.mkdtemp(prefix="ck_")
        return run_available_now(df, name, checkpoint, mode)

    # the sources are written before the measured drains
    kmv_key = F.expr("CAST(id % 97 + (id div 7) % 293 AS STRING)").alias("k")
    src = {nw: hourly(nw, 400, kmv_key, "k string") for nw in (500, 2_000)}

    def kmv(nw):
        return drain(stream_kmv(src[nw], "ts", "k", "1 hour", k=16, watermark="1 hour"), "update")

    def kmv_check(rows, n_win):
        raw: dict = {}
        for r in rows:
            raw.setdefault(r.ts, set()).add(r.hv)
        per_w = {w: set(sorted(v)[:16]) for w, v in raw.items()}
        assert len(per_w) == n_win and all(len(v) <= 16 for v in per_w.values()), len(per_w)
        for wi in range(0, n_win, max(1, n_win // 7)):
            keys = {str(i % 97 + (i // 7) % 293) for i in range(wi * 400, (wi + 1) * 400)}
            want = set(sorted(int(hashlib.md5(k.encode()).hexdigest()[:8], 16) for k in keys)[:16])
            assert per_w[BASE + datetime.timedelta(hours=wi)] == want, wi
        return {"rows": n_win * 400, "emitted_rows": len(rows), "bound_rows": n_win * 16}

    grow(tr, "stream_kmv {} windows", kmv, kmv_check, (500, 2_000))

    psi_v = ((F.col("id") * 37) % 140 - 20).cast("double").alias("v")
    src = {nw: hourly(nw, 400, psi_v, "v double") for nw in (500, 2_000)}

    def psi(nw):
        buckets = stream_psi_buckets(
            src[nw], "ts", "v", "1 hour", 0, 100, 5, [1, 2, 3, 2, 2], watermark="1 hour"
        )
        return drain(buckets, "complete")

    def psi_check(rows, n_win):
        per_w: dict = {}
        for r in rows:
            per_w.setdefault(r.ts, []).append(r)
        assert len(per_w) == n_win and all(len(v) == 5 for v in per_w.values())
        assert all(sum(r.n_bucket for r in rs) == rs[0].n for rs in per_w.values())
        return {"rows": n_win * 400, "emitted_rows": len(rows), "bound_rows": n_win * 5}

    grow(tr, "stream_psi {} windows", psi, psi_check, (500, 2_000))

    # n_win × 4000 rows; key 0 planted 3× hot inside each window
    hot = F.when(F.col("id") % 4 < 2, F.lit(0)).otherwise(F.col("id") % 20)
    src = {nw: hourly(nw, 4000, hot.cast("string").alias("k"), "k string") for nw in (500, 1_000)}

    def top_k(n_win):
        counts = stream_key_counts(src[n_win], "ts", "k", "1 hour", watermark="1 hour")
        out = drain(counts, "complete")
        assert out.count() <= n_win * 19, "state bound violated"
        return top_k_slice(out, k=3)

    def top_k_check(rows, _):
        by_w: dict = {}
        for r in rows:
            by_w.setdefault(r.ts, []).append(r)
        assert all(min(rs, key=lambda r: r.rank).value == "0" for rs in by_w.values())
        return {"rows_out": len(rows)}

    grow(tr, "stream_top_k {} windows x 4000 rows", top_k, top_k_check, (500, 1_000))

    def asof(n_right, n_keys=10_000):  # |L| = 2|R|
        grid = lambda secs: F.lit(BASE) + F.make_interval(secs=secs)  # noqa: E731
        right = spark.range(n_right).select(
            (F.col("id") % n_keys).alias("k"),
            grid((F.col("id") / n_keys).cast("long") * 100).alias("ts"),
            F.col("id").alias("tag"),
        )
        step = (F.col("id") / n_keys).cast("long") % (n_right // n_keys)
        left = spark.range(2 * n_right).select(
            F.col("id").alias("lid"),
            (F.col("id") % n_keys).alias("k"),
            grid(step * 100 + 30).alias("ts"),
        )
        return asof_join_nearest(left, right, ["k"], ts_col="ts").select(
            "lid", F.unix_micros("ts").alias("lt"), F.unix_micros("ts_asof").alias("mt"))

    def asof_check(rows, _):  # left at grid+30 s: the prior match (30 s) beats the next (70 s)
        assert all(r.mt == r.lt - 30_000_000 for r in rows[:10000]), rows[:3]
        return {"rows_out": len(rows)}

    grow(tr, "asof_nearest {} right rows x 10k keys", asof, asof_check, (1_000_000, 2_000_000))


if __name__ == "__main__":
    main()
