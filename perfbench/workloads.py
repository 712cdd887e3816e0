"""The benchmark's workloads: one untraced iteration, its output check
against an oracle, and a traced pass that calls each layer's public
functions on materialized inputs.

Output checks never run inside a timed region.  ``check`` returns the
number of failed units (iterations for ``radolan_day``, query executions
for ``library_mix``) and records a short reason for each.
"""

from __future__ import annotations

import importlib.util
import math
import os
import shutil
import time

import duckdb
import pyarrow.parquet as pq

from pyspark import StorageLevel
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from inputs import CELL, END, LIBRARY_TABLES, START, X0, Y0, RadolanSize, ts_stamp
from tracing import LayerTracer, timed

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# query -> the radohydro_spark.operators module that does its work
LIBRARY_QUERIES = {
    "dq_ks_drift": "profile",
    "dq_ks_drift_by": "profile",
    "dedup_minhash_lsh_pairs": "dedup",
    "sample_dsir_weights": "sampling",
    "stats_bootstrap_ci": "aggregate",
    "stats_heavy_hitters": "sketch",
    "text_bm25_topk": "retrieval",
    "events_concurrency_sweep": "intervals",
}
SMOKE_QUERIES = ["stats_heavy_hitters", "events_concurrency_sweep"]

QUERIES_LAYER = "operators.queries"


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _same(got: float | None, want: float | None) -> bool:
    # both sides round to 3 decimals; allow one unit of that rounding so a
    # summation-order difference at a ...5 boundary is not a failure
    if got is None or want is None:
        return got is None and want is None
    return abs(got - want) <= 1e-3 + 1e-9


class RadolanDay:
    """``radohydro_run`` over an hourly ESRI-ASCII mirror: per-basin CSVs
    plus the wide GeoParquet, checked cell for cell against the DuckDB
    closed-form oracle of ``oracle_base_ctes``."""

    def __init__(self, spark: SparkSession, inp: dict, work: str):
        import pandas as pd

        from radohydro_spark.geometry.wkb import wkb_box
        from radohydro_spark.schemas import BASINS_SCHEMA

        self.spark = spark
        self.mirror = inp["mirror"]
        self.size = RadolanSize(**inp["size"])
        self.rects = [tuple(r) for r in inp["rects"]]
        self.out = os.path.join(work, "out")
        self.basins = spark.createDataFrame(
            pd.DataFrame(
                {
                    "basin_id": [int(r[0]) for r in self.rects],
                    "geom": [
                        wkb_box(X0 + l, Y0 + b, X0 + r, Y0 + t)
                        for _, l, b, r, t in self.rects
                    ],
                }
            ),
            schema=BASINS_SCHEMA,
        )
        self.expected = self._oracle()
        self.problems: list[str] = []

    def _oracle(self) -> dict[tuple[int, str], float | None]:
        from radohydro_spark.sources.synthetic import GridSpec, oracle_base_ctes

        n = self.size.n_cells
        g = GridSpec(n_rows=n, n_cols=n, x0=X0, y0=Y0, cell=CELL, n_ts=self.size.n_ts)
        sql = oracle_base_ctes(g, rects=self.rects) + "SELECT basin_id, h, rainfall_mm FROM res"
        with duckdb.connect() as con:
            rows = con.execute(sql).fetchall()
        return {(int(b), ts_stamp(h)): v for b, h, v in rows}

    def reset(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)

    def run(self) -> Exception | None:
        from radohydro_spark.plans.pipeline import radohydro_run

        try:
            radohydro_run(self.spark, START, END, self.basins, self.mirror, self.out)
        except Exception as exc:  # noqa: BLE001 - a failing iteration is counted, not fatal
            return exc
        return None

    def release(self) -> None:
        from radohydro_spark.plans.pipeline import release_persisted

        release_persisted()

    def check(self, error: Exception | None = None) -> tuple[int, int]:
        """(attempted, failed) for the iteration whose outputs are in out/."""
        try:
            if error is not None:
                bad = [f"{type(error).__name__}: {error}"[:300]]
            else:
                bad = self._csv_problems() + self._wide_problems()
        except (OSError, ValueError, KeyError, IndexError) as exc:
            bad = [f"unreadable output: {exc!r}"]
        self.problems += bad[:3]
        self.reset()
        return 1, int(bool(bad))

    def _csv_problems(self) -> list[str]:
        width = max(1, math.ceil(math.log10(len(self.rects) + 1)))
        want = {f"basin_{str(r[0]).zfill(width)}.csv": r for r in self.rects}
        got = {f for f in os.listdir(self.out) if f.endswith(".csv")}
        if got != set(want):
            return [f"csv files {sorted(got ^ set(want))[:3]} differ"]
        bad = []
        for fname, (bid, l, b, r, t) in want.items():
            with open(os.path.join(self.out, fname)) as f:
                lines = f.read().splitlines()
            padded = str(bid).zfill(width)
            area = float(lines[1].split(",")[1])
            if lines[0] != f"basinID,{padded}" or not math.isclose(area, (r - l) * (t - b)):
                bad.append(f"{fname}: header {lines[:2]}")
            if lines[2] != "Time[yymmddhhmm],rainfall[mm]":
                bad.append(f"{fname}: column header {lines[2]!r}")
            rows = [line.split(",") for line in lines[3:]]
            stamps = [ts_stamp(h) for h in range(self.size.n_ts)]
            if [s for s, _ in rows] != stamps:
                bad.append(f"{fname}: time stamps {[s for s, _ in rows][:3]}...")
                continue
            for stamp, v in rows:
                want_v = self.expected[(bid, stamp)]
                if not _same(float(v) if v else None, want_v):
                    bad.append(f"{fname} {stamp}: {v!r} != {want_v!r}")
        return bad

    def _wide_problems(self) -> list[str]:
        rows = pq.read_table(os.path.join(self.out, "basins_wide.parquet")).to_pylist()
        if sorted(r["basin_id"] for r in rows) != sorted(int(r[0]) for r in self.rects):
            return ["wide table basin ids differ"]
        return [
            f"wide basin {row['basin_id']} {stamp}: {row[stamp]!r} != {want!r}"
            for row in rows
            for stamp in (ts_stamp(h) for h in range(self.size.n_ts))
            if not _same(row[stamp], want := self.expected[(row["basin_id"], stamp)])
        ]

    def traced(self, tr: LayerTracer) -> tuple[dict[str, float], None]:
        """One pass through the pipeline, layer by layer; its sinks write
        the same outputs ``check`` reads."""
        from radohydro_spark.operators.aggregate import weighted_basin_timeseries
        from radohydro_spark.operators.spatial import (
            basin_bounds,
            buffered_clip_window,
            create_cell_grid,
            spatial_intersect,
            window_predicate,
        )
        from radohydro_spark.operators.weights import apply_nan_policy, basin_weights
        from radohydro_spark.plans.pipeline import precip_timeseries
        from radohydro_spark.sinks import write_basin_csvs, write_wide_geoparquet
        from radohydro_spark.sources.ascii_grid import decode_ascii_grids, grid_meta
        from radohydro_spark.sources.manifest import filter_members_by_range, local_manifest

        spark, m, cached = self.spark, {}, []
        self.reset()

        def layer(name: str, gids: list[str], wall: float) -> None:
            for k, v in tr.stage_totals(gids, wall).items():
                m[f"{name}.{k}"] = v

        def keep(df):
            cached.append(df)
            return df.persist(StorageLevel.MEMORY_AND_DISK)

        with tr.group("sources.manifest") as g:
            t0 = time.perf_counter()
            man = keep(
                filter_members_by_range(local_manifest(spark, self.mirror), START, END, "minutes")
            )
            row = man.agg(F.count("*").alias("n"), F.sum(F.length("payload")).alias("b")).first()
            layer("sources.manifest", [g], time.perf_counter() - t0)
        m["sources.manifest.members"], m["sources.manifest.bytes"] = row["n"], row["b"]

        with tr.group("sources.ascii_grid") as g:
            sample, probe_s = timed(lambda: man.select("payload").first())
            meta = grid_meta(bytes(sample["payload"]))
            obs = keep(decode_ascii_grids(man, "minutes"))
            rows, decode_s = timed(obs.count)
            layer("sources.ascii_grid", [g], probe_s + decode_s)
        m["sources.ascii_grid.probe_s"] = probe_s
        m["sources.ascii_grid.decode_s"] = decode_s
        m["sources.ascii_grid.rows"] = rows

        gm = (meta["ulx"], meta["uly"], meta["xres"], meta["yres"])
        with tr.group("operators.spatial") as g:
            t0 = time.perf_counter()
            cells = create_cell_grid(
                spark, meta["n_rows"], meta["n_cols"], meta["ulx"], meta["uly"],
                meta["xres"], meta["yres"],
            )
            window = buffered_clip_window(
                basin_bounds(self.basins), meta["ulx"], meta["uly"], meta["xres"],
                meta["yres"], meta["n_rows"], meta["n_cols"],
            )
            window_s = time.perf_counter() - t0
            cells = cells.filter(window_predicate(window))
            jobs_before = len(tr.jobs(g))
            t1 = time.perf_counter()
            frags = spatial_intersect(cells, self.basins, grid_meta=gm)
            eager = len(tr.jobs(g)) - jobs_before
            frags = keep(frags)
            n_frags = frags.count()
            intersect_s = time.perf_counter() - t1
            layer("operators.spatial", [g], window_s + intersect_s)
        m["operators.spatial.window_s"] = window_s
        m["operators.spatial.intersect_s"] = intersect_s
        m["operators.spatial.fragments"] = n_frags
        m["operators.spatial.eager_jobs"] = eager

        # the composed plan: its first action fills the pipeline's pruned-obs
        # persist, a second action reads it back; the difference is the fill
        with tr.group("plans.pipeline") as g:
            t0 = time.perf_counter()
            result = precip_timeseries(obs, cells, self.basins, clip_window=window, grid_meta=gm)
            result.write.format("noop").mode("overwrite").save()
            first = time.perf_counter() - t0
            layer("plans.pipeline", [g], first)
        with tr.group("plans.pipeline.reread"):
            _, second = timed(lambda: result.write.format("noop").mode("overwrite").save())
        m["plans.pipeline.prune_fill_s"] = max(first - second, 0.0)

        # the aggregate's inputs, materialized outside any layer
        frag_cells = frags.select("cell_row", "cell_col").distinct()
        pruned = keep(
            obs.filter(window_predicate(window)).join(
                F.broadcast(frag_cells), ["cell_row", "cell_col"], "left_semi"
            )
        )
        m["plans.pipeline.prune_ratio"] = pruned.count() / rows

        with tr.group("operators.weights") as g:
            weighted, s = timed(
                lambda: keep(basin_weights(apply_nan_policy(frags, pruned, pruned=True)))
            )
            _, s2 = timed(weighted.count)
            layer("operators.weights", [g], s + s2)

        with tr.group("operators.aggregate") as g:
            t0 = time.perf_counter()
            agg = weighted_basin_timeseries(pruned, weighted)
            m["operators.aggregate.rows"] = agg.count()
            layer("operators.aggregate", [g], time.perf_counter() - t0)

        sink_input = keep(result)
        sink_input.count()
        with tr.group("sinks") as g:
            files, csv_s = timed(lambda: write_basin_csvs(sink_input, self.basins, self.out))
            wide = os.path.join(self.out, "basins_wide.parquet")
            _, wide_s = timed(lambda: write_wide_geoparquet(sink_input, self.basins, wide))
            layer("sinks", [g], csv_s + wide_s)
        m["sinks.csv_s"], m["sinks.wide_s"] = csv_s, wide_s
        m["sinks.csv_files"] = len(files)
        m["sinks.csv_bytes"] = sum(os.path.getsize(f) for f in files)
        m["sinks.wide_bytes"] = _dir_bytes(wide)

        for df in cached:
            df.unpersist()
        self.release()
        return m, None


def _check_correctness():
    """scripts/check_correctness.py, for its canonical row form."""
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "scripts", "check_correctness.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class LibraryMix:
    """Declared queries back to back, each result collected and compared
    with its ``oracle_sql()`` in ``check_correctness``'s canonical form."""

    def __init__(self, spark: SparkSession, inp: dict, smoke: bool):
        import __spark_entry__ as entry

        self.spark = spark
        self.dir = inp["tables"]
        self.names = SMOKE_QUERIES if smoke else list(LIBRARY_QUERIES)
        queries, oracles = entry.queries(), entry.oracle_sql()
        self.fns = {n: queries[n] for n in self.names}
        self.cc = _check_correctness()
        self.expected = {}
        with duckdb.connect() as con:
            for t in LIBRARY_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            for n in self.names:
                cur = con.execute(oracles[n])
                self.expected[n] = self.cc.canon([d[0] for d in cur.description], cur.fetchall())
        self.problems: list[str] = []

    def reset(self) -> None:
        pass  # results are collected; nothing is written

    def _one(self, name: str):
        from radohydro_spark.plans.pipeline import release_persisted

        try:
            df = self.fns[name](self.spark, self.dir)
            return df.columns, [tuple(r) for r in df.collect()]
        except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
            return exc
        finally:
            release_persisted()

    def run(self) -> dict:
        return {n: self._one(n) for n in self.names}

    def release(self) -> None:
        pass  # each query releases its persists as it finishes

    def check(self, results: dict) -> tuple[int, int]:
        failed = 0
        for name, res in results.items():
            why = self._mismatch(name, res)
            if why:
                failed += 1
                self.problems.append(f"{name}: {why}"[:300])
        self.reset()
        return len(results), failed

    def _mismatch(self, name: str, res) -> str | None:
        if isinstance(res, Exception):
            return f"{type(res).__name__}: {res}"
        sc, sv = self.cc.canon(*res)
        oc, ov = self.expected[name]
        if sc != oc:
            return f"columns {sc} != {oc}"
        if not self.cc.values_match(sv, ov):
            return f"{len(sv)} rows differ from the oracle's {len(ov)}"
        return None

    def traced(self, tr: LayerTracer) -> tuple[dict[str, float], dict]:
        from radohydro_spark.plans.pipeline import release_persisted

        self.reset()
        m, gids, results, wall = {}, [], {}, 0.0
        for name in self.names:
            key = f"operators.{LIBRARY_QUERIES[name]}.{name}"
            with tr.group(key) as g:
                df, build_s = timed(lambda: self.fns[name](self.spark, self.dir))
                rows, exec_s = timed(lambda: [tuple(r) for r in df.collect()])
            release_persisted()
            results[name] = (df.columns, rows)
            m[f"{key}.build_s"], m[f"{key}.exec_s"] = build_s, exec_s
            gids.append(g)
            wall += build_s + exec_s
        for k, v in tr.stage_totals(gids, wall).items():
            m[f"{QUERIES_LAYER}.{k}"] = v
        return m, results
