"""Golden + oracle tests for the core precipitation pipeline.

Golden cases replicate the reference's debug fixtures' intent
(Examples/radohydro_debug1x3.shp, FIXTURES.md §2): hand-computable weighted
means on a 1x3 strip, NULL-policy outcomes, conservation properties.  The
oracle test cross-checks the full synthetic pipeline against DuckDB.
"""

from __future__ import annotations

import datetime as dt

import duckdb
import pytest
from pyspark.sql import functions as F

from radohydro_spark.geometry.wkb import wkb_box, wkb_polygon
from radohydro_spark.operators.spatial import create_cell_grid, spatial_intersect
from radohydro_spark.plans.pipeline import precip_timeseries
from radohydro_spark.schemas import BASINS_SCHEMA, OBS_SCHEMA
from radohydro_spark.sources.synthetic import (
    GRID,
    oracle_pipeline_sql,
    synthetic_basins,
    synthetic_cells,
    synthetic_obs,
)

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _strip_cells(spark):
    # 3 vertical cells like radohydro_debug1x3: 1000x1000, left=406000,
    # bottoms 5617800/5618800/5619800 (row 0 at bottom)
    return create_cell_grid(
        spark, 3, 1, ulx=406000.0, uly=5617800.0, xres=1000.0, yres=1000.0
    )


def _strip_obs(spark, values=(10.0, 20.0, 30.0)):
    rows = [(T0, r, 0, float(v)) for r, v in enumerate(values)]
    return spark.createDataFrame(rows, schema=OBS_SCHEMA)


def _basins(spark, rects):
    rows = [(bid, wkb_box(*r)) for bid, r in rects]
    return spark.createDataFrame(rows, schema=BASINS_SCHEMA)


def _run(obs, cells, basins, **kw):
    res = precip_timeseries(obs, cells, basins, **kw)
    return {
        (r["basin_id"], r["ts"]): r["rainfall_mm"] for r in res.collect()
    }


class TestDebug1x3:
    """FIXTURES.md §2.1 hand-computed goldens (values 10/20/30 = 1/2/3 mm)."""

    def test_basin_single_cell(self, spark):
        cells, obs = _strip_cells(spark), _strip_obs(spark)
        basins = _basins(
            spark, [(1, (406200.0, 5618000.0, 406800.0, 5618500.0))]
        )  # inside bottom cell only
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx(1.0)

    def test_basin_spanning_all_equally(self, spark):
        cells, obs = _strip_cells(spark), _strip_obs(spark)
        # covers the same x-slice of each of the 3 cells -> weights 1/3 each
        basins = _basins(spark, [(1, (406100.0, 5617800.0, 406900.0, 5620800.0))])
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx((1.0 + 2.0 + 3.0) / 3.0)

    def test_basin_quarter_half_quarter(self, spark):
        cells, obs = _strip_cells(spark), _strip_obs(spark)
        # covers bottom cell's top 500m, full middle, top cell's bottom 500m
        # raw weights: .5, 1, .5 -> normalized .25/.5/.25
        basins = _basins(spark, [(1, (406000.0, 5618300.0, 407000.0, 5620300.0))])
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx(0.25 * 1 + 0.5 * 2 + 0.25 * 3)

    def test_triangle_basin_weights(self, spark):
        cells, obs = _strip_cells(spark), _strip_obs(spark)
        # right triangle over the bottom two cells: vertices at
        # (406000,5617800),(407000,5617800),(406000,5619800) — area 1e6,
        # split 0.75/0.25 between bottom and middle cells
        tri = wkb_polygon(
            [[(406000.0, 5617800.0), (407000.0, 5617800.0), (406000.0, 5619800.0)]]
        )
        basins = spark.createDataFrame([(1, tri)], schema=BASINS_SCHEMA)
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx(0.75 * 1.0 + 0.25 * 2.0)

    def test_edge_renormalization(self, spark):
        cells, obs = _strip_cells(spark), _strip_obs(spark)
        # basin extends past the top of the grid; only the top cell's slice
        # is available -> weight renormalizes to 1 (V0.6 edge interpolation)
        basins = _basins(spark, [(1, (406000.0, 5620300.0, 407000.0, 5621800.0))])
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx(3.0)

    def test_uniform_rain_conservation(self, spark):
        cells = _strip_cells(spark)
        obs = _strip_obs(spark, values=(70.0, 70.0, 70.0))
        basins = _basins(
            spark,
            [
                (1, (406100.0, 5617900.0, 406500.0, 5620700.0)),
                (2, (406000.0, 5618300.0, 407000.0, 5619300.0)),
            ],
        )
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx(7.0)
        assert out[(2, T0)] == pytest.approx(7.0)


class TestNullPolicy:
    """FIXTURES.md §2.2 — A5 semantics."""

    def _obs_two_ts(self, spark):
        # 3 cells, 2 timesteps; middle cell NULL at t1 (dirty)
        t1 = T0 + dt.timedelta(hours=1)
        rows = [
            (T0, 0, 0, 10.0),
            (T0, 1, 0, 20.0),
            (T0, 2, 0, 30.0),
            (t1, 0, 0, 40.0),
            (t1, 1, 0, None),
            (t1, 2, 0, 60.0),
        ]
        return spark.createDataFrame(rows, schema=OBS_SCHEMA), t1

    def test_dirty_cell_dropped_and_renormalized(self, spark):
        cells = _strip_cells(spark)
        obs, t1 = self._obs_two_ts(spark)
        # basin covers all 3 cells equally; middle is dirty -> dropped,
        # weights renormalize to 1/2, 1/2 over bottom+top for ALL ts
        basins = _basins(spark, [(1, (406100.0, 5617800.0, 406900.0, 5620800.0))])
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx((1.0 + 3.0) / 2)
        assert out[(1, t1)] == pytest.approx((4.0 + 6.0) / 2)

    def test_all_dirty_basin_keeps_cells_null_result(self, spark):
        cells = _strip_cells(spark)
        obs, t1 = self._obs_two_ts(spark)
        # basin covers only the middle (dirty) cell
        basins = _basins(spark, [(1, (406200.0, 5619000.0, 406800.0, 5619500.0))])
        out = _run(obs, cells, basins)
        assert out[(1, T0)] == pytest.approx(2.0)  # clean at T0
        assert out[(1, t1)] is None  # NULL at t1

    def test_remove_nan_unconditional(self, spark):
        cells = _strip_cells(spark)
        obs, t1 = self._obs_two_ts(spark)
        basins = _basins(spark, [(1, (406200.0, 5619000.0, 406800.0, 5619500.0))])
        # remove_nan drops the only cell -> basin disappears from output
        out = _run(obs, cells, basins, remove_nan=True)
        assert out == {}


class TestSyntheticOracle:
    """Full pipeline vs DuckDB closed-form oracle (SURVEY.md §5.3)."""

    def test_matches_duckdb(self, spark):
        res = precip_timeseries(
            synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
        )
        got = {
            (r["basin_id"], r["ts"].strftime("%Y-%m-%d %H:%M:%S")): r["rainfall_mm"]
            for r in res.collect()
        }
        exp_rows = duckdb.sql(oracle_pipeline_sql(GRID)).fetchall()
        exp = {(b, ts): v for b, ts, v in exp_rows}
        assert set(got) == set(exp)
        for k in exp:
            if exp[k] is None:
                assert got[k] is None, k
            else:
                assert got[k] == pytest.approx(exp[k], abs=2e-3), k

    def test_fragment_count_positive(self, spark):
        frags = spatial_intersect(
            synthetic_cells(spark), synthetic_basins(spark)
        ).collect()
        assert len(frags) > 4
        by_basin = {}
        for f in frags:
            by_basin.setdefault(f["basin_id"], 0)
            by_basin[f["basin_id"]] += 1
        assert by_basin[1] == 1  # inside one cell
        assert by_basin[2] == 2  # straddles two cells


def test_gap_fill_linear_hand_computed(spark):
    from radohydro_spark.operators.aggregate import gap_fill_linear
    from pyspark.sql import functions as F

    rows = [
        (1, "2024-01-01 00:00:00", None),   # leading NULL: no extrapolation
        (1, "2024-01-01 01:00:00", 2.0),
        (1, "2024-01-01 02:00:00", None),   # interp 2.0 -> 8.0 at 1/3
        (1, "2024-01-01 04:00:00", 8.0),    # uneven spacing: 3h gap
        (1, "2024-01-01 05:00:00", None),   # trailing NULL
        (2, "2024-01-01 00:00:00", 5.0),    # other key untouched
    ]
    df = spark.createDataFrame(rows, "basin_id int, ts string, rainfall_mm double").select(
        "basin_id", F.to_timestamp("ts").alias("ts"), "rainfall_mm"
    )
    got = {
        (r.basin_id, str(r.ts)): (r.rainfall_mm, r.was_interpolated)
        for r in gap_fill_linear(df).collect()
    }
    assert got[(1, "2024-01-01 00:00:00")] == (None, False)
    assert got[(1, "2024-01-01 01:00:00")] == (2.0, False)
    v, flag = got[(1, "2024-01-01 02:00:00")]
    assert abs(v - 4.0) < 1e-9 and flag  # 2 + (8-2) * 1h/3h
    assert got[(1, "2024-01-01 05:00:00")] == (None, False)
    assert got[(2, "2024-01-01 00:00:00")] == (5.0, False)


def test_api_index_matches_recursion(spark):
    from pyspark.sql import functions as F

    from radohydro_spark.operators.aggregate import antecedent_precipitation_index

    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-01 01:00:00", 0.0),
        (1, "2024-01-01 02:00:00", None),   # gap hour: decay only
        (1, "2024-01-01 03:00:00", 5.0),
        (2, "2024-01-01 00:00:00", 7.0),
    ]
    df = spark.createDataFrame(rows, "basin_id int, ts string, rainfall_mm double").select(
        "basin_id", F.to_timestamp("ts").alias("ts"), "rainfall_mm"
    )
    got = {
        (r.basin_id, str(r.ts)): r.api
        for r in antecedent_precipitation_index(df, k=0.9).collect()
    }
    # direct recursion twin
    api = 0.0
    expect = {}
    for ts, p in [(r[1], r[2]) for r in rows if r[0] == 1]:
        api = 0.9 * api + (p or 0.0)
        expect[ts] = api
    for ts, v in expect.items():
        assert abs(got[(1, ts)] - v) < 1e-9
    assert abs(got[(2, "2024-01-01 00:00:00")] - 7.0) < 1e-9  # keys independent


def test_api_index_long_horizon_finite(spark):
    """r6 regression: the naive closed form computed k^(-hours) and
    overflowed float64 past ~6,700 hours at k=0.9 (silent inf/NaN).  The
    segmented-exponent rebase must stay finite AND exact at a 9,000-hour
    (>1-year hourly) horizon, including across a multi-segment data gap."""
    import numpy as np
    import pandas as pd

    from pyspark.sql import functions as F

    from radohydro_spark.operators.aggregate import antecedent_precipitation_index

    n = 9_000
    rng = np.random.RandomState(7)
    vals = rng.uniform(0.0, 5.0, n)
    vals[rng.rand(n) < 0.1] = np.nan
    ts = pd.date_range("2020-01-01", periods=n, freq="h")
    pdf = pd.DataFrame({"basin_id": 1, "ts": ts, "rainfall_mm": vals})
    gap = pdf[(pdf.index < 100) | (pdf.index > 8_000)].assign(basin_id=2)
    df = spark.createDataFrame(pd.concat([pdf, gap]))
    out = (
        antecedent_precipitation_index(df, k=0.9)
        .orderBy("basin_id", "ts")
        .toPandas()
    )

    def seq_api(sub):
        api, vals_out, prev = 0.0, [], None
        for t, p in zip(sub["ts"], sub["rainfall_mm"]):
            if prev is not None:
                api *= 0.9 ** ((t - prev).total_seconds() / 3600.0)
            api += 0.0 if pd.isna(p) else p
            vals_out.append(api)
            prev = t
        return np.array(vals_out)

    for key, src in ((1, pdf), (2, gap)):
        got = out[out.basin_id == key]["api"].to_numpy()
        ref = seq_api(src)
        assert len(got) == len(ref)
        assert np.isfinite(got).all(), f"key {key}: non-finite api"
        rel = np.abs(got - ref) / np.maximum(np.abs(ref), 1e-12)
        assert rel.max() < 1e-9, f"key {key}: max rel err {rel.max()}"


class TestFusedMembers:
    """``precip_from_members`` against ``precip_timeseries`` over
    ``decode_members`` on the same ESRI-ASCII members: same rows, same
    ``ts``, equal after rounding."""

    CELL = 1000.0
    # a 4 x 3 north-up grid; its upper-left corner
    ULX, ULY = 406000.0, 5622800.0

    def _meta(self, west_positive=False):
        if west_positive:  # column 0 at the EAST edge, columns run west
            return {"n_rows": 4, "n_cols": 3, "ulx": self.ULX + 3 * self.CELL,
                    "uly": self.ULY, "xres": -self.CELL, "yres": -self.CELL}
        return {"n_rows": 4, "n_cols": 3, "ulx": self.ULX, "uly": self.ULY,
                "xres": self.CELL, "yres": -self.CELL}

    def _member(self, grid):
        rows = [" ".join("-1" if v != v else str(int(v)) for v in row) for row in grid]
        head = (f"ncols {grid.shape[1]}\nnrows {grid.shape[0]}\nxllcorner {self.ULX}\n"
                f"yllcorner {self.ULY - grid.shape[0] * self.CELL}\n"
                f"cellsize {self.CELL}\nNODATA_value -1\n")
        return (head + "\n".join(rows)).encode("ascii")

    def _manifest(self, spark, n_ts=3, dirty=(), corrupt=False):
        """``n_ts`` hourly members; ``dirty`` holds (hour, row, col) NaN cells."""
        import numpy as np

        members = []
        for h in range(n_ts):
            grid = (np.arange(12, dtype="float64").reshape(4, 3) * 7 + h * 13) % 50
            for hh, r, c in dirty:
                if hh == h:
                    grid[r, c] = np.nan
            members.append((f"RW-20240101{h:02d}00.asc", bytearray(self._member(grid))))
        if corrupt:
            members.append(("RW-202401010500.asc", bytearray(b"ncols 3\nnrows 4\ngarbage")))
        return spark.createDataFrame(members, "fname string, payload binary")

    def _basins(self, spark):
        x, y, c = self.ULX, self.ULY, self.CELL
        return _basins(spark, [
            # cells (row 0, cols 0-1) + a 40% sliver of (row 1, cols 0-1)
            (1, (x + 100.0, y - 1400.0, x + 1900.0, y)),
            # inside cell (row 2, col 2) only
            (2, (x + 2 * c + 200.0, y - 3 * c + 200.0, x + 3 * c - 200.0, y - 2 * c - 200.0)),
            # the whole grid, and past its west edge
            (3, (x - 500.0, y - 4 * c, x + 3 * c, y)),
        ])

    def _both(self, spark, manifest, basins, meta):
        from radohydro_spark.plans.pipeline import precip_from_members
        from radohydro_spark.sources.ascii_grid import CODEC, decode_ascii_grids

        gm = (meta["ulx"], meta["uly"], meta["xres"], meta["yres"])
        fused = precip_from_members(manifest, CODEC, meta, basins, "minutes")
        cells = create_cell_grid(spark, meta["n_rows"], meta["n_cols"], *gm)
        generic = precip_timeseries(
            decode_ascii_grids(manifest, "minutes"), cells, basins, grid_meta=gm
        )
        as_dict = lambda df: {(r.basin_id, r.ts): r.rainfall_mm for r in df.collect()}  # noqa: E731
        got, want = as_dict(fused), as_dict(generic)
        assert got == want
        return got

    def test_partly_dirty_basin(self, spark):
        # basin 1's cell (0, 0) is NaN at hour 1: dropped at every hour,
        # the weights renormalize over its clean cells
        got = self._both(spark, self._manifest(spark, dirty=[(1, 0, 0)]),
                         self._basins(spark), self._meta())
        assert len(got) == 9 and all(v is not None for v in got.values())

    def test_all_dirty_basin_null_rows(self, spark):
        # basin 2's only cell (2, 2) is NaN at hour 2: kept, NULL at hour 2
        got = self._both(spark, self._manifest(spark, dirty=[(2, 2, 2)]),
                         self._basins(spark), self._meta())
        assert got[(2, T0 + dt.timedelta(hours=2))] is None
        assert got[(2, T0)] is not None

    def test_west_positive_grid(self, spark):
        got = self._both(spark, self._manifest(spark, dirty=[(1, 0, 0)]),
                         self._basins(spark), self._meta(west_positive=True))
        assert {b for b, _ in got} == {1, 2, 3}

    def test_empty_date_range(self, spark):
        from radohydro_spark.sources.manifest import filter_members_by_range

        manifest = filter_members_by_range(
            self._manifest(spark), "2023-01-01 00:00:00", "2023-01-02 00:00:00", "minutes"
        )
        assert self._both(spark, manifest, self._basins(spark), self._meta()) == {}

    def test_corrupt_member_raises(self, spark):
        from radohydro_spark.plans.pipeline import precip_from_members
        from radohydro_spark.sources.ascii_grid import CODEC

        manifest = self._manifest(spark, corrupt=True)
        with pytest.raises(Exception, match="undecodable ASCII grid member RW-202401010500"):
            precip_from_members(
                manifest, CODEC, self._meta(), self._basins(spark), "minutes"
            ).collect()
