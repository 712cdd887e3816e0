"""Decoder + manifest tests with golden byte fixtures (FIXTURES.md §3)."""

from __future__ import annotations

import datetime as dt
import gzip
import io
import math
import tarfile

import numpy as np
import pytest

from radohydro_spark.functions.temporal import date_range
from radohydro_spark.schemas import MANIFEST_SCHEMA
from radohydro_spark.sources.ascii_grid import (
    decode_ascii_grids,
    grid_meta,
    parse_ascii_grid,
)
from radohydro_spark.sources.manifest import (
    expand_tars,
    filter_members_by_range,
    listing_manifest,
    prune_by_dates,
)
from radohydro_spark.sources.regnie import (
    decode_regnie_day,
    parse_regnie_line_compat,
    parse_regnie_line_fixed,
)

ASC_3x3 = b"""ncols 3
nrows 3
xllcorner 406000
yllcorner 5617800
cellsize 1000
NODATA_value -1
1 2 3
4 -1 6
7 8 9
"""


def _manifest(spark, rows):
    return spark.createDataFrame(
        [(f, None, "recent", p) for f, p in rows], schema=MANIFEST_SCHEMA
    )


class TestAsciiGrid:
    def test_parse_header_and_nodata(self):
        header, data = parse_ascii_grid(ASC_3x3)
        assert header["ncols"] == 3 and header["nrows"] == 3
        assert data.shape == (3, 3)
        assert math.isnan(data[1, 1])
        assert data[0, 0] == 1.0 and data[2, 2] == 9.0

    def test_grid_meta_north_up(self):
        meta = grid_meta(ASC_3x3)
        assert meta["uly"] == 5617800 + 3 * 1000
        assert meta["yres"] == -1000

    def test_decode_to_long(self, spark):
        m = _manifest(spark, [("RW-20240101-0150.asc", ASC_3x3)])
        obs = decode_ascii_grids(m, date_type="minutes")
        rows = {(r["cell_row"], r["cell_col"]): r for r in obs.collect()}
        assert len(rows) == 9
        assert rows[(0, 0)]["value"] == 1.0
        assert rows[(1, 1)]["value"] is None  # nodata -> NULL
        assert rows[(0, 0)]["ts"] == dt.datetime(2024, 1, 1, 1, 50)

    def test_decode_stamps_each_member_once(self, spark):
        """Every cell of a member carries that member's stamp."""
        m = _manifest(
            spark, [("RW-20240101-0150.asc", ASC_3x3), ("RW-20240102-2300.asc", ASC_3x3)]
        )
        stamps = [r["ts"] for r in decode_ascii_grids(m, date_type="minutes").collect()]
        assert sorted(stamps) == (
            [dt.datetime(2024, 1, 1, 1, 50)] * 9 + [dt.datetime(2024, 1, 2, 23, 0)] * 9
        )


class TestRegnie:
    def _line(self, vals, width=4):
        return "".join(f"{v:>{width}d}" for v in vals)

    def test_fixed_width_normal(self):
        line = self._line([5, 23, 999, -999, 0])
        arr = parse_regnie_line_fixed(line, no_per_line=5)
        assert arr.tolist() == [5, 23, 999, -999, 0]

    def test_fixed_width_fused_values(self):
        # 1234 fills its field completely -> fuses with neighbors
        line = self._line([12, 1234, 56])
        assert "  121234  56" == line
        arr = parse_regnie_line_fixed(line, no_per_line=3)
        assert arr.tolist() == [12, 1234, 56]

    def test_compat_heuristic_matches_fixed_on_conforming_input(self):
        # Cases satisfying the reference's stated assumptions
        # (radohydro.py:99-101: fused neighbors of >1000 values are
        # 3-digit), where the repair branches recover the truth
        # (radohydro.py:124-137)
        cases = [
            [1234, 5678],  # len%4==0 chunking
            [999, 1234],  # 3-digit then 4-digit -> first-3 branch
            [-999, 1234],  # minus-split then chunk
            [1234, -999],  # splits cleanly after '-' spacing
        ]
        for vals in cases:
            line = self._line(vals)
            fixed = parse_regnie_line_fixed(line, no_per_line=len(vals))
            compat = parse_regnie_line_compat(line, no_per_line=len(vals))
            assert fixed.tolist() == compat.tolist(), vals

    def test_compat_heuristic_divergence_pinned(self):
        # Input violating the reference's assumption (2-digit neighbor
        # fused with a 4-digit value): fixed-width parses the truth; the
        # reference heuristic mis-chunks via its last-3-digits branch
        # (radohydro.py:129-132).  Pinned so the divergence is explicit.
        line = self._line([12, 1234, 56])
        assert parse_regnie_line_fixed(line, no_per_line=3).tolist() == [12, 1234, 56]
        assert parse_regnie_line_compat(line, no_per_line=3).tolist() == [234, 121, 56]

    def test_decode_day_gz(self):
        lines = [self._line([10, -999, 30]), self._line([40, 50, 60]), "meta"]
        payload = gzip.compress("\n".join(lines).encode())
        data = decode_regnie_day(payload, no_per_line=3)
        assert data.shape == (2, 3)
        assert math.isnan(data[0, 1])
        assert data[1, 2] == 60.0

    def test_decode_day_vectorized_matches_per_line(self):
        """The whole-file frombuffer fast path must be byte-equivalent to
        the per-line authoritative parse, and ragged input (short last
        line) must fall back to it rather than mis-reshape."""
        import numpy as np

        from radohydro_spark.sources.regnie import parse_regnie_line_fixed

        vals = [[(r * 31 + c * 17) % 120 if (r + c) % 7 else -999
                 for c in range(11)] for r in range(9)]
        lines = [self._line(row) for row in vals] + ["meta"]
        payload = gzip.compress("\n".join(lines).encode())
        fast = decode_regnie_day(payload, no_per_line=11)
        slow = np.vstack([parse_regnie_line_fixed(l, 11) for l in lines[:-1]])
        slow = np.where(slow == -999.0, np.nan, slow)
        assert fast.shape == (9, 11)
        np.testing.assert_array_equal(fast, slow)

        ragged = lines[:3] + [lines[3][:-4]] + lines[4:]  # short line 3
        data = decode_regnie_day(gzip.compress("\n".join(ragged).encode()),
                                 no_per_line=11)
        assert data.shape == (9, 11)
        assert math.isnan(data[3, 10])  # missing trailing field -> NaN


class TestManifest:
    def _tar_bytes(self, members: dict[str, bytes]) -> bytes:
        buf = io.BytesIO()
        with tarfile.open(fileobj=buf, mode="w") as tar:
            for name, blob in members.items():
                info = tarfile.TarInfo(name)
                info.size = len(blob)
                tar.addfile(info, io.BytesIO(blob))
        return buf.getvalue()

    def test_prune_by_dates_daily(self, spark):
        m = listing_manifest(
            spark,
            ["RW-20240101.tar", "RW-20240102.tar", "RW-20240301.tar"],
        )
        dates = date_range(spark, "2024-01-01", "2024-01-31")
        kept = [r["fname"] for r in prune_by_dates(m, dates).collect()]
        assert sorted(kept) == ["RW-20240101.tar", "RW-20240102.tar"]

    def test_prune_by_dates_monthly(self, spark):
        m = listing_manifest(spark, ["RW-202401.tar", "RW-202403.tar"])
        dates = date_range(spark, "2024-01-01", "2024-02-15")
        kept = [r["fname"] for r in prune_by_dates(m, dates, monthly=True).collect()]
        assert kept == ["RW-202401.tar"]

    def test_expand_tars_flat_and_nested(self, spark):
        inner = self._tar_bytes(
            {"RW-2024010100.asc": b"a", "RW-2024010101.asc": b"b"}
        )
        outer = self._tar_bytes({"daily-20240101.tar": inner, "readme.txt": b"x"})
        m = _manifest(spark, [("monthly.tar", outer)])
        out = {r["fname"]: bytes(r["payload"]) for r in expand_tars(m, nested=True).collect()}
        assert out == {
            "RW-2024010100.asc": b"a",
            "RW-2024010101.asc": b"b",
            "readme.txt": b"x",
        }

    def test_member_date_filter(self, spark):
        m = listing_manifest(
            spark, ["RW-20240101.asc", "RW-20240105.asc", "RW-20240301.asc"]
        )
        kept = [
            r["fname"]
            for r in filter_members_by_range(
                m, "2024-01-01", "2024-01-31", "days"
            ).collect()
        ]
        assert sorted(kept) == ["RW-20240101.asc", "RW-20240105.asc"]


class TestEndToEndDecode:
    def test_tar_to_pipeline(self, spark):
        """Archive → expand → decode → obs matches direct parse."""
        tar = TestManifest()._tar_bytes(
            {"RW-20240101-0050.asc": ASC_3x3, "RW-20240101-0150.asc": ASC_3x3}
        )
        m = _manifest(spark, [("RW-20240101.tar", tar)])
        obs = decode_ascii_grids(expand_tars(m), date_type="minutes")
        assert obs.count() == 18
        assert obs.select("ts").distinct().count() == 2


def _geotiff_3x3() -> bytes:
    from radohydro_spark.sources.geotiff import encode_geotiff

    grid = np.arange(1.0, 10.0).reshape(3, 3)
    return encode_geotiff(grid, 0.0, 3.0, 1.0, -1.0)


@pytest.mark.parametrize("fmt", ["ascii", "geotiff"])
def test_decode_permissive_skips_corrupt_member(spark, fmt):
    from radohydro_spark.sources.ascii_grid import decode_ascii_grids
    from radohydro_spark.sources.geotiff import decode_geotiffs

    decode, good = {
        "ascii": (decode_ascii_grids, ASC_3x3),
        "geotiff": (decode_geotiffs, _geotiff_3x3()),
    }[fmt]
    manifest = _manifest(
        spark,
        [(f"RW-20240101-0000.{fmt}", good), (f"RW-20240101-0100.{fmt}", b"not a grid")],
    )
    ok = decode(manifest, "minutes", permissive=True)
    assert ok.count() == 9  # corrupt member skipped, good one decoded
    strict = decode(manifest, "minutes", permissive=False)
    with pytest.raises(Exception, match="undecodable"):
        strict.count()


def test_pyds_grid_source_matches_synthetic_obs(spark):
    from pyspark.sql import functions as F

    from radohydro_spark.sources.pyds import RadohydroGridDataSource
    from radohydro_spark.sources.synthetic import GRID, synthetic_obs

    spark.dataSource.register(RadohydroGridDataSource)
    src = (
        spark.read.format("radohydro_grid")
        .option("n_rows", GRID.n_rows)
        .option("n_cols", GRID.n_cols)
        .option("n_ts", GRID.n_ts)
        .option("t0", GRID.t0)
        .option("n_bands", 3)
        .load()
    )
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in synthetic_obs(spark).collect()}
    assert a == b  # row-for-row identical to the expression-built twin
    # partition planning: bands are real splits
    assert src.rdd.getNumPartitions() == 3


def test_pyds_shard_sink_manifest_and_idempotence(spark, tmp_path):
    import json

    from pyspark.sql import functions as F

    from radohydro_spark.sources.pyds import ShardStoreDataSource

    spark.dataSource.register(ShardStoreDataSource)
    df = spark.range(100).select(
        F.col("id").alias("doc_id"), (F.col("id") % 3).alias("grp")
    )
    store = str(tmp_path / "store")
    df.repartition(4, "doc_id").write.format("radohydro_shards").option(
        "path", store
    ).mode("append").save()
    manifest = json.loads((tmp_path / "store" / "_MANIFEST.json").read_text())
    assert manifest["n_rows"] == 100
    files = sorted(p.name for p in (tmp_path / "store").glob("shard-*.jsonl"))
    assert files == sorted(s["file"] for s in manifest["shards"])
    # content addressing: rewriting the identical data adds NO new shards
    df.repartition(4, "doc_id").write.format("radohydro_shards").option(
        "path", store
    ).mode("append").save()
    files2 = sorted(p.name for p in (tmp_path / "store").glob("shard-*.jsonl"))
    assert files2 == files
    # read-back equals source
    back = spark.read.schema("doc_id long, grp long").option(
        "pathGlobFilter", "shard-*.jsonl"
    ).json(store)
    assert back.count() == 100
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}


def test_expand_zips_members(spark):
    import io
    import zipfile

    from radohydro_spark.sources.manifest import expand_zips

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr("a.txt", b"alpha")
        zf.writestr("dir/", b"")          # directory entry: skipped
        zf.writestr("dir/b.txt", b"beta")
    stored = io.BytesIO()
    with zipfile.ZipFile(stored, "w", zipfile.ZIP_STORED) as zf:
        zf.writestr("c.txt", b"gamma")
    df = spark.createDataFrame(
        [("one.zip", bytearray(buf.getvalue())), ("two.zip", bytearray(stored.getvalue()))],
        "fname string, payload binary",
    )
    got = {
        r["fname"]: bytes(r["payload"]) for r in expand_zips(df).collect()
    }
    assert got == {"a.txt": b"alpha", "dir/b.txt": b"beta", "c.txt": b"gamma"}
