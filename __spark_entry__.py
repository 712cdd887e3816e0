"""Driver contract for the radohydro_spark engine.

``entry(spark)`` — flagship multi-join analytics query on sf0.001.
``queries()`` — one callable per implemented operator from SURVEY.md §2
plus the training-data-pipeline operators (dedup / similarity / text /
multimodal).  ``oracle_sql()`` — DuckDB twins, same column names and
rounding, so the driver's row-count + schema + value-hash comparison is
exact.

Design note: relational queries that are pure ANSI share ONE SQL string
between Spark (spark.sql over temp views → Catalyst) and DuckDB —
semantics pinned by construction.  Engine-specific operators (spatial
pipeline, decoders, minhash/simhash, multimodal) run through the
radohydro_spark DataFrame operators and get hand-matched SQL twins.

Run ``python __spark_entry__.py [sf_dir]`` for a local self-check that
mimics the driver: per-query row-count / column / value comparison.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radohydro_spark.functions import text as TX
from radohydro_spark.operators import dedup as DD
from radohydro_spark.operators import multimodal as MM
from radohydro_spark.operators import similarity as SIM
from radohydro_spark.operators.aggregate import resample
from radohydro_spark.operators.spatial import rasterize, spatial_intersect
from radohydro_spark.operators.weights import apply_nan_policy, basin_weights
from radohydro_spark.plans.pipeline import precip_from_members, precip_timeseries
from radohydro_spark.session import pin
from radohydro_spark.sinks.sinks import write_basin_csvs
from radohydro_spark.sources.synthetic import (
    GRID,
    oracle_base_ctes,
    oracle_cellgrid_sql,
    oracle_daily_sql,
    oracle_fragments_sql,
    oracle_pipeline_sql,
    oracle_rasterize_sql,
    oracle_weights_sql,
    synthetic_basins,
    synthetic_cells,
    synthetic_obs,
)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _ingest_confs(spark: SparkSession) -> None:
    """Parquet-timestamp ingest normalization, safe under ANY session.

    The driver builds its own SparkSession without our session.py confs;
    all three are runtime-settable, so set them before every read:

    - nanosAsLong: INT64 TIMESTAMP(NANOS) files (round-1 testdata encoding)
      otherwise throw PARQUET_TYPE_ILLEGAL.
    - inferTimestampNTZ=false: ``timestamp[us]`` without UTC adjustment
      (round-3 testdata encoding — also what plain pyarrow/pandas/DuckDB
      writers emit) otherwise arrives as TIMESTAMP_NTZ, which breaks
      ``withWatermark`` / ``unix_micros`` and shifts renderings.  With the
      conf off it lands as session-tz TIMESTAMP; the UTC session pin below
      makes that identical to DuckDB's naive reading.
    - session UTC: DuckDB reads these timestamps naive/UTC, so a non-UTC
      session would shift every timestamp->string rendering.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize_ts(df: DataFrame) -> DataFrame:
    """Normalize whatever encoding the ``ts`` column arrived in to a plain
    microsecond TIMESTAMP (the engine-wide event-time type)."""
    for field in df.schema.fields:
        if field.name != "ts":
            continue
        kind = field.dataType.simpleString()
        if kind == "bigint":
            # TIMESTAMP(NANOS) under nanosAsLong.  Integer div: ns values
            # exceed 2^53, float division would round the microsecond.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif kind == "timestamp_ntz":
            # Defensive: only reachable if inferTimestampNTZ was captured
            # before _ingest_confs ran (e.g. a pinned schema).  The
            # naive->instant cast is value-preserving ONLY under a UTC
            # session — pin it here rather than rely on the caller having
            # run _ingest_confs first.
            df.sparkSession.conf.set("spark.sql.session.timeZone", "UTC")
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Lazy-DataFrame cache keyed by (session identity, sf_dir, table).  The
# parquet footer/schema read behind ``spark.read.parquet`` costs ~0.1 s of
# driver time PER CALL (measured at sf0.1), and multi-table queries times
# bench's 3 runs paid it dozens of times — the r2→r4 uniform bench drift.
# DataFrames are immutable lazy plans, so object reuse is semantics-free;
# the cached plan holds a reference to its session, so ``id(spark)`` cannot
# be recycled while the entry lives.  ``_ingest_confs`` still runs on every
# call: the UTC pin must hold at EXECUTION time under a foreign session.
_TABLE_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ingest_confs(spark)
    key = (id(spark), sf_dir, name)
    df = _TABLE_CACHE.get(key)
    if df is None:
        df = _normalize_ts(spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        _TABLE_CACHE[key] = df
    return df


# keyed by file identity only: the reported schema is a pure function of
# the file plus the _ingest_confs pins (which always run first)
_RAW_SCHEMA_CACHE: dict[tuple[str, str], object] = {}


def _probe_schema(spark: SparkSession, sf_dir: str, name: str):
    """RAW on-disk schema of a testdata parquet (pre-_normalize_ts: the
    streaming readers pass it to ``readStream.schema(...)`` and normalize
    the stream afterwards), safe under ANY session (see _ingest_confs —
    without it, TIMESTAMP(NANOS) files throw PARQUET_TYPE_ILLEGAL and NTZ
    files poison downstream watermarks)."""
    _ingest_confs(spark)
    key = (sf_dir, name)
    schema = _RAW_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        _RAW_SCHEMA_CACHE[key] = schema
    return schema


def _register(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)


def _sql(sql: str, tables: list[str]):
    """Query callable running shared ANSI SQL through Catalyst."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        _register(spark, sf_dir, tables)
        return spark.sql(sql)

    return run


# ---------------------------------------------------------------------------
# Core precipitation pipeline (synthetic deterministic grid; SURVEY §2.1-2.8)


def _utc(spark: SparkSession) -> None:
    """Pin the session timezone for queries that never touch _t/_probe:
    date_trunc / window / date_format semantics must match the naive-UTC
    DuckDB oracle even under a foreign non-UTC driver session."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def q_precip_timeseries(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    res = precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )
    return res.select(
        "basin_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "rainfall_mm",
    )


def q_precip_fragments(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    frags = spatial_intersect(synthetic_cells(spark), synthetic_basins(spark))
    return frags.select(
        "basin_id",
        "cell_row",
        "cell_col",
        F.round("frag_area", 3).alias("frag_area"),
        "cell_area",
    )


def q_precip_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    frags = spatial_intersect(synthetic_cells(spark), synthetic_basins(spark))
    frags = apply_nan_policy(frags, synthetic_obs(spark))
    return basin_weights(frags).select(
        "basin_id", "cell_row", "cell_col", F.round("weight", 6).alias("weight")
    )


def q_precip_cellgrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    return synthetic_cells(spark).select(
        "cell_row",
        "cell_col",
        F.col("left").alias("x_min"),
        F.col("bottom").alias("y_min"),
        F.col("right").alias("x_max"),
        F.col("top").alias("y_max"),
    )


def q_precip_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    res = precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )
    daily = resample(res, "1 day", "rainfall_mm", "sum")
    return daily.select(
        "basin_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("rainfall_mm", 6).alias("rainfall_mm"),
    )


# ---------------------------------------------------------------------------
# Decode-path driver queries: the REAL archive decoders (S4 tar expand, S5
# member date filter, S6 ESRI-ASCII, S7 REGNIE fixed-width, F5 sentinel→NULL,
# F8 filename→ts) exercised end-to-end against the same closed-form grid
# oracle as the synthetic precip queries.  Payloads are generated in-query,
# deterministically, so the DuckDB side needs no files (the
# obs_zorder_archive pattern).


def _north_up_meta(g) -> dict:
    """The synthetic grid ``g`` as its north-up rasters see it: the same
    cell footprints as ``synthetic_cells(g)``, numbered from the top row
    (raster row 0), so members need no row flip."""
    return {
        "n_rows": g.n_rows,
        "n_cols": g.n_cols,
        "ulx": g.x0,
        "uly": g.y0 + g.n_rows * g.cell,
        "xres": g.cell,
        "yres": -g.cell,
    }


def _member_precip(manifest, codec, g, basins, date_type: str) -> DataFrame:
    """The fused member kernel over north-up members of grid ``g``, in
    the precip queries' (basin_id, ts string, rainfall_mm) shape."""
    res = precip_from_members(manifest, codec, _north_up_meta(g), basins, date_type)
    return res.select(
        "basin_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "rainfall_mm",
    )


def _ascii_member(h: int, g) -> bytes:
    """One ESRI-ASCII member encoding the synthetic grid at hour ``h``:
    NODATA -1 where the closed-form NULL condition holds, else the
    closed-form value (0.1 mm ints).  ASCII grids are north-up, so the
    first body line is synthetic row n_rows-1."""
    lines = [
        f"ncols {g.n_cols}",
        f"nrows {g.n_rows}",
        f"xllcorner {g.x0}",
        f"yllcorner {g.y0}",
        f"cellsize {g.cell}",
        "NODATA_value -1",
    ]
    for rr in range(g.n_rows - 1, -1, -1):
        vals = [
            "-1"
            if ((rr * 13 + c * 7) % 5 == 0) and ((h + rr + c) % 8 == 0)
            else str((rr * 31 + c * 17 + h * 13) % 120)
            for c in range(g.n_cols)
        ]
        lines.append(" ".join(vals))
    return "\n".join(lines).encode("ascii")


def q_precip_ascii_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4→S5→S6 end-to-end: ONE tar archive of 25 ASCII-grid members (24
    in-range hours + 1 out-of-range decoy) → tar expansion (mapInPandas) →
    member date filter (BEFORE decode) → the fused member kernel with the
    real ESRI-ASCII decoder, on the grid numbered north-up.  Decoded
    members reproduce the synthetic closed form exactly, so the oracle is
    the SAME oracle_pipeline_sql as precip_basin_timeseries — any decode
    divergence (header parse, NODATA→NULL, filename→ts) breaks the hash.

    Reference parity: tar drive loop radohydro.py:291-306, ASCII decode
    radohydro.py:211-222, date filter radohydro.py:294-297."""
    import io
    import tarfile

    from radohydro_spark.sources.ascii_grid import CODEC
    from radohydro_spark.sources.manifest import expand_tars, filter_members_by_range

    _utc(spark)
    g = GRID
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w") as tar:
        members = [
            (f"RW-20240101-{h:02d}.asc", _ascii_member(h, g)) for h in range(g.n_ts)
        ]
        # decoy outside the queried range: S5 must drop it pre-decode
        members.append(("RW-20240102-07.asc", _ascii_member(0, g)))
        for name, data in members:
            ti = tarfile.TarInfo(name=name)
            ti.size = len(data)
            tar.addfile(ti, io.BytesIO(data))
    archive = spark.createDataFrame(
        [("RW-202401.tar", bytearray(buf.getvalue()))], "fname string, payload binary"
    )
    manifest = filter_members_by_range(
        expand_tars(archive), "2024-01-01 00:00:00", "2024-01-01 23:00:00", "hours"
    )
    return _member_precip(manifest, CODEC, g, synthetic_basins(spark), "hours")


def q_precip_geotiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 end-to-end: 24 in-query-encoded GeoTIFFs (int16, DEFLATE strips,
    GDAL nodata tag -1) through the fused member kernel with the real
    GeoTIFF decoder; byte-level codec divergence breaks the closed-form
    oracle hash.  Reference parity: rasterio GTiff read radohydro.py:
    211-222 via the dependency-free codec in sources/geotiff.py."""
    import numpy as np

    from radohydro_spark.sources.geotiff import CODEC, encode_geotiff

    _utc(spark)
    g = GRID
    payloads = []
    for h in range(g.n_ts):
        arr = np.empty((g.n_rows, g.n_cols), dtype="int16")
        for raster_r in range(g.n_rows):
            rr = g.n_rows - 1 - raster_r  # raster row 0 = top = highest grid row
            for c in range(g.n_cols):
                if ((rr * 13 + c * 7) % 5 == 0) and ((h + rr + c) % 8 == 0):
                    arr[raster_r, c] = -1
                else:
                    arr[raster_r, c] = (rr * 31 + c * 17 + h * 13) % 120
        payloads.append(
            (
                f"RW-20240101-{h:02d}.tif",
                bytearray(
                    encode_geotiff(
                        arr,
                        g.x0,
                        g.y0 + g.n_rows * g.cell,
                        g.cell,
                        -g.cell,
                        nodata=-1.0,
                        compress=True,
                    )
                ),
            )
        )
    manifest = spark.createDataFrame(payloads, "fname string, payload binary")
    return _member_precip(manifest, CODEC, g, synthetic_basins(spark), "hours")


# REGNIE variant of the synthetic grid: same geometry, 4 DAILY steps
# (REGNIE is a daily product, reference radohydro.py:434).
def _regnie_grid():
    from radohydro_spark.sources.synthetic import GridSpec

    return GridSpec(n_ts=4)


def q_precip_regnie_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7 end-to-end: 5 gzipped fixed-width REGNIE day files (4 in-range +
    1 decoy) → member date filter → the fused member kernel with the real
    4-char-stride REGNIE decoder (-999 → NULL, trailer line dropped).
    Values encode the synthetic closed form with h = day index, so the
    oracle is oracle_base_ctes with DAY-stepped timestamps.

    Reference parity: REGNIE decode radohydro.py:416-448, fixed-width
    fields radohydro.py:95-144 (this engine parses by exact 4-char stride;
    the reference's split-and-repair is its approximation)."""
    import gzip

    from radohydro_spark.sources.manifest import filter_members_by_range
    from radohydro_spark.sources.regnie import regnie_codec

    _utc(spark)
    g = _regnie_grid()
    payloads = []
    for d in range(g.n_ts + 1):  # last one is the out-of-range decoy
        lines = []
        for rr in range(g.n_rows - 1, -1, -1):
            vals = [
                -999
                if ((rr * 13 + c * 7) % 5 == 0) and ((d + rr + c) % 8 == 0)
                else (rr * 31 + c * 17 + d * 13) % 120
                for c in range(g.n_cols)
            ]
            lines.append("".join(f"{v:4d}" for v in vals))
        lines.append("REGNIE synthetic trailer metadata line")
        payloads.append(
            (
                f"ra2401{d + 1:02d}.gz",
                bytearray(gzip.compress(("\n".join(lines) + "\n").encode("ascii"))),
            )
        )
    manifest = filter_members_by_range(
        spark.createDataFrame(payloads, "fname string, payload binary"),
        "2024-01-01",
        f"2024-01-{g.n_ts:02d}",
        "days2",
    )
    codec = regnie_codec(no_per_line=g.n_cols)
    return _member_precip(manifest, codec, g, synthetic_basins(spark, g), "days2")


def _regnie_decode_oracle() -> str:
    from radohydro_spark.sources.synthetic import oracle_base_ctes

    g = _regnie_grid()
    return (
        oracle_base_ctes(g)
        + f"""
SELECT basin_id,
       strftime(TIMESTAMP '{g.t0}' + h * INTERVAL 1 DAY,
                '%Y-%m-%d %H:%M:%S') AS ts,
       rainfall_mm
FROM res
"""
    )


def q_precip_rasterize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    out = rasterize(synthetic_cells(spark), synthetic_basins(spark), "basin_id")
    return out.select("cell_row", "cell_col", F.col("burn").cast("int").alias("burn"))


# ---------------------------------------------------------------------------
# Relational operators on the TPC-H-ish tables (shared ANSI SQL → Catalyst)

SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2)))
                * (1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       ROUND(AVG(l_quantity), 4) AS avg_qty,
       ROUND(AVG(l_extendedprice), 4) AS avg_price,
       ROUND(AVG(l_discount), 4) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""

SQL_Q3 = """
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(o.o_orderdate AS STRING) AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < DATE '1995-03-15'
  AND l.l_shipdate > DATE '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
ORDER BY revenue DESC, o.o_orderkey ASC
LIMIT 10
"""

SQL_Q5 = """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM region r
JOIN nation n ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""

SQL_Q7 = """
SELECT supp_nation, cust_nation, l_year, CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS INT) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
  FROM supplier s
  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l.l_shipdate BETWEEN DATE '1995-01-01' AND DATE '1999-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
"""

SQL_Q10 = """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       CAST(c.c_acctbal AS DOUBLE) AS c_acctbal, n.n_name
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""

# unit cost in exact MICRO-CENTS: round() on a float quotient splits the
# engines on ulp-boundary doubles (caught by the sf0.001 strict sweep, r7);
# floor(exact_int * 1e4 / small_int_qty) is deterministic because any
# non-integer quotient sits >= 1/qty >= 0.02 away from the floor boundary
SQL_Q2 = """
WITH cost AS (
  SELECT l_partkey, l_suppkey,
         MIN(CAST(FLOOR(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                        * 10000.0 / l_quantity) AS BIGINT)) AS unit_cost_u
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
       CAST(c.unit_cost_u AS DOUBLE) / CAST(1000000.0 AS DOUBLE) AS unit_cost,
       CAST(s.s_acctbal AS DOUBLE) AS s_acctbal
FROM part p
JOIN cost c ON c.l_partkey = p.p_partkey
JOIN supplier s ON s.s_suppkey = c.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
WHERE r.r_name = 'EUROPE' AND p.p_size = 15
  AND c.unit_cost_u = (
    SELECT MIN(c2.unit_cost_u)
    FROM cost c2
    JOIN supplier s2 ON s2.s_suppkey = c2.l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE c2.l_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n.n_name ASC, s.s_name ASC, p.p_partkey ASC
LIMIT 100
"""

SQL_Q20 = """
SELECT s.s_name, n.n_name
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_name LIKE 'red%'
    AND l.l_shipdate >= DATE '1996-01-01' AND l.l_shipdate < DATE '1997-01-01'
  GROUP BY l.l_suppkey, l.l_partkey
  HAVING SUM(l.l_quantity) > 50)
"""

SQL_Q4 = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= DATE '1996-01-01'
  AND o.o_orderdate < DATE '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
GROUP BY o.o_orderpriority
"""

SQL_Q6 = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""

SQL_Q8 = """
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
FROM (
  SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
         n2.n_name AS nation
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
  JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n1.n_regionkey
  WHERE r.r_name = 'AMERICA' AND p.p_type = 'PROMO'
) all_nations
GROUP BY o_year
"""

SQL_Q9 = """
SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         CAST(EXTRACT(YEAR FROM o.o_orderdate) AS INT) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS amount
  FROM part p
  JOIN lineitem l ON p.p_partkey = l.l_partkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE p.p_name LIKE '%red%'
) profit
GROUP BY nation, o_year
"""

SQL_Q12 = """
SELECT o.o_orderpriority,
       CAST(SUM(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_count,
       COUNT(*) AS total_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""

SQL_Q13 = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
"""

SQL_Q14 = """
SELECT ROUND(100.00
         * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                         THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                         ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE),
       6) AS promo_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= DATE '1996-09-01' AND l.l_shipdate < DATE '1996-10-01'
"""

SQL_Q15 = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
"""

SQL_Q16 = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM part p JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 5, 9, 13, 17, 21, 25, 29)
GROUP BY p.p_brand, p.p_type, p.p_size
"""

SQL_Q17 = """
SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 4)
       AS avg_yearly
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#3'
  AND l.l_quantity < (SELECT 0.2 * AVG(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
"""

SQL_Q19 = """
SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
               * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30)
"""

SQL_Q21 = """
SELECT s.s_name, COUNT(*) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY s.s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""

SQL_Q22 = """
SELECT c.c_nationkey, COUNT(*) AS numcust,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND c.c_acctbal > (SELECT ROUND(AVG(c2.c_acctbal), 2) FROM customer c2
                     WHERE c2.c_acctbal > 0.0
                       AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_nationkey
"""

SQL_CUBE = """
SELECT o_orderpriority, o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
"""

SQL_NTILE = """
SELECT c_nationkey, quartile, COUNT(*) AS n_customers,
       CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
       CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
FROM (
  SELECT c_nationkey, c_acctbal,
         ntile(4) OVER (PARTITION BY c_nationkey
                        ORDER BY c_acctbal ASC, c_custkey ASC) AS quartile
  FROM customer
) q
GROUP BY c_nationkey, quartile
"""

# r6 window-function completions: percent_rank / cume_dist emit exact
# rationals (rank arithmetic, no float accumulation), nth_value/first/
# last exercise explicit frame clauses — both shared-ANSI, one string
# for Catalyst and DuckDB.
SQL_PERCENT_RANK = """
SELECT c_custkey,
       c_nationkey,
       round(percent_rank() OVER w, 9) AS pr,
       round(cume_dist() OVER w, 9) AS cd
FROM customer
WHERE c_custkey < 200
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC)
"""

SQL_NTH_VALUE = """
SELECT o_custkey,
       o_orderkey,
       first_value(o_orderkey) OVER w AS first_order,
       last_value(o_orderkey) OVER (PARTITION BY o_custkey
                                    ORDER BY o_orderdate ASC, o_orderkey ASC
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND UNBOUNDED FOLLOWING)
         AS last_order,
       nth_value(o_orderkey, 2) OVER w AS second_order
FROM orders
WHERE o_custkey < 100
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)
"""

SQL_NULL_SEMANTICS = """
SELECT o_orderkey,
       NULLIF(o_orderstatus, 'O') AS status_or_null,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
       CASE WHEN o_orderstatus IS DISTINCT FROM 'F' THEN 1 ELSE 0 END
         AS not_finished,
       CASE WHEN NULLIF(o_orderkey % 3, 0) IS NULL THEN -1
            ELSE o_orderkey % 3 END AS mod_or_sentinel
FROM orders
WHERE o_orderkey < 500
"""


def q_listagg_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (listagg WITHIN GROUP): top-3 customer
    names per nation by balance, concatenated in rank order.  DuckDB twin
    uses string_agg(... ORDER BY) — same semantics, dialect-split syntax."""
    _register(spark, sf_dir, ["customer"])
    return spark.sql(
        """
SELECT c_nationkey,
       listagg(c_name, ',') WITHIN GROUP (ORDER BY c_acctbal DESC, c_custkey ASC)
         AS top_names
FROM (
  SELECT c_nationkey, c_name, c_acctbal, c_custkey,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) t
WHERE rn <= 3
GROUP BY c_nationkey
"""
    )


ORACLE_LISTAGG = """
SELECT c_nationkey,
       string_agg(c_name, ',' ORDER BY c_acctbal DESC, c_custkey ASC) AS top_names
FROM (
  SELECT c_nationkey, c_name, c_acctbal, c_custkey,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
  FROM customer
) t
WHERE rn <= 3
GROUP BY c_nationkey
"""

# q11 adapted to the synthetic star schema: no partsupp table, so "stock
# value" of a part held via one nation's suppliers is re-derived from
# lineitem as SUM(extendedprice * quantity); the fraction threshold keeps
# the HAVING-over-scalar-subquery shape of the original.
SQL_Q11 = """
WITH v AS (
  SELECT l.l_partkey,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
             * CAST(l.l_quantity AS DECIMAL(18,2))) AS val
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_7'
  GROUP BY l.l_partkey
)
SELECT l_partkey, CAST(val AS DOUBLE) AS stock_value
FROM v
WHERE CAST(val AS DOUBLE) > (SELECT AVG(CAST(val AS DOUBLE)) * 2.0 FROM v)
"""

SQL_RETENTION = """
WITH activity AS (
  -- portable day ordinal (engine-identical in Spark and DuckDB; exact
  -- within a month, monotonic across): y*372 + (m-1)*31 + (d-1)
  SELECT user_id,
         CAST(EXTRACT(YEAR FROM ts) * 372 + (EXTRACT(MONTH FROM ts) - 1) * 31
              + EXTRACT(DAY FROM ts) - 1 AS INT) AS d
  FROM events
  GROUP BY user_id, CAST(EXTRACT(YEAR FROM ts) * 372 + (EXTRACT(MONTH FROM ts) - 1) * 31
                         + EXTRACT(DAY FROM ts) - 1 AS INT)
),
cohort AS (SELECT user_id, MIN(d) AS d0 FROM activity GROUP BY user_id)
SELECT c.d0 AS cohort_day, a.d - c.d0 AS days_since,
       COUNT(DISTINCT a.user_id) AS active_users
FROM activity a JOIN cohort c ON a.user_id = c.user_id
WHERE a.d - c.d0 <= 7
GROUP BY c.d0, a.d - c.d0
"""

SQL_FUNNEL = """
WITH steps AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  COUNT(*) AS n_users,
  COUNT(t_signup) AS did_signup,
  COUNT(CASE WHEN t_view > t_signup THEN 1 END) AS signup_then_view,
  COUNT(CASE WHEN t_purchase > t_view AND t_view > t_signup THEN 1 END)
    AS full_funnel
FROM steps
"""

SQL_WINDOW_TOP = """
SELECT c_custkey, c_nationkey, c_acctbal, rnk
FROM (
  SELECT c_custkey, c_nationkey, c_acctbal,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey ASC) AS rnk
  FROM customer
) t
WHERE rnk <= 3
"""

# LATERAL correlated subquery (Spark 4 + DuckDB share the syntax): the
# per-row-parameterized derived table — Catalyst decorrelates it to a
# ranked join, so the declarative form costs the same as SQL_WINDOW_TOP.
SQL_LATERAL_TOPN = """
SELECT d.c_nationkey, top.c_custkey, top.c_acctbal
FROM (SELECT DISTINCT c_nationkey FROM customer) AS d,
LATERAL (SELECT c_custkey, c_acctbal
         FROM customer c
         WHERE c.c_nationkey = d.c_nationkey
         ORDER BY c_acctbal DESC, c_custkey ASC
         LIMIT 2) AS top
"""

SQL_RUNNING = """
SELECT o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
            PARTITION BY o_custkey
            ORDER BY o_orderdate ASC, o_orderkey ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
       AS running_total
FROM orders
"""

SQL_SEMI = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

SQL_ANTI = """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""

SQL_SETOPS = """
SELECT p_partkey FROM part WHERE p_size > 40
UNION
SELECT p_partkey FROM part WHERE p_retailprice > 1700
EXCEPT
SELECT p_partkey FROM part WHERE p_size < 10
"""

SQL_ROLLUP = """
SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
       COALESCE(l_linestatus, 'ALL') AS linestatus,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       COUNT(*) AS n
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

SQL_EVENTS_HOURLY = """
SELECT CAST(date_trunc('hour', ts) AS STRING) AS hour,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C1-C8 scalar showcase: regex digit extraction, date parts, zero-pad,
    rounding, contains — DataFrame API (regex escaping differs between
    Spark SQL string literals and DuckDB)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.regexp_extract("o_orderpriority", r"(\d+)", 1).alias("prio_num"),
        F.year("o_orderdate").cast("int").alias("o_year"),
        F.month("o_orderdate").cast("int").alias("o_month"),
        F.lpad(F.col("o_custkey").cast("string"), 8, "0").alias("custkey_padded"),
        F.round("o_totalprice", 0).alias("price_rounded"),
        F.col("o_orderpriority").contains("URGENT").alias("is_urgent"),
    )


ORACLE_SCALAR_FUNCS = """
SELECT o_orderkey,
       regexp_extract(o_orderpriority, '(\\d+)', 1) AS prio_num,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
       CAST(EXTRACT(month FROM o_orderdate) AS INT) AS o_month,
       lpad(CAST(o_custkey AS VARCHAR), 8, '0') AS custkey_padded,
       ROUND(o_totalprice, 0) AS price_rounded,
       contains(o_orderpriority, 'URGENT') AS is_urgent
FROM orders
"""


def q_date_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from radohydro_spark.functions.temporal import date_range

    return date_range(spark, "1995-01-01", "1995-01-10").select(
        F.date_format("dt", "yyyy-MM-dd").alias("d")
    )


ORACLE_DATE_SEQUENCE = """
SELECT strftime(ts, '%Y-%m-%d') AS d
FROM (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
                                    TIMESTAMP '1995-01-10',
                                    INTERVAL 1 DAY)) AS ts)
"""

_FILENAMES = [
    "RW-20240101-0050.asc",
    "RW_2024.01.02_0150.asc",
    "raa01-rw-2403151820.asc",
]


def q_filename_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    _utc(spark)
    from radohydro_spark.functions.temporal import filename_to_ts

    df = spark.createDataFrame([(f,) for f in _FILENAMES[:2]], "fname string")
    return df.select(
        "fname",
        F.date_format(filename_to_ts("fname", "minutes"), "yyyy-MM-dd HH:mm:ss").alias(
            "ts"
        ),
    )


ORACLE_FILENAME_PARSE = f"""
SELECT fname,
       strftime(strptime(substr(regexp_replace(fname, '[^0-9]', '', 'g'), 1, 12),
                         '%Y%m%d%H%M'), '%Y-%m-%d %H:%M:%S') AS ts
FROM (VALUES ('{_FILENAMES[0]}'), ('{_FILENAMES[1]}')) t(fname)
"""


def q_events_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session; one row per
    session with start time and event count (the batch shape of a
    session-window streaming aggregate)."""
    _register(spark, sf_dir, ["events"])
    return spark.sql(SQL_EVENTS_SESSIONS_BODY.format(epoch="unix_micros(ts)", gap="1800000000"))


SQL_EVENTS_SESSIONS_BODY = """
SELECT user_id,
       CAST(MIN(ts) AS STRING) AS session_start,
       COUNT(*) AS n_events
FROM (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM (
    SELECT user_id, ts, event_id,
           CASE WHEN {epoch} - LAG({epoch}) OVER (
                    PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > {gap}
                     OR LAG(ts) OVER (
                    PARTITION BY user_id ORDER BY ts ASC, event_id ASC) IS NULL
                THEN 1 ELSE 0 END AS is_new
    FROM events
  ) flags
) sess
GROUP BY user_id, session_id
"""


def q_events_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 history (operators.scd.scd2_from_changes): collapse each
    user's event stream into versioned runs of equal event_type with
    validity intervals — snapshot maintenance for dimension tables, one
    shuffle on the key."""
    from radohydro_spark.operators.scd import scd2_from_changes

    e = _t(spark, sf_dir, "events")
    hist = scd2_from_changes(
        e, ["user_id"], "ts", ["event_type"], tiebreak_cols=["event_id"]
    )
    return hist.select(
        "user_id",
        "version",
        "event_type",
        F.date_format("valid_from", "yyyy-MM-dd HH:mm:ss").alias("valid_from"),
        F.date_format("valid_to", "yyyy-MM-dd HH:mm:ss").alias("valid_to"),
        "n_events",
    )


ORACLE_EVENTS_SCD2 = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         -- first row per key flagged explicitly: LAG IS DISTINCT FROM alone
         -- cannot distinguish 'no previous row' from 'previous value NULL',
         -- so a key whose first tracked value is NULL would shift versions
         CASE WHEN ROW_NUMBER() OVER w = 1
                OR LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
versioned AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS version
  FROM flagged
),
hist AS (
  SELECT user_id, version,
         MIN(event_type) AS event_type,
         MIN(ts) AS valid_from,
         COUNT(*) AS n_events
  FROM versioned GROUP BY user_id, version
)
SELECT user_id, version, event_type,
       strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
       strftime(LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version ASC),
                '%Y-%m-%d %H:%M:%S') AS valid_to,
       n_events
FROM hist
"""


def q_events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming session windows (streaming.sessionize_stream):
    30-minute-gap sessions computed incrementally with a watermark, drained
    with availableNow — must emit the same sessions as the batch
    sessionization (events_sessionize), which is also the DuckDB oracle."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import run_available_now, sessionize_stream

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)  # nanos-bigint / NTZ testdata encodings
    sessions = sessionize_stream(stream, gap="30 minutes", watermark="1 hour")
    name = "stream_sessions_" + uuid.uuid4().hex[:8]
    out = run_available_now(sessions, name, tempfile.mkdtemp(prefix="ck_"), "complete")
    return out.select(
        "user_id",
        F.col("session_start").cast("string").alias("session_start"),
        "n_events",
    )


def q_events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state
    (streaming.streaming_dedup / dropDuplicatesWithinWatermark): the events
    file is replayed as the union of TWO file streams — every event arrives
    twice — and the dedup must reduce the doubled stream back to exactly
    the batch table (the DuckDB oracle is a plain SELECT over events).
    State for ids older than the watermark horizon is evicted, so memory is
    bounded by the horizon, not the stream length."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import run_available_now, streaming_dedup

    raw_schema = _probe_schema(spark, sf_dir, "events")

    def src() -> DataFrame:
        s = (
            spark.readStream.format("parquet")
            .schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
        return _normalize_ts(s)  # nanos-bigint / NTZ testdata encodings

    doubled = src().unionByName(src())
    deduped = streaming_dedup(doubled, ["event_id"], ts_col="ts", watermark="1 hour")
    name = "stream_dedup_" + uuid.uuid4().hex[:8]
    out = run_available_now(deduped, name, tempfile.mkdtemp(prefix="ck_"), "append")
    return out.select(
        "event_id",
        F.col("ts").cast("string").alias("ts"),
        "event_type",
    )


ORACLE_STREAM_DEDUP = """
SELECT event_id, CAST(ts AS VARCHAR) AS ts, event_type
FROM events
"""


def q_orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics (operators.merge.merge_upsert): a change batch
    derived deterministically from orders — urgent orders get a 10% price
    update, keys ≡ 0 (mod 97) spawn inserts under shifted keys, keys ≡ 0
    (mod 101) are deleted — reconciled against the full table in ONE
    full-outer shuffle.  Oracle is the equivalent FULL JOIN in DuckDB."""
    from radohydro_spark.operators.merge import merge_upsert

    full = _t(spark, sf_dir, "orders")
    o = full.select("o_orderkey", "o_totalprice")
    updates = full.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey",
        # decimal, not double: round(x*1.1, 2) on doubles straddles the
        # cent boundary differently in Spark (BigDecimal of shortest repr,
        # HALF_UP) vs DuckDB (C-double rounding)
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(3,1)"),
            2,
        )
        .cast("double")
        .alias("o_totalprice"),
        F.lit(False).alias("is_del"),
    )
    inserts = o.filter(F.col("o_orderkey") % 97 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        F.lit(1.0).alias("o_totalprice"),
        F.lit(False).alias("is_del"),
    )
    deletes = o.filter(F.col("o_orderkey") % 101 == 0).select(
        "o_orderkey",
        F.lit(None).cast("double").alias("o_totalprice"),
        F.lit(True).alias("is_del"),
    )
    src = updates.unionByName(inserts).unionByName(deletes)
    merged = merge_upsert(o, src, ["o_orderkey"], delete_col="is_del")
    return merged.select(
        "o_orderkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


ORACLE_MERGE_UPSERT = """
WITH o AS (SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders),
src AS (
  SELECT o_orderkey,
         CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(3,1)),
                    2) AS DOUBLE) AS o_totalprice,
         FALSE AS is_del
  FROM o WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT o_orderkey + 10000000, 1.0, FALSE FROM o WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT o_orderkey, NULL, TRUE FROM o WHERE o_orderkey % 101 = 0
)
SELECT COALESCE(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       round(CASE WHEN s.o_orderkey IS NOT NULL THEN s.o_totalprice
                  ELSE t.o_totalprice END, 2) AS o_totalprice
FROM o t FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
WHERE NOT (s.o_orderkey IS NOT NULL AND s.is_del)
"""


def q_events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window rollup: 2-hour windows every 1 hour, so
    each event lands in exactly two windows — Spark's ``window(ts, '2
    hours', '1 hour')``; the oracle expands each event into both windows
    with an unnest."""
    e = _t(spark, sf_dir, "events")
    agg = (
        e.groupBy(F.window("ts", "2 hours", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    return agg.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


ORACLE_HOPPING = """
WITH expanded AS (
  SELECT unnest([date_trunc('hour', ts), date_trunc('hour', ts) - INTERVAL 1 HOUR])
           AS window_start,
         event_type, value
  FROM events
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n, round(SUM(value), 4) AS sum_value
FROM expanded
GROUP BY window_start, event_type
"""


def q_events_stream_state_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator
    (streaming.stateful_running_total / applyInPandasWithState): per-user
    cumulative (count, sum) carried in the state store across triggers;
    after draining the bounded stream the state equals the batch aggregate
    — the DuckDB oracle is a plain GROUP BY."""
    import tempfile
    import uuid

    from pyspark.sql import Window as W

    from radohydro_spark.streaming import run_available_now, stateful_running_total

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)  # nanos-bigint / NTZ testdata encodings
    totals = stateful_running_total(
        stream, key_col="user_id", ts_col="ts", value_col="value"
    )
    name = "stream_state_" + uuid.uuid4().hex[:8]
    out = run_available_now(totals, name, tempfile.mkdtemp(prefix="ck_"), "update")
    # update mode emits one row per (key, trigger); keep the last per key —
    # n_obs is monotone, so max(n_obs) picks the final state
    w = W.partitionBy("user_id").orderBy(F.desc("n_obs"))
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "n_obs", "cum_value")
    )


ORACLE_STREAM_STATE_TOTALS = """
SELECT user_id,
       COUNT(value) AS n_obs,
       round(SUM(CASE WHEN value IS NOT NULL THEN value ELSE 0 END), 6) AS cum_value
FROM events
GROUP BY user_id
"""


def q_events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream band join (streaming.stream_stream_join):
    click events joined to the same user's purchase events from the
    preceding 30 minutes — state on BOTH sides, bounded by the watermark +
    band so eviction keeps it finite.  Drained bounded replay must equal
    the batch band join (the DuckDB oracle)."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import run_available_now, stream_stream_join

    raw_schema = _probe_schema(spark, sf_dir, "events")

    def src(kind: str) -> DataFrame:
        s = (
            spark.readStream.format("parquet")
            .schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
        s = _normalize_ts(s)  # nanos-bigint / NTZ testdata encodings
        return s.filter(F.col("event_type") == kind).select(
            "user_id", "event_id", "ts"
        )

    joined = stream_stream_join(
        src("click"), src("purchase"), ["user_id"],
        watermark="1 hour", max_lag="30 minutes",
    )
    name = "stream_ssj_" + uuid.uuid4().hex[:8]
    out = run_available_now(joined, name, tempfile.mkdtemp(prefix="ck_"), "append")
    return out.select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("r_event_id").alias("purchase_id"),
        F.col("ts").cast("string").alias("click_ts"),
        F.col("r_ts").cast("string").alias("purchase_ts"),
    )


ORACLE_STREAM_STREAM_JOIN = """
SELECT l.user_id,
       l.event_id AS click_id,
       r.event_id AS purchase_id,
       CAST(l.ts AS VARCHAR) AS click_ts,
       CAST(r.ts AS VARCHAR) AS purchase_ts
FROM (SELECT * FROM events WHERE event_type = 'click') l
JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
  ON l.user_id = r.user_id
 AND r.ts >= l.ts - INTERVAL 30 MINUTE
 AND r.ts <= l.ts
"""


# RANGE-frame window body, shared between Catalyst and DuckDB via the
# {epoch} placeholder (engine-specific epoch-microseconds accessor):
# trailing 3h average EXCLUDING the current hour -> spike flag.
SQL_RATE_SPIKE_BODY = """
WITH hourly AS (
  SELECT user_id,
         CAST(FLOOR({epoch} / 3600000000.0) AS BIGINT) * 3600 AS h,
         COUNT(*) AS n
  FROM events
  GROUP BY user_id, CAST(FLOOR({epoch} / 3600000000.0) AS BIGINT) * 3600
),
w AS (
  SELECT user_id, h, n,
         AVG(n) OVER (PARTITION BY user_id ORDER BY h
                      RANGE BETWEEN 10800 PRECEDING AND 3600 PRECEDING)
           AS trailing_avg
  FROM hourly
)
SELECT user_id, h, n,
       ROUND(trailing_avg, 6) AS trailing_avg,
       CASE WHEN trailing_avg IS NOT NULL AND n > 2 * trailing_avg
            THEN 1 ELSE 0 END AS is_spike
FROM w
"""


def q_events_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (numeric range over event-time seconds): per-user
    hourly event counts vs the trailing-3h average (current hour excluded)
    with a 2x spike flag — the rate-anomaly screen, one shuffle."""
    _register(spark, sf_dir, ["events"])
    return spark.sql(SQL_RATE_SPIKE_BODY.format(epoch="unix_micros(ts)"))


def q_events_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.regexp_extract("props", r'"k": (\d+)', 1).cast("int").alias("k_val"),
    )


ORACLE_EVENTS_PROPS = """
SELECT event_id,
       CAST(regexp_extract(props, '"k": (\\d+)', 1) AS INT) AS k_val
FROM events
"""

# ---------------------------------------------------------------------------
# Text analysis / dedup / similarity (documents, embeddings)

_SQL_TOKS = "string_split_regex(trim(text), '\\s+')"
_SQL_STOP = "('the','a','of','and','to','in','is','on','for')"


def _ph_sql(expr: str) -> str:
    """DuckDB twin of functions.text.portable_hash."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr(md5({expr}), 1, 8), ''), "
        "ch -> CAST(strpos('0123456789abcdef', ch) AS BIGINT) - 1)), "
        "(a, x) -> a * 16 + x)"
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return TX.text_stats(d, "text", ("doc_id",))


ORACLE_TEXT_STATS = f"""
SELECT doc_id,
       len({_SQL_TOKS}) AS n_tokens,
       length(text) AS n_chars_calc,
       length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
       round(len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOP}))
             / CAST(len({_SQL_TOKS}) AS DOUBLE), 6) AS stop_ratio,
       round(len(list_distinct({_SQL_TOKS}))
             / CAST(len({_SQL_TOKS}) AS DOUBLE), 6) AS distinct_ratio,
       CASE WHEN length(trim(text)) = 0 THEN 0.0 ELSE
       round(0.4 * least(length(text) / 500.0, 1.0)
             + 0.4 * (len(list_distinct({_SQL_TOKS})) / CAST(len({_SQL_TOKS}) AS DOUBLE))
             + 0.2 * (1.0 - len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOP}))
                            / CAST(len({_SQL_TOKS}) AS DOUBLE)), 6) END AS quality
FROM documents
"""


def q_text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style corpus quality gate: keep documents passing token-count
    bounds, stopword-ratio floor, repetition (distinct-token) floor, and a
    punctuation-density ceiling.  At 100 TB this is a single narrow
    (shuffle-free) map + filter over the corpus scan — the stats and the
    gate fuse into one whole-stage-codegen span."""
    s = TX.text_stats(_docs(spark, sf_dir), "text", ("doc_id",))
    return s.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 5000)
        & (F.col("stop_ratio") >= 0.05)
        & (F.col("distinct_ratio") >= 0.3)
        & (F.col("n_punct").cast("double") / F.col("n_chars_calc") <= 0.1)
    ).select("doc_id", "n_tokens", "quality")


ORACLE_QUALITY_FILTER = f"""
SELECT doc_id, n_tokens, quality
FROM ({ORACLE_TEXT_STATS}) s
WHERE n_tokens BETWEEN 10 AND 5000
  AND stop_ratio >= 0.05
  AND distinct_ratio >= 0.3
  AND CAST(n_punct AS DOUBLE) / n_chars_calc <= 0.1
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select("doc_id", TX.lang_id("text").alias("lang_pred"))


def _langid_sql() -> str:
    scores = {
        lang: (
            f"len(list_filter(list_transform({_SQL_TOKS}, t -> lower(t)), "
            f"x -> x IN ({', '.join(repr(m) for m in TX.LANG_MARKERS[lang])})))"
        )
        for lang in TX.LANG_MARKERS
    }
    langs = list(TX.LANG_MARKERS)
    branches = []
    for lang in langs:
        conds = [
            f"{scores[lang]} >= {scores[o]}" for o in langs if o != lang
        ]
        branches.append(f"WHEN {' AND '.join(conds)} THEN '{lang}'")
    case = "CASE " + " ".join(branches) + f" ELSE '{langs[-1]}' END"
    return f"SELECT doc_id, {case} AS lang_pred FROM documents"


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", TX.fingerprint("text").alias("fp"))


ORACLE_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
                      list_transform(string_split(text, ''), x -> CAST(ascii(x) AS BIGINT))),
         (a, x) -> (a * 31 + x) % 2147483647) AS fp
FROM documents
"""

# corpus with injected duplicates (the base tables have none)
_DUP_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
"""

_NEARDUP_SQL = """
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id, text || ' zz11 zz22 zz33' AS text
FROM documents WHERE doc_id < 20
"""


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents scan fanned out to full parallelism.

    The test fixture is ONE small parquet file (1-2 scan tasks); the
    token-explode operators downstream are CPU-bound, so a tiny round-robin
    repartition buys ~16x wall-clock locally.  At real scale the scan has
    natural file parallelism and AQE would coalesce this away.
    """
    n = spark.sparkContext.defaultParallelism
    return _t(spark, sf_dir, "documents").repartition(n)


def _dup_corpus(spark: SparkSession, sf_dir: str, near: bool = False) -> DataFrame:
    d = _docs(spark, sf_dir).select("doc_id", "text")
    extra = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        (F.concat(F.col("text"), F.lit(" zz11 zz22 zz33")) if near else F.col("text")).alias(
            "text"
        ),
    )
    return d.unionByName(extra)


def q_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return DD.exact_duplicates(corpus, "text", "doc_id")


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE training-data flagship: the full curation funnel as ONE lazy
    DAG — quality gate → exact dedup → n-gram near-dedup → benchmark
    decontamination → deterministic train/val/test split — reported as
    per-stage survivor counts.  Every stage is an operator the driver
    already value-verifies in isolation; this query proves they COMPOSE
    (the corpus has injected exact + near duplicates so each stage
    actually removes rows).  Plan shape at 100 TB: quality is a narrow
    fused scan, dedup stages shuffle once each on their keys, the
    benchmark shingle set broadcasts, splits are pure projection; the two
    cached intermediates are survivor sets (corpus-sized, spillable)."""
    from radohydro_spark.operators.sampling import split_assign

    d = _docs(spark, sf_dir).select("doc_id", "text")
    lt20 = d.filter(F.col("doc_id") < 20)
    corpus = d.unionByName(
        lt20.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    ).unionByName(
        lt20.select(
            (F.col("doc_id") + 2000000).alias("doc_id"),
            F.concat("text", F.lit(" zz11 zz22 zz33")).alias("text"),
        )
    )
    stats = TX.text_stats(corpus, "text", ("doc_id",))
    keep_q = stats.filter(
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 5000)
        & (F.col("stop_ratio") >= 0.05)
        & (F.col("distinct_ratio") >= 0.3)
        & (F.col("n_punct").cast("double") / F.col("n_chars_calc") <= 0.1)
    ).select("doc_id")
    # q feeds both its stage count and the exact-dedup build: cache so
    # the text_stats tokenize pass runs once, not twice (r16 plan audit).
    # All four stage caches register in the session pool (r17, VERDICT
    # r16 #7): a long session (the 286-query sweep) otherwise pins these
    # corpus-text caches until LRU while operator persists are released.
    q = pin(corpus.join(keep_q, "doc_id", "left_semi").cache())
    e = pin(DD.dedup_exact(q, "text", "doc_id").cache())
    pairs = DD.ngram_jaccard_pairs(
        e, "text", "doc_id", k=3, threshold=0.5, max_doc_freq=None
    )
    nd = pin(
        e.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(), "doc_id", "left_anti"
        ).cache()
    )
    benchmark = d.filter(F.col("doc_id") % 50 == 0)
    flagged = DD.contamination_check(nd, benchmark, "text", "doc_id", k=3, min_shared=5)
    clean = pin(nd.join(flagged.select("doc_id"), "doc_id", "left_anti").cache())
    splits = split_assign(clean, "doc_id", val_pct=10, test_pct=10)

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count("*").alias("n_docs")).select(
            F.lit(name).alias("stage"), "n_docs"
        )

    return (
        cnt(corpus, "00_raw")
        .unionByName(cnt(q, "01_quality"))
        .unionByName(cnt(e, "02_exact_dedup"))
        .unionByName(cnt(nd, "03_near_dedup"))
        .unionByName(cnt(clean, "04_decontaminated"))
        .unionByName(
            splits.groupBy("split")
            .agg(F.count("*").alias("n_docs"))
            .select(F.concat(F.lit("05_split_"), F.col("split")).alias("stage"), "n_docs")
        )
    )


_SQL_SHINGLE3 = (
    "unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1), "
    "i -> array_to_string(list_slice(toks, i, i + 2), ' ')))"
)

ORACLE_CORPUS_CURATION = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id < 20
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id, text || ' zz11 zz22 zz33' AS text
  FROM documents WHERE doc_id < 20
),
st AS (
  SELECT doc_id, text,
         len({_SQL_TOKS}) AS n_tokens,
         length(text) AS n_chars,
         length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
         round(len(list_filter({_SQL_TOKS}, x -> lower(x) IN {_SQL_STOP}))
               / CAST(len({_SQL_TOKS}) AS DOUBLE), 6) AS stop_ratio,
         round(len(list_distinct({_SQL_TOKS}))
               / CAST(len({_SQL_TOKS}) AS DOUBLE), 6) AS distinct_ratio
  FROM corpus
),
q AS (
  SELECT doc_id, text FROM st
  WHERE n_tokens BETWEEN 10 AND 5000 AND stop_ratio >= 0.05
    AND distinct_ratio >= 0.3 AND CAST(n_punct AS DOUBLE) / n_chars <= 0.1
),
e AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM q
  ) WHERE rn = 1
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, {_SQL_SHINGLE3} AS shingle
    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM e)
  ) WHERE shingle <> ''
),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
drop_nd AS (
  SELECT DISTINCT id_b AS doc_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.5
),
nd AS (SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_id FROM drop_nd)),
bsh AS (
  SELECT DISTINCT shingle FROM (
    SELECT {_SQL_SHINGLE3} AS shingle
    FROM (SELECT {_SQL_TOKS} AS toks FROM documents WHERE doc_id % 50 = 0)
  ) WHERE shingle <> ''
),
nd_sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, {_SQL_SHINGLE3} AS shingle
    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM nd)
  ) WHERE shingle <> ''
),
flagged AS (
  SELECT doc_id FROM nd_sh JOIN bsh USING (shingle)
  GROUP BY doc_id HAVING count(*) >= 5
),
clean AS (SELECT * FROM nd WHERE doc_id NOT IN (SELECT doc_id FROM flagged)),
splits AS (
  SELECT doc_id,
         CASE WHEN b < 10 THEN 'val' WHEN b < 20 THEN 'test'
              ELSE 'train' END AS split
  FROM (SELECT doc_id, {_ph_sql("CAST(doc_id AS VARCHAR)")} % 100 AS b FROM clean)
)
SELECT '00_raw' AS stage, count(*) AS n_docs FROM corpus
UNION ALL SELECT '01_quality', count(*) FROM q
UNION ALL SELECT '02_exact_dedup', count(*) FROM e
UNION ALL SELECT '03_near_dedup', count(*) FROM nd
UNION ALL SELECT '04_decontaminated', count(*) FROM clean
UNION ALL SELECT '05_split_' || split, count(*) FROM splits GROUP BY split
"""


def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition profile: top-bigram share and
    duplicate-bigram fraction per doc (functions.text.repetition_stats) —
    two map-side-combinable aggregates, no UDF."""
    return TX.repetition_stats(_docs(spark, sf_dir), "text", "doc_id", k=2)


ORACLE_TEXT_REPETITION = f"""
WITH docs AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 1, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 1), ' '))) AS g
  FROM docs
),
per AS (SELECT doc_id, g, count(*) AS cnt FROM grams WHERE g <> '' GROUP BY doc_id, g)
SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_ngrams,
       round(max(cnt) / CAST(sum(cnt) AS DOUBLE), 6) AS top_ngram_share,
       round(1 - count(*) / CAST(sum(cnt) AS DOUBLE), 6) AS dup_ngram_frac
FROM per GROUP BY doc_id
"""


ORACLE_EXACT_DUPS = f"""
WITH corpus AS ({_DUP_SQL})
SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM corpus GROUP BY md5(text) HAVING count(*) > 1
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_doc_freq=None: the exact-oracle query needs textbook Jaccard
    # (the scale-safe hot-shingle guard is the operator's default)
    corpus = _dup_corpus(spark, sf_dir, near=True)
    return DD.ngram_jaccard_pairs(
        corpus, "text", "doc_id", k=3, threshold=0.5, max_doc_freq=None
    )


ORACLE_NGRAM_JACCARD = f"""
WITH corpus AS ({_NEARDUP_SQL}),
docs AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.5
"""

def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profile of orders (operators/profile.py): null /
    exact-distinct / min / max per column from a single agg job."""
    from radohydro_spark.operators.profile import profile_columns

    cols = ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"]
    return profile_columns(_t(spark, sf_dir, "orders").select(cols), cols)


def _profile_col_sql(c: str) -> str:
    return f"""SELECT '{c}' AS column, count(*) AS n_rows,
       count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value FROM orders"""


ORACLE_PROFILE_ORDERS = " UNION ALL ".join(
    _profile_col_sql(c)
    for c in ["o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice"]
)


def q_sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash bucket + train/val/test assignment per document
    (operators/sampling.py) — reproducible across engines/runs by
    construction, hence the exact oracle."""
    from radohydro_spark.operators.sampling import hash_bucket, split_assign

    d = _docs(spark, sf_dir)
    return split_assign(d, "doc_id", val_pct=10, test_pct=10).select(
        "doc_id", hash_bucket("doc_id", 100).alias("bucket"), "split"
    )


ORACLE_SAMPLE_SPLIT = f"""
WITH b AS (
  SELECT doc_id, {_ph_sql("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CASE WHEN bucket < 10 THEN 'val'
            WHEN bucket < 20 THEN 'test'
            ELSE 'train' END AS split
FROM b
"""


def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub over a corpus augmented with deterministic synthetic
    emails/phones/IPs (the raw corpus has none) — chained JVM-side
    regexp_replace, portable regex subset shared with the oracle."""
    d = _docs(spark, sf_dir)
    aug = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +49 30 "),
        F.col("doc_id").cast("string"),
        F.lit("1234 at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    return d.select("doc_id", TX.redact_pii(aug).alias("clean"))


ORACLE_REDACT_PII = r"""
SELECT doc_id,
       regexp_replace(regexp_replace(regexp_replace(aug,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+', '<EMAIL>', 'g'),
         '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
         '\+[0-9][0-9 ()-]{7,}[0-9]', '<PHONE>', 'g') AS clean
FROM (
  SELECT doc_id,
         text || ' reach user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +49 30 ' || CAST(doc_id AS VARCHAR)
              || '1234 at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS aug
  FROM documents
)
"""


def q_skew_salted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted lineitem⋈orders (operators/skew.py) + priority revenue
    rollup.  Salting changes only work distribution, so the oracle is the
    plain join — the correctness contract a skew strategy must keep."""
    from radohydro_spark.operators.skew import salted_join

    l = _t(spark, sf_dir, "lineitem").withColumnRenamed("l_orderkey", "o_orderkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(l, o, ["o_orderkey"], "inner", n_salt=8)
    return joined.groupBy("o_orderpriority").agg(
        F.round(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (1 - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


ORACLE_SKEW_SALTED = """
SELECT o.o_orderpriority,
       round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                     * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY o.o_orderpriority
"""


def q_dedup_groups_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-GROUP resolution: n-gram Jaccard pairs → connected
    components (iterative hash-min label propagation,
    operators/graph.py) → (doc_id, component).  The transitive-closure step
    every pair-producing dedup needs before it can canonicalize; oracle is
    the recursive-CTE reachability closure."""
    from radohydro_spark.operators.graph import connected_components

    corpus = _dup_corpus(spark, sf_dir, near=True)
    pairs = DD.ngram_jaccard_pairs(corpus, "text", "doc_id", k=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    comp = connected_components(pairs, "id_a", "id_b", nodes=corpus.select("doc_id"))
    return comp.select(F.col("node").alias("doc_id"), "component")


ORACLE_DEDUP_CC = f"""
WITH RECURSIVE corpus AS ({_NEARDUP_SQL}),
docs AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
pairs AS (
  SELECT id_a, id_b FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.5
),
edges AS (SELECT id_a AS a, id_b AS b FROM pairs
          UNION SELECT id_b, id_a FROM pairs),
reach(node, root) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
)
SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY node
"""


def q_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dup dedup (operators.graph.dedup_canonical):
    Jaccard pairs → connected components → ONE canonical keeper (min id)
    per cluster — the filter a training pipeline actually applies.
    Returns every doc with its cluster and keeper flag."""
    from radohydro_spark.operators.graph import dedup_canonical

    corpus = _dup_corpus(spark, sf_dir, near=True)
    pairs = DD.ngram_jaccard_pairs(corpus, "text", "doc_id", k=3, threshold=0.5).select(
        "id_a", "id_b"
    )
    out = dedup_canonical(corpus.select("doc_id"), pairs, "doc_id")
    return out.select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).alias("component"),
        F.col("is_canonical").cast("int").alias("is_canonical"),
    )


ORACLE_DEDUP_CANONICAL = (
    ORACLE_DEDUP_CC.rstrip()[: -len('SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY node')]
    + """, comp AS (SELECT node AS doc_id, min(root) AS component FROM reach GROUP BY node)
SELECT doc_id, component,
       CASE WHEN doc_id = component THEN 1 ELSE 0 END AS is_canonical
FROM comp
"""
)


_MINHASH_PARAMS_SQL = "hp(h_idx, a, b) AS (VALUES " + ", ".join(
    f"({i}, {DD.MINHASH_A[i]}, {DD.MINHASH_B[i]})" for i in range(8)
) + ")"

_MINHASH_SIGS_CTES = f"""
docs AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
hx AS (SELECT doc_id, {_ph_sql('shingle')} AS x FROM sh),
{_MINHASH_PARAMS_SQL},
sigs AS (
  SELECT doc_id, h_idx, min((a * x + b) % 2147483647) AS sig
  FROM hx, hp GROUP BY doc_id, h_idx
)
"""


def q_minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return DD.minhash_signatures(d, "text", "doc_id", n_hashes=8, k=3)


ORACLE_MINHASH_SIGS = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
{_MINHASH_SIGS_CTES}
SELECT doc_id, h_idx, sig FROM sigs
"""


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _dup_corpus(spark, sf_dir)
    return DD.minhash_lsh_pairs(corpus, "text", "doc_id", n_hashes=8, k=3, rows_per_band=2)


ORACLE_MINHASH_LSH = f"""
WITH corpus AS ({_DUP_SQL}),
{_MINHASH_SIGS_CTES},
bands AS (
  SELECT doc_id, CAST(h_idx // 2 AS INT) AS band,
         string_agg(CAST(sig AS VARCHAR), '_' ORDER BY h_idx) AS band_key
  FROM sigs GROUP BY doc_id, CAST(h_idx // 2 AS INT)
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       round(avg(CASE WHEN sa.sig = sb.sig THEN 1.0 ELSE 0.0 END), 6) AS est_jaccard
FROM cand
JOIN sigs sa ON sa.doc_id = id_a
JOIN sigs sb ON sb.doc_id = id_b AND sa.h_idx = sb.h_idx
GROUP BY id_a, id_b
"""


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return DD.simhash(d, "text", "doc_id", bits=16)


_SIMHASH_CTES = f"""
toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
  WHERE tok <> ''
),
hashed AS (SELECT doc_id, {_ph_sql('tok')} AS h FROM toks),
bits AS (
  SELECT doc_id, j.range AS bit,
         CASE WHEN sum(((h >> CAST(j.range AS INT)) & 1) * 2 - 1) > 0
              THEN 1 ELSE 0 END AS bit_val
  FROM hashed, range(16) j
  GROUP BY doc_id, j.range
),
sims AS (
  SELECT doc_id,
         CAST(sum(bit_val * CAST(power(2, bit) AS BIGINT)) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
"""

ORACLE_SIMHASH = f"""
WITH {_SIMHASH_CTES}
SELECT doc_id, simhash FROM sims
"""


def q_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs by Hamming distance
    (operators.dedup.simhash_hamming_pairs): 2-band pigeonhole candidates
    (any pair with distance < 2 shares a band slice) + exact
    bit_count(xor) filter — the banded Hamming join that avoids all-pairs
    at corpus scale."""
    d = _docs(spark, sf_dir)
    return DD.simhash_hamming_pairs(
        d, "text", "doc_id", bits=16, n_bands=2, max_hamming=1
    )


ORACLE_SIMHASH_HAMMING = f"""
WITH {_SIMHASH_CTES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sims a JOIN sims b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 1
"""

_COSINE_SQL = (
    # coalesce mirrors the engine cosine()'s zero-norm -> 0.0 law
    # (DuckDB x/0.0 is NULL; r13 latent-alignment pass)
    "round(coalesce(list_dot_product(qv, cv) / "
    "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 0.0), 6)"
)


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.cosine_topk(e, queries, k=5)


ORACLE_COSINE_TOPK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
scored AS (
  SELECT query_id, e.vec_id, {_COSINE_SQL.replace('cv', 'e.v')} AS cosine
  FROM q, e
)
SELECT query_id, vec_id, cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored) t
WHERE rank <= 5
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, BANDED: hyperplane-LSH (band, bucket)
    equi-join candidates + exact cosine filter — the 100 TB plan shape (no
    cartesian anywhere; tests/test_plans.py asserts it).  Deterministic
    planes => the oracle embeds the identical constants, so the driver
    check is value-exact despite the approximate candidate set.  The
    brute-force O(n²) twin (dedup.embedding_near_dups) stays as the pytest
    cross-check that banding loses no same-bucket pair."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return DD.embedding_near_dups_lsh(
        e, threshold=0.35, n_planes=4, n_bands=2, n_dims=64
    )


def _emb_near_dups_oracle(
    threshold: float = 0.35, n_planes: int = 4, n_bands: int = 2, n_dims: int = 64
) -> str:
    """Banded-LSH near-dup oracle: same plane constants as the engine
    (band b = planes [b*n_planes, (b+1)*n_planes)), candidates from the
    (band, bucket) equi-join, exact cosine on candidates."""
    band_selects = []
    for bi in range(n_bands):
        planes = [
            "["
            + ", ".join(
                repr(_hyperplane_const(bi * n_planes + j, d)) for d in range(n_dims)
            )
            + "]"
            for j in range(n_planes)
        ]
        bucket_expr = " + ".join(
            f"(CASE WHEN list_dot_product(v, {planes[j]}) >= 0 THEN {2**j} ELSE 0 END)"
            for j in range(n_planes)
        )
        band_selects.append(
            f"SELECT vec_id, v, {bi} AS band, {bucket_expr} AS bucket FROM e"
        )
    bands_sql = " UNION ALL ".join(band_selects)
    cos = _COSINE_SQL.replace("qv", "ea.v").replace("cv", "eb.v")
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
bands AS ({bands_sql}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, {cos} AS cosine
FROM cand
JOIN e ea ON ea.vec_id = id_a
JOIN e eb ON eb.vec_id = id_b
WHERE {cos} >= {threshold}
"""


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate NN via deterministic random-hyperplane LSH buckets —
    approximate w.r.t. true neighbors, but bit-reproducible: the
    hyperplanes derive from the portable md5 hash, so the oracle embeds the
    identical constants and the bucket assignment (and thus the result
    set) is exact cross-engine."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ann_topk_lsh(e, queries, k=5, n_planes=4, n_dims=64)


def _hyperplane_const(plane: int, dim: int) -> float:
    """Python twin of operators.similarity._hyperplane_component."""
    import hashlib

    h = int(hashlib.md5(f"p{plane}-d{dim}".encode()).hexdigest()[:8], 16)
    return (h % 1000) / 500.0 - 1.0


def _ann_lsh_oracle(n_planes: int = 4, n_dims: int = 64, k: int = 5) -> str:
    planes = [
        "[" + ", ".join(repr(_hyperplane_const(j, d)) for d in range(n_dims)) + "]"
        for j in range(n_planes)
    ]
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {planes[j]}) >= 0 THEN {2**j} ELSE 0 END)"
        for j in range(n_planes)
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, {bucket_expr} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < 3),
scored AS (
  SELECT q.query_id, b.vec_id,
         round(coalesce(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 0.0),
               6) AS cosine
  FROM q JOIN b USING (bucket)
)
SELECT query_id, vec_id, cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored) t
WHERE rank <= {k}
"""


# ---------------------------------------------------------------------------
# Multimodal plumbing (text bytes as stand-in payloads; ASCII-only docs)

_ASCII_FILTER = "^[ -~]*$"


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents").filter(F.col("text").rlike(_ASCII_FILTER))
    return d.select(
        F.col("doc_id").alias("media_id"), F.encode("text", "utf-8").alias("payload")
    )


def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.decode_media(_media_df(spark, sf_dir), fake=True).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_DECODE = """
WITH m AS (
  SELECT doc_id AS media_id, text, length(text) AS n
  FROM documents WHERE regexp_matches(text, '^[ -~]*$')
)
SELECT media_id,
       greatest(CAST(floor(sqrt(greatest(CAST(floor(n / 3) AS BIGINT), 1))) AS INT), 1) AS width,
       greatest(CAST(floor(sqrt(greatest(CAST(floor(n / 3) AS BIGINT), 1))) AS INT), 1) AS height,
       3 AS channels,
       round((SELECT avg(ascii(c)) FROM unnest(string_split(m.text, '')) t(c)), 4)
         AS mean_intensity
FROM m
"""


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    frames = MM.chunk_frames(_media_df(spark, sf_dir), frame_bytes=100)
    return frames.select("media_id", "frame_idx", F.length("frame").alias("frame_len"))


ORACLE_MEDIA_FRAMES = """
WITH m AS (
  SELECT doc_id AS media_id, length(text) AS n
  FROM documents WHERE regexp_matches(text, '^[ -~]*$')
),
fr AS (
  SELECT media_id, n,
         unnest(range(0, CAST(ceil(n / 100.0) AS BIGINT))) AS frame_idx
  FROM m
)
SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
       CAST(least(100, n - frame_idx * 100) AS INT) AS frame_len
FROM fr
"""


def q_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return MM.byte_histogram(_media_df(spark, sf_dir), buckets=16)


ORACLE_BYTE_HISTOGRAM = """
WITH m AS (
  SELECT doc_id AS media_id, text
  FROM documents WHERE regexp_matches(text, '^[ -~]*$')
),
chars AS (
  SELECT media_id, CAST(ascii(c) // 16 AS INT) AS bucket
  FROM (SELECT media_id, unnest(string_split(text, '')) AS c FROM m)
)
SELECT media_id,
""" + ",\n".join(
    # CAST: DuckDB sums to HUGEINT, Spark to BIGINT — without the cast the
    # driver's value-hash compares int128 vs int64 and flags a false
    # mismatch (same artifact class as events_case_pivot, commit b4ce552)
    f"       CAST(sum(CASE WHEN bucket = {i} THEN 1 ELSE 0 END) AS BIGINT) AS b{i}"
    for i in range(16)
) + """
FROM chars GROUP BY media_id
"""


def q_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake resize (operators.multimodal.resize_media):
    nearest-neighbor byte downsample to 8x8 — real mapInPandas batch shape
    and output schema with the codec stubbed; verified via byte checksum."""
    resized = MM.resize_media(_media_df(spark, sf_dir), 8, 8, fake=True)
    # checksum the payload JVM-side: aggregate over the byte array
    return resized.select(
        "media_id",
        "width",
        "height",
        F.length("payload").alias("n_bytes"),
        F.aggregate(
            F.transform(
                F.sequence(F.lit(1), F.length("payload")),
                lambda i: F.ascii(F.substring(F.col("payload").cast("string"), i, 1)),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("byte_sum"),
    )


ORACLE_MEDIA_RESIZE = """
WITH m AS (
  SELECT doc_id AS media_id, text, length(text) AS n
  FROM documents WHERE regexp_matches(text, '^[ -~]*$')
),
sampled AS (
  SELECT media_id,
         ascii(substring(text, CAST(i * n // 64 AS INT) + 1, 1)) AS b
  FROM m, (SELECT unnest(range(0, 64)) AS i)
)
SELECT media_id, 8 AS width, 8 AS height,
       CAST(64 AS INT) AS n_bytes,
       CAST(SUM(b) AS INT) AS byte_sum
FROM sampled GROUP BY media_id
"""


def q_media_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aHash perceptual fingerprint (operators.multimodal.average_hash):
    64 contiguous byte chunks, bit = chunk mean > overall mean — the
    codec-free form of image average-hash, emitted as a 64-char bit string
    for engine-portable comparison."""
    return MM.average_hash(_media_df(spark, sf_dir), grid=64)


ORACLE_MEDIA_AHASH = """
WITH m AS (
  SELECT doc_id AS media_id, text, length(text) AS n
  FROM documents WHERE regexp_matches(text, '^[ -~]*$')
),
idx AS (
  -- lateral range(0, col) is unsupported; unnest the list-valued range
  SELECT media_id, text, n, unnest(range(0, n)) AS i FROM m
),
chunked AS (
  SELECT media_id, CAST(i * 64 // n AS INT) AS c,
         ascii(substring(text, CAST(i AS INT) + 1, 1)) AS b
  FROM idx
),
cmeans AS (SELECT media_id, c, avg(b) AS mc FROM chunked GROUP BY media_id, c),
omean AS (SELECT media_id, avg(b) AS mo FROM chunked GROUP BY media_id),
grid AS (SELECT media_id, CAST(r.range AS INT) AS c FROM m, range(0, 64) r),
bits AS (
  SELECT g.media_id, g.c,
         CASE WHEN cm.mc IS NOT NULL AND cm.mc > o.mo THEN '1' ELSE '0' END AS bit
  FROM grid g
  LEFT JOIN cmeans cm ON cm.media_id = g.media_id AND cm.c = g.c
  JOIN omean o ON o.media_id = g.media_id
)
SELECT media_id, string_agg(bit, '' ORDER BY c) AS ahash
FROM bits GROUP BY media_id
"""


def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction (functions.text.tfidf_top_terms): top-3
    terms per document, fully relational — one explode, tf/df aggregates,
    scalar-subquery N, ranking window."""
    d = _docs(spark, sf_dir)
    return TX.tfidf_top_terms(d, "text", "doc_id", top_k=3)


ORACLE_TEXT_TFIDF = f"""
WITH corpus AS (SELECT doc_id, text FROM documents),
toks AS (
  SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM corpus
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM corpus),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
         round(tf.tf * ln((n.n + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3
"""


# ---------------------------------------------------------------------------
# Contract surface


def q_crs_radolan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12 — RADOLAN sphere polar-stereographic projection of a
    deterministic lon/lat grid (geometry.crs pandas-UDF kernel).  The
    projection is closed-form trig, so DuckDB reproduces it exactly in
    SQL; the UTM/Krueger path is series-based and covered by unit tests
    (tests/test_crs.py) instead."""
    from radohydro_spark.geometry.crs import transform_crs

    pts = (
        spark.range(0, 22, 1, 1)
        .select((5.0 + F.col("id") * 0.5).alias("lon"))
        .crossJoin(spark.range(0, 20, 1, 1).select((46.0 + F.col("id") * 0.5).alias("lat")))
    )
    out = transform_crs(pts, "lon", "lat", "epsg:4326", "radolan")
    return out.select(
        "lon", "lat", F.round("x_t", 4).alias("x_km"), F.round("y_t", 4).alias("y_km")
    )


ORACLE_CRS_RADOLAN = """
WITH i AS (SELECT 5.0 + unnest(range(22)) * 0.5 AS lon),
j AS (SELECT 46.0 + unnest(range(20)) * 0.5 AS lat),
k AS (SELECT 2 * 6370040.0 * (1 + sin(radians(60.0))) / 2 AS rk)
SELECT CAST(lon AS DOUBLE) AS lon, CAST(lat AS DOUBLE) AS lat,
       round(rk * tan(pi() / 4 - radians(lat) / 2) * sin(radians(lon) - radians(10.0)) / 1000, 4) AS x_km,
       round(-rk * tan(pi() / 4 - radians(lat) / 2) * cos(radians(lon) - radians(10.0)) / 1000, 4) AS y_km
FROM i, j, k
"""


SQL_SCALAR_SUBQ = """
SELECT c_custkey, c_nationkey,
       CAST(c_acctbal AS DOUBLE) AS c_acctbal
FROM customer
WHERE c_acctbal > (SELECT AVG(c_acctbal) * 1.8 FROM customer)
"""

SQL_EXISTS_CORRELATED = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
"""

SQL_OUTER_JOIN = """
SELECT n.n_name,
       COUNT(c.c_custkey) AS n_customers,
       CAST(COALESCE(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_acctbal
FROM nation n
LEFT JOIN customer c
  ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 0
GROUP BY n.n_name
"""

SQL_GROUPING_SETS = """
SELECT COALESCE(l_returnflag, '<all>') AS returnflag,
       COALESCE(l_linestatus, '<all>') AS linestatus,
       GROUPING(l_returnflag) AS g_flag,
       GROUPING(l_linestatus) AS g_status,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus), ())
"""

SQL_LARGE_ORDERS = """
SELECT o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
       CAST(t.sum_qty AS DOUBLE) AS sum_qty
FROM orders o
JOIN (
  SELECT l_orderkey, SUM(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
) t ON t.l_orderkey = o.o_orderkey
"""

SQL_DISTINCT_AGG = """
SELECT c_nationkey,
       COUNT(DISTINCT c_mktsegment) AS n_segments,
       COUNT(*) AS n_customers
FROM customer
GROUP BY c_nationkey
"""

SQL_CASE_PIVOT = """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       COUNT(*) AS n_total
FROM events
GROUP BY user_id
"""


def q_events_stream_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming replay of the hourly events rollup: file-source
    stream -> watermark + tumbling window -> availableNow drain.  Returns
    the SAME rows as the batch/DuckDB twin (SQL_EVENTS_HOURLY) — the
    engine's incremental-equals-batch guarantee, checked by the driver."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import run_available_now, tumbling_agg

    raw_schema = _probe_schema(spark, sf_dir, "events")
    # file source wants a directory basePath: stream the sf dir with a
    # glob pinned to the events file
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)  # nanos-bigint / NTZ testdata encodings
    agg = tumbling_agg(
        stream,
        "ts",
        "1 hour",
        [F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")],
        keys=["event_type"],
        watermark="1 hour",
    )
    name = "stream_hourly_" + uuid.uuid4().hex[:8]
    # state = |hours x event_type| aggregate buffers (window-domain
    # bounded, input-size independent; partial aggregation bounds the
    # stateful shuffle the same way) -> state partitions sized to the
    # window domain, not the session default (run_available_now doc)
    out = run_available_now(
        agg, name, tempfile.mkdtemp(prefix="ck_"), "complete",
        state_partitions=8,
    )
    return out.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        "n",
        "sum_value",
    )


ORACLE_STREAM_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 4) AS sum_value
FROM events
GROUP BY 1, 2
"""


# the fixed reference mix for the streaming drift monitor: uniform over
# the five event types (a deliberate LITERAL — the monitor's reference
# must be batch-independent, like perplexity_buckets' pinned cutpoints)
_DRIFT_REFERENCE = {
    "click": 1, "error": 1, "purchase": 1, "signup": 1, "view": 1,
}


def q_events_stream_tvd_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming categorical-drift monitor
    (streaming.stream_category_drift): per-hour exact TVD (ppm) of the
    event-type mix against a pinned uniform reference — the
    Structured-Streaming twin of dq_tvd_drift (same pure-BIGINT
    cross-multiplication law), ONE stateful window aggregate with the
    per-category counts as conditional columns over the literal
    reference (state = |categories|+1 longs per window, never rows),
    TVD a stateless integer projection.  availableNow drain returns
    the batch-identical rows the oracle recomputes."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import (
        run_available_now,
        stream_category_drift,
    )

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)
    drift = stream_category_drift(
        stream, "ts", "event_type", "1 hour", _DRIFT_REFERENCE,
        watermark="1 hour",
    )
    name = "stream_tvd_" + uuid.uuid4().hex[:8]
    out = run_available_now(drift, name, tempfile.mkdtemp(prefix="ck_"), "complete")
    return out.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "n",
        "tvd_num",
        "tvd_ppm",
    )


ORACLE_STREAM_TVD = """
WITH w AS (
  SELECT date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (event_type = 'click') AS BIGINT) AS c0,
         CAST(count(*) FILTER (event_type = 'error') AS BIGINT) AS c1,
         CAST(count(*) FILTER (event_type = 'purchase') AS BIGINT) AS c2,
         CAST(count(*) FILTER (event_type = 'signup') AS BIGINT) AS c3,
         CAST(count(*) FILTER (event_type = 'view') AS BIGINT) AS c4
  FROM events
  WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
  GROUP BY 1
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n,
       CAST(abs(c0 * 5 - n) + abs(c1 * 5 - n) + abs(c2 * 5 - n)
            + abs(c3 * 5 - n) + abs(c4 * 5 - n) AS BIGINT) AS tvd_num,
       CAST(CASE WHEN n > 0 THEN
              (1000000 * (abs(c0 * 5 - n) + abs(c1 * 5 - n)
               + abs(c2 * 5 - n) + abs(c3 * 5 - n) + abs(c4 * 5 - n)))
              // (2 * n * 5)
            END AS BIGINT) AS tvd_ppm
FROM w
"""


def q_events_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window Count-Min sketch
    (streaming.stream_count_min): per-DAY 4×64 frequency counters over
    the event user-id stream — the ingest-time generalization of
    sketch_count_min (same portable md5-prefix hash law, so the
    availableNow drain is bit-identical to the batch builder per
    window and exactly SQL-replayable).  ONE stateful window-grouped
    count; state ≤ windows·depth·width longs by construction."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import run_available_now, stream_count_min

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)
    sk = stream_count_min(
        stream, "ts", "user_id", "1 day", depth=4, width=64,
        watermark="1 hour",
    )
    name = "stream_cms_" + uuid.uuid4().hex[:8]
    # state ≤ windows·depth·width counters by the sketch contract ->
    # window-domain-sized state partitions (run_available_now doc)
    out = run_available_now(
        sk, name, tempfile.mkdtemp(prefix="ck_"), "complete",
        state_partitions=8,
    )
    return out.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("day"),
        F.col("d").cast("long").alias("d"),
        "bucket",
        "n",
    ).orderBy("day", "d", "bucket")


def _stream_cms_oracle() -> str:
    h = _ph_sql("concat(CAST(dd.range AS VARCHAR), ':', k)")
    return f"""
WITH ev AS (SELECT date_trunc('day', ts) AS w, CAST(user_id AS VARCHAR) AS k
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
sk AS (
  SELECT w, dd.range AS d,
         CAST(({h}) % 64 AS INT) AS bucket,
         CAST(count(*) AS BIGINT) AS n
  FROM ev, range(4) dd GROUP BY 1, 2, 3
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS day, CAST(d AS BIGINT) AS d,
       bucket, n
FROM sk ORDER BY day, d, bucket
"""


def q_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: first-16 centroids, nprobe=4, exact rerank in probed
    lists.  Deterministic coarse quantizer -> strong DuckDB oracle."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_topk(e, queries, n_centroids=16, nprobe=4, k=5)


ORACLE_IVF_TOPK = f"""
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, cent.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY coalesce(list_dot_product(e.v, cent.cv)
                      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 0.0) DESC,
                      cent.centroid_id ASC) AS rn
    FROM e, cent) t
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
qprobe AS (
  SELECT query_id, qv, centroid_id FROM (
    SELECT q.query_id, q.qv, cent.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY coalesce(list_dot_product(q.qv, cent.cv)
                      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv))), 0.0) DESC,
                      cent.centroid_id ASC) AS pr
    FROM q, cent) t
  WHERE pr <= 4
),
scored AS (
  SELECT qprobe.query_id, e.vec_id,
         round(coalesce(list_dot_product(qprobe.qv, e.v)
               / (sqrt(list_dot_product(qprobe.qv, qprobe.qv)) * sqrt(list_dot_product(e.v, e.v))), 0.0), 6) AS cosine
  FROM qprobe
  JOIN assigned ON assigned.centroid_id = qprobe.centroid_id
  JOIN e ON e.vec_id = assigned.vec_id
)
SELECT query_id, vec_id, cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored) t
WHERE rank <= 5
"""


def q_precip_radolan_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scale RADOLAN day (900x900 cells x 24 h = 19.4M obs rows, 20
    basins) — the reference's real workload shape, where its dense stack
    representation hits the RAM cliff (radohydro.py:257-260).  Exact
    oracle: DuckDB evaluates the same closed-form pipeline at full scale."""
    _utc(spark)
    from radohydro_spark.sources.synthetic import (
        radolan_scale_basins,
        radolan_scale_cells,
        radolan_scale_obs,
    )

    from radohydro_spark.sources.synthetic import RADOLAN_SCALE as _RS

    res = precip_timeseries(
        radolan_scale_obs(spark),
        radolan_scale_cells(spark),
        radolan_scale_basins(spark),
        grid_meta=(_RS.x0, _RS.y0, _RS.cell, _RS.cell),
    )
    return res.select(
        "basin_id", F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"), "rainfall_mm"
    )


def q_precip_regnie_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scale REGNIE month, DECODE INCLUDED (r7): 31 gzipped
    fixed-width day files at the true 971x611 REGNIE shape
    (reference radohydro.py:95,392-395) are synthesized DISTRIBUTED (one
    Arrow task per day, numpy-formatted), then run the production path:
    filename-date pruning → the fused member kernel: gunzip +
    4-char-stride decode (S7, -999 → NULL, trailer dropped) read only at
    the 20 basins' fragment cells.  ~18.4M obs rows — within 6% of the RADOLAN-day
    bench, so both reference workload shapes carry comparable per-cell
    wall-time evidence (r6 verdict item 6).  Values follow the standard
    synthetic closed form with h = day index, so the exact DuckDB oracle
    is the shared pipeline SQL with day-stepped timestamps."""
    import gzip

    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.manifest import filter_members_by_range
    from radohydro_spark.sources.regnie import regnie_codec
    from radohydro_spark.sources.synthetic import (
        REGNIE_SCALE as _RG,
        radolan_scale_basins,
    )

    _utc(spark)
    g = _RG

    # 4-char field images for the value domain ({-999} ∪ [0, 120)) — a
    # np.take through this LUT formats a whole day in one C pass instead
    # of 593k per-element %4d calls (synthesis must not dominate an
    # ingest bench)
    def build_days(it):
        lut = np.array([b"%4d" % v for v in range(120)], dtype="S4")
        for pdf in it:
            for day in pdf["id"]:
                d = int(day) - 1  # h index: 0-based day offset from t0
                r = np.arange(g.n_rows)[:, None]
                c = np.arange(g.n_cols)[None, :]
                nodata = ((r * 13 + c * 7) % 5 == 0) & ((d + r + c) % 8 == 0)
                fields = lut[(r * 31 + c * 17 + d * 13) % 120]
                fields[nodata] = b"-999"
                # file lines run north→south = grid rows top-down
                body = b"\n".join(row.tobytes() for row in fields[::-1])
                payload = gzip.compress(
                    body + b"\nREGNIE synthetic trailer metadata line\n"
                )
                yield pd.DataFrame(
                    {"fname": [f"ra2401{d + 1:02d}.gz"],
                     "payload": [payload]}
                )

    files = spark.range(1, g.n_ts + 1, 1, g.n_ts).mapInPandas(
        build_days, "fname string, payload binary"
    )
    manifest = filter_members_by_range(files, "2024-01-01", "2024-01-31", "days2")
    codec = regnie_codec(no_per_line=g.n_cols)
    return _member_precip(manifest, codec, g, radolan_scale_basins(spark, g, 20), "days2")


def _regnie_scale_oracle() -> str:
    from radohydro_spark.sources.synthetic import (
        REGNIE_SCALE,
        oracle_base_ctes,
        radolan_scale_rects,
    )

    g = REGNIE_SCALE
    return (
        oracle_base_ctes(g, rects=radolan_scale_rects(g, 20))
        + f"""
SELECT basin_id,
       strftime(TIMESTAMP '{g.t0}' + h * INTERVAL 1 DAY,
                '%Y-%m-%d %H:%M:%S') AS ts,
       rainfall_mm
FROM res
"""
    )


def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators.dedup.contamination_check):
    every 50th document plays the eval set; corpus docs sharing >= 3
    distinct 3-gram shingles with it are flagged.  Benchmark shingle set is
    broadcast — the corpus side never shuffles on shingles."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return DD.contamination_check(corpus, bench, "text", "doc_id", k=3, min_shared=3)


ORACLE_CONTAMINATION = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
c_toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
c_sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM c_toks
),
c_sh AS (SELECT DISTINCT doc_id, shingle FROM c_sh_raw WHERE shingle <> ''),
b_toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM bench),
b_sh_raw AS (
  SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM b_toks
),
b_sh AS (SELECT DISTINCT shingle FROM b_sh_raw WHERE shingle <> '')
SELECT doc_id, COUNT(*) AS n_shared
FROM c_sh JOIN b_sh USING (shingle)
GROUP BY doc_id
HAVING COUNT(*) >= 3
"""


def q_text_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing (functions.text.pack_sequences): greedy
    sequential assignment of documents to 256-token training bins per
    source, bin index from the running token count — one window shuffle."""
    d = _docs(spark, sf_dir)
    return TX.pack_sequences(
        d, budget=256, group_col="source", order_cols=("doc_id",)
    )


ORACLE_PACK_SEQUENCES = f"""
WITH t AS (
  SELECT doc_id, source, len({_SQL_TOKS}) AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM t
),
b AS (
  SELECT doc_id, source, n_tokens, cb, CAST(cb // 256 AS INT) AS bin FROM c
)
SELECT doc_id, source, n_tokens, bin,
       CAST(cb - MIN(cb) OVER (PARTITION BY source, bin) AS BIGINT) AS offset
FROM b
"""


def q_text_sentence_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence splitting + deterministic re-chunking to ~200 chars
    (functions.text.sentence_chunks) — the stage between raw docs and
    context-window packing; one window shuffle."""
    d = _docs(spark, sf_dir)
    return TX.sentence_chunks(d, max_chars=200)


ORACLE_SENTENCE_CHUNKS = """
WITH sents_arr AS (
  SELECT doc_id, string_split_regex(text, '[.!?][ ]+') AS sents FROM documents
),
idx AS (
  SELECT doc_id, sents, unnest(range(1, len(sents) + 1)) AS i FROM sents_arr
),
sent AS (
  SELECT doc_id, CAST(i AS INT) AS pos, sents[CAST(i AS INT)] AS sent
  FROM idx
),
kept AS (
  SELECT doc_id, pos, sent, length(sent) AS n FROM sent WHERE trim(sent) <> ''
),
cum AS (
  SELECT doc_id, pos, sent, n,
         COALESCE(SUM(n) OVER (PARTITION BY doc_id ORDER BY pos ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
  FROM kept
)
SELECT doc_id, CAST(cb // 200 AS INT) AS chunk_id,
       COUNT(*) AS n_sentences, CAST(SUM(n) AS BIGINT) AS n_chars,
       string_agg(sent, ' ' ORDER BY pos) AS chunk_text
FROM cum GROUP BY doc_id, CAST(cb // 200 AS INT)
"""


def q_events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON functions over the props column: schema-on-read via from_json
    plus path extraction via get_json_object (both JVM-side)."""
    e = _t(spark, sf_dir, "events")
    parsed = e.withColumn("j", F.from_json("props", "k int"))
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k_struct"),
        F.get_json_object("props", "$.k").cast("int").alias("k_path"),
    )


ORACLE_EVENTS_JSON = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_struct,
       CAST(json_extract_string(props, '$.k') AS INT) AS k_path
FROM events
"""


def q_events_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured path (Spark 4): a nested JSON document is
    composed per event (object nesting + the original props object embedded
    verbatim), parsed once into a VARIANT, and fields pulled out with typed
    ``try_variant_get`` paths — the open-schema ingestion pattern that
    replaces rigid from_json schemas for evolving telemetry.  The oracle
    recomputes every extracted value closed-form from the raw columns, so
    the whole compose→parse→extract loop must be value-exact."""
    e = _t(spark, sf_dir, "events")
    js = F.format_string(
        '{"meta":{"type":"%s","uid":%d},"payload":%s}',
        F.col("event_type"),
        F.col("user_id"),
        F.col("props"),
    )
    v = e.withColumn("v", F.parse_json(js))
    return v.select(
        "event_id",
        F.try_variant_get("v", "$.meta.type", "string").alias("vtype"),
        F.try_variant_get("v", "$.meta.uid", "bigint").alias("uid"),
        F.try_variant_get("v", "$.payload.k", "int").alias("k"),
        F.try_variant_get("v", "$.meta.missing", "int").alias("absent"),
    )


ORACLE_EVENTS_VARIANT = """
SELECT event_id,
       event_type AS vtype,
       user_id AS uid,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       CAST(NULL AS INT) AS absent
FROM events
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-counting trio for corpus budgeting: whitespace words, BPE-ish
    pre-token count (letter runs / digits / punct), chars/4 estimate."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        TX.token_count("text").alias("n_words"),
        TX.bpe_ish_token_count("text").alias("n_bpe_ish"),
        TX.bpe_ish_token_estimate("text").alias("n_chars4"),
    )


ORACLE_TOKEN_BUDGET = rf"""
SELECT doc_id,
       len({_SQL_TOKS}) AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]')) AS n_bpe_ish,
       CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_chars4
FROM documents
"""


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase event gets the most recent prior (<=) click
    by the same user — union+window implementation (operators/asof.py), no
    inequality join anywhere.  DuckDB's native ASOF JOIN is the oracle."""
    from radohydro_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join(purchases, clicks, keys=["user_id"], ts_col="ts")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.round("click_value_asof", 4).alias("click_value"),
    )


ORACLE_EVENTS_ASOF = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       round(c.click_value, 4) AS click_value
FROM purchases p
ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
"""


def q_orders_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: orders priced into deterministic price bands via the
    bucketized equi-join (operators/rangejoin.py) — no nested-loop join in
    the plan.  Oracle is the plain inequality join."""
    from radohydro_spark.operators.rangejoin import range_join

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    bands = spark.range(0, 12, 1, 1).select(
        F.col("id").cast("int").alias("band_id"),
        (F.col("id") * 50000.0).alias("lo"),
        ((F.col("id") + 1) * 50000.0).alias("hi"),
    )
    out = range_join(o, bands, "o_totalprice", bucket_width=50000.0)
    return (
        out.groupBy("band_id")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("band_revenue"),
        )
    )


ORACLE_RANGE_JOIN = """
WITH bands AS (
  SELECT CAST(i AS INT) AS band_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
  FROM (SELECT unnest(range(12)) AS i)
)
SELECT band_id, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS band_revenue
FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
GROUP BY band_id
"""

SQL_LEAD_LAG = """
SELECT o_custkey, o_orderkey,
       date_format(o_orderdate, 'yyyy-MM-dd') AS o_orderdate,
       datediff(o_orderdate,
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey)) AS days_since_prev,
       CAST(LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                                   ORDER BY o_orderdate, o_orderkey) AS BIGINT) AS next_orderkey
FROM orders
"""

ORACLE_LEAD_LAG = """
SELECT o_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       datediff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS days_since_prev,
       LEAD(o_orderkey) OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS next_orderkey
FROM orders
"""

SQL_PERCENTILES = """
SELECT l_returnflag,
       ROUND(percentile(l_extendedprice, 0.5), 4) AS p50,
       ROUND(percentile(l_extendedprice, 0.9), 4) AS p90,
       ROUND(percentile(l_extendedprice, 0.99), 4) AS p99,
       ROUND(MIN(l_extendedprice), 4) AS pmin,
       ROUND(MAX(l_extendedprice), 4) AS pmax
FROM lineitem GROUP BY l_returnflag
"""

ORACLE_PERCENTILES = """
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
       ROUND(MIN(l_extendedprice), 4) AS pmin,
       ROUND(MAX(l_extendedprice), 4) AS pmax
FROM lineitem GROUP BY l_returnflag
"""


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 embedding quantization with per-vector symmetric scale
    (operators.similarity.quantize_int8_stats): reconstruction-error report
    over the corpus — pure array-expression projection, no UDF/shuffle.
    floor(v+0.5) rounding keeps both engines on identical IEEE ops."""
    e = _t(spark, sf_dir, "embeddings")
    return SIM.quantize_int8_stats(e, "embedding", "vec_id")


ORACLE_EMBEDDING_QUANTIZE = """
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
s AS (
  SELECT vec_id, v,
         list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
                     (acc, x) -> greatest(acc, x)) / 127.0 AS scale
  FROM e
),
q AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> CASE WHEN scale > 0
                                     THEN floor(x / scale + 0.5)
                                     ELSE 0.0 END) AS qv
  FROM s
),
err AS (
  SELECT vec_id, scale, len(v) AS dim,
         list_transform(range(1, len(v) + 1),
                        i -> abs(v[i] - qv[i] * scale)) AS ev
  FROM q
)
SELECT vec_id, CAST(dim AS INT) AS dim,
       round(scale, 9) AS scale,
       round(list_reduce(list_prepend(0.0, ev), (acc, x) -> greatest(acc, x)), 9)
         AS max_abs_err,
       round(list_reduce(list_prepend(0.0, list_transform(ev, x -> x * x)),
                         (acc, x) -> acc + x) / dim, 12) AS mse
FROM err
"""


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array-column hygiene pass: L2 norm, dimensionality, normalized first
    component — the standard pre-index screen over an embedding corpus."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "v", F.transform("embedding", lambda x: x.cast("double"))
    )
    n = SIM.norm(F.col("v"))
    return e.select(
        "vec_id",
        F.size("v").alias("dim"),
        F.round(n, 6).alias("l2_norm"),
        # try_divide: a zero-norm vector yields NULL u0 on BOTH engines
        # (DuckDB x/0.0 is NULL) instead of crashing under ANSI; F.get
        # (NULL out-of-bounds) instead of element_at (ANSI throw) so a
        # ZERO-LENGTH embedding also matches the oracle's embedding[1]
        # NULL — the r13 latent-alignment pass, both review rounds
        F.round(F.try_divide(F.get("v", 0), n), 6).alias("u0"),
    )


ORACLE_EMBEDDING_NORMS = """
SELECT vec_id,
       len(embedding) AS dim,
       round(sqrt(list_dot_product(embedding, embedding)), 6) AS l2_norm,
       round(embedding[1] / sqrt(list_dot_product(embedding, embedding)), 6) AS u0
FROM (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS embedding
      FROM embeddings)
"""


def q_stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (operators.aggregate.trimmed_mean):
    10%-trimmed mean of event values per type — the holistic aggregate
    flavor, whole groups Arrow-streamed to Python.  Oracle trims by exact
    sorted-rank indices, bit-identical rule."""
    from radohydro_spark.operators.aggregate import trimmed_mean

    e = _t(spark, sf_dir, "events")
    out = trimmed_mean(e, ["event_type"], "value", trim=0.1)
    return out.select(
        "event_type", F.round("trimmed_mean", 6).alias("trimmed_mean"), "n"
    )


ORACLE_TRIMMED_MEAN = """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value ASC) AS r,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
kept AS (
  SELECT * FROM ranked
  WHERE n - 2 * CAST(floor(n * 0.1) AS BIGINT) <= 0
     OR (r > CAST(floor(n * 0.1) AS BIGINT)
         AND r <= n - CAST(floor(n * 0.1) AS BIGINT))
)
SELECT k.event_type, round(avg(k.value), 6) AS trimmed_mean,
       (SELECT COUNT(value) FROM events e WHERE e.event_type = k.event_type) AS n
FROM kept k GROUP BY k.event_type
"""


def q_orders_pivot_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native relational pivot (the D6 sink-time operator as a query):
    ``groupBy(status).pivot(priority, values)`` with a FIXED value list —
    deterministic schema, no value-discovery job; oracle is the CASE-sum
    expansion."""
    o = _t(spark, sf_dir, "orders")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    out = (
        o.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    renames = {p: f"n_{p.split('-')[0]}" for p in prios}
    for old, new in renames.items():
        out = out.withColumnRenamed(old, new)
    return out


ORACLE_PIVOT_NATIVE = """
SELECT o_orderstatus,
       COUNT(*) FILTER (o_orderpriority = '1-URGENT') AS n_1,
       COUNT(*) FILTER (o_orderpriority = '2-HIGH') AS n_2,
       COUNT(*) FILTER (o_orderpriority = '3-MEDIUM') AS n_3,
       COUNT(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS n_4,
       COUNT(*) FILTER (o_orderpriority = '5-LOW') AS n_5
FROM orders
GROUP BY o_orderstatus
"""


def q_orders_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot -> unpivot round-trip (D6/F7): the wide per-priority counts
    stacked back to long form must equal the plain GROUP BY — the oracle IS
    that GROUP BY.  Exercises the native unpivot/stack operator."""
    wide = q_orders_pivot_native(spark, sf_dir)
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    stack_args = ", ".join(
        f"'{p}', n_{p.split('-')[0]}" for p in prios
    )
    return wide.selectExpr(
        "o_orderstatus",
        f"stack({len(prios)}, {stack_args}) AS (o_orderpriority, n)",
    ).filter(F.col("n") > 0)


ORACLE_UNPIVOT = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
FROM orders
GROUP BY o_orderstatus, o_orderpriority
"""


def q_events_partitioned_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage layout as part of the query surface: write events
    date-partitioned (dt=YYYYMMDD directories), read back with a partition
    filter — the scan touches ONLY the two selected directories (partition
    pruning, no data-file reads outside them) — and aggregate.  The oracle
    computes the same two days straight from the source table, so the
    round-trip through the partitioned layout is value-verified."""
    import tempfile

    spark.conf.set("spark.sql.sources.partitionColumnTypeInference.enabled", "false")
    e = _t(spark, sf_dir, "events")
    path = tempfile.mkdtemp(prefix="events_part_") + "/archive"
    (
        e.withColumn("dt", F.date_format("ts", "yyyyMMdd"))
        .write.partitionBy("dt")
        .mode("overwrite")
        .parquet(path)
    )
    back = spark.read.parquet(path).filter(
        F.col("dt").isin("20240101", "20240102")
    )
    return back.groupBy("dt").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("sum_value")
    )


ORACLE_PARTITIONED_ARCHIVE = """
SELECT strftime(ts, '%Y%m%d') AS dt, COUNT(*) AS n,
       round(SUM(value), 4) AS sum_value
FROM events
WHERE strftime(ts, '%Y%m%d') IN ('20240101', '20240102')
GROUP BY strftime(ts, '%Y%m%d')
"""


def q_obs_zorder_archive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustered archive round-trip (sinks.bucketed): a 200x200x24
    synthetic obs grid (~1M rows) written date-partitioned with Morton
    clustering, read back under a 2-D bbox predicate — row groups outside
    the Morton slabs prune via parquet min/max stats — and aggregated per
    hour.  Oracle evaluates the same closed-form grid + window in SQL."""
    import tempfile

    from radohydro_spark.sinks.bucketed import write_obs_zordered
    from radohydro_spark.sources.synthetic import GridSpec, synthetic_obs

    _utc(spark)
    g = GridSpec(n_rows=200, n_cols=200, n_ts=24)
    path = tempfile.mkdtemp(prefix="obs_z_") + "/archive"
    write_obs_zordered(synthetic_obs(spark, g), path, files_per_day=8, n_days=1)
    back = spark.read.parquet(path).filter(
        F.col("cell_row").between(100, 140) & F.col("cell_col").between(50, 90)
    )
    return back.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts")
    ).agg(
        F.count("*").alias("n_cells"),
        F.sum("value").cast("bigint").alias("sum_value"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null"),
    )


ORACLE_ZORDER_ARCHIVE = """
WITH obs AS (
  SELECT r.range AS cell_row, c.range AS cell_col, h.range AS h,
         CASE WHEN ((r.range*13 + c.range*7) % 5 = 0)
                   AND ((h.range + r.range + c.range) % 8 = 0)
              THEN NULL
              ELSE CAST((r.range*31 + c.range*17 + h.range*13) % 120 AS DOUBLE)
         END AS value
  FROM range(200) r, range(200) c, range(24) h
  WHERE r.range BETWEEN 100 AND 140 AND c.range BETWEEN 50 AND 90
)
SELECT strftime(TIMESTAMP '2024-01-01 00:00:00' + h * INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS ts,
       COUNT(*) AS n_cells,
       CAST(SUM(value) AS BIGINT) AS sum_value,
       COUNT(CASE WHEN value IS NULL THEN 1 END) AS n_null
FROM obs GROUP BY h
"""


def q_approx_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch aggregates (HLL + quantile digest) with a BOUNDED check: the
    estimates themselves are engine-specific, so the query emits the exact
    aggregates plus booleans asserting each sketch landed within its
    published error (HLL rsd=0.02 → 3σ = 6%; percentile_approx
    accuracy=1000 → rank error 1e-3, checked against a ±0.01 exact-rank
    band).  The oracle computes the same exact aggregates and literal TRUE
    flags — a sketch outside its guarantee flips a boolean and fails the
    driver hash."""
    o = _t(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.approx_count_distinct("o_custkey", 0.02).alias("_acd"),
        F.count_distinct("o_custkey").alias("exact_customers"),
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("_amed"),
        F.expr("percentile(o_totalprice, 0.49)").alias("_plo"),
        F.expr("percentile(o_totalprice, 0.51)").alias("_phi"),
        F.count("*").alias("n"),
    )
    return g.select(
        "o_orderpriority",
        "exact_customers",
        "n",
        (
            F.abs(F.col("_acd") - F.col("exact_customers"))
            / F.col("exact_customers")
            <= 0.06
        ).alias("hll_within_3sigma"),
        (
            (F.col("_amed") >= F.col("_plo")) & (F.col("_amed") <= F.col("_phi"))
        ).alias("median_within_rank_eps"),
    )


ORACLE_APPROX_SKETCHES = """
SELECT o_orderpriority,
       COUNT(DISTINCT o_custkey) AS exact_customers,
       COUNT(*) AS n,
       TRUE AS hll_within_3sigma,
       TRUE AS median_within_rank_eps
FROM orders GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# K1 sink round-trip + real-BMP media decode (round-5 additions)


def q_precip_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 per-basin CSV sink, driver-verified end-to-end (reference
    geotools/geotools.py:295-319): ``write_basin_csvs`` writes real files
    (3 bespoke header lines, zero-padded basin ids, 3-decimal rounding) to
    a scratch dir, and the query result is the READ-BACK of those files —
    whatever survives the round-trip must hash-match the pipeline oracle."""
    _utc(spark)
    import tempfile

    res = precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )
    out_dir = tempfile.mkdtemp(prefix="radohydro_csv_rt_")
    write_basin_csvs(res, synthetic_basins(spark), out_dir)
    raw = spark.read.text(os.path.join(out_dir, "basin_*.csv"))
    return (
        raw.withColumn(
            "basin_id",
            F.regexp_extract(F.input_file_name(), r"basin_(\d+)\.csv", 1).cast("int"),
        )
        .filter(F.col("value").rlike(r"^\d{10},"))  # skip the 3 header lines
        .select(
            "basin_id",
            F.split("value", ",")[0].alias("time"),
            # NaN-policy rows serialize as an empty field; try_cast maps
            # them back to NULL exactly as the oracle emits them
            F.expr("try_cast(split(value, ',')[1] AS double)").alias("rainfall"),
        )
    )


def _csv_roundtrip_oracle() -> str:
    return (
        oracle_base_ctes(GRID)
        + f"""
SELECT basin_id,
       strftime(TIMESTAMP '{GRID.t0}' + h * INTERVAL 1 HOUR, '%y%m%d%H%M') AS time,
       round(rainfall_mm, 3) AS rainfall
FROM res
"""
    )


def q_media_decode_bmp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real end-to-end image decode (no image library): deterministic
    grayscale BMPs are ENCODED executor-side (sources/bmp.py encode_bmp)
    then decoded back through the real, non-fake ``decode_media`` path —
    header parse, gray-palette mapping, bottom-up row order, and 4-byte row
    padding all exercised on genuine format bytes.  Closed-form content:
    pixel(i) = (doc_id*31 + i*7) % 256 on a (6 + doc_id%7) x (8 + doc_id%5)
    grid, so the oracle recomputes the expected dims and mean directly."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.bmp import encode_bmp

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 8 + did % 5
                h = 6 + did % 7
                i = np.arange(w * h, dtype=np.int64)
                px = ((did * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w)
                ids.append(did)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    bmp = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return MM.decode_media(bmp).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_DECODE_BMP = """
WITH m AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 5 AS w,
         6 + doc_id % 7 AS h
  FROM documents
),
px AS (
  SELECT media_id, w, h, unnest(range(0, w * h)) AS i FROM m
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       1 AS channels,
       round(avg(CAST((media_id * 31 + i * 7) % 256 AS DOUBLE)), 4) AS mean_intensity
FROM px
GROUP BY media_id, w, h
"""


def q_media_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real end-to-end JPEG decode (no image library, r6): deterministic
    grayscale baseline JPEGs are ENCODED executor-side (sources/jpeg.py
    encode_jpeg_gray — DCT, zigzag, Annex-K Huffman, byte stuffing) then
    decoded back through the real ``decode_media`` path (marker walk,
    stream-defined DQT/DHT, Huffman decode, dequantize, IDCT).  Fixture
    law: each image is (2 + doc_id%2) x (2 + doc_id%3) BLOCKS of 8x8
    constant pixels, block b valued (doc_id*31 + b*7) % 256 — with the
    all-ones quant table a block-constant image carries only exact-integer
    DC coefficients, so the lossy format round-trips BIT-EXACTLY and the
    oracle recomputes dims and mean in closed form."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.jpeg import encode_jpeg_gray

    # the documents file is one small parquet -> ONE scan partition, which
    # serialized the whole encode+decode chain on a single core (measured
    # 1.62 s; the codec itself is ~2.5 core-seconds).  Spread the id rows
    # across the session's parallelism BEFORE the Python stages — the
    # shuffle moves only 8-byte ids, the heavy bytes are generated after
    # it (guide §2.3: shuffle keys, not payloads; §6: one small file must
    # not set the parallelism of the compute behind it).
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism)
    )

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                bw = 2 + did % 3
                bh = 2 + did % 2
                b = np.arange(bw * bh, dtype=np.int64)
                blocks = ((did * 31 + b * 7) % 256).astype(np.uint8).reshape(bh, bw)
                px = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
                ids.append(did)
                payloads.append(encode_jpeg_gray(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    jpg = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return MM.decode_media(jpg).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_DECODE_JPEG = """
WITH m AS (
  SELECT doc_id AS media_id,
         2 + doc_id % 3 AS bw,
         2 + doc_id % 2 AS bh
  FROM documents
),
blk AS (
  SELECT media_id, bw, bh, unnest(range(0, bw * bh)) AS b FROM m
)
SELECT media_id,
       CAST(bw * 8 AS INT) AS width,
       CAST(bh * 8 AS INT) AS height,
       1 AS channels,
       round(avg(CAST((media_id * 31 + b * 7) % 256 AS DOUBLE)), 4) AS mean_intensity
FROM blk
GROUP BY media_id, bw, bh
"""


def q_media_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real end-to-end PNG decode (stdlib zlib + numpy, r6): deterministic
    RGB PNGs are ENCODED executor-side (sources/png.py — chunk framing,
    CRCs, filter-0 scanlines, DEFLATE) then decoded back through the real
    ``decode_media`` path (signature check, IHDR parse, inflate,
    unfilter).  PNG is lossless, so the fixture law round-trips
    bit-exactly: channel value = (doc_id*31 + i*7 + c*11) % 256 on a
    (4 + doc_id%5) x (5 + doc_id%6) x 3 grid; the oracle recomputes dims
    and mean in closed form.  Third real image codec (BMP gray/RGB, JPEG
    gray, PNG RGB) — this one covers the 3-channel path."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.png import encode_png

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 5 + did % 6
                h = 4 + did % 5
                i = np.arange(h * w, dtype=np.int64)
                px = np.zeros((h, w, 3), dtype=np.uint8)
                for c in range(3):
                    px[:, :, c] = (
                        ((did * 31 + i * 7 + c * 11) % 256)
                        .astype(np.uint8)
                        .reshape(h, w)
                    )
                ids.append(did)
                payloads.append(encode_png(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    png = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return MM.decode_media(png).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_DECODE_PNG = """
WITH m AS (
  SELECT doc_id AS media_id,
         5 + doc_id % 6 AS w,
         4 + doc_id % 5 AS h
  FROM documents
),
px AS (
  SELECT media_id, w, h,
         unnest(range(0, w * h)) AS i
  FROM m
),
ch AS (
  SELECT media_id, w, h, i, unnest(range(0, 3)) AS c FROM px
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       3 AS channels,
       round(avg(CAST((media_id * 31 + i * 7 + c * 11) % 256 AS DOUBLE)), 4)
         AS mean_intensity
FROM ch
GROUP BY media_id, w, h
"""


def q_media_video_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real end-to-end VIDEO decode (r6, no video library): deterministic
    AVI/MJPEG clips are built executor-side — each frame a block-constant
    baseline JPEG (sources/jpeg.py), wrapped in a real RIFF/AVI container
    with headers and idx1 (sources/avi.py) — then decoded back through
    ``decode_video``: container walk, header/chunk-count cross-check,
    every-2nd-frame sampling, per-frame JPEG decode.  Fixture law:
    n = 3 + doc_id%4 frames of 16x8 (two 8x8 blocks), block value
    (doc_id*31 + f*13 + b*7) % 256 — block-constant frames round-trip
    bit-exactly, so the oracle recomputes every output in closed form."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.avi import encode_avi_mjpeg
    from radohydro_spark.sources.jpeg import encode_jpeg_gray

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 3 + did % 4
                frames = []
                for f in range(n):
                    blocks = np.array(
                        [
                            [
                                (did * 31 + f * 13) % 256,
                                (did * 31 + f * 13 + 7) % 256,
                            ]
                        ],
                        dtype=np.uint8,
                    )
                    px = np.kron(blocks, np.ones((8, 8), dtype=np.uint8))
                    frames.append(encode_jpeg_gray(px))
                ids.append(did)
                payloads.append(encode_avi_mjpeg(frames, 16, 8, fps=25))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    avi = docs.mapInPandas(gen, schema="media_id long, payload binary")
    out = MM.decode_video(avi, sample_every=2)
    return out.select(
        "media_id",
        "n_frames",
        "width",
        "height",
        "fps",
        "n_sampled",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_VIDEO_MJPEG = """
WITH m AS (
  SELECT doc_id AS media_id, 3 + doc_id % 4 AS n FROM documents
),
fr AS (
  SELECT media_id, n, unnest(range(0, n)) AS f FROM m
),
blk AS (
  SELECT media_id, n, f, unnest(range(0, 2)) AS b
  FROM fr WHERE f % 2 = 0
)
SELECT media_id,
       CAST(n AS INT) AS n_frames,
       16 AS width,
       8 AS height,
       25 AS fps,
       CAST((n + 1) // 2 AS INT) AS n_sampled,
       round(avg(CAST((media_id * 31 + f * 13 + b * 7) % 256 AS DOUBLE)), 4)
         AS mean_intensity
FROM blk
GROUP BY media_id, n
"""


def q_dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor (operators/profile.py
    psi_drift, r6): order totals before vs after 1997-01-01, bucketed on
    the OLD snapshot's equi-width grid with edge clamping and eps-floored
    proportions — the retrain-gate drift report.  Two map-side-combinable
    groupBys + a 10-row full-outer join; the oracle mirrors every
    expression including the ln contribution."""
    _utc(spark)
    from radohydro_spark.operators.profile import psi_drift

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < "1997-01-01")
    new = o.filter(F.col("o_orderdate") >= "1997-01-01")
    return psi_drift(old, new, "o_totalprice", n_buckets=10)


ORACLE_PSI_DRIFT = """
WITH ext AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi
  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
),
ob AS (
  SELECT CAST(greatest(least(floor((o_totalprice - lo) / ((hi - lo) / 10.0)),
                             9), 0) AS BIGINT) AS bucket,
         COUNT(*) AS n_old
  FROM orders, ext WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY 1
),
nb AS (
  SELECT CAST(greatest(least(floor((o_totalprice - lo) / ((hi - lo) / 10.0)),
                             9), 0) AS BIGINT) AS bucket,
         COUNT(*) AS n_new
  FROM orders, ext WHERE o_orderdate >= TIMESTAMP '1997-01-01' GROUP BY 1
),
j AS (
  SELECT COALESCE(ob.bucket, nb.bucket) AS bucket,
         COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
  FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket
),
t AS (
  SELECT *, SUM(n_old) OVER () AS tot_o, SUM(n_new) OVER () AS tot_n FROM j
)
SELECT bucket, n_old, n_new,
       round(greatest(n_old / tot_o, 1e-6), 9) AS p_old,
       round(greatest(n_new / tot_n, 1e-6), 9) AS p_new,
       round((greatest(n_old / tot_o, 1e-6) - greatest(n_new / tot_n, 1e-6))
             * ln(greatest(n_old / tot_o, 1e-6)
                  / greatest(n_new / tot_n, 1e-6)), 9) AS psi_contrib
FROM t
"""


def q_dq_zscore_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score anomaly gate (operators/profile.py
    zscore_outliers, r6): order totals > 3σ from their priority-group
    mean.  Mean/σ derive from EXACT wide-integer sums (Spark
    decimal(38,0) / DuckDB HUGEINT — order-independent, overflow-free for
    Σcents²), cast to double once AFTER summing, so the flag threshold is
    bit-identical across engines — the float-discipline pattern the r5
    snapshot-diff bug mandated."""
    from radohydro_spark.operators.profile import zscore_outliers

    o = _t(spark, sf_dir, "orders")
    return zscore_outliers(o, "o_totalprice", ["o_orderpriority"], z=3.0)


ORACLE_ZSCORE_OUTLIERS = """
WITH s AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS s1,
         SUM(CAST(round(o_totalprice * 100) AS HUGEINT)
             * CAST(round(o_totalprice * 100) AS HUGEINT)) AS s2
  FROM orders GROUP BY 1
),
m AS (
  SELECT o_orderpriority, n,
         CAST(s1 AS DOUBLE) / n AS mean_c,
         sqrt(greatest(CAST(s2 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n),
                       0.0)) AS sd_c
  FROM s
)
SELECT o.o_orderpriority,
       m.n AS n,
       CAST(SUM(CASE WHEN abs(round(o.o_totalprice * 100) - m.mean_c)
                          > 3.0 * m.sd_c THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       round(m.mean_c / 100, 6) AS mean_value,
       round(m.sd_c / 100, 6) AS stddev_value
FROM orders o JOIN m USING (o_orderpriority)
GROUP BY o.o_orderpriority, m.n, m.mean_c, m.sd_c
"""


def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counting (operators/graph.py triangle_count,
    r6): a deterministic hash-graph over customer keys — edges
    (c, (c·7+3) mod N) and (c, (c·13+5) mod N) — counted with the
    degree-ORIENTED wedge join (each undirected edge directed toward its
    higher-(degree, id) endpoint, so Σ out-deg² is O(E^1.5) even under
    power-law skew).  The oracle enumerates a<b<c triangles with plain
    self-joins — mathematically the same multiset, so integer counts must
    match exactly."""
    from radohydro_spark.operators.graph import triangle_count

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    nn = c.agg((F.max("c_custkey") + 1).alias("nn"))
    base = c.crossJoin(F.broadcast(nn))
    edges = (
        base.select(
            F.col("c_custkey").alias("src"),
            ((F.col("c_custkey") * 7 + 3) % F.col("nn")).alias("dst"),
        )
        .unionAll(
            base.select(
                F.col("c_custkey"),
                ((F.col("c_custkey") * 13 + 5) % F.col("nn")),
            )
        )
        # third family closes each wedge into a guaranteed triangle
        .unionAll(
            base.select(
                ((F.col("c_custkey") * 7 + 3) % F.col("nn")),
                ((F.col("c_custkey") * 13 + 5) % F.col("nn")),
            )
        )
    )
    return triangle_count(edges)


ORACLE_TRIANGLE_COUNT = """
WITH nmax AS (SELECT max(c_custkey) + 1 AS nn FROM customer),
raw AS (
  SELECT c_custkey AS s, (c_custkey * 7 + 3) % nn AS d FROM customer, nmax
  UNION ALL
  SELECT c_custkey, (c_custkey * 13 + 5) % nn FROM customer, nmax
  UNION ALL
  SELECT (c_custkey * 7 + 3) % nn, (c_custkey * 13 + 5) % nn
  FROM customer, nmax
),
e AS (
  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
  FROM raw WHERE s <> d
),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1
  JOIN e e2 ON e2.u = e1.v
  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
)
SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS node FROM tri) t
GROUP BY node
"""


def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over event types (r6): the
    behavioural model behind next-action prediction and funnel synthesis.
    Consecutive pairs per user (lead over (ts, event_id)), counted per
    (src, dst), normalized per src row — counts are exact integers and
    the probability is one deterministic division, so the matrix is
    hash-exact.  One window + one groupBy + one per-src window sum."""
    _utc(spark)
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    trans = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy(
            F.col("event_type").alias("src"), F.col("nxt").alias("dst")
        )
        .agg(F.count("*").alias("n"))
    )
    tot = F.sum("n").over(W.partitionBy("src"))
    return trans.select(
        "src", "dst", "n", F.round(F.col("n") / tot, 9).alias("p")
    )


ORACLE_MARKOV_TRANSITIONS = """
WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS nxt
  FROM events
),
trans AS (
  SELECT event_type AS src, nxt AS dst, COUNT(*) AS n
  FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
)
SELECT src, dst, n,
       round(n / SUM(n) OVER (PARTITION BY src), 9) AS p
FROM trans
"""


def q_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation with EXACT integer moment sums (r6):
    corr(quantity, extendedprice) per return flag over lineitem.  All
    five moments (Σx, Σy, Σxy, Σx², Σy²) accumulate in wide decimal
    (Spark decimal(38,0) / DuckDB HUGEINT) on integer-quantized values —
    order-independent and overflow-free — with ONE cast to double after
    summing, so the final r is bit-identical across engines (same
    discipline as dq_zscore_outliers; a float ``corr()`` aggregate would
    hash-drift with partial-aggregation order)."""
    l = _t(spark, sf_dir, "lineitem")
    x = F.round(F.col("l_quantity")).cast("decimal(38,0)")
    y = F.round(F.col("l_extendedprice") * 100).cast("decimal(38,0)")
    s = l.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
        F.sum(y * y).alias("_syy"),
    )
    num = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast(
        "double"
    )
    d1 = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast(
        "double"
    )
    d2 = (F.col("n") * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast(
        "double"
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(num / F.sqrt(d1 * d2), 9).alias("corr_qty_price"),
    )


ORACLE_CORRELATION = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         SUM(CAST(round(l_quantity) AS HUGEINT)) AS sx,
         SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sy,
         SUM(CAST(round(l_quantity) AS HUGEINT)
             * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS sxy,
         SUM(CAST(round(l_quantity) AS HUGEINT)
             * CAST(round(l_quantity) AS HUGEINT)) AS sxx,
         SUM(CAST(round(l_extendedprice * 100) AS HUGEINT)
             * CAST(round(l_extendedprice * 100) AS HUGEINT)) AS syy
  FROM lineitem GROUP BY 1
)
SELECT l_returnflag, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 9)
         AS corr_qty_price
FROM s
"""


def q_media_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize (operators/multimodal.py resize_media fake=False,
    r6): BMP fixtures (same law as media_decode_bmp) decode → nearest-
    neighbor resample to 4x3 (out[y,x] = in[y·h//3, x·w//4], exact
    integer index map) → lossless PNG re-encode → chained back through
    ``decode_media``.  Retires the resize fake twin: every stage is a
    real codec; the oracle recomputes the resampled pixel law in closed
    form."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.bmp import encode_bmp

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 8 + did % 5
                h = 6 + did % 7
                i = np.arange(w * h, dtype=np.int64)
                px = ((did * 31 + i * 7) % 256).astype(np.uint8).reshape(h, w)
                ids.append(did)
                payloads.append(encode_bmp(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    bmp = docs.mapInPandas(gen, schema="media_id long, payload binary")
    resized = MM.resize_media(bmp, 4, 3, fake=False)
    return MM.decode_media(resized).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_RESIZE_REAL = """
WITH m AS (
  SELECT doc_id AS media_id,
         8 + doc_id % 5 AS w,
         6 + doc_id % 7 AS h
  FROM documents
),
px AS (
  SELECT media_id, w, h, unnest(range(0, 12)) AS k FROM m
),
mapped AS (
  SELECT media_id, w, h,
         ((k // 4) * h) // 3 AS sy,
         ((k % 4) * w) // 4 AS sx
  FROM px
)
SELECT media_id,
       4 AS width,
       3 AS height,
       1 AS channels,
       round(avg(CAST((media_id * 31 + (sy * w + sx) * 7) % 256 AS DOUBLE)), 4)
         AS mean_intensity
FROM mapped
GROUP BY media_id
"""


def q_join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (operators/fuzzy.py blocked_fuzzy_join, r6):
    customer names are corrupted deterministically (digit at position 12
    replaced with 'X') and re-matched against the clean roster by edit
    distance — blocked on the UNCHANGED last-4-chars substring, so the
    cross product collapses to an equi-join whose cost tracks block
    size.  ``levenshtein`` is a built-in on both engines with identical
    semantics; every true match scores distance 1 and argmin ties break
    on the lower key.  The oracle mirrors block, distance, and argmin."""
    from radohydro_spark.operators.fuzzy import blocked_fuzzy_join

    c = _t(spark, sf_dir, "customer")
    blk = F.substring(F.col("c_name"), -4, 4)
    corrupted = c.select(
        F.col("c_custkey").alias("cid"),
        F.concat(
            F.substring("c_name", 1, 11),
            F.lit("X"),
            F.expr("substring(c_name, 13)"),
        ).alias("dirty_name"),
        blk.alias("blk"),
    )
    clean = c.select("c_custkey", "c_name", blk.alias("blk"))
    return blocked_fuzzy_join(
        corrupted,
        clean,
        block_col="blk",
        left_key="cid",
        right_key="c_custkey",
        left_name="dirty_name",
        right_name="c_name",
        max_distance=2,
    )


ORACLE_FUZZY_BLOCKED = """
WITH corrupted AS (
  SELECT c_custkey AS cid,
         substring(c_name, 1, 11) || 'X' || substring(c_name, 13)
           AS dirty_name,
         substring(c_name, length(c_name) - 3, 4) AS blk
  FROM customer
),
clean AS (
  SELECT c_custkey, c_name,
         substring(c_name, length(c_name) - 3, 4) AS blk
  FROM customer
),
scored AS (
  SELECT l.cid, r.c_custkey, levenshtein(l.dirty_name, r.c_name) AS d
  FROM corrupted l JOIN clean r USING (blk)
)
SELECT cid, c_custkey, CAST(d AS INT) AS distance
FROM (SELECT *, row_number() OVER (PARTITION BY cid ORDER BY d, c_custkey)
        AS rn
      FROM scored WHERE d <= 2) t
WHERE rn = 1
"""


def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (r6): recency (days since last order at
    the corpus max date), frequency (order count), monetary (exact-cents
    total) → ntile(4) scores on each axis → 64-cell segment rollup.  The
    classic marketing/value segmentation, all windows + one aggregate.
    Every ntile orders by (metric, custkey) so tile assignment is total-
    order deterministic; monetary sums in exact cents.  The global-order
    ntile windows run on the CUSTOMER DIMENSION (one row per customer,
    post-aggregation), never on the fact table — the single-partition
    sort is dimension-sized by construction."""
    o = _t(spark, sf_dir, "orders")
    from pyspark.sql import Window as W

    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "monetary_cents"
        ),
    )
    anchor = o.agg(F.max("o_orderdate").alias("anchor"))
    r = per_cust.crossJoin(F.broadcast(anchor)).withColumn(
        "recency_days",
        F.datediff(F.col("anchor"), F.col("last_order")).cast("long"),
    )
    from radohydro_spark.plans.contracts import bounded_global

    def _ntile4(*order_cols):
        # customer-dimension global ntile — declared-bounded, cap-asserted
        # inside the window the plan already pays for (plans/contracts.py)
        return bounded_global(
            F.ntile(4), lambda w: w.orderBy(*order_cols), "int", "rfm_segments"
        )

    scored = r.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        _ntile4(F.col("recency_days").asc(), F.col("o_custkey").asc()).alias(
            "r_score"
        ),
        _ntile4(F.col("frequency").desc(), F.col("o_custkey").asc()).alias(
            "f_score"
        ),
        _ntile4(F.col("monetary_cents").desc(), F.col("o_custkey").asc()).alias(
            "m_score"
        ),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        (F.sum("monetary_cents") / F.lit(100.0)).alias("segment_revenue"),
    )


ORACLE_RFM_SEGMENTS = """
WITH per_cust AS (
  SELECT o_custkey,
         max(o_orderdate) AS last_order,
         COUNT(*) AS frequency,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS monetary_cents
  FROM orders GROUP BY 1
),
anchor AS (SELECT max(o_orderdate) AS anchor FROM orders),
r AS (
  SELECT p.*, date_diff('day', CAST(last_order AS DATE), CAST(anchor AS DATE))
           AS recency_days
  FROM per_cust p, anchor
),
scored AS (
  SELECT o_custkey, recency_days, frequency, monetary_cents,
         ntile(4) OVER (ORDER BY recency_days ASC, o_custkey ASC) AS r_score,
         ntile(4) OVER (ORDER BY frequency DESC, o_custkey ASC) AS f_score,
         ntile(4) OVER (ORDER BY monetary_cents DESC, o_custkey ASC) AS m_score
  FROM r
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_customers,
       SUM(monetary_cents) / 100.0 AS segment_revenue
FROM scored
GROUP BY 1, 2, 3
"""


def q_stats_skyline_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline / Pareto front (r6): orders minimizing price while
    maximizing... the dominance query behind multi-criteria candidate
    selection.  The naive form is an O(n²) dominance self-join; in 2-D
    ONE window does it exactly: sort by (price asc, qty desc) and keep a
    row iff its qty strictly exceeds the running max over all preceding
    rows — preceding rows have ≤ price, so any with ≥ qty dominates.
    Exact integers throughout ⇒ hash-exact oracle.  Input: distinct
    (price-cents, quantity) pairs — value-domain-sized, so the global
    window sort is bounded; at fact scale run per-partition local
    skylines first (dominance is transitive, local fronts union to a
    small merge set) and finish with this same window."""
    from pyspark.sql import Window as W

    l = _t(spark, sf_dir, "lineitem")
    from radohydro_spark.plans.contracts import bounded_global

    pts = l.select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        F.round(F.col("l_quantity")).cast("long").alias("qty"),
    ).distinct()
    # value-domain-sized distinct pairs — declared-bounded global sweep,
    # cap-asserted in-plan (plans/contracts.py)
    prevmax = bounded_global(
        F.max("qty"),
        lambda w: w.orderBy(
            F.col("price_c").asc(), F.col("qty").desc()
        ).rowsBetween(W.unboundedPreceding, -1),
        "bigint",
        "skyline_2d",
    )
    sky = (
        pts.withColumn("_prevmax", prevmax)
        .filter(F.col("_prevmax").isNull() | (F.col("qty") > F.col("_prevmax")))
        .select(
            (F.col("price_c") / F.lit(100.0)).alias("price"),
            "qty",
        )
    )
    return sky


ORACLE_SKYLINE_2D = """
WITH pts AS (
  SELECT DISTINCT CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                  CAST(round(l_quantity) AS BIGINT) AS qty
  FROM lineitem
),
runs AS (
  SELECT price_c, qty,
         max(qty) OVER (ORDER BY price_c ASC, qty DESC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prevmax
  FROM pts
)
SELECT price_c / 100.0 AS price, qty
FROM runs
WHERE prevmax IS NULL OR qty > prevmax
"""


def q_orders_stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE via foreachBatch (streaming/streams.py
    foreach_batch_upsert, r6): the orders change feed — upserts plus
    is_del tombstones for keys %10==0 — replayed as three micro-batches
    (maxFilesPerTrigger=1), each batch MERGEd into a parquet-backed
    target with the atomic staging-swap write protocol.  Keys are
    globally unique so the final table is batch-order independent; the
    oracle is simply the surviving membership.  Covers the foreachBatch
    API surface the availableNow queries don't."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import foreach_batch_upsert

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        "o_orderstatus",
        (F.col("o_orderkey") % 10 == 0).alias("is_del"),
    )
    work = tempfile.mkdtemp(prefix="stream_upsert_")
    src = work + "/changes"
    o.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(
            "o_orderkey long, o_totalprice double, o_orderstatus string, "
            "is_del boolean"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    target = work + "/target"
    foreach_batch_upsert(
        stream,
        target,
        ["o_orderkey"],
        "upsert_" + uuid.uuid4().hex[:8],
        work + "/ck",
        delete_col="is_del",
    )
    return spark.read.parquet(target).select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )


ORACLE_STREAM_UPSERT = """
SELECT o_orderkey, o_totalprice, o_orderstatus
FROM orders
WHERE o_orderkey % 10 <> 0
"""


def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram LM scoring (functions/text.py
    bigram_logprob, r6): add-0.5-smoothed p(w₂|w₁) over the corpus's own
    bigram counts — the word-order-sensitive perplexity proxy above the
    unigram signal.  One posexplode + lead window for adjacency, two
    count aggregates, one bigram equi-join; the oracle mirrors the
    tokenization (shared _SQL_TOKS), the history-count smoothing, and
    the per-doc rollup."""
    from radohydro_spark.functions.text import bigram_logprob

    d = _t(spark, sf_dir, "documents")
    return bigram_logprob(d, alpha=0.5)


ORACLE_BIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, i, lower(tok) AS tok
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok,
               generate_subscripts({_SQL_TOKS}, 1) AS i
        FROM documents) t
  WHERE tok <> ''
),
pairs AS (
  SELECT doc_id, tok, nxt FROM (
    SELECT doc_id, tok,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
    FROM toks) z
  WHERE nxt IS NOT NULL
),
c2 AS (SELECT tok, nxt, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2),
c1 AS (SELECT tok, COUNT(*) AS c1 FROM pairs GROUP BY 1),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vv FROM toks),
scored AS (
  SELECT p.doc_id,
         ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * (SELECT vv FROM v))) AS lp
  FROM pairs p JOIN c2 USING (tok, nxt) JOIN c1 USING (tok)
)
SELECT doc_id,
       COUNT(*) AS n_bigrams,
       round(SUM(lp), 4) AS sum_logprob,
       round(AVG(lp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""


def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped inverted index (functions/text.py inverted_index, r6):
    term → (df, first 10 doc ids) over the corpus — the retrieval
    structure behind contamination lookups.  Postings cap via
    row_number BEFORE collect_list (a universal stop-word costs k array
    slots, not an OOM).  Exact-integer df and sorted integer postings ⇒
    hash-exact oracle.

    Driver contract (r9): the postings ARRAY is projected through
    ``array_join`` to a CSV string — the driver's canonicalizer sorts
    rows in pandas and cannot hash list cells (the r7/r8 ``err`` rows).
    The array form stays covered by the local unit tests."""
    from radohydro_spark.functions.text import inverted_index

    d = _t(spark, sf_dir, "documents")
    idx = inverted_index(d, max_postings=10)
    return idx.select(
        "term", "df", F.array_join("postings", ",").alias("postings_csv")
    )


ORACLE_INVERTED_INDEX = """
WITH tok AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
        FROM documents) t
  WHERE term <> ''
),
dfc AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY 1),
capped AS (
  SELECT term, doc_id FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn
    FROM tok) z
  WHERE rn <= 10
),
p AS (
  SELECT term, list(doc_id ORDER BY doc_id) AS postings FROM capped GROUP BY 1
)
SELECT d.term, d.df, array_to_string(p.postings, ',') AS postings_csv
FROM dfc d JOIN p USING (term)
"""


# shared between the CDC diff and CDC apply queries: the integer-exact
# reprice (see q_orders_snapshot_diff docstring for why cents)
_REPRICE_SPARK = (
    "((CAST(round(o_totalprice * 100) AS BIGINT) * 11 + 5) DIV 10) / 100.0"
)


def q_media_decode_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """YCbCr COLOR JPEG decode (sources/jpeg.py r6 color extension):
    4:2:0-subsampled three-component JPEGs — 16x16 MCU interleave, two
    quant tables, four Huffman tables, chroma upsampling, BT.601 color
    transform — built and decoded entirely by the from-scratch codec.
    Fixture law: gray content (R=G=B) in constant 16x16 MCUs, value
    (doc_id*37 + m*11) % 256 on a (1 + doc_id%2)-MCU row — gray constant
    MCUs give Y==v and Cb==Cr==128 EXACTLY, so the lossy color path
    round-trips bit-exactly and the oracle is closed-form."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.jpeg import encode_jpeg_color

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                mw = 1 + did % 2
                m = np.arange(mw, dtype=np.int64)
                vals = ((did * 37 + m * 11) % 256).astype(np.uint8).reshape(1, mw)
                gray = np.kron(vals, np.ones((16, 16), dtype=np.uint8))
                rgb = np.stack([gray] * 3, axis=2)
                ids.append(did)
                payloads.append(encode_jpeg_color(rgb))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    jpg = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return MM.decode_media(jpg).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_DECODE_JPEG_COLOR = """
WITH m AS (
  SELECT doc_id AS media_id, 1 + doc_id % 2 AS mw FROM documents
),
mcu AS (
  SELECT media_id, mw, unnest(range(0, mw)) AS b FROM m
)
SELECT media_id,
       CAST(mw * 16 AS INT) AS width,
       16 AS height,
       3 AS channels,
       round(avg(CAST((media_id * 37 + b * 11) % 256 AS DOUBLE)), 4)
         AS mean_intensity
FROM mcu
GROUP BY media_id, mw
"""


def q_media_decode_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real end-to-end GIF decode (sources/gif.py, r6): deterministic
    grayscale GIF87a payloads — gray global palette, sub-block framing,
    uncompressed-variant LZW with CLEAR-every-250 — decoded back through
    ``decode_media``'s real variable-width LZW decoder (dictionary
    rebuild, KwKwK case, 12-bit cap; unit-tested against a giflib-style
    growing-dictionary encoder too).  GIF is lossless, so the fixture
    law round-trips bit-exactly: pixel(i) = (doc_id*41 + i*13) % 256 on
    a (5 + doc_id%4) x (7 + doc_id%6) grid; closed-form oracle."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.gif import encode_gif

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                w = 7 + did % 6
                h = 5 + did % 4
                i = np.arange(w * h, dtype=np.int64)
                px = ((did * 41 + i * 13) % 256).astype(np.uint8).reshape(h, w)
                ids.append(did)
                payloads.append(encode_gif(px))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    gif = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return MM.decode_media(gif).select(
        "media_id",
        "width",
        "height",
        "channels",
        F.round("mean_intensity", 4).alias("mean_intensity"),
    )


ORACLE_MEDIA_DECODE_GIF = """
WITH m AS (
  SELECT doc_id AS media_id,
         7 + doc_id % 6 AS w,
         5 + doc_id % 4 AS h
  FROM documents
),
px AS (
  SELECT media_id, w, h, unnest(range(0, w * h)) AS i FROM m
)
SELECT media_id,
       CAST(w AS INT) AS width,
       CAST(h AS INT) AS height,
       1 AS channels,
       round(avg(CAST((media_id * 41 + i * 13) % 256 AS DOUBLE)), 4)
         AS mean_intensity
FROM px
GROUP BY media_id, w, h
"""


def q_stats_groupwise_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise OLS trend fit (r6): slope/intercept of order value over
    time per priority class — the "is this segment growing" regression
    every dashboard runs, computed distributively from the five exact
    integer moment sums (x = days since 1995-01-01, y = price cents;
    decimal(38,0)/HUGEINT accumulation, one cast to double after
    summing — the same cross-engine float discipline as
    stats_correlation).  slope = (nΣxy - ΣxΣy)/(nΣx² - (Σx)²),
    intercept = (Σy - slope·Σx)/n, identical expression order both
    engines."""
    o = _t(spark, sf_dir, "orders")
    x = F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")).cast(
        "decimal(38,0)"
    )
    y = F.round(F.col("o_totalprice") * 100).cast("decimal(38,0)")
    s = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.sum(x).alias("_sx"),
        F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"),
        F.sum(x * x).alias("_sxx"),
    )
    num = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    slope = num / den
    intercept = (F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")) / F.col("n")
    return s.select(
        "o_orderpriority",
        "n",
        F.round(slope / 100, 9).alias("slope_per_day"),
        F.round(intercept / 100, 4).alias("intercept_price"),
    )


ORACLE_GROUPWISE_OLS = """
WITH s AS (
  SELECT o_orderpriority,
         COUNT(*) AS n,
         SUM(CAST(date_diff('day', DATE '1995-01-01',
                            CAST(o_orderdate AS DATE)) AS HUGEINT)) AS sx,
         SUM(CAST(round(o_totalprice * 100) AS HUGEINT)) AS sy,
         SUM(CAST(date_diff('day', DATE '1995-01-01',
                            CAST(o_orderdate AS DATE)) AS HUGEINT)
             * CAST(round(o_totalprice * 100) AS HUGEINT)) AS sxy,
         SUM(CAST(date_diff('day', DATE '1995-01-01',
                            CAST(o_orderdate AS DATE)) AS HUGEINT)
             * CAST(date_diff('day', DATE '1995-01-01',
                              CAST(o_orderdate AS DATE)) AS HUGEINT)) AS sxx
  FROM orders GROUP BY 1
)
SELECT o_orderpriority, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) / 100, 9) AS slope_per_day,
       round((CAST(sy AS DOUBLE)
              - CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)
                * CAST(sx AS DOUBLE)) / n / 100, 4) AS intercept_price
FROM s
"""


def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS shortest hops (operators/graph.py bfs_hops, r6)
    over the deterministic customer hash-graph (same construction as
    graph_triangle_count), source node 1 — per-level frontier equi-join +
    visited anti-join, localCheckpoint lineage truncation.  The oracle is
    a DuckDB recursive CTE taking min(hops) per node under the same
    20-hop cap; integer distances must match exactly."""
    from radohydro_spark.operators.graph import bfs_hops

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    nn = c.agg((F.max("c_custkey") + 1).alias("nn"))
    base = c.crossJoin(F.broadcast(nn))
    edges = base.select(
        F.col("c_custkey").alias("src"),
        ((F.col("c_custkey") * 7 + 3) % F.col("nn")).alias("dst"),
    ).unionAll(
        base.select(
            F.col("c_custkey"), ((F.col("c_custkey") * 13 + 5) % F.col("nn"))
        )
    )
    return bfs_hops(edges, 1, max_hops=20)


ORACLE_BFS_HOPS = """
WITH RECURSIVE nmax AS (SELECT max(c_custkey) + 1 AS nn FROM customer),
raw AS (
  SELECT c_custkey AS s, (c_custkey * 7 + 3) % nn AS d FROM customer, nmax
  UNION ALL
  SELECT c_custkey, (c_custkey * 13 + 5) % nn FROM customer, nmax
),
e AS (
  SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
  FROM raw WHERE s <> d
),
und AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v AS a, u AS b FROM e),
r AS (
  SELECT CAST(1 AS BIGINT) AS node, 0 AS hops
  UNION
  SELECT und.b, r.hops + 1
  FROM r JOIN und ON und.a = r.node
  WHERE r.hops < 20
)
SELECT node, CAST(min(hops) AS INT) AS hops
FROM r GROUP BY node
"""


def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys (r6): each user's first four events (ordered by
    (ts, event_id) — total-order deterministic) joined into a path
    string, counted, top-20 by frequency with path tie-break — the
    funnel-discovery rollup behind "what do users actually do first".
    One window + two map-side-combinable aggregates +
    TakeOrderedAndProject; path assembly via array_sort over (rn, type)
    structs, no ordered-aggregation dependency."""
    _utc(spark)
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 4)
    paths = seq.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                lambda x: x["event_type"],
            ),
            ">",
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


ORACLE_TOP_PATHS = """
WITH seq AS (
  SELECT user_id, event_type,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
p AS (
  SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
  FROM seq WHERE rn <= 4 GROUP BY user_id
)
SELECT path, COUNT(*) AS n_users
FROM p GROUP BY path
ORDER BY n_users DESC, path ASC
LIMIT 20
"""


def q_corpus_zip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP corpus interchange (sources/manifest.py expand_zips, r6):
    documents are sharded into four DEFLATE zip archives executor-side
    (one JSONL member each, sorted for determinism), expanded back
    through the manifest layer's zip walker, line-split, parsed with
    ``from_json`` (JVM-side), and aggregated per language — the
    most common public-corpus drop format riding the same
    manifest→expand→decode shape as the reference's tar path (S4)."""
    import io
    import json
    import zipfile

    import pandas as pd

    from radohydro_spark.sources.manifest import expand_zips

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    def build(key, pdf):
        g = int(key[0])
        pdf = pdf.sort_values("doc_id")
        lines = "\n".join(
            json.dumps(
                {
                    "doc_id": int(r.doc_id),
                    "lang": r.lang,
                    "n_chars": int(r.n_chars),
                },
                sort_keys=True,
            )
            for r in pdf.itertuples()
        )
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
            zf.writestr(f"shard-{g}.jsonl", lines)
        return pd.DataFrame(
            {"fname": [f"corpus-{g}.zip"], "payload": [buf.getvalue()]}
        )

    zips = (
        d.withColumn("g", F.col("doc_id") % 4)
        .groupBy("g")
        .applyInPandas(build, "fname string, payload binary")
    )
    members = expand_zips(zips)
    parsed = (
        members.select(
            F.explode(F.split(F.col("payload").cast("string"), "\n")).alias(
                "line"
            )
        )
        .select(
            F.from_json(
                "line", "doc_id long, lang string, n_chars long"
            ).alias("j")
        )
        .select("j.*")
    )
    return parsed.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.min("doc_id").alias("min_doc"),
        F.max("doc_id").alias("max_doc"),
    )


ORACLE_ZIP_ROUNDTRIP = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


def q_geo_geohash_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geohash spatial binning (geometry/geohash.py, r6): deterministic
    lat/lon per customer (closed-form law), 6-char geohash as ONE folded
    integer expression (30-bit interleave, base32) — the hierarchical
    spatial GROUP BY key; rolled up on the 3-char prefix (~156 km
    cells).  Verified against published geohash test vectors in unit
    tests; the oracle renders the identical bit arithmetic in SQL."""
    from radohydro_spark.geometry.geohash import geohash

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        "c_custkey",
        (-90.0 + (F.col("c_custkey") * 7919 % 18000) / 100.0).alias("lat"),
        (-180.0 + (F.col("c_custkey") * 104729 % 36000) / 100.0).alias("lon"),
    )
    g = pts.withColumn("gh", geohash("lat", "lon", 6))
    return (
        g.groupBy(F.substring("gh", 1, 3).alias("cell"))
        .agg(
            F.count("*").alias("n_points"),
            F.min("gh").alias("first_hash"),
            F.min("c_custkey").alias("min_key"),
        )
        .orderBy(F.desc("n_points"), F.asc("cell"))
        .limit(25)
    )


def _geohash_bins_oracle() -> str:
    from radohydro_spark.geometry.geohash import geohash_sql

    gh = geohash_sql("lat", "lon", 6)
    return f"""
WITH pts AS (
  SELECT c_custkey,
         -90.0 + (c_custkey * 7919 % 18000) / 100.0 AS lat,
         -180.0 + (c_custkey * 104729 % 36000) / 100.0 AS lon
  FROM customer
),
g AS (SELECT c_custkey, {gh} AS gh FROM pts)
SELECT substring(gh, 1, 3) AS cell,
       COUNT(*) AS n_points,
       MIN(gh) AS first_hash,
       MIN(c_custkey) AS min_key
FROM g
GROUP BY 1
ORDER BY n_points DESC, cell ASC
LIMIT 25
"""


def q_geo_haversine_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Great-circle 1-NN (geometry/geohash.py haversine_m, r6): the first
    25 customer points find their nearest neighbor among ALL points by
    haversine meters — broadcast the small query side, map-side min_by
    argmin with key tie-break, identical expression order both engines.
    Distances are rounded to 6 decimals BEFORE the argmin (r7): JVM
    sin/cos/asin and Java toRadians differ from DuckDB libm by ulps, so
    near-equidistant candidates could otherwise flip the argmin."""
    from radohydro_spark.geometry.geohash import haversine_m

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    pts = c.select(
        "c_custkey",
        (-90.0 + (F.col("c_custkey") * 7919 % 18000) / 100.0).alias("lat"),
        (-180.0 + (F.col("c_custkey") * 104729 % 36000) / 100.0).alias("lon"),
    )
    q = pts.filter(F.col("c_custkey") < 25).select(
        F.col("c_custkey").alias("qid"),
        F.col("lat").alias("qlat"),
        F.col("lon").alias("qlon"),
    )
    d = haversine_m(
        F.col("qlat"), F.col("qlon"), F.col("lat"), F.col("lon")
    )
    scored = (
        pts.crossJoin(F.broadcast(q))
        .filter(F.col("c_custkey") != F.col("qid"))
        .withColumn("dist_m", F.round(d, 6))
    )
    best = scored.groupBy("qid").agg(
        F.min_by(
            F.struct("c_custkey", "dist_m"),
            F.struct("dist_m", "c_custkey"),
        ).alias("nn")
    )
    return best.select(
        "qid",
        F.col("nn.c_custkey").alias("nearest"),
        F.round(F.col("nn.dist_m"), 3).alias("dist_m"),
    )


def _haversine_nearest_oracle() -> str:
    from radohydro_spark.geometry.geohash import HAVERSINE_SQL

    hs = HAVERSINE_SQL.format(
        lat1="q.lat", lon1="q.lon", lat2="p.lat", lon2="p.lon"
    )
    return f"""
WITH pts AS (
  SELECT c_custkey,
         -90.0 + (c_custkey * 7919 % 18000) / 100.0 AS lat,
         -180.0 + (c_custkey * 104729 % 36000) / 100.0 AS lon
  FROM customer
),
scored AS (
  SELECT q.c_custkey AS qid, p.c_custkey AS pid, round({hs}, 6) AS dist_m
  FROM (SELECT * FROM pts WHERE c_custkey < 25) q
  JOIN pts p ON p.c_custkey <> q.c_custkey
)
SELECT qid, pid AS nearest, round(dist_m, 3) AS dist_m
FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                   ORDER BY dist_m, pid) AS rn
      FROM scored) t
WHERE rn = 1
"""


def q_events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join (operators/rangejoin.py
    interval_overlap_join, r6): each event's 300-second activity span
    against 12 one-hour analysis windows laid every two hours from the
    corpus start — bucketized to an hash equi-join (bucket fan-out +
    residual predicate), NO BroadcastNestedLoopJoin.  The oracle runs
    the plain inequality join; per-window match counts must agree
    exactly."""
    _utc(spark)
    from radohydro_spark.operators.rangejoin import interval_overlap_join

    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.min(F.col("ts").cast("double")).alias("t0"))
    spans = ev.crossJoin(F.broadcast(anchor)).select(
        "event_id",
        (F.col("ts").cast("double")).alias("l_lo"),
        (F.col("ts").cast("double") + 300.0).alias("l_hi"),
    )
    k = spark.range(0, 12).select(F.col("id").alias("window_id"))
    windows = k.crossJoin(F.broadcast(anchor)).select(
        "window_id",
        (F.col("t0") + F.col("window_id") * 7200.0).alias("r_lo"),
        (F.col("t0") + F.col("window_id") * 7200.0 + 3600.0).alias("r_hi"),
    )
    pairs = interval_overlap_join(spans, windows, bucket_width=3600.0)
    return pairs.groupBy("window_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


ORACLE_INTERVAL_OVERLAP = """
WITH anchor AS (SELECT min(epoch(ts)) AS t0 FROM events),
spans AS (
  SELECT event_id, epoch(ts) AS l_lo, epoch(ts) + 300.0 AS l_hi FROM events
),
win AS (
  SELECT w.range AS window_id,
         t0 + w.range * 7200.0 AS r_lo,
         t0 + w.range * 7200.0 + 3600.0 AS r_hi
  FROM range(12) w, anchor
)
SELECT window_id, COUNT(*) AS n_events,
       MIN(event_id) AS first_event, MAX(event_id) AS last_event
FROM spans s JOIN win ON s.l_lo < win.r_hi AND win.r_lo < s.l_hi
GROUP BY window_id
"""


def q_storage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel (sinks/versioned.py, r6): three versions of
    an orders extract are committed — v1 base, v2 integer-exact reprice
    of keys %7==0, v3 drops keys %10==0 — each an immutable ``v=<n>``
    snapshot behind an atomically-replaced manifest.  The query reads
    ``AS OF`` v2 and diffs v3 against v2 through ``snapshot_diff``,
    emitting version row counts plus the change-class breakdown; the
    oracle derives every number from the membership/reprice laws."""
    import tempfile

    from radohydro_spark.operators.merge import snapshot_diff
    from radohydro_spark.sinks.versioned import read_as_of, write_version

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v2_df = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.expr(_REPRICE_SPARK)).otherwise(
            F.col("o_totalprice")
        ),
    )
    v3_df = v2_df.filter(F.col("o_orderkey") % 10 != 0)
    path = tempfile.mkdtemp(prefix="ttravel_") + "/orders_versions"
    write_version(o, path, "base")
    write_version(v2_df, path, "reprice")
    write_version(v3_df, path, "purge")

    as_of_2 = read_as_of(spark, path, 2)
    latest = read_as_of(spark, path)
    d = snapshot_diff(as_of_2, latest, ["o_orderkey"])
    counts = d.groupBy("change_type").agg(F.count("*").alias("n"))
    meta = spark.createDataFrame(
        [
            ("rows_v2", 0),
            ("rows_latest", 1),
        ],
        "change_type string, _ord int",
    ).select(
        "change_type",
        F.when(F.col("_ord") == 0, F.lit(as_of_2.count()))
        .otherwise(F.lit(latest.count()))
        .cast("long")
        .alias("n"),
    )
    return counts.unionByName(meta)


ORACLE_TIME_TRAVEL = """
SELECT 'delete' AS change_type, COUNT(*) AS n
FROM orders WHERE o_orderkey % 10 = 0
UNION ALL
SELECT 'rows_v2', COUNT(*) FROM orders
UNION ALL
SELECT 'rows_latest', COUNT(*) FROM orders WHERE o_orderkey % 10 <> 0
"""


def q_orders_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC replay (operators/merge.py apply_changes, r6): the inverse of
    snapshot_diff — apply the diff's insert/delete/update feed back onto
    v1 and the result must BE v2, row for row.  One key-shuffle join of
    the snapshot against the delta-sized feed plus a union of inserts;
    the oracle constructs v2 directly from the membership/reprice
    predicates, so any replay defect (dropped delete, stale update,
    double-applied insert) breaks the hash."""
    from radohydro_spark.operators.merge import apply_changes, snapshot_diff

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    v1 = o.filter(F.col("o_orderkey") % 10 != 3)
    v2 = o.filter(F.col("o_orderkey") % 10 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, F.expr(_REPRICE_SPARK)).otherwise(
            F.col("o_totalprice")
        ),
    )
    d = snapshot_diff(v1, v2, ["o_orderkey"])
    return apply_changes(v1, d, ["o_orderkey"])


ORACLE_CDC_APPLY = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0
            THEN ((CAST(round(o_totalprice * 100) AS BIGINT) * 11 + 5) // 10) / 100.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderstatus
FROM orders
WHERE o_orderkey % 10 <> 0
"""


def q_events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval concurrency via sweep-line (operators/intervals.py, r6):
    every event opens a 300-second half-open interval; peak simultaneous
    intervals per event_type plus the earliest instant the peak is hit.
    The O(n²) interval self-join is re-expressed as union(+1/-1 deltas) +
    one ranged running sum per event_type (plans.contracts.ranged_cumsum:
    driver-fixed ranges, so a hot type splits) + one map-side-combinable
    max_by — no interval self-join.
    Tie policy: ends sort before starts at the same instant (half-open
    semantics), identical ORDER BY (t, delta) in the oracle."""
    _utc(spark)
    from radohydro_spark.operators.intervals import peak_concurrency

    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("INTERVAL 300 SECONDS")).alias("end_ts"),
    )
    out = peak_concurrency(e, "start_ts", "end_ts", ["event_type"])
    return out.select(
        "event_type",
        F.col("peak").cast("long").alias("peak"),
        F.date_format("peak_at", "yyyy-MM-dd HH:mm:ss").alias("peak_at"),
    )


ORACLE_CONCURRENCY_SWEEP = """
WITH sweep AS (
  SELECT event_type, ts AS t, 1 AS delta FROM events
  UNION ALL
  SELECT event_type, ts + INTERVAL 300 SECOND, -1 FROM events
),
run AS (
  SELECT event_type, t,
         SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS c
  FROM sweep
)
SELECT event_type, CAST(c AS BIGINT) AS peak,
       strftime(t, '%Y-%m-%d %H:%M:%S') AS peak_at
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY c DESC, t ASC) AS rn
      FROM run) z
WHERE rn = 1
"""


def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss sign projection (operators/similarity.py
    random_projection_int, r6): 64 float dims -> 16 ±1 hyperplanes with
    EXACT integer arithmetic — inputs quantize to round(x·1000) BIGINTs,
    the matrix cell sign is the closed-form hash ((i·2654435761 +
    j·40503) % 97) % 2, so every projection is an order-independent
    integer dot product both engines reproduce bit-exactly.  Emits the
    first 4 components + the exact squared norm of all 16."""
    e = _t(spark, sf_dir, "embeddings")
    out = SIM.random_projection_int(e, out_dims=16, scale=1000)
    return out.select("vec_id", "y0", "y1", "y2", "y3", "l2q")


ORACLE_RANDOM_PROJECTION = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT))
           AS qv
  FROM embeddings
),
proj AS (
  SELECT vec_id, j.range AS j,
         CAST(list_sum(list_transform(range(len(qv)),
              i -> qv[i + 1] * (CASE WHEN ((i * 2654435761 + j.range * 40503)
                                           % 97) % 2 = 0
                                     THEN 1 ELSE -1 END))) AS BIGINT) AS y
  FROM q, range(16) j
)
SELECT vec_id,
       MAX(CASE WHEN j = 0 THEN y END) AS y0,
       MAX(CASE WHEN j = 1 THEN y END) AS y1,
       MAX(CASE WHEN j = 2 THEN y END) AS y2,
       MAX(CASE WHEN j = 3 THEN y END) AS y3,
       CAST(SUM(y * y) AS BIGINT) AS l2q
FROM proj
GROUP BY vec_id
"""


def q_stats_histogram_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (r6): 20 buckets between the
    global min/max — the profiling primitive behind every distribution
    dashboard.  The global extrema are a 1-row aggregate crossJoined
    (broadcast) onto the scan, then one groupBy(bucket) — two narrow
    shuffles total, map-side combinable.  Bucket arithmetic uses the
    identical expression order on both engines so edge values land in the
    same bucket bit-for-bit."""
    o = _t(spark, sf_dir, "orders")
    ext = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    b = (
        o.crossJoin(F.broadcast(ext))
        .withColumn(
            "bucket",
            F.least(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    / ((F.col("hi") - F.col("lo")) / F.lit(20.0))
                ),
                F.lit(19),
            ).cast("long"),
        )
    )
    return b.groupBy("bucket").agg(
        F.count("*").alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
        F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
    )


ORACLE_HISTOGRAM_ORDERS = """
WITH ext AS (
  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
),
b AS (
  SELECT o_totalprice,
         CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 20.0)), 19)
              AS BIGINT) AS bucket
  FROM orders, ext
)
SELECT bucket, COUNT(*) AS n,
       round(min(o_totalprice), 2) AS bucket_min,
       round(max(o_totalprice), 2) AS bucket_max
FROM b
GROUP BY bucket
"""


def q_text_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL decomposition for web-corpus curation (r6, de-sensitized r7):
    deterministic URLs are derived from each document (host = source +
    lang zone, path carries the doc id), then decomposed with
    ``regexp_extract`` — the registrable-domain grouping every crawl
    pipeline does before per-site caps.  r6 used ``parse_url`` (JVM
    ``java.net.URI``), whose host/path edge cases vary by JVM version and
    have no expression twin in DuckDB; the driver hash went red while the
    local gate was green.  The regex is mirrored VERBATIM in the oracle so
    both engines run the identical decomposition.  Aggregates per host:
    page count, distinct languages, total chars."""
    d = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit("."),
        F.col("lang"),
        F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref=crawl"),
    )
    u = d.withColumn("url", url).select(
        "doc_id",
        "lang",
        "n_chars",
        F.regexp_extract("url", r"^https://([^/?]+)", 1).alias("host"),
        F.regexp_extract("url", r"^https://[^/?]+(/[^?]*)", 1).alias("path"),
        F.regexp_extract("url", r"\?(.*)$", 1).alias("query"),
    )
    return (
        u.filter(F.col("query") == "ref=crawl")
        .groupBy("host")
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            F.min(
                F.regexp_extract("path", r"/docs/(\d+)", 1).cast("long")
            ).alias("min_doc_id"),
        )
    )


ORACLE_URL_PARSE = """
WITH raw AS (
  SELECT doc_id, lang, n_chars,
         'https://' || source || '.' || lang || '.example.com/docs/'
           || CAST(doc_id AS VARCHAR) || '?ref=crawl' AS url
  FROM documents
),
u AS (
  SELECT doc_id, lang, n_chars,
         regexp_extract(url, '^https://([^/?]+)', 1) AS host,
         regexp_extract(url, '^https://[^/?]+(/[^?]*)', 1) AS path,
         regexp_extract(url, '\\?(.*)$', 1) AS query
  FROM raw
)
SELECT host, COUNT(*) AS n_pages,
       COUNT(DISTINCT lang) AS n_langs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(CAST(regexp_extract(path, '/docs/(\\d+)', 1) AS BIGINT))
         AS min_doc_id
FROM u
WHERE query = 'ref=crawl'
GROUP BY host
"""


def q_udtf_word_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (SURVEY §2.10, r6): a real Spark 4
    ``@udtf`` table function — ``word_chunks(text)`` lateral-explodes
    each document into fixed 10-word chunks with index and word count
    (the context-window pre-chunking step of a training pipeline).
    Registered and invoked through SQL ``LATERAL``, so the UDTF protocol
    (analyze-less static schema, per-row yield, lateral correlation) is
    exercised end-to-end; the oracle re-chunks with list functions.  The
    hot-path chunkers in functions/text.py stay JVM-side — this query
    covers the extension API, not a replacement."""
    from radohydro_spark.functions.udtfs import WordChunks

    spark.udtf.register("word_chunks", WordChunks)
    d = _t(spark, sf_dir, "documents")
    d.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.n_words
        FROM _udtf_docs d, LATERAL word_chunks(d.text) c
        """
    )


ORACLE_UDTF_WORD_CHUNKS = """
WITH w AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS word,
         generate_subscripts(string_split(text, ' '), 1) - 1 AS i
  FROM documents
)
SELECT doc_id,
       CAST(i // 10 AS INT) AS chunk_idx,
       string_agg(word, ' ' ORDER BY i) AS chunk,
       CAST(COUNT(*) AS INT) AS n_words
FROM w
GROUP BY doc_id, i // 10
"""


def q_events_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join (r6): the streaming events feed
    joined against a STATIC customer dimension (the canonical "enrich the
    stream with a slowly-changing dim" shape) — stateless, so no
    watermark state; Spark broadcasts the dim into every micro-batch.
    Drained availableNow replay then aggregates per (segment, type);
    stream == batch is the oracle."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import run_available_now

    raw_schema = _probe_schema(spark, sf_dir, "events")
    s = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    s = _normalize_ts(s)
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = s.join(F.broadcast(dim), "user_id", "inner").select(
        "event_id", "c_mktsegment", "event_type", "value"
    )
    name = "stream_static_" + uuid.uuid4().hex[:8]
    out = run_available_now(
        joined, name, tempfile.mkdtemp(prefix="ck_ss_"), "append"
    )
    # exact-cents sum: value is 2-decimal by generation law; integer sums
    # are order-independent, so the hash can't drift with plan order
    return out.groupBy("c_mktsegment", "event_type").agg(
        F.count("*").alias("n_events"),
        (
            F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0)
        ).alias("total_value"),
    )


ORACLE_STREAM_STATIC_JOIN = """
SELECT c.c_mktsegment, e.event_type,
       COUNT(*) AS n_events,
       SUM(CAST(round(e.value * 100) AS BIGINT)) / 100.0 AS total_value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
GROUP BY c.c_mktsegment, e.event_type
"""


def q_similarity_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation (r6): recall@5 of the multi-probe LSH index
    against the exact brute-force top-k for each query — the measurement
    loop that decides plane/probe counts before a 100 TB index build.
    Both sides reuse the production operators; the join is a left-semi on
    (query, neighbor).  The oracle recomputes exact AND approximate top-k
    in SQL and takes the same intersection."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = SIM.cosine_topk(e, queries, k=5)
    approx = SIM.ann_topk_lsh_multiprobe(
        e, queries, k=5, n_planes=4, n_dims=64, n_probes=3
    )
    hit = exact.join(
        approx.select("query_id", "vec_id"), ["query_id", "vec_id"], "left_semi"
    )
    n_hit = hit.groupBy("query_id").agg(F.count("*").alias("n_matched"))
    n_exact = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return (
        n_exact.join(n_hit, "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.round(
                F.coalesce("n_matched", F.lit(0)) / F.col("n_exact"), 6
            ).alias("recall"),
        )
    )


def _recall_eval_oracle(
    n_planes: int = 4, n_dims: int = 64, k: int = 5, n_probes: int = 3
) -> str:
    planes = [
        "[" + ", ".join(repr(_hyperplane_const(j, d)) for d in range(n_dims)) + "]"
        for j in range(n_planes)
    ]
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {planes[j]}) >= 0 THEN {2**j} ELSE 0 END)"
        for j in range(n_planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(n_probes - 1)]
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(coalesce(list_dot_product(q.v, c.v)
                            / (sqrt(list_dot_product(q.v, q.v))
                               * sqrt(list_dot_product(c.v, c.v))), 0.0), 6) DESC,
                      c.vec_id ASC) AS rank
    FROM (SELECT * FROM e WHERE vec_id < 3) q, e c) t
  WHERE rank <= {k}
),
b AS (SELECT vec_id, v, CAST({bucket_expr} AS BIGINT) AS bucket FROM e),
probes AS (
  SELECT vec_id AS query_id, unnest([{probe_list}]) AS bucket
  FROM b WHERE vec_id < 3
),
cand AS (SELECT DISTINCT p.query_id, b.vec_id FROM probes p JOIN b USING (bucket)),
approx AS (
  SELECT query_id, vec_id FROM (
    SELECT c.query_id, c.vec_id,
           row_number() OVER (
             PARTITION BY c.query_id
             ORDER BY round(coalesce(list_dot_product(qe.v, ce.v)
                            / (sqrt(list_dot_product(qe.v, qe.v))
                               * sqrt(list_dot_product(ce.v, ce.v))), 0.0), 6) DESC,
                      c.vec_id ASC) AS rank
    FROM cand c
    JOIN e qe ON qe.vec_id = c.query_id
    JOIN e ce ON ce.vec_id = c.vec_id) t
  WHERE rank <= {k}
)
SELECT x.query_id,
       COUNT(*) AS n_exact,
       COUNT(a.vec_id) AS n_matched,
       round(COUNT(a.vec_id) / COUNT(*), 6) AS recall
FROM exact x
LEFT JOIN approx a ON a.query_id = x.query_id AND a.vec_id = x.vec_id
GROUP BY x.query_id
"""


def q_storage_file_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level data skipping (sinks/skipping.py, r6): orders are
    range-clustered on o_orderdate into 8 value-disjoint parquet files, a
    per-file (min, max) manifest is derived, and a one-quarter range
    predicate reads ONLY the intersecting files (asserted: strictly fewer
    than total).  The pruned read's monthly rollup must equal the
    full-scan filter (the oracle) — proving the skip loses no rows.  At
    100 TB the manifest is the zone-map dimension table; the scan is
    O(matching files)."""
    import tempfile

    from radohydro_spark.sinks.skipping import read_pruned, write_clustered

    from datetime import datetime

    o = _t(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="skip_") + "/orders"
    write_clustered(o, path, "o_orderdate", n_files=8)
    lo, hi = datetime(1995, 1, 1), datetime(1995, 3, 31)
    pruned, n_read, n_total = read_pruned(spark, path, "o_orderdate", lo, hi)
    if not (0 < n_read < n_total):
        raise RuntimeError(
            f"file skipping ineffective: read {n_read}/{n_total} files"
        )
    return pruned.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("month")
    ).agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


ORACLE_FILE_SKIPPING = """
SELECT strftime(o_orderdate, '%Y-%m') AS month,
       COUNT(*) AS n_orders,
       round(SUM(o_totalprice), 2) AS revenue
FROM orders
WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate <= DATE '1995-03-31'
GROUP BY 1
"""


def q_precip_api_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Antecedent precipitation index (operators/aggregate.py
    antecedent_precipitation_index): API_t = 0.9·API_{t-1} + P_t over the
    basin time series, computed exactly via the closed form
    k^t · running-sum(P_i·k^-i) — one window per key, no recursion, no
    UDF.  NaN-policy NULL hours decay the state without contributing.
    The oracle evaluates the identical closed form over the pipeline
    CTEs."""
    _utc(spark)
    from radohydro_spark.operators.aggregate import antecedent_precipitation_index

    res = precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )
    out = antecedent_precipitation_index(res, k=0.9)
    return out.select(
        "basin_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("api", 6).alias("api"),
    )


def _api_index_oracle(k: float = 0.9) -> str:
    return (
        oracle_base_ctes(GRID)
        + f"""
SELECT basin_id,
       strftime(TIMESTAMP '{GRID.t0}' + h * INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS ts,
       round(
         pow({k}, h) * SUM(COALESCE(rainfall_mm, 0) * pow({k}, -h)) OVER (
           PARTITION BY basin_id ORDER BY h
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         6) AS api
FROM res
"""
    )


def q_pyds_grid_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (sources/pyds.py, Spark 4 DataSource
    API): the synthetic grid mounted as ``spark.read.format(
    "radohydro_grid")`` with real partition planning (one InputPartition
    per row band) — the extensibility surface for mounting the DWD
    archive as a catalog format.  Hourly aggregate over the source must
    match the closed-form obs law the oracle evaluates in SQL."""
    _utc(spark)
    from radohydro_spark.sources.pyds import RadohydroGridDataSource

    spark.dataSource.register(RadohydroGridDataSource)
    obs = (
        spark.read.format("radohydro_grid")
        .option("n_rows", GRID.n_rows)
        .option("n_cols", GRID.n_cols)
        .option("n_ts", GRID.n_ts)
        .option("t0", GRID.t0)
        .option("n_bands", 4)
        .load()
    )
    return obs.groupBy(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts")
    ).agg(
        F.count("*").alias("n_obs"),
        F.sum("value").cast("bigint").alias("sum_value"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null"),
    )


def _pyds_grid_oracle() -> str:
    return (
        oracle_base_ctes(GRID)
        + f"""
SELECT strftime(TIMESTAMP '{GRID.t0}' + h * INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS ts,
       COUNT(*) AS n_obs,
       CAST(SUM(value) AS BIGINT) AS sum_value,
       COUNT(CASE WHEN value IS NULL THEN 1 END) AS n_null
FROM obs GROUP BY 1
"""
    )


def q_pyds_grid_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STREAMING Python Data Source (sources/pyds.py
    RadohydroGridStreamReader): offset-managed hour-by-hour micro-batches
    from the same registered format — the live-mirror-poll shape with
    readBetweenOffsets exactly-once replay.  Python stream sources do not
    support Trigger.AvailableNow (probed; Spark falls back to one batch),
    so the bounded drain polls the sink until the full horizon (n_ts
    hours x grid cells) is committed, then stops.  Aggregate equals the
    batch source / closed-form obs oracle."""
    import tempfile
    import time
    import uuid

    _utc(spark)
    from radohydro_spark.sources.pyds import RadohydroGridDataSource

    spark.dataSource.register(RadohydroGridDataSource)
    stream = (
        spark.readStream.format("radohydro_grid")
        .option("n_rows", GRID.n_rows)
        .option("n_cols", GRID.n_cols)
        .option("n_ts", GRID.n_ts)
        .option("t0", GRID.t0)
        .load()
    )
    name = "pyds_stream_" + uuid.uuid4().hex[:8]
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_pyds_"))
        .start()
    )
    expected = GRID.n_rows * GRID.n_cols * GRID.n_ts
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.table(name).count() >= expected:
            break
        time.sleep(0.3)
    else:  # deadline expired: fail loudly, not as a confusing value mismatch
        got = spark.table(name).count()
        q.stop()
        raise RuntimeError(
            f"pyds_grid_stream: drain deadline expired with {got}/{expected} "
            "rows in the memory sink — stream hung or micro-batches stalled"
        )
    q.stop()
    q.awaitTermination(30)
    return (
        spark.table(name)
        .groupBy(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"))
        .agg(
            F.count("*").alias("n_obs"),
            F.sum("value").cast("bigint").alias("sum_value"),
            F.count(F.when(F.col("value").isNull(), 1)).alias("n_null"),
        )
    )


def q_pyds_shard_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source WRITER (sources/pyds.py
    ShardStoreDataSource): documents written through
    ``format("radohydro_shards")`` as content-addressed JSONL shards with
    a driver-committed _MANIFEST.json — the two-phase lakehouse commit in
    minimal form.  The query reads the committed shards back and
    aggregates per language; read-back must match aggregating the source
    table directly (the oracle)."""
    import tempfile

    from radohydro_spark.sources.pyds import ShardStoreDataSource

    spark.dataSource.register(ShardStoreDataSource)
    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    out_dir = tempfile.mkdtemp(prefix="radohydro_shards_") + "/store"
    (
        d.repartition(4, "doc_id")
        .write.format("radohydro_shards")
        .option("path", out_dir)
        .mode("append")
        .save()
    )
    back = (
        spark.read.schema("doc_id long, lang string, n_chars long")
        .option("pathGlobFilter", "shard-*.jsonl")
        .json(out_dir)
    )
    # Loud parity gate: if the JSON reader's record semantics ever diverge
    # (PERMISSIVE partial-record behaviour changed across Spark minors),
    # fail the query outright instead of hashing a subtly different result.
    n_src, n_back = d.count(), back.filter(F.col("doc_id").isNotNull()).count()
    if n_back != n_src:
        raise RuntimeError(
            f"shard sink round-trip lost rows: wrote {n_src}, read {n_back}"
        )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.count_distinct("doc_id").alias("n_distinct_ids"),
    )


ORACLE_PYDS_SHARD_SINK = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       COUNT(DISTINCT doc_id) AS n_distinct_ids
FROM documents
GROUP BY lang
"""


def q_events_orders_cogroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped two-sided Arrow kernel (operators/cogroup.py): events
    and orders cogrouped per user/customer key, the kernel counting
    cross-side pairs within 24h by a sorted two-pointer sweep (never the
    O(n·m) matrix).  Semantics chosen relational on purpose: the DuckDB
    oracle is an exact integer band-join aggregate, so the driver check
    pins the cogroup plumbing — key alignment, one-sided groups, Arrow
    batches — with zero float tolerance."""
    from radohydro_spark.operators.cogroup import cogroup_pair_counts

    e = _t(spark, sf_dir, "events")
    o = _t(spark, sf_dir, "orders")
    out = cogroup_pair_counts(
        e, o, "user_id", "o_custkey", "ts", "o_orderdate", max_gap_s=86400.0
    )
    return out.select(
        F.col("key").alias("user_id"), "n_left", "n_right", "n_pairs"
    )


ORACLE_EVENTS_ORDERS_COGROUP = """
WITH u AS (
  SELECT user_id AS key FROM events
  UNION
  SELECT o_custkey FROM orders
),
le AS (SELECT user_id AS key, COUNT(*) AS n_left FROM events GROUP BY 1),
ro AS (SELECT o_custkey AS key, COUNT(*) AS n_right FROM orders GROUP BY 1),
pairs AS (
  SELECT e.user_id AS key, COUNT(*) AS n_pairs
  FROM events e JOIN orders o
    ON o.o_custkey = e.user_id
   AND abs(epoch(e.ts) - epoch(o.o_orderdate)) <= 86400
  GROUP BY 1
)
SELECT u.key AS user_id,
       COALESCE(le.n_left, 0) AS n_left,
       COALESCE(ro.n_right, 0) AS n_right,
       COALESCE(pairs.n_pairs, 0) AS n_pairs
FROM u
LEFT JOIN le ON le.key = u.key
LEFT JOIN ro ON ro.key = u.key
LEFT JOIN pairs ON pairs.key = u.key
"""


def q_corpus_jsonl_badlines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-input resilience: a JSONL drop is synthesized with every
    third line corrupted (truncated JSON), read back PERMISSIVE with an
    explicit schema + ``_corrupt_record`` — the production ingestion
    contract (bad lines quarantined, never a job abort).  Aggregates
    parsed vs corrupt counts and a checksum over the surviving rows; the
    oracle recomputes all three closed-form from the membership
    predicate."""
    import tempfile

    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    lines = d.select(
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit('{"doc_id": '), F.col("doc_id"), F.lit(", oops")),
        )
        .otherwise(
            F.format_string(
                '{"doc_id": %d, "n_chars": %d}', F.col("doc_id"), F.col("n_chars")
            )
        )
        .alias("value")
    )
    out_dir = tempfile.mkdtemp(prefix="radohydro_jsonl_bad_")
    lines.coalesce(4).write.mode("overwrite").text(out_dir)
    back = (
        spark.read.schema(
            "doc_id long, n_chars long, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(out_dir)
    )
    # Loud parity gate: every written line must come back as exactly one
    # record (good or quarantined) — a PERMISSIVE semantics change across
    # Spark versions fails the query instead of skewing the hash.
    n_src, n_back = d.count(), back.count()
    if n_back != n_src:
        raise RuntimeError(
            f"jsonl round-trip row drift: wrote {n_src}, read {n_back}"
        )
    return back.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.col("_corrupt_record")).alias("n_bad"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), F.col("n_chars"))).alias(
            "sum_chars_good"
        ),
    )


ORACLE_JSONL_BADLINES = """
SELECT COUNT(CASE WHEN doc_id % 3 <> 0 THEN 1 END) AS n_good,
       COUNT(CASE WHEN doc_id % 3 = 0 THEN 1 END) AS n_bad,
       CAST(SUM(CASE WHEN doc_id % 3 <> 0 THEN n_chars END) AS BIGINT)
         AS sum_chars_good
FROM documents
"""


def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM quality scoring (functions/text.py unigram_logprob):
    the corpus's own token frequencies become the model; each document
    scores by mean token log-probability with an OOV floor — the
    perplexity-proxy filter that flags gibberish without any external
    model.  Deterministic top-k vocab cut ⇒ exact SQL oracle."""
    d = _docs(spark, sf_dir)
    return TX.unigram_logprob(d, "text", "doc_id", top_k=5000, min_count=2)


ORACLE_UNIGRAM_LOGPROB = f"""
WITH toks AS (
  SELECT doc_id, lower(tok) AS tok
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok FROM documents)
  WHERE tok <> ''
),
counts AS (
  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok HAVING COUNT(*) >= 2
),
vocab AS (
  SELECT tok, cnt FROM (
    SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS r
    FROM counts) t
  WHERE r <= 5000
),
total AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS tt FROM vocab),
scored AS (
  SELECT t.doc_id,
         COALESCE(ln(CAST(v.cnt AS DOUBLE) / (SELECT tt FROM total)),
                  ln(0.5 / (SELECT tt FROM total))) AS lp
  FROM toks t LEFT JOIN vocab v USING (tok)
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       round(SUM(lp), 4) AS sum_logprob,
       round(AVG(lp), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""


def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (operators/similarity.py
    ann_topk_lsh_multiprobe): each query probes its own bucket plus two
    single-bit-flip neighbors — the standard recall knob that reuses the
    SAME bucketed corpus layout; only the small query side explodes.
    Deterministic planes ⇒ the oracle enumerates the identical probe set
    and candidates."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ann_topk_lsh_multiprobe(
        e, queries, k=5, n_planes=4, n_dims=64, n_probes=3
    )


def _ann_multiprobe_oracle(
    n_planes: int = 4, n_dims: int = 64, k: int = 5, n_probes: int = 3
) -> str:
    planes = [
        "[" + ", ".join(repr(_hyperplane_const(j, d)) for d in range(n_dims)) + "]"
        for j in range(n_planes)
    ]
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(v, {planes[j]}) >= 0 THEN {2**j} ELSE 0 END)"
        for j in range(n_planes)
    )
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << j})" for j in range(n_probes - 1)]
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT vec_id, v, CAST({bucket_expr} AS BIGINT) AS bucket FROM e),
q AS (
  SELECT vec_id AS query_id, unnest([{probe_list}]) AS bucket
  FROM b WHERE vec_id < 3
),
cand AS (
  SELECT DISTINCT q.query_id, b.vec_id
  FROM q JOIN b USING (bucket)
),
scored AS (
  SELECT c.query_id, c.vec_id,
         round(coalesce(list_dot_product(qe.v, ce.v)
               / (sqrt(list_dot_product(qe.v, qe.v))
                  * sqrt(list_dot_product(ce.v, ce.v))), 0.0), 6) AS cosine
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ce ON ce.vec_id = c.vec_id
)
SELECT query_id, vec_id, cosine, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, vec_id ASC) AS rank
      FROM scored) t
WHERE rank <= {k}
"""


def q_text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML boilerplate removal (functions/text.py html_to_text): every
    document is wrapped in deterministic HTML — title/script/style
    boilerplate, heading, entity-encoded punctuation — and the extractor
    must recover exactly the visible text (script/style CONTENT dropped,
    tags stripped, entities single-decoded).  All JVM-side
    regexp_replace; the oracle chains the identical RE2 patterns."""
    d = _t(spark, sf_dir, "documents")
    html = F.concat(
        F.lit(
            "<html><head><title>ignored</title><style>p{color:red}</style>"
            "<script>var x = '<p>not text</p>';</script></head><body><h1>"
        ),
        F.col("source"),
        F.lit("</h1>\n<p>"),
        F.col("text"),
        F.lit(" &amp;amp; x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>"),
    )
    return d.select(
        "doc_id",
        F.md5(TX.html_to_text(html)).alias("clean_md5"),
        F.length(TX.html_to_text(html)).alias("n_chars_clean"),
    )


ORACLE_HTML_EXTRACT = r"""
WITH wrapped AS (
  SELECT doc_id,
         '<html><head><title>ignored</title><style>p{color:red}</style>'
         || '<script>var x = ''<p>not text</p>'';</script></head><body><h1>'
         || source || '</h1>' || chr(10) || '<p>' || text
         || ' &amp;amp; x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</p></body></html>' AS h
  FROM documents
),
stripped AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(h, '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
             '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
           '<[^>]*>', ' ', 'g') AS h
  FROM wrapped
),
decoded AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(h,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
           '&nbsp;', ' '), '&amp;', '&') AS h
  FROM stripped
)
SELECT doc_id,
       md5(trim(regexp_replace(h, '[ ' || chr(9) || chr(13) || chr(10) || ']+', ' ', 'g'))) AS clean_md5,
       CAST(length(trim(regexp_replace(h, '[ ' || chr(9) || chr(13) || chr(10) || ']+', ' ', 'g'))) AS INT) AS n_chars_clean
FROM decoded
"""


def q_events_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup against the SCD-2 dimension (composition of
    scd2_from_changes + an interval-membership join): every probe event
    (event_id % 97 == 0) is enriched with the dimension version valid at
    its timestamp — valid_from <= ts < valid_to, open tail NULL.  The
    join is equi on user_id with a residual range predicate (hash join +
    filter, no nested loop); the oracle rebuilds the identical history
    CTEs and applies the same predicate."""
    from radohydro_spark.operators.scd import scd2_from_changes

    e = _t(spark, sf_dir, "events")
    hist = scd2_from_changes(
        e, ["user_id"], "ts", ["event_type"], tiebreak_cols=["event_id"]
    ).select(
        "user_id",
        "version",
        F.col("event_type").alias("dim_event_type"),
        "valid_from",
        "valid_to",
    )
    probe = e.filter(F.col("event_id") % 97 == 0).select(
        "event_id", "user_id", "ts"
    )
    j = probe.join(hist, "user_id").filter(
        (F.col("valid_from") <= F.col("ts"))
        & (F.col("valid_to").isNull() | (F.col("ts") < F.col("valid_to")))
    )
    return j.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        "version",
        "dim_event_type",
    )


ORACLE_SCD2_POINTINTIME = """
WITH flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ROW_NUMBER() OVER w = 1
                OR LAG(event_type) OVER w IS DISTINCT FROM event_type
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
),
versioned AS (
  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INT) AS version
  FROM flagged
),
hist AS (
  SELECT user_id, version,
         MIN(event_type) AS dim_event_type,
         MIN(ts) AS valid_from
  FROM versioned GROUP BY user_id, version
),
intervals AS (
  SELECT user_id, version, dim_event_type, valid_from,
         LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version ASC) AS valid_to
  FROM hist
)
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS ts,
       i.version, i.dim_event_type
FROM events p
JOIN intervals i
  ON i.user_id = p.user_id
 AND i.valid_from <= p.ts
 AND (i.valid_to IS NULL OR p.ts < i.valid_to)
WHERE p.event_id % 97 = 0
"""


def q_sample_weighted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (operators/sampling.py
    weighted_sample, Efraimidis-Spirakis): 50 documents drawn
    proportionally to document length (n_chars) via deterministic
    ln(u)/w keys from the portable hash — the quality-weighted corpus
    draw, reproducible with no RNG.  The oracle computes the identical
    keys and ranking in SQL."""
    from radohydro_spark.operators.sampling import weighted_sample

    d = _t(spark, sf_dir, "documents")
    s = weighted_sample(d, "doc_id", "n_chars", 50)
    return s.select(
        "doc_id", "source", F.round("sample_key", 6).alias("sample_key")
    )


ORACLE_WEIGHTED_SAMPLE = f"""
SELECT doc_id, source, round(k, 6) AS sample_key
FROM (
  SELECT doc_id, source, k,
         row_number() OVER (ORDER BY k DESC, doc_id) AS rn
  FROM (
    SELECT doc_id, source,
           ln(({_ph_sql("CAST(doc_id AS VARCHAR)")} + 0.5) / 4294967296.0)
           / CAST(n_chars AS DOUBLE) AS k
    FROM documents
    WHERE n_chars IS NOT NULL AND n_chars > 0
  )
) WHERE rn <= 50
"""


def q_dq_orders_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate (operators/profile.py
    check_constraints): not-null + row rules fold into one scan,
    uniqueness is a keyed count, referential integrity a broadcast
    anti-join against customer — the promotion contract a pipeline runs
    on every new drop.  The oracle recomputes each rule's violation
    count independently and UNION ALLs the report."""
    from radohydro_spark.operators.profile import check_constraints

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return check_constraints(
        o,
        not_null=["o_custkey", "o_orderdate"],
        unique=[["o_orderkey"]],
        row_rules={
            "nonneg_price": F.col("o_totalprice") < 0,
            "known_status": ~F.col("o_orderstatus").isin("O", "F", "P"),
        },
        foreign_keys=[("o_custkey", c, "c_custkey")],
    )


ORACLE_DQ_CONSTRAINTS = """
SELECT 'not_null:o_custkey' AS rule,
       COUNT(CASE WHEN o_custkey IS NULL THEN 1 END) AS n_violations FROM orders
UNION ALL
SELECT 'not_null:o_orderdate',
       COUNT(CASE WHEN o_orderdate IS NULL THEN 1 END) FROM orders
UNION ALL
SELECT 'rule:nonneg_price',
       COUNT(CASE WHEN o_totalprice < 0 THEN 1 END) FROM orders
UNION ALL
SELECT 'rule:known_status',
       COUNT(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END) FROM orders
UNION ALL
SELECT 'unique:o_orderkey',
       CAST(COALESCE(SUM(n - 1), 0) AS BIGINT)
FROM (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)
UNION ALL
SELECT 'fk:o_custkey',
       COUNT(*)
FROM orders o
WHERE o.o_custkey IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
"""


def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot diff (operators/merge.py snapshot_diff): two
    deterministic snapshots carved from orders — v1 drops keys %10==3,
    v2 drops %10==0 and reprices keys %7==0 — diffed by one full-outer
    key join into insert/delete/update rows (unchanged filtered out,
    delta-sized result).  The oracle derives each change class directly
    from the membership/reprice predicates.

    The reprice is integer-exact on purpose: prices are 2-decimal
    values, so ×1.1 lands on exact half-cent boundaries and
    ``round(x*1.1, 2)`` diverges by one cent between Spark (BigDecimal
    HALF_UP on the binary double) and DuckDB (double multiply-round-
    divide).  Computing in cents — ``(cents*11 + 5) div 10`` — keeps
    every step in exact int64 arithmetic so both engines agree
    bit-for-bit (r5 verdict: 23/2143 repriced rows diverged)."""
    from radohydro_spark.operators.merge import snapshot_diff

    o = _t(spark, sf_dir, "orders")
    v1 = o.filter(F.col("o_orderkey") % 10 != 3)
    reprice = F.expr(
        "((CAST(round(o_totalprice * 100) AS BIGINT) * 11 + 5) DIV 10) / 100.0"
    )
    v2 = o.filter(F.col("o_orderkey") % 10 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, reprice).otherwise(
            F.col("o_totalprice")
        ),
    )
    d = snapshot_diff(
        v1, v2, ["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    )
    return d.select(
        "o_orderkey", "change_type", "o_totalprice", "o_orderstatus"
    )


ORACLE_SNAPSHOT_DIFF = """
WITH repriced AS (
  SELECT *,
         ((CAST(round(o_totalprice * 100) AS BIGINT) * 11 + 5) // 10) / 100.0
           AS new_price
  FROM orders
)
SELECT o_orderkey, 'insert' AS change_type,
       CASE WHEN o_orderkey % 7 = 0 THEN new_price
            ELSE o_totalprice END AS o_totalprice,
       o_orderstatus
FROM repriced WHERE o_orderkey % 10 = 3
UNION ALL
SELECT o_orderkey, 'delete', NULL, NULL
FROM repriced WHERE o_orderkey % 10 = 0
UNION ALL
SELECT o_orderkey, 'update', new_price, o_orderstatus
FROM repriced
WHERE o_orderkey % 10 NOT IN (0, 3) AND o_orderkey % 7 = 0
  AND new_price <> o_totalprice
"""


def q_precip_nearest_basin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial 1-NN join (operators/spatial.py nearest_neighbor_join):
    every grid cell's centroid is assigned its nearest basin centroid
    (squared Euclidean argmin, basin-id tie-break) — the station-
    assignment / Voronoi-labeling primitive.  Basin centroids derive from
    the WKB geometry via the bbox kernel, so the geometry path is
    exercised; the oracle recomputes both centroid sets closed-form."""
    _utc(spark)
    from radohydro_spark.operators.spatial import (
        nearest_neighbor_join,
        with_bbox,
    )

    cells = synthetic_cells(spark)
    pts = cells.select(
        "cell_row",
        "cell_col",
        ((F.col("left") + F.col("right")) / 2).alias("cx"),
        ((F.col("bottom") + F.col("top")) / 2).alias("cy"),
    )
    bc = with_bbox(synthetic_basins(spark)).select(
        "basin_id",
        ((F.col("xmin") + F.col("xmax")) / 2).alias("bx"),
        ((F.col("ymin") + F.col("ymax")) / 2).alias("by"),
    )
    nn = nearest_neighbor_join(pts, bc, ["cell_row", "cell_col"])
    return nn.select(
        "cell_row",
        "cell_col",
        F.col("basin_id").alias("nearest_basin"),
        F.round("dist2", 6).alias("dist2"),
    )


def _nearest_basin_oracle() -> str:
    return (
        oracle_base_ctes(GRID)
        + """
, cpts AS (
  SELECT cell_row, cell_col, (l + rr) / 2 AS cx, (b + t) / 2 AS cy FROM cells
),
bpts AS (
  SELECT basin_id, (bl + br) / 2 AS bx, (bb + bt) / 2 AS by FROM basins
),
scored AS (
  SELECT cell_row, cell_col, basin_id,
         (cx - bx) * (cx - bx) + (cy - by) * (cy - by) AS d2
  FROM cpts, bpts
)
SELECT cell_row, cell_col, basin_id AS nearest_basin, round(d2, 6) AS dist2
FROM (SELECT *, row_number() OVER (PARTITION BY cell_row, cell_col
                                   ORDER BY d2, basin_id) AS rn
      FROM scored) t
WHERE rn = 1
"""
    )


def q_storage_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolved parquet read: batch 1 is written with the original
    column set, batch 2 adds ``o_orderpriority``; ``mergeSchema=true``
    reconciles the footers and back-fills the missing column with NULL —
    the standard long-lived-dataset evolution path (schema widening
    without rewriting history).  The oracle synthesizes the same NULL
    back-fill with a CASE on the batch predicate."""
    import tempfile

    o = _t(spark, sf_dir, "orders")
    out_dir = tempfile.mkdtemp(prefix="radohydro_schema_ev_")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    evolved = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    base.write.mode("overwrite").parquet(f"{out_dir}/batch=1")
    evolved.write.mode("overwrite").parquet(f"{out_dir}/batch=2")
    back = spark.read.option("mergeSchema", "true").parquet(
        f"{out_dir}/batch=1", f"{out_dir}/batch=2"
    )
    return back.groupBy("o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


ORACLE_SCHEMA_EVOLUTION = """
SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END AS o_orderpriority,
       COUNT(*) AS n,
       round(SUM(o_totalprice), 2) AS sum_price
FROM orders
GROUP BY 1
"""


def q_events_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate maintenance (operators/merge.py merge_rollup):
    the standing hourly-by-type rollup over the first 80% of events is
    folded together with the partial rollup of the late-arriving 20% —
    no history rescan, shuffle carries group rows only.  The oracle is
    the FULL recompute: merged partial states must be value-identical
    (the associativity contract Spark's own map-side combine relies on)."""
    from radohydro_spark.operators.merge import merge_rollup

    ev = _t(spark, sf_dir, "events")
    grp = [F.col("event_type"), F.date_trunc("hour", "ts").alias("h")]

    def rollup(df):
        return df.groupBy(*grp).agg(
            F.sum("value").alias("sum_value"), F.count("*").alias("n")
        )

    base = rollup(ev.filter(F.col("event_id") % 5 != 0))
    delta = rollup(ev.filter(F.col("event_id") % 5 == 0))
    merged = merge_rollup(base, delta, ["event_type", "h"], ["sum_value", "n"])
    return merged.select(
        "event_type",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("h"),
        F.round("sum_value", 4).alias("sum_value"),
        "n",
    )


ORACLE_INCREMENTAL_ROLLUP = """
SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
       round(SUM(value), 4) AS sum_value,
       COUNT(*) AS n
FROM events
GROUP BY 1, 2
"""


def q_precip_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear gap-fill of the A5 NaN-policy NULLs (operators/aggregate.py
    gap_fill_linear): all-dirty timesteps interpolate between their
    nearest non-NULL neighbors per basin (epoch-seconds abscissa, no
    extrapolation at the series edges), with a was_interpolated
    provenance flag.  The oracle mirrors the frame-bounded
    last_value(IGNORE NULLS) windows over the closed-form pipeline CTEs."""
    _utc(spark)
    from radohydro_spark.operators.aggregate import gap_fill_linear

    res = precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )
    filled = gap_fill_linear(res)
    return filled.select(
        "basin_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.round("rainfall_mm", 6).alias("rainfall_mm"),
        "was_interpolated",
    )


def _gap_fill_oracle() -> str:
    return (
        oracle_base_ctes(GRID)
        + f"""
, tsr AS (
  SELECT basin_id, h,
         epoch(TIMESTAMP '{GRID.t0}' + h * INTERVAL 1 HOUR) AS t,
         rainfall_mm AS v
  FROM res
),
anch AS (
  SELECT basin_id, h, t, v,
    last_value(v IGNORE NULLS) OVER (
      PARTITION BY basin_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
      PARTITION BY basin_id ORDER BY t
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt,
    last_value(v IGNORE NULLS) OVER (
      PARTITION BY basin_id ORDER BY t DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nv,
    last_value(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS) OVER (
      PARTITION BY basin_id ORDER BY t DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS nt
  FROM tsr
)
SELECT basin_id,
       strftime(TIMESTAMP '{GRID.t0}' + h * INTERVAL 1 HOUR,
                '%Y-%m-%d %H:%M:%S') AS ts,
       round(CASE WHEN v IS NOT NULL THEN v
                  WHEN pv IS NOT NULL AND nv IS NOT NULL
                       THEN pv + (nv - pv) * (t - pt) / (nt - pt)
             END, 6) AS rainfall_mm,
       (v IS NULL AND pv IS NOT NULL AND nv IS NOT NULL) AS was_interpolated
FROM anch
"""
    )


def q_events_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the event-type transition graph (operators/graph.py
    pagerank): edges = distinct consecutive event-type transitions per
    user (lead over (ts, event_id) — deterministic tie-break), 5 fixed
    power iterations, damping 0.85, dangling mass redistributed
    uniformly.  The oracle unrolls the identical iterations as chained
    CTEs — rank values match to 6 decimals because every per-node sum is
    over a handful of ~0.1-scale doubles."""
    from radohydro_spark.operators.graph import pagerank
    from pyspark.sql import Window as W

    ev = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id", "event_type", F.lead("event_type").over(w).alias("nxt")
    )
    edges = (
        seq.filter(F.col("nxt").isNotNull())
        .select(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
        .distinct()
    )
    nodes = ev.select(F.col("event_type").alias("node")).distinct()
    pr = pagerank(edges, nodes, damping=0.85, iterations=5)
    return pr.select("node", F.round("rank", 6).alias("rank"))


def _pagerank_oracle(damping: float = 0.85, iterations: int = 5) -> str:
    """Unrolled power-iteration twin: one (contribution + dangling) CTE
    pair per round — recursive CTEs can't aggregate in the recursive
    member, so fixed unrolling IS the portable form."""
    d = damping
    ctes = [
        """seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
edges AS (
  SELECT DISTINCT event_type AS src, nxt AS dst FROM seq WHERE nxt IS NOT NULL
),
nodes AS (SELECT DISTINCT event_type AS node FROM events),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes)"""
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""dang{i} AS (
  SELECT COALESCE(SUM(r.rank), 0) AS m
  FROM r{p} r LEFT JOIN outdeg o ON o.src = r.node
  WHERE o.src IS NULL
),
c{i} AS (
  SELECT e.dst AS node, SUM(r.rank / o.deg) AS contrib
  FROM edges e
  JOIN r{p} r ON r.node = e.src
  JOIN outdeg o ON o.src = e.src
  GROUP BY e.dst
),
r{i} AS (
  SELECT n.node,
         (1 - {d}) / (SELECT n FROM nn)
         + {d} * (COALESCE(c.contrib, 0) + (SELECT m FROM dang{i}) / (SELECT n FROM nn)) AS rank
  FROM nodes n LEFT JOIN c{i} c ON c.node = n.node
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT node, round(rank, 6) AS rank FROM r{iterations}"
    )


def q_sample_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum quota sampling (operators/sampling.py stratified_cap):
    at most 10 documents per source, survivors a pure function of doc ids
    via (portable_hash, id) rank — the per-source cap pass of corpus
    curation, deterministic across engines/runs/corpus growth."""
    from radohydro_spark.operators.sampling import stratified_cap

    d = _t(spark, sf_dir, "documents")
    return stratified_cap(d, "doc_id", "source", 10).select("doc_id", "source")


ORACLE_STRATIFIED_CAP = f"""
SELECT doc_id, source FROM (
  SELECT doc_id, source,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_ph_sql("CAST(doc_id AS VARCHAR)")}, doc_id) AS rn
  FROM documents) t
WHERE rn <= 10
"""


# unicode salt exercising every normalize_clean rule: NFD sequence
# (e + combining acute -> é under NFC), NBSP, tab/newline collapse, a
# stripped control char, and a trailing space for the trim.
_NORM_SALT = " Cafe\u0301\u00a0tab\tnew\nnull\x01end "


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization pass (functions/text.py normalize_clean):
    every document is salted with an NFD sequence + NBSP + control chars so
    the NFC / strip / collapse / trim rules all fire on every row; the
    oracle re-runs the identical rules via nfc_normalize + RE2 and the
    md5 of the cleaned text must hash-match."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.concat(F.col("text"), F.lit(_NORM_SALT)).alias("text")
    )
    cleaned = TX.normalize_clean(d)
    return cleaned.select(
        "doc_id",
        F.md5(F.col("text")).alias("clean_md5"),
        F.length("text").alias("n_chars_clean"),
    )


ORACLE_TEXT_NORMALIZE = r"""
WITH salted AS (
  SELECT doc_id,
         text || ' Cafe' || chr(769) || chr(160) || 'tab' || chr(9) ||
         'new' || chr(10) || 'null' || chr(1) || 'end' || ' ' AS t
  FROM documents
),
cleaned AS (
  SELECT doc_id,
         trim(
           regexp_replace(
             replace(
               regexp_replace(nfc_normalize(t),
                              '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
               chr(160), ' '),
             '[ \t\r\n]+', ' ', 'g'),
           ' ') AS t
  FROM salted
)
SELECT doc_id, md5(t) AS clean_md5, CAST(length(t) AS BIGINT) AS n_chars_clean
FROM cleaned
"""


def q_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: seeded codebooks (codeword c of subspace j
    = subvector j of corpus vector c — deterministic, oracle-reproducible),
    corpus PQ-encoded to m=8 codes, queries scored by asymmetric distance
    (per-query LUT, m table lookups per corpus row).  The query path reads
    ONLY the code column — at 100 TB the raw embedding store never enters
    the scan.  Swap in pq_train's Lloyd-refined books for production
    recall; the plan shape is identical (unit-tested in
    tests/test_similarity.py)."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    books = SIM.pq_codebooks(e, m=8, k=16)
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.pq_adc_topk(e, queries, books, k=5)


ORACLE_PQ_ADC_TOPK = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
sub AS (
  SELECT vec_id, j.range AS j, v[j.range*8+1 : j.range*8+8] AS sv
  FROM e, range(8) j
),
cents AS (
  -- codeword c = c-th corpus vector in id ORDER (not id VALUE): rank by
  -- row_number so non-contiguous / non-zero-based vec_ids stay faithful
  -- to pq_codebooks' orderBy(id).limit(k)
  SELECT j, CAST(rn - 1 AS INT) AS code, sv AS cv
  FROM (SELECT *, row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn
        FROM sub) s
  WHERE rn <= 16
),
dists AS (
  SELECT s.vec_id, s.j, c.code,
         list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
         - 2 * list_dot_product(s.sv, c.cv) AS d
  FROM sub s JOIN cents c ON s.j = c.j
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
    FROM dists) t
  WHERE rn = 1
),
adc AS (
  SELECT qs.vec_id AS query_id, cd.vec_id AS vec_id,
         sum(list_dot_product(qs.sv, qs.sv) + list_dot_product(ct.cv, ct.cv)
             - 2 * list_dot_product(qs.sv, ct.cv)) AS adc
  FROM codes cd
  JOIN cents ct ON ct.j = cd.j AND ct.code = cd.code
  JOIN sub qs ON qs.j = cd.j
  WHERE qs.vec_id < 3
  GROUP BY 1, 2
)
SELECT query_id, vec_id, round(adc, 6) AS adc_dist, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(adc, 6), vec_id) AS rank
      FROM adc) t
WHERE rank <= 5
"""


def q_media_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real end-to-end audio decode (no audio library): deterministic
    16-bit PCM mono WAV clips are ENCODED executor-side (sources/wav.py
    encode_wav) then decoded back through ``decode_audio`` — RIFF chunk
    walk, PCM sample extraction, and amplitude features all exercised on
    genuine format bytes.  Closed-form signal: sample(i) =
    (doc_id*37 + i*11) % 2001 - 1000 over n = 200 + doc_id%37 samples at
    rate 8000 + (doc_id%3)*4000, so the oracle recomputes every feature
    exactly (int16 squares sum exactly in float64)."""
    import numpy as np
    import pandas as pd

    from radohydro_spark.sources.wav import encode_wav

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(it):
        for pdf in it:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                n = 200 + did % 37
                rate = 8000 + (did % 3) * 4000
                i = np.arange(n, dtype=np.int64)
                s = ((did * 37 + i * 11) % 2001 - 1000).astype(np.int16)
                ids.append(did)
                payloads.append(encode_wav(s, rate))
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    wav = docs.mapInPandas(gen, schema="media_id long, payload binary")
    return MM.decode_audio(wav).select(
        "media_id",
        "sample_rate",
        "n_channels",
        "n_samples",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 4).alias("rms"),
        "peak",
        "zero_crossings",
    )


ORACLE_MEDIA_DECODE_WAV = """
WITH m AS (
  SELECT doc_id AS media_id,
         200 + doc_id % 37 AS n,
         8000 + (doc_id % 3) * 4000 AS rate
  FROM documents
),
s AS (SELECT media_id, n, rate, unnest(range(0, n)) AS i FROM m),
v AS (
  SELECT media_id, n, rate, i,
         CAST((media_id * 37 + i * 11) % 2001 - 1000 AS DOUBLE) AS x
  FROM s
),
w AS (SELECT *, lag(x) OVER (PARTITION BY media_id ORDER BY i) AS px FROM v)
SELECT media_id,
       CAST(rate AS INT) AS sample_rate,
       1 AS n_channels,
       CAST(n AS BIGINT) AS n_samples,
       round(CAST(n AS DOUBLE) / rate, 6) AS duration_s,
       round(sqrt(avg(x * x)), 4) AS rms,
       CAST(max(abs(x)) AS INT) AS peak,
       CAST(sum(CASE WHEN px IS NOT NULL AND px * x < 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS zero_crossings
FROM w GROUP BY media_id, rate, n
"""


def q_precip_wide_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 wide vector sink, driver-verified end-to-end (reference
    geotools/geotools.py:321-330 semantics, parquet target so no 500-column
    dBase cliff): ``write_wide_geoparquet`` pivots the long result to one
    column per timestep (``%y%m%d%H%M`` names), joins basin geometry, and
    writes parquet DISTRIBUTED; the query reads the files back and
    un-pivots via ``stack`` — values must survive pivot→write→read→unpivot
    bit-exactly (no rounding anywhere: parquet doubles are lossless)."""
    _utc(spark)
    import tempfile

    from radohydro_spark.sinks.sinks import write_wide_geoparquet

    res = precip_timeseries(
        synthetic_obs(spark), synthetic_cells(spark), synthetic_basins(spark)
    )
    out_dir = tempfile.mkdtemp(prefix="radohydro_wide_rt_")
    write_wide_geoparquet(res, synthetic_basins(spark), out_dir)
    back = spark.read.parquet(out_dir)
    ts_cols = sorted(c for c in back.columns if c.isdigit())
    stack = ", ".join(f"'{c}', `{c}`" for c in ts_cols)
    return back.select(
        "basin_id",
        F.expr(f"stack({len(ts_cols)}, {stack}) AS (time, rainfall)"),
    )


def _wide_roundtrip_oracle() -> str:
    return (
        oracle_base_ctes(GRID)
        + f"""
SELECT basin_id,
       strftime(TIMESTAMP '{GRID.t0}' + h * INTERVAL 1 HOUR, '%y%m%d%H%M') AS time,
       rainfall_mm AS rainfall
FROM res
"""
    )


def q_precip_cellgrid_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 cell-grid sink, driver-verified end-to-end (reference
    geotools/geotools.py:178-184): ``write_cellgrid_geoparquet`` attaches a
    WKB box polygon per cell and writes parquet; the query reads the files
    back and re-derives the corner coordinates FROM THE GEOMETRY BYTES
    (geometry/wkb.py parser) — so the emitted values prove the WKB encoding
    round-trips, not merely that the plain columns survived."""
    _utc(spark)
    import tempfile
    from typing import Iterator

    import pandas as pd

    from radohydro_spark.sinks.sinks import write_cellgrid_geoparquet

    out_dir = tempfile.mkdtemp(prefix="radohydro_cellgrid_rt_")
    write_cellgrid_geoparquet(synthetic_cells(spark), out_dir)
    back = spark.read.parquet(out_dir).select("cell_row", "cell_col", "geom")

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from radohydro_spark.geometry.wkb import parse_wkb_polygons

        for pdf in it:
            xmin, ymin, xmax, ymax = [], [], [], []
            for blob in pdf["geom"]:
                ring = parse_wkb_polygons(bytes(blob))[0][0]
                xs = [p[0] for p in ring]
                ys = [p[1] for p in ring]
                xmin.append(min(xs))
                ymin.append(min(ys))
                xmax.append(max(xs))
                ymax.append(max(ys))
            yield pd.DataFrame(
                {
                    "cell_row": pdf["cell_row"],
                    "cell_col": pdf["cell_col"],
                    "x_min": xmin,
                    "y_min": ymin,
                    "x_max": xmax,
                    "y_max": ymax,
                }
            )

    return back.mapInPandas(
        gen,
        schema="cell_row int, cell_col int, x_min double, y_min double, "
        "x_max double, y_max double",
    )


def q_storage_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink round-trip: lineitem written as partitioned ORC
    (Spark-native columnar format beside parquet), read back, and
    aggregated — totals must match aggregating the original parquet
    directly (the DuckDB oracle, which cannot read ORC, pins exactly
    that equivalence)."""
    import tempfile

    li = _t(spark, sf_dir, "lineitem")
    out_dir = tempfile.mkdtemp(prefix="radohydro_orc_rt_")
    (
        li.write.mode("overwrite")
        .format("orc")
        .partitionBy("l_returnflag")
        .save(out_dir)
    )
    back = spark.read.orc(out_dir)
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.avg("l_discount"), 6).alias("avg_disc"),
    )


ORACLE_ORC_ROUNDTRIP = """
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       round(SUM(l_quantity), 2) AS sum_qty,
       round(SUM(l_extendedprice), 2) AS sum_price,
       round(AVG(l_discount), 6) AS avg_disc
FROM lineitem
GROUP BY l_returnflag, l_linestatus
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: regional-revenue multi-join analytics on sf0.001."""
    return _sql(SQL_Q5, ["region", "nation", "customer", "orders", "lineitem", "supplier"])(
        spark, "/root/testdata/sf0.001"
    )


# ---------------------------------------------------------------------------
# Round-7 additions: frequent-itemset co-occurrence, change-data-feed,
# robust MAD outliers, quality-bucketed corpus mixing, RANGE interval frames


def q_orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair lift (operators/basket.py pair_lift): parts
    co-purchased within an order, scored by lift = N·c_ab/(c_a·c_b) —
    the association-mining first level.  ONE shuffle groups each order
    into a sorted distinct-part array (collect_set, O(basket) state,
    size-guarded BEFORE the C(n,2) pair explosion, which then runs
    JVM-side as a nested array transform); item counts broadcast back,
    global top-25 via orderBy().limit() (TakeOrderedAndProject).  All
    counts integer; the single division is deterministic cross-engine."""
    from radohydro_spark.operators.basket import pair_lift

    li = _t(spark, sf_dir, "lineitem")
    out = pair_lift(li, "l_orderkey", "l_partkey", max_basket_size=100)
    return out.orderBy(
        F.desc("pair_count"), "item_a", "item_b"
    ).limit(25)


ORACLE_MARKET_BASKET = """
WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
sized AS (SELECT b, i, COUNT(*) OVER (PARTITION BY b) AS sz FROM items),
kept AS (SELECT b, i FROM sized WHERE sz <= 100),
pairs AS (
  SELECT a.i AS item_a, bb.i AS item_b, COUNT(*) AS pair_count
  FROM kept a JOIN kept bb ON a.b = bb.b AND a.i < bb.i
  GROUP BY 1, 2
),
ic AS (SELECT i, COUNT(*) AS item_count FROM kept GROUP BY 1),
nb AS (SELECT COUNT(DISTINCT b) AS n_baskets FROM kept)
SELECT item_a, item_b, pair_count,
       ca.item_count AS count_a, cb.item_count AS count_b,
       round((nb.n_baskets * pair_count) / (ca.item_count * cb.item_count),
             6) AS lift
FROM pairs
JOIN ic ca ON ca.i = pairs.item_a
JOIN ic cb ON cb.i = pairs.item_b
CROSS JOIN nb
ORDER BY pair_count DESC, item_a, item_b
LIMIT 25
"""


def q_storage_table_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed (sinks/versioned.py table_changes): two committed
    snapshot versions of an orders slice are diffed into
    insert/delete/update/unchanged — the Delta ``table_changes`` read in
    minimal form, one full-outer join on the key, value comparison
    null-safe inside codegen.  Deterministic edit law (delete %11==0,
    insert the withheld %7==3 rows, reprice %5==0 rows +100 cents) so the
    oracle recomputes every class closed-form from the source table."""
    import tempfile

    from radohydro_spark.sinks.versioned import table_changes, write_version

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
    )
    base = o.filter(F.col("o_orderkey") % 7 != 3)
    v2 = o.filter(F.col("o_orderkey") % 11 != 0).withColumn(
        "price_cents",
        F.when(
            F.col("o_orderkey") % 5 == 0, F.col("price_cents") + 100
        ).otherwise(F.col("price_cents")),
    )
    path = tempfile.mkdtemp(prefix="radohydro_cdf_") + "/orders_v"
    write_version(base, path, "base")
    write_version(v2, path, "deterministic edits")
    ch = table_changes(spark, path, 1, 2, ["o_orderkey"])
    return ch.groupBy("change_type").agg(
        F.count("*").alias("n_rows"),
        F.sum("o_orderkey").alias("key_checksum"),
    )


ORACLE_TABLE_CHANGES = """
WITH klass AS (
  SELECT o_orderkey,
         CASE
           WHEN o_orderkey % 7 = 3 AND o_orderkey % 11 <> 0 THEN 'insert'
           WHEN o_orderkey % 7 <> 3 AND o_orderkey % 11 = 0 THEN 'delete'
           WHEN o_orderkey % 7 <> 3 AND o_orderkey % 11 <> 0
                AND o_orderkey % 5 = 0 THEN 'update'
           WHEN o_orderkey % 7 <> 3 AND o_orderkey % 11 <> 0 THEN 'unchanged'
         END AS change_type
  FROM orders
)
SELECT change_type, COUNT(*) AS n_rows,
       CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
FROM klass
WHERE change_type IS NOT NULL
GROUP BY change_type
"""


def q_dq_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen (operators/profile.py mad_outliers):
    median/MAD fences per nation over account balances in integer cents —
    immune to the heavy tail that inflates a z-score's sigma.  Exact
    cross-engine: percentile interpolation on integers lands on .0/.5
    doubles that DuckDB's median reproduces bit-for-bit."""
    from radohydro_spark.operators.profile import mad_outliers

    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    return mad_outliers(c, "c_nationkey", "bal_cents", k=3.0)


ORACLE_MAD_OUTLIERS = """
WITH c AS (
  SELECT c_nationkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
),
med AS (
  SELECT c_nationkey, median(bal_cents) AS med, COUNT(*) AS n_rows
  FROM c GROUP BY 1
),
dev AS (
  SELECT c.c_nationkey, abs(bal_cents - med) AS ad
  FROM c JOIN med USING (c_nationkey)
),
mad AS (SELECT c_nationkey, median(ad) AS mad FROM dev GROUP BY 1)
SELECT m.c_nationkey, m.n_rows, m.med, a.mad,
       CAST(SUM(CASE WHEN d.ad > 3.0 * a.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers
FROM dev d
JOIN med m USING (c_nationkey)
JOIN mad a USING (c_nationkey)
GROUP BY 1, 2, 3, 4
"""


def q_corpus_quality_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-bucketed corpus mixing: documents fall into length-quality
    buckets (high/mid/low) and each bucket keeps a different deterministic
    sampling rate (100/50/10%) via the portable md5 hash — the curriculum
    mixture step of a training-data pipeline, reproducible by id across
    engines, runs and partition layouts (no df.sample()).  Reports per
    bucket: population, kept rows, kept chars."""
    from radohydro_spark.functions.text import portable_hash

    d = _t(spark, sf_dir, "documents")
    bucket = (
        F.when(F.col("n_chars") >= 400, "high")
        .when(F.col("n_chars") >= 250, "mid")
        .otherwise("low")
    )
    rate = F.when(F.col("bucket") == "high", 100).when(
        F.col("bucket") == "mid", 50
    ).otherwise(10)
    h = F.pmod(
        portable_hash(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
        F.lit(100),
    )
    scored = d.withColumn("bucket", bucket).withColumn(
        "keep", (h < rate).cast("int")
    )
    return scored.groupBy("bucket").agg(
        F.count("*").alias("n_total"),
        F.sum("keep").alias("n_kept"),
        F.sum(
            F.when(F.col("keep") == 1, F.col("n_chars")).otherwise(F.lit(0))
        ).alias("kept_chars"),
    )


ORACLE_QUALITY_MIXTURE = f"""
WITH scored AS (
  SELECT doc_id, n_chars,
         CASE WHEN n_chars >= 400 THEN 'high'
              WHEN n_chars >= 250 THEN 'mid'
              ELSE 'low' END AS bucket,
         {_ph_sql("CAST(doc_id AS VARCHAR) || ':mix'")} % 100 AS h
  FROM documents
),
flagged AS (
  SELECT bucket, n_chars,
         CASE WHEN h < (CASE bucket WHEN 'high' THEN 100
                                    WHEN 'mid' THEN 50
                                    ELSE 10 END)
              THEN 1 ELSE 0 END AS keep
  FROM scored
)
SELECT bucket, COUNT(*) AS n_total,
       CAST(SUM(keep) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep = 1 THEN n_chars ELSE 0 END) AS BIGINT)
         AS kept_chars
FROM flagged
GROUP BY bucket
"""


# Shared-ANSI RANGE interval frame: event-time sliding aggregate framed by
# VALUE distance (30 calendar days), not row count — the window class ROWS
# frames cannot express.  Cents summed as integers; the single division is
# deterministic cross-engine.
SQL_RANGE_FRAME = """
SELECT o_custkey, o_orderkey,
       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
         PARTITION BY o_custkey ORDER BY CAST(o_orderdate AS DATE)
         RANGE BETWEEN INTERVAL '30' DAY PRECEDING AND CURRENT ROW
       ) / CAST(100.0 AS DOUBLE) AS trailing_30d_rev
FROM orders
WHERE o_custkey < 150
"""


def q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join prefilter (operators/bloom.py): lineitem
    rows restricted to suppliers of one nation — the dim key set folds
    into a 2048-word bitmap (xxhash64 probes + bit_or aggregate, all
    JVM column arithmetic), the fact stream filters against it BEFORE the
    exact semi-join, so at cluster scale the join exchange moves only
    ~selectivity·|fact| rows.  False positives cost shuffle rows, never
    correctness: the oracle is the plain semi-join aggregate."""
    from radohydro_spark.operators.bloom import bloom_semi_join

    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    dim = s.join(
        F.broadcast(n.filter(F.col("n_name") == "NATION_9")),
        s["s_nationkey"] == n["n_nationkey"],
    ).select("s_suppkey")
    out = bloom_semi_join(li, dim, "l_suppkey", "s_suppkey")
    return out.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.count_distinct("l_suppkey").alias("n_suppliers"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            / F.lit(100.0)
        ).alias("revenue"),
    )


ORACLE_BLOOM_PREFILTER = """
WITH dim AS (
  SELECT s_suppkey FROM supplier s
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_9'
)
SELECT l_returnflag, COUNT(*) AS n_lines,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         / CAST(100.0 AS DOUBLE) AS revenue
FROM lineitem
WHERE l_suppkey IN (SELECT s_suppkey FROM dim)
GROUP BY l_returnflag
"""


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup (operators/dedup.py semdedup, r7): cluster
    embeddings on deterministic coarse centroids, drop within-cluster
    items whose rounded cosine to a lower-id member reaches the
    threshold, report survivors per cluster.  The pair stage self-joins
    only within a cluster (equi-join on centroid_id, never corpus-wide);
    the oracle replays the identical centroid choice, argmax assignment
    (same tie-break) and keep/drop law."""
    from radohydro_spark.operators.dedup import semdedup

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    kept = semdedup(e, n_clusters=8, threshold=0.35)
    return kept.groupBy("centroid_id").agg(
        F.count("*").alias("n_kept"),
        F.min("vec_id").alias("min_id"),
        F.max("vec_id").alias("max_id"),
        F.sum("vec_id").alias("id_checksum"),
    )


_SEM_COS = (
    # zero-norm -> 0.0, the engine cosine() law (r13 latent-alignment)
    "coalesce(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 0.0)"
)

ORACLE_DEDUP_SEMANTIC = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 8),
sim AS (
  SELECT e.vec_id, c.centroid_id,
         {_SEM_COS.format(a="e.v", b="c.cv")} AS s
  FROM e, c
),
asg AS (
  SELECT vec_id, centroid_id FROM (
    SELECT vec_id, centroid_id,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY s DESC, centroid_id ASC) AS rn
    FROM sim) t
  WHERE rn = 1
),
av AS (SELECT a.vec_id, a.centroid_id, e.v FROM asg a JOIN e USING (vec_id)),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM av a JOIN av b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE round({_SEM_COS.format(a="a.v", b="b.v")}, 6) >= 0.35
),
kept AS (
  SELECT * FROM av WHERE vec_id NOT IN (SELECT vec_id FROM dropped)
)
SELECT centroid_id, COUNT(*) AS n_kept, MIN(vec_id) AS min_id,
       MAX(vec_id) AS max_id, CAST(SUM(vec_id) AS BIGINT) AS id_checksum
FROM kept
GROUP BY centroid_id
"""


def q_text_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, first merge round (r7): count adjacent
    character pairs inside lowercase whitespace tokens across the corpus
    — the statistic byte-pair encoding maximizes at each merge step; the
    top pairs ARE the first merge candidates.  All JVM-side: two narrow
    explodes (tokens, then transform(sequence) char bigrams) and ONE
    count shuffle; top 20 by (count DESC, pair ASC) via
    TakeOrderedAndProject.  Iterating merges re-runs the same one-shuffle
    job over re-paired symbols — the standard distributed-BPE loop."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = toks.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.col("w").substr(i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(20)
    )


ORACLE_BPE_FIRST_MERGES = r"""
WITH toks AS (
  SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
  FROM documents
),
long_toks AS (SELECT w FROM toks WHERE length(w) >= 2),
pairs AS (
  SELECT unnest(list_transform(range(1, length(w)),
                               i -> substr(w, CAST(i AS INT), 2))) AS pair
  FROM long_toks
)
SELECT pair, COUNT(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
"""


def q_embedding_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max feature scaling, fit + transform in one plan
    (r7): posexplode the embedding column, ONE groupBy(dim) computes the
    64-row stats table (map-side combinable), stats broadcast back onto
    the exploded rows, each value rescales to [0,1].  Verified via an
    integer checksum of the scaled values (round(x*1e6) summed as BIGINT
    — float sums are aggregation-order-dependent and never hashed).  At
    100 TB the stats side stays 64 rows regardless of corpus size; the
    transform is a broadcast join + narrow projection."""
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    dims = e.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
    stats = dims.groupBy("dim").agg(
        F.min("x").alias("vmin"), F.max("x").alias("vmax")
    )
    norm = dims.join(F.broadcast(stats), "dim").withColumn(
        "scaled", (F.col("x") - F.col("vmin")) / (F.col("vmax") - F.col("vmin"))
    )
    return norm.groupBy("dim").agg(
        F.round(F.min("vmin"), 6).alias("vmin"),
        F.round(F.min("vmax"), 6).alias("vmax"),
        F.count("*").alias("n"),
        F.sum(F.round(F.col("scaled") * 1e6).cast("long")).alias(
            "scaled_checksum"
        ),
    )


ORACLE_FEATURE_SCALING = """
WITH d AS (
  SELECT vec_id, unnest(range(len(CAST(embedding AS DOUBLE[])))) AS dim,
         unnest(CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
),
stats AS (SELECT dim, MIN(x) AS vmin, MAX(x) AS vmax FROM d GROUP BY dim),
norm AS (
  SELECT d.dim, (x - vmin) / (vmax - vmin) AS scaled, vmin, vmax
  FROM d JOIN stats USING (dim)
)
SELECT dim, round(MIN(vmin), 6) AS vmin, round(MIN(vmax), 6) AS vmax,
       COUNT(*) AS n,
       CAST(SUM(CAST(round(scaled * 1e6) AS BIGINT)) AS BIGINT)
         AS scaled_checksum
FROM norm
GROUP BY dim
"""


def q_similarity_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted vector index lifecycle (operators/similarity.py
    build_ivf_index / query_ivf_index, r7): postings written partitioned
    by centroid_id, probes read ONLY the probed partitions (partition
    pruning = FAISS inverted lists at the storage layer), exact rerank on
    the survivors.  Same deterministic centroids and parameters as
    similarity_ivf_topk, so the identical oracle pins that the
    build→persist→probe round-trip loses nothing."""
    import tempfile

    from radohydro_spark.operators.similarity import (
        build_ivf_index,
        query_ivf_index,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = tempfile.mkdtemp(prefix="radohydro_ivf_") + "/index"
    build_ivf_index(e, path, n_centroids=16)
    return query_ivf_index(spark, path, queries, nprobe=4, k=5)


def q_events_order_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch order attribution (r7): every event is enriched with
    the SAME user's most recent order at-or-before the event time (as-of
    join — union+window, no inequality join), then rolls up per event
    type: events seen, events with an order context, distinct orders
    touched, and the min/max staleness in whole days.  Orders are
    pre-aggregated per (user, date) with a deterministic tie-break so
    the attribution is total-order stable; DuckDB's native ASOF JOIN is
    the oracle."""
    from radohydro_spark.operators.asof import asof_join

    _utc(spark)
    e = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts", "event_type")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_custkey").alias("user_id"),
            F.col("o_orderdate").alias("ts"),
        )
        .agg(F.max("o_orderkey").alias("order_key"))
    )
    out = asof_join(e, o, keys=["user_id"], ts_col="ts")
    return out.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.count("order_key_asof").alias("n_attributed"),
        F.count_distinct("order_key_asof").alias("n_distinct_orders"),
        F.min(F.datediff(F.col("ts"), F.col("ts_asof"))).alias("min_days_since"),
        F.max(F.datediff(F.col("ts"), F.col("ts_asof"))).alias("max_days_since"),
    )


ORACLE_ORDER_ATTRIBUTION = """
WITH e AS (
  SELECT event_id, user_id, ts, event_type FROM events
),
o AS (
  SELECT o_custkey AS user_id, o_orderdate AS ts,
         max(o_orderkey) AS order_key
  FROM orders GROUP BY 1, 2
)
SELECT e.event_type,
       COUNT(*) AS n_events,
       COUNT(o.order_key) AS n_attributed,
       COUNT(DISTINCT o.order_key) AS n_distinct_orders,
       MIN(datediff('day', CAST(o.ts AS DATE), CAST(e.ts AS DATE)))
         AS min_days_since,
       MAX(datediff('day', CAST(o.ts AS DATE), CAST(e.ts AS DATE)))
         AS max_days_since
FROM e
ASOF LEFT JOIN o ON e.user_id = o.user_id AND e.ts >= o.ts
GROUP BY e.event_type
"""


# Shared-ANSI bag-semantics set operations: INTERSECT ALL keeps
# min(multiplicity), EXCEPT ALL subtracts multiplicities — the variants
# the r2 set_ops_brands (distinct UNION/EXCEPT) does not cover.
SQL_SETOPS_ALL = """
WITH bag AS (
  SELECT l_partkey FROM lineitem WHERE l_quantity > 30
  INTERSECT ALL
  SELECT l_partkey FROM lineitem WHERE l_discount > 0.05
),
ex AS (
  SELECT l_partkey FROM lineitem WHERE l_quantity > 30
  EXCEPT ALL
  SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT 'intersect_all' AS op, COUNT(*) AS n,
       COUNT(DISTINCT l_partkey) AS n_keys,
       CAST(SUM(l_partkey) AS BIGINT) AS key_checksum
FROM bag
UNION ALL
SELECT 'except_all' AS op, COUNT(*) AS n,
       COUNT(DISTINCT l_partkey) AS n_keys,
       CAST(SUM(l_partkey) AS BIGINT) AS key_checksum
FROM ex
"""


def q_events_conversion_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of label generation (operators/asof.py
    asof_join_forward, r7): every view event gets the SAME user's first
    purchase at-or-after it within a 1-hour horizon — the supervised
    label a conversion model trains on, produced with one key shuffle +
    one sort (no inequality join).  Rolls up per hour-of-day: views,
    converted views, distinct purchases attributed, exact max latency in
    whole seconds.  The oracle ranks candidate pairs explicitly."""
    from radohydro_spark.operators.asof import asof_join_forward

    _utc(spark)
    e = _t(spark, sf_dir, "events")
    views = e.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts"
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("purchase_id"))
    )
    lab = asof_join_forward(
        views, purchases, ["user_id"], "ts", tolerance_s=3600.0
    )
    return lab.select(
        F.hour("ts").alias("h"),
        F.col("purchase_id_next").alias("pid"),
        F.floor(
            F.col("ts_next").cast("double") - F.col("ts").cast("double")
        ).alias("lat_s"),
    ).groupBy("h").agg(
        F.count("*").alias("n_views"),
        F.count("pid").alias("n_converted"),
        F.count_distinct("pid").alias("n_purchases"),
        F.max("lat_s").alias("max_latency_s"),
    )


ORACLE_CONVERSION_LABEL = """
WITH views AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
purchases AS (
  SELECT user_id, ts, max(event_id) AS purchase_id
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
),
cand AS (
  SELECT v.event_id, v.ts AS vts, p.ts AS pts, p.purchase_id,
         row_number() OVER (PARTITION BY v.event_id ORDER BY p.ts ASC) AS rn
  FROM views v JOIN purchases p
    ON p.user_id = v.user_id
   AND p.ts >= v.ts
   AND epoch(p.ts) - epoch(v.ts) <= 3600.0
),
lab AS (
  SELECT v.event_id, v.ts, c.purchase_id,
         CAST(floor(epoch(c.pts) - epoch(v.ts)) AS BIGINT) AS lat_s
  FROM views v LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c USING (event_id)
)
SELECT EXTRACT(hour FROM ts) AS h,
       COUNT(*) AS n_views,
       COUNT(purchase_id) AS n_converted,
       COUNT(DISTINCT purchase_id) AS n_purchases,
       MAX(lat_s) AS max_latency_s
FROM lab
GROUP BY 1
"""


def q_corpus_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 NATIVE XML source AND sink (r7): documents write through
    ``format("xml")`` (rowTag records under a rootTag, entity escaping
    handled by the writer), read back with an explicit schema (no
    inference pass), and aggregate per language — the enterprise
    interchange format joining the JSONL/CSV/ORC/zip corpus readers.  A
    read-back row-count assert fails loudly on any parser semantics
    change (same contract as the JSONL/shard round-trips)."""
    import tempfile

    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"),
        "lang",
        F.col("n_chars").alias("chars"),
    )
    out_dir = tempfile.mkdtemp(prefix="radohydro_xml_") + "/docs"
    (
        d.coalesce(4)
        .write.format("xml")
        .option("rowTag", "doc")
        .option("rootTag", "docs")
        .save(out_dir)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "doc")
        .schema("id long, lang string, chars long")
        .load(out_dir)
    )
    n_src, n_back = d.count(), back.count()
    if n_back != n_src:
        raise RuntimeError(
            f"xml round-trip row drift: wrote {n_src}, read {n_back}"
        )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("chars").alias("total_chars"),
        F.min("id").alias("min_doc"),
        F.max("id").alias("max_doc"),
    )


ORACLE_XML_ROUNDTRIP = """
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# round-9 queries


def q_sample_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe GroupKFold split (operators/sampling.py group_kfold,
    r9): every row of a user lands in the same fold (portable hash of
    the GROUP key mod k), so correlated rows of one entity never
    straddle a train/eval boundary — the sklearn GroupKFold contract as
    a pure column expression, no shuffle, no RNG.  The output pins both
    the fold balance (users/rows per fold) AND the leakage guarantee
    itself: max_folds_per_user is computed, not asserted, and the oracle
    must reproduce it as exactly 1."""
    from radohydro_spark.operators.sampling import group_kfold

    ev = _t(spark, sf_dir, "events")
    f = group_kfold(ev, "user_id", k=5)
    per_user = f.groupBy("user_id").agg(
        F.min("fold").alias("fold"),
        F.countDistinct("fold").alias("nf"),
        F.count("*").alias("n"),
    )
    return (
        per_user.groupBy("fold")
        .agg(
            F.count("*").alias("n_users"),
            F.sum("n").alias("n_rows"),
            F.max("nf").cast("long").alias("max_folds_per_user"),
        )
        .orderBy("fold")
    )


ORACLE_GROUP_KFOLD = f"""
WITH f AS (
  SELECT user_id, {_ph_sql("CAST(user_id AS VARCHAR)")} % 5 AS fold
  FROM events
),
pu AS (
  SELECT user_id, CAST(MIN(fold) AS INT) AS fold,
         COUNT(DISTINCT fold) AS nf, COUNT(*) AS n
  FROM f GROUP BY user_id
)
SELECT fold, COUNT(*) AS n_users, CAST(SUM(n) AS BIGINT) AS n_rows,
       CAST(MAX(nf) AS BIGINT) AS max_folds_per_user
FROM pu GROUP BY fold
"""


def q_dedup_lsh_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted MinHash-LSH index lifecycle (operators/dedup.py
    build_lsh_index / query_lsh_index, r9) — the text-dedup twin of
    similarity_index_persist: band table written PARTITIONED BY band and
    sorted by band_key within partitions (row-group stats prune key
    ranges at probe time), signature arrays persisted alongside for the
    est-Jaccard rerank.  Probing the index with the corpus itself must
    reproduce the in-memory dedup_minhash_lsh_pairs EXACTLY (identical
    oracle), pinning that the build→persist→probe round-trip loses
    nothing."""
    import tempfile

    from radohydro_spark.operators.dedup import build_lsh_index, query_lsh_index

    corpus = _dup_corpus(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="radohydro_lsh_") + "/index"
    build_lsh_index(
        corpus, path, "text", "doc_id", n_hashes=8, k=3, rows_per_band=2
    )
    return query_lsh_index(
        spark, path, corpus, "text", "doc_id", n_hashes=8, k=3, rows_per_band=2
    )


# corpus with planted CONTAINED fragments: the first 50 tokens of every
# doc_id < 20 document re-enter as a new doc — near-1.0 containment of the
# fragment, but Jaccard only ~|frag|/|doc| (the pair class Jaccard misses)
_CONTAIN_SQL = f"""
SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + 1000000 AS doc_id,
       array_to_string(list_slice({_SQL_TOKS}, 1, 50), ' ') AS text
FROM documents WHERE doc_id < 20
"""


def q_text_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional n-gram containment pairs (operators/dedup.py
    ngram_containment_pairs, r9): C(A→B) = |A∩B|/|A| — the Broder
    resemblance-vs-containment distinction.  The corpus plants 50-token
    prefix fragments of 20 documents: their Jaccard to the source is
    ~0.2 (invisible at any sane Jaccard threshold) but their containment
    is ~1.0, exactly the boilerplate-wrapping / quoted-inclusion
    duplicate class a dedup pipeline needs this second signal for.
    max_doc_freq=None for the textbook exact oracle (the hot-shingle
    guard is the operator's scale default, as with the Jaccard query)."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    frag = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim("text"), r"\s+"), 1, 50), " "
        ).alias("text"),
    )
    corpus = d.unionByName(frag)
    return DD.ngram_containment_pairs(
        corpus, "text", "doc_id", k=3, threshold=0.9, max_doc_freq=None
    )


ORACLE_NGRAM_CONTAINMENT = f"""
WITH corpus AS ({_CONTAIN_SQL}),
docs AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b,
       round(n_common / CAST(sa.n_sh AS DOUBLE), 6) AS cont_a,
       round(n_common / CAST(sb.n_sh AS DOUBLE), 6) AS cont_b
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / CAST(sa.n_sh AS DOUBLE), 6) >= 0.9
   OR round(n_common / CAST(sb.n_sh AS DOUBLE), 6) >= 0.9
"""


def q_dedup_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact t-OVERLAP similarity join (operators/dedup.py overlap_pairs,
    r11; the Chaudhuri ICDE'06 primitive): pairs sharing >= 30 distinct
    3-shingles, on the SAME planted-fragment corpus as the containment
    query — the absolute-count signal contamination screening needs (a
    verbatim 50-token quote inside a long document dilutes below any
    Jaccard/containment ratio threshold, but its ~48 shared shingles
    cannot dilute).  Prefix-filtered (rarest n_sh-c+1 shingles indexed)
    + exact verify; pure integer output."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    frag = d.filter(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.trim("text"), r"\s+"), 1, 50), " "
        ).alias("text"),
    )
    corpus = d.unionByName(frag)
    return DD.overlap_pairs(corpus, "text", "doc_id", k=3, min_overlap=30)


ORACLE_OVERLAP_PAIRS = f"""
WITH corpus AS ({_CONTAIN_SQL}),
docs AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common FROM inter WHERE n_common >= 30
"""


def q_dedup_overlap_pairs_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact t-overlap join in its DESIGN regime (operators/dedup.py
    overlap_pairs, r11; design-regime twin r12 — the treatment
    dedup_jaccard_prefix_zipf got in r11): dedup_overlap_pairs above
    runs on the planted-fragment documents corpus whose uniform
    31-token vocabulary is the prefix family's documented ADVERSARIAL
    case.  This twin runs the SAME operator on a corpus with the
    selective rare-token tail the precondition names, built from
    testdata alone: each order is a document whose token set is its
    basket of part keys (every part key is globally rare — ~30 orders
    per part at any scale), plus planted 5-part FRAGMENT twins (the
    first 5 sorted part keys of every 20th order with >= 6 distinct
    parts) — the verbatim-quote shape the absolute-count join exists to
    catch.  min_overlap=4: the c-bound prefixes (rarest n_sh-3 tokens)
    discriminate because every token is rare, so candidates collapse to
    near-verified pairs.  k=1 shingles = the token set itself; pure
    integer output, hash-exact by construction."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_set(F.col("l_partkey").cast("string"))
        ).alias("_parts")
    )
    # the basket aggregate feeds BOTH the corpus and the fragment
    # branch; the fragment's %20 filter sits under the aggregate after
    # pushdown, so Spark cannot reuse the exchange — cache the baskets
    # once (order-count rows, released by the session pool)
    base = pin(base.cache())
    docs = base.select(
        F.col("l_orderkey").alias("doc_id"),
        F.array_join("_parts", " ").alias("text"),
    )
    frag = base.filter(
        (F.col("l_orderkey") % 20 == 0) & (F.size("_parts") >= 6)
    ).select(
        (F.col("l_orderkey") + 10_000_000).alias("doc_id"),
        F.array_join(F.slice("_parts", 1, 5), " ").alias("text"),
    )
    return DD.overlap_pairs(
        docs.unionByName(frag), "text", "doc_id", k=1, min_overlap=4
    )


ORACLE_OVERLAP_PAIRS_ZIPF = """
WITH b AS (
  SELECT l_orderkey, list_sort(list(DISTINCT CAST(l_partkey AS VARCHAR))) AS parts
  FROM lineitem GROUP BY l_orderkey
),
corpus AS (
  SELECT l_orderkey AS doc_id, parts FROM b
  UNION ALL
  SELECT l_orderkey + 10000000, list_slice(parts, 1, 5) FROM b
  WHERE l_orderkey % 20 = 0 AND len(parts) >= 6
),
s AS (SELECT doc_id, unnest(parts) AS tok FROM corpus),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_common
  FROM s a JOIN s b ON a.tok = b.tok AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_common FROM inter WHERE n_common >= 4
"""


def q_dedup_lsh_index_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental LSH-index maintenance (operators/dedup.py
    update_lsh_index, r11): build the persisted index on 80% of the
    corpus (doc_id % 5 != 0), fold the remaining 20% in as an UPDATE
    batch (only the batch is signed; band/signature rows append under
    the existing partition layout), then probe with the FULL corpus —
    the result must reproduce the in-memory dedup_minhash_lsh_pairs on
    the union corpus EXACTLY (identical oracle), pinning that
    incremental maintenance loses nothing vs a from-scratch rebuild."""
    import tempfile

    from radohydro_spark.operators.dedup import (
        build_lsh_index,
        query_lsh_index,
        update_lsh_index,
    )

    corpus = _dup_corpus(spark, sf_dir)
    base = corpus.filter(F.col("doc_id") % 5 != 0)
    batch = corpus.filter(F.col("doc_id") % 5 == 0)
    path = tempfile.mkdtemp(prefix="radohydro_lshu_") + "/index"
    build_lsh_index(base, path, "text", "doc_id", n_hashes=8, k=3, rows_per_band=2)
    update_lsh_index(
        spark, path, batch, "text", "doc_id", n_hashes=8, k=3, rows_per_band=2
    )
    return query_lsh_index(
        spark, path, corpus, "text", "doc_id", n_hashes=8, k=3, rows_per_band=2
    )


def q_sample_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance selection (operators/sampling.py
    mmr_select, r11; Carbonell & Goldstein SIGIR'98): pick 5 embeddings
    trading relevance to the vec_id-0 query against redundancy with the
    already-picked set (lambda = 0.7) — the diversity-aware curation
    step.  Exact cross-engine: vectors L2-normalize in double and
    quantize floor(v*1e4+0.5) to BIGINT, so every score the argmax
    compares is an exact integer (no ulp seam in the selection).  The
    oracle unrolls the 5 greedy rounds as MATERIALIZED CTEs (kcore /
    max-coverage technique)."""
    from radohydro_spark.operators.sampling import mmr_select

    return mmr_select(
        _t(spark, sf_dir, "embeddings"),
        "embedding",
        "vec_id",
        query_id=0,
        k=5,
        lam_num=7,
        lam_den=10,
    )


def _mmr_oracle(k: int = 5, lam_num: int = 7, lam_den: int = 10) -> str:
    # Same integer law as the engine: qv = floor(v/||v||*1e4 + 0.5) BIGINT;
    # rel/sim are integer dot products (exact in double: <= 64*1e8 << 2^53,
    # list_dot_product folds left-to-right like F.aggregate).  Every round
    # is AS MATERIALIZED (DuckDB inlines plain CTEs — the kcore lesson).
    parts = [
        """WITH e AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
qe AS MATERIALIZED (
  SELECT vec_id,
         CASE WHEN sqrt(list_dot_product(v, v)) > 0
              THEN list_transform(v, x -> CAST(floor(x / sqrt(list_dot_product(v, v)) * 10000 + 0.5) AS BIGINT))
              ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS qv
  FROM e
),
q AS MATERIALIZED (SELECT qv AS query_v FROM qe WHERE vec_id = 0),
cand AS MATERIALIZED (
  SELECT vec_id, qv, CAST(list_dot_product(qv, (SELECT query_v FROM q)) AS BIGINT) AS rel
  FROM qe WHERE vec_id <> 0
)"""
    ]
    lam_c = lam_den - lam_num
    parts.append(
        f"""p1 AS MATERIALIZED (
  SELECT CAST(1 AS BIGINT) AS sel_round, vec_id, qv, {lam_num} * rel AS score
  FROM cand ORDER BY {lam_num} * rel DESC, vec_id ASC LIMIT 1
)"""
    )
    for r in range(2, k + 1):
        prev_sel = " UNION ALL ".join(
            f"SELECT vec_id, qv FROM p{i}" for i in range(1, r)
        )
        prev_ids = " UNION ALL ".join(
            f"SELECT vec_id FROM p{i}" for i in range(1, r)
        )
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT CAST({r} AS BIGINT) AS sel_round, c.vec_id, c.qv,
         {lam_num} * c.rel - {lam_c} * MAX(CAST(list_dot_product(c.qv, s.qv) AS BIGINT)) AS score
  FROM cand c, ({prev_sel}) s
  WHERE c.vec_id NOT IN ({prev_ids})
  GROUP BY c.vec_id, c.qv, c.rel
  ORDER BY score DESC, c.vec_id ASC LIMIT 1
)"""
        )
    final = " UNION ALL ".join(
        f"SELECT sel_round, vec_id, score FROM p{i}" for i in range(1, k + 1)
    )
    return ",\n".join(parts) + f"\nSELECT * FROM ({final}) ORDER BY sel_round"


ORACLE_MMR_SELECT = _mmr_oracle(5, 7, 10)


def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood near-dup pairs (operators/dedup.py
    sorted_neighborhood_pairs, r11, blocking key bounded r12;
    Hernandez-Stolfo SIGMOD'95): the ORDER-based blocking family next
    to LSH banding and prefix filtering — sort by the 64-char text
    PREFIX (the bounded blocking key: ranking on raw text shuffled full
    document bytes as sort keys), slide an 8-row neighborhood, exact
    shingle-Jaccard verify inside it.  Guaranteed window·N candidate
    budget regardless of token statistics (works in the uniform-vocab
    regime where prefix filtering's precondition fails).  Global rank
    is range-partition + offset-collect, never a single-task window;
    the oracle reproduces the identical (prefix-key, id) neighborhood
    definition and the identical rounded-jaccard filter."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    return DD.sorted_neighborhood_pairs(
        corpus, "text", "doc_id", window=8, k=3, threshold=0.5
    )


ORACLE_SORTED_NEIGHBORHOOD = f"""
WITH corpus AS ({_NEARDUP_SQL}),
ranked AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY substring(text, 1, 64), doc_id) AS rn
  FROM corpus
),
cand AS (
  SELECT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b
  FROM ranked a JOIN ranked b ON b.rn BETWEEN a.rn + 1 AND a.rn + 8
  GROUP BY 1, 2
),
docs AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM docs
),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh_raw WHERE shingle <> ''),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_common
  FROM cand c
  JOIN sh a ON a.doc_id = c.id_a
  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.5
"""


def q_stats_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (operators/linalg.py
    label_centroids, r11): the class-statistics pass of centroid
    classifiers / embedding-drift monitors — posexplode + ONE map-side-
    combinable (label, dim) aggregate, output |labels|·d rows.  Exact:
    components quantize floor(v·1e6+0.5) to BIGINT, sums are exact
    integers, the centroid is one division of the same two exact numbers
    (never a float sum)."""
    from radohydro_spark.operators.linalg import label_centroids

    return label_centroids(
        _t(spark, sf_dir, "embeddings"), "embedding", "label"
    )


ORACLE_LABEL_CENTROIDS = """
WITH e AS (
  SELECT label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
),
q AS (
  SELECT label,
         unnest(list_transform(v, x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT))) AS qv,
         unnest(range(0, len(v))) AS dim
  FROM e
)
SELECT label, CAST(dim AS INT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(qv) AS DOUBLE) / COUNT(*) / CAST(1000000 AS DOUBLE) AS centroid
FROM q GROUP BY label, dim
"""


# fixed mixture-plan inputs shared by engine and oracle: per-source
# target shares in permille + a token budget
_MIX_TARGETS = {"src0": 300, "src1": 200, "src2": 150, "src3": 100, "src4": 50}
_MIX_BUDGET = 40_000


def q_corpus_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture planner (operators/sampling.py mixture_plan, r11):
    allocate a fixed token budget across sources by target share —
    rate_ppm = min(1e6, target·1e6 div actual), the allocation artifact
    stratified_hash_sample then executes.  INTEGER-ONLY (SQL `div`, no
    float division anywhere): `/`+cast truncates a ROUNDED double, which
    can cross an integer and split from DuckDB's exact `//` floor.
    Weights = whitespace token counts of the documents."""
    from radohydro_spark.functions.text import token_count
    from radohydro_spark.operators.sampling import mixture_plan

    d = _docs(spark, sf_dir).select(
        "source", token_count("text").alias("n_tokens")
    )
    return mixture_plan(d, "source", "n_tokens", _MIX_TARGETS, _MIX_BUDGET)


def _mixture_oracle(targets: dict, budget: int) -> str:
    values = ", ".join(
        f"('{k}', CAST({v} AS BIGINT))" for k, v in sorted(targets.items())
    )
    return f"""
WITH a AS (
  SELECT source AS stratum,
         CAST(SUM(len({_SQL_TOKS})) AS BIGINT) AS actual
  FROM documents GROUP BY source
),
t(stratum, share_permille) AS (VALUES {values}),
j AS (
  SELECT a.stratum, a.actual,
         (CAST({int(budget)} AS BIGINT) * t.share_permille) // 1000 AS target
  FROM a JOIN t USING (stratum)
)
SELECT stratum, actual, target,
       least(CAST(1000000 AS BIGINT), (target * 1000000) // actual) AS rate_ppm,
       (actual * least(CAST(1000000 AS BIGINT), (target * 1000000) // actual))
         // 1000000 AS planned
FROM j
"""


ORACLE_MIXTURE_PLAN = _mixture_oracle(_MIX_TARGETS, _MIX_BUDGET)


_BM25_Q = [(0, "spark join table"), (1, "scan filter row batch")]


def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 per query (operators/retrieval.py bm25_topk,
    r11): posting-list joins as the inverted index — only postings of
    the (broadcast) query terms flow; per-term contributions are a
    fixed-order float expression quantized floor(x*1e6+0.5) to BIGINT
    BEFORE the per-document sum, so the ranking is hash-exact
    cross-engine (float sums are aggregation-order dependent; integer
    sums are not)."""
    from radohydro_spark.operators.retrieval import bm25_topk

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    qdf = spark.createDataFrame(_BM25_Q, "query_id long, text string")
    return bm25_topk(docs, qdf, k=10)


def _bm25_cte(query_rows: list[tuple[int, str]], k: int) -> str:
    """Shared BM25 CTE chain mirroring bm25_topk's exact expression
    order (see the operator docstring's float-discipline note)."""
    terms = sorted(
        {(qid, t) for qid, text in query_rows for t in text.split() if t}
    )
    values = ", ".join(f"(CAST({qid} AS BIGINT), '{t}')" for qid, t in terms)
    return f"""d AS MATERIALIZED (SELECT doc_id, {_SQL_TOKS} AS toks FROM documents),
dl AS MATERIALIZED (SELECT doc_id, len(toks) AS dlen, toks FROM d WHERE len(toks) > 0),
post AS MATERIALIZED (
  SELECT doc_id, dlen, t AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, dlen, unnest(toks) AS t FROM dl)
  WHERE t <> '' GROUP BY 1, 2, 3
),
stats AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(dlen) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl
  FROM dl
),
dft AS MATERIALIZED (SELECT term, COUNT(*) AS dft FROM post GROUP BY term),
q(query_id, term) AS (VALUES {values}),
bm_scored AS MATERIALIZED (
  SELECT q.query_id, p.doc_id,
         CAST(SUM(CAST(floor(
           ln(CAST(1.0 AS DOUBLE)
              + (s.n - dft.dft + CAST(0.5 AS DOUBLE))
                / (dft.dft + CAST(0.5 AS DOUBLE)))
           * (CAST(p.tf AS DOUBLE) * CAST(2.2 AS DOUBLE)
              / (CAST(p.tf AS DOUBLE)
                 + CAST(1.2 AS DOUBLE)
                   * (CAST(0.25 AS DOUBLE)
                      + CAST(0.75 AS DOUBLE) * p.dlen / s.avgdl)))
           * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
           AS BIGINT) AS score_micro
  FROM post p JOIN dft USING (term) JOIN q USING (term) CROSS JOIN stats s
  GROUP BY 1, 2
),
bm_ranked AS MATERIALIZED (
  SELECT query_id, doc_id, score_micro,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_micro DESC, doc_id ASC) AS rank
  FROM bm_scored
),
bm_topk AS MATERIALIZED (SELECT * FROM bm_ranked WHERE rank <= {k})"""


ORACLE_BM25_TOPK = f"""
WITH {_bm25_cte(_BM25_Q, 10)}
SELECT query_id, doc_id, score_micro, rank FROM bm_topk
"""


def q_search_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal-Rank Fusion (operators/
    retrieval.py rrf_fuse, r11; Cormack et al. SIGIR'09): fuse the BM25
    top-20 for one lexical query with the cosine top-20 around the
    vec_id-0 embedding (vector ids are document ids in the synthetic
    corpus) — rank-based fusion needs no score calibration between the
    incomparable lexical/vector scales.  INTEGER-ONLY fusion:
    contribution = 1_000_000 div (60 + rank), summed as BIGINT — no
    float anywhere, identical ordering on any engine."""
    from radohydro_spark.operators.retrieval import bm25_topk, rrf_fuse

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    qdf = spark.createDataFrame([_BM25_Q[0]], "query_id long, text string")
    lex = bm25_topk(docs, qdf, k=20).select("doc_id", "rank")
    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = SIM.cosine_topk(e, queries, k=20).select(
        F.col("vec_id").alias("doc_id"), "rank"
    )
    return rrf_fuse([lex, vec], k=10)


ORACLE_RRF_FUSION = f"""
WITH {_bm25_cte([_BM25_Q[0]], 20)},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v AS qvec FROM e WHERE vec_id = 0),
cos_scored AS (
  SELECT e.vec_id AS doc_id,
         round(coalesce(list_dot_product((SELECT qvec FROM qv), e.v)
               / (sqrt(list_dot_product((SELECT qvec FROM qv), (SELECT qvec FROM qv)))
                  * sqrt(list_dot_product(e.v, e.v))), 0.0), 6) AS cosine
  FROM e
),
cos_topk AS (
  SELECT doc_id, rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id ASC) AS rank
    FROM cos_scored
  ) WHERE rank <= 20
),
contrib AS (
  SELECT doc_id, 1000000 // (60 + rank) AS c FROM bm_topk
  UNION ALL
  SELECT doc_id, 1000000 // (60 + rank) AS c FROM cos_topk
),
fused AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS fused_score
  FROM contrib GROUP BY doc_id
)
SELECT doc_id, fused_score, fused_rank FROM (
  SELECT doc_id, fused_score,
         row_number() OVER (ORDER BY fused_score DESC, doc_id ASC) AS fused_rank
  FROM fused
) WHERE fused_rank <= 10
"""


def q_stats_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA top component (operators/linalg.py, r9): the
    O(N·d²) Gram accumulation runs as mapInPandas NumPy outer-product
    partials (d² longs per Arrow batch — kilobytes of shuffle at ANY
    corpus size), the d×d eigensolve is a driver-side integer power
    iteration (dimension-sized collect, same contract as PQ codebooks).
    Everything is exact BIGINT arithmetic until one final sqrt+divide,
    so the oracle unrolls the identical four iterations in SQL and
    matches bit-for-bit."""
    from radohydro_spark.operators.linalg import pca_top_component

    e = _t(spark, sf_dir, "embeddings")
    return pca_top_component(spark, e, "embedding", dims=64, scale=1000)


def _pca_oracle(dims: int = 64, iterations: int = 4, cap: int = 1 << 20) -> str:
    """Unrolled power-iteration twin of operators/linalg.py: identical
    quantization formula (sign·floor(|x|·1000+0.5) — same IEEE sequence
    as the NumPy kernel), exact integer Gram and iteration arithmetic,
    floor division only ever applied to nonnegative operands (DuckDB //
    floors, Python/Java truncate — they agree only above zero).  The
    matvec ``w = C·v`` is computed in HUGEINT (cast BEFORE the multiply):
    Gram entries grow linearly with row count (c ≈ N·scale²·E[x²]) and
    with |v| up to ~2^21 the BIGINT product overflows around N≈10⁷ rows
    at scale=1000 — the Python driver uses unbounded ints, so the oracle
    must widen to stay its exact twin.  HUGEINT appears only in
    INTERMEDIATE CTEs; the output columns are INT and DOUBLE, so the
    strict gate's no-decimal-output rule is untouched."""
    ctes = [
        """raw AS (
  SELECT vec_id,
         generate_subscripts(embedding, 1) - 1 AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
ex AS (
  SELECT vec_id, i,
         CAST(CASE WHEN x >= 0 THEN floor(x * 1000 + 0.5)
                   ELSE -floor(-x * 1000 + 0.5) END AS BIGINT) AS q
  FROM raw
),
C AS (
  SELECT a.i AS i, b.i AS j, CAST(SUM(a.q * b.q) AS BIGINT) AS c
  FROM ex a JOIN ex b USING (vec_id)
  GROUP BY 1, 2
),
v0 AS (SELECT i, CAST(1 AS BIGINT) AS v FROM range(%d) t(i))""" % dims
    ]
    for t in range(1, iterations + 1):
        ctes.append(
            f"""w{t} AS (
  SELECT C.i AS i, SUM(CAST(C.c AS HUGEINT) * v{t-1}.v) AS w
  FROM C JOIN v{t-1} ON C.j = v{t-1}.i GROUP BY 1
),
v{t} AS (
  SELECT i,
         CAST(CASE WHEN w >= 0 THEN 1 ELSE -1 END
         * (abs(w) // greatest(1, (SELECT max(abs(w)) FROM w{t}) // {cap}))
         AS BIGINT) AS v
  FROM w{t}
)"""
        )
    last = f"v{iterations}"
    return (
        "WITH "
        + ",\n".join(ctes)
        + f""",
norm AS (SELECT sqrt(CAST(SUM(v * v) AS DOUBLE)) AS nrm FROM {last})
SELECT CAST(i AS INT) AS dim,
       round(v / (SELECT nrm FROM norm), 6) AS loading
FROM {last} ORDER BY dim"""
    )


def q_window_distinct_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) over a window (r9).  Spark windows do not
    accept DISTINCT aggregates, so the engine uses the standard
    first-occurrence rewrite — flag the first (customer, priority) row
    by row_number, then a running SUM of flags — while the DuckDB oracle
    runs its NATIVE ``COUNT(DISTINCT …) OVER`` implementation: two
    independent algorithms agreeing row-for-row is a stronger check
    than shared SQL.  Deterministic total order via (o_orderdate,
    o_orderkey).  ONE shuffle serves both windows: the explicit
    repartition on o_custkey satisfies the first window's
    (custkey, priority) clustering requirement too (HashPartitioning on
    a SUBSET of the required keys co-locates every group), so Catalyst
    inserts only per-partition sorts after it — without the hint the
    plan pays two exchanges, one per window spec (plan-asserted in
    tests/test_plans.py)."""
    from pyspark.sql import Window as W

    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 7 == 0)
        .repartition("o_custkey")
    )
    w_first = W.partitionBy("o_custkey", "o_orderpriority").orderBy(
        "o_orderdate", "o_orderkey"
    )
    w_run = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        o.withColumn(
            "_f", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
        )
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum("_f").over(w_run).alias("distinct_priorities_so_far"),
        )
    )


ORACLE_WINDOW_DISTINCT_RUNNING = """
SELECT o_custkey, o_orderkey,
       COUNT(DISTINCT o_orderpriority) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS UNBOUNDED PRECEDING) AS distinct_priorities_so_far
FROM orders
WHERE o_custkey % 7 = 0
"""


# --- round-10 additions ---


def q_text_tfidf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine pairs (operators/dedup.py tfidf_cosine_pairs,
    r10): the weighted-vocabulary near-dup signal as a relational sparse
    dot product — integer-exact weights (quantized idf, cents
    discipline), one pair-key shuffle, hot-term guard ON (the oracle
    reproduces it).  Floats only in the final dot/(|a||b|) on
    exactly-representable integers."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    return DD.tfidf_cosine_pairs(
        corpus, "text", "doc_id", threshold=0.9, idf_scale=1000, max_doc_freq=1000
    )


ORACLE_TFIDF_COSINE = f"""
WITH corpus AS ({_NEARDUP_SQL}),
toks AS (SELECT doc_id, unnest({_SQL_TOKS}) AS term FROM corpus),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks WHERE term <> ''
  GROUP BY doc_id, term
),
dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term
          HAVING COUNT(*) <= 1000),
n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM corpus),
w AS (
  SELECT tf.doc_id, tf.term,
         tf.tf * CAST(round(ln((n.n + 1.0) / (dfreq.df + 1.0)) * 1000.0, 0)
                      AS BIGINT) AS w
  FROM tf JOIN dfreq USING (term) CROSS JOIN n
),
norms AS (SELECT doc_id, CAST(SUM(w * w) AS BIGINT) AS nsq FROM w GROUP BY doc_id),
dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(a.w * b.w) AS BIGINT) AS dot
  FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 6) AS cos_sim
FROM dots
JOIN norms na ON na.doc_id = id_a
JOIN norms nb ON nb.doc_id = id_b
WHERE round(dot / (sqrt(na.nsq) * sqrt(nb.nsq)), 6) >= 0.9
"""


def q_events_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands interval coalescing (operators/rangejoin.py
    coalesce_intervals, r10): each event opens a 30-minute presence
    interval; overlapping/adjacent intervals per user merge into maximal
    islands in one keyed shuffle (both windows share the partitionBy) —
    no iteration, no UDF, pure timestamp/int arithmetic."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("hi"),
    )
    from radohydro_spark.operators.rangejoin import coalesce_intervals

    return coalesce_intervals(ev, ["user_id"], "lo", "hi")


ORACLE_INTERVAL_COALESCE = """
WITH iv AS (
  SELECT user_id, ts AS lo, ts + INTERVAL 30 MINUTE AS hi FROM events
),
f AS (
  SELECT user_id, lo, hi,
         CASE WHEN MAX(hi) OVER (PARTITION BY user_id ORDER BY lo, hi
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) >= lo
              THEN 0 ELSE 1 END AS new_island
  FROM iv
),
g AS (
  SELECT *, SUM(new_island) OVER (PARTITION BY user_id ORDER BY lo, hi
              ROWS UNBOUNDED PRECEDING) AS island
  FROM f
)
SELECT user_id, MIN(lo) AS island_lo, MAX(hi) AS island_hi,
       COUNT(*) AS n_intervals
FROM g GROUP BY user_id, island
"""


def q_stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median (operators/aggregate.py weighted_median,
    r10): quantity-weighted median extended price per (returnflag,
    linestatus) — pure integer threshold selection over one keyed
    shuffle, output is an input value (hash-exact by construction)."""
    from radohydro_spark.operators.aggregate import weighted_median

    return weighted_median(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag", "l_linestatus"],
        "l_extendedprice",
        "l_quantity",
    )


ORACLE_WEIGHTED_MEDIAN = """
WITH d AS (
  SELECT l_returnflag, l_linestatus, l_extendedprice AS v,
         CAST(l_quantity AS BIGINT) AS w
  FROM lineitem WHERE l_extendedprice IS NOT NULL
),
c AS (
  SELECT l_returnflag, l_linestatus, v,
         SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus ORDER BY v
             ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(w) OVER (PARTITION BY l_returnflag, l_linestatus) AS tw
  FROM d
)
SELECT l_returnflag, l_linestatus, MIN(v) AS weighted_median
FROM c WHERE 2 * cw >= tw GROUP BY l_returnflag, l_linestatus
"""


def q_stats_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy hitters via Misra-Gries candidates + exact verify
    (operators/sketch.py heavy_hitters, r10) over a derived skewed key
    (40% of lineitem rows concentrated on 4 hot keys, the remainder near-
    unique — the distribution a hot-key diagnosis would face before
    salting, operators/skew.py).  phi = 1/50: exactly the 4 planted hot
    keys at every scale factor.  Threshold is pure integer arithmetic
    (cnt * 50 >= N) — no float seam; the oracle is the naive GROUP BY /
    HAVING whose shuffle the sketch exists to avoid."""
    from radohydro_spark.operators.sketch import heavy_hitters

    skewed = _t(spark, sf_dir, "lineitem").select(
        F.when(F.col("l_orderkey") % 10 < 4, F.col("l_orderkey") % 4)
        .otherwise(F.col("l_orderkey"))
        .alias("k")
    )
    return heavy_hitters(skewed, "k", 50)


ORACLE_HEAVY_HITTERS = """
WITH d AS (
  SELECT CASE WHEN l_orderkey % 10 < 4 THEN l_orderkey % 4
              ELSE l_orderkey END AS value
  FROM lineitem
),
tot AS (SELECT COUNT(*) AS n FROM d)
SELECT value, COUNT(*) AS cnt
FROM d, tot
GROUP BY value, tot.n
HAVING COUNT(*) * 50 >= tot.n
"""


def q_text_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated 8-token spans across the documents corpus
    (operators/dedup.py duplicate_spans, r10) — substring-level dedup in
    the sense of Lee et al. 2022, complementing the document-level
    shingle/MinHash family: spans occurring in >= 2 distinct docs with
    occurrence counts.  Pure JVM tokenize/slide/aggregate; integer
    outputs, span text as the group key so the ANSI oracle reproduces it
    verbatim (production fingerprints the key, fingerprint=True — row-
    identical, tested)."""
    from radohydro_spark.operators.dedup import duplicate_spans

    return duplicate_spans(
        _t(spark, sf_dir, "documents"), "text", "doc_id", n_tokens=8
    )


ORACLE_DUPLICATE_SPANS = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
pos AS (
  SELECT doc_id, t, unnest(range(1, len(t) - 8 + 2)) AS i
  FROM toks WHERE len(t) >= 8
),
spans AS (SELECT doc_id, array_to_string(t[i:i+7], ' ') AS span FROM pos)
SELECT span, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
"""


def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the sparse part-supplier bipartite graph (operators/
    graph.py k_core, r10): lineitem rows with l_quantity <= 5 induce
    edges part <-> supplier (keys disambiguated onto even/odd ids);
    iterative degree peeling to the fixed point, one job per round.
    Returns (node, in-core degree).  The oracle unrolls 8 peel rounds as
    generated CTEs (converges in 2 at every test scale; extra rounds are
    no-ops at the fixed point — same unrolled-oracle technique as
    pagerank/bfs).  max_iter is PINNED to the oracle's unroll depth: if
    a scale ever needed >8 peels the oracle pin would silently break, so
    the engine is told to raise (k_core fails loudly on max_iter
    exhaustion, r11) instead of returning a non-fixed-point."""
    from radohydro_spark.operators.graph import k_core

    e = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") <= 5)
        .select(
            (F.col("l_partkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
    )
    return k_core(e, 4, max_iter=8)


def _kcore_oracle(k: int, rounds: int) -> str:
    # AS MATERIALIZED is load-bearing: each e{r} references e{r-1} twice
    # (the degree filter and the edge filter), and DuckDB INLINES plain
    # CTEs — 8 unrolled rounds would re-evaluate e0 2^8 times (measured:
    # the un-materialized form ran >15 min at sf0.01; materialized, ms).
    parts = [
        """WITH ded AS MATERIALIZED (
  SELECT DISTINCT l_partkey*2 AS u, l_suppkey*2+1 AS v
  FROM lineitem WHERE l_quantity <= 5
),
e0 AS MATERIALIZED (SELECT u AS a, v AS b FROM ded UNION ALL SELECT v AS a, u AS b FROM ded)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"n{r} AS MATERIALIZED (SELECT a FROM e{r-1} GROUP BY a HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"e{r} AS MATERIALIZED (SELECT a, b FROM e{r-1} "
            f"WHERE a IN (SELECT a FROM n{r}) AND b IN (SELECT a FROM n{r}))"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT a AS node, COUNT(*) AS degree FROM e{rounds} GROUP BY a"
    )


ORACLE_KCORE = _kcore_oracle(4, 8)


def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs Jaccard via PREFIX FILTERING (operators/dedup.py
    jaccard_prefix_pairs, r10; Chaudhuri ICDE'06 / Xiao WWW'08): same
    corpus, threshold, and ORACLE as dedup_ngram_jaccard — two
    independent algorithms (naive shingle self-join vs rarest-first
    prefix index + candidate verify) agreeing row-for-row, while the
    prefix version joins only ~(1-t) of each doc's shingles and never
    touches stop-shingle f^2 blowup.  NOTE: this corpus (uniform
    31-token vocabulary) is the operator's documented ADVERSARIAL case;
    dedup_jaccard_prefix_zipf is the design-regime twin (r11) whose
    corpus has the selective rare-token tail the precondition names."""
    corpus = _dup_corpus(spark, sf_dir, near=True)
    return DD.jaccard_prefix_pairs(corpus, "text", "doc_id", k=3, threshold=0.5)


def q_dedup_jaccard_prefix_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard in its DESIGN regime (operators/
    dedup.py jaccard_prefix_pairs, r11): the synthetic documents corpus
    has a uniform 31-token vocabulary — the operator's documented
    adversarial case (dedup.py precondition: the shingle-frequency
    distribution needs a selective tail).  This twin runs the SAME
    operator on a corpus that HAS that tail, built from testdata alone:
    each order is a document whose token set is its basket of part keys
    (market-basket shape).  Every part key is globally rare (~30 orders
    per part at any scale), so the rarest-first prefixes discriminate
    and the candidate space collapses — the regime the operator exists
    for.  k=1 shingles = the token set itself; threshold 0.5 keeps the
    output non-degenerate at sf0.001/0.01/0.1 (346/2708/27159 pairs).
    Oracle: plain inverted-index exact Jaccard — two algorithms, one
    ground truth, same as the uniform-vocab twin."""
    li = _t(spark, sf_dir, "lineitem")
    docs = (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                " ",
                F.sort_array(F.collect_set(F.col("l_partkey").cast("string"))),
            ).alias("text")
        )
        .select(F.col("l_orderkey").alias("doc_id"), "text")
    )
    return DD.jaccard_prefix_pairs(docs, "text", "doc_id", k=1, threshold=0.5)


ORACLE_JACCARD_PREFIX_ZIPF = """
WITH s AS (
  SELECT l_orderkey AS doc, CAST(l_partkey AS VARCHAR) AS tok
  FROM lineitem GROUP BY 1, 2
),
sizes AS (SELECT doc, count(*) AS n_sh FROM s GROUP BY doc),
inter AS (
  SELECT a.doc AS id_a, b.doc AS id_b, count(*) AS n_common
  FROM s a JOIN s b ON a.tok = b.tok AND a.doc < b.doc
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc = id_a
JOIN sizes sb ON sb.doc = id_b
WHERE round(n_common / CAST(sa.n_sh + sb.n_sh - n_common AS DOUBLE), 6) >= 0.5
"""


def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered first-touch funnel view -> click -> purchase
    (operators/behavior.py funnel, r10): step i counts users with the
    step event strictly after their earliest completion of the prefix.
    One filtered min-agg per step, all joins co-partitioned on user."""
    from radohydro_spark.operators.behavior import funnel

    return funnel(_t(spark, sf_dir, "events"), ["view", "click", "purchase"])


ORACLE_FUNNEL = """
WITH s0 AS (
  SELECT user_id AS u, MIN(ts) AS t FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s1 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t
  FROM events e JOIN s0 ON s0.u = e.user_id AND e.ts > s0.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
),
s2 AS (
  SELECT e.user_id AS u, MIN(e.ts) AS t
  FROM events e JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 0 AS step_idx, 'view' AS step_name, COUNT(*) AS n_users FROM s0
UNION ALL
SELECT 1, 'click', COUNT(*) FROM s1
UNION ALL
SELECT 2, 'purchase', COUNT(*) FROM s2
"""


def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts (operators/behavior.py retention_cohorts,
    r10): users bucketed by first-event week, counted once per later
    active week.  periods_later is an integer day-difference quotient
    (Spark trunc-toward-zero == DuckDB // floor division — both operands
    non-negative, so no rounding seam)."""
    from radohydro_spark.operators.behavior import retention_cohorts

    return retention_cohorts(_t(spark, sf_dir, "events"))


ORACLE_RETENTION = """
WITH e AS (
  SELECT user_id AS u, CAST(date_trunc('week', ts) AS DATE) AS p FROM events
),
first AS (SELECT u, MIN(p) AS cohort_period FROM e GROUP BY u),
act AS (
  SELECT DISTINCT e.u, first.cohort_period,
         datediff('day', first.cohort_period, e.p) // 7 AS periods_later
  FROM e JOIN first ON first.u = e.u
)
SELECT cohort_period, periods_later, COUNT(*) AS n_users
FROM act GROUP BY cohort_period, periods_later
"""


def q_sample_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic coordinated bottom-k sample (operators/sampling.py
    bottom_k_sample, r10): the 100 orders with the smallest
    md5(o_orderkey) — exact-size, engine-independent, nested (bottom-10
    is a subset of bottom-100), planned as TakeOrderedAndProject (per-
    partition heaps, no global sort)."""
    from radohydro_spark.operators.sampling import bottom_k_sample

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    return bottom_k_sample(o, "o_orderkey", 100)


ORACLE_BOTTOM_K = """
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders
ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
LIMIT 100
"""


def q_dq_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent bucketed table checksum (operators/profile.py
    table_fingerprint, r10): verify a replication/migration of a 100 TB
    table by comparing n_buckets x 4 longs instead of rows.  Two
    md5-derived 32-bit lanes summed per hash bucket; commutative sums
    make the result independent of row order, partitioning, and engine —
    the oracle IS the cross-engine replication check."""
    from radohydro_spark.operators.profile import table_fingerprint

    return table_fingerprint(
        _t(spark, sf_dir, "orders"),
        ["o_orderkey", "o_custkey", "o_orderpriority"],
        n_buckets=64,
    )


def _fp_lane_sql(h: str, off: int) -> str:
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(string_split(substr({h}, {off}, 8), ''), "
        "ch -> CAST(strpos('0123456789abcdef', ch) AS BIGINT) - 1)), "
        "(a, x) -> a * 16 + x)"
    )


ORACLE_TABLE_FINGERPRINT = f"""
WITH r AS (
  SELECT md5(concat_ws(chr(31),
           coalesce(CAST(o_orderkey AS VARCHAR), chr(127)),
           coalesce(CAST(o_custkey AS VARCHAR), chr(127)),
           coalesce(o_orderpriority, chr(127)))) AS h
  FROM orders
),
l AS (
  SELECT {_fp_lane_sql('h', 1)} AS l1, {_fp_lane_sql('h', 9)} AS l2 FROM r
)
SELECT l1 % 64 AS bucket, COUNT(*) AS n_rows,
       CAST(SUM(l1) AS BIGINT) AS checksum_a,
       CAST(SUM(l2) AS BIGINT) AS checksum_b
FROM l GROUP BY bucket
"""


def q_stats_quantiles_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact type-1 quantiles with BOUNDED memory (operators/sketch.py
    exact_quantiles, r10): stride-sampled candidates -> one vectorized
    rank-histogram pass -> exact selection inside a < stride x
    n_partitions bracketing interval.  Spark's own `percentile` buffers
    every group value in executor memory (the stats_percentiles query's
    documented ceiling); this is the scale path.  Ranks are pure-integer
    (rank*den >= N*num), the result is always an input VALUE — hash-
    exact against the oracle's ROW_NUMBER rank definition."""
    from radohydro_spark.operators.sketch import exact_quantiles

    return exact_quantiles(
        _t(spark, sf_dir, "lineitem"),
        "l_extendedprice",
        [(1, 100), (1, 2), (9, 10), (99, 100), (1, 1)],
        sample_stride=500,
    )


ORACLE_QUANTILES_DISTRIBUTED = """
WITH v AS (SELECT l_extendedprice AS x FROM lineitem),
n AS (SELECT COUNT(*) AS n FROM v),
r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x) AS rn FROM v),
f AS (
  SELECT CAST(1 AS BIGINT) AS num, CAST(100 AS BIGINT) AS den
  UNION ALL SELECT 1, 2
  UNION ALL SELECT 9, 10
  UNION ALL SELECT 99, 100
  UNION ALL SELECT 1, 1
)
SELECT num, den, MIN(x) AS value
FROM r, n, f
WHERE rn * den >= n * num
GROUP BY num, den
"""


def q_sample_max_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection (operators/sampling.py
    greedy_max_coverage, r10; Nemhauser et al. 1978 submodular greedy):
    5 rounds of pick-the-doc-adding-the-most-uncovered-3-gram-shingles —
    the coreset / seed-corpus selection primitive.  Ties break on
    doc_id; stops early at zero marginal gain.  The oracle replays the
    sweep as generated SQL rounds (AS MATERIALIZED throughout — the
    graph_kcore lesson); the engine's xxhash64 shingle keys count
    identically to the oracle's shingle strings absent 2^-64 collisions
    (same stance as dedup_ngram_jaccard)."""
    from radohydro_spark.operators.sampling import greedy_max_coverage

    return greedy_max_coverage(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=5, shingle_k=3
    )


def _gmc_oracle(k: int) -> str:
    head = f"""WITH toks AS MATERIALIZED (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
shr AS MATERIALIZED (
  SELECT doc_id, unnest(list_transform(range(1, greatest(len(t) - 2, 1) + 1),
         i -> array_to_string(list_slice(t, i, i + 2), ' '))) AS sh
  FROM toks
),
p AS MATERIALIZED (SELECT DISTINCT doc_id, sh FROM shr WHERE sh <> '')"""
    parts = [head]
    for r in range(1, k + 1):
        rem = (
            f" WHERE sh NOT IN (SELECT sh FROM c{r-1})"
            f" AND doc_id NOT IN (SELECT doc_id FROM ch{r-1})"
            if r > 1
            else ""
        )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT doc_id, COUNT(*) AS gain FROM p{rem} GROUP BY doc_id)"
        )
        parts.append(
            f"w{r} AS MATERIALIZED (SELECT CAST({r} AS BIGINT) AS sel_round, doc_id, gain "
            f"FROM g{r} ORDER BY gain DESC, doc_id LIMIT 1)"
        )
        if r == 1:
            parts.append(
                "c1 AS MATERIALIZED (SELECT DISTINCT sh FROM p "
                "WHERE doc_id IN (SELECT doc_id FROM w1))"
            )
            parts.append("ch1 AS MATERIALIZED (SELECT doc_id FROM w1)")
        else:
            parts.append(
                f"c{r} AS MATERIALIZED (SELECT sh FROM c{r-1} UNION "
                f"SELECT sh FROM p WHERE doc_id IN (SELECT doc_id FROM w{r}))"
            )
            parts.append(
                f"ch{r} AS MATERIALIZED (SELECT doc_id FROM ch{r-1} UNION "
                f"SELECT doc_id FROM w{r})"
            )
    final = " UNION ALL ".join(f"SELECT * FROM w{r}" for r in range(1, k + 1))
    return ",\n".join(parts) + "\n" + final


ORACLE_MAX_COVERAGE = _gmc_oracle(5)


def q_events_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average event value per user (operators/aggregate.py
    time_weighted_avg, r10): each sample weighted by its integer-second
    holding duration until the next sample — the metering rollup where a
    chatty sensor must not outvote a quiet one.  Cents x seconds keeps
    numerator/denominator exact BIGINT sums in any order; one double
    division at the end.  Both engines floor fractional timestamps to
    epoch seconds explicitly (DuckDB's CAST would round)."""
    from radohydro_spark.operators.aggregate import time_weighted_avg

    return time_weighted_avg(_t(spark, sf_dir, "events"), ["user_id"], "ts", "value")


ORACLE_TWAP = """
WITH s AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
         CAST(round(value * 100) AS BIGINT) AS v
  FROM events
),
l AS (
  SELECT user_id, v,
         LEAD(t) OVER (PARTITION BY user_id ORDER BY t, v) - t AS dt
  FROM s
)
SELECT user_id,
       ROUND(CAST(SUM(v * dt) AS BIGINT) / CAST(SUM(dt) AS BIGINT) / 100, 6) AS twa,
       CAST(SUM(dt) AS BIGINT) AS total_seconds
FROM l WHERE dt IS NOT NULL
GROUP BY user_id HAVING SUM(dt) > 0
"""


# ---------------------------------------------------------------------------
# round-12 second wave: winnowing / DSIR / contamination coverage


def q_text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint selection (operators.dedup.winnow_fingerprints;
    Schleimer-Wilkerson-Aiken SIGMOD'03, the MOSS algorithm): per-window
    minimum 3-gram hash with rightmost tie-break, packed into one BIGINT
    selection key so the min IS the tie rule — integer-exact cross-engine.
    Every-20th document keeps the driver output compact; the pair query
    below runs the full corpus."""
    d = _docs(spark, sf_dir).filter(F.col("doc_id") % 20 == 0)
    return DD.winnow_fingerprints(d, "text", "doc_id", k=3, window=4)


# winnowing's positional shingles: count = greatest(n-k,0)+1, slide law
# identical to the engine's sequence/slice/concat_ws; parallel unnests
# zip in DuckDB, giving (pos, shingle) rows
def _winnow_sel_sql(src: str, k: int, win: int) -> str:
    P = 1 << 20
    return f"""
t AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM {src}),
w_sh AS (
  SELECT doc_id,
         greatest(len(toks) - {k}, 0) + 1 AS n_sh,
         unnest(range(0, greatest(len(toks) - {k}, 0) + 1)) AS pos,
         unnest(list_transform(range(1, greatest(len(toks) - {k}, 0) + 2),
                i -> array_to_string(list_slice(toks, i, i + {k - 1}), ' '))) AS shingle
  FROM t
),
keyed AS (
  SELECT doc_id, n_sh, pos,
         {_ph_sql('shingle')} * {P} + ({P - 1} - pos) AS sel_key
  FROM w_sh WHERE shingle <> ''
),
sel AS (
  SELECT doc_id, n_sh, pos,
         min(sel_key) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN CURRENT ROW AND {win - 1} FOLLOWING) AS wmin
  FROM keyed
)"""


ORACLE_WINNOW_FINGERPRINTS = f"""
WITH {_winnow_sel_sql("(SELECT doc_id, text FROM documents WHERE doc_id % 20 = 0)", 3, 4)}
SELECT doc_id, wmin // {1 << 20} AS fp_hash, {(1 << 20) - 1} - (wmin % {1 << 20}) AS fp_pos,
       CAST(count(*) AS BIGINT) AS n_windows
FROM sel WHERE pos <= greatest(n_sh - 4, 0)
GROUP BY doc_id, wmin // {1 << 20}, {(1 << 20) - 1} - (wmin % {1 << 20})
"""


def q_dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style candidate pairs on shared winnowing fingerprints
    (operators.dedup.winnow_pairs): same guarantee threshold as a full
    3-gram join at ~2/(window+1) of the join input — the principled
    density knob.  Hot fingerprints (>1000 docs) dropped before the
    self-join, the standard f² cliff guard."""
    return DD.winnow_pairs(
        _docs(spark, sf_dir), "text", "doc_id", k=3, window=4,
        min_shared=2, max_fp_freq=1000,
    )


ORACLE_WINNOW_PAIRS = f"""
WITH {_winnow_sel_sql('documents', 3, 4)},
fps AS (
  SELECT DISTINCT doc_id, wmin // {1 << 20} AS fp_hash
  FROM sel WHERE pos <= greatest(n_sh - 4, 0)
),
cold AS (
  SELECT doc_id, fp_hash FROM fps
  WHERE fp_hash IN (SELECT fp_hash FROM fps GROUP BY fp_hash HAVING count(*) <= 1000)
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_shared
FROM cold a JOIN cold b ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING count(*) >= 2
"""


def q_sample_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators.sampling.dsir_importance_weights;
    Xie et al. NeurIPS'23): every document scored by hashed-bigram
    log-likelihood ratio against the German-language subset as the
    target distribution; top 20 most target-like.  Per-bucket log-ratio
    quantized once to BIGINT (audited: dsir_boundary_margin), weights
    are exact integer sums."""
    from radohydro_spark.operators.sampling import dsir_importance_weights

    d = _docs(spark, sf_dir)
    w = dsir_importance_weights(
        d, d.filter(F.col("lang") == "de"), "text", "doc_id",
        k=2, n_buckets=4096, scale=1_000_000,
    )
    return w.orderBy(F.desc("weight_micro"), "doc_id").limit(20)


def _dsir_grams_sql(src: str, k: int, buckets: int) -> str:
    return f"""
  SELECT doc_id, {_ph_sql('gram')} % {buckets} AS b FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, greatest(len(toks) - {k}, 0) + 2),
                  i -> array_to_string(list_slice(toks, i, i + {k - 1}), ' '))) AS gram
    FROM (SELECT doc_id, {_SQL_TOKS} AS toks FROM {src})
  ) WHERE gram <> ''
"""


ORACLE_DSIR_WEIGHTS = f"""
WITH cg AS ({_dsir_grams_sql('documents', 2, 4096)}),
tg AS ({_dsir_grams_sql("(SELECT doc_id, text FROM documents WHERE lang = 'de')", 2, 4096)}),
cs AS (SELECT b, count(*) AS cs FROM cg GROUP BY b),
ctt AS (SELECT b, count(*) AS ct FROM tg GROUP BY b),
tot AS (SELECT (SELECT count(*) FROM cg) AS ns, (SELECT count(*) FROM tg) AS nt),
lr AS (
  SELECT cs.b,
         CAST(round(ln( ((coalesce(ct, 0) + 1) / (cs + 1))
                        * ((ns + 4096) / (nt + 4096)) ) * 1000000.0) AS BIGINT) AS lrq
  FROM cs LEFT JOIN ctt ON cs.b = ctt.b, tot
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum(lrq) AS BIGINT) AS weight_micro
FROM cg JOIN lr ON cg.b = lr.b
GROUP BY doc_id
ORDER BY weight_micro DESC, doc_id
LIMIT 20
"""


def q_text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (functions.text.pmi_collocations; Church &
    Hanks CL'90): top-20 adjacent-token collocations by quantized
    pointwise mutual information — overflow-safe ratio-of-ratios ln,
    quantized ONCE to BIGINT (seam audited: pmi_boundary_margin >=
    4.8e-5 at three scales), min_count=5 hapax/scale guard, counts joins
    on vocabulary-sized relations, TakeOrderedAndProject top-k."""
    from radohydro_spark.functions.text import pmi_collocations

    return pmi_collocations(_docs(spark, sf_dir), "text", min_count=5, k=20)


ORACLE_PMI_COLLOCATIONS = r"""
WITH toks AS (SELECT string_split_regex(trim(text), '\s+') AS t FROM documents),
uni AS (
  SELECT w, CAST(count(*) AS BIGINT) AS c
  FROM (SELECT unnest(t) AS w FROM toks) WHERE w <> '' GROUP BY w
),
bi AS (
  SELECT pa, pb, CAST(count(*) AS BIGINT) AS cab FROM (
    SELECT unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i])) AS pa,
           unnest(list_transform(range(1, greatest(len(t) - 1, 0) + 1), i -> t[i+1])) AS pb
    FROM toks
  ) WHERE pa <> '' AND pb <> '' GROUP BY pa, pb
),
tot AS (SELECT (SELECT CAST(sum(c) AS BIGINT) FROM uni) AS n1,
               (SELECT CAST(sum(cab) AS BIGINT) FROM bi) AS n2)
SELECT pa, pb, cab,
       CAST(round(ln( (cab / ua.c) * (n1 / n2) * (n1 / ub.c) ) * 1000000.0) AS BIGINT) AS pmi_micro
FROM bi JOIN uni ua ON bi.pa = ua.w JOIN uni ub ON bi.pb = ub.w, tot
WHERE cab >= 5
ORDER BY pmi_micro DESC, pa, pb
LIMIT 20
"""


def q_spatial_overlay_general(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary polygon × polygon overlay (operators.spatial.polygon_overlay
    — the general form of the reference's gp.overlay intersection,
    geotools/geotools.py:215-219, with no rect/convexity assumption;
    geometry/overlay.py signed-fan kernel).  Run here on the reference's
    own shape — cell rectangles AS WKB POLYGONS × basin polygons — and
    pinned to the SAME exact oracle as precip_fragments: the general
    kernel must reproduce the specialized Sutherland-Hodgman rect path
    bit-for-bit on rect inputs.  The genuinely-general shapes (concave,
    holes, star polygons, both orders) are property-tested in
    tests/test_round12_ops.py."""
    import pandas as pd

    from radohydro_spark.geometry.wkb import wkb_box
    from radohydro_spark.operators.spatial import polygon_overlay

    _utc(spark)
    cells = synthetic_cells(spark)
    basins = synthetic_basins(spark)

    def to_wkb(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "cell_id": pdf["cell_row"] * 10000 + pdf["cell_col"],
                    "geom": [
                        wkb_box(l, b, r, t)
                        for l, b, r, t in zip(
                            pdf["left"], pdf["bottom"], pdf["right"], pdf["top"]
                        )
                    ],
                }
            )

    cpoly = cells.mapInPandas(to_wkb, schema="cell_id long, geom binary")
    frags = polygon_overlay(cpoly, basins, a_id="cell_id", b_id="basin_id")
    cdim = cells.select(
        (F.col("cell_row") * 10000 + F.col("cell_col")).alias("cell_id"),
        "cell_row",
        "cell_col",
        ((F.col("right") - F.col("left")) * (F.col("top") - F.col("bottom"))).alias(
            "cell_area"
        ),
    )
    return frags.join(F.broadcast(cdim), frags.a_id == cdim.cell_id).select(
        F.col("b_id").alias("basin_id"),
        "cell_row",
        "cell_col",
        F.round("frag_area", 3).alias("frag_area"),
        "cell_area",
    )


def q_similarity_ivfpq_index_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF-PQ index lifecycle (operators/similarity.py
    build_ivfpq_index / query_ivfpq_index): m-byte PQ code rows written
    partitioned by centroid_id (never the raw vectors), probes read ONLY
    the probed partitions (partition pruning, plan-asserted in tests)
    and ADC-score against LUTs rebuilt from the persisted codebooks.
    Same deterministic quantizers and parameters as
    similarity_ivfpq_topk, so the identical oracle pins that the
    build→persist→probe round-trip loses nothing."""
    import tempfile

    from radohydro_spark.operators.similarity import (
        build_ivfpq_index,
        query_ivfpq_index,
    )

    e = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    queries = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = tempfile.mkdtemp(prefix="radohydro_ivfpq_") + "/index"
    build_ivfpq_index(e, path, n_centroids=16, m=8, n_codes=16)
    return query_ivfpq_index(spark, path, queries, nprobe=4, k=5)


def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-round BPE vocabulary induction
    (functions.text.bpe_train_merges; Sennrich et al. ACL'16): six merge
    rounds over the word-frequency vocabulary — per round one
    map-side-combinable pair aggregate, a single-row argmax collect and
    a narrow greedy fold rewrite (localCheckpoint-truncated lineage, the
    k_core pattern).  Oracle: six generated CTE rounds replaying the
    identical fold law via list_reduce, AS MATERIALIZED against DuckDB's
    exponential CTE inlining."""
    from radohydro_spark.functions.text import bpe_train_merges

    return bpe_train_merges(_docs(spark, sf_dir), "text", 6).orderBy("merge_rank")


def _bpe_train_oracle(n: int = 6) -> str:
    """Generated per-round CTEs (AS MATERIALIZED — the graph_kcore
    lesson: DuckDB inlines plain CTEs exponentially when a round
    references the previous round more than once)."""
    ctes = [
        r"""w0 AS MATERIALIZED (
  SELECT array_to_string(string_split(w, ''), ' ') AS sym, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
)"""
    ]
    for r in range(1, n + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT pa, pb, CAST(sum(cnt) AS BIGINT) AS n FROM (
    SELECT unnest(list_transform(range(1, len(s)), i -> s[i])) AS pa,
           unnest(list_transform(range(1, len(s)), i -> s[i+1])) AS pb,
           cnt
    FROM (SELECT string_split(sym, ' ') AS s, cnt FROM w{r - 1}) t
    WHERE len(s) >= 2
  ) GROUP BY pa, pb
)"""
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (
  SELECT {r} AS merge_rank, pa, pb, n FROM p{r} ORDER BY n DESC, pa, pb LIMIT 1
)"""
        )
        if r < n:
            ctes.append(
                f"""w{r} AS MATERIALIZED (
  SELECT ltrim(list_reduce(list_prepend('', string_split(sym, ' ')),
         (acc, x) -> CASE WHEN suffix(acc, ' ' || m.pa) AND x = m.pb
                          THEN acc || m.pb
                          ELSE acc || ' ' || x END)) AS sym, cnt
  FROM w{r - 1}, m{r} m
)"""
            )
    sel = " UNION ALL ".join(f"SELECT * FROM m{r}" for r in range(1, n + 1))
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT CAST(merge_rank AS INT) AS merge_rank, pa, pb, n FROM ("
        + sel
        + ") ORDER BY merge_rank"
    )


def q_text_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED-selection BPE training (functions.text.bpe_train_merges
    batch_top=4; the standard scalable-BPE compromise — serial BPE is
    inherently round-serial, so a 30k-merge production vocabulary at
    ~0.15 s/round is hours; batching accepts up to B mutually
    symbol-disjoint pairs per round for ~B× fewer rounds): 12 merges in
    3 static rounds, candidates = top 16 by (n DESC, pa, pb), GREEDY
    acceptance in rank order against the already-ACCEPTED symbol set
    (the standard batched-BPE law — evaluated driver-side over the ≤16
    collected rows, and by the oracle as a RECURSIVE CTE walking the
    same candidate window with a space-delimited accepted-symbol
    string, position()-matched because symbols may contain LIKE
    wildcards), accepted merges applied sequentially through the
    shared _bpe_merge_fold law.  A conflict-starved round yields fewer
    total merges, never extra rounds (static, generated-CTE-replayable
    structure).  Oracle: per round, candidate CTE + greedy recursion +
    up to 4 chained list_reduce rewrite steps, each LEFT JOIN ON TRUE
    against its accepted-rank merge (absent rank ⇒ identity rewrite),
    AS MATERIALIZED where referenced twice."""
    from radohydro_spark.functions.text import bpe_train_merges

    return bpe_train_merges(
        _docs(spark, sf_dir), "text", 12, batch_top=4
    ).orderBy("merge_rank")


def _bpe_train_batched_oracle(
    n_merges: int = 12, batch_top: int = 4, cand_factor: int = 4
) -> str:
    """Generated per-round CTEs replaying the batched-selection law
    (see q_text_bpe_train_batched): candidates ranked by
    (n DESC, pa, pb), GREEDY accepted-set acceptance via a recursive
    CTE (accepted symbols carried as a space-delimited string —
    symbols never contain spaces; position() matching because symbols
    may contain LIKE wildcards), sequential per-accepted-rank
    list_reduce rewrites.  Vocabulary/pair CTEs AS MATERIALIZED (the
    graph_kcore lesson)."""
    cap_c = cand_factor * batch_top
    n_rounds = -(-n_merges // batch_top)
    ctes = [
        r"""w0 AS MATERIALIZED (
  SELECT array_to_string(string_split(w, ''), ' ') AS sym, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
)"""
    ]
    for r in range(1, n_rounds + 1):
        b_r = min(batch_top, n_merges - (r - 1) * batch_top)
        prev = f"w{r - 1}"
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT pa, pb, CAST(sum(cnt) AS BIGINT) AS n FROM (
    SELECT unnest(list_transform(range(1, len(s)), i -> s[i])) AS pa,
           unnest(list_transform(range(1, len(s)), i -> s[i+1])) AS pb,
           cnt
    FROM (SELECT string_split(sym, ' ') AS s, cnt FROM {prev}) t
    WHERE len(s) >= 2
  ) GROUP BY pa, pb
)"""
        )
        ctes.append(
            f"""c{r} AS MATERIALIZED (
  SELECT pa, pb, n, cand_rank FROM (
    SELECT pa, pb, n,
           row_number() OVER (ORDER BY n DESC, pa, pb) AS cand_rank
    FROM p{r}) WHERE cand_rank <= {cap_c}
)"""
        )
        ctes.append(
            f"""g{r} AS (
  SELECT 0 AS rank, CAST(' ' AS VARCHAR) AS syms, 0 AS taken,
         CAST(NULL AS VARCHAR) AS acc_pa, CAST(NULL AS VARCHAR) AS acc_pb,
         CAST(NULL AS BIGINT) AS acc_n
  UNION ALL
  SELECT rank,
         CASE WHEN ok THEN syms || pa || ' ' || pb || ' ' ELSE syms END,
         taken + CASE WHEN ok THEN 1 ELSE 0 END,
         CASE WHEN ok THEN pa END, CASE WHEN ok THEN pb END,
         CASE WHEN ok THEN n END
  FROM (
    SELECT c.cand_rank AS rank, c.pa, c.pb, c.n, g.syms, g.taken,
           (g.taken < {b_r}
            AND position(' ' || c.pa || ' ' IN g.syms) = 0
            AND position(' ' || c.pb || ' ' IN g.syms) = 0) AS ok
    FROM g{r} g JOIN c{r} c ON c.cand_rank = g.rank + 1) t
)"""
        )
        ctes.append(
            f"""a{r} AS MATERIALIZED (
  SELECT acc_pa AS pa, acc_pb AS pb, acc_n AS n,
         row_number() OVER (ORDER BY rank) AS accepted_rank
  FROM g{r} WHERE acc_pa IS NOT NULL
)"""
        )
        if r < n_rounds:
            step_prev = prev
            for b in range(1, b_r + 1):
                step = f"w{r}" if b == b_r else f"w{r}s{b}"
                ctes.append(
                    f"""{step} AS MATERIALIZED (
  SELECT CASE WHEN m.pa IS NULL THEN sym
         ELSE ltrim(list_reduce(list_prepend('', string_split(sym, ' ')),
              (acc, x) -> CASE WHEN suffix(acc, ' ' || m.pa) AND x = m.pb
                               THEN acc || m.pb
                               ELSE acc || ' ' || x END)) END AS sym, cnt
  FROM {step_prev} LEFT JOIN
       (SELECT pa, pb FROM a{r} WHERE accepted_rank = {b}) m ON TRUE
)"""
                )
                step_prev = step
    sel = " UNION ALL ".join(
        f"SELECT {r} AS round, pa, pb, n, accepted_rank FROM a{r}"
        for r in range(1, n_rounds + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n".join(ctes)
        + "\nSELECT CAST(row_number() OVER (ORDER BY round, accepted_rank)"
        + " AS INT) AS merge_rank,\n"
        + "       CAST(round AS INT) AS round, pa, pb, n\nFROM ("
        + sel
        + ") ORDER BY merge_rank"
    )


def q_similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composite ANN (operators.similarity.ivf_pq_topk; the FAISS
    IVFPQ layout, Jégou et al. TPAMI'11): inverted-list pruning (nprobe=4
    of 16 lists) over PQ asymmetric-distance scoring (m=8 byte codes) —
    the two scale levers of similarity_ivf_topk and
    similarity_pq_adc_topk composed.  Deterministic quantizer twins keep
    the whole path exactly SQL-reproducible.  Embeddings cast to double
    up front (the sibling queries' convention: the oracle's cosine runs
    on DOUBLE[], so the assign/probe argmax must too)."""
    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return SIM.ivf_pq_topk(
        emb, q, n_centroids=16, nprobe=4, m=8, n_codes=16, k=5
    )


ORACLE_IVFPQ_TOPK = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, cent.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY coalesce(list_dot_product(e.v, cent.cv)
                      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 0.0) DESC,
                      cent.centroid_id ASC) AS rn
    FROM e, cent) t
  WHERE rn = 1
),
sub AS (
  SELECT vec_id, j.range AS j, v[j.range*8+1 : j.range*8+8] AS sv
  FROM e, range(8) j
),
books AS (
  SELECT j, CAST(rn - 1 AS INT) AS code, sv AS cv
  FROM (SELECT *, row_number() OVER (PARTITION BY j ORDER BY vec_id) AS rn
        FROM sub) s
  WHERE rn <= 16
),
dists AS (
  SELECT s.vec_id, s.j, c.code,
         list_dot_product(s.sv, s.sv) + list_dot_product(c.cv, c.cv)
         - 2 * list_dot_product(s.sv, c.cv) AS d
  FROM sub s JOIN books c ON s.j = c.j
),
codes AS (
  SELECT vec_id, j, code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, j ORDER BY d, code) AS rn
    FROM dists) t
  WHERE rn = 1
),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 3),
qprobe AS (
  SELECT query_id, centroid_id FROM (
    SELECT q.query_id, cent.centroid_id,
           row_number() OVER (
             PARTITION BY q.query_id
             ORDER BY coalesce(list_dot_product(q.qv, cent.cv)
                      / (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(cent.cv, cent.cv))), 0.0) DESC,
                      cent.centroid_id ASC) AS pr
    FROM q, cent) t
  WHERE pr <= 4
),
adc AS (
  SELECT qp.query_id, cd.vec_id,
         sum(list_dot_product(qs.sv, qs.sv) + list_dot_product(ct.cv, ct.cv)
             - 2 * list_dot_product(qs.sv, ct.cv)) AS adc
  FROM qprobe qp
  JOIN assigned a ON a.centroid_id = qp.centroid_id
  JOIN codes cd ON cd.vec_id = a.vec_id
  JOIN books ct ON ct.j = cd.j AND ct.code = cd.code
  JOIN sub qs ON qs.j = cd.j AND qs.vec_id = qp.query_id
  GROUP BY 1, 2
)
SELECT query_id, vec_id, round(adc, 6) AS adc_dist, rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY round(adc, 6), vec_id) AS rank
      FROM adc) t
WHERE rank <= 5
"""


def q_sample_stratified_bottom_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum exact-k coordinated sample
    (operators.sampling.stratified_bottom_k): the 5 smallest-md5(id)
    documents per language — balanced eval carving, deterministic and
    nested under growth.  Planned as WindowGroupLimit (rank-limit
    pushdown): each task pre-trims to k rows per stratum BEFORE the one
    stratum-key exchange."""
    from radohydro_spark.operators.sampling import stratified_bottom_k

    d = _docs(spark, sf_dir)
    return stratified_bottom_k(d, "doc_id", "lang", 5).select(
        "lang", "doc_id", "strat_rank"
    )


ORACLE_STRATIFIED_BOTTOM_K = """
SELECT lang, doc_id, strat_rank FROM (
  SELECT lang, doc_id,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS strat_rank
  FROM documents
) WHERE strat_rank <= 5
"""


def q_text_contamination_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination scoring (operators.dedup.contamination_coverage):
    the same corpus/benchmark split as text_contamination_check, but
    reporting coverage_ppm = 1e6·n_shared div n_sh per touched document —
    the removal-threshold signal the boolean gate can't give."""
    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    return DD.contamination_coverage(corpus, bench, "text", "doc_id", k=3)


ORACLE_CONTAMINATION_COVERAGE = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
c_toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM corpus),
c_sh_raw AS (
  SELECT doc_id,
         unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM c_toks
),
c_sh AS (SELECT DISTINCT doc_id, shingle FROM c_sh_raw WHERE shingle <> ''),
n_sh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM c_sh GROUP BY doc_id),
b_toks AS (SELECT doc_id, {_SQL_TOKS} AS toks FROM bench),
b_sh_raw AS (
  SELECT unnest(list_transform(range(1, greatest(len(toks) - 2, 1) + 1),
                i -> array_to_string(list_slice(toks, i, i + 2), ' '))) AS shingle
  FROM b_toks
),
b_sh AS (SELECT DISTINCT shingle FROM b_sh_raw WHERE shingle <> ''),
hits AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_shared
  FROM c_sh c JOIN b_sh b ON c.shingle = b.shingle
  GROUP BY c.doc_id
)
SELECT h.doc_id, n.n_sh, h.n_shared,
       1000000 * h.n_shared // n.n_sh AS coverage_ppm
FROM hits h JOIN n_sh n ON h.doc_id = n.doc_id
"""


def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide exact paragraph dedup with in-order reassembly
    (operators.dedup.dedup_paragraphs) — the C4/CCNet boilerplate-removal
    granularity between whole-document dedup (dedup_exact_groups) and
    span REPORTING (dedup_duplicate_spans): every paragraph that already
    occurred earlier in the corpus (ordered by (doc_id, pos)) is dropped
    and each document is rebuilt from its survivors.  The synthetic
    corpus has no newlines, so the query first pages each document into
    12-token paragraphs with the SAME slicing law on both engines; the
    ~30-word vocabulary makes real cross-document paragraph collisions
    (~4% at sf0.01).  Plan: one paragraph-key shuffle for the
    first-occurrence window + one doc-key shuffle for reassembly;
    collect_list is bounded by a single document's paragraph count.
    (A fingerprint=True exchange-key option exists — xxhash64 keys,
    exact text as the in-partition tie-law, row-identical by
    construction — but measured wall-neutral and +1-10% shuffle bytes
    on every tested regime incl. shared-prefix boilerplate, so the
    query stays on the default; SOAK.md r14.)"""
    import radohydro_spark.operators.dedup as DD

    d = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nch = F.ceil(F.size(toks) / F.lit(12.0)).cast("int")
    paras = F.transform(
        F.sequence(F.lit(1), F.greatest(nch, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * 12 + 1, 12)),
    )
    paged = d.select("doc_id", F.array_join(paras, "\n\n").alias("text"))
    return DD.dedup_paragraphs(paged, "text", "doc_id", sep="\n\n")


ORACLE_DEDUP_PARAGRAPHS = f"""
WITH toks AS (SELECT doc_id, {_SQL_TOKS} AS t FROM documents),
paged AS (
  SELECT doc_id,
         array_to_string(
           list_transform(
             range(1, greatest(CAST(ceil(len(t) / 12.0) AS INT), 1) + 1),
             i -> array_to_string(list_slice(t, (i-1)*12 + 1, (i-1)*12 + 12), ' ')),
           e'\\n\\n') AS text
  FROM toks
),
sp AS (SELECT doc_id, string_split(text, e'\\n\\n') AS ps FROM paged),
ex AS (
  SELECT doc_id,
         unnest(range(1, len(ps) + 1)) - 1 AS pos,
         unnest(ps) AS para
  FROM sp
),
ne AS (SELECT * FROM ex
       WHERE regexp_replace(para, '[ \\t\\n\\f\\r\\x0B]', '', 'g') <> ''),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
  FROM ne
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_paras,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(string_agg(para, e'\\n\\n' ORDER BY pos) FILTER (WHERE rn = 1), '')
         AS text_dedup
FROM rk GROUP BY doc_id
"""


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with a corpus-trained merge table
    (functions.text.bpe_encode): train six merges (text_bpe_train's
    exact loop), then apply them to every document via the SHARED
    _bpe_merge_fold law — per-document true token counts, the
    real-tokenizer upgrade over the 4-chars-per-token estimate.  Encoding
    is ZERO-shuffle (merges ride as literals; one narrow projection).
    Oracle: the train oracle's six materialized merge CTEs feed six
    document-rewrite rounds replaying the identical list_reduce fold."""
    from radohydro_spark.functions.text import bpe_encode, bpe_train_merges

    d = _docs(spark, sf_dir)
    merges = bpe_train_merges(d, "text", 6)
    return bpe_encode(d, merges)


def _bpe_encode_oracle(n: int = 6) -> str:
    """The train oracle's w/p/m round CTEs (merge derivation) plus n
    document-rewrite rounds d1..dn applying each merge with the same
    list_reduce fold — AS MATERIALIZED throughout (the graph_kcore
    lesson).  Precondition shared with the engine: the corpus yields at
    least n merges (true at every driver scale; the trainer stops early
    on a dry vocabulary, where a cross join against an empty m-CTE would
    instead empty the result)."""
    ctes = [
        r"""w0 AS MATERIALIZED (
  SELECT array_to_string(string_split(w, ''), ' ') AS sym, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w FROM documents)
  WHERE w <> '' GROUP BY 1
)""",
        r"""d0 AS MATERIALIZED (
  SELECT doc_id,
         list_transform(
           list_filter(string_split_regex(trim(lower(text)), '\s+'), w -> w <> ''),
           w -> array_to_string(string_split(w, ''), ' ')) AS syms
  FROM documents
)""",
    ]
    for r in range(1, n + 1):
        ctes.append(
            f"""p{r} AS MATERIALIZED (
  SELECT pa, pb, CAST(sum(cnt) AS BIGINT) AS n FROM (
    SELECT unnest(list_transform(range(1, len(s)), i -> s[i])) AS pa,
           unnest(list_transform(range(1, len(s)), i -> s[i+1])) AS pb,
           cnt
    FROM (SELECT string_split(sym, ' ') AS s, cnt FROM w{r - 1}) t
    WHERE len(s) >= 2
  ) GROUP BY pa, pb
)"""
        )
        ctes.append(
            f"""m{r} AS MATERIALIZED (
  SELECT pa, pb FROM p{r} ORDER BY n DESC, pa, pb LIMIT 1
)"""
        )
        ctes.append(
            f"""d{r} AS MATERIALIZED (
  SELECT doc_id, list_transform(syms, s -> ltrim(list_reduce(
           list_prepend('', string_split(s, ' ')),
           (acc, x) -> CASE WHEN suffix(acc, ' ' || m.pa) AND x = m.pb
                            THEN acc || m.pb
                            ELSE acc || ' ' || x END))) AS syms
  FROM d{r - 1}, m{r} m
)"""
        )
        if r < n:
            ctes.append(
                f"""w{r} AS MATERIALIZED (
  SELECT ltrim(list_reduce(list_prepend('', string_split(sym, ' ')),
         (acc, x) -> CASE WHEN suffix(acc, ' ' || m.pa) AND x = m.pb
                          THEN acc || m.pb
                          ELSE acc || ' ' || x END)) AS sym, cnt
  FROM w{r - 1}, m{r} m
)"""
            )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT doc_id,
       CAST(len(syms) AS BIGINT) AS n_words,
       CAST(coalesce(list_sum(list_transform(syms, s -> len(string_split(s, ' ')))), 0) AS BIGINT)
         AS n_tokens,
       array_to_string(syms, ' ') AS encoded
FROM d{n}"""
    )


ORACLE_TEXT_BPE_ENCODE = _bpe_encode_oracle(6)


def q_text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity stratification
    (functions.text.perplexity_buckets; Wenzek et al. LREC'20): bigram-LM
    score every document, quantize EACH bigram's ln to BIGINT µnats
    before summing (the BM25/PMI integer-sum discipline — audited by
    bigram_lp_boundary_margin ≥ 3.3e-4 at all three scales), integer
    per-doc average, FIXED head/middle/tail cutpoints (no corpus
    quantiles, so no global sort and batch-independent bucketing)."""
    from radohydro_spark.functions.text import perplexity_buckets

    return perplexity_buckets(_docs(spark, sf_dir))


ORACLE_PPL_BUCKETS = f"""
WITH toks AS (
  SELECT doc_id, i, lower(tok) AS tok
  FROM (SELECT doc_id, unnest({_SQL_TOKS}) AS tok,
               generate_subscripts({_SQL_TOKS}, 1) AS i
        FROM documents) t
  WHERE tok <> ''
),
pairs AS (
  SELECT doc_id, tok, nxt FROM (
    SELECT doc_id, tok,
           lead(tok) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
    FROM toks) z
  WHERE nxt IS NOT NULL
),
c2 AS (SELECT tok, nxt, COUNT(*) AS c2 FROM pairs GROUP BY 1, 2),
c1 AS (SELECT tok, COUNT(*) AS c1 FROM pairs GROUP BY 1),
v AS (SELECT CAST(COUNT(DISTINCT tok) AS DOUBLE) AS vv FROM toks),
scored AS (
  SELECT p.doc_id,
         CAST(round(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * (SELECT vv FROM v)))
                    * 1000000.0) AS BIGINT) AS lpm
  FROM pairs p JOIN c2 USING (tok, nxt) JOIN c1 USING (tok)
),
agg AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(lpm) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_lp_micro
  FROM scored GROUP BY doc_id
)
SELECT doc_id, n_bigrams, avg_lp_micro,
       CASE WHEN avg_lp_micro > -3390000 THEN 'head'
            WHEN avg_lp_micro > -3405000 THEN 'middle'
            ELSE 'tail' END AS ppl_bucket
FROM agg
"""


def q_sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced coreset sampling
    (operators.sampling.cluster_balanced_sample): nearest-centroid
    assignment over the deterministic 16-centroid IVF twin (broadcast
    argmax, no corpus shuffle) + per-cluster bottom-5 by hashed id
    (WindowGroupLimit pre-trim) — a diverse subset covering every
    embedding-space region instead of oversampling the dense head."""
    from radohydro_spark.operators.sampling import cluster_balanced_sample

    emb = _t(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    return cluster_balanced_sample(emb, k_per_cluster=5, n_centroids=16)


ORACLE_CLUSTER_BALANCED = """
WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
cent AS (SELECT vec_id AS centroid_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT e.vec_id, cent.centroid_id,
           row_number() OVER (
             PARTITION BY e.vec_id
             -- coalesce mirrors the engine's cosine() zero-norm -> 0.0
             -- law (DuckDB x/0.0 is NULL and would sort LAST under
             -- DESC, below every negative similarity; r13 review)
             ORDER BY coalesce(list_dot_product(e.v, cent.cv)
                      / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 0.0) DESC,
                      cent.centroid_id ASC) AS rn
    FROM e, cent) t
  WHERE rn = 1
)
SELECT centroid_id, vec_id, strat_rank FROM (
  SELECT centroid_id, vec_id,
         CAST(row_number() OVER (PARTITION BY centroid_id
              ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INT) AS strat_rank
  FROM assigned) t
WHERE strat_rank <= 5
"""


def q_corpus_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture shares
    (operators.sampling.temperature_shares; the mT5 sampling law):
    per-language char-weighted shares at α = 1/2 — exactly portable with
    NO margin audit because IEEE sqrt is correctly rounded (ln is not),
    plus largest-remainder integer apportionment to exactly 1000 mille
    on the declared-bounded stratum window."""
    from radohydro_spark.operators.sampling import temperature_shares

    return temperature_shares(
        _docs(spark, sf_dir), "lang", "n_chars", alpha_exp2=1
    )


ORACLE_TEMPERATURE_MIXTURE = """
WITH actual AS (
  SELECT lang AS stratum, CAST(sum(n_chars) AS BIGINT) AS actual
  FROM documents GROUP BY 1 HAVING sum(n_chars) > 0
),
scaled AS (
  SELECT stratum, actual,
         CAST(round(sqrt(CAST(actual AS DOUBLE)) * 1e6) AS BIGINT) AS scaled_micro
  FROM actual
),
tot AS (SELECT CAST(sum(scaled_micro) AS BIGINT) AS s_tot FROM scaled),
parts AS (
  SELECT stratum, actual, scaled_micro,
         (1000 * scaled_micro) // s_tot AS base,
         (1000 * scaled_micro) % s_tot AS rem
  FROM scaled, tot
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY rem DESC, stratum ASC) AS rk,
         (SELECT CAST(sum(base) AS BIGINT) FROM parts) AS b_tot
  FROM parts
)
SELECT stratum, actual, scaled_micro,
       CAST(base + CASE WHEN rk <= 1000 - b_tot THEN 1 ELSE 0 END AS BIGINT)
         AS share_mille
FROM ranked
"""


def q_dq_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov drift
    (operators.profile.ks_drift): order-price distribution before vs
    from 1997 — the distribution-free sibling of dq_psi_drift (no
    binning, no smoothing).  Integer CROSS-MULTIPLICATION law:
    D compares |c1·n2 − c2·n1| in pure BIGINT, so no ratio (and no
    float seam) exists anywhere; cumulative counts run on
    plans.contracts.ranged_cumsum (one driver job fixes literal range
    boundaries and the totals; per-range local windows; in-plan
    offsets, no cache), so a near-distinct continuous column (this
    one: cents prices) never sorts on one core and there is no row
    cap — the n1·n2 < 2^63 validity bound
    raises a named contract instead (r13 ADVICE)."""
    from radohydro_spark.operators.profile import ks_drift

    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_orderdate",
    )
    split = F.lit("1997-01-01").cast("date")
    return ks_drift(
        o.filter(F.col("o_orderdate") < split),
        o.filter(F.col("o_orderdate") >= split),
        "price_c",
    )


def q_dq_auc_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact tie-corrected ROC-AUC via the Mann–Whitney rank statistic
    (operators.profile.auc_mann_whitney): how well line-item price
    "predicts" the returned flag — the classifier-eval primitive next
    to dq_ks_drift, on the SAME ranged cumulation
    (plans.contracts.ranged_cumsum over value-domain counts: driver-
    fixed range boundaries, per-range local windows, in-plan offsets —
    no single-partition sort, no row cap, no cache).  Pure-BIGINT law: doubled tie-averaged rank-sum
    2·R⁺ = Σ_v c_pos·(2·C(v) + c_tot + 1); auc_ppm by the ks_drift
    piecewise floored division."""
    from radohydro_spark.operators.profile import auc_mann_whitney

    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        (F.col("l_returnflag") == "R").cast("long").alias("is_returned"),
    )
    return auc_mann_whitney(li, "price_c", "is_returned")


ORACLE_AUC_RETURNS = """
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
g AS (SELECT v, CAST(count(*) AS BIGINT) AS ct,
             CAST(sum(y) AS BIGINT) AS cp
      FROM base GROUP BY v),
s AS (SELECT v, ct, cp,
             CAST(coalesce(sum(ct) OVER (ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
      FROM g),
t AS (SELECT CAST(sum(cp * (2 * cb + ct + 1)) AS BIGINT) AS r2,
             CAST(sum(cp) AS BIGINT) AS np,
             CAST(sum(ct) AS BIGINT) AS nt
      FROM s)
SELECT np AS n_pos, CAST(nt - np AS BIGINT) AS n_neg,
       r2 AS rank_sum_pos_x2,
       CAST(CASE WHEN np = 0 OR nt - np = 0 THEN NULL
                 WHEN 2 * np * (nt - np) <= 9000000000000
                 THEN (1000000 * (r2 - np * (np + 1))) // (2 * np * (nt - np))
                 ELSE (r2 - np * (np + 1)) // ((2 * np * (nt - np)) // 1000000)
            END AS BIGINT) AS auc_ppm
FROM t
"""


def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build + point queries
    (operators.sketch.count_min_table / count_min_estimate; Cormode &
    Muthukrishnan 2005): 4×256 counters summarize per-user event
    frequencies in bounded space, then the 10 heaviest users are
    point-queried and compared against their exact counts — the
    verification shape (estimate ≥ truth always; overcount = hash
    collisions).  Deterministic end-to-end: row d hashes
    portable_hash(d||':'||key) mod width, so sketch and estimates are
    bit-identical in SQL.  Build shuffle ≤ depth·width counters per
    task regardless of input; estimates broadcast the sketch and never
    touch the corpus."""
    from radohydro_spark.operators.sketch import (
        count_min_estimate,
        count_min_table,
    )

    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    sk = count_min_table(ev, "user_id", depth=4, width=256)
    exact = ev.groupBy("user_id").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.desc("exact_n"), F.asc("user_id")).limit(10)
    est = count_min_estimate(
        sk, top.select("user_id"), "user_id", depth=4, width=256
    )
    return (
        top.join(est, "user_id")
        .select(
            "user_id",
            "exact_n",
            "cms_n",
            (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy("user_id")
    )


def _cms_oracle() -> str:
    h_build = _ph_sql("concat(CAST(dd.range AS VARCHAR), ':', k)")
    h_query = _ph_sql(
        "concat(CAST(dd.range AS VARCHAR), ':', CAST(t.user_id AS VARCHAR))"
    )
    return f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events
            WHERE user_id IS NOT NULL),
sk AS (
  SELECT d, bucket, CAST(count(*) AS BIGINT) AS n FROM (
    SELECT dd.range AS d,
           CAST(({h_build}) % 256 AS INT) AS bucket
    FROM ev, range(4) dd) GROUP BY d, bucket
),
ex AS (SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n FROM events
       WHERE user_id IS NOT NULL GROUP BY 1),
top AS (SELECT * FROM ex ORDER BY exact_n DESC, user_id LIMIT 10),
q AS (
  SELECT t.user_id, dd.range AS d,
         CAST(({h_query}) % 256 AS INT) AS bucket
  FROM top t, range(4) dd
),
est AS (
  SELECT q.user_id, CAST(min(coalesce(s.n, 0)) AS BIGINT) AS cms_n
  FROM q LEFT JOIN sk s ON s.d = q.d AND s.bucket = q.bucket GROUP BY 1
)
SELECT t.user_id, t.exact_n, e.cms_n,
       CAST(e.cms_n - t.exact_n AS BIGINT) AS overcount
FROM top t JOIN est e ON e.user_id = t.user_id
ORDER BY t.user_id
"""


ORACLE_KS_DRIFT = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderdate
  FROM orders
),
o AS (SELECT v, CAST(count(*) AS BIGINT) AS c1 FROM base
      WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1),
n AS (SELECT v, CAST(count(*) AS BIGINT) AS c2 FROM base
      WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1),
m AS (
  SELECT coalesce(o.v, n.v) AS v,
         coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
  FROM o FULL OUTER JOIN n ON o.v = n.v
),
s AS (
  SELECT v,
         CAST(sum(c1) OVER w AS BIGINT) AS f1,
         CAST(sum(c2) OVER w AS BIGINT) AS f2
  FROM m WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
t AS (SELECT CAST(max(f1) AS BIGINT) AS n1, CAST(max(f2) AS BIGINT) AS n2 FROM s),
d AS (SELECT v, abs(f1 * (SELECT n2 FROM t) - f2 * (SELECT n1 FROM t)) AS d FROM s),
dm AS (SELECT CAST(max(d) AS BIGINT) AS d_num FROM d),
at AS (SELECT min(v) AS at_value FROM d WHERE d = (SELECT d_num FROM dm))
SELECT t.n1 AS n_old, t.n2 AS n_new, dm.d_num,
       CAST(CASE WHEN t.n1 <= 0 OR t.n2 <= 0 THEN NULL
                 WHEN t.n1 * t.n2 <= 9000000000000
                 THEN (1000000 * dm.d_num) // (t.n1 * t.n2)
                 ELSE dm.d_num // ((t.n1 * t.n2) // 1000000)
            END AS BIGINT) AS ks_ppm,
       at.at_value
FROM t, dm, at
"""


def q_dq_tvd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact categorical total-variation-distance drift
    (operators.profile.tvd_drift): order-priority mix of early (≤1994)
    vs late (≥1995) orders — the fourth drift leg (PSI bucketed / KS
    continuous / AUC label-separation / TVD categorical) on the shared
    pure-BIGINT cross-multiplication law: TVD·2·n1·n2 =
    Σ|c1·n2 − c2·n1| with the piecewise ppm division, top drifting
    category under the smallest-on-ties law.  No window at all — two
    map-side-combinable domain-sized counts, one scalar aggregate."""
    from radohydro_spark.operators.profile import tvd_drift

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.year("o_orderdate") <= 1994)
    new = o.filter(F.year("o_orderdate") >= 1995)
    return tvd_drift(old, new, "o_orderpriority")


ORACLE_TVD_DRIFT = """
WITH o AS (SELECT CAST(o_orderpriority AS VARCHAR) AS cat,
                  CAST(count(*) AS BIGINT) AS c1
           FROM orders
           WHERE year(o_orderdate) <= 1994 AND o_orderpriority IS NOT NULL
           GROUP BY 1),
n AS (SELECT CAST(o_orderpriority AS VARCHAR) AS cat,
             CAST(count(*) AS BIGINT) AS c2
      FROM orders
      WHERE year(o_orderdate) >= 1995 AND o_orderpriority IS NOT NULL
      GROUP BY 1),
m AS (SELECT coalesce(o.cat, n.cat) AS cat,
             coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
      FROM o FULL OUTER JOIN n ON o.cat = n.cat),
t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM m),
s AS (SELECT cat, abs(c1 * t.n2 - c2 * t.n1) AS d FROM m, t)
SELECT t.n1 AS n_old, t.n2 AS n_new,
       CAST((SELECT sum(d) FROM s) AS BIGINT) AS tvd_num,
       CAST(CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
                 WHEN 2 * t.n1 * t.n2 <= 9000000000000
                 THEN (1000000 * (SELECT sum(d) FROM s)) // (2 * t.n1 * t.n2)
                 ELSE (SELECT sum(d) FROM s) // ((2 * t.n1 * t.n2) // 1000000)
            END AS BIGINT) AS tvd_ppm,
       (SELECT cat FROM s ORDER BY d DESC, cat LIMIT 1) AS top_category,
       CAST((SELECT max(d) FROM s) AS BIGINT) AS top_num
FROM t
"""


def q_dq_tvd_drift_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEGMENT categorical TVD drift
    (operators.profile.tvd_drift_by): order-priority mix of early
    (≤1994) vs late (≥1995) orders, one exact TVD per customer market
    segment — the segmented form production drift monitoring runs
    (dq_tvd_drift's global number averages a localized shift away).
    Same pure-BIGINT cross-multiplication law per group with the
    piecewise ppm division IN-PLAN (totals are runtime values per
    group); NULL group keys excluded by contract.  One union-tagged
    count aggregate + one group-key exchange shared by the totals
    window and the final aggregate."""
    from radohydro_spark.operators.profile import tvd_drift_by

    o = _t(spark, sf_dir, "orders").join(
        _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        ),
        "o_custkey",
    )
    old = o.filter(F.year("o_orderdate") <= 1994)
    new = o.filter(F.year("o_orderdate") >= 1995)
    return tvd_drift_by(
        old, new, "o_orderpriority", ["c_mktsegment"]
    ).orderBy("c_mktsegment")


ORACLE_TVD_DRIFT_BY = """
WITH j AS (
  SELECT c.c_mktsegment AS seg,
         CAST(o.o_orderpriority AS VARCHAR) AS cat,
         year(o.o_orderdate) AS yr
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE o.o_orderpriority IS NOT NULL AND c.c_mktsegment IS NOT NULL
),
m AS (
  SELECT seg, cat,
         CAST(count(*) FILTER (WHERE yr <= 1994) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE yr >= 1995) AS BIGINT) AS c2
  FROM j GROUP BY seg, cat
),
t AS (SELECT seg, CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM m GROUP BY seg),
s AS (SELECT m.seg, m.cat, abs(m.c1 * t.n2 - m.c2 * t.n1) AS d
      FROM m JOIN t ON m.seg = t.seg),
a AS (SELECT seg, CAST(sum(d) AS BIGINT) AS tvd_num,
             CAST(max(d) AS BIGINT) AS top_num FROM s GROUP BY seg),
top AS (SELECT seg, cat AS top_category FROM (
          SELECT seg, cat,
                 row_number() OVER (PARTITION BY seg
                                    ORDER BY d DESC, cat) AS rn
          FROM s) WHERE rn = 1)
SELECT t.seg AS c_mktsegment, t.n1 AS n_old, t.n2 AS n_new, a.tvd_num,
       CAST(CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
                 WHEN 2 * t.n1 * t.n2 <= 9000000000000
                 THEN (1000000 * a.tvd_num) // (2 * t.n1 * t.n2)
                 ELSE a.tvd_num // ((2 * t.n1 * t.n2) // 1000000)
            END AS BIGINT) AS tvd_ppm,
       top.top_category, a.top_num
FROM t JOIN a ON a.seg = t.seg JOIN top ON top.seg = t.seg
ORDER BY c_mktsegment
"""


def q_dq_ks_drift_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP exact Kolmogorov–Smirnov drift
    (operators.profile.ks_drift_by): order-price distribution before
    vs from 1997, one exact D per order priority — dq_ks_drift's
    segmented form.  Group-partitioned cumulative windows (the
    documented per-group-domain-fits-a-task contract; the global form
    owns the unbounded-domain case via ranged_cumsum), same BIGINT
    cross-multiplication + piecewise ppm law in-plan, smallest-value
    tie law for at_value."""
    from radohydro_spark.operators.profile import ks_drift_by

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_orderdate",
    )
    split = F.lit("1997-01-01").cast("date")
    return ks_drift_by(
        o.filter(F.col("o_orderdate") < split),
        o.filter(F.col("o_orderdate") >= split),
        "price_c",
        ["o_orderpriority"],
    ).orderBy("o_orderpriority")


ORACLE_KS_DRIFT_BY = """
WITH base AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         o_orderdate
  FROM orders WHERE o_orderpriority IS NOT NULL
),
m AS (
  SELECT g, v,
         CAST(count(*) FILTER (WHERE o_orderdate < DATE '1997-01-01')
              AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE o_orderdate >= DATE '1997-01-01')
              AS BIGINT) AS c2
  FROM base GROUP BY g, v
),
s AS (
  SELECT g, v,
         CAST(sum(c1) OVER w AS BIGINT) AS f1,
         CAST(sum(c2) OVER w AS BIGINT) AS f2
  FROM m WINDOW w AS (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
),
t AS (SELECT g, CAST(max(f1) AS BIGINT) AS n1,
             CAST(max(f2) AS BIGINT) AS n2 FROM s GROUP BY g),
d AS (SELECT s.g, s.v, abs(s.f1 * t.n2 - s.f2 * t.n1) AS d
      FROM s JOIN t ON s.g = t.g),
dm AS (SELECT g, CAST(max(d) AS BIGINT) AS d_num FROM d GROUP BY g),
at AS (SELECT g, v AS at_value FROM (
         SELECT g, v, row_number() OVER (PARTITION BY g
                                         ORDER BY d DESC, v) AS rn
         FROM d) WHERE rn = 1)
SELECT t.g AS o_orderpriority, t.n1 AS n_old, t.n2 AS n_new, dm.d_num,
       CAST(CASE WHEN t.n1 <= 0 OR t.n2 <= 0 THEN NULL
                 WHEN t.n1 * t.n2 <= 9000000000000
                 THEN (1000000 * dm.d_num) // (t.n1 * t.n2)
                 ELSE dm.d_num // ((t.n1 * t.n2) // 1000000)
            END AS BIGINT) AS ks_ppm,
       at.at_value
FROM t JOIN dm ON dm.g = t.g JOIN at ON at.g = t.g
ORDER BY o_orderpriority
"""


def q_sketch_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership sketch with verified one-sided contract
    (operators.sketch.bloom_table / bloom_membership; Bloom 1970): the
    order-holding customer-key set is summarized into 4096 bits (128
    32-bit-lane BIGINT words, bit_or-mergeable), then EVERY customer is
    probed and scored against the exact semi-join truth — the
    verification shape (zero false negatives always; false positives =
    the bits saturating).  Deterministic end-to-end: hash j's position
    is portable_hash(j||':'||key) mod 4096, so the word table and every
    probe are bit-identical in SQL.  Build shuffle ≤ 128 words per task
    regardless of input; probes broadcast the sketch."""
    from radohydro_spark.operators.sketch import (
        bloom_membership,
        bloom_table,
    )

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    sk = bloom_table(orders, "o_custkey", num_bits=4096, num_hashes=4)
    hits = bloom_membership(
        sk, customer.select("c_custkey"), "c_custkey",
        num_bits=4096, num_hashes=4,
    )
    truth = (
        customer.select("c_custkey")
        .join(
            orders.select(F.col("o_custkey").alias("c_custkey"))
            .distinct()
            .withColumn("_has", F.lit(1)),
            "c_custkey",
            "left",
        )
        .select("c_custkey", F.coalesce("_has", F.lit(0)).alias("has_order"))
    )
    n_keys = orders.filter(F.col("o_custkey").isNotNull()).agg(
        F.countDistinct("o_custkey").alias("n_keys")
    )
    joined = hits.join(truth, "c_custkey")
    return (
        joined.agg(
            F.count("*").alias("n_probes"),
            F.sum("has_order").alias("n_true"),
            F.sum("bloom_hit").alias("n_bloom_hits"),
            F.sum(
                F.col("bloom_hit") * (F.lit(1) - F.col("has_order"))
            ).alias("false_positives"),
            F.sum(
                (F.lit(1) - F.col("bloom_hit")) * F.col("has_order")
            ).alias("false_negatives"),
        )
        .crossJoin(n_keys)
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            F.col("n_probes").cast("long").alias("n_probes"),
            F.col("n_true").cast("long").alias("n_true"),
            F.col("n_bloom_hits").cast("long").alias("n_bloom_hits"),
            F.col("false_positives").cast("long").alias("false_positives"),
            F.col("false_negatives").cast("long").alias("false_negatives"),
        )
    )


def _bloom_oracle() -> str:
    h_build = _ph_sql("concat(CAST(jj.range AS VARCHAR), ':', k)")
    h_probe = _ph_sql(
        "concat(CAST(jj.range AS VARCHAR), ':', CAST(c.c_custkey AS VARCHAR))"
    )
    return f"""
WITH keyrows AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders
                 WHERE o_custkey IS NOT NULL),
sk AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INT)) AS bits
  FROM (SELECT CAST(({h_build}) % 4096 AS INT) AS pos
        FROM keyrows, range(4) jj)
  GROUP BY 1
),
q AS (
  SELECT c.c_custkey, CAST(({h_probe}) % 4096 AS INT) AS pos
  FROM customer c, range(4) jj
),
hits AS (
  SELECT q.c_custkey,
         CAST(min((coalesce(s.bits, 0) >> CAST(q.pos % 32 AS INT)) % 2)
              AS INT) AS bloom_hit
  FROM q LEFT JOIN sk s ON s.word = q.pos // 32
  GROUP BY 1
),
truth AS (
  SELECT c.c_custkey,
         CASE WHEN EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey)
              THEN 1 ELSE 0 END AS has_order
  FROM customer c
)
SELECT (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        WHERE o_custkey IS NOT NULL) AS n_keys,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(t.has_order) AS BIGINT) AS n_true,
       CAST(sum(h.bloom_hit) AS BIGINT) AS n_bloom_hits,
       CAST(sum(h.bloom_hit * (1 - t.has_order)) AS BIGINT)
         AS false_positives,
       CAST(sum((1 - h.bloom_hit) * t.has_order) AS BIGINT)
         AS false_negatives
FROM hits h JOIN truth t ON t.c_custkey = h.c_custkey
"""


def q_sketch_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV / bottom-k distinct-overlap sketch with exact verification
    (operators.sketch.kmv_sketch / kmv_overlap; Beyer et al. SIGMOD
    2007): the order-holding customer keys and the acctbal>500 customer
    keys are each summarized to their 256 smallest portable-hash
    values, then union / intersection / Jaccard are ESTIMATED from the
    two sketches alone (pure-BIGINT estimators: (k−1)·2³² div theta)
    and laid next to the exact distinct counts — the corpus-overlap
    audit shape (at 100 TB the two key domains are never rejoined;
    here the exact columns verify the estimators).  TakeOrdered
    bottom-k, never a global sort."""
    from radohydro_spark.operators.sketch import kmv_overlap, kmv_sketch

    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    rich = customer.filter(F.col("c_acctbal") > 500)
    sk_a = kmv_sketch(orders, "o_custkey", k=256)
    sk_b = kmv_sketch(rich, "c_custkey", k=256)
    est = kmv_overlap(sk_a, sk_b, k=256)
    da = orders.select(F.col("o_custkey").alias("ck")).distinct()
    db = rich.select(F.col("c_custkey").alias("ck")).distinct()
    exacts = (
        da.agg(F.count("*").alias("exact_a"))
        .crossJoin(db.agg(F.count("*").alias("exact_b")))
        .crossJoin(da.join(db, "ck").agg(F.count("*").alias("exact_inter")))
    )
    return est.crossJoin(exacts).select(
        "n_a", "n_b", "theta", "n_union_sketch", "n_common",
        "union_est", "inter_est", "jaccard_ppm",
        F.col("exact_a").cast("long").alias("exact_a"),
        F.col("exact_b").cast("long").alias("exact_b"),
        F.col("exact_inter").cast("long").alias("exact_inter"),
    )


def _kmv_oracle() -> str:
    h_a = _ph_sql("CAST(o_custkey AS VARCHAR)")
    h_b = _ph_sql("CAST(c_custkey AS VARCHAR)")
    dom = (1 << 32) * 255
    return f"""
WITH a AS (SELECT DISTINCT ({h_a}) AS hv FROM orders
           WHERE o_custkey IS NOT NULL ORDER BY hv LIMIT 256),
b AS (SELECT DISTINCT ({h_b}) AS hv FROM customer
      WHERE c_acctbal > 500 AND c_custkey IS NOT NULL
      ORDER BY hv LIMIT 256),
u AS (SELECT hv FROM (SELECT hv FROM a UNION SELECT hv FROM b)
      ORDER BY hv LIMIT 256),
fl AS (SELECT CAST(count(*) AS BIGINT) AS n_union_sketch,
              CAST(max(hv) AS BIGINT) AS theta,
              CAST(sum(CASE WHEN hv IN (SELECT hv FROM a)
                             AND hv IN (SELECT hv FROM b)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       FROM u),
est AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
         theta, n_union_sketch, n_common,
         CAST(CASE WHEN n_union_sketch < 256 THEN n_union_sketch
                   ELSE {dom} // nullif(theta, 0) END AS BIGINT)
           AS union_est
  FROM fl
)
SELECT n_a, n_b, theta, n_union_sketch, n_common, union_est,
       CAST((n_common * union_est) // nullif(n_union_sketch, 0)
            AS BIGINT) AS inter_est,
       CAST((1000000 * n_common) // nullif(n_union_sketch, 0)
            AS BIGINT) AS jaccard_ppm,
       (SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        WHERE o_custkey IS NOT NULL) AS exact_a,
       (SELECT CAST(count(DISTINCT c_custkey) AS BIGINT) FROM customer
        WHERE c_acctbal > 500) AS exact_b,
       (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT o_custkey FROM orders) x
          JOIN (SELECT DISTINCT c_custkey FROM customer
                WHERE c_acctbal > 500) y
          ON x.o_custkey = y.c_custkey) AS exact_inter
FROM est
"""


def q_stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Poisson-bootstrap 95% CI for the mean order value
    (operators.aggregate.poisson_bootstrap_ci; Hanley & MacGibbon
    2006): 100 replicates, each row's replicate weight the Poisson(1)
    inverse CDF of portable_hash(b||':'||o_orderkey) against FIXED
    integer thresholds — no RNG, no resample materialization,
    bit-identical in SQL.  One explode + ONE map-side-combinable
    groupBy(b) bounding the shuffle at B rows per task; replicate
    means in exact micro-units under the shared piecewise ppm law;
    rank-picked percentile bounds on the B-row table."""
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return poisson_bootstrap_ci(
        o, "price_c", ["o_orderkey"], n_replicates=100
    )


def _bootstrap_oracle() -> str:
    h = _ph_sql("concat(CAST(b AS VARCHAR), ':', key)")
    t = _POISSON1_T32
    return f"""
WITH rows_ AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS key,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders WHERE o_totalprice IS NOT NULL
),
fan AS (SELECT key, x, CAST(bb.range AS BIGINT) AS b
        FROM rows_, range(-1, 100) bb),
hashed AS (SELECT b, x, ({h}) AS u FROM fan),
wtd AS (
  SELECT b, x,
         CASE WHEN b = -1 THEN 1
              WHEN u < {t[0]} THEN 0 WHEN u < {t[1]} THEN 1
              WHEN u < {t[2]} THEN 2 WHEN u < {t[3]} THEN 3
              WHEN u < {t[4]} THEN 4 WHEN u < {t[5]} THEN 5
              WHEN u < {t[6]} THEN 6 WHEN u < {t[7]} THEN 7
              ELSE 8 END AS w
  FROM hashed
),
reps AS (SELECT b, CAST(sum(w * x) AS BIGINT) AS swx,
                CAST(sum(w) AS BIGINT) AS sw,
                CAST(count(*) AS BIGINT) AS n_rows
         FROM wtd GROUP BY b),
means AS (
  SELECT b, n_rows,
         CAST(CASE WHEN sw = 0 THEN NULL
                   WHEN abs(swx) <= 9000000000000
                   THEN (1000000 * swx) // sw
                   ELSE swx // (sw // 1000000) END AS BIGINT) AS mean_micro
  FROM reps
),
ranked AS (SELECT mean_micro,
                  row_number() OVER (ORDER BY mean_micro, b) AS r
           FROM means WHERE b >= 0)
SELECT CAST(100 AS BIGINT) AS n_replicates,
       CAST(coalesce((SELECT n_rows FROM means WHERE b = -1), 0)
            AS BIGINT) AS n_rows,
       (SELECT mean_micro FROM means WHERE b = -1) AS point_micro,
       (SELECT mean_micro FROM ranked WHERE r = 3) AS lo_micro,
       (SELECT mean_micro FROM ranked WHERE r = 98) AS hi_micro
"""


# the fixed Poisson(1) CDF thresholds, shared with the engine
from radohydro_spark.operators.aggregate import (  # noqa: E402
    _POISSON1_CUM_T32 as _POISSON1_T32,
)


def q_orders_ewma_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact truncated EWMA (operators.aggregate.ewma_halving): daily
    revenue per order priority smoothed with decay ½ over 12 lags —
    the adjust=True closed form in pure BIGINTs (integer weights
    2^(11-j), present-lag denominator, one terminal floored 10⁶
    division), 12 lag() expressions sharing ONE window (one exchange on
    the priority key), the |x| domain bound enforced by the named
    in-plan assert."""
    from radohydro_spark.operators.aggregate import ewma_halving

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("day"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("rev_c"),
    )
    daily = o.groupBy("o_orderpriority", "day").agg(
        F.sum("rev_c").alias("revenue_c")
    )
    return ewma_halving(
        daily, ["o_orderpriority"], "day", "revenue_c", lags=12
    )


def _ewma_oracle(lags: int = 12) -> str:
    cols = ",\n         ".join(
        f"lag(revenue_c, {j}) OVER w AS x{j}" for j in range(lags)
    )
    num = " + ".join(
        f"coalesce(x{j}, 0) * {1 << (lags - 1 - j)}" for j in range(lags)
    )
    den = " + ".join(
        f"CASE WHEN x{j} IS NOT NULL THEN {1 << (lags - 1 - j)} ELSE 0 END"
        for j in range(lags)
    )
    return f"""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS revenue_c
  FROM orders WHERE o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
l AS (
  SELECT o_orderpriority, day, revenue_c,
         {cols}
  FROM daily
  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day)
)
SELECT o_orderpriority, day, revenue_c,
       CAST((1000000 * ({num})) // ({den}) AS BIGINT) AS ewma_micro
FROM l
"""


def q_stats_bootstrap_ci_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Poisson-bootstrap CI
    (operators.aggregate.poisson_bootstrap_ci_by): one 95% CI per
    order-priority class from the same single pass — the A/B-per-arm
    shape.  Same fixed-threshold weights / exact micro-unit law /
    NULLS-LAST ranks as stats_bootstrap_ci; ONE groupBy(group, b)
    bounding the shuffle at |groups|·B rows per task; the per-group
    rank-pick is a window over exactly B rows per group."""
    from radohydro_spark.operators.aggregate import poisson_bootstrap_ci_by

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return poisson_bootstrap_ci_by(
        o, "price_c", ["o_orderkey"], ["o_orderpriority"], n_replicates=100
    ).orderBy("o_orderpriority")


def _bootstrap_by_oracle() -> str:
    h = _ph_sql("concat(CAST(b AS VARCHAR), ':', key)")
    t = _POISSON1_T32
    return f"""
WITH rows_ AS (
  SELECT o_orderpriority AS g, CAST(o_orderkey AS VARCHAR) AS key,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders WHERE o_totalprice IS NOT NULL
),
fan AS (SELECT g, key, x, CAST(bb.range AS BIGINT) AS b
        FROM rows_, range(-1, 100) bb),
hashed AS (SELECT g, b, x, ({h}) AS u FROM fan),
wtd AS (
  SELECT g, b, x,
         CASE WHEN b = -1 THEN 1
              WHEN u < {t[0]} THEN 0 WHEN u < {t[1]} THEN 1
              WHEN u < {t[2]} THEN 2 WHEN u < {t[3]} THEN 3
              WHEN u < {t[4]} THEN 4 WHEN u < {t[5]} THEN 5
              WHEN u < {t[6]} THEN 6 WHEN u < {t[7]} THEN 7
              ELSE 8 END AS w
  FROM hashed
),
reps AS (SELECT g, b, CAST(sum(w * x) AS BIGINT) AS swx,
                CAST(sum(w) AS BIGINT) AS sw,
                CAST(count(*) AS BIGINT) AS n_rows
         FROM wtd GROUP BY g, b),
means AS (
  SELECT g, b, n_rows,
         CAST(CASE WHEN sw = 0 THEN NULL
                   WHEN abs(swx) <= 9000000000000
                   THEN (1000000 * swx) // sw
                   ELSE swx // (sw // 1000000) END AS BIGINT) AS mean_micro
  FROM reps
),
ranked AS (SELECT g, mean_micro,
                  row_number() OVER (PARTITION BY g
                                     ORDER BY mean_micro, b) AS r
           FROM means WHERE b >= 0),
bounds AS (
  SELECT g,
         max(CASE WHEN r = 3 THEN mean_micro END) AS lo_micro,
         max(CASE WHEN r = 98 THEN mean_micro END) AS hi_micro
  FROM ranked GROUP BY g
),
pt AS (SELECT g, mean_micro AS point_micro, n_rows FROM means WHERE b = -1)
SELECT pt.g AS o_orderpriority, CAST(100 AS BIGINT) AS n_replicates,
       pt.n_rows, pt.point_micro, b.lo_micro, b.hi_micro
FROM pt JOIN bounds b ON b.g = pt.g
ORDER BY pt.g
"""


def q_dq_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability/response table (operators.profile.calibration_bins):
    P(returned) by extended-price decile — the diagnostic sibling of
    dq_auc_returns on the same score/label pair (AUC says IF the score
    ranks returns; this shows WHERE the response curve moves).  Exact
    BIGINT bucket law over driver-literal extents, one map-combinable
    groupBy(bin) bounded at n_bins rows."""
    from radohydro_spark.operators.profile import calibration_bins

    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        (F.col("l_returnflag") == "R").cast("long").alias("is_returned"),
    )
    return calibration_bins(li, "price_c", "is_returned", n_bins=10).orderBy(
        "bin"
    )


ORACLE_CALIBRATION = """
WITH base AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
),
ext AS (SELECT CAST(min(s) AS BIGINT) AS lo, CAST(max(s) AS BIGINT) AS hi
        FROM base),
binned AS (
  SELECT CASE WHEN e.hi = e.lo THEN 0
              ELSE least(((b.s - e.lo) * 10) // (e.hi - e.lo), 9) END AS bin,
         b.y
  FROM base b, ext e
),
agg AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos
        FROM binned GROUP BY bin)
SELECT CAST(a.bin AS BIGINT) AS bin,
       CAST(e.lo + (a.bin * (e.hi - e.lo) + 9) // 10 AS BIGINT) AS bin_lo,
       CAST(CASE WHEN a.bin = 9 THEN e.hi
                 ELSE e.lo + ((a.bin + 1) * (e.hi - e.lo) + 9) // 10
            END AS BIGINT) AS bin_hi,
       a.n, a.n_pos,
       CAST(CASE WHEN a.n_pos <= 9000000000000
                 THEN (1000000 * a.n_pos) // a.n
                 ELSE a.n_pos // (a.n // 1000000) END AS BIGINT) AS pos_ppm
FROM agg a, ext e
ORDER BY a.bin
"""


def q_dq_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact CUSUM change-point scan
    (operators.profile.cusum_changepoint): where did the order-value
    series' mean shift — max_t |n·S(t) − c(t)·T| over date boundaries,
    the WITHIN-series complement of the snapshot drift family, on the
    shared ranged_cumsum cumulation (plans/contracts.py); smallest
    boundary on ties via the timestamp-safe broadcast-max + min(v)
    law; 2·n·Σ|x| < 2^63 named contract."""
    from radohydro_spark.operators.profile import cusum_changepoint

    o = _t(spark, sf_dir, "orders").select(
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return cusum_changepoint(o, "o_orderdate", "price_c")


ORACLE_CUSUM = """
WITH base AS (
  SELECT o_orderdate AS v,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
),
g AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(x) AS BIGINT) AS s
      FROM base GROUP BY v),
t AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS tt,
             (SELECT CAST(sum(abs(x)) AS BIGINT) FROM base) AS aa
      FROM g),
cumt AS (
  SELECT v, CAST(sum(c) OVER w AS BIGINT) AS cc,
         CAST(sum(s) OVER w AS BIGINT) AS cs
  FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
d AS (SELECT v, abs(t.n * cs - cc * t.tt) AS d FROM cumt, t),
dm AS (SELECT CAST(max(d) AS BIGINT) AS cusum_num FROM d),
at AS (SELECT min(v) AS at_value FROM d WHERE d = (SELECT cusum_num FROM dm))
SELECT t.n AS n_rows, t.tt AS total, dm.cusum_num,
       CAST(CASE WHEN t.n * t.aa = 0 THEN NULL
                 WHEN dm.cusum_num <= 9000000000000
                 THEN (1000000 * dm.cusum_num) // (t.n * t.aa)
                 ELSE dm.cusum_num // ((t.n * t.aa) // 1000000)
            END AS BIGINT) AS cusum_micro,
       at.at_value
FROM t, dm, at
"""


def q_dq_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 1-Wasserstein drift (operators.profile.wasserstein_drift):
    the same cents-price snapshot split as dq_ks_drift, under the
    magnitude-sensitive integral law — emd_num = Σ|c1·n2 − c2·n1|·Δv on
    the shared ranged_cumsum cumulation (plans/contracts.py), whose
    lead(v) across range boundaries comes from the same in-plan
    (range) offsets aggregate, n1·n2·range < 2^63 as the named
    contract."""
    from radohydro_spark.operators.profile import wasserstein_drift

    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_orderdate",
    )
    old = o.filter(F.col("o_orderdate") < "1997-01-01")
    new = o.filter(F.col("o_orderdate") >= "1997-01-01")
    return wasserstein_drift(old, new, "price_c")


ORACLE_W1_DRIFT = """
WITH base AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v, o_orderdate
  FROM orders
),
o AS (SELECT v, CAST(count(*) AS BIGINT) AS c1 FROM base
      WHERE o_orderdate < DATE '1997-01-01' GROUP BY 1),
n AS (SELECT v, CAST(count(*) AS BIGINT) AS c2 FROM base
      WHERE o_orderdate >= DATE '1997-01-01' GROUP BY 1),
m AS (
  SELECT coalesce(o.v, n.v) AS v,
         coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
  FROM o FULL OUTER JOIN n ON o.v = n.v
),
s AS (
  SELECT v,
         CAST(sum(c1) OVER w AS BIGINT) AS f1,
         CAST(sum(c2) OVER w AS BIGINT) AS f2,
         lead(v) OVER (ORDER BY v) AS nv
  FROM m WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
t AS (SELECT CAST(max(f1) AS BIGINT) AS n1,
             CAST(max(f2) AS BIGINT) AS n2 FROM s),
d AS (SELECT CAST(sum(abs(f1 * t.n2 - f2 * t.n1)
                      * coalesce(nv - v, 0)) AS BIGINT) AS emd_num
      FROM s, t)
SELECT t.n1 AS n_old, t.n2 AS n_new, d.emd_num,
       CAST(CASE WHEN t.n1 <= 0 OR t.n2 <= 0 THEN NULL
                 WHEN t.n1 * t.n2 <= 9000000000000
                 THEN 1000000 * (d.emd_num // (t.n1 * t.n2))
                      + (1000000 * (d.emd_num % (t.n1 * t.n2)))
                        // (t.n1 * t.n2)
                 ELSE d.emd_num // ((t.n1 * t.n2) // 1000000)
            END AS BIGINT) AS emd_micro
FROM t, d
"""


def q_dq_auc_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SLICE exact tie-corrected ROC-AUC (operators.profile.auc_by):
    how well line-item price "predicts" the returned flag WITHIN each
    order priority — dq_auc_returns' segmented form, the per-slice
    classifier eval production actually runs (a globally fine score
    can invert on a segment).  Same doubled tie-averaged rank-sum law
    per group on group-partitioned windows; the rank-sum intermediate's
    n_pos*n_tot < 2^61 bound is this operator's named in-plan assert."""
    from radohydro_spark.operators.profile import auc_by

    li = _t(spark, sf_dir, "lineitem").join(
        _t(spark, sf_dir, "orders").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
        ),
        "l_orderkey",
    ).select(
        "o_orderpriority",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        (F.col("l_returnflag") == "R").cast("long").alias("is_returned"),
    )
    return auc_by(
        li, "price_c", "is_returned", ["o_orderpriority"]
    ).orderBy("o_orderpriority")


ORACLE_AUC_BY = """
WITH base AS (
  SELECT o.o_orderpriority AS g,
         CAST(round(l.l_extendedprice * 100) AS BIGINT) AS v,
         CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderpriority IS NOT NULL AND l.l_extendedprice IS NOT NULL
        AND l.l_returnflag IS NOT NULL
),
m AS (SELECT g, v, CAST(count(*) AS BIGINT) AS ct,
             CAST(sum(y) AS BIGINT) AS cp
      FROM base GROUP BY g, v),
s AS (SELECT g, v, ct, cp,
             CAST(coalesce(sum(ct) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cb
      FROM m),
t AS (SELECT g, CAST(sum(cp * (2 * cb + ct + 1)) AS BIGINT) AS r2,
             CAST(sum(cp) AS BIGINT) AS np,
             CAST(sum(ct) AS BIGINT) AS nt
      FROM s GROUP BY g)
SELECT g AS o_orderpriority, np AS n_pos, CAST(nt - np AS BIGINT) AS n_neg,
       r2 AS rank_sum_pos_x2,
       CAST(CASE WHEN np = 0 OR nt - np = 0 THEN NULL
                 WHEN 2 * np * (nt - np) <= 9000000000000
                 THEN (1000000 * (r2 - np * (np + 1)))
                      // (2 * np * (nt - np))
                 ELSE (r2 - np * (np + 1))
                      // ((2 * np * (nt - np)) // 1000000)
            END AS BIGINT) AS auc_ppm
FROM t ORDER BY o_orderpriority
"""


def q_dq_wasserstein_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP exact 1-Wasserstein drift
    (operators.profile.wasserstein_drift_by): order-price earth-mover
    distance before vs from 1997, one W1 per order priority —
    dq_wasserstein_drift's segmented form (magnitude-sensitive where
    dq_ks_drift_by is sup-norm only).  Per-group lead() gap — no
    boundary stitch (the window is already group-partitioned); the
    n1·n2·range and 9e12 output-domain contracts are in-plan per
    group."""
    from radohydro_spark.operators.profile import wasserstein_drift_by

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
        "o_orderdate",
    )
    split = F.lit("1997-01-01").cast("date")
    return wasserstein_drift_by(
        o.filter(F.col("o_orderdate") < split),
        o.filter(F.col("o_orderdate") >= split),
        "price_c",
        ["o_orderpriority"],
    ).orderBy("o_orderpriority")


ORACLE_W1_BY = """
WITH base AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v,
         o_orderdate
  FROM orders WHERE o_orderpriority IS NOT NULL
),
m AS (
  SELECT g, v,
         CAST(count(*) FILTER (WHERE o_orderdate < DATE '1997-01-01')
              AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE o_orderdate >= DATE '1997-01-01')
              AS BIGINT) AS c2
  FROM base GROUP BY g, v
),
s AS (
  SELECT g, v,
         CAST(sum(c1) OVER w AS BIGINT) AS f1,
         CAST(sum(c2) OVER w AS BIGINT) AS f2,
         coalesce(lead(v) OVER (PARTITION BY g ORDER BY v) - v, 0)
           AS gap
  FROM m WINDOW w AS (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
),
t AS (SELECT g, CAST(max(f1) AS BIGINT) AS n1,
             CAST(max(f2) AS BIGINT) AS n2 FROM s GROUP BY g),
e AS (SELECT s.g,
             CAST(sum(abs(s.f1 * t.n2 - s.f2 * t.n1) * s.gap) AS BIGINT)
               AS emd
      FROM s JOIN t ON s.g = t.g GROUP BY s.g)
SELECT t.g AS o_orderpriority, t.n1 AS n_old, t.n2 AS n_new,
       e.emd AS emd_num,
       CAST(CASE WHEN t.n1 <= 0 OR t.n2 <= 0 THEN NULL
                 WHEN t.n1 * t.n2 <= 9000000000000
                 THEN 1000000 * (e.emd // (t.n1 * t.n2))
                      + (1000000 * (e.emd % (t.n1 * t.n2)))
                        // (t.n1 * t.n2)
                 ELSE e.emd // ((t.n1 * t.n2) // 1000000)
            END AS BIGINT) AS emd_micro
FROM t JOIN e ON e.g = t.g
ORDER BY o_orderpriority
"""


def q_stats_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEGMENT exact Gini concentration
    (operators.profile.gini_by): how concentrated order revenue is
    across customers WITHIN each market segment — stats_gini_revenue's
    segmented form, completing the r15 per-group suite (tvd_by /
    ks_by / gini_by).  Same grouped Lorenz-trapezoid law per group,
    piecewise ppm + the 2nT overflow bound IN-PLAN (totals are runtime
    values per group); group-partitioned windows under the documented
    per-group-domain-fits-a-task contract."""
    from radohydro_spark.operators.profile import gini_by

    rev = (
        _t(spark, sf_dir, "orders")
        .join(
            _t(spark, sf_dir, "customer").select(
                F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
            ),
            "o_custkey",
        )
        .groupBy("c_mktsegment", "o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_c"
            )
        )
    )
    return gini_by(rev, "rev_c", ["c_mktsegment"]).orderBy("c_mktsegment")


ORACLE_GINI_BY = """
WITH rev AS (
  SELECT c.c_mktsegment AS g, o.o_custkey,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS v
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment IS NOT NULL
  GROUP BY 1, 2
),
gcnt AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c,
                CAST(sum(v) AS BIGINT) AS s
         FROM rev GROUP BY g, v),
cum AS (SELECT g, v, c,
               CAST(sum(s) OVER (PARTITION BY g ORDER BY v
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_incl,
               CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n,
               CAST(sum(s) OVER (PARTITION BY g) AS BIGINT) AS t
        FROM gcnt),
agg AS (SELECT g, CAST(max(n) AS BIGINT) AS n, CAST(max(t) AS BIGINT) AS t,
               CAST(sum(2 * c * s_incl - c * c * v) AS BIGINT) AS b
        FROM cum GROUP BY g)
SELECT g AS c_mktsegment, n AS n_rows, t AS total,
       CAST(n * t - b AS BIGINT) AS gini_num,
       CAST(CASE WHEN n * t <= 0 THEN NULL
                 WHEN n * t <= 9000000000000
                 THEN (1000000 * (n * t - b)) // (n * t)
                 ELSE (n * t - b) // ((n * t) // 1000000)
            END AS BIGINT) AS gini_ppm
FROM agg ORDER BY c_mktsegment
"""


def q_stats_gini_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Gini concentration of per-customer revenue
    (operators.profile.gini_coefficient): how concentrated order value
    is across customers — the grouped Lorenz-trapezoid law
    B = Σ(2·c·S − c²·v) in pure BIGINTs on the ranged_cumsum
    cumulation (plans/contracts.py), n·T < 2^63 named contract, negative
    values rejected by the named in-plan assert."""
    from radohydro_spark.operators.profile import gini_coefficient

    rev = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
                "rev_c"
            )
        )
    )
    return gini_coefficient(rev, "rev_c")


ORACLE_GINI = """
WITH rev AS (
  SELECT o_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
  FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1
),
g AS (SELECT v, CAST(count(*) AS BIGINT) AS c,
             CAST(sum(v) AS BIGINT) AS s
      FROM rev GROUP BY v),
cum AS (
  SELECT v, c,
         CAST(sum(s) OVER w AS BIGINT) AS s_incl
  FROM g WINDOW w AS (ORDER BY v ROWS UNBOUNDED PRECEDING)
),
t AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS tt
      FROM g),
b AS (SELECT CAST(sum(2 * c * s_incl - c * c * v) AS BIGINT) AS b FROM cum)
SELECT t.n AS n_rows, t.tt AS total,
       CAST(t.n * t.tt - b.b AS BIGINT) AS gini_num,
       CAST(CASE WHEN t.n * t.tt <= 0 THEN NULL
                 WHEN t.n * t.tt <= 9000000000000
                 THEN (1000000 * (t.n * t.tt - b.b)) // (t.n * t.tt)
                 ELSE (t.n * t.tt - b.b) // ((t.n * t.tt) // 1000000)
            END AS BIGINT) AS gini_ppm
FROM t, b
"""


def q_dq_psi_drift_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SEGMENT Population Stability Index
    (operators.profile.psi_drift_by): order totals before vs from
    1997-01-01, one bucketed-PSI drift report per order priority —
    dq_psi_drift's segmented form, completing the per-group suite's
    drift members (r15 VERDICT #2).  Each group's equi-width grid
    spans ITS old-snapshot extents (computed in-plan and broadcast
    back — the zscore stats-join pattern, no row ever shuffles on the
    group key), same eps-floored ln-contribution law as the global
    form per group."""
    _utc(spark)
    from radohydro_spark.operators.profile import psi_drift_by

    o = _t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderdate") < "1997-01-01")
    new = o.filter(F.col("o_orderdate") >= "1997-01-01")
    return psi_drift_by(
        old, new, "o_totalprice", ["o_orderpriority"], n_buckets=10
    ).orderBy("o_orderpriority", "bucket")


ORACLE_PSI_DRIFT_BY = """
WITH j AS (
  SELECT o_orderpriority AS g, o_totalprice AS v, o_orderdate
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
    AND o_orderdate IS NOT NULL
),
ext AS (
  SELECT g, min(v) AS lo, max(v) AS hi FROM j
  WHERE o_orderdate < TIMESTAMP '1997-01-01' GROUP BY g
),
b AS (
  SELECT j.g,
         CASE WHEN e.hi = e.lo THEN 0
              ELSE CAST(greatest(least(floor((j.v - e.lo)
                        / ((e.hi - e.lo) / 10.0)), 9), 0) AS BIGINT)
         END AS bucket,
         CASE WHEN j.o_orderdate < TIMESTAMP '1997-01-01'
              THEN 1 ELSE 0 END AS s1,
         CASE WHEN j.o_orderdate >= TIMESTAMP '1997-01-01'
              THEN 1 ELSE 0 END AS s2
  FROM j JOIN ext e ON j.g = e.g
),
m AS (SELECT g, bucket, CAST(sum(s1) AS BIGINT) AS n_old,
             CAST(sum(s2) AS BIGINT) AS n_new
      FROM b GROUP BY g, bucket),
t AS (SELECT *, SUM(n_old) OVER (PARTITION BY g) AS tot_o,
             SUM(n_new) OVER (PARTITION BY g) AS tot_n FROM m)
SELECT g AS o_orderpriority, bucket, n_old, n_new,
       round(greatest(n_old / tot_o, 1e-6), 9) AS p_old,
       CASE WHEN tot_n = 0 THEN NULL
            ELSE round(greatest(n_new / tot_n, 1e-6), 9) END AS p_new,
       CASE WHEN tot_n = 0 THEN NULL
            ELSE round((greatest(n_old / tot_o, 1e-6)
                        - greatest(n_new / tot_n, 1e-6))
                       * ln(greatest(n_old / tot_o, 1e-6)
                            / greatest(n_new / tot_n, 1e-6)), 9)
       END AS psi_contrib
FROM t ORDER BY o_orderpriority, bucket
"""


def q_dq_calibration_bins_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SLICE reliability/response table
    (operators.profile.calibration_bins_by): P(returned) by
    extended-price decile WITHIN each ship mode — dq_calibration_bins'
    segmented form and dq_auc_by_priority's diagnostic sibling
    (per-slice calibration is exactly where a globally-calibrated
    score breaks).  The slice is the SHIP YEAR — the temporal-cohort
    calibration drilldown.  Exact BIGINT bucket law over per-group
    in-plan extents (broadcast back), named in-plan binning-domain +
    0/1 label asserts, shuffle bounded at |groups|·n_bins counters."""
    from radohydro_spark.operators.profile import calibration_bins_by

    li = _t(spark, sf_dir, "lineitem").select(
        F.year("l_shipdate").cast("long").alias("ship_year"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_c"),
        (F.col("l_returnflag") == "R").cast("long").alias("is_returned"),
    )
    return calibration_bins_by(
        li, "price_c", "is_returned", ["ship_year"], n_bins=10
    ).orderBy("ship_year", "bin")


ORACLE_CALIBRATION_BY = """
WITH base AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS s,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_shipdate IS NOT NULL
),
ext AS (SELECT g, CAST(min(s) AS BIGINT) AS lo,
               CAST(max(s) AS BIGINT) AS hi
        FROM base GROUP BY g),
binned AS (
  SELECT b.g,
         CASE WHEN e.hi = e.lo THEN 0
              ELSE least(((b.s - e.lo) * 10) // (e.hi - e.lo), 9)
         END AS bin,
         b.y
  FROM base b JOIN ext e ON b.g = e.g
),
agg AS (SELECT g, bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS n_pos
        FROM binned GROUP BY g, bin)
SELECT a.g AS ship_year, CAST(a.bin AS BIGINT) AS bin,
       CAST(e.lo + (a.bin * (e.hi - e.lo) + 9) // 10 AS BIGINT) AS bin_lo,
       CAST(CASE WHEN a.bin = 9 THEN e.hi
                 ELSE e.lo + ((a.bin + 1) * (e.hi - e.lo) + 9) // 10
            END AS BIGINT) AS bin_hi,
       a.n, a.n_pos,
       CAST(CASE WHEN a.n_pos <= 9000000000000
                 THEN (1000000 * a.n_pos) // a.n
                 ELSE a.n_pos // (a.n // 1000000) END AS BIGINT) AS pos_ppm
FROM agg a JOIN ext e ON a.g = e.g
ORDER BY ship_year, bin
"""


def q_dq_cusum_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-KEY exact CUSUM change-point scan
    (operators.profile.cusum_by): where each order priority's
    value series shifted — dq_cusum_changepoint's segmented form, the
    production monitoring shape (one scan for ALL KPIs instead of one
    job per series; r15 VERDICT #6).  Same BIGINT scan law per group
    on group-partitioned cumulative windows (a series' order domain
    fits a task by construction), scan-domain contract in-plan, the
    negation-safe min_by tie struct for the date-typed boundary."""
    _utc(spark)
    from radohydro_spark.operators.profile import cusum_by

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        "o_orderdate",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return cusum_by(
        o, "o_orderdate", "price_c", ["o_orderpriority"]
    ).orderBy("o_orderpriority")


ORACLE_CUSUM_BY = """
WITH base AS (
  SELECT o_orderpriority AS g, o_orderdate AS v,
         CAST(round(o_totalprice * 100) AS BIGINT) AS x
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL
),
gg AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c,
              CAST(sum(x) AS BIGINT) AS s,
              CAST(sum(abs(x)) AS BIGINT) AS a
       FROM base GROUP BY g, v),
t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n, CAST(sum(s) AS BIGINT) AS tt,
             CAST(sum(a) AS BIGINT) AS aa
      FROM gg GROUP BY g),
cumt AS (
  SELECT g, v, CAST(sum(c) OVER w AS BIGINT) AS cc,
         CAST(sum(s) OVER w AS BIGINT) AS cs
  FROM gg WINDOW w AS (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
),
d AS (SELECT cumt.g, cumt.v, abs(t.n * cumt.cs - cumt.cc * t.tt) AS d
      FROM cumt JOIN t ON cumt.g = t.g),
dm AS (SELECT g, CAST(max(d) AS BIGINT) AS cusum_num FROM d GROUP BY g),
at AS (SELECT g, v AS at_value FROM (
         SELECT g, v, row_number() OVER (PARTITION BY g
                                         ORDER BY d DESC, v) AS rn
         FROM d) WHERE rn = 1)
SELECT t.g AS o_orderpriority, t.n AS n_rows, t.tt AS total, dm.cusum_num,
       CAST(CASE WHEN t.n * t.aa = 0 THEN NULL
                 WHEN dm.cusum_num <= 9000000000000
                 THEN (1000000 * dm.cusum_num) // (t.n * t.aa)
                 ELSE dm.cusum_num // ((t.n * t.aa) // 1000000)
            END AS BIGINT) AS cusum_micro,
       at.at_value
FROM t JOIN dm ON dm.g = t.g JOIN at ON at.g = t.g
ORDER BY o_orderpriority
"""


def q_events_stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window KMV distinct sketch
    (streaming.stream_kmv): per-DAY bottom-64 portable-hash sketch of
    the event user-id stream — the distinct-cardinality/overlap
    sibling of events_stream_count_min maintained at ingest time (r15
    VERDICT #5; feed two window slices to kmv_overlap for day-to-day
    audience overlap without re-reading the corpus).  State ≤
    windows·k longs by construction; the availableNow drain is
    bit-identical to the batch kmv_sketch per window.  Update-mode
    emissions are superseding snapshots of a monotone-downward set, so
    the final sketch per window is the bottom-k of the distinct drain
    (the stream_state_totals keep-the-last treatment, set-valued)."""
    import tempfile
    import uuid

    from pyspark.sql import Window as W

    from radohydro_spark.streaming import run_available_now, stream_kmv

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)
    sk = stream_kmv(
        stream, "ts", "user_id", "1 day", k=64, watermark="1 hour"
    )
    name = "stream_kmv_" + uuid.uuid4().hex[:8]
    # state ≤ windows·k longs and the stateful shuffle carries ≤
    # windows·k pre-pruned rows per upstream task (stream_kmv's
    # stateless bottom-k prune) -> window-domain-sized state partitions.
    # skip_no_data_batch: the kmv timeout handler emits NOTHING (pure
    # state cleanup), so the zero-input watermark batch is result-free
    # for a bounded drain (r17, VERDICT r16 #3)
    out = run_available_now(
        sk, name, tempfile.mkdtemp(prefix="ck_"), "update",
        state_partitions=8, skip_no_data_batch=True,
    )
    w = W.partitionBy("ts").orderBy("hv")
    return (
        out.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 64)
        .select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("day"), "hv"
        )
        .orderBy("day", "hv")
    )


def q_events_stream_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming numeric-distribution drift monitor
    (streaming.stream_psi_buckets): per-DAY PSI diagram of the event
    value (cents) against a pinned uniform reference over a pinned
    [0, 20000]×10 grid — the Structured-Streaming twin of dq_psi_drift
    completing the ingest-time monitoring family (frequency /
    distinct / categorical mix / numeric distribution).  ONE stateful
    window aggregate with per-bucket conditional counts (state =
    n_buckets+1 longs per window, never rows); the clamp law routes
    out-of-grid drift into the edge buckets; the per-bucket unpivot
    and PSI arithmetic are stateless projections, exactly
    SQL-replayable."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import (
        run_available_now,
        stream_psi_buckets,
    )

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream).withColumn(
        "value_c", F.round(F.col("value") * 100).cast("long")
    )
    psi = stream_psi_buckets(
        stream, "ts", "value_c", "1 day",
        lo=0, hi=20_000, n_buckets=10, ref_counts=[1] * 10,
        watermark="1 hour",
    )
    name = "stream_psi_" + uuid.uuid4().hex[:8]
    out = run_available_now(
        psi, name, tempfile.mkdtemp(prefix="ck_"), "complete"
    )
    return out.select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("day"),
        "bucket",
        "n",
        "n_bucket",
        "p_ref",
        "p_win",
        "psi_contrib",
    ).orderBy("day", "bucket")


ORACLE_STREAM_PSI = """
WITH base AS (
  SELECT date_trunc('day', ts) AS h,
         least(greatest(CAST(round(value * 100) AS BIGINT), 0), 20000) AS v2
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
bkt AS (SELECT h, least((v2 * 10) // 20000, 9) AS b FROM base),
tot AS (SELECT h, CAST(count(*) AS BIGINT) AS n FROM bkt GROUP BY h),
grid AS (SELECT t.h, dd.range AS bucket FROM tot t, range(10) dd),
cnt AS (SELECT h, b, CAST(count(*) AS BIGINT) AS nb FROM bkt GROUP BY h, b),
j AS (
  SELECT g.h, g.bucket, coalesce(c.nb, 0) AS n_bucket, t.n
  FROM grid g
  LEFT JOIN cnt c ON c.h = g.h AND c.b = g.bucket
  JOIN tot t ON t.h = g.h
)
SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS day,
       CAST(bucket AS BIGINT) AS bucket, n,
       CAST(n_bucket AS BIGINT) AS n_bucket,
       round(greatest(1 / 10, 1e-6), 9) AS p_ref,
       round(greatest(n_bucket / n, 1e-6), 9) AS p_win,
       round((greatest(1 / 10, 1e-6) - greatest(n_bucket / n, 1e-6))
             * ln(greatest(1 / 10, 1e-6)
                  / greatest(n_bucket / n, 1e-6)), 9) AS psi_contrib
FROM j ORDER BY day, bucket
"""


def q_stats_quantiles_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP exact discrete quantiles
    (operators.profile.quantiles_by): the order-price p25/p50/p75/p95/
    p99 PER ORDER PRIORITY from one pass — the production latency/
    size-monitoring shape, stats_quantiles_distributed's segmented
    sibling on the family's group-partitioned window pattern (one
    group-key exchange shared by cumulation, totals and the final
    aggregate; every quantile is a conditional min over the same
    cumulated rows).  Pure-BIGINT percentile_disc lower-boundary law:
    quantile q = the smallest value with 100·cum ≥ q·n — no
    interpolation, no float rank."""
    from radohydro_spark.operators.profile import quantiles_by

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_c"),
    )
    return quantiles_by(
        o, "price_c", ["o_orderpriority"], qs=(25, 50, 75, 95, 99)
    ).orderBy("o_orderpriority")


ORACLE_QUANTILES_BY = """
WITH base AS (
  SELECT o_orderpriority AS g,
         CAST(round(o_totalprice * 100) AS BIGINT) AS v
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_totalprice IS NOT NULL
),
c AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY g, v),
s AS (SELECT g, v, CAST(sum(c) OVER w AS BIGINT) AS cum
      FROM c WINDOW w AS (PARTITION BY g ORDER BY v
                          ROWS UNBOUNDED PRECEDING)),
t AS (SELECT g, CAST(max(cum) AS BIGINT) AS n FROM s GROUP BY g)
SELECT s.g AS o_orderpriority, t.n AS n_rows,
       CAST(min(CASE WHEN 100 * s.cum >= 25 * t.n THEN s.v END)
            AS BIGINT) AS q25,
       CAST(min(CASE WHEN 100 * s.cum >= 50 * t.n THEN s.v END)
            AS BIGINT) AS q50,
       CAST(min(CASE WHEN 100 * s.cum >= 75 * t.n THEN s.v END)
            AS BIGINT) AS q75,
       CAST(min(CASE WHEN 100 * s.cum >= 95 * t.n THEN s.v END)
            AS BIGINT) AS q95,
       CAST(min(CASE WHEN 100 * s.cum >= 99 * t.n THEN s.v END)
            AS BIGINT) AS q99
FROM s JOIN t ON s.g = t.g
GROUP BY s.g, t.n
ORDER BY o_orderpriority
"""


def q_events_stream_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day audience overlap from the INGEST-TIME sketches
    alone (streaming.stream_kmv → operators.sketch.kmv_overlap): the
    first two days' per-window bottom-64 KMV slices feed the
    pure-BIGINT overlap estimators — union / intersection / Jaccard of
    two day audiences WITHOUT re-reading the corpus, the exact
    composition the streaming sketch exists for (its count_min sibling
    answers per-window "how often"; this answers "how many distinct
    and how much shared").  The whole estimate touches two ≤64-row
    slices; the day pick is a 2-row driver collect (dimension-sized,
    the subtotal-collect convention)."""
    import tempfile
    import uuid

    from pyspark.sql import Window as W

    from radohydro_spark.operators.sketch import kmv_overlap
    from radohydro_spark.streaming import run_available_now, stream_kmv

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)
    sk = stream_kmv(
        stream, "ts", "user_id", "1 day", k=64, watermark="1 hour"
    )
    name = "stream_kmv_ov_" + uuid.uuid4().hex[:8]
    # same drain sizing + result-free no-data-batch skip as
    # q_events_stream_kmv (the kmv timeout emits nothing)
    out = run_available_now(
        sk, name, tempfile.mkdtemp(prefix="ck_"), "update",
        state_partitions=8, skip_no_data_batch=True,
    )
    w = W.partitionBy("ts").orderBy("hv")
    table = (
        out.distinct()
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= 64)
        .select("ts", "hv")
    )
    days = [
        r.ts
        for r in table.select("ts").distinct().orderBy("ts").limit(2).collect()
    ]
    if len(days) < 2:
        raise ValueError(
            "events_stream_kmv_overlap: need at least two day windows"
        )
    sk_a = table.filter(F.col("ts") == days[0]).select("hv")
    sk_b = table.filter(F.col("ts") == days[1]).select("hv")
    return kmv_overlap(sk_a, sk_b, k=64)


def _stream_kmv_overlap_oracle() -> str:
    h = _ph_sql("kk")
    dom = (1 << 32) * 63
    return f"""
WITH ev AS (SELECT date_trunc('day', ts) AS w, CAST(user_id AS VARCHAR) AS kk
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
d AS (SELECT w FROM (SELECT DISTINCT w FROM ev) ORDER BY w LIMIT 2),
a AS (SELECT DISTINCT ({h}) AS hv FROM ev
      WHERE w = (SELECT min(w) FROM d) ORDER BY hv LIMIT 64),
b AS (SELECT DISTINCT ({h}) AS hv FROM ev
      WHERE w = (SELECT max(w) FROM d) ORDER BY hv LIMIT 64),
u AS (SELECT hv FROM (SELECT hv FROM a UNION SELECT hv FROM b)
      ORDER BY hv LIMIT 64),
fl AS (SELECT CAST(count(*) AS BIGINT) AS n_union_sketch,
              CAST(max(hv) AS BIGINT) AS theta,
              CAST(sum(CASE WHEN hv IN (SELECT hv FROM a)
                             AND hv IN (SELECT hv FROM b)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_common
       FROM u),
est AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_a,
         (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_b,
         theta, n_union_sketch, n_common,
         CAST(CASE WHEN n_union_sketch < 64 THEN n_union_sketch
                   ELSE {dom} // nullif(theta, 0) END AS BIGINT)
           AS union_est
  FROM fl
)
SELECT n_a, n_b, theta, n_union_sketch, n_common, union_est,
       CAST((n_common * union_est) // nullif(n_union_sketch, 0)
            AS BIGINT) AS inter_est,
       CAST((1000000 * n_common) // nullif(n_union_sketch, 0)
            AS BIGINT) AS jaccard_ppm
FROM est
"""


def _stream_kmv_oracle() -> str:
    h = _ph_sql("kk")
    return f"""
WITH ev AS (SELECT date_trunc('day', ts) AS w, CAST(user_id AS VARCHAR) AS kk
            FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
hx AS (SELECT DISTINCT w, {h} AS hv FROM ev),
r AS (SELECT w, hv,
             row_number() OVER (PARTITION BY w ORDER BY hv) AS rn
      FROM hx)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS day, CAST(hv AS BIGINT) AS hv
FROM r WHERE rn <= 64 ORDER BY day, hv
"""


def q_dq_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square homogeneity diagram (operators.profile.chi2_drift):
    return-flag mix of lineitems shipped before vs from 1998 — the
    SIGNIFICANCE leg of the categorical drift pair (dq_tvd_drift
    reports effect size; the summed chi2_contrib against the K−1-dof
    critical value says whether the gap exceeds sampling noise).
    EXACT BIGINT cross-term d = |c1·n2 − c2·n1| under the driver-side
    n1·n2 < 2^63 bound; chi2_contrib = (d/n1)·(d/n2)/(c1+c2) in
    doubles with the identical expression tree cross-engine."""
    from radohydro_spark.operators.profile import chi2_drift

    li = _t(spark, sf_dir, "lineitem")
    split = F.lit("1998-01-01").cast("timestamp")
    return chi2_drift(
        li.filter(F.col("l_shipdate") < split),
        li.filter(F.col("l_shipdate") >= split),
        "l_returnflag",
    ).orderBy("cat")


ORACLE_CHI2_DRIFT = """
WITH base AS (
  SELECT CAST(l_returnflag AS VARCHAR) AS cat, l_shipdate
  FROM lineitem WHERE l_returnflag IS NOT NULL
),
m AS (
  SELECT cat,
         CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '1998-01-01')
              AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01')
              AS BIGINT) AS c2
  FROM base GROUP BY cat
),
t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM m)
SELECT m.cat, m.c1 AS n_old, m.c2 AS n_new,
       CAST(abs(m.c1 * t.n2 - m.c2 * t.n1) AS BIGINT) AS d,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round((abs(m.c1 * t.n2 - m.c2 * t.n1) / t.n1)
                       * (abs(m.c1 * t.n2 - m.c2 * t.n1) / t.n2)
                       / (m.c1 + m.c2), 9)
       END AS chi2_contrib
FROM m, t ORDER BY cat
"""


def q_dq_chi2_drift_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP chi-square homogeneity diagram
    (operators.profile.chi2_drift_by): the return-flag drift test run
    per line status — one significance verdict per segment, the
    segmented twin completing the categorical pair with
    dq_tvd_drift_by.  Totals computed IN-PLAN per group under the
    named divisional assert; one union-tagged count aggregate + one
    group-key totals window (|groups|·|domain| counters on the
    wire)."""
    from radohydro_spark.operators.profile import chi2_drift_by

    li = _t(spark, sf_dir, "lineitem")
    split = F.lit("1998-01-01").cast("timestamp")
    return chi2_drift_by(
        li.filter(F.col("l_shipdate") < split),
        li.filter(F.col("l_shipdate") >= split),
        "l_returnflag",
        ["l_linestatus"],
    ).orderBy("l_linestatus", "cat")


ORACLE_CHI2_DRIFT_BY = """
WITH base AS (
  SELECT l_linestatus AS g, CAST(l_returnflag AS VARCHAR) AS cat,
         l_shipdate
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_linestatus IS NOT NULL
),
m AS (
  SELECT g, cat,
         CAST(count(*) FILTER (WHERE l_shipdate < TIMESTAMP '1998-01-01')
              AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1998-01-01')
              AS BIGINT) AS c2
  FROM base GROUP BY g, cat
),
t AS (SELECT g, CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM m GROUP BY g)
SELECT m.g AS l_linestatus, m.cat, m.c1 AS n_old, m.c2 AS n_new,
       CAST(abs(m.c1 * t.n2 - m.c2 * t.n1) AS BIGINT) AS d,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round((abs(m.c1 * t.n2 - m.c2 * t.n1) / t.n1)
                       * (abs(m.c1 * t.n2 - m.c2 * t.n1) / t.n2)
                       / (m.c1 + m.c2), 9)
       END AS chi2_contrib
FROM m JOIN t ON m.g = t.g ORDER BY l_linestatus, cat
"""


def q_dq_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon drift diagram (operators.profile.jsd_drift):
    event-type mix of the first vs second half of the event month —
    the BOUNDED, epsilon-free information-theoretic drift leg (PSI's
    zero-bucket epsilon distorts exactly when new categories appear;
    JSD is finite on disjoint supports by construction and lives in
    [0, ln 2]).  Per-category rows under the shared float law (p, q
    from exact BIGINT counts; 0·ln0 := 0 made explicit by CASE)."""
    from radohydro_spark.operators.profile import jsd_drift

    ev = _t(spark, sf_dir, "events")
    split = F.lit("2024-01-16").cast("timestamp")
    return jsd_drift(
        ev.filter(F.col("ts") < split),
        ev.filter(F.col("ts") >= split),
        "event_type",
    ).orderBy("cat")


ORACLE_JSD_DRIFT = """
WITH base AS (
  SELECT CAST(event_type AS VARCHAR) AS cat, ts
  FROM events WHERE event_type IS NOT NULL
),
m AS (
  SELECT cat,
         CAST(count(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16')
              AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16')
              AS BIGINT) AS c2
  FROM base GROUP BY cat
),
t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM m)
SELECT m.cat, m.c1 AS n_old, m.c2 AS n_new,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round(m.c1 / t.n1, 9) END AS p_old,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round(m.c2 / t.n2, 9) END AS p_new,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round((
              (CASE WHEN m.c1 = 0 THEN 0.0
                    ELSE (m.c1 / t.n1) * ln(2.0 * (m.c1 / t.n1)
                         / ((m.c1 / t.n1) + (m.c2 / t.n2))) END)
              + (CASE WHEN m.c2 = 0 THEN 0.0
                      ELSE (m.c2 / t.n2) * ln(2.0 * (m.c2 / t.n2)
                           / ((m.c1 / t.n1) + (m.c2 / t.n2))) END)
            ) / 2.0, 9)
       END AS jsd_contrib
FROM m, t ORDER BY cat
"""


def q_dq_jsd_drift_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE Jensen–Shannon drift diagram
    (operators.profile.jsd_drift_by): language mix of each document
    source across two interleaved corpus halves — the segmented
    bounded-divergence monitor ("did any source's language mix move
    between drops?"), epsilon-free where per-source snapshots
    routinely miss languages entirely.  One union-tagged count
    aggregate + one group-key totals window."""
    from radohydro_spark.operators.profile import jsd_drift_by

    d = _docs(spark, sf_dir)
    half = F.expr("(doc_id div 20) % 2")
    return jsd_drift_by(
        d.filter(half == 0),
        d.filter(half == 1),
        "lang",
        ["source"],
    ).orderBy("source", "cat")


ORACLE_JSD_DRIFT_BY = """
WITH base AS (
  SELECT source AS g, CAST(lang AS VARCHAR) AS cat,
         ((doc_id // 20) % 2) AS half
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
),
m AS (
  SELECT g, cat,
         CAST(count(*) FILTER (WHERE half = 0) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE half = 1) AS BIGINT) AS c2
  FROM base GROUP BY g, cat
),
t AS (SELECT g, CAST(sum(c1) AS BIGINT) AS n1,
             CAST(sum(c2) AS BIGINT) AS n2 FROM m GROUP BY g)
SELECT m.g AS source, m.cat, m.c1 AS n_old, m.c2 AS n_new,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round(m.c1 / t.n1, 9) END AS p_old,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round(m.c2 / t.n2, 9) END AS p_new,
       CASE WHEN t.n1 = 0 OR t.n2 = 0 THEN NULL
            ELSE round((
              (CASE WHEN m.c1 = 0 THEN 0.0
                    ELSE (m.c1 / t.n1) * ln(2.0 * (m.c1 / t.n1)
                         / ((m.c1 / t.n1) + (m.c2 / t.n2))) END)
              + (CASE WHEN m.c2 = 0 THEN 0.0
                      ELSE (m.c2 / t.n2) * ln(2.0 * (m.c2 / t.n2)
                           / ((m.c1 / t.n1) + (m.c2 / t.n2))) END)
            ) / 2.0, 9)
       END AS jsd_contrib
FROM m JOIN t ON m.g = t.g ORDER BY source, cat
"""


def q_stats_corr_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Pearson correlation + OLS fit
    (operators.profile.corr_by): quantity↔extended-price relationship
    per return flag — the bivariate feature-drift / leakage screen
    (zscore's sibling; same exact-integer-moments law: five
    decimal(38,0)/HUGEINT sums, ONE correctly-rounded cast to double
    each, identical closed-form float expressions cross-engine).
    One map-side-combinable aggregate; six counters per group on the
    wire."""
    from radohydro_spark.operators.profile import corr_by

    li = _t(spark, sf_dir, "lineitem")
    return corr_by(
        li, "l_quantity", "l_extendedprice", ["l_returnflag"]
    ).orderBy("l_returnflag")


ORACLE_CORR_BY = """
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(round(l_quantity * 100) AS BIGINT) AS xq,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS yq
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
    AND l_returnflag IS NOT NULL
),
a AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(xq AS HUGEINT)) AS DOUBLE) AS sx,
         CAST(sum(CAST(yq AS HUGEINT)) AS DOUBLE) AS sy,
         CAST(sum(CAST(xq AS HUGEINT) * xq) AS DOUBLE) AS sxx,
         CAST(sum(CAST(yq AS HUGEINT) * yq) AS DOUBLE) AS syy,
         CAST(sum(CAST(xq AS HUGEINT) * yq) AS DOUBLE) AS sxy
  FROM base GROUP BY g
)
SELECT g AS l_returnflag, n,
       round((sx / n) / 100.0, 9) AS mean_x,
       round((sy / n) / 100.0, 9) AS mean_y,
       CASE WHEN greatest(sxx / n - (sx / n) * (sx / n), 0.0) > 0
             AND greatest(syy / n - (sy / n) * (sy / n), 0.0) > 0
            THEN round((sxy / n - (sx / n) * (sy / n))
                       / sqrt(greatest(sxx / n - (sx / n) * (sx / n), 0.0)
                              * greatest(syy / n - (sy / n) * (sy / n), 0.0)),
                       9)
       END AS corr,
       CASE WHEN greatest(sxx / n - (sx / n) * (sx / n), 0.0) > 0
            THEN round((sxy / n - (sx / n) * (sy / n))
                       / greatest(sxx / n - (sx / n) * (sx / n), 0.0)
                       * 1.0, 9)
       END AS slope,
       CASE WHEN greatest(sxx / n - (sx / n) * (sx / n), 0.0) > 0
            THEN round((sy / n) / 100.0
                       - ((sxy / n - (sx / n) * (sy / n))
                          / greatest(sxx / n - (sx / n) * (sx / n), 0.0)
                          * 1.0)
                         * ((sx / n) / 100.0), 9)
       END AS intercept
FROM a ORDER BY l_returnflag
"""


def q_sketch_kmv_estimate_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group KMV distinct estimate
    (operators.sketch.kmv_estimate_by over kmv_by): distinct users
    per event type from a bottom-16 sketch — the segmented
    approx-count-distinct with a deterministic, mergeable,
    oracle-checkable law (portable md5 hash; exact below k, the
    (k−1)·2³² div theta estimator past it — k=16 keeps sf0.001
    groups on the exact branch and sf0.01+ on the estimator, so the
    gate exercises both).  Corpus read once by the partition-pruned
    sketch pass; everything after touches ≤ |groups|·k rows."""
    from radohydro_spark.operators.sketch import kmv_estimate_by

    ev = _t(spark, sf_dir, "events")
    return kmv_estimate_by(ev, "user_id", ["event_type"], k=16).orderBy(
        "event_type"
    )


ORACLE_KMV_ESTIMATE_BY = f"""
WITH h AS (
  SELECT DISTINCT event_type AS g,
         {_ph_sql("CAST(user_id AS VARCHAR)")} AS hv
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
r AS (SELECT g, hv,
             row_number() OVER (PARTITION BY g ORDER BY hv) AS rn
      FROM h),
a AS (SELECT g, CAST(count(*) AS BIGINT) AS n_sketch,
             CAST(max(hv) AS BIGINT) AS theta
      FROM r WHERE rn <= 16 GROUP BY g)
SELECT g AS event_type, n_sketch, theta,
       CAST(CASE WHEN n_sketch < 16 THEN n_sketch
                 ELSE (15 * 4294967296) // nullif(theta, 0)
            END AS BIGINT) AS distinct_est
FROM a ORDER BY event_type
"""


def q_sketch_heavy_hitters_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-group top-k frequent values
    (operators.sketch.heavy_hitters_by): the five hottest part keys
    per return flag with ppm frequency shares — the segmented twin of
    the Misra-Gries global heavy_hitters (exact count aggregate is
    the right plan when the (group, value) domain is counter-sized).
    Deterministic (count DESC, value ASC) tie law; share_ppm is one
    terminal floored BIGINT division under the named in-plan 9e12
    assert; totals and rank share ONE group-key window exchange."""
    from radohydro_spark.operators.sketch import heavy_hitters_by

    li = _t(spark, sf_dir, "lineitem")
    return heavy_hitters_by(li, "l_partkey", ["l_returnflag"], k=5).orderBy(
        "l_returnflag", "rank"
    )


ORACLE_HEAVY_HITTERS_BY = """
WITH base AS (
  SELECT l_returnflag AS g, CAST(l_partkey AS VARCHAR) AS value
  FROM lineitem
  WHERE l_partkey IS NOT NULL AND l_returnflag IS NOT NULL
),
c AS (SELECT g, value, CAST(count(*) AS BIGINT) AS cnt
      FROM base GROUP BY g, value),
w AS (SELECT g, value, cnt,
             CAST(sum(cnt) OVER (PARTITION BY g) AS BIGINT) AS n,
             row_number() OVER (PARTITION BY g
                                ORDER BY cnt DESC, value) AS rn
      FROM c)
SELECT g AS l_returnflag, CAST(rn AS BIGINT) AS rank, value, cnt,
       CAST((1000000 * cnt) // n AS BIGINT) AS share_ppm
FROM w WHERE rn <= 5 ORDER BY l_returnflag, rank
"""


def q_stats_entropy_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Shannon-entropy diagram (operators.profile.entropy_by):
    each document source's language-mix diversity — the curation screen
    that flags a source whose mix collapsed to one language before it
    skews the corpus ("evenness per slice", the single-snapshot
    complement of the two-snapshot drift legs).  One count aggregate +
    one group-partitioned totals window over counters; Σ h_contrib per
    source is the entropy in nats."""
    from radohydro_spark.operators.profile import entropy_by

    d = _docs(spark, sf_dir)
    return entropy_by(d, "lang", ["source"]).orderBy("source", "cat")


ORACLE_ENTROPY_BY = """
WITH base AS (
  SELECT source AS g, CAST(lang AS VARCHAR) AS cat
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
),
m AS (
  SELECT g, cat, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY g, cat
),
t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM m GROUP BY g)
SELECT m.g AS source, m.cat, m.c AS n,
       round(m.c / t.n, 9) AS p,
       round(-((m.c / t.n) * ln(m.c / t.n)), 9) AS h_contrib
FROM m JOIN t ON m.g = t.g ORDER BY source, cat
"""


def q_stats_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information diagram (operators.profile.mutual_info):
    order priority ↔ order status association — the feature/label
    leakage screen (Σ mi_contrib = I(X;Y) in nats; per-cell lift names
    WHICH pair carries the dependence, which a chi-square significance
    alone never says).  One (x, y) cell count aggregate + three window
    exchanges over counters, nothing cross-multiplies counts."""
    from radohydro_spark.operators.profile import mutual_info

    o = _t(spark, sf_dir, "orders")
    return mutual_info(o, "o_orderpriority", "o_orderstatus").orderBy(
        "x_cat", "y_cat"
    )


ORACLE_MUTUAL_INFO = """
WITH base AS (
  SELECT CAST(o_orderpriority AS VARCHAR) AS x,
         CAST(o_orderstatus AS VARCHAR) AS y
  FROM orders
  WHERE o_orderpriority IS NOT NULL AND o_orderstatus IS NOT NULL
),
cells AS (
  SELECT x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY x, y
),
w AS (
  SELECT x, y, c,
         CAST(sum(c) OVER (PARTITION BY x) AS BIGINT) AS nx,
         CAST(sum(c) OVER (PARTITION BY y) AS BIGINT) AS ny,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM cells
)
SELECT x AS x_cat, y AS y_cat, c AS n_xy, nx AS n_x, ny AS n_y,
       round((c / n) / ((nx / n) * (ny / n)), 9) AS lift,
       round((c / n) * ln((c / n) / ((nx / n) * (ny / n))), 9)
         AS mi_contrib
FROM w ORDER BY x_cat, y_cat
"""


def q_dq_psi_quantile_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-decile PSI (operators.profile.psi_quantile_bins):
    extended-price stability across the 1998 ship-date split, binned on
    the OLD snapshot's exact deciles (percentile_disc lower-boundary
    BIGINT law) instead of dq_psi_drift's outlier-stretchable equi-width
    grid — the deployed-model monitoring convention.  Bucket assignment
    is pure comparisons against a 1-row broadcast edge struct (no row
    ever shuffles on a key); the PSI float law is dq_psi_drift's,
    verbatim."""
    from radohydro_spark.operators.profile import psi_quantile_bins

    li = _t(spark, sf_dir, "lineitem")
    split = F.lit("1998-01-01").cast("timestamp")
    return psi_quantile_bins(
        li.filter(F.col("l_shipdate") < split),
        li.filter(F.col("l_shipdate") >= split),
        "l_extendedprice",
        n_bins=10,
    ).orderBy("bucket")


def _psi_qbins_oracle() -> str:
    qs = [100 * i // 10 for i in range(1, 10)]
    edge_sel = ",\n         ".join(
        f"min(CASE WHEN 100 * cum >= {q} * n THEN v END) AS e{q}"
        for q in qs
    )
    bucket = " + ".join(
        f"(CASE WHEN l_extendedprice > e.e{q} THEN 1 ELSE 0 END)"
        for q in qs
    )
    return f"""
WITH vals AS (
  SELECT l_extendedprice AS v FROM lineitem
  WHERE l_extendedprice IS NOT NULL
    AND l_shipdate < TIMESTAMP '1998-01-01'
),
cells AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY v),
cum AS (
  SELECT v,
         CAST(sum(c) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(c) OVER () AS BIGINT) AS n
  FROM cells
),
edges AS (
  SELECT {edge_sel}
  FROM cum
),
ob AS (
  SELECT CAST({bucket} AS BIGINT) AS bucket, COUNT(*) AS n_old
  FROM lineitem l, edges e
  WHERE l_extendedprice IS NOT NULL
    AND l_shipdate < TIMESTAMP '1998-01-01'
  GROUP BY 1
),
nb AS (
  SELECT CAST({bucket} AS BIGINT) AS bucket, COUNT(*) AS n_new
  FROM lineitem l, edges e
  WHERE l_extendedprice IS NOT NULL
    AND l_shipdate >= TIMESTAMP '1998-01-01'
  GROUP BY 1
),
j AS (
  SELECT COALESCE(ob.bucket, nb.bucket) AS bucket,
         COALESCE(n_old, 0) AS n_old, COALESCE(n_new, 0) AS n_new
  FROM ob FULL OUTER JOIN nb ON ob.bucket = nb.bucket
),
t AS (
  SELECT *, SUM(n_old) OVER () AS tot_o, SUM(n_new) OVER () AS tot_n FROM j
)
SELECT bucket, n_old, n_new,
       round(greatest(n_old / tot_o, 1e-6), 9) AS p_old,
       round(greatest(n_new / tot_n, 1e-6), 9) AS p_new,
       round((greatest(n_old / tot_o, 1e-6) - greatest(n_new / tot_n, 1e-6))
             * ln(greatest(n_old / tot_o, 1e-6)
                  / greatest(n_new / tot_n, 1e-6)), 9) AS psi_contrib
FROM t ORDER BY bucket
"""


def q_dq_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit law screen
    (operators.profile.benford_digits): order totals against Benford's
    ``log10(1 + 1/d)`` — the fabrication / unit-mixup diagnostic for a
    money column, with the per-digit chi-square contribution naming the
    deviating digit.  Digit extraction is BIGINT→string (no float log
    in the digit path); share_ppm is the family's exact floored-BIGINT
    division under the named 9e12 assert; one ≤ 9-row aggregate."""
    from radohydro_spark.operators.profile import benford_digits

    o = _t(spark, sf_dir, "orders")
    return benford_digits(o, "o_totalprice").orderBy("digit")


ORACLE_BENFORD = """
WITH base AS (
  SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INT) AS digit
  FROM orders
  WHERE o_totalprice IS NOT NULL AND floor(o_totalprice) >= 1
),
m AS (SELECT digit, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY digit),
t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM m)
SELECT CAST(m.digit AS BIGINT) AS digit, m.c AS n,
       CAST((1000000 * m.c) // t.n AS BIGINT) AS share_ppm,
       round(ln(1.0 + 1.0 / CAST(m.digit AS DOUBLE)) / ln(10.0), 9)
         AS p_benford,
       round(t.n * (((m.c / t.n)
                     - (ln(1.0 + 1.0 / CAST(m.digit AS DOUBLE)) / ln(10.0)))
                    * ((m.c / t.n)
                       - (ln(1.0 + 1.0 / CAST(m.digit AS DOUBLE)) / ln(10.0))))
             / (ln(1.0 + 1.0 / CAST(m.digit AS DOUBLE)) / ln(10.0)), 9)
         AS chi2_contrib
FROM m, t ORDER BY digit
"""


def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth curve (functions.text.vocab_growth):
    distinct-vocabulary and token counts over ten corpus prefixes —
    the collection-planning diagnostic (flattening curve ⇒ new data is
    redundant; feeds the BPE vocab budget directly).  Integer-only
    prefix law (bucket = id·10 div (max+1), token's bucket =
    min(bucket) over occurrences); one token-domain shuffle + counter
    windows."""
    from radohydro_spark.functions.text import vocab_growth

    d = _docs(spark, sf_dir)
    return vocab_growth(d, "text", "doc_id", n_buckets=10).orderBy("bucket")


ORACLE_VOCAB_GROWTH = f"""
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE doc_id IS NOT NULL AND text IS NOT NULL
),
mx AS (SELECT max(doc_id) AS m FROM d),
db AS (
  SELECT CAST((doc_id * 10) // (m + 1) AS BIGINT) AS bucket, text
  FROM d, mx
),
toks AS (
  SELECT bucket, lower(tok) AS tok
  FROM (SELECT bucket, unnest({_SQL_TOKS}) AS tok FROM db)
  WHERE tok <> ''
),
tb AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
  FROM toks GROUP BY bucket
),
vb AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS vocab_new
  FROM (SELECT tok, min(bucket) AS bucket FROM toks GROUP BY tok)
  GROUP BY bucket
),
docs AS (
  SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs FROM db GROUP BY bucket
),
j AS (
  SELECT COALESCE(docs.bucket, tb.bucket, vb.bucket) AS bucket,
         COALESCE(n_docs, 0) AS n_docs,
         COALESCE(n_tokens, 0) AS n_tokens,
         COALESCE(vocab_new, 0) AS vocab_new
  FROM docs
  FULL OUTER JOIN tb ON docs.bucket = tb.bucket
  FULL OUTER JOIN vb ON COALESCE(docs.bucket, tb.bucket) = vb.bucket
)
SELECT bucket, n_docs, n_tokens, vocab_new,
       CAST(sum(n_docs) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS docs_cum,
       CAST(sum(n_tokens) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS tokens_cum,
       CAST(sum(vocab_new) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS vocab_cum
FROM j ORDER BY bucket
"""


def q_events_stream_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window exact top-k
    (streaming.stream_key_counts + top_k_slice): per-DAY event-type
    heavy hitters maintained at ingest time — the bounded-domain exact
    twin of events_stream_count_min (one long per (window, key),
    watermark-evicted by the runtime's own windowed-aggregate state
    store), then the heavy_hitters_by tie law ((cnt DESC, value ASC),
    floored-BIGINT share_ppm) over the drained slices."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import (
        run_available_now,
        stream_key_counts,
        top_k_slice,
    )

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)
    counts = stream_key_counts(
        stream, "ts", "event_type", "1 day", watermark="1 hour"
    )
    name = "stream_topk_" + uuid.uuid4().hex[:8]
    out = run_available_now(
        counts, name, tempfile.mkdtemp(prefix="ck_"), "complete"
    )
    return top_k_slice(out, k=3).select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("day"),
        "rank",
        "value",
        "cnt",
        "share_ppm",
    ).orderBy("day", "rank")


ORACLE_STREAM_TOP_K = """
WITH ev AS (
  SELECT date_trunc('day', ts) AS w, CAST(event_type AS VARCHAR) AS v
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
c AS (SELECT w, v, CAST(count(*) AS BIGINT) AS cnt FROM ev GROUP BY w, v),
r AS (
  SELECT w, v, cnt,
         row_number() OVER (PARTITION BY w ORDER BY cnt DESC, v ASC)
           AS rank,
         CAST(sum(cnt) OVER (PARTITION BY w) AS BIGINT) AS n
  FROM c
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS day, CAST(rank AS BIGINT) AS rank,
       v AS value, cnt,
       CAST((1000000 * cnt) // n AS BIGINT) AS share_ppm
FROM r WHERE rank <= 3 ORDER BY day, rank
"""


def q_stats_ttest_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Welch two-sample t-test (operators.profile.ttest_by):
    did mean extended price move across the 1998 ship-date split, per
    return flag — the parametric A/B screen (one exact-moment pass;
    the Poisson bootstrap is the non-parametric confirmatory leg).
    Exact HUGEINT/decimal(38,0) cent sums over ONE union-tagged group
    exchange; Welch t and Satterthwaite df in doubles with the
    identical expression tree cross-engine."""
    from radohydro_spark.operators.profile import ttest_by

    li = _t(spark, sf_dir, "lineitem")
    split = F.lit("1998-01-01").cast("timestamp")
    return ttest_by(
        li.filter(F.col("l_shipdate") < split),
        li.filter(F.col("l_shipdate") >= split),
        "l_extendedprice",
        ["l_returnflag"],
        scale=100,
    ).orderBy("l_returnflag")


ORACLE_TTEST_BY = """
WITH base AS (
  SELECT l_returnflag AS g,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS q,
         CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END
           AS s
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
    AND l_shipdate IS NOT NULL
),
a AS (
  SELECT g,
         CAST(count(*) FILTER (WHERE s = 0) AS BIGINT) AS n1,
         CAST(count(*) FILTER (WHERE s = 1) AS BIGINT) AS n2,
         CAST(COALESCE(sum(CAST(q AS HUGEINT)) FILTER (WHERE s = 0), 0)
              AS DOUBLE) AS s1,
         CAST(COALESCE(sum(CAST(q AS HUGEINT)) FILTER (WHERE s = 1), 0)
              AS DOUBLE) AS s2,
         CAST(COALESCE(sum(CAST(q AS HUGEINT) * q) FILTER (WHERE s = 0), 0)
              AS DOUBLE) AS sxx1,
         CAST(COALESCE(sum(CAST(q AS HUGEINT) * q) FILTER (WHERE s = 1), 0)
              AS DOUBLE) AS sxx2
  FROM base GROUP BY g
),
b AS (SELECT g, n1, n2, sxx1, sxx2, s1 / n1 AS m1, s2 / n2 AS m2 FROM a),
c AS (
  SELECT *,
         greatest(sxx1 - n1 * m1 * m1, 0.0) / (n1 - 1.0) AS v1,
         greatest(sxx2 - n2 * m2 * m2, 0.0) / (n2 - 1.0) AS v2
  FROM b
),
d AS (SELECT *, v1 / n1 + v2 / n2 AS se2 FROM c)
SELECT g AS l_returnflag, n1 AS n_old, n2 AS n_new,
       CASE WHEN n1 >= 1 THEN round(m1 / 100.0, 9) END AS mean_old,
       CASE WHEN n2 >= 1 THEN round(m2 / 100.0, 9) END AS mean_new,
       CASE WHEN n1 >= 1 AND n2 >= 1
            THEN round((m2 - m1) / 100.0, 9) END AS mean_diff,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND se2 > 0.0
            THEN round((m2 - m1) / sqrt(se2), 9) END AS t_stat,
       CASE WHEN n1 >= 2 AND n2 >= 2 AND se2 > 0.0
            THEN round((se2 * se2)
                       / ((v1 / n1) * (v1 / n1) / (n1 - 1.0)
                          + (v2 / n2) * (v2 / n2) / (n2 - 1.0)), 9)
       END AS welch_df
FROM d ORDER BY l_returnflag
"""


def q_stats_mutual_info_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP mutual-information diagram
    (operators.profile.mutual_info_by): return-flag ↔ ship-year
    association per line status — the segmented leakage screen ("is the
    dependence confined to one slice?").  One (group, x, y) count
    aggregate + three group-partitioned counter windows."""
    from radohydro_spark.operators.profile import mutual_info_by

    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ship_year", F.year("l_shipdate").cast("string")
    )
    return mutual_info_by(
        li, "l_returnflag", "ship_year", ["l_linestatus"]
    ).orderBy("l_linestatus", "x_cat", "y_cat")


ORACLE_MUTUAL_INFO_BY = """
WITH base AS (
  SELECT l_linestatus AS g, CAST(l_returnflag AS VARCHAR) AS x,
         CAST(year(l_shipdate) AS VARCHAR) AS y
  FROM lineitem
  WHERE l_returnflag IS NOT NULL AND l_shipdate IS NOT NULL
    AND l_linestatus IS NOT NULL
),
cells AS (
  SELECT g, x, y, CAST(count(*) AS BIGINT) AS c FROM base GROUP BY g, x, y
),
w AS (
  SELECT g, x, y, c,
         CAST(sum(c) OVER (PARTITION BY g, x) AS BIGINT) AS nx,
         CAST(sum(c) OVER (PARTITION BY g, y) AS BIGINT) AS ny,
         CAST(sum(c) OVER (PARTITION BY g) AS BIGINT) AS n
  FROM cells
)
SELECT g AS l_linestatus, x AS x_cat, y AS y_cat,
       c AS n_xy, nx AS n_x, ny AS n_y,
       round((c / n) / ((nx / n) * (ny / n)), 9) AS lift,
       round((c / n) * ln((c / n) / ((nx / n) * (ny / n))), 9)
         AS mi_contrib
FROM w ORDER BY l_linestatus, x_cat, y_cat
"""


def q_dq_schema_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot profile diff (operators.profile.schema_drift): the
    orders table's column profiles across the 1997 order-date split —
    null-ppm and min/max support movement per column with the
    added/removed/changed/stable status law (distinct counts reported
    but excluded from status: they scale with |rows|).  Two single-agg
    profile scans + a |columns|-row join."""
    from radohydro_spark.operators.profile import schema_drift

    o = _t(spark, sf_dir, "orders")
    split = F.lit("1997-01-01").cast("timestamp")
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]
    return schema_drift(
        o.filter(F.col("o_orderdate") < split),
        o.filter(F.col("o_orderdate") >= split),
        cols,
    ).orderBy("column")


def _schema_drift_oracle() -> str:
    cols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"]

    def side(c: str, op: str) -> str:
        return f"""SELECT '{c}' AS col, count(*) AS n_rows,
       count(CASE WHEN {c} IS NULL THEN 1 END) AS n_nulls,
       count(DISTINCT {c}) AS n_distinct,
       CAST(min({c}) AS VARCHAR) AS min_value,
       CAST(max({c}) AS VARCHAR) AS max_value
FROM orders WHERE o_orderdate {op} TIMESTAMP '1997-01-01'"""

    o_side = " UNION ALL ".join(side(c, "<") for c in cols)
    n_side = " UNION ALL ".join(side(c, ">=") for c in cols)
    return f"""
WITH o AS ({o_side}),
n AS ({n_side}),
j AS (
  SELECT COALESCE(o.col, n.col) AS column,
         o.n_rows AS n_rows_old, n.n_rows AS n_rows_new,
         CASE WHEN o.n_rows > 0
              THEN CAST((1000000 * o.n_nulls) // o.n_rows AS BIGINT)
         END AS null_ppm_old,
         CASE WHEN n.n_rows > 0
              THEN CAST((1000000 * n.n_nulls) // n.n_rows AS BIGINT)
         END AS null_ppm_new,
         o.n_distinct AS n_distinct_old, n.n_distinct AS n_distinct_new,
         o.min_value AS min_old, o.max_value AS max_old,
         n.min_value AS min_new, n.max_value AS max_new
  FROM o FULL OUTER JOIN n ON o.col = n.col
)
SELECT "column",
       CASE WHEN n_rows_old IS NULL THEN 'added'
            WHEN n_rows_new IS NULL THEN 'removed'
            WHEN (null_ppm_old IS DISTINCT FROM null_ppm_new)
              OR (min_old IS DISTINCT FROM min_new)
              OR (max_old IS DISTINCT FROM max_new) THEN 'changed'
            ELSE 'stable' END AS status,
       CAST(n_rows_old AS BIGINT) AS n_rows_old,
       CAST(n_rows_new AS BIGINT) AS n_rows_new,
       null_ppm_old, null_ppm_new,
       CAST(n_distinct_old AS BIGINT) AS n_distinct_old,
       CAST(n_distinct_new AS BIGINT) AS n_distinct_new,
       min_old, max_old, min_new, max_new
FROM j ORDER BY "column"
"""


def q_graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic synchronous label propagation
    (operators.graph.label_propagation): 3 rounds of
    most-frequent-neighbor-label (ties to the smallest label) over the
    deterministic customer hash graph — community detection inside the
    giant component that connected components cannot split.  Fixed
    round count ⇒ the oracle unrolls the identical recursion in SQL."""
    from radohydro_spark.operators.graph import label_propagation

    c = _t(spark, sf_dir, "customer").select("c_custkey")
    nn = c.agg((F.max("c_custkey") + 1).alias("nn"))
    base = c.crossJoin(F.broadcast(nn))
    edges = base.select(
        F.col("c_custkey").alias("src"),
        ((F.col("c_custkey") * 7 + 3) % F.col("nn")).alias("dst"),
    ).unionAll(
        base.select(
            F.col("c_custkey"),
            ((F.col("c_custkey") * 13 + 5) % F.col("nn")),
        )
    )
    return (
        label_propagation(edges, iters=3)
        .select(
            F.col("node").cast("long").alias("node"),
            F.col("label").cast("long").alias("label"),
        )
        .orderBy("node")
    )


def _lpa_oracle(iters: int = 3) -> str:
    parts = [
        """
WITH c AS (SELECT c_custkey FROM customer),
mx AS (SELECT max(c_custkey) + 1 AS nn FROM c),
e0 AS (
  SELECT c_custkey AS a, (c_custkey * 7 + 3) % nn AS b FROM c, mx
  UNION ALL
  SELECT c_custkey, (c_custkey * 13 + 5) % nn FROM c, mx
),
e AS (
  SELECT DISTINCT a, b FROM (
    SELECT a, b FROM e0 UNION ALL SELECT b AS a, a AS b FROM e0)
  WHERE a <> b
),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM e)"""
    ]
    for k in range(1, iters + 1):
        parts.append(
            f""",
v{k} AS (
  SELECT e.b AS node, l{k - 1}.label, count(*) AS c
  FROM e JOIN l{k - 1} ON e.a = l{k - 1}.node GROUP BY 1, 2
),
p{k} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM v{k}) t
  WHERE rn = 1
),
l{k} AS (
  SELECT l{k - 1}.node, COALESCE(p{k}.label, l{k - 1}.label) AS label
  FROM l{k - 1} LEFT JOIN p{k} ON l{k - 1}.node = p{k}.node
)"""
        )
    parts.append(
        f"""
SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
FROM l{iters} ORDER BY node
"""
    )
    return "".join(parts)


def q_events_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of join (operators.asof.asof_join_nearest): each
    purchase gets the CLOSEST same-user click in either direction
    within a 6-hour tolerance — the sensor/price alignment shape
    (pandas merge_asof direction='nearest').  One union + one key
    exchange carrying both window scans; the pick law is exact
    integer microseconds, ties to the prior side."""
    from radohydro_spark.operators.asof import asof_join_nearest

    e = _t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("click_value"))
    )
    out = asof_join_nearest(
        purchases, clicks, keys=["user_id"], ts_col="ts",
        tolerance_s=21600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss").alias("click_ts"),
        F.round("click_value_asof", 4).alias("click_value"),
    )


ORACLE_EVENTS_ASOF_NEAREST = """
WITH purchases AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, ts, max(value) AS click_value
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
b AS (
  SELECT p.event_id, c.ts AS bts, c.click_value AS bval
  FROM purchases p
  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
),
f AS (
  SELECT p.event_id, c.ts AS fts, c.click_value AS fval
  FROM purchases p
  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts <= c.ts
),
j AS (
  SELECT p.event_id, p.user_id, p.ts, b.bts, b.bval, f.fts, f.fval,
         CASE WHEN b.bts IS NOT NULL
              THEN epoch_us(p.ts) - epoch_us(b.bts) END AS db,
         CASE WHEN f.fts IS NOT NULL
              THEN epoch_us(f.fts) - epoch_us(p.ts) END AS df
  FROM purchases p
  JOIN b ON p.event_id = b.event_id
  JOIN f ON p.event_id = f.event_id
),
pick AS (
  SELECT event_id, user_id, ts,
         CASE WHEN db IS NOT NULL AND db <= 21600000000
                   AND (df IS NULL OR df > 21600000000 OR db <= df)
              THEN bts
              WHEN df IS NOT NULL AND df <= 21600000000
              THEN fts
         END AS mts,
         CASE WHEN db IS NOT NULL AND db <= 21600000000
                   AND (df IS NULL OR df > 21600000000 OR db <= df)
              THEN bval
              WHEN df IS NOT NULL AND df <= 21600000000
              THEN fval
         END AS mval
  FROM j
)
SELECT event_id, user_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       strftime(mts, '%Y-%m-%d %H:%M:%S') AS click_ts,
       round(mval, 4) AS click_value
FROM pick
"""


def q_events_stream_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming per-window diversity monitor
    (streaming.stream_key_counts + entropy_slice): per-DAY Shannon
    entropy of the event-type mix maintained at ingest time — the
    evenness leg completing the ingest-time monitoring family
    (frequency / distinct / mix / distribution / top-k / diversity);
    the entropy_profile float law per window over exact drained
    counts."""
    import tempfile
    import uuid

    from radohydro_spark.streaming import (
        entropy_slice,
        run_available_now,
        stream_key_counts,
    )

    raw_schema = _probe_schema(spark, sf_dir, "events")
    stream = (
        spark.readStream.format("parquet")
        .schema(raw_schema)
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    stream = _normalize_ts(stream)
    counts = stream_key_counts(
        stream, "ts", "event_type", "1 day", watermark="1 hour"
    )
    name = "stream_ent_" + uuid.uuid4().hex[:8]
    out = run_available_now(
        counts, name, tempfile.mkdtemp(prefix="ck_"), "complete"
    )
    return entropy_slice(out).select(
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("day"),
        "value",
        "cnt",
        "p",
        "h_contrib",
    ).orderBy("day", "value")


ORACLE_STREAM_ENTROPY = """
WITH ev AS (
  SELECT date_trunc('day', ts) AS w, CAST(event_type AS VARCHAR) AS v
  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
),
c AS (SELECT w, v, CAST(count(*) AS BIGINT) AS cnt FROM ev GROUP BY w, v),
t AS (
  SELECT w, v, cnt, CAST(sum(cnt) OVER (PARTITION BY w) AS BIGINT) AS n
  FROM c
)
SELECT strftime(w, '%Y-%m-%d %H:%M:%S') AS day, v AS value, cnt,
       round(cnt / n, 9) AS p,
       round(-((cnt / n) * ln(cnt / n)), 9) AS h_contrib
FROM t ORDER BY day, value
"""


def q_dq_qq_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-quantile drift table (operators.profile.qq_table):
    where along the extended-price distribution did the 1998 ship-date
    split move mass — the WHERE answer next to dq_ks_drift's WHETHER
    (p1..p99 per side on the percentile_disc BIGINT lower-boundary
    law, both sides cumulated on ONE union-tagged exchange)."""
    from radohydro_spark.operators.profile import qq_table

    li = _t(spark, sf_dir, "lineitem")
    split = F.lit("1998-01-01").cast("timestamp")
    return qq_table(
        li.filter(F.col("l_shipdate") < split),
        li.filter(F.col("l_shipdate") >= split),
        "l_extendedprice",
    ).orderBy("percent")


def _qq_oracle() -> str:
    qs = (1, 5, 10, 25, 50, 75, 90, 95, 99)
    edge_sel = ",\n         ".join(
        f"min(CASE WHEN n1 > 0 AND 100 * cum1 >= {q} * n1 THEN v END)"
        f" AS qo{q},\n         "
        f"min(CASE WHEN n2 > 0 AND 100 * cum2 >= {q} * n2 THEN v END)"
        f" AS qn{q}"
        for q in qs
    )
    rows = "\nUNION ALL ".join(
        f"SELECT CAST({q} AS BIGINT) AS percent, qo{q} AS q_old, "
        f"qn{q} AS q_new, qn{q} - qo{q} AS diff FROM q"
        for q in qs
    )
    return f"""
WITH base AS (
  SELECT l_extendedprice AS v,
         CASE WHEN l_shipdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END
           AS s
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_shipdate IS NOT NULL
),
cells AS (
  SELECT v,
         CAST(count(*) FILTER (WHERE s = 0) AS BIGINT) AS c1,
         CAST(count(*) FILTER (WHERE s = 1) AS BIGINT) AS c2
  FROM base GROUP BY v
),
cum AS (
  SELECT v,
         CAST(sum(c1) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum1,
         CAST(sum(c2) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum2,
         CAST(sum(c1) OVER () AS BIGINT) AS n1,
         CAST(sum(c2) OVER () AS BIGINT) AS n2
  FROM cells
),
q AS (
  SELECT {edge_sel}
  FROM cum
)
{rows}
ORDER BY percent
"""


def q_dq_rare_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-tail health screen (operators.profile.rare_categories):
    leading document words holding under 2% of their language's mass
    — the pre-flight check before stratified sampling / per-category
    heads, and the typo-label detector a top-k view never shows.  One
    count aggregate + one group-totals counter window + the shared
    floored-ppm law."""
    from radohydro_spark.operators.profile import rare_categories

    d = _docs(spark, sf_dir).withColumn(
        "first_word", F.split(F.trim(F.col("text")), r"\s+")[0]
    )
    return rare_categories(
        d, "first_word", ["lang"], max_ppm=20000
    ).orderBy("lang", "cat")


ORACLE_RARE_CATEGORIES = """
WITH base AS (
  SELECT lang AS g,
         CAST(list_extract(string_split_regex(trim(text), '\\s+'), 1)
              AS VARCHAR) AS cat
  FROM documents
  WHERE lang IS NOT NULL
    AND list_extract(string_split_regex(trim(text), '\\s+'), 1)
        IS NOT NULL
),
m AS (
  SELECT g, cat, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY g, cat
),
t AS (SELECT g, CAST(sum(n) AS BIGINT) AS tot FROM m GROUP BY g)
SELECT m.g AS lang, m.cat, m.n,
       CAST((1000000 * m.n) // t.tot AS BIGINT) AS share_ppm
FROM m JOIN t ON m.g = t.g
WHERE (1000000 * m.n) // t.tot < 20000 AND m.n >= 1
ORDER BY lang, cat
"""


def q_dq_tvd_baseline_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted drift-baseline lifecycle
    (operators.profile.save_category_baseline +
    tvd_drift_vs_baseline): the early-orders priority histogram is
    written to a parquet store ONCE, then the late orders compare
    against the STORE without re-reading the reference side — the
    production monitoring shape (reference corpora are archived; only
    the new drop is scanned).  The oracle recomputes BOTH sides raw,
    so a green hash proves the store round-trips the law exactly."""
    import tempfile

    from radohydro_spark.operators.profile import (
        save_category_baseline,
        tvd_drift_vs_baseline,
    )

    o = _t(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="tvd_base_") + "/priority_baseline"
    save_category_baseline(
        o.filter(F.year("o_orderdate") <= 1994), "o_orderpriority", path
    )
    return tvd_drift_vs_baseline(
        o.filter(F.year("o_orderdate") >= 1995), "o_orderpriority", path
    )


def q_dq_psi_baseline_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted NUMERIC drift baseline
    (operators.profile.save_decile_baseline + psi_vs_baseline): the
    pre-1998 extended-price decile edges and bucket counts write to a
    parquet store once; the post-1998 drop compares against the STORE
    with zero reference scans — the deployed-model PSI monitoring
    workflow.  The oracle recomputes both sides raw
    (dq_psi_quantile_bins' transcription), so a green hash proves the
    store round-trips the edge, bucket and PSI laws exactly."""
    import tempfile

    from radohydro_spark.operators.profile import (
        psi_vs_baseline,
        save_decile_baseline,
    )

    li = _t(spark, sf_dir, "lineitem")
    split = F.lit("1998-01-01").cast("timestamp")
    path = tempfile.mkdtemp(prefix="psi_base_") + "/price_baseline"
    save_decile_baseline(
        li.filter(F.col("l_shipdate") < split), "l_extendedprice", path,
        n_bins=10,
    )
    return psi_vs_baseline(
        li.filter(F.col("l_shipdate") >= split), "l_extendedprice", path
    ).orderBy("bucket")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # --- round-16 driver window (positions 0-49) ---
        # r16 first-exposure head, FIFTH wave (this session): the
        # chi-square + Jensen-Shannon categorical drift legs (global +
        # per-group), the per-group exact-moments correlation/OLS
        # screen, the per-group KMV distinct estimate, and the exact
        # per-group heavy hitters.  Each displaces one staged row past
        # position 49 into the r17 lead (see STRICT_SWEEP_r16.md).
        # r16 first-exposure head, SIXTH wave (this session): the
        # single-snapshot diversity screen (per-source entropy), the
        # feature-association MI/lift diagram, the production
        # reference-decile PSI, and the Benford first-digit screen.
        "dq_psi_baseline_persist": q_dq_psi_baseline_persist,
        "dq_tvd_baseline_persist": q_dq_tvd_baseline_persist,
        "dq_qq_table": q_dq_qq_table,
        "dq_rare_categories": q_dq_rare_categories,
        "events_stream_entropy": q_events_stream_entropy,
        "events_asof_nearest": q_events_asof_nearest,
        "stats_ttest_by": q_stats_ttest_by,
        "stats_mutual_info_by": q_stats_mutual_info_by,
        "dq_schema_drift": q_dq_schema_drift,
        "graph_label_propagation": q_graph_label_propagation,
        "text_vocab_growth": q_text_vocab_growth,
        "events_stream_top_k": q_events_stream_top_k,
        "stats_entropy_by": q_stats_entropy_by,
        "stats_mutual_info": q_stats_mutual_info,
        "dq_psi_quantile_bins": q_dq_psi_quantile_bins,
        "dq_benford_digits": q_dq_benford_digits,
        "dq_chi2_drift": q_dq_chi2_drift,
        "dq_chi2_drift_by": q_dq_chi2_drift_by,
        "dq_jsd_drift": q_dq_jsd_drift,
        "dq_jsd_drift_by": q_dq_jsd_drift_by,
        "stats_corr_by": q_stats_corr_by,
        "sketch_kmv_estimate_by": q_sketch_kmv_estimate_by,
        "sketch_heavy_hitters_by": q_sketch_heavy_hitters_by,
        # r16 first-exposure head (VERDICT r15 #2/#5/#6): the per-group
        # suite's completing members — per-segment PSI and per-slice
        # calibration on the broadcast-extent-grid pattern, per-key CUSUM
        # on the group-partitioned window pattern — plus the streaming
        # per-window KMV distinct sketch (state <= windows*k longs,
        # drain bit-identical to the batch kmv_sketch per window).
        "dq_psi_drift_by": q_dq_psi_drift_by,
        "dq_calibration_bins_by": q_dq_calibration_bins_by,
        "dq_cusum_by": q_dq_cusum_by,
        "events_stream_kmv": q_events_stream_kmv,
        # r16 first-exposure (second wave): day-over-day audience
        # overlap composed from the ingest-time KMV slices alone
        # (stream_kmv windows -> kmv_overlap estimators) — displaces
        # pyds_grid_source past position 49 to lead the r17 window.
        "events_stream_kmv_overlap": q_events_stream_kmv_overlap,
        # r16 first-exposure (third wave): the streaming PSI diagram —
        # numeric-distribution drift at ingest time, completing the
        # monitoring family — displaces events_orders_cogroup past
        # position 49 behind pyds_grid_source in the r17 lead.
        "events_stream_psi": q_events_stream_psi,
        # r16 first-exposure (fourth wave): per-group exact discrete
        # quantiles — the p50/p95/p99-per-segment monitoring shape on
        # the family window pattern; displaces events_scd2_pointintime
        # past position 49 into the r17 lead.
        "stats_quantiles_by": q_stats_quantiles_by,
        # Positions 7-9: r16 re-pins — queries whose ENGINE DEFINITION
        # changed this round with value-identical output on valid
        # inputs: auc_by gained the named 0/1-label in-plan assert (r15
        # ADVICE), wasserstein_drift_by's integration guard now
        # short-circuits one-sided groups (r15 ADVICE: a wide-range
        # one-sided group provably contributes zero and must not
        # raise), and mmr_select chooses literal-vs-broadcast per ROUND
        # on the current selected-set size (r15 ADVICE).
        "dq_auc_by_priority": q_dq_auc_by_priority,
        "dq_wasserstein_by_priority": q_dq_wasserstein_by_priority,
        "sample_mmr_select": q_sample_mmr_select,
        # Positions 10-11: second-wave r16 re-pins — the r16 review
        # moved the 0/1-label contract onto the RAW column in ONE
        # shared helper (a fractional label like 0.9 truncated past
        # the post-cast check), changing the engine definition of the
        # global AUC and calibration queries with value-identical
        # output on valid labels.
        "dq_auc_returns": q_dq_auc_returns,
        "dq_calibration_bins": q_dq_calibration_bins,
        # Positions 12-14: the r10-tail rows displaced past position 49
        # by the r15 second-wave first-exposure operators — staged to
        # lead this window by STRICT_SWEEP_r15 (stalest evidence).
        "media_decode_wav": q_media_decode_wav,
        "similarity_pq_adc_topk": q_pq_adc_topk,
        "sample_stratified_cap": q_sample_stratified_cap,
        # Positions 15-27: the rest of the r10 cohort (from
        # text_normalize_clean) — the stalest remaining driver evidence,
        # staged by STRICT_SWEEP_r15.
        # -- last driver-green: r10/r11 (the cohort remainder) --
        "text_normalize_clean": q_text_normalize,
        "events_pagerank": q_events_pagerank,
        "precip_gap_fill": q_precip_gap_fill,
        "storage_schema_evolution": q_storage_schema_evolution,
        "events_incremental_rollup": q_events_incremental_rollup,
        "events_variant_extract": q_events_variant_extract,
        "precip_nearest_basin": q_precip_nearest_basin,
        "dq_orders_constraints": q_dq_orders_constraints,
        "sample_weighted_docs": q_sample_weighted_docs,
        "precip_basin_timeseries": q_precip_timeseries,
        "precip_weights": q_precip_weights,
        "precip_daily_resample": q_precip_daily,
        "precip_rasterize": q_precip_rasterize,
        # Positions 28-49: the r11 cohort head (last driver-green r11).
        # -- last driver-green: r11 --
        "dedup_jaccard_prefix_zipf": q_dedup_jaccard_prefix_zipf,
        "dedup_overlap_pairs": q_dedup_overlap_pairs,
        "dedup_lsh_index_update": q_dedup_lsh_index_update,
        "text_bm25_topk": q_text_bm25_topk,
        "stats_label_centroids": q_stats_label_centroids,
        "corpus_mixture_plan": q_corpus_mixture_plan,
        "precip_radolan_scale": q_precip_radolan_scale,
        "tpch_q1_pricing": _sql(SQL_Q1, ["lineitem"]),
        "tpch_q3_top_orders": _sql(SQL_Q3, ["customer", "orders", "lineitem"]),
        "tpch_q5_regional_revenue": _sql( SQL_Q5, ["region", "nation", "customer", "orders", "lineitem", "supplier"] ),
        "tpch_q4_priority_late_ship": _sql(SQL_Q4, ["orders", "lineitem"]),
        "tpch_q6_forecast_revenue": _sql(SQL_Q6, ["lineitem"]),
        "tpch_q7_volume_shipping": _sql( SQL_Q7, ["supplier", "lineitem", "orders", "customer", "nation"] ),
        "tpch_q8_market_share": _sql( SQL_Q8, ["part", "lineitem", "supplier", "orders", "customer", "nation", "region"], ),
        "tpch_q9_product_profit": _sql( SQL_Q9, ["part", "lineitem", "supplier", "orders", "nation"] ),
        "tpch_q10_returned_items": _sql( SQL_Q10, ["customer", "orders", "lineitem", "nation"] ),
        "tpch_q11_part_value": _sql(SQL_Q11, ["lineitem", "supplier", "nation"]),
        "tpch_q12_late_lines_by_priority": _sql(SQL_Q12, ["orders", "lineitem"]),
        "tpch_q13_customer_distribution": _sql(SQL_Q13, ["customer", "orders"]),
        "tpch_q14_promo_effect": _sql(SQL_Q14, ["lineitem", "part"]),
        "orders_snapshot_diff": q_orders_snapshot_diff,
        "text_html_extract": q_text_html_extract,
        "events_scd2_pointintime": q_events_scd2_pointintime,
        "similarity_ann_multiprobe": q_ann_lsh_multiprobe,
        "text_unigram_logprob": q_text_unigram_logprob,
        "events_orders_cogroup": q_events_orders_cogroup,
        "pyds_grid_source": q_pyds_grid_source,
        # --- end of round-16 driver window (position 49 =
        # tpch_q9_product_profit after the fifth-wave head; displaced
        # past it and LEADING the r17 window, in order: tpch_q10-q14,
        # orders_snapshot_diff, text_html_extract,
        # events_scd2_pointintime, similarity_ann_multiprobe,
        # text_unigram_logprob, events_orders_cogroup,
        # pyds_grid_source) ---
        # Remainder ordered by ascending driver-evidence age so the
        # round-17 rotation is already front-loaded: the rest of the
        # r11 cohort (from pyds_grid_stream), then the r12 cohort, the
        # r13 cohort, the r14 window, and the displaced r15 window
        # (freshest evidence) at the very end.
        # -- last driver-green: r11 (the cohort remainder) --
        "pyds_grid_stream": q_pyds_grid_stream,
        "join_lateral_topn": _sql(SQL_LATERAL_TOPN, ["customer"]),
        "precip_api_index": q_precip_api_index,
        "tpch_q15_top_supplier": _sql(SQL_Q15, ["lineitem", "supplier"]),
        "tpch_q16_supplier_cnt": _sql(SQL_Q16, ["part", "lineitem"]),
        "tpch_q17_small_qty_revenue": _sql(SQL_Q17, ["lineitem", "part"]),
        "tpch_q18_large_orders": _sql(SQL_LARGE_ORDERS, ["orders", "lineitem"]),
        "tpch_q19_disjunctive_revenue": _sql(SQL_Q19, ["lineitem", "part"]),
        "tpch_q20_volume_suppliers": _sql( SQL_Q20, ["supplier", "nation", "lineitem", "part"] ),
        "tpch_q21_waiting_supplier": _sql(SQL_Q21, ["supplier", "lineitem", "orders"]),
        "tpch_q22_dormant_customers": _sql(SQL_Q22, ["customer", "orders"]),
        "window_top_customers": _sql(SQL_WINDOW_TOP, ["customer"]),
        "window_running_total": _sql(SQL_RUNNING, ["orders"]),
        "join_semi_customers": _sql(SQL_SEMI, ["customer", "orders"]),
        "join_anti_customers": _sql(SQL_ANTI, ["customer", "orders"]),
        "set_ops_brands": _sql(SQL_SETOPS, ["part"]),
        "rollup_revenue": _sql(SQL_ROLLUP, ["lineitem"]),
        "subquery_scalar": _sql(SQL_SCALAR_SUBQ, ["customer"]),
        "subquery_exists_correlated": _sql(SQL_EXISTS_CORRELATED, ["orders", "lineitem"]),
        "join_outer_nations": _sql(SQL_OUTER_JOIN, ["nation", "customer"]),
        # -- last driver-green: r12 (the round-12 window; see r15 dict
        # history for composition notes) --
        "dedup_overlap_pairs_zipf": q_dedup_overlap_pairs_zipf,
        "dedup_sorted_neighborhood": q_dedup_sorted_neighborhood,
        "text_winnow_fingerprints": q_text_winnow_fingerprints,
        "dedup_winnow_pairs": q_dedup_winnow_pairs,
        "sample_dsir_weights": q_sample_dsir_weights,
        "sample_stratified_bottom_k": q_sample_stratified_bottom_k,
        "text_contamination_coverage": q_text_contamination_coverage,
        "similarity_ivfpq_topk": q_similarity_ivfpq_topk,
        "similarity_ivfpq_index_persist": q_similarity_ivfpq_index_persist,
        "text_bpe_train": q_text_bpe_train,
        "spatial_overlay_general": q_spatial_overlay_general,
        "text_pmi_collocations": q_text_pmi_collocations,
        "text_pack_sequences": q_text_pack_sequences,
        "grouping_sets_pricing": _sql(SQL_GROUPING_SETS, ["lineitem"]),
        "cube_order_status": _sql(SQL_CUBE, ["orders"]),
        "window_ntile_quartiles": _sql(SQL_NTILE, ["customer"]),
        "listagg_top_customers": q_listagg_top_customers,
        "events_retention_cohorts": _sql(SQL_RETENTION, ["events"]),
        "events_funnel_ordered": _sql(SQL_FUNNEL, ["events"]),
        "distinct_agg_segments": _sql(SQL_DISTINCT_AGG, ["customer"]),
        "scalar_funcs": q_scalar_funcs,
        "date_sequence": q_date_sequence,
        "filename_parse": q_filename_parse,
        "media_decode_jpeg": q_media_decode_jpeg,
        "media_decode_png": q_media_decode_png,
        "orders_cdc_apply": q_orders_cdc_apply,
        "events_concurrency_sweep": q_events_concurrency_sweep,
        "embedding_random_projection": q_embedding_random_projection,
        "stats_histogram_orders": q_stats_histogram_orders,
        "udtf_word_chunks": q_udtf_word_chunks,
        "events_stream_static_join": q_events_stream_static_join,
        "similarity_recall_eval": q_similarity_recall_eval,
        "storage_file_skipping": q_storage_file_skipping,
        "corpus_jsonl_badlines": q_corpus_jsonl_badlines,
        "pyds_shard_sink": q_pyds_shard_sink,
        "text_url_parse": q_text_url_parse,
        "media_video_mjpeg": q_media_video_mjpeg,
        "dq_psi_drift": q_dq_psi_drift,
        "dq_zscore_outliers": q_dq_zscore_outliers,
        "graph_triangle_count": q_graph_triangle_count,
        "events_markov_transitions": q_events_markov_transitions,
        "stats_correlation": q_stats_correlation,
        "media_resize_real": q_media_resize_real,
        "join_fuzzy_blocked": q_join_fuzzy_blocked,
        "orders_stream_upsert": q_orders_stream_upsert,
        "text_bigram_logprob": q_text_bigram_logprob,
        "media_decode_jpeg_color": q_media_decode_jpeg_color,
        "media_decode_gif": q_media_decode_gif,
        # -- last driver-green: r13 (the round-13 window) --
        "dedup_paragraphs": q_dedup_paragraphs,
        "text_bpe_encode": q_text_bpe_encode,
        "text_perplexity_buckets": q_text_perplexity_buckets,
        "sample_cluster_balanced": q_sample_cluster_balanced,
        "search_rrf_fusion": q_search_rrf_fusion,
        "orders_rfm_segments": q_orders_rfm_segments,
        "stats_skyline_2d": q_stats_skyline_2d,
        "similarity_cosine_topk": q_cosine_topk,
        "embedding_norm_stats": q_embedding_norms,
        "stats_groupwise_ols": q_stats_groupwise_ols,
        "graph_bfs_hops": q_graph_bfs_hops,
        "events_top_paths": q_events_top_paths,
        "corpus_zip_roundtrip": q_corpus_zip_roundtrip,
        "geo_geohash_bins": q_geo_geohash_bins,
        "geo_haversine_nearest": q_geo_haversine_nearest,
        "window_percent_rank": _sql(SQL_PERCENT_RANK, ["customer"]),
        "window_nth_value": _sql(SQL_NTH_VALUE, ["orders"]),
        "scalar_null_semantics": _sql(SQL_NULL_SEMANTICS, ["orders"]),
        "events_interval_overlap": q_events_interval_overlap,
        "storage_time_travel": q_storage_time_travel,
        "events_hourly": _sql(SQL_EVENTS_HOURLY, ["events"]),
        "precip_fragments": q_precip_fragments,
        "precip_cellgrid": q_precip_cellgrid,
        "precip_cellgrid_roundtrip": q_precip_cellgrid_roundtrip,
        "crs_radolan_project": q_crs_radolan,
        "precip_ascii_decode_pipeline": q_precip_ascii_decode,
        "tpch_q2_min_cost_supplier": _sql( SQL_Q2, ["lineitem", "part", "supplier", "nation", "region"] ),
        "precip_regnie_scale": q_precip_regnie_scale,
        "orders_market_basket": q_orders_market_basket,
        "storage_table_changes": q_storage_table_changes,
        "dq_mad_outliers": q_dq_mad_outliers,
        "corpus_quality_mixture": q_corpus_quality_mixture,
        "window_range_frame": _sql(SQL_RANGE_FRAME, ["orders"]),
        "join_bloom_prefilter": q_join_bloom_prefilter,
        "dedup_semantic": q_dedup_semantic,
        "text_bpe_first_merges": q_text_bpe_first_merges,
        "embedding_feature_scaling": q_embedding_feature_scaling,
        "similarity_index_persist": q_similarity_index_persist,
        "events_order_attribution": q_events_order_attribution,
        "events_conversion_label": q_events_conversion_label,
        "corpus_xml_roundtrip": q_corpus_xml_roundtrip,
        "set_ops_all": _sql(SQL_SETOPS_ALL, ["lineitem"]),
        "text_inverted_index": q_text_inverted_index,
        "corpus_curation_pipeline": q_corpus_curation,
        "dedup_canonical_docs": q_dedup_canonical,
        "dedup_embedding_cosine": q_embedding_near_dups,
        "dedup_exact_groups": q_exact_dups,
        # -- last driver-green: r14 (the displaced r14 window) --
        "text_bpe_train_batched": q_text_bpe_train_batched,
        "sketch_count_min": q_sketch_count_min,
        "dq_tvd_drift": q_dq_tvd_drift,
        "sketch_bloom_filter": q_sketch_bloom_filter,
        "sketch_kmv_overlap": q_sketch_kmv_overlap,
        "stats_bootstrap_ci": q_stats_bootstrap_ci,
        "events_stream_tvd_monitor": q_events_stream_tvd_monitor,
        "dq_wasserstein_drift": q_dq_wasserstein_drift,
        "stats_gini_revenue": q_stats_gini_revenue,
        "stats_bootstrap_ci_by": q_stats_bootstrap_ci_by,
        "dq_cusum_changepoint": q_dq_cusum_changepoint,
        "dq_ks_drift": q_dq_ks_drift,
        "corpus_temperature_mixture": q_corpus_temperature_mixture,
        "dedup_groups_cc": q_dedup_groups_cc,
        "dedup_minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_ngram_jaccard": q_ngram_jaccard,
        "dedup_simhash": q_simhash,
        "dedup_simhash_hamming_pairs": q_simhash_hamming,
        "events_case_pivot": _sql(SQL_CASE_PIVOT, ["events"]),
        "events_hopping_window": q_events_hopping_window,
        "events_partitioned_archive": q_events_partitioned_archive,
        "events_rate_spikes": q_events_rate_spikes,
        "events_scd2_type_history": q_events_scd2,
        "events_stream_dedup": q_events_stream_dedup,
        "events_stream_sessionize": q_events_stream_sessionize,
        "events_stream_state_totals": q_events_stream_state_totals,
        "events_stream_stream_join": q_events_stream_stream_join,
        "media_ahash": q_media_ahash,
        "media_byte_histogram": q_byte_histogram,
        "media_decode_fake": q_media_decode,
        "media_frame_sample": q_media_frames,
        "media_resize_fake": q_media_resize,
        "obs_zorder_archive": q_obs_zorder_archive,
        "orders_merge_upsert": q_orders_merge_upsert,
        "orders_range_join": q_orders_range_join,
        "orders_unpivot_roundtrip": q_orders_unpivot_roundtrip,
        "precip_geotiff_decode_pipeline": q_precip_geotiff_decode,
        "precip_regnie_decode_pipeline": q_precip_regnie_decode,
        "profile_orders_columns": q_profile_orders,
        "sample_split_assign": q_sample_split,
        "similarity_ann_lsh_topk": q_ann_lsh_topk,
        "similarity_ivf_topk": q_ivf_topk,
        "skew_salted_revenue": q_skew_salted_revenue,
        "stats_approx_sketches": q_approx_sketches,
        "stats_trimmed_mean": q_stats_trimmed_mean,
        "text_contamination_check": q_text_contamination,
        "text_fingerprint": q_fingerprint,
        # -- last driver-green: r15 (the displaced r15 window: the six
        # r15 first-exposure operators, the orders_ewma_daily /
        # dq_calibration_bins re-pins — dq_auc_by_priority,
        # dq_wasserstein_by_priority and sample_mmr_select re-pinned
        # into the r16 head after their r16 engine changes — and the
        # r9/r10 rows it re-greened; the freshest evidence in the
        # ledger) --
        "dq_tvd_drift_by": q_dq_tvd_drift_by,
        "dq_ks_drift_by": q_dq_ks_drift_by,
        "events_stream_count_min": q_events_stream_count_min,
        "stats_gini_by_segment": q_stats_gini_by_segment,
        "orders_ewma_daily": q_orders_ewma_daily,
        "text_lang_id": q_lang_id,
        "text_quality_filter": q_text_quality_filter,
        "text_redact_pii": q_redact_pii,
        "text_repetition_stats": q_text_repetition,
        "text_sentence_chunks": q_text_sentence_chunks,
        "text_stats": q_text_stats,
        "text_tfidf_top_terms": q_text_tfidf,
        "text_token_budget": q_token_budget,
        "sample_group_kfold": q_sample_group_kfold,
        "dedup_lsh_index_persist": q_dedup_lsh_index_persist,
        "text_ngram_containment": q_text_ngram_containment,
        "stats_pca_top_component": q_stats_pca_top_component,
        "window_distinct_running": q_window_distinct_running,
        "text_tfidf_cosine_pairs": q_text_tfidf_cosine,
        "events_interval_coalesce": q_events_interval_coalesce,
        "stats_weighted_median": q_stats_weighted_median,
        "stats_heavy_hitters": q_stats_heavy_hitters,
        "text_duplicate_spans": q_text_duplicate_spans,
        "graph_kcore": q_graph_kcore,
        "dedup_jaccard_prefix": q_dedup_jaccard_prefix,
        "events_funnel": q_events_funnel,
        "events_retention": q_events_retention,
        "sample_bottom_k": q_sample_bottom_k,
        "dq_table_fingerprint": q_dq_table_fingerprint,
        "stats_quantiles_distributed": q_stats_quantiles_distributed,
        "sample_max_coverage": q_sample_max_coverage,
        "events_twap": q_events_twap,
        "events_sessionize": q_events_sessions,
        "events_stream_hourly": q_events_stream_hourly,
        "events_asof_join": q_events_asof,
        "events_props_extract": q_events_props,
        "events_json_extract": q_events_json_extract,
        "window_lead_lag": _sql(SQL_LEAD_LAG, ["orders"]),
        "stats_percentiles": _sql(SQL_PERCENTILES, ["lineitem"]),
        "dedup_minhash_signatures": q_minhash_sigs,
        "embedding_quantize_int8": q_embedding_quantize,
        "orders_pivot_native": q_orders_pivot_native,
        "precip_csv_roundtrip": q_precip_csv_roundtrip,
        "media_decode_bmp": q_media_decode_bmp,
        "precip_wide_roundtrip": q_precip_wide_roundtrip,
        "storage_orc_roundtrip": q_storage_orc_roundtrip,
    }


def _radolan_scale_oracle() -> str:
    from radohydro_spark.sources.synthetic import (
        RADOLAN_SCALE,
        radolan_scale_rects,
    )

    return oracle_pipeline_sql(RADOLAN_SCALE, rects=radolan_scale_rects(RADOLAN_SCALE))


def oracle_sql() -> dict[str, str]:
    return {
        # r16 sixth-wave first-exposure operators
        "dq_psi_baseline_persist": _psi_qbins_oracle(),
        "dq_tvd_baseline_persist": ORACLE_TVD_DRIFT,
        "dq_qq_table": _qq_oracle(),
        "dq_rare_categories": ORACLE_RARE_CATEGORIES,
        "events_stream_entropy": ORACLE_STREAM_ENTROPY,
        "events_asof_nearest": ORACLE_EVENTS_ASOF_NEAREST,
        "stats_ttest_by": ORACLE_TTEST_BY,
        "stats_mutual_info_by": ORACLE_MUTUAL_INFO_BY,
        "dq_schema_drift": _schema_drift_oracle(),
        "graph_label_propagation": _lpa_oracle(3),
        "text_vocab_growth": ORACLE_VOCAB_GROWTH,
        "events_stream_top_k": ORACLE_STREAM_TOP_K,
        "stats_entropy_by": ORACLE_ENTROPY_BY,
        "stats_mutual_info": ORACLE_MUTUAL_INFO,
        "dq_psi_quantile_bins": _psi_qbins_oracle(),
        "dq_benford_digits": ORACLE_BENFORD,
        # r13 first-exposure operators
        "dedup_paragraphs": ORACLE_DEDUP_PARAGRAPHS,
        "text_bpe_encode": ORACLE_TEXT_BPE_ENCODE,
        "text_perplexity_buckets": ORACLE_PPL_BUCKETS,
        "sample_cluster_balanced": ORACLE_CLUSTER_BALANCED,
        "corpus_temperature_mixture": ORACLE_TEMPERATURE_MIXTURE,
        "dq_ks_drift": ORACLE_KS_DRIFT,
        "dq_auc_returns": ORACLE_AUC_RETURNS,
        "sketch_count_min": _cms_oracle(),
        "dq_tvd_drift": ORACLE_TVD_DRIFT,
        "dq_tvd_drift_by": ORACLE_TVD_DRIFT_BY,
        "dq_ks_drift_by": ORACLE_KS_DRIFT_BY,
        "sketch_bloom_filter": _bloom_oracle(),
        "sketch_kmv_overlap": _kmv_oracle(),
        "stats_bootstrap_ci": _bootstrap_oracle(),
        "events_stream_tvd_monitor": ORACLE_STREAM_TVD,
        "events_stream_count_min": _stream_cms_oracle(),
        "orders_ewma_daily": _ewma_oracle(),
        "dq_wasserstein_drift": ORACLE_W1_DRIFT,
        "stats_gini_revenue": ORACLE_GINI,
        "stats_gini_by_segment": ORACLE_GINI_BY,
        "dq_auc_by_priority": ORACLE_AUC_BY,
        "dq_wasserstein_by_priority": ORACLE_W1_BY,
        "stats_bootstrap_ci_by": _bootstrap_by_oracle(),
        "dq_calibration_bins": ORACLE_CALIBRATION,
        "dq_cusum_changepoint": ORACLE_CUSUM,
        # r16 per-group/streaming additions
        "dq_psi_drift_by": ORACLE_PSI_DRIFT_BY,
        "dq_calibration_bins_by": ORACLE_CALIBRATION_BY,
        "dq_cusum_by": ORACLE_CUSUM_BY,
        "events_stream_kmv": _stream_kmv_oracle(),
        "events_stream_kmv_overlap": _stream_kmv_overlap_oracle(),
        "events_stream_psi": ORACLE_STREAM_PSI,
        "stats_quantiles_by": ORACLE_QUANTILES_BY,
        # r16 fifth-wave additions (this session)
        "dq_chi2_drift": ORACLE_CHI2_DRIFT,
        "dq_chi2_drift_by": ORACLE_CHI2_DRIFT_BY,
        "dq_jsd_drift": ORACLE_JSD_DRIFT,
        "dq_jsd_drift_by": ORACLE_JSD_DRIFT_BY,
        "stats_corr_by": ORACLE_CORR_BY,
        "sketch_kmv_estimate_by": ORACLE_KMV_ESTIMATE_BY,
        "sketch_heavy_hitters_by": ORACLE_HEAVY_HITTERS_BY,
        "precip_basin_timeseries": oracle_pipeline_sql(GRID),
        "precip_fragments": oracle_fragments_sql(GRID),
        # the general polygon-overlay kernel must reproduce the
        # specialized rect path exactly on the reference's own shape
        "spatial_overlay_general": oracle_fragments_sql(GRID),
        "precip_weights": oracle_weights_sql(GRID),
        "precip_cellgrid": oracle_cellgrid_sql(GRID),
        "precip_daily_resample": oracle_daily_sql(GRID),
        "precip_rasterize": oracle_rasterize_sql(GRID),
        # full 900x900x24 pipeline: same closed-form CTEs at true RADOLAN
        # scale (19.4M obs rows generated inside DuckDB, ~6s)
        "precip_radolan_scale": _radolan_scale_oracle(),
        # full REGNIE month through the real decode path: same closed-form
        # CTEs at 971x611x31 (18.4M obs rows inside DuckDB)
        "precip_regnie_scale": _regnie_scale_oracle(),
        "orders_market_basket": ORACLE_MARKET_BASKET,
        "storage_table_changes": ORACLE_TABLE_CHANGES,
        "dq_mad_outliers": ORACLE_MAD_OUTLIERS,
        "corpus_quality_mixture": ORACLE_QUALITY_MIXTURE,
        "window_range_frame": SQL_RANGE_FRAME,
        "join_bloom_prefilter": ORACLE_BLOOM_PREFILTER,
        "dedup_semantic": ORACLE_DEDUP_SEMANTIC,
        "text_bpe_first_merges": ORACLE_BPE_FIRST_MERGES,
        "embedding_feature_scaling": ORACLE_FEATURE_SCALING,
        # identical params/centroids as similarity_ivf_topk: the persisted
        # round-trip must reproduce the in-memory result exactly
        "similarity_index_persist": ORACLE_IVF_TOPK,
        "events_order_attribution": ORACLE_ORDER_ATTRIBUTION,
        "set_ops_all": SQL_SETOPS_ALL,
        "events_conversion_label": ORACLE_CONVERSION_LABEL,
        "corpus_xml_roundtrip": ORACLE_XML_ROUNDTRIP,
        "sample_group_kfold": ORACLE_GROUP_KFOLD,
        # the persisted round-trip must reproduce the in-memory banding
        # exactly — same oracle as dedup_minhash_lsh_pairs
        "dedup_lsh_index_persist": ORACLE_MINHASH_LSH,
        "dedup_lsh_index_update": ORACLE_MINHASH_LSH,
        "dedup_overlap_pairs": ORACLE_OVERLAP_PAIRS,
        "dedup_overlap_pairs_zipf": ORACLE_OVERLAP_PAIRS_ZIPF,
        "sample_mmr_select": ORACLE_MMR_SELECT,
        "text_bm25_topk": ORACLE_BM25_TOPK,
        "search_rrf_fusion": ORACLE_RRF_FUSION,
        "stats_label_centroids": ORACLE_LABEL_CENTROIDS,
        "corpus_mixture_plan": ORACLE_MIXTURE_PLAN,
        "dedup_sorted_neighborhood": ORACLE_SORTED_NEIGHBORHOOD,
        "text_winnow_fingerprints": ORACLE_WINNOW_FINGERPRINTS,
        "dedup_winnow_pairs": ORACLE_WINNOW_PAIRS,
        "sample_dsir_weights": ORACLE_DSIR_WEIGHTS,
        "sample_stratified_bottom_k": ORACLE_STRATIFIED_BOTTOM_K,
        "similarity_ivfpq_topk": ORACLE_IVFPQ_TOPK,
        # the persisted round-trip must reproduce the in-memory composite
        # exactly — same oracle as similarity_ivfpq_topk
        "similarity_ivfpq_index_persist": ORACLE_IVFPQ_TOPK,
        "text_bpe_train": _bpe_train_oracle(6),
        "text_bpe_train_batched": _bpe_train_batched_oracle(12, 4, 4),
        "text_pmi_collocations": ORACLE_PMI_COLLOCATIONS,
        "text_contamination_coverage": ORACLE_CONTAMINATION_COVERAGE,
        "text_ngram_containment": ORACLE_NGRAM_CONTAINMENT,
        "stats_pca_top_component": _pca_oracle(),
        "window_distinct_running": ORACLE_WINDOW_DISTINCT_RUNNING,
        "text_tfidf_cosine_pairs": ORACLE_TFIDF_COSINE,
        "events_interval_coalesce": ORACLE_INTERVAL_COALESCE,
        "stats_weighted_median": ORACLE_WEIGHTED_MEDIAN,
        "stats_heavy_hitters": ORACLE_HEAVY_HITTERS,
        "text_duplicate_spans": ORACLE_DUPLICATE_SPANS,
        "graph_kcore": ORACLE_KCORE,
        # same oracle as dedup_ngram_jaccard ON PURPOSE: two independent
        # algorithms (naive self-join vs prefix filter) pinned to one
        # ground truth
        "dedup_jaccard_prefix": ORACLE_NGRAM_JACCARD,
        "dedup_jaccard_prefix_zipf": ORACLE_JACCARD_PREFIX_ZIPF,
        "events_funnel": ORACLE_FUNNEL,
        "events_retention": ORACLE_RETENTION,
        "sample_bottom_k": ORACLE_BOTTOM_K,
        "dq_table_fingerprint": ORACLE_TABLE_FINGERPRINT,
        "stats_quantiles_distributed": ORACLE_QUANTILES_DISTRIBUTED,
        "sample_max_coverage": ORACLE_MAX_COVERAGE,
        "events_twap": ORACLE_TWAP,
        # decode-path queries reproduce the synthetic closed form through
        # the REAL decoders, so the grid oracles apply unchanged
        "precip_ascii_decode_pipeline": oracle_pipeline_sql(GRID),
        "precip_regnie_decode_pipeline": _regnie_decode_oracle(),
        "precip_geotiff_decode_pipeline": oracle_pipeline_sql(GRID),
        "precip_csv_roundtrip": _csv_roundtrip_oracle(),
        "media_decode_bmp": ORACLE_MEDIA_DECODE_BMP,
        "media_decode_jpeg": ORACLE_MEDIA_DECODE_JPEG,
        "media_decode_png": ORACLE_MEDIA_DECODE_PNG,
        "media_video_mjpeg": ORACLE_MEDIA_VIDEO_MJPEG,
        "dq_psi_drift": ORACLE_PSI_DRIFT,
        "dq_zscore_outliers": ORACLE_ZSCORE_OUTLIERS,
        "graph_triangle_count": ORACLE_TRIANGLE_COUNT,
        "events_markov_transitions": ORACLE_MARKOV_TRANSITIONS,
        "stats_correlation": ORACLE_CORRELATION,
        "text_inverted_index": ORACLE_INVERTED_INDEX,
        "media_resize_real": ORACLE_MEDIA_RESIZE_REAL,
        "join_fuzzy_blocked": ORACLE_FUZZY_BLOCKED,
        "orders_rfm_segments": ORACLE_RFM_SEGMENTS,
        "stats_skyline_2d": ORACLE_SKYLINE_2D,
        "orders_stream_upsert": ORACLE_STREAM_UPSERT,
        "text_bigram_logprob": ORACLE_BIGRAM_LOGPROB,
        "media_decode_jpeg_color": ORACLE_MEDIA_DECODE_JPEG_COLOR,
        "media_decode_gif": ORACLE_MEDIA_DECODE_GIF,
        "stats_groupwise_ols": ORACLE_GROUPWISE_OLS,
        "graph_bfs_hops": ORACLE_BFS_HOPS,
        "events_top_paths": ORACLE_TOP_PATHS,
        "corpus_zip_roundtrip": ORACLE_ZIP_ROUNDTRIP,
        "geo_geohash_bins": _geohash_bins_oracle(),
        "geo_haversine_nearest": _haversine_nearest_oracle(),
        "window_percent_rank": SQL_PERCENT_RANK,
        "window_nth_value": SQL_NTH_VALUE,
        "scalar_null_semantics": SQL_NULL_SEMANTICS,
        "events_interval_overlap": ORACLE_INTERVAL_OVERLAP,
        "storage_time_travel": ORACLE_TIME_TRAVEL,
        "orders_cdc_apply": ORACLE_CDC_APPLY,
        "events_concurrency_sweep": ORACLE_CONCURRENCY_SWEEP,
        "embedding_random_projection": ORACLE_RANDOM_PROJECTION,
        "stats_histogram_orders": ORACLE_HISTOGRAM_ORDERS,
        "text_url_parse": ORACLE_URL_PARSE,
        "udtf_word_chunks": ORACLE_UDTF_WORD_CHUNKS,
        "events_stream_static_join": ORACLE_STREAM_STATIC_JOIN,
        "similarity_recall_eval": _recall_eval_oracle(),
        "storage_file_skipping": ORACLE_FILE_SKIPPING,
        "precip_wide_roundtrip": _wide_roundtrip_oracle(),
        "precip_cellgrid_roundtrip": oracle_cellgrid_sql(GRID),
        "storage_orc_roundtrip": ORACLE_ORC_ROUNDTRIP,
        "media_decode_wav": ORACLE_MEDIA_DECODE_WAV,
        "similarity_pq_adc_topk": ORACLE_PQ_ADC_TOPK,
        "sample_stratified_cap": ORACLE_STRATIFIED_CAP,
        "text_normalize_clean": ORACLE_TEXT_NORMALIZE,
        "events_pagerank": _pagerank_oracle(),
        "precip_gap_fill": _gap_fill_oracle(),
        "storage_schema_evolution": ORACLE_SCHEMA_EVOLUTION,
        "events_incremental_rollup": ORACLE_INCREMENTAL_ROLLUP,
        "events_variant_extract": ORACLE_EVENTS_VARIANT,
        "precip_nearest_basin": _nearest_basin_oracle(),
        "dq_orders_constraints": ORACLE_DQ_CONSTRAINTS,
        "orders_snapshot_diff": ORACLE_SNAPSHOT_DIFF,
        "sample_weighted_docs": ORACLE_WEIGHTED_SAMPLE,
        "text_html_extract": ORACLE_HTML_EXTRACT,
        "events_scd2_pointintime": ORACLE_SCD2_POINTINTIME,
        "similarity_ann_multiprobe": _ann_multiprobe_oracle(),
        "text_unigram_logprob": ORACLE_UNIGRAM_LOGPROB,
        "corpus_jsonl_badlines": ORACLE_JSONL_BADLINES,
        "events_orders_cogroup": ORACLE_EVENTS_ORDERS_COGROUP,
        "pyds_grid_source": _pyds_grid_oracle(),
        "pyds_grid_stream": _pyds_grid_oracle(),
        "pyds_shard_sink": ORACLE_PYDS_SHARD_SINK,
        "join_lateral_topn": SQL_LATERAL_TOPN,
        "precip_api_index": _api_index_oracle(),
        "tpch_q1_pricing": SQL_Q1,
        "tpch_q3_top_orders": SQL_Q3,
        "tpch_q5_regional_revenue": SQL_Q5,
        "window_top_customers": SQL_WINDOW_TOP,
        "window_running_total": SQL_RUNNING,
        "join_semi_customers": SQL_SEMI,
        "join_anti_customers": SQL_ANTI,
        "set_ops_brands": SQL_SETOPS,
        "rollup_revenue": SQL_ROLLUP,
        "subquery_scalar": SQL_SCALAR_SUBQ,
        "subquery_exists_correlated": SQL_EXISTS_CORRELATED,
        "join_outer_nations": SQL_OUTER_JOIN,
        "grouping_sets_pricing": SQL_GROUPING_SETS,
        "cube_order_status": SQL_CUBE,
        "window_ntile_quartiles": SQL_NTILE,
        "listagg_top_customers": ORACLE_LISTAGG,
        "tpch_q18_large_orders": SQL_LARGE_ORDERS,
        "tpch_q7_volume_shipping": SQL_Q7,
        "tpch_q10_returned_items": SQL_Q10,
        "tpch_q2_min_cost_supplier": SQL_Q2,
        "tpch_q20_volume_suppliers": SQL_Q20,
        "tpch_q4_priority_late_ship": SQL_Q4,
        "tpch_q6_forecast_revenue": SQL_Q6,
        "tpch_q8_market_share": SQL_Q8,
        "tpch_q9_product_profit": SQL_Q9,
        "tpch_q12_late_lines_by_priority": SQL_Q12,
        "tpch_q13_customer_distribution": SQL_Q13,
        "tpch_q14_promo_effect": SQL_Q14,
        "tpch_q15_top_supplier": SQL_Q15,
        "tpch_q16_supplier_cnt": SQL_Q16,
        "tpch_q17_small_qty_revenue": SQL_Q17,
        "tpch_q19_disjunctive_revenue": SQL_Q19,
        "tpch_q21_waiting_supplier": SQL_Q21,
        "tpch_q22_dormant_customers": SQL_Q22,
        "tpch_q11_part_value": SQL_Q11,
        "events_retention_cohorts": SQL_RETENTION,
        "events_funnel_ordered": SQL_FUNNEL,
        "distinct_agg_segments": SQL_DISTINCT_AGG,
        "events_case_pivot": SQL_CASE_PIVOT,
        "scalar_funcs": ORACLE_SCALAR_FUNCS,
        "date_sequence": ORACLE_DATE_SEQUENCE,
        "filename_parse": ORACLE_FILENAME_PARSE,
        "events_hourly": SQL_EVENTS_HOURLY,
        "events_sessionize": SQL_EVENTS_SESSIONS_BODY.format(epoch="epoch_us(ts)", gap="1800000000"),
        "events_stream_sessionize": SQL_EVENTS_SESSIONS_BODY.format(epoch="epoch_us(ts)", gap="1800000000"),
        "events_scd2_type_history": ORACLE_EVENTS_SCD2,
        "events_stream_dedup": ORACLE_STREAM_DEDUP,
        "events_hopping_window": ORACLE_HOPPING,
        "events_rate_spikes": SQL_RATE_SPIKE_BODY.format(epoch="epoch_us(ts)"),
        "events_stream_state_totals": ORACLE_STREAM_STATE_TOTALS,
        "events_stream_stream_join": ORACLE_STREAM_STREAM_JOIN,
        "orders_merge_upsert": ORACLE_MERGE_UPSERT,
        "events_props_extract": ORACLE_EVENTS_PROPS,
        "events_stream_hourly": ORACLE_STREAM_HOURLY,
        "events_asof_join": ORACLE_EVENTS_ASOF,
        "orders_range_join": ORACLE_RANGE_JOIN,
        "window_lead_lag": ORACLE_LEAD_LAG,
        "stats_percentiles": ORACLE_PERCENTILES,
        "stats_trimmed_mean": ORACLE_TRIMMED_MEAN,
        "orders_pivot_native": ORACLE_PIVOT_NATIVE,
        "orders_unpivot_roundtrip": ORACLE_UNPIVOT,
        "events_partitioned_archive": ORACLE_PARTITIONED_ARCHIVE,
        "obs_zorder_archive": ORACLE_ZORDER_ARCHIVE,
        "stats_approx_sketches": ORACLE_APPROX_SKETCHES,
        "text_repetition_stats": ORACLE_TEXT_REPETITION,
        "corpus_curation_pipeline": ORACLE_CORPUS_CURATION,
        "text_stats": ORACLE_TEXT_STATS,
        "text_quality_filter": ORACLE_QUALITY_FILTER,
        "text_lang_id": _langid_sql(),
        "text_fingerprint": ORACLE_FINGERPRINT,
        "text_token_budget": ORACLE_TOKEN_BUDGET,
        "text_tfidf_top_terms": ORACLE_TEXT_TFIDF,
        "text_contamination_check": ORACLE_CONTAMINATION,
        "text_pack_sequences": ORACLE_PACK_SEQUENCES,
        "text_sentence_chunks": ORACLE_SENTENCE_CHUNKS,
        "events_json_extract": ORACLE_EVENTS_JSON,
        "dedup_exact_groups": ORACLE_EXACT_DUPS,
        "dedup_ngram_jaccard": ORACLE_NGRAM_JACCARD,
        "dedup_groups_cc": ORACLE_DEDUP_CC,
        "dedup_canonical_docs": ORACLE_DEDUP_CANONICAL,
        "skew_salted_revenue": ORACLE_SKEW_SALTED,
        "sample_split_assign": ORACLE_SAMPLE_SPLIT,
        "profile_orders_columns": ORACLE_PROFILE_ORDERS,
        "text_redact_pii": ORACLE_REDACT_PII,
        "dedup_minhash_signatures": ORACLE_MINHASH_SIGS,
        "dedup_minhash_lsh_pairs": ORACLE_MINHASH_LSH,
        "dedup_simhash": ORACLE_SIMHASH,
        "dedup_simhash_hamming_pairs": ORACLE_SIMHASH_HAMMING,
        "dedup_embedding_cosine": _emb_near_dups_oracle(),
        "similarity_cosine_topk": ORACLE_COSINE_TOPK,
        "similarity_ann_lsh_topk": _ann_lsh_oracle(),
        "media_decode_fake": ORACLE_MEDIA_DECODE,
        "media_frame_sample": ORACLE_MEDIA_FRAMES,
        "media_byte_histogram": ORACLE_BYTE_HISTOGRAM,
        "media_ahash": ORACLE_MEDIA_AHASH,
        "media_resize_fake": ORACLE_MEDIA_RESIZE,
        "crs_radolan_project": ORACLE_CRS_RADOLAN,
        "similarity_ivf_topk": ORACLE_IVF_TOPK,
        "embedding_norm_stats": ORACLE_EMBEDDING_NORMS,
        "embedding_quantize_int8": ORACLE_EMBEDDING_QUANTIZE,
    }


# ---------------------------------------------------------------------------
# Local self-check harness (mimics the driver's comparison)

def _self_check(sf_dir: str, only: list[str] | None = None) -> int:  # pragma: no cover
    import duckdb
    import math
    from decimal import Decimal as _Decimal

    # Deliberately a PLAIN session (not radohydro_spark.get_spark): the
    # driver builds its own bare SparkSession, so the self-check must prove
    # every query works without our session-builder confs (nanosAsLong etc.).
    spark = (
        SparkSession.builder.master(f"local[{os.environ.get('SPARK_GRAFT_CPUS', '8')}]")
        .appName("entry_self_check")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs, oracles = queries(), oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        def _key(row):
            out = []
            for v in row:
                if v is None:
                    out.append((0, "", 0.0))
                elif isinstance(v, (int, float, _Decimal)) and not isinstance(v, bool):
                    out.append((1, "", float(v)))
                else:
                    out.append((2, str(v), 0.0))
            return out

        try:
            sdf = fn(SparkSession.getActiveSession() or spark, sf_dir)
            spark_rows = sdf.collect()
            from radohydro_spark.plans.pipeline import release_persisted

            release_persisted()
            scols = sorted(sdf.columns)
            sset = sorted(
                (tuple(r[c] for c in scols) for r in spark_rows), key=_key
            )
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(spark_rows)} rows, no oracle)")
            continue
        try:
            ores = con.execute(oracles[name])
            ocols_raw = [d[0] for d in ores.description]
            orows = ores.fetchall()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {str(e).splitlines()[0][:160]}")
            failures += 1
            continue
        order = sorted(range(len(ocols_raw)), key=lambda i: ocols_raw[i])
        ocols = [ocols_raw[i] for i in order]
        oset = sorted((tuple(r[i] for i in order) for r in orows), key=_key)
        if scols != ocols:
            print(f"FAIL {name}: columns {scols} vs {ocols}")
            failures += 1
            continue
        if len(sset) != len(oset):
            print(f"FAIL {name}: rowcount {len(sset)} vs {len(oset)}")
            failures += 1
            continue

        def _eq(a, b):
            if a is None or b is None:
                return a is None and b is None
            if isinstance(a, (float, _Decimal)) or isinstance(b, (float, _Decimal)):
                fa, fb = float(a), float(b)
                if math.isnan(fa) or math.isnan(fb):
                    return math.isnan(fa) and math.isnan(fb)
                return fa == fb or abs(fa - fb) < 1e-9
            return str(a) == str(b)

        def _kind(v):
            if isinstance(v, bool) or v is None:
                return "o"
            if isinstance(v, int):
                return "i"
            if isinstance(v, (float, _Decimal)):
                return "f"
            return "s"

        bad = None
        kind_warn = None
        for srow, orow in zip(sset, oset):
            if not all(_eq(a, b) for a, b in zip(srow, orow)):
                bad = (srow, orow)
                break
            # the driver's value-hash is type-sensitive (int 5828 vs
            # DuckDB HUGEINT->float 5828.0 mismatched in round 1) — flag
            # numeric-kind divergence even when the values compare equal
            if kind_warn is None:
                for a, b in zip(srow, orow):
                    if a is not None and b is not None and _kind(a) != _kind(b):
                        kind_warn = (a, b)
                        break
        if bad:
            print(f"FAIL {name}: value mismatch\n  spark:  {bad[0]}\n  oracle: {bad[1]}")
            failures += 1
        elif kind_warn:
            print(
                f"WARN {name}: type-kind mismatch {kind_warn[0]!r} vs "
                f"{kind_warn[1]!r} — driver hash may differ"
            )
            failures += 1
        else:
            print(f"PASS {name} ({len(sset)} rows)")
    return failures


if __name__ == "__main__":  # pragma: no cover
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    raise SystemExit(1 if _self_check(sf, only) else 0)


# One-line coverage notes for queries whose callable carries no docstring
# (shared-SQL closures and thin wrappers).  Consumed by
# scripts/dump_queries.py to build QUERIES.md, the judge-facing index.
QUERY_NOTES: dict[str, str] = {
    "similarity_index_persist": (
        "Persisted IVF lifecycle: build -> partitioned postings -> "
        "partition-pruned probe -> exact rerank; deterministic centroids "
        "so the oracle reproduces the index. build_ivf_index also takes "
        "train_iterations>0 for relational-Lloyd-refined centroids; "
        "measured on the sf0.1 embeddings (scripts/ivf_recall_table.py, "
        "r9, 16 queries, 16 centroids, k=5): recall@5 deterministic "
        "nprobe1/2/4/8 = 0.9875/0.9875/1.0/1.0 vs lloyd5 = "
        "0.925/0.925/0.9875/1.0 — on these structureless synthetic "
        "vectors Lloyd pulls centroids toward the global mean and "
        "slightly HURTS low-nprobe recall; the flag earns its keep only "
        "on clustered real corpora, which is why the default stays "
        "deterministic"
    ),
    "window_range_frame": "RANGE BETWEEN INTERVAL '30' DAY PRECEDING frame: value-distance sliding window over order dates, cents summed as integers (r7, shared ANSI).",
    "set_ops_all": "INTERSECT ALL / EXCEPT ALL bag semantics over lineitem part keys — multiplicity-preserving set ops the distinct variants don't cover (r7, shared ANSI).",
    "cube_order_status": "GROUP BY CUBE over (priority, status): all 2^2 grouping combinations in one pass (shared ANSI).",
    "window_percent_rank": "percent_rank + cume_dist per nation over account balance (r6): exact rank rationals, named WINDOW clause (shared ANSI).",
    "window_nth_value": "first_value / nth_value(2) / last_value with an explicit unbounded ROWS frame per customer order history (r6, shared ANSI).",
    "scalar_null_semantics": "NULLIF / IS DISTINCT FROM / COALESCE null-semantics showcase over order status (r6, shared ANSI).",
    "date_sequence": "F1 date-range generation: sequence+explode of day steps (reference daterange, radohydro.py:39-46).",
    "dedup_embedding_cosine": "Embedding near-dup pairs: banded hyperplane-LSH (band,bucket) equi-join candidates + exact cosine filter — no cartesian.",
    "dedup_exact_groups": "Exact dedup groups: md5(text) hash-groupBy, lowest id canonical, one shuffle on the digest.",
    "dedup_minhash_lsh_pairs": "MinHash banding: ONE-shuffle wide signatures, derived band keys, equi-join candidates + array-compare est-Jaccard.",
    "dedup_minhash_signatures": "MinHash signature matrix via 8 conditional-min aggregates in a single groupBy(doc).",
    "dedup_ngram_jaccard": "Exact 3-gram Jaccard pairs: shingle-hash self-join; denominators ride the exploded rows (no sizes back-join).",
    "dedup_simhash": "16-bit SimHash fingerprints from token-hash bit sums — equal-fingerprint candidates.",
    "distinct_agg_segments": "COUNT(DISTINCT) + conditional distinct aggregates per segment (shared ANSI).",
    "events_case_pivot": "CASE-expression pivot: per-type event counts as columns without a pivot node (shared ANSI).",
    "events_funnel_ordered": "Ordered funnel: users reaching view->click->purchase IN ORDER via min-timestamp chaining (shared ANSI).",
    "events_hourly": "Tumbling hourly rollup by event type: date_trunc groupBy (shared ANSI).",
    "events_props_extract": "Regex extraction from the JSON-ish props string column (C1/C5 scalar functions).",
    "events_retention_cohorts": "Daily retention cohorts: first-seen day x activity day distinct-user matrix (shared ANSI).",
    "filename_parse": "F8/C1-C4: RADOLAN filename -> timestamp parsing, all three reference date formats.",
    "grouping_sets_pricing": "GROUPING SETS aggregate with grouping-id disambiguation (shared ANSI).",
    "join_anti_customers": "Left-anti join: customers with no orders (shared ANSI NOT EXISTS shape).",
    "join_outer_nations": "Left-outer join preserving empty nations, NULL-safe aggregates after (shared ANSI).",
    "join_lateral_topn": "LATERAL correlated derived table: per-nation top-2 customers, one SQL string in both engines (Catalyst decorrelates to a ranked join).",
    "join_semi_customers": "Left-semi join: customers having at least one order, no row multiplication (shared ANSI).",
    "media_byte_histogram": "Per-payload 16-bucket byte histogram via mapInPandas — corruption screen usable at any scale.",
    "media_decode_fake": "Deterministic stub decode: dims from payload length, mean intensity from bytes (codec-free plumbing check).",
    "media_frame_sample": "1->many frame chunking of binary payloads — the batch shape of video frame extraction.",
    "precip_basin_timeseries": "THE flagship: J1 spatial join -> A5 NULL policy -> A3 weights -> A4 weighted agg on the synthetic grid.",
    "precip_cellgrid": "C9/C10 cell-grid generation: affine corner arithmetic over a crossJoin of row/col ranges.",
    "precip_daily_resample": "Hourly->daily tumbling-window resample of the basin time series.",
    "precip_fragments": "J1 fragments: broadcast bbox join + Sutherland-Hodgman exact intersection areas.",
    "precip_rasterize": "C13 rasterize: burn basin_id back onto the grid by largest-overlap rule.",
    "precip_weights": "A3/A5/W1: NULL policy then window-normalized area weights (sum to 1 per basin).",
    "rollup_revenue": "GROUP BY ROLLUP hierarchy totals (shared ANSI).",
    "set_ops_brands": "UNION / INTERSECT / EXCEPT composition over part brands (shared ANSI).",
    "similarity_cosine_topk": "Exact brute-force cosine top-5 per query vector: broadcast queries, JVM-side dot products, ranking window.",
    "stats_percentiles": "Exact percentile_cont/median per group (the exact twin of the approx sketches query).",
    "subquery_exists_correlated": "Correlated EXISTS subquery decorrelated by Catalyst to a semi-join (shared ANSI).",
    "subquery_scalar": "Scalar subquery in a predicate: compare to a global aggregate (shared ANSI).",
    "text_fingerprint": "Order-sensitive 31-base rolling hash per document (C6-adjacent custom scalar, bit-identical in DuckDB).",
    "text_lang_id": "Marker-word language heuristic with deterministic CASE-chain tie-break.",
    "text_stats": "Staged one-pass token/punct/stopword/quality profile (tokenize once, derive all ratios).",
    "window_lead_lag": "LEAD/LAG over per-customer order history: deltas between consecutive orders (shared ANSI).",
    "window_ntile_quartiles": "ntile(4) balance quartiles per nation with per-bucket min/max (shared ANSI).",
    "window_running_total": "Running-frame window: cumulative revenue per customer ROWS UNBOUNDED PRECEDING (shared ANSI).",
    "window_top_customers": "row_number ranking window: top-3 customers per nation by balance (shared ANSI).",
}
for i in range(1, 23):
    _names = {
        1: "tpch_q1_pricing: scan-heavy pricing summary, 8 aggregates over filtered lineitem",
        2: "tpch_q2_min_cost_supplier: min-cost supplier per part (cost re-derived from lineitem as exact BIGINT micro-cents, r7 float-quotient fix; no partsupp in schema)",
        3: "tpch_q3_top_orders: top-10 unshipped orders by revenue (3-way join + limit)",
        4: "tpch_q4_priority_late_ship: order-priority counts with EXISTS late-line probe",
        5: "tpch_q5_regional_revenue: 6-way snowflake join, all dims broadcast, one Exchange",
        6: "tpch_q6_forecast_revenue: tight range-predicate scan aggregate",
        7: "tpch_q7_volume_shipping: bilateral nation volume with year extraction",
        8: "tpch_q8_market_share: market-share ratio via conditional aggregation over a 7-way join",
        9: "tpch_q9_product_profit: profit by nation/year over LIKE-filtered parts",
        10: "tpch_q10_returned_items: top-20 customers by returned-item revenue",
        11: "tpch_q11_part_value: part stock value via one nation's suppliers, HAVING over scalar subquery (adapted: value from lineitem)",
        12: "tpch_q12_late_lines_by_priority: shipmode lateness buckets via conditional sums (lateness re-derived from ship-order dates)",
        13: "tpch_q13_customer_distribution: order-count histogram from a filtered left join",
        14: "tpch_q14_promo_effect: promo revenue share with decimal-exact arithmetic",
        15: "tpch_q15_top_supplier: view-style CTE revenue, equality with MAX subquery",
        16: "tpch_q16_supplier_cnt: distinct supplier counts per part attribute combo (via lineitem; no partsupp)",
        17: "tpch_q17_small_qty_revenue: correlated average-quantity threshold per part",
        18: "tpch_q18_large_orders: large-order detection via HAVING-sum IN-subquery",
        19: "tpch_q19_disjunctive_revenue: OR-of-ANDs pushdown-hostile predicate revenue",
        20: "tpch_q20_volume_suppliers: suppliers above a volume share (availability re-derived from lineitem)",
        21: "tpch_q21_waiting_supplier: multi-EXISTS suppliers-kept-waiting (top-20)",
        22: "tpch_q22_dormant_customers: dormant high-balance customers via anti-join (nationkey-keyed adaptation)",
    }
    _k, _v = _names[i].split(": ", 1)
    QUERY_NOTES[_k] = _v + "."
