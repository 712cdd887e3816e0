"""SparkSession factory with scale-appropriate defaults, and the one
registry of pinned intermediates.

Local testing runs on local[N]; the same config block is what we would ship
to a 1000-executor cluster (AQE on, Arrow on, explicit shuffle sizing).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

_PERSISTED: list[DataFrame] = []


def pin(df: DataFrame) -> DataFrame:
    """Record ``df``, which the caller has just cached, persisted or
    ``localCheckpoint``ed, for :func:`release_persisted`; return it.

    Operators return lazy DataFrames, so an operator cannot unpersist
    what it pinned: the cache would vanish before the caller's action
    runs.  Callers that execute many queries in one session (the bench,
    the self-check harness) call :func:`release_persisted` after
    materializing, so pinned slices of the fact tables do not
    accumulate until LRU eviction.  Wrap the storage call itself, as in
    ``sh = pin(sh.cache())``.
    """
    _PERSISTED.append(df)
    return df


def release_persisted() -> None:
    """Unpersist every frame recorded by :func:`pin`."""
    while _PERSISTED:
        try:
            _PERSISTED.pop().unpersist()
        except Exception:
            pass


def get_spark(
    app_name: str = "radohydro_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    Defaults follow the driver harness contract: ``local[$SPARK_GRAFT_CPUS]``
    with ``spark.sql.shuffle.partitions`` matched to core count instead of
    the 200 default (which at local scale just multiplies task overhead and
    at cluster scale is retuned by AQE coalescing anyway).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    # Spark's Python workers are separate processes: they must be able to
    # import this package to unpickle its pandas UDFs, regardless of the
    # caller's cwd.  Exporting PYTHONPATH before the JVM starts covers the
    # local-mode worker daemons; on a real cluster the equivalent is
    # shipping the package via --py-files / spark.submit.pyFiles.
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # read INT64 TIMESTAMP(NANOS) parquet columns as long (Spark has no
        # nanosecond timestamp); sources convert ns -> timestamp_micros
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # read timestamp-without-UTC-adjustment parquet (pyarrow/pandas/
        # DuckDB writers' default) as session-tz TIMESTAMP, not
        # TIMESTAMP_NTZ — NTZ breaks withWatermark/unix_micros and every
        # event-time operator; with the UTC session pin the instant is the
        # same naive value DuckDB reads
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # plans/contracts.py declares intentionally-global windows by
        # partitioning on a CONSTANT key (single partition by contract,
        # cap-asserted in-plan).  EliminateWindowPartitions would fold
        # that key back to an empty partition spec — semantically
        # identical, but it erases the declared intent and re-triggers
        # the WindowExec single-partition warning the declaration exists
        # to retire; every other partition spec is unaffected (the rule
        # only ever removes foldable keys)
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer."
            "EliminateWindowPartitions",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    # last-wins overrides (e.g. the soak scripts re-enable the UI to read
    # executor-truth shuffle/spill metrics off the status REST API)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
