"""Break down the events_stream_kmv drain: run the availableNow drain
``reps`` times (drain and the declared query's post-drain reduction
measured separately), then once more with a handle on the query, and
print every StreamingQueryProgress: batch durations (addBatch,
getBatch, walCommit), input rows and the state operators' metrics.

    python scripts/probe_stream_kmv.py [sf_dir] [reps]
"""

from __future__ import annotations

import json
import sys
import tempfile
import uuid

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from soak import SF_DIR, measure, noop, session

STATE_KEYS = (
    "operatorName",
    "numRowsTotal",
    "numRowsUpdated",
    "numRowsRemoved",
    "commitTimeMs",
    "stateMemory",
)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DIR
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    import __spark_entry__ as entry
    from radohydro_spark.streaming import run_available_now, stream_kmv

    spark, tr = session("probe_stream_kmv")
    raw_schema = entry._probe_schema(spark, sf_dir, "events")

    def sketch():
        events = (
            spark.readStream.format("parquet")
            .schema(raw_schema)
            .option("pathGlobFilter", "events.parquet")
            .load(sf_dir)
        )
        events = entry._normalize_ts(events)
        return stream_kmv(events, "ts", "user_id", "1 day", k=64, watermark="1 hour")

    for rep in range(reps):
        name, checkpoint = "kmv_probe_" + uuid.uuid4().hex[:8], tempfile.mkdtemp(prefix="ck_")
        drain = lambda: run_available_now(  # noqa: E731
            sketch(), name, checkpoint, "update", state_partitions=8
        )
        out, _ = measure(tr, f"rep{rep} drain", drain)
        # the declared query's post-drain reduction
        w = W.partitionBy("ts").orderBy("hv")
        red = (
            out.distinct()
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= 64)
            .select(F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("day"), "hv")
            .orderBy("day", "hv")
        )
        measure(tr, f"rep{rep} reduce", lambda: noop(red))

    # run_available_now awaits termination and drops the query handle, so
    # one more drain keeps the handle for its progress log
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sketch().writeStream.format("memory")
            .queryName("kmv_probe_" + uuid.uuid4().hex[:8])
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        print("\n=== per-batch progress ===")
        for p in q.recentProgress:
            ops = [{k: so.get(k) for k in STATE_KEYS} for so in p.get("stateOperators", [])]
            keep = {k: p.get(k) for k in ("batchId", "numInputRows", "durationMs")}
            print(json.dumps({**keep, "stateOperators": ops}))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


if __name__ == "__main__":
    main()
