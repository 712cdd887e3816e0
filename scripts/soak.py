"""The harness every soak and A/B script measures through.

``perfbench/tracing.py`` owns the measurement: each measured call runs
under its own job group, and its totals are summed over the group's
stages once the status listener has recorded all of them.  This module
holds only what the scripts need around the tracer:

* ``ROOT``, the checkout this file lives in (on ``sys.path`` once
  imported), and ``SF_DIR``, the sf0.1 tables (``$SPARK_GRAFT_SF_DIR``,
  else bench.py's default);
* ``session``, a UI-on session and its tracer; ``noop``, the bench's
  sink;
* ``measure``, one measured call, printed as one JSON line with the
  tracer's generic fields: ``s``, ``tasks``, ``failed_tasks``,
  ``core_util``, ``shuffle_bytes`` (written) and ``spill_bytes`` (disk),
  summed over the call's job group and the group of every stream the
  call started (a micro-batch runs on its stream's own thread, under a
  job group named by the stream's run id); ``grow`` measures one
  closed-form leg at growing sizes;
* the two corpus-replication laws, ``salted`` and ``suffixed``, which
  ``replicate`` applies.
"""

from __future__ import annotations

import atexit
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from perfbench.tracing import GENERIC, LayerTracer, timed  # noqa: E402
from radohydro_spark.plans.pipeline import release_persisted  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STREAM_RUNS: list[str] = []  # run ids of the streams started, in order


def table(spark, name: str):
    return spark.read.parquet(f"{SF_DIR}/{name}.parquet")


def session(name: str):
    """``(spark, tracer)``: the UI is on so the tracer can read stage
    totals.  A long measurement (a 1,000-merge BPE run) launches
    thousands of jobs and stages; the retention limits keep every one
    visible to the tracer's settle poll.

    ``SPARK_GRAFT_CPUS`` defaults to the cores this process may run on:
    ``get_spark``'s own default, ``local[32]``, starts dozens of Python
    workers on a small host, and a 10k-basin day then exhausts memory."""
    from radohydro_spark import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    spark = get_spark(
        name,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedStages": "5000",
            "spark.ui.retainedJobs": "5000",
        },
    )
    spark.streams.addListener(_StreamRuns())
    # a stream's last progress and end events reach the listener after
    # its drain returns; stopping drains the event queues while the
    # listener is still there to take them
    atexit.register(spark.stop)
    return spark, LayerTracer(spark, spark.sparkContext.defaultParallelism)


class _StreamRuns(StreamingQueryListener):
    """Records each stream's run id as it starts (before ``start()``
    returns), which is the job group of its micro-batches."""

    def onQueryStarted(self, event):
        STREAM_RUNS.append(str(event.runId))

    def onQueryProgress(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def measure(tracer: LayerTracer, label: str, fn, note=None):
    """Run ``fn()`` as one measured call, then release every pinned
    frame.  Prints ``label``, the generic totals and the dict
    ``note(result)`` (if any) as one JSON line; returns
    ``(result, totals)``."""
    started = len(STREAM_RUNS)
    with tracer.group(label) as gid:
        out, wall = timed(fn)
    totals = tracer.stage_totals([gid, *STREAM_RUNS[started:]], wall)
    release_persisted()
    line = {k: round(totals[k], 3) if k in ("s", "core_util") else int(totals[k]) for k in GENERIC}
    line.update((note(out) if note else None) or {})
    print(json.dumps({"leg": label, **line}), flush=True)
    return out, totals


def noop(df) -> None:
    """Run ``df`` to the noop sink, as the bench does."""
    df.write.format("noop").mode("overwrite").save()


def replicate(df, reps: int, ids, **cols):
    """``df`` once per replica ``rep`` in ``[0, reps)``: each column in
    ``ids`` becomes ``id * reps + rep`` and each keyword column becomes
    its expression (which may read ``rep``); column order is kept."""
    rep = df.sparkSession.range(reps).select(F.col("id").alias("rep"))
    exprs = {c: F.col(c) * reps + F.col("rep") for c in ids} | cols
    return df.crossJoin(rep).select(*[exprs.get(c, F.col(c)).alias(c) for c in df.columns])


def salted(planted=None):
    """The dup-planting law for the ``text`` column: a planted row (by
    default every 37th ``doc_id``) keeps its text in every replica, so
    each forms an exact-duplicate family; every other replica gets a
    ``u<rep>`` salt token, a near-duplicate (3-gram Jaccard ~0.9) of its
    siblings."""
    planted = F.col("doc_id") % 37 == 0 if planted is None else planted
    salt = F.concat(F.lit("u"), F.col("rep").cast("string"), F.lit(" "), F.col("text"))
    return F.when(planted, F.col("text")).otherwise(salt)


def suffixed():
    """The vocabulary-disjoint law for the ``text`` column: every token
    carries its replica's ``_<rep>`` suffix, so replicas share no token
    and the vocabulary grows with the replica count."""
    from radohydro_spark.functions.text import tokens

    tag = lambda t: F.concat(t, F.lit("_"), F.col("rep").cast("string"))  # noqa: E731
    return F.array_join(F.transform(tokens("text"), tag), " ")


def grow(tracer: LayerTracer, label: str, build, check, sizes):
    """Measure ``build(size).collect()`` at each size, named
    ``label.format(size)``; ``check(rows, size)`` asserts the closed form
    and returns the note.  From the second size on, a ``shuffle_ratio`` line
    gives the shuffle bytes against the previous size's: how the shuffle
    grows with the input (a counter-sized shuffle never grows with pairs)."""
    prev = None
    for size in sizes:
        leg = label.format(size)
        _, m = measure(tracer, leg, lambda: build(size).collect(), lambda rows: check(rows, size))
        if prev:
            print(json.dumps({"leg": leg, "shuffle_ratio": round(m["shuffle_bytes"] / prev, 2)}))
        prev = m["shuffle_bytes"]
