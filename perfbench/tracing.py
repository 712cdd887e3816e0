"""Per-layer attribution of Spark work, from outside the library.

Each layer call runs under its own job group.  Jobs, stages and task
counts come from ``statusTracker`` (no UI needed); executor run time,
shuffle and spill bytes come from the status REST API, which exists only
when the session was started with the UI on (``spark.ui.port=0``, traced
runs only).  No ``_jvm`` access.

``own_s`` sums the wall time spent in the tracer's own calls (job-group
switches, ``statusTracker`` reads, REST polls until the listener has
recorded a layer's stages): the cost tracing adds on top of the layer
calls it attributes.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import SparkSession

GENERIC = ("s", "tasks", "failed_tasks", "core_util", "shuffle_bytes", "spill_bytes")
TERMINAL = {"COMPLETE", "FAILED", "SKIPPED"}


class LayerTracer:
    def __init__(self, spark: SparkSession, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self.groups = 0
        self.own_s = 0.0
        port = urlparse(self.sc.uiWebUrl).port
        self.api = f"http://127.0.0.1:{port}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.api + path, timeout=10) as resp:
            return json.load(resp)

    @contextmanager
    def group(self, layer: str):
        """Run the body under a fresh job group; yields the group id."""
        self.groups += 1
        gid = f"{layer}#{self.groups}"
        with self._own():
            self.sc.setJobGroup(gid, layer)
        try:
            yield gid
        finally:
            with self._own():
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def _own(self):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.own_s += time.perf_counter() - t0

    def jobs(self, gid: str) -> list[int]:
        with self._own():
            return list(self.sc.statusTracker().getJobIdsForGroup(gid))

    def stage_totals(self, gids: list[str], wall: float) -> dict:
        """The generic metrics of the jobs launched under ``gids``."""
        with self._own():
            return self._stage_totals(gids, wall)

    def _stage_totals(self, gids: list[str], wall: float) -> dict:
        tracker = self.sc.statusTracker()
        stage_ids = set()
        for gid in gids:
            for job in tracker.getJobIdsForGroup(gid):
                info = tracker.getJobInfo(job)
                if info is not None:
                    stage_ids.update(info.stageIds)
        totals = dict.fromkeys(GENERIC[1:], 0.0)
        run_ms = 0.0
        for attempt in self._settled_stages(stage_ids):
            totals["tasks"] += attempt["numCompleteTasks"] + attempt["numFailedTasks"]
            totals["failed_tasks"] += attempt["numFailedTasks"]
            totals["shuffle_bytes"] += attempt["shuffleWriteBytes"]
            totals["spill_bytes"] += attempt["diskBytesSpilled"]
            run_ms += attempt["executorRunTime"]
        totals["core_util"] = run_ms / 1000.0 / (wall * self.cores) if wall > 0 else 0.0
        totals["s"] = wall
        return totals

    def _settled_stages(self, stage_ids: set[int]) -> list[dict]:
        """The attempts of ``stage_ids`` once the listener has recorded
        their end (the REST store fills asynchronously after an action)."""
        deadline = time.monotonic() + 10.0
        while True:
            attempts = [a for a in self._get("/stages") if a["stageId"] in stage_ids]
            seen = {a["stageId"] for a in attempts}
            if seen == stage_ids and all(a["status"] in TERMINAL for a in attempts):
                return attempts
            if time.monotonic() > deadline:
                raise TimeoutError(f"stages {sorted(stage_ids - seen)} never settled")
            time.sleep(0.05)


def timed(fn):
    """(result, seconds) of one call."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0
