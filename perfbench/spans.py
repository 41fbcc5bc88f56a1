"""Spans recorded around the benchmark's calls into the engine.

A span has a name, start, end and parent. When a Spark session is
attached, every span runs under its own Spark job group, so the stages
its jobs ran can be looked up afterwards (``statusTracker`` maps a group
to jobs and stages) and their executor metrics read from the status REST
API. The REST API needs the UI, which only the traced run enables.

Spans are kept in memory and written out once, when the run ends.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """Records spans while ``on``; ``spark`` is the session whose jobs are
    grouped (None while no session is up)."""

    def __init__(self):
        self.on = False
        self.spark = None
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Time a block; while off this only yields."""
        if not self.on:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "group": f"perfbench:{len(self.spans)}:{name}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def _subtree(self, rec: dict) -> list[dict]:
        out, frontier = [rec], [rec["id"]]
        while frontier:
            kids = [s for s in self.spans if s["parent"] in frontier]
            out.extend(kids)
            frontier = [s["id"] for s in kids]
        return out

    def stage_ids(self, rec: dict) -> list[int]:
        """Stages of every job run under ``rec`` or its child spans."""
        st = self.spark.sparkContext.statusTracker()
        ids: set[int] = set()
        for s in self._subtree(rec):
            for jid in st.getJobIdsForGroup(s["group"]):
                info = st.getJobInfo(jid)
                if info is not None:
                    ids.update(info.stageIds)
        return sorted(ids)

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


def _rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def _drain_listener(spark) -> None:
    """Let the UI store catch up with the jobs that just finished."""
    try:
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(5000)
    except Exception:  # noqa: BLE001 — best effort; the REST read still works
        time.sleep(0.5)


def stage_metrics(spark, stage_ids: list[int]) -> dict:
    """Executor metrics summed over the completed attempts of the given
    stages, plus task-count and task run-time quantiles of the stage that
    ran longest (the decode stage, on the OCR pipeline)."""
    _drain_listener(spark)
    done = []
    for sid in stage_ids:
        try:
            attempts = _rest(spark, f"stages/{sid}")
        except OSError:
            continue
        done.extend(a for a in attempts if a.get("status") == "COMPLETE")
    agg = {
        "stages": len(done),
        "tasks": sum(a.get("numCompleteTasks", 0) for a in done),
        "run_s": sum(a.get("executorRunTime", 0) for a in done) / 1e3,
        "cpu_s": sum(a.get("executorCpuTime", 0) for a in done) / 1e9,
        "shuffle_write_mb": sum(a.get("shuffleWriteBytes", 0) for a in done) / 1e6,
        "spill_mb": sum(
            a.get("memoryBytesSpilled", 0) + a.get("diskBytesSpilled", 0) for a in done
        )
        / 1e6,
        "top_tasks": 0,
        "top_task_p50_ms": 0.0,
        "top_task_p95_ms": 0.0,
    }
    if done:
        top = max(done, key=lambda a: a.get("executorRunTime", 0))
        agg["top_tasks"] = top.get("numCompleteTasks", 0)
        try:
            q = _rest(
                spark,
                f"stages/{top['stageId']}/{top['attemptId']}/taskSummary?quantiles=0.5,0.95",
            )["executorRunTime"]
            agg["top_task_p50_ms"], agg["top_task_p95_ms"] = float(q[0]), float(q[1])
        except (OSError, KeyError, IndexError):
            pass
    return agg


def completed_stage_ids(spark) -> set[int]:
    """Ids of every stage the UI store has seen complete so far."""
    _drain_listener(spark)
    return {s["stageId"] for s in _rest(spark, "stages?status=complete")}
