"""In-memory span tracer with Spark stage metrics per span.

A span records name, start, end, parent span and run id. Every Spark job a
span (or a child span) submits runs under the span's own job group
(``SparkContext.setJobGroup``); when the span closes, the group's jobs are
read from ``statusTracker()`` and each stage's task count, executor run
time, shuffle write bytes, spill and call site from the driver's status
store (``statusStore().lastStageAttempt(id)``), which is kept even with
``spark.ui.enabled=false``. A disabled tracer records nothing and never
touches Spark, so untraced runs pay no tracing cost.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

STAGE_KEYS = ("tasks", "executor_run_ms", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True, **attrs):
        """A span; with ``spark_jobs=False`` (calls served from driver
        memory) no job group is set, and any job the call does submit is
        counted in the enclosing span."""
        if not self.enabled:
            yield None
            return
        rec = {
            "id": next(self._ids),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "name": name,
            "attrs": {"spark_jobs": spark_jobs, **attrs},
            "start": time.time(),
        }
        group = f"{self.run_id}/{rec['id']}"
        if spark_jobs:
            self.sc.setJobGroup(group, name)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            rec["stages"] = []
            if spark_jobs:
                rec["stages"] = self._stages(group)
                self._restore_group()
            self.spans.append(rec)

    def _restore_group(self) -> None:
        for parent in reversed(self._stack):
            if parent["attrs"].get("spark_jobs", True):
                self.sc.setJobGroup(f"{self.run_id}/{parent['id']}", parent["name"])
                return
        self.sc.setJobGroup("", "")

    def _stages(self, group: str) -> list[dict]:
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        out = []
        for job in sorted(tracker.getJobIdsForGroup(group)):
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage never attempted (skipped, reused shuffle)
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                sub = sd.submissionTime()
                out.append({
                    "job": job,
                    "stage": sid,
                    "call_site": sd.name(),
                    "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "tasks": sd.numTasks(),
                    "executor_run_ms": sd.executorRunTime(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                })
        return out

    def subtree(self, span: dict) -> list[dict]:
        """``span`` and every span under it."""
        ids, out = {span["id"]}, [span]
        for s in sorted(self.spans, key=lambda s: s["id"]):
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def totals(self, span: dict, interval: tuple[float, float] | None = None) -> dict:
        """Jobs, tasks and stage metrics summed over ``span``'s subtree;
        with ``interval``, only stages submitted inside it."""
        stages = [
            st for s in self.subtree(span) for st in s["stages"]
            if interval is None
            or (st["submitted"] is not None and interval[0] <= st["submitted"] < interval[1])
        ]
        tot = {k: sum(st[k] for st in stages) for k in STAGE_KEYS}
        tot["jobs"] = len({st["job"] for st in stages})
        return tot

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(sorted(self.spans, key=lambda s: s["id"]), f)
