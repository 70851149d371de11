"""Spans around the benchmark's calls into each engine layer.

A span holds a name, start, end, parent span and operation id. Spans stay
in memory and are written out when the run ends. Each span runs its Spark
jobs under its own job group (``SparkContext.setJobGroup``), so the job,
stage and task counts of a span come from the public ``statusTracker()``.
Jobs that the engine launches from its own helper threads do not inherit
the group and are not counted.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name, "op": self.op_id,
               "parent": parent["id"] if parent else None,
               "group": f"perfbench-span-{len(self.spans)}"}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec.update(self._counts(rec["group"]))
            if parent is not None:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for jid in jobs:
            info = st.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                s = st.getStageInfo(sid)
                if s is None or s.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                stages += 1
                tasks += s.numCompletedTasks
                failed += s.numFailedTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
                "tasks_failed": failed}

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of it that child spans cover."""
        ivs = sorted((c["start"], c["end"]) for c in self.children(rec))
        covered, lo, hi = 0.0, None, None
        for s, e in ivs:
            if hi is None or s > hi:
                if hi is not None:
                    covered += hi - lo
                lo, hi = s, e
            else:
                hi = max(hi, e)
        if hi is not None:
            covered += hi - lo
        return self.duration(rec) - covered

    def total(self, rec: dict, key: str) -> int:
        """A span's own count plus those of all its descendants."""
        return rec[key] + sum(self.total(c, key) for c in self.children(rec))

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [{**s, "start": s["start"] - t0, "end": s["end"] - t0,
                "self_s": self.self_time(s)} for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
