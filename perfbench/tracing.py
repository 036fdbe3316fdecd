"""In-memory spans around the benchmark's calls into each layer.

A span records name, start, end, parent span and run id. While a span
is open its Spark jobs run under a job group of its own, so at span
end `SparkContext.statusTracker()` gives the jobs, tasks and failed
tasks the span itself launched (child spans have their own groups).
Spans are kept in memory and written out once, when the run ends.

With tracing off, `span()` is a no-op context manager, so the timed
code is identical in both modes apart from the recording itself.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self, sc, enabled: bool, run_id: str):
        self.sc = sc
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "run": self.run_id,
            "group": f"{self.run_id}-{len(self.spans)}",
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["group"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec.update(self._counts(rec["group"]))

    def _counts(self, group: str) -> dict:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                if si:
                    tasks += si.numCompletedTasks
                    failed += si.numFailedTasks
        return {"jobs": len(jobs), "tasks": tasks, "tasks_failed": failed}

    def self_times(self) -> list[dict]:
        """Each span with `dur` and `self` (duration minus the time its
        children cover; children of one span run one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            d = s["end"] - s["start"]
            out.append(s | {"dur": d, "self": d - child[s["id"]]})
        return out

    def totals(self, prefix: str = "") -> dict[str, dict[str, float]]:
        """Per span name: summed self time, duration, jobs, tasks."""
        agg: dict[str, dict[str, float]] = defaultdict(
            lambda: {"self": 0.0, "dur": 0.0, "jobs": 0, "tasks": 0,
                     "tasks_failed": 0, "n": 0}
        )
        for s in self.self_times():
            if not s["name"].startswith(prefix):
                continue
            a = agg[s["name"]]
            a["n"] += 1
            for k in ("self", "dur", "jobs", "tasks", "tasks_failed"):
                a[k] += s[k]
        return dict(agg)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.self_times(), f)
