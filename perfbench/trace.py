"""Spans around layer calls, and per-layer Spark counters by job group.

A :class:`Tracer` keeps spans in memory — (name, start, end, parent, run
id) — and tags every Spark job started inside a span with the span's name
as its job group, so the status REST API's job/stage/task/shuffle counts
can be attributed to layers afterwards. Spans are written out once, at the
end of the run (:meth:`Tracer.dump`).

A layer's self time is its span duration minus the part of that interval
its child spans cover.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass

#: Job group of Spark jobs started outside every span.
UNATTRIBUTED = "unattributed"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: per span name: rows the layer produced (filled by the caller)
        self.rows: dict[str, int] = {}
        self.sc.setJobGroup(UNATTRIBUTED, f"{run_id}:{UNATTRIBUTED}")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent, self.run_id))
        self._stack.append(idx)
        self.sc.setJobGroup(name, f"{self.run_id}:{name}")
        try:
            yield
        finally:
            self.spans[idx].end = time.perf_counter()
            self._stack.pop()
            outer = (self.spans[self._stack[-1]].name if self._stack
                     else UNATTRIBUTED)
            self.sc.setJobGroup(outer, f"{self.run_id}:{outer}")

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus child-span coverage."""
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            kids = sorted((c.start, c.end) for c in self.spans if c.parent == i)
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - covered
        return out

    def durations(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for s in self.spans:
            out[s.name] = out.get(s.name, 0.0) + s.end - s.start
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def rest_counters(spark, settle_s: float = 30.0) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, failed tasks, task run time and
    shuffle bytes written, read from the driver's status REST API once the
    listener has caught up with every submitted job."""
    sc = spark.sparkContext
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.time() + settle_s
    while True:
        jobs = _get(f"{base}/jobs")
        if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
            break
        time.sleep(0.2)
    stages = {(s["stageId"], s["attemptId"]): s for s in _get(f"{base}/stages")}
    by_stage_id: dict[int, list[dict]] = {}
    for (sid, _), s in stages.items():
        by_stage_id.setdefault(sid, []).append(s)
    out: dict[str, dict] = {}
    for j in jobs:
        g = out.setdefault(j.get("jobGroup") or "", {
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "run_s": 0.0, "shuffle_write_mb": 0.0,
        })
        g["jobs"] += 1
        for sid in j["stageIds"]:
            for s in by_stage_id.get(sid, []):
                if s["status"] == "SKIPPED":
                    continue
                g["stages"] += 1
                g["tasks"] += s["numCompleteTasks"] + s["numFailedTasks"]
                g["failed_tasks"] += s["numFailedTasks"]
                g["run_s"] += s["executorRunTime"] / 1000.0
                g["shuffle_write_mb"] += s["shuffleWriteBytes"] / 1e6
    return out


def layer_metrics(tracer: Tracer, counters: dict[str, dict], cores: int,
                  layers) -> dict[str, float]:
    """``<layer>.<field>`` for every layer in ``layers`` (zeros for layers
    the workload did not run)."""
    self_t, dur = tracer.self_times(), tracer.durations()
    out: dict[str, float] = {}
    for layer in layers:
        c = counters.get(layer, {})
        wall = dur.get(layer, 0.0)
        out[f"{layer}.busy_s"] = self_t.get(layer, 0.0)
        out[f"{layer}.jobs"] = c.get("jobs", 0)
        out[f"{layer}.stages"] = c.get("stages", 0)
        out[f"{layer}.tasks"] = c.get("tasks", 0)
        out[f"{layer}.failed_tasks"] = c.get("failed_tasks", 0)
        out[f"{layer}.core_util"] = (c.get("run_s", 0.0) / (wall * cores)
                                     if wall else 0.0)
        out[f"{layer}.shuffle_write_mb"] = c.get("shuffle_write_mb", 0.0)
        out[f"{layer}.rows_out"] = tracer.rows.get(layer, 0)
    return out
