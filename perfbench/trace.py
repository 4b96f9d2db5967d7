"""Layer spans and Spark's own monitoring data for the traced run.

A span wraps one call into a layer's public function, made from the
benchmark's files; nothing inside the package is instrumented. Each span
tags its Spark jobs with ``SparkContext.setJobGroup(<span name>)``, so the
monitoring REST API at ``sc.uiWebUrl`` can attribute stages, tasks and SQL
plan-node metrics to it. Spans stay in memory and are written out once,
when the benchmark ends.

Self time is a span's duration minus its child spans' durations. The
traced pass composes the layers as cumulative prefixes (scan, then
canonical_order over it, then the text UDF over that, ...), each one the
child of the next, so a layer's self time is the cost its call adds to the
prefix below it. Spark pipelines stages across those calls, so the split
is approximate.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; one job group per span."""

    def __init__(self, sc, trace_id: str):
        self.sc = sc
        self.trace_id = trace_id
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, child: str | None = None):
        """Time a layer call; ``child`` names the span it builds on."""
        s = Span(name, time.perf_counter())
        self.sc.setJobGroup(name, f"{self.trace_id}:{name}", interruptOnCancel=False)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self.sc.setJobGroup("untraced", "untraced", interruptOnCancel=False)
            self.spans.append(s)
            if child is not None:
                for c in self.spans:
                    if c.name == child:
                        c.parent = name

    def duration(self, name: str) -> float:
        return sum(s.duration for s in self.spans if s.name == name)

    def self_time(self, name: str) -> float:
        kids = sum(s.duration for s in self.spans if s.parent == name)
        return self.duration(name) - kids

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id,
                       "spans": [asdict(s) | {"self_s": self.self_time(s.name)}
                                 for s in self.spans]}, f, indent=1)


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_NUM = re.compile(r"^\s*([\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")


def parse_metric(text: str) -> float:
    """A SQL node metric string as a number: seconds, bytes or a count.

    Spark prints either a plain value (``'1,879'``, ``'808.8 KiB'``,
    ``'17 ms'``) or a task distribution whose total leads its second line.
    """
    line = text.split("\n")[-1]
    m = _NUM.match(line)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class SparkMonitor:
    """Reads the application's monitoring REST API on the loopback port."""

    def __init__(self, sc):
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, groups: set[str], timeout_s: float = 20.0) -> None:
        """Wait until the status store has every job and SQL run of ``groups``
        finished (the listener bus updates it asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            jobs = [j for j in self.get("/jobs") if j.get("jobGroup") in groups]
            sql = self.get("/sql?details=false&offset=0&length=100000")
            if (all(j["status"] != "RUNNING" for j in jobs)
                    and all(e["status"] != "RUNNING" for e in sql)):
                return
            time.sleep(0.2)

    def collect(self, groups: set[str]) -> dict[str, dict]:
        """Per job group: stages (with task quantiles) and SQL executions."""
        self.settle(groups)
        jobs = [j for j in self.get("/jobs") if j.get("jobGroup") in groups]
        stage_group = {sid: j["jobGroup"] for j in jobs for sid in j["stageIds"]}
        job_group = {j["jobId"]: j["jobGroup"] for j in jobs}
        out = {g: {"stages": [], "sql": [], "jobs": 0} for g in groups}
        for j in jobs:
            out[j["jobGroup"]]["jobs"] += 1
        for st in self.get("/stages"):
            g = stage_group.get(st["stageId"])
            if g is None or st["status"] == "SKIPPED":
                continue
            if st["numCompleteTasks"] > 1:
                q = self.get(f"/stages/{st['stageId']}/{st['attemptId']}"
                             f"/taskSummary?quantiles=0.5,1.0")
                st["runTimeQuantiles"] = q["executorRunTime"]
            out[g]["stages"].append(st)
        sql = self.get("/sql?details=true&planDescription=true&offset=0&length=100000")
        for e in sql:
            owners = {job_group[j] for j in e["successJobIds"] + e["failedJobIds"]
                      if j in job_group}
            for g in owners:
                out[g]["sql"].append(e)
        return out


def node_metric(group: dict, node_names: tuple[str, ...], metric: str) -> float:
    return sum(parse_metric(m["value"])
               for e in group["sql"] for n in e["nodes"] if n["nodeName"] in node_names
               for m in n["metrics"] if m["name"] == metric)


def stage_sum(group: dict, field: str) -> float:
    return float(sum(st.get(field, 0) for st in group["stages"]))


def task_skew(group: dict) -> float:
    """max / median task run time of the group's slowest shuffle-reading
    stage (its straggler); 1.0 means perfectly even tasks."""
    best = None
    for st in group["stages"]:
        q = st.get("runTimeQuantiles")
        if q and st.get("shuffleReadBytes", 0) > 0 and (best is None or q[1] > best[1]):
            best = q
    if not best:
        return 0.0
    return best[1] / max(best[0], 1.0)


def spark_totals(groups: dict[str, dict]) -> dict[str, float]:
    stages = [st for g in groups.values() for st in g["stages"]]
    return {
        "spark.gc_s": sum(st["jvmGcTime"] for st in stages) / 1e3,
        "spark.cpu_s": sum(st["executorCpuTime"] for st in stages) / 1e9,
        "spark.run_s": sum(st["executorRunTime"] for st in stages) / 1e3,
        "spark.task_retries": float(sum(st["numFailedTasks"] + (st["attemptId"] > 0)
                                        for st in stages)),
    }
