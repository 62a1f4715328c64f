"""Spans around calls into the engine, attributed to Spark's own job,
stage and SQL-node metrics.

A span records name, start, end, parent and run id, plus the Spark job
id watermark at entry and exit.  Jobs run synchronously on the single
driver thread, so the jobs submitted between the two watermarks belong to
the span (children included).  Spark's REST data (``jobs``, ``stages``,
``sql``) is read once, when the run ends, and joined to the spans by job
id; nothing is added inside the package.  Spans live in memory until
``Tracer.attribute`` is called.
"""

from __future__ import annotations

import json
import re
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

#: REST retention large enough that no job of a run is evicted before
#: the end-of-run read (the defaults keep 1000 jobs/stages).
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.sql.ui.retainedExecutions": "100000",
}

MB = 1024 * 1024


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run: str
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    attrs: dict = field(default_factory=dict)
    jobs: list = field(default_factory=list)
    stages: list = field(default_factory=list)
    sql: list = field(default_factory=list)

    @property
    def wall(self) -> float:
        return self.end - self.start


class SparkRest:
    """The slice of Spark's monitoring REST API the tracer reads."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().numTotalJobs())

    def get(self, path: str):
        # make every finished job/stage visible in the status store first
        self._sc.listenerBus().waitUntilEmpty(30_000)
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def peak_heap_mb(self) -> float:
        execs = self.get("executors")
        return max(e.get("peakMemoryMetrics", {}).get("JVMHeapMemory", 0) for e in execs) / MB


class Tracer:
    def __init__(self, rest: SparkRest, run: str):
        self.rest = rest
        self.run = run
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            run=self.run,
            start=time.perf_counter(),
            job_lo=self.rest.next_job_id(),
            attrs=attrs,
        )
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.job_hi = self.rest.next_job_id()
            s.end = time.perf_counter()
            self._stack.pop()

    def attribute(self) -> None:
        """Join Spark's job, stage and SQL data to every span."""
        jobs = {j["jobId"]: j for j in self.rest.get("jobs")}
        stages = {
            s["stageId"]: s
            for s in self.rest.get("stages")
            if s["status"] == "COMPLETE"
        }
        sqls = self.rest.get("sql?details=true&planDescription=false&length=100000")
        job_sql = {j: e for e in sqls for j in e.get("successJobIds", [])}
        for s in self.spans:
            ids = [i for i in range(s.job_lo, s.job_hi) if i in jobs]
            s.jobs = [jobs[i] for i in ids]
            s.stages = [stages[i] for i in {st for i in ids for st in jobs[i]["stageIds"]}
                        if i in stages]
            s.sql = list({e["id"]: e for i in ids if (e := job_sql.get(i))}.values())

    def self_time(self, s: Span) -> float:
        return s.wall - sum(c.wall for c in self.spans if c.parent == s.id)

    def find(self, name: str, root: Span | None = None, **attrs) -> list[Span]:
        """Spans called ``name`` (under ``root`` if given) whose attrs match."""
        ids = None if root is None else self._subtree(root)
        return [
            s for s in self.spans
            if s.name == name and (ids is None or s.id in ids)
            and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def _subtree(self, root: Span) -> set[int]:
        ids = {root.id}
        for s in self.spans:  # parents precede children
            if s.parent in ids:
                ids.add(s.id)
        return ids

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "run": s.run,
                    "start": s.start, "end": s.end, "self_s": self.self_time(s),
                    "jobs": [s.job_lo, s.job_hi], **s.attrs,
                }) + "\n")


# ---------------------------------------------------------------------------
# aggregation helpers over attributed spans
# ---------------------------------------------------------------------------

def _gmt(ts: str) -> float:
    from datetime import datetime

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fGMT").timestamp()


def job_wall(spans: list[Span], name_re: str | None = None) -> float:
    """Wall seconds during which at least one of the spans' jobs (whose
    name matches ``name_re``, if given) was running.  Broadcast and AQE
    stage jobs overlap, so this is a union of intervals, not a sum."""
    rx = re.compile(name_re) if name_re else None
    intervals = sorted(
        (_gmt(j["submissionTime"]), _gmt(j["completionTime"]))
        for s in spans for j in s.jobs
        if "completionTime" in j and (rx is None or rx.search(j["name"]))
    )
    total, end = 0.0, float("-inf")
    for lo, hi in intervals:
        if hi > end:
            total += hi - max(lo, end)
            end = hi
    return total


def stage_sum(spans: list[Span], key: str) -> float:
    return sum(st.get(key, 0) for s in spans for st in s.stages)


def job_count(spans: list[Span], name_re: str | None = None) -> int:
    rx = re.compile(name_re) if name_re else None
    return sum(1 for s in spans for j in s.jobs if rx is None or rx.search(j["name"]))


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": MB, "GiB": 1024.0 * MB,
}
_TOTAL = re.compile(r"^\s*([0-9.]+)\s*(ms|s|m|h|B|KiB|MiB|GiB)\b")


def sql_metric_total(spans: list[Span], metric: str) -> float:
    """Σ of one SQL-node metric (seconds or bytes) over the spans' SQL
    executions.  Values read "total (min, med, max ...)\\n7.7 s (...)"."""
    total = 0.0
    for s in spans:
        for e in s.sql:
            for n in e.get("nodes", []):
                for m in n.get("metrics", []):
                    if m["name"] != metric:
                        continue
                    lines = m["value"].split("\n")
                    hit = _TOTAL.match(lines[-1] if len(lines) > 1 else lines[0])
                    if hit:
                        total += float(hit.group(1)) * _UNITS[hit.group(2)]
    return total
