"""Spans and Spark status for the traced run.

``Tracer`` keeps spans in memory (name, start, end, parent, trace id per
call) and writes them out when the run ends.  ``SparkStatus`` reads, for
one Spark job group, the jobs (``statusTracker``) and their stages' task
metrics from the driver's status REST API (``sc.uiWebUrl`` + ``/api/v1``,
served by the driver itself on localhost).
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone
from urllib.parse import urlsplit


@dataclass
class Span:
    name: str
    trace_id: int
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, trace_id: int, **attrs):
        """Record a span; the innermost open span is its parent."""
        s = Span(name, trace_id, self._open[-1] if self._open else None,
                 time.time(), attrs=attrs)
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def dump(self) -> list[dict]:
        selfs = self_times(self.spans)
        return [dict(asdict(s), id=i, self_s=selfs[i])
                for i, s in enumerate(self.spans)]


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def covered(start: float, end: float,
            intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    clipped = [(max(s, start), min(e, end)) for s, e in intervals]
    return _union_length([(s, e) for s, e in clipped if e > s])


def self_times(spans: list[Span]) -> list[float]:
    """Each span's duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [s.duration - covered(s.start, s.end, children.get(i, []))
            for i, s in enumerate(spans)]


def _ts(text: str) -> float:
    """Status API timestamp ("2026-01-01T10:00:00.123GMT") -> epoch s."""
    return (datetime.strptime(text[:-3], "%Y-%m-%dT%H:%M:%S.%f")
            .replace(tzinfo=timezone.utc).timestamp())


class SparkStatus:
    def __init__(self, sc) -> None:
        self.sc = sc
        # the UI binds every interface; ask it on the loopback address
        port = urlsplit(sc.uiWebUrl).port
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def group_stats(self, group: str, wait_s: float = 10.0) -> dict:
        """Jobs, job intervals and summed stage metrics of a job group.

        The status store is fed asynchronously by the listener bus, so this
        waits (bounded) until every job of the group shows as finished."""
        ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        deadline = time.time() + wait_s
        while True:
            jobs = [self._get(f"/jobs/{j}") for j in ids]
            if all(j.get("completionTime") for j in jobs) \
                    or time.time() > deadline:
                break
            time.sleep(0.05)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        out = {"jobs": len(jobs), "task_s": 0.0, "gc_s": 0.0,
               "shuffle_bytes": 0, "intervals": []}
        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                out["intervals"].append((_ts(j["submissionTime"]),
                                         _ts(j["completionTime"])))
        for sid in stage_ids:
            for att in self._get(f"/stages/{sid}"):
                if att["status"] == "SKIPPED":
                    continue
                out["task_s"] += att["executorRunTime"] / 1000.0
                out["gc_s"] += att["jvmGcTime"] / 1000.0
                out["shuffle_bytes"] += (att["shuffleReadBytes"]
                                         + att["shuffleWriteBytes"])
        return out

    def storage(self) -> dict[int, int]:
        """RDD id -> bytes held in memory or on disk by the block manager."""
        return {r["id"]: r["memoryUsed"] + r["diskUsed"]
                for r in self._get("/storage/rdd")}
