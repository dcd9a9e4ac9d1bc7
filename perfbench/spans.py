"""In-memory span recorder and the Spark status-API child spans.

The benchmark wraps each of its calls into a layer of the program in a
span (name, layer, start, end, parent, run id). Spans are kept in
memory and written out once, when the run ends. After the run, Spark's
SQL executions, jobs and stages are read from the status REST API and
attached as child spans: a job or stage under the execution or job
that owns it, and an execution under the innermost benchmark span
whose interval contains it. A layer's self time is its spans'
durations minus the part of each interval that child spans cover.

Timed (untraced) runs use the same recorder with ``enabled=False``:
span durations still time the operations, but nothing is kept.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from datetime import datetime, timezone

# The status API prints times in whole milliseconds; a child that
# starts in the same millisecond as its parent may read up to 1 ms
# early.
_TOLERANCE_S = 0.002


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds (wall clock, comparable with Spark's)
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)
    _t0: float = 0.0  # perf_counter at start, for the duration

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, layer: str, **attrs):
        """Time the enclosed block. The yielded span's ``seconds`` is
        measured with the monotonic clock; ``start``/``end`` are wall
        clock so that Spark's own timestamps can be compared with
        them."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(self._next, name, layer, time.time(), parent=parent,
                 run_id=self.run_id, attrs=attrs, _t0=time.perf_counter())
        self._next += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = s.start + (time.perf_counter() - s._t0)
            if self.enabled:
                self.spans.append(s)

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None, **attrs) -> Span:
        """Record a span measured elsewhere (a Spark execution, job or
        stage)."""
        s = Span(self._next, name, layer, start, end, parent, self.run_id, attrs)
        self._next += 1
        self.spans.append(s)
        return s

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [{k: v for k, v in asdict(s).items() if k != "_t0"} for s in self.spans],
                f,
            )


def innermost(spans: list[Span], start: float, end: float) -> Span | None:
    """The shortest span whose interval contains [start, end]."""
    best = None
    for s in spans:
        if s.start - _TOLERANCE_S <= start and end <= s.end + _TOLERANCE_S:
            if best is None or s.seconds < best.seconds:
                best = s
    return best


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals``, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover.
    Children may overlap each other (concurrent jobs); the union is
    subtracted once."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.seconds - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


def descendants(spans: list[Span], root: int) -> list[Span]:
    """``root``'s span and every span below it."""
    kids: dict[int, list[Span]] = {}
    by_id = {}
    for s in spans:
        by_id[s.id] = s
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s)
    out, todo = [], [by_id[root]]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.id, []))
    return out


def layer_self_times(spans: list[Span], root: int) -> dict[str, float]:
    """Self time summed per layer over ``root``'s subtree."""
    sub = descendants(spans, root)
    own = self_times(sub)
    out: dict[str, float] = {}
    for s in sub:
        out[s.layer] = out.get(s.layer, 0.0) + own[s.id]
    return out


# ---------------------------------------------------------------- REST


def _epoch(ts: str) -> float:
    """'2026-10-17T02:43:33.093GMT' -> epoch seconds."""
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").replace(
        tzinfo=timezone.utc
    ).timestamp()


class StatusApi:
    """Reader for the status REST API of a live SparkContext."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=60) as r:
            return json.load(r)

    def settled(self, timeout_s: float = 10.0) -> None:
        """Wait until the status store has caught up: no job running
        and the job count unchanged between two reads."""
        deadline = time.monotonic() + timeout_s
        last = None
        while time.monotonic() < deadline:
            jobs = self.get("jobs")
            key = (len(jobs), sum(j["status"] == "RUNNING" for j in jobs))
            if key == last and key[1] == 0:
                return
            last = key
            time.sleep(0.25)

    def snapshot(self) -> dict:
        return {
            "sql": self.get("sql?details=true&planDescription=true&offset=0&length=100000"),
            "jobs": self.get("jobs"),
            "stages": self.get("stages"),
        }


def attach(tracer: Tracer, snap: dict) -> dict[int, Span]:
    """Add the snapshot's executions, jobs and stages to ``tracer`` as
    child spans. Returns the execution spans by execution id."""
    bench = list(tracer.spans)
    jobs = {j["jobId"]: j for j in snap["jobs"]}
    stages = {}
    for st in snap["stages"]:
        if "submissionTime" in st and "completionTime" in st:
            stages.setdefault(st["stageId"], []).append(st)
    exec_spans: dict[int, Span] = {}
    job_parent: dict[int, int] = {}
    for e in snap["sql"]:
        start = _epoch(e["submissionTime"])
        end = start + e["duration"] / 1000.0
        host = innermost(bench, start, end)
        s = tracer.add(f"sql {e['id']}", "spark.sql", start, end,
                       host.id if host else None, execution=e["id"])
        exec_spans[e["id"]] = s
        for jid in e["successJobIds"] + e["failedJobIds"] + e["runningJobIds"]:
            job_parent[jid] = s.id
    for jid, j in jobs.items():
        if "completionTime" not in j:
            continue
        start, end = _epoch(j["submissionTime"]), _epoch(j["completionTime"])
        parent = job_parent.get(jid)
        if parent is None:
            host = innermost(bench, start, end)
            parent = host.id if host else None
        js = tracer.add(f"job {jid}", "spark.job", start, end, parent, job=jid)
        for sid in j["stageIds"]:
            for st in stages.get(sid, []):
                # a job also lists the stages it skipped because an
                # earlier job already wrote their shuffle output; those
                # ran inside the earlier job, not this one
                if not start - _TOLERANCE_S <= _epoch(st["submissionTime"]) <= end + _TOLERANCE_S:
                    continue
                tracer.add(
                    f"stage {sid}.{st['attemptId']}", "spark.stage",
                    _epoch(st["submissionTime"]), _epoch(st["completionTime"]),
                    js.id, stage=sid,
                    shuffle_read=st.get("shuffleReadBytes", 0),
                    shuffle_write=st.get("shuffleWriteBytes", 0),
                )
    return exec_spans
