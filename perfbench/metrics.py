"""Spark-free metric arithmetic: medians, ratios, spans, self time, and
attribution of Spark event-log jobs and tasks to spans by time window.

Everything here works on plain numbers and dicts so ``test_metrics.py``
can check it without a Spark session.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def ratio(num: float, den: float) -> float:
    """num / den, or 0.0 when the base is empty (no work of that kind ran,
    e.g. no maybe-seen rows because the Bloom directory was not probed)."""
    return num / den if den else 0.0


# ------------------------------------------------------------------ spans
@dataclass
class Span:
    run: str
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds, comparable with Spark event-log times
    end: float
    iteration: int

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder, written out when the run ends. A disabled
    tracer records nothing."""

    def __init__(self, run: str, enabled: bool):
        self.run = run
        self.enabled = enabled
        self.spans: list[Span] = []
        self.iteration = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(self.run, sid, parent, name, time.time(), 0.0,
                               self.iteration))
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[sid].end = time.time()

    def write_jsonl(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(asdict(s)) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval its children cover."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.id, []), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = s.duration - covered
    return out


def innermost(spans: list[Span], t: float) -> Span | None:
    """The deepest span whose [start, end) holds time ``t`` — spans nest,
    so among those holding ``t`` it is the one that started last."""
    best = None
    for s in spans:
        if s.start <= t < s.end and (best is None or s.start >= best.start):
            best = s
    return best


# ------------------------------------------------------------ event log
def parse_event_log(lines) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from Spark event-log JSON lines; times in epoch
    seconds. Unparseable lines (a truncated tail) are skipped."""
    jobs, tasks = [], []
    for line in lines:
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append({"job": ev["Job ID"], "submit": ev["Submission Time"] / 1e3})
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            wr = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "launch": info.get("Launch Time", 0) / 1e3,
                "finish": info.get("Finish Time", 0) / 1e3,
                "gc_s": m.get("JVM GC Time", 0) / 1e3,
                "shuffle_write_bytes": wr.get("Shuffle Bytes Written", 0),
            })
    return jobs, tasks


def attribute(spans: list[Span], jobs: list[dict], tasks: list[dict]) -> dict[int, dict]:
    """Per span: Spark jobs submitted, shuffle bytes written and GC seconds
    of tasks finished while it was the innermost open span (self
    attribution), and ``busy_s``, the task wall time overlapping its whole
    interval (the numerator of a task-busy ratio)."""
    out = {s.id: {"jobs": 0, "shuffle_write_bytes": 0, "gc_s": 0.0,
                  "busy_s": 0.0} for s in spans}
    for j in jobs:
        s = innermost(spans, j["submit"])
        if s is not None:
            out[s.id]["jobs"] += 1
    for t in tasks:
        s = innermost(spans, t["finish"])
        if s is not None:
            out[s.id]["shuffle_write_bytes"] += t["shuffle_write_bytes"]
            out[s.id]["gc_s"] += t["gc_s"]
        for s in spans:
            lo, hi = max(t["launch"], s.start), min(t["finish"], s.end)
            if hi > lo:
                out[s.id]["busy_s"] += hi - lo
    return out


def span_seconds(spans: list[Span], iterations: list[int]) -> dict[str, float]:
    """Per span name, the median over traced iterations of the summed
    (inclusive) duration of that name's spans; 0.0 in an iteration
    without one."""
    per: dict[str, dict[int, float]] = {}
    for s in spans:
        by_it = per.setdefault(s.name, {})
        by_it[s.iteration] = by_it.get(s.iteration, 0.0) + s.duration
    return {name: median([by_it.get(i, 0.0) for i in iterations])
            for name, by_it in per.items()}


def jobs_within(spans: list[Span], jobs: list[dict]) -> int:
    """Jobs submitted inside any of ``spans`` (children included)."""
    return sum(1 for j in jobs if any(s.start <= j["submit"] < s.end for s in spans))


def iteration_totals(spans: list[Span], attributed: dict[int, dict],
                     iterations: list[int], cores: int) -> dict[str, float]:
    """Whole-iteration Spark counters (median over traced iterations) and
    the task-busy ratio over the iterations' root spans."""
    rows = []
    for i in iterations:
        mine = [s for s in spans if s.iteration == i]
        rows.append({k: sum(attributed[s.id][k] for s in mine)
                     for k in ("jobs", "shuffle_write_bytes", "gc_s")})
    roots = [s for s in spans if s.parent is None and s.iteration in iterations]
    out = {k: median([r[k] for r in rows]) for k in ("jobs", "shuffle_write_bytes", "gc_s")}
    out["task_busy_ratio"] = ratio(
        sum(attributed[s.id]["busy_s"] for s in roots),
        sum(s.duration for s in roots) * cores,
    )
    return out


def layer_rollup(spans: list[Span], attributed: dict[int, dict],
                 iterations: list[int], cores: int) -> dict[str, dict]:
    """Per layer, the median over traced iterations of: self seconds, Spark
    jobs, shuffle bytes and GC seconds (self-attributed, so layers add up
    without double counting), and the task-busy ratio over all the layer's
    spans."""
    selfs = self_times(spans)
    keys = ("self_s", "jobs", "shuffle_write_bytes", "gc_s")
    per: dict[str, dict[int, dict]] = {}
    busy: dict[str, list[float]] = {}
    for s in spans:
        if s.iteration not in iterations:
            continue
        it = per.setdefault(s.layer, {}).setdefault(s.iteration, dict.fromkeys(keys, 0))
        a = attributed[s.id]
        it["self_s"] += selfs[s.id]
        for k in keys[1:]:
            it[k] += a[k]
        b = busy.setdefault(s.layer, [0.0, 0.0])
        b[0] += a["busy_s"]
        b[1] += s.duration
    out = {}
    for layer, by_it in per.items():
        rows = [by_it.get(i, dict.fromkeys(keys, 0)) for i in iterations]
        out[layer] = {k: median([r[k] for r in rows]) for k in keys}
        out[layer]["task_busy_ratio"] = ratio(busy[layer][0], busy[layer][1] * cores)
    return out
