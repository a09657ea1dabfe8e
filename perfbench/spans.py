"""Spans around the calls into each layer, and the per-layer counters
read back from the Spark REST status store.

A ``Tracer`` records one span per timed public call: name, start, end
and the span that was open when it started. With tracing on, each span
also tags the Spark jobs it launches with its own job group, so after
the run ``layer_table`` can attribute every job, and the stages of
every job, to exactly one span. Jobs launched from helper threads carry
no group (a job group is a thread-local property); those are attributed
to the innermost span open when they were submitted.

REST reads happen only after the measured window, never inside it.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import json
import time
import urllib.request
from dataclasses import dataclass, field


@dataclass
class Span:
    seq: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_no: int = 0
    group: str | None = None

    @property
    def s(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; with ``sc`` given, also sets a job group per span."""

    sc: object | None = None
    spans: list[Span] = field(default_factory=list)
    pass_no: int = 0
    _stack: list[Span] = field(default_factory=list)

    def _set_group(self, group: str | None) -> None:
        if self.sc is None:
            return
        if group is None:
            self.sc._jsc.clearJobGroup()
        else:
            self.sc.setJobGroup(group, group)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sp = Span(seq=len(self.spans), name=name, start=time.time(),
                  parent=parent.seq if parent else None, pass_no=self.pass_no)
        if self.sc is not None:
            sp.group = f"pb{sp.seq}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)


# ------------------------------------------------------------ statistics

def median(values: list[float]) -> float:
    v = sorted(values)
    n = len(v)
    if n == 0:
        raise ValueError("median of no samples")
    return v[n // 2] if n % 2 else (v[n // 2 - 1] + v[n // 2]) / 2


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float]:
    """The highest percentile that has at least ``min_beyond`` samples
    strictly beyond it, as ``(value, percentile)``.

    With n sorted samples, the sample at index i has n-1-i samples
    beyond it, so the answer is index n-1-min_beyond. Below
    min_beyond+1 samples no percentile qualifies and the median is
    returned (percentile 50), so the figure never rests on fewer than
    ten samples of tail."""
    v = sorted(values)
    n = len(v)
    i = n - 1 - min_beyond
    if i < (n - 1) // 2:
        return median(v), 50.0
    return v[i], 100.0 * (i + 1) / n


def covered(interval: tuple[float, float], parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span: Span, children: list[Span]) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return span.s - covered((span.start, span.end),
                            [(c.start, c.end) for c in children])


# ------------------------------------------------------------- REST data

def _rest_time(text: str | None) -> float | None:
    """'2026-10-16T23:38:44.123GMT' -> epoch seconds."""
    if not text:
        return None
    return dt.datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%fGMT").replace(
        tzinfo=dt.timezone.utc).timestamp()


def fetch_rest(ui_url: str, app_id: str, timeout_s: float = 60.0) -> tuple[list, list]:
    """All jobs and stage attempts of the application, once the status
    store has caught up: no job still running and two reads in a row
    agreeing on the job count."""
    base = f"{ui_url.rstrip('/')}/api/v1/applications/{app_id}"

    def get(path: str):
        with urllib.request.urlopen(f"{base}/{path}", timeout=30) as resp:
            return json.loads(resp.read())

    deadline = time.time() + timeout_s
    last = -1
    while True:
        jobs = get("jobs")
        stages = get("stages")
        busy = any(j["status"] == "RUNNING" for j in jobs)
        if not busy and len(jobs) == last:
            return jobs, stages
        if time.time() > deadline:
            raise RuntimeError("Spark status store did not settle")
        last = len(jobs)
        time.sleep(0.3)


COUNTERS = ("s", "self_s", "jobs", "task_s", "driver_s", "shuffle_mb",
            "spill_mb", "fetch_wait_s", "input_rows")


def attribute_jobs(spans: list[Span], jobs: list[dict]) -> dict[int, list[dict]]:
    """span seq -> its jobs. A job whose group names a span goes to that
    span; any other job goes to the innermost span open at its
    submission. Jobs outside every span stay unattributed (key -1)."""
    by_group = {sp.group: sp.seq for sp in spans if sp.group}
    out: dict[int, list[dict]] = {}
    for j in jobs:
        seq = by_group.get(j.get("jobGroup"))
        if seq is None:
            t = _rest_time(j.get("submissionTime"))
            best = None
            for sp in spans:
                if t is not None and sp.start - 0.002 <= t <= sp.end + 0.002:
                    if best is None or sp.start >= best.start:
                        best = sp
            seq = best.seq if best else -1
        out.setdefault(seq, []).append(j)
    return out


def span_counters(span: Span, children: list[Span], jobs: list[dict],
                  stages_of: dict[int, list[dict]]) -> dict[str, float]:
    """The counters of one span from its own jobs (jobs of child spans
    are the children's); ``stages_of`` maps a job id to the stage
    attempts it ran."""
    c = {k: 0.0 for k in COUNTERS}
    c["s"] = span.s
    c["self_s"] = self_time(span, children)
    c["jobs"] = len(jobs)
    intervals = []
    for j in jobs:
        a = _rest_time(j.get("submissionTime"))
        b = _rest_time(j.get("completionTime")) or span.end
        if a is not None:
            intervals.append((a, b))
        for st in stages_of.get(j["jobId"], []):
            c["task_s"] += st.get("executorRunTime", 0) / 1000.0
            c["shuffle_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            c["spill_mb"] += st.get("memoryBytesSpilled", 0) / 1e6
            c["fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1000.0
            c["input_rows"] += st.get("inputRecords", 0)
    # Time of the span's own interval (children excluded) not covered by
    # any of its jobs: planning, Python and result handling.
    own = [(ch.start, ch.end) for ch in children]
    c["driver_s"] = max(0.0, c["self_s"] - (
        covered((span.start, span.end), intervals + own)
        - covered((span.start, span.end), own)))
    return c


def layer_table(spans: list[Span], jobs: list[dict], stages: list[dict],
                passes: set[int]) -> dict:
    """Per span name: each counter summed over the span's instances in a
    pass, then the median over ``passes``. Also returns the task time
    of every pass number (all of that pass's spans; each job counts for
    the one span it is attributed to) and the job reconciliation: jobs
    attributed to some span vs. the application total."""
    stages_by_id: dict[int, list[dict]] = {}
    for st in stages:
        stages_by_id.setdefault(st["stageId"], []).append(st)
    # A stage a later job reuses (listed, but skipped) counts once: for
    # the first job that lists it.
    stages_of: dict[int, list[dict]] = {}
    seen: set[int] = set()
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        own = [sid for sid in j.get("stageIds", []) if sid not in seen]
        seen.update(own)
        stages_of[j["jobId"]] = [st for sid in own for st in stages_by_id.get(sid, [])]
    by_span = attribute_jobs(spans, jobs)
    children: dict[int, list[Span]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append(sp)
    per_pass: dict[str, dict[int, dict[str, float]]] = {}
    pass_task_s: dict[int, float] = {}
    for sp in spans:
        c = span_counters(sp, children.get(sp.seq, []), by_span.get(sp.seq, []),
                          stages_of)
        slot = per_pass.setdefault(sp.name, {}).setdefault(
            sp.pass_no, {k: 0.0 for k in COUNTERS})
        for k, v in c.items():
            slot[k] += v
        pass_task_s[sp.pass_no] = pass_task_s.get(sp.pass_no, 0.0) + c["task_s"]
    table = {}
    for name, by_pass in per_pass.items():
        rows = [by_pass[p] for p in sorted(passes) if p in by_pass]
        if rows:
            table[name] = {k: median([r[k] for r in rows]) for k in COUNTERS}
    attributed = sum(len(v) for k, v in by_span.items() if k != -1)
    return {"spans": table, "pass_task_s": pass_task_s,
            "jobs_attributed": attributed,
            "jobs_total": len(jobs),
            "jobs_by_thread_fallback": sum(
                1 for j in jobs if not j.get("jobGroup"))}


def utilization(spans: list[Span], pass_task_s: dict[int, float], root: str,
                passes: set[int], nproc: int) -> float:
    """Median over ``passes`` of the pass's task time over the pass's
    wall time (its ``root`` span) times ``nproc``. Spans of set-up and
    check phases carry other pass numbers and never count."""
    walls = {sp.pass_no: sp.s for sp in spans if sp.name == root}
    return median([pass_task_s.get(p, 0.0) / (walls[p] * nproc)
                   for p in sorted(passes) if p in walls])
