"""Spans around every public call into a layer, and the Spark counters
behind them.

Every span times its call.  In a traced run it also sets a Spark job group
(``pb-<n>``) on the calling thread before the call, so each job the call
starts carries the span's id into the event log.  After the session stops,
:func:`span_counters` reads the event log and sums each span's jobs,
stages, tasks, shuffle, input, spill and executor CPU.

Jobs started from helper threads inside the package do not inherit the
group.  Because the benchmark is a single client whose spans never
overlap, such a job still belongs to the span whose interval contains its
submission time; it is attributed that way, and the share of task time
that needed this fallback is reported as ``trace.unattributed_frac``.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"


@dataclass
class Span:
    name: str
    group: str
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Times calls; in a traced run also tags their Spark jobs."""

    spark: object = None
    traced: bool = False
    spans: list[Span] = field(default_factory=list)
    _n: int = 0

    @contextmanager
    def span(self, name: str):
        self._n += 1
        sp = Span(name, f"{GROUP_PREFIX}{self._n}", time.time())
        if self.traced:
            self.spark.sparkContext.setJobGroup(sp.group, name)
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            dt = time.perf_counter() - t0
            sp.end = sp.start + dt
            self.spans.append(sp)

    def durations(self, name: str) -> list[float]:
        return [s.end - s.start for s in self.spans if s.name == name]


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class _Job:
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)


@dataclass
class _Agg:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    shuffle_b: float = 0.0
    input_b: float = 0.0
    spill_b: float = 0.0
    job_windows: list[tuple[float, float]] = field(default_factory=list)


def read_event_log(log_dir: str) -> tuple[dict[int, _Job], dict[int, dict]]:
    """(jobs, per-stage task metric sums) from the one application log in
    ``log_dir``."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(paths)}")
    jobs: dict[int, _Job] = {}
    stages: dict[int, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = _Job(
                    props.get("spark.jobGroup.id"),
                    ev["Submission Time"] / 1000.0,
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                st = stages.setdefault(
                    ev["Stage ID"],
                    {"tasks": 0, "run_ms": 0.0, "cpu_ns": 0.0, "shuffle_b": 0.0,
                     "input_b": 0.0, "spill_b": 0.0},
                )
                st["tasks"] += 1
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["shuffle_b"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["input_b"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["spill_b"] += m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def _union_ms(windows: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Milliseconds of [lo, hi] covered by the union of ``windows``."""
    cov, cur = 0.0, lo
    for a, b in sorted(windows):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            cov += b - a
            cur = b
    return cov * 1000.0


def span_counters(
    spans: list[Span], log_dir: str, cores: int
) -> tuple[dict[str, dict[str, float]], float]:
    """Per span name, the mean per call of every span counter;
    plus the share of all task time whose job lacked a span's group."""
    jobs, stages = read_event_log(log_dir)
    by_group = {s.group: s for s in spans}
    ordered = sorted(spans, key=lambda s: s.start)
    starts = [s.start for s in ordered]

    def owner(job: _Job) -> tuple[Span | None, bool]:
        if job.group in by_group:
            return by_group[job.group], True
        i = bisect.bisect_right(starts, job.submit) - 1
        if i >= 0 and job.submit <= ordered[i].end:
            return ordered[i], False
        return None, False

    per_span: dict[str, _Agg] = {}
    seen_stage: set[int] = set()
    total_ms = fallback_ms = 0.0
    for jid in sorted(jobs):
        job = jobs[jid]
        sp, tagged = owner(job)
        ran = [s for s in job.stages if s in stages and s not in seen_stage]
        seen_stage.update(ran)
        run_ms = sum(stages[s]["run_ms"] for s in ran)
        total_ms += run_ms
        if not tagged:
            fallback_ms += run_ms
        if sp is None:
            continue
        a = per_span.setdefault(sp.group, _Agg())
        a.jobs += 1
        a.stages += len(ran)
        a.job_windows.append((job.submit, job.end or job.submit))
        for s in ran:
            st = stages[s]
            a.tasks += st["tasks"]
            a.run_ms += st["run_ms"]
            a.cpu_ns += st["cpu_ns"]
            a.shuffle_b += st["shuffle_b"]
            a.input_b += st["input_b"]
            a.spill_b += st["spill_b"]

    out: dict[str, dict[str, float]] = {}
    calls: dict[str, list[Span]] = {}
    for s in spans:
        calls.setdefault(s.name, []).append(s)
    for name, ss in calls.items():
        aggs = [per_span.get(s.group, _Agg()) for s in ss]
        n = len(ss)
        wall = sum(s.end - s.start for s in ss)
        out[name] = {
            "jobs": sum(a.jobs for a in aggs) / n,
            "stages": sum(a.stages for a in aggs) / n,
            "tasks": sum(a.tasks for a in aggs) / n,
            "shuffle_mb": sum(a.shuffle_b for a in aggs) / n / 1e6,
            "input_mb": sum(a.input_b for a in aggs) / n / 1e6,
            "spill_mb": sum(a.spill_b for a in aggs) / n / 1e6,
            "cpu_s": sum(a.cpu_ns for a in aggs) / n / 1e9,
            "core_busy_frac": sum(a.run_ms for a in aggs) / 1000.0 / (wall * cores)
            if wall > 0 else 0.0,
            "driver_ms": sum(
                (s.end - s.start) * 1000.0 - _union_ms(a.job_windows, s.start, s.end)
                for s, a in zip(ss, aggs)
            ) / n,
        }
    return out, (fallback_ms / total_ms if total_ms else 0.0)
