"""Spans, job-group tags and Spark event-log accounting for the benchmark.

Every operation the benchmark times runs inside ``Tracer.op``, which tags
its Spark jobs with ``SparkContext.setJobGroup``. With tracing on, the
tracer also records nested spans (name, start, end, parent, operation id)
around calls into the repository's modules, and each span re-tags the jobs
started inside it, so the event log attributes every Spark job to the
innermost span that launched it. Spans stay in memory and are written out
once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None

    @property
    def dur(self) -> float:
        return self.end - self.start


def union_len(intervals: list[tuple[float, float]]) -> float:
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


class Tracer:
    """Operation tagging (always) and nested spans (when ``enabled``)."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self.n_ops = 0

    def _tag(self, span: Span | None) -> None:
        if span is None:
            self.sc.setJobGroup("bench:idle", "idle", False)
        else:
            self.sc.setJobGroup(f"bench:{span.op}:{span.id}", span.name, False)

    @contextmanager
    def span(self, name: str, op: bool = False):
        """A timed span; ``op=True`` opens a new operation id."""
        if not (self.enabled or op):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        op_id = self.n_ops if op else (parent.op if parent else None)
        if op:
            self.n_ops += 1
        s = Span(len(self.spans), name, time.perf_counter(), 0.0, parent.id if parent else None, op_id)
        self.spans.append(s)
        self._stack.append(s)
        if op or s.op is not None:
            self._tag(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if op or s.op is not None:
                self._tag(self._stack[-1] if self._stack else None)

    def op(self, name: str):
        return self.span(name, op=True)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Time every call to ``owner.attr`` as a span (tracing on only)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def children(self, sid: int) -> list[Span]:
        return [c for c in self.spans if c.parent == sid]

    def self_time(self, s: Span) -> float:
        return s.dur - union_len([(c.start, c.end) for c in self.children(s.id)])

    def self_times(self, root_ids: list[int]) -> dict[str, float]:
        """Self time per span name, over the subtrees under ``root_ids``."""
        out: dict[str, float] = {}
        todo = list(root_ids)
        while todo:
            sid = todo.pop()
            s = self.spans[sid]
            out[s.name] = out.get(s.name, 0.0) + self.self_time(s)
            todo.extend(c.id for c in self.children(sid))
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


@dataclass
class Job:
    id: int
    group: str
    submit_ms: int
    end_ms: int
    stages: list[int]


def read_event_log(log_dir: str) -> tuple[dict[int, Job], dict[int, dict]]:
    """Jobs (with their job group) and per-stage task totals from the one
    application log in ``log_dir``."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(files)}")
    jobs: dict[int, Job] = {}
    stages: dict[int, dict] = {}

    def stage(sid: int) -> dict:
        return stages.setdefault(
            sid,
            {"tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0, "spill": 0, "failed_tasks": 0},
        )

    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = Job(
                    ev["Job ID"], props.get("spark.jobGroup.id", ""), ev["Submission Time"], ev["Submission Time"], list(ev["Stage IDs"])
                )
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                st = stage(ev["Stage ID"])
                st["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                    st["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                st["run_ms"] += m.get("Executor Run Time", 0)
                st["cpu_ns"] += m.get("Executor CPU Time", 0)
                st["gc_ms"] += m.get("JVM GC Time", 0)
                st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return jobs, stages


def spark_metrics(
    jobs: dict[int, Job], stages: dict[int, dict], op_walls: dict[int, tuple[float, float]], t_origin: float
) -> dict[int, dict]:
    """Spark counters for each operation in ``op_walls``.

    ``op_walls`` maps operation id to its (start, end) on the
    ``time.perf_counter`` clock; ``t_origin`` is the wall-clock epoch
    second that matches perf_counter zero, so job times (epoch ms) can be
    set against operation intervals for the driver gap.
    """
    per_op: dict[int, dict] = {}
    for j in jobs.values():
        parts = j.group.split(":")
        if len(parts) != 3 or parts[0] != "bench" or not parts[1].isdigit():
            continue
        op = int(parts[1])
        if op not in op_walls:
            continue
        d = per_op.setdefault(op, {"jobs": 0, "stage_ids": set(), "intervals": []})
        d["jobs"] += 1
        d["stage_ids"].update(s for s in j.stages if s in stages)
        d["intervals"].append((j.submit_ms / 1000 - t_origin, j.end_ms / 1000 - t_origin))
    out: dict[int, dict] = {}
    for op, (start, end) in op_walls.items():
        d = per_op.get(op, {"jobs": 0, "stage_ids": set(), "intervals": []})
        sts = [stages[s] for s in d["stage_ids"]]
        clipped = [(max(a, start), min(b, end)) for a, b in d["intervals"] if b > start and a < end]
        out[op] = {
            "spark.jobs": d["jobs"],
            "spark.stages": len(sts),
            "spark.tasks": sum(s["tasks"] for s in sts),
            "spark.single_task_stages": sum(1 for s in sts if s["tasks"] == 1),
            "spark.executor_run_s": sum(s["run_ms"] for s in sts) / 1000,
            "spark.executor_cpu_s": sum(s["cpu_ns"] for s in sts) / 1e9,
            "spark.gc_s": sum(s["gc_ms"] for s in sts) / 1000,
            "spark.shuffle_write_bytes": sum(s["shuffle_write"] for s in sts),
            "spark.spill_bytes": sum(s["spill"] for s in sts),
            "spark.failed_tasks": sum(s["failed_tasks"] for s in sts),
            "spark.driver_gap_s": (end - start) - union_len(clipped),
            "last_stage_tasks": stages[max(d["stage_ids"])]["tasks"] if d["stage_ids"] else 0,
        }
    return out


SPARK_KEYS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.single_task_stages",
    "spark.executor_run_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.failed_tasks",
    "spark.driver_gap_s",
)
