"""Tracing from outside the program: spans around calls into each
layer's public functions, and Spark's own per-operation counters.

Spans (name, start, end, parent, op id) are kept in memory and written
out once, when the run ends. Layer functions are wrapped at run time
in the benchmark process only; the program's files are untouched.
Spark counters are read from the application status store after each
operation (every operation runs under its own ``setJobGroup`` tag, one
at a time, so the jobs a status read finds new belong to it)."""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op_id: int | None
    index: int


class Tracer:
    """Records spans while ``active``; when inactive every hook is a
    plain pass-through."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.op_id: int | None = None
        self._stack: list[int] = []
        # (op id, name) → counter filled by the wrappers
        self.counts: dict[tuple[int | None, str], float] = {}

    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, time.perf_counter(), 0.0, parent, self.op_id, idx)
        self.spans.append(s)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            s.end = time.perf_counter()

    def count(self, name: str, value: float) -> None:
        if self.active:
            key = (self.op_id, name)
            self.counts[key] = self.counts.get(key, 0.0) + value

    def wrap(self, owner: object, attr: str, span_name: str, hook=None) -> None:
        """Replace ``owner.attr`` (a module function or a class method)
        with a wrapper that records a span. Modules of the package that
        imported the same function by name are re-pointed as well.
        ``hook(args, kwargs)`` may return a callback run after the call
        with its result, for counters that need before/after state."""
        original = getattr(owner, attr)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return original(*args, **kwargs)
            after = hook(args, kwargs) if hook else None
            with tracer.span(span_name):
                out = original(*args, **kwargs)
            if after is not None:
                after(out)
            return out

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m
                for n, m in list(sys.modules.items())
                if n.startswith("batch_processing_on_aws_spark")
                and m is not owner
                and getattr(m, attr, None) is original
            ]
        for t in targets:
            setattr(t, attr, wrapper)

    # -- summaries ------------------------------------------------------

    def durations(self, op_ids: set[int]) -> dict[str, float]:
        """Total span time per name over the given operations. A span
        nested in a span of the same name (an operator calling its
        sibling) is already inside its parent's time and is skipped."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op_id not in op_ids:
                continue
            if s.parent is not None and self.spans[s.parent].name == s.name:
                continue
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start)
        return out

    def counted(self, op_ids: set[int]) -> dict[str, float]:
        out: dict[str, float] = {}
        for (op, name), v in self.counts.items():
            if op in op_ids:
                out[name] = out.get(name, 0.0) + v
        return out

    def self_times(self, op_ids: set[int]) -> dict[str, float]:
        """Span time minus the part covered by direct child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for s in self.spans:
            if s.op_id in op_ids:
                own = (s.end - s.start) - child.get(s.index, 0.0)
                out[s.name] = out.get(s.name, 0.0) + own
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class SparkCounters:
    """Reads the jobs and stages that ran since the previous read."""

    FIELDS = (
        "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
        "shuffle_write_mb", "spill_mb", "gc_s", "input_mb", "input_rows",
        "output_mb", "stage_covered_s",
    )

    def __init__(self, sc) -> None:
        self.store = sc._jsc.sc().statusStore()
        self.last_job = self._newest_job()

    def skip(self) -> None:
        """Forget the jobs run so far (untraced work)."""
        self.last_job = self._newest_job()

    def _newest_job(self) -> int:
        jobs = self.store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def read(self, t0: float, t1: float) -> dict[str, float]:
        """Counters of the jobs started since the last read. ``t0``/
        ``t1`` are the operation's wall-clock (``time.time``) bounds,
        used to measure how much of it some stage was running."""
        out = dict.fromkeys(self.FIELDS, 0.0)
        jobs = self.store.jobsList(None)  # newest first
        stage_ids: set[int] = set()
        newest = self.last_job
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid <= self.last_job:
                break
            newest = max(newest, jid)
            out["jobs"] += 1
            ids = j.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        self.last_job = newest
        intervals = []
        for sid in stage_ids:
            try:
                s = self.store.lastStageAttempt(sid)
            except Py4JJavaError:  # evicted from the store: nothing to read
                continue
            start = _opt_ms(s.submissionTime())
            if start is None:  # skipped stage (shuffle output reused)
                continue
            end = _opt_ms(s.completionTime()) or t1
            intervals.append((max(start, t0), min(end, t1)))
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["shuffle_write_mb"] += s.shuffleWriteBytes() / 1e6
            out["spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / 1e6
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["input_mb"] += s.inputBytes() / 1e6
            out["input_rows"] += s.inputRecords()
            out["output_mb"] += s.outputBytes() / 1e6
        out["stage_covered_s"] = _union_length(intervals)
        return out


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# files and memory
# ---------------------------------------------------------------------------


def file_sizes(root: str) -> dict[str, int]:
    """Relative path → size of every data file under ``root``."""
    out: dict[str, int] = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            p = os.path.join(d, f)
            out[os.path.relpath(p, root)] = os.path.getsize(p)
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0
