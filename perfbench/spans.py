"""Spans, Spark status-store counters and process memory for the benchmark.

Spans are recorded from the benchmark's own code around each call into a
program layer: name, start, end, parent span and op id.  They stay in
memory and are written as JSON lines at exit (`--trace 1` only).  A span's
self time is its duration minus the part of it its children cover.

Spark counts come from outside the program: every op runs in its own job
group, read back through `statusTracker` (jobs, stages) and the core status
store (tasks, input records, shuffle bytes); SQL executions started during
the op are read from the SQL status store (files read, write targets).
All of these are readable with `spark.ui.enabled=false`.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    name: str
    op_id: int
    parent: int  # index of the parent span, -1 at the root
    t0: float
    t1: float = 0.0


class Tracer:
    """Times every op (needed for the end-to-end numbers in both modes);
    with `enabled` it also keeps the span tree and the Spark counts."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op_id = 0
        self.bookkeeping_s = 0.0  # time spent reading counters, traced only
        self.ops_traced = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else -1
        s = Span(name, self._op_id, parent, time.perf_counter())
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def op(self, name: str):
        """One client operation.  Yields a dict; on exit it holds `ms`, and
        with tracing on also the Spark counts of the op's jobs."""
        self._op_id += 1
        rec: dict = {"name": name}
        counter = None
        if self.enabled:
            b0 = time.perf_counter()
            counter = SparkCounter(self.spark, f"bench-op-{self._op_id}")
            self.bookkeeping_s += time.perf_counter() - b0
        t0 = time.perf_counter()
        with self.span(f"op.{name}"):
            yield rec
        rec["ms"] = (time.perf_counter() - t0) * 1e3
        if counter is not None:
            b0 = time.perf_counter()
            rec.update(counter.finish())
            self.bookkeeping_s += time.perf_counter() - b0
            self.ops_traced += 1

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent >= 0:
                child[s.parent] += s.t1 - s.t0
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.t1 - s.t0) - child[i]
        return out

    def write(self, path: str) -> None:
        """Every span, one JSON object a line, then the self-time totals."""
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "op": s.op_id, "parent": s.parent,
                                    "name": s.name, "start": s.t0, "end": s.t1}) + "\n")
            f.write(json.dumps({"self_time_s": self.self_times()}) + "\n")


# the formatted plan's write node: "(n) Execute InsertIntoHadoopFsRelationCommand
# / Input: [] / Arguments: file:/out/path, false, Parquet, ..."
_WRITE_RE = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:Input.*\n)?Arguments: ([^,]+),"
)


def _java_list(jvm, seq):
    return list(jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq))


class SparkCounter:
    """Counts the Spark work of one op: set a fresh job group, remember the
    SQL execution count, and on `finish` sum over the group's jobs."""

    def __init__(self, spark, group: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.group = group
        self.jvm = self.sc._jvm
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.n_exec0 = self.sql_store.executionsCount()
        self.sc.setJobGroup(group, group)

    def finish(self) -> dict:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = tracker.getJobIdsForGroup(self.group)
        stages = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        tasks = input_records = shuffle_bytes = 0
        for sid in stages:
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage skipped by shuffle reuse never ran
                continue
            tasks += sd.numCompleteTasks()
            input_records += sd.inputRecords()
            shuffle_bytes += sd.shuffleWriteBytes()
        files_read, writes = self._sql_executions()
        return {
            "jobs": len(jobs),
            "tasks": tasks,
            "input_records": input_records,
            "shuffle_bytes": shuffle_bytes,
            "files_read": files_read,
            "writes": writes,
        }

    def _sql_executions(self):
        """(files read, [(write target path, ms)]) over the SQL executions
        this op started."""
        n1 = self.sql_store.executionsCount()
        files_read = 0
        writes = []
        if n1 <= self.n_exec0:
            return files_read, writes
        execs = _java_list(self.jvm, self.sql_store.executionsList(self.n_exec0, n1 - self.n_exec0))
        for e in execs:
            eid = e.executionId()
            values = dict(self.jvm.scala.jdk.javaapi.CollectionConverters.asJava(
                self.sql_store.executionMetrics(eid)))
            for m in _java_list(self.jvm, e.metrics()):
                if m.name() == "number of files read":
                    v = values.get(m.accumulatorId())
                    if v:
                        files_read += int(str(v).split("\n")[-1].replace(",", "").split()[0])
            hit = _WRITE_RE.search(e.physicalPlanDescription() or "")
            if hit and e.completionTime().isDefined():
                ms = e.completionTime().get().getTime() - e.submissionTime()
                writes.append((hit.group(1).strip(), ms))
        return files_read, writes


class MemorySampler:
    """Peak resident memory of the Spark JVM and of the Python processes
    (this driver plus the JVM's Python workers) during the timed loop, from
    /proc.  `start()` resets each process's kernel high-water mark (VmHWM)
    through `clear_refs`, so the generator, set-up and the correctness
    references do not count; `stop()` reads the marks.  The workers' figure
    is the largest sum of the marks of the workers alive at one sample, so
    a worker that exits and is replaced is not counted twice."""

    PERIOD_S = 0.5

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.jvm_peak_kb = 0
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def hwm_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    @staticmethod
    def reset_hwm(pid: int) -> None:
        """Set the process's VmHWM to its current RSS."""
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass

    def start(self) -> None:
        for pid in [os.getpid(), self.jvm_pid, *descendants(self.jvm_pid)]:
            self.reset_hwm(pid)
        self._thread.start()

    def _sample(self):
        self.jvm_peak_kb = max(self.jvm_peak_kb, self.hwm_kb(self.jvm_pid))
        live = sum(self.hwm_kb(pid) for pid in descendants(self.jvm_pid))
        self.workers_peak_kb = max(self.workers_peak_kb, live)

    def _run(self):
        while not self._stop.wait(self.PERIOD_S):
            self._sample()

    def stop(self) -> tuple[float, float]:
        """(jvm MB, python MB)."""
        self._stop.set()
        self._thread.join()
        self._sample()
        py_kb = self.hwm_kb(os.getpid()) + self.workers_peak_kb
        return self.jvm_peak_kb / 1024.0, py_kb / 1024.0


def _ppid_map() -> dict[int, int]:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            pass
    return out


def descendants(root: int) -> list[int]:
    ppid = _ppid_map()
    kids: dict[int, list[int]] = {}
    for pid, pp in ppid.items():
        kids.setdefault(pp, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
