"""In-memory spans around the engine's public calls, joined with Spark's
own counters read from outside the engine.

A span is (id, name, layer, start, end, parent). Every span runs under
its own Spark job group, so after the span ends the jobs it caused are
found with ``statusTracker().getJobIdsForGroup`` and read back from
Spark's status stores:

- ``sc.statusStore().job(id)`` / ``lastStageAttempt(id)``: job spans,
  stages, tasks, executor run/CPU/GC time, input, shuffle and spill;
- the SQL status store's ``planGraph`` and ``executionMetrics``: files
  and partitions read by scans, rows scanned, and the time and bytes of
  Python-worker nodes.

Jobs become child spans of the span whose group ran them. Nothing here
changes engine code: a disabled tracer records nothing and sets no job
group.
"""

from __future__ import annotations

import itertools
import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    op: int | None  # id of the root span (one closed-loop operation)
    groups: list[str] = field(default_factory=list)


@dataclass
class Job:
    id: int
    span: int
    start: float
    end: float
    name: str
    stages: int
    tasks: int


#: per-op Spark counters, summed over every job and SQL execution of
#: the op; the traced run reports their mean over ops
COUNTERS = (
    "jobs", "stages", "tasks", "driver_gap_ms",
    "input_bytes", "files_read", "partitions_read", "rows_scanned",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "python_ms", "python_bytes",
    "executor_run_ms", "executor_cpu_ms", "gc_ms",
)

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6,
}
_VALUE_RE = re.compile(r"([-0-9.,]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """A SQL metric as the status store formats it — ``"1,234"``, or
    ``"total (min, med, max ...)\\n12.5 MiB (...)"`` — as a number, in
    bytes for sizes and milliseconds for times."""
    line = text.split("\n")[1] if "\n" in text else text
    m = _VALUE_RE.match(line.strip())
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * _UNITS.get(m.group(2) or "", 1)


def union_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` second intervals, in ms."""
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
    return total * 1e3


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self.jobs: list[Job] = []
        self.op_counters: dict[int, dict[str, float]] = {}
        #: (op id, description) of every SQL execution an op ran
        self.executions: list[tuple[int, str]] = []
        self._exec_seen = 0
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        #: time spent in the tracer's own hooks inside operations — the
        #: cost tracing adds to a traced run's walls
        self.hook_s = 0.0
        self._sc = spark.sparkContext

    # ------------------------------------------------------------ recording
    @contextmanager
    def span(self, name: str, layer: str):
        """Record one span; jobs started inside it land in its group."""
        if not self.enabled:
            yield None
            return
        t_hook = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sid = next(self._ids)
        sp = Span(sid, name, layer, time.time(), 0.0,
                  parent.id if parent else None,
                  parent.op if parent else sid, [f"perfbench-{sid}"])
        self._stack.append(sp)
        # the group id only: job and SQL descriptions keep the caller's
        # call site ("collect at dedup.py:517"), which tells probes apart
        self._sc.setLocalProperty("spark.jobGroup.id", sp.groups[0])
        self.hook_s += time.perf_counter() - t_hook
        try:
            yield sp
        finally:
            t_hook = time.perf_counter()
            sp.end = time.time()
            self._stack.pop()
            self._sc.setLocalProperty(
                "spark.jobGroup.id", parent.groups[0] if parent else None
            )
            self.spans.append(sp)
            self.hook_s += time.perf_counter() - t_hook

    def add_group(self, group: str) -> None:
        """Attribute another job group (a streaming query's run id, whose
        micro-batches run on the query's own thread) to the open span."""
        if self.enabled and self._stack:
            self._stack[-1].groups.append(group)

    # ------------------------------------------------------------- readout
    def finish_op(self) -> None:
        """Read the status stores for the operation that just finished.
        The caller runs it after the operation's wall clock stopped."""
        root = self.spans[-1]
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._sc._jsc.sc().statusStore()
        tracker = self._sc.statusTracker()
        c = dict.fromkeys(COUNTERS, 0.0)
        op_spans = [s for s in self.spans if s.op == root.id]
        job_ids: set[int] = set()
        for sp in op_spans:
            for g in sp.groups:
                for jid in tracker.getJobIdsForGroup(g):
                    job_ids.add(jid)
                    self._read_job(store, jid, sp.id, c)
        c["jobs"] = len(job_ids)
        jobs = [j for j in self.jobs if j.id in job_ids]
        c["driver_gap_ms"] = (root.end - root.start) * 1e3 - union_ms(
            [(max(j.start, root.start), min(j.end, root.end)) for j in jobs]
        )
        self._read_sql(root.id, job_ids, c)
        self.op_counters[root.id] = c

    def _read_job(self, store, jid: int, span_id: int, c: dict) -> None:
        try:
            jd = store.job(jid)
        except Py4JJavaError:
            return
        sub, done = jd.submissionTime(), jd.completionTime()
        start = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
        end = done.get().getTime() / 1e3 if done.isDefined() else start
        stage_ids = jd.stageIds()
        self.jobs.append(
            Job(jid, span_id, start, end, jd.name(), stage_ids.size(), jd.numTasks())
        )
        for i in range(stage_ids.size()):
            try:
                st = store.lastStageAttempt(stage_ids.apply(i))
            except Py4JJavaError:  # skipped stage: never attempted
                continue
            c["stages"] += 1
            c["tasks"] += st.numTasks()
            c["input_bytes"] += st.inputBytes()
            c["shuffle_read_bytes"] += st.shuffleReadBytes()
            c["shuffle_write_bytes"] += st.shuffleWriteBytes()
            c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            c["executor_run_ms"] += st.executorRunTime()
            c["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            c["gc_ms"] += st.jvmGcTime()

    def _read_sql(self, op: int, job_ids: set[int], c: dict) -> None:
        jvm = self.spark._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        # executions list in id order; an op's executions all end before
        # the op returns, so only the ones listed since the last op are new
        new = conv.asJava(sql_store.executionsList(self._exec_seen, 1 << 30))
        self._exec_seen += len(new)
        for ex in new:
            jobs = {int(j) for j in conv.asJava(ex.jobs()).keySet()}
            if not jobs & job_ids:
                continue
            eid = ex.executionId()
            self.executions.append((op, ex.description()))
            values = conv.asJava(sql_store.executionMetrics(eid))
            for node in conv.asJava(sql_store.planGraph(eid).allNodes()):
                name = node.name()
                is_scan = name.startswith("Scan")
                is_py = "Python" in name or "Pandas" in name or "Arrow" in name
                if not (is_scan or is_py):
                    continue
                for m in conv.asJava(node.metrics()):
                    text = values.get(m.accumulatorId())
                    if text is None:
                        continue
                    mname = m.name()
                    if is_scan and mname == "number of files read":
                        c["files_read"] += parse_metric(text)
                    elif is_scan and mname == "number of partitions read":
                        c["partitions_read"] += parse_metric(text)
                    elif is_scan and mname == "number of output rows":
                        c["rows_scanned"] += parse_metric(text)
                    elif is_py and "Python" in mname and m.metricType() in (
                        "timing", "nsTiming"
                    ):
                        c["python_ms"] += parse_metric(text)
                    elif is_py and "Python workers" in mname:
                        c["python_bytes"] += parse_metric(text)

    # ------------------------------------------------------------ analysis
    def self_times(self) -> dict[str, float]:
        """Self time per layer, in ms: each span's duration minus the part
        its child spans (including Spark job spans) cover. Job spans are
        layer ``spark.job``; their self time is the union of the jobs run
        directly under one span."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append((s.start, s.end))
        by_span: dict[int, list[tuple[float, float]]] = {}
        for j in self.jobs:
            by_span.setdefault(j.span, []).append((j.start, j.end))
        out: dict[str, float] = {}
        for s in self.spans:
            clip = [
                (max(a, s.start), min(b, s.end))
                for a, b in children.get(s.id, []) + by_span.get(s.id, [])
                if min(b, s.end) > max(a, s.start)
            ]
            own = (s.end - s.start) * 1e3 - union_ms(clip)
            out[s.layer] = out.get(s.layer, 0.0) + own
            jobs = [
                (max(a, s.start), min(b, s.end)) for a, b in by_span.get(s.id, [])
                if min(b, s.end) > max(a, s.start)
            ]
            # job spans may overlap child spans only if a child left its
            # group early; they are counted once, under the span they ran in
            jobs_only = union_ms(jobs) - _overlap_ms(jobs, children.get(s.id, []))
            out["spark.job"] = out.get("spark.job", 0.0) + jobs_only
        return out

    def dump(self) -> dict:
        return {
            "spans": [s.__dict__ for s in self.spans],
            "jobs": [j.__dict__ for j in self.jobs],
            "op_counters": self.op_counters,
            "executions": self.executions,
        }


def _overlap_ms(a: list[tuple[float, float]], b: list[tuple[float, float]]) -> float:
    """Length of (union of a) ∩ (union of b), in ms."""
    if not a or not b:
        return 0.0
    return union_ms(a) + union_ms(b) - union_ms(a + b)
