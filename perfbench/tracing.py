"""Spans, Spark status-store reads and /proc sampling for the benchmark.

Spans are recorded by the benchmark's own code around each call into a
`bdt_spark` layer: name, start, end, parent and the op they belong to.
When tracing is on, every span also runs its Spark work under its own job
group, so jobs, stages and task metrics can be attributed to it after the
op has finished, outside the timed region, and a QueryExecutionListener
reports the Catalyst phases of each executed query.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    op: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.op}-{self.id}"

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when `enabled`; always yields a span so callers read
    durations the same way in both modes. Job groups are set only when
    enabled, so untraced runs carry no extra Spark calls."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self.records: list[dict] = []  # per-op status-store reads
        self._stack: list[Span] = []
        self._ids = 0

    def new_op_id(self, name: str) -> str:
        self._ids += 1
        return f"{self._ids}.{name}"

    @contextlib.contextmanager
    def span(self, name: str, op: str):
        self._ids += 1
        parent = self._stack[-1] if self._stack else None
        sp = Span(self._ids, name, op, parent.id if parent else None,
                  time.perf_counter())
        if self.enabled and self.sc is not None:
            self.sc.setJobGroup(sp.group, name)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.enabled:
                self.spans.append(sp)
                if self.sc is not None:
                    if parent is not None:
                        self.sc.setJobGroup(parent.group, parent.name)
                    else:
                        self.sc.setLocalProperty("spark.jobGroup.id", None)


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it its child spans cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sp in spans:
        if sp.parent is not None:
            children.setdefault(sp.parent, []).append((sp.start, sp.end))
    return {sp.id: sp.dur - union_length(children.get(sp.id, []))
            for sp in spans}


class SparkStatus:
    """Reads jobs and stage metrics for a job group from the in-process
    status store (works with the Spark UI disabled)."""

    def __init__(self, sc):
        self.sc = sc
        self.store = sc._jsc.sc().statusStore()
        self._empty_doubles = sc._gateway.new_array(sc._jvm.double, 0)

    def group_work(self, group: str) -> dict:
        jids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        stage_ids: set[int] = set()
        intervals: list[tuple[float, float]] = []
        for j in jids:
            jd = self.store.job(j)
            seq = jd.stageIds()
            stage_ids.update(seq.apply(i) for i in range(seq.size()))
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3,
                                  done.get().getTime() / 1e3))
        out = dict(jobs=len(jids), stages=0, tasks=0, failed_tasks=0,
                   run_s=0.0, cpu_s=0.0, input_b=0, shuffle_read_b=0,
                   shuffle_write_b=0, spill_b=0, job_intervals=intervals)
        if not stage_ids:
            return out
        jvm = self.sc._jvm
        stages = self.store.stageList(jvm.java.util.ArrayList(), False, False,
                                      self._empty_doubles,
                                      jvm.java.util.ArrayList())
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() not in stage_ids or st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["run_s"] += st.executorRunTime() / 1e3
            out["cpu_s"] += st.executorCpuTime() / 1e9
            out["input_b"] += st.inputBytes()
            out["shuffle_read_b"] += st.shuffleReadBytes()
            out["shuffle_write_b"] += st.shuffleWriteBytes()
            out["spill_b"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out

    def persisted_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize()
                   for r in self.sc._jsc.sc().getRDDStorageInfo())


class WritePhases:
    """Catalyst phase times of the queries Spark actually executes.

    A noop write runs its own QueryExecution (the write command over the
    op's plan), so the DataFrame's QueryExecution never sees the write's
    optimization and planning. This QueryExecutionListener receives the
    executed QueryExecution on Spark's listener thread, through py4j's
    callback server, and keeps the tracker's phases of each one. Only the
    traced run registers it."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self.events: list[tuple[str, dict[str, float]]] = []
        self._cv = threading.Condition()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java API)
        it = qe.tracker().phases().iterator()
        phases = {}
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1e3
        with self._cv:
            self.events.append((func_name, phases))
            self._cv.notify_all()

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (Java API)
        with self._cv:
            self.events.append((func_name, {}))
            self._cv.notify_all()

    def mark(self) -> int:
        with self._cv:
            return len(self.events)

    def wait_for(self, func_name: str, since: int, timeout: float = 30.0) -> dict:
        """Phases of the first `func_name` execution reported after
        `mark()` returned `since`; waits for the listener bus to deliver."""
        def found():
            return next((ph for name, ph in self.events[since:] if name == func_name),
                        None)

        with self._cv:
            self._cv.wait_for(lambda: found() is not None, timeout)
            return found() or {}

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# --------------------------------------------------------------------------
# /proc: the process tree of this benchmark (its own Python process, the JVM
# it launched, the pyspark.daemon workers the JVM forks).


def _proc_table() -> dict[int, tuple[int, list[str]]]:
    """pid -> (ppid, stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        out[int(d)] = (int(fields[1]), fields)
    return out


def _descendants(root: int, table) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def descendants(root: int) -> list[int]:
    """`root` and every live process below it."""
    return _descendants(root, _proc_table())


def tree_rss_bytes(root: int) -> int:
    table = _proc_table()
    # stat field 24 (rss, pages) is index 21 after the command name
    return sum(int(table[p][1][21]) * _PAGE for p in _descendants(root, table)
               if p in table)


def pyworker_cpu_s(root: int) -> float:
    """CPU seconds (user+system, own and reaped children) of every
    pyspark.daemon process under `root`."""
    table = _proc_table()
    total = 0
    for pid in _descendants(root, table):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark.daemon" in cmd and pid in table:
            fields = table[pid][1]
            total += sum(int(x) for x in fields[11:15])  # utime..cstime
    return total / _TICK


class RssSampler:
    """Background sampler of the peak RSS of this process tree."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
