"""Spans and per-op counters for the traced run.

Every layer is observed from outside the package: spans wrap the
benchmark's own calls into ``build_spark``, the registered query
callables, the action on the returned frame and ``FanoutRunner.run``.
Counters come from the JVM (application status store, RDD storage
info, a ``QueryExecutionListener`` for Catalyst phase times), from a
``StreamingQueryListener`` and from the Python UDF perf profiler. Spans
are kept in memory and written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """In-memory span recorder. Spans opened inside another span get it
    as their parent; all spans of one op carry that op's id. A disabled
    tracer records nothing."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, op: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, time.monotonic(), 0.0,
                 parent.sid if parent else None, op)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, op: int) -> Span:
        """Record an interval observed elsewhere (a Catalyst phase, a Spark
        job) under the innermost span of ``op`` that contains its start."""
        parent = None
        for s in self.spans:
            if s.op == op and s.start <= start <= s.end:
                if parent is None or s.start >= parent.start:
                    parent = s
        span = Span(len(self.spans), name, start, max(start, end),
                    parent.sid if parent else None, op)
        self.spans.append(span)
        return span

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it that its child spans
    cover (overlapping children count once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children[s.sid], key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = (s.end - s.start) - covered
    return out


class QueryPhaseListener:
    """py4j implementation of Spark's QueryExecutionListener: keeps the
    Catalyst phase intervals (epoch ms) of every executed query."""

    def __init__(self) -> None:
        self.phases: list[tuple[str, int, int]] = []

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM API)
        self.phases.extend(phase_intervals(qe))

    def onFailure(self, func_name, qe, exception):  # noqa: N802 (JVM API)
        self.phases.extend(phase_intervals(qe))

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def phase_intervals(qe) -> list[tuple[str, int, int]]:
    """(phase, start_ms, end_ms) for each phase a QueryExecution's
    tracker recorded."""
    out = []
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out.append((kv._1(), kv._2().startTimeMs(), kv._2().endTimeMs()))
    return out


def make_stream_listener():
    """A StreamingQueryListener that keeps every query progress."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress = []

        def onQueryStarted(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryProgress(self, event):  # noqa: N802 (Spark API)
            self.progress.append(event.progress)

        def onQueryIdle(self, event):  # noqa: N802 (Spark API)
            pass

        def onQueryTerminated(self, event):  # noqa: N802 (Spark API)
            pass

    return _Progress()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class JvmProbe:
    """Reads per-op counters from the driver JVM."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext._jsc.sc()
        self.store = self.sc.statusStore()
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self._quantiles = spark.sparkContext._gateway.new_array(
            spark.sparkContext._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    def next_job_id(self) -> int:
        return int(self.sc.dagScheduler().nextJobId())

    def drain_listeners(self) -> None:
        self.sc.listenerBus().waitUntilEmpty()

    def storage(self) -> tuple[int, int]:
        """(RDDs with cached blocks, bytes they hold in memory and disk)."""
        n = size = 0
        for info in self.sc.getRDDStorageInfo():
            if info.numCachedPartitions() > 0:
                n += 1
                size += info.memSize() + info.diskSize()
        return n, size

    def jobs(self, first: int, stop: int) -> list[dict]:
        """Status-store view of jobs first..stop-1, with their stages."""
        from py4j.protocol import Py4JJavaError

        out = []
        for jid in range(first, stop):
            try:
                j = self.store.job(jid)
            except Py4JJavaError:  # NoSuchElementException: never recorded
                continue
            rec = {"id": jid, "submit_ms": None, "end_ms": None, "stages": []}
            if j.submissionTime().isDefined():
                rec["submit_ms"] = j.submissionTime().get().getTime()
            if j.completionTime().isDefined():
                rec["end_ms"] = j.completionTime().get().getTime()
            for sid in _seq(j.stageIds()):
                for sd in _seq(self.store.stageData(sid, False, None, False, None)):
                    rec["stages"].append(self._stage(sid, sd))
            out.append(rec)
        return out

    def _stage(self, sid: int, sd) -> dict:
        st = {
            "tasks": sd.numCompleteTasks(),
            "run_ms": sd.executorRunTime(),
            "cpu_ms": sd.executorCpuTime() / 1e6,
            "gc_ms": sd.jvmGcTime(),
            "input_bytes": sd.inputBytes(),
            "input_records": sd.inputRecords(),
            "shuffle_read_bytes": sd.shuffleReadBytes(),
            "shuffle_write_bytes": sd.shuffleWriteBytes(),
            "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
            "sched_delay_ms": 0.0,
            "skew": 1.0,
        }
        if st["tasks"]:
            summary = self.store.taskSummary(sid, sd.attemptId(), self._quantiles)
            if summary.isDefined():
                run = summary.get().executorRunTime()
                med, top = run.apply(0), run.apply(1)
                st["skew"] = top / med if med > 0 else 1.0
                # the store keeps delay quantiles, not sums: median x tasks
                st["sched_delay_ms"] = summary.get().schedulerDelay().apply(0) * st["tasks"]
        return st

    def cpu_seconds(self) -> float:
        """CPU time of the driver JVM process (user + system)."""
        import os

        with open(f"/proc/{self.jvm_pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0


def udf_profile_totals(spark) -> tuple[float, int]:
    """(seconds, function calls) summed over the perf profiles the Python
    UDF profiler has collected so far."""
    secs, calls = 0.0, 0
    for stats in spark._profiler_collector._perf_profile_results.values():
        if stats is not None:
            secs += stats.total_tt
            calls += stats.total_calls
    return secs, calls
