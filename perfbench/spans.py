"""What the benchmark records around its calls into the library.

- ``Tracer``: spans (name, op, start, end) and, when tracing, the window
  of Spark job and stage ids minted during each span. Counters for a
  window are read from Spark's status store after the pass, so the
  measured pass only pays two id reads per span.
- ``BatchListener``: per-micro-batch progress of every streaming query
  on the session the streaming entries run on.
- ``peak_rss_mb`` and ``cpu_seconds``: peak resident memory and CPU time
  of this process and its descendants (the driver JVM and Spark's Python
  workers).
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

STAGE_FIELDS = (
    "tasks", "task_run_s", "task_cpu_s", "gc_s", "input_bytes",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
)


@dataclass
class Span:
    name: str
    op: str
    start: float
    end: float = 0.0
    jobs: tuple[int, int] = (0, 0)
    stages: tuple[int, int] = (0, 0)

    @property
    def seconds(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spark: SparkSession
    traced: bool
    spans: list[Span] = field(default_factory=list)

    def __post_init__(self) -> None:
        jsc = self.spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._store = jsc.statusStore()

    def ids(self) -> tuple[int, int]:
        """(next job id, next stage id) of the SparkContext."""
        return self._dag.nextJobId(), self._dag.nextStageId()

    @contextmanager
    def span(self, name: str, op: str = ""):
        s = Span(name, op, 0.0)
        j0 = s0 = 0
        if self.traced:
            j0, s0 = self.ids()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.traced:
                j1, s1 = self.ids()
                s.jobs, s.stages = (j0, j1), (s0, s1)
            self.spans.append(s)

    def stage_counters(self, first: int, end: int) -> dict[int, dict[str, float]]:
        """Counters of the stages with ids in ``[first, end)`` that ran.
        A stage id the store no longer holds, or that never ran, is left out."""
        out: dict[int, dict[str, float]] = {}
        for sid in range(first, end):
            try:
                sd = self._store.lastStageAttempt(sid)
            except Exception:  # py4j error: evicted or never submitted
                continue
            if sd.numCompleteTasks() == 0:
                continue
            out[sid] = {
                "tasks": float(sd.numCompleteTasks()),
                "task_run_s": sd.executorRunTime() / 1e3,
                "task_cpu_s": sd.executorCpuTime() / 1e9,
                "gc_s": sd.jvmGcTime() / 1e3,
                "input_bytes": float(sd.inputBytes()),
                "shuffle_write_bytes": float(sd.shuffleWriteBytes()),
                "shuffle_read_bytes": float(sd.shuffleReadBytes()),
                "spill_bytes": float(sd.diskBytesSpilled()),
            }
        return out


class BatchListener(StreamingQueryListener):
    """Collects ``(op, numInputRows, durationMs)`` per micro-batch."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.op = ""
        self.started = 0
        self.terminated = 0
        self.batches: list[tuple[str, int, dict[str, int]]] = []

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started += 1

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with self._lock:
            self.batches.append((self.op, int(p.numInputRows), dict(p.durationMs)))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self.terminated += 1

    def drain(self, timeout_s: float = 30.0) -> None:
        """Wait until every started query's termination event arrived;
        the bus delivers a query's progress events before it."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if self.terminated >= self.started:
                    return
            time.sleep(0.01)
        raise TimeoutError(f"{self.started - self.terminated} streaming queries never reported termination")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _tree() -> list[int]:
    """This process and all its descendants."""
    kids = _children()
    todo, out = [os.getpid()], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat_ticks(path: str, children: bool = False) -> tuple[str, int]:
    """(command name, CPU ticks) of a /proc stat file: utime + stime, plus
    cutime + cstime (exited, reaped children) if ``children``."""
    with open(path) as fh:
        stat = fh.read()
    head, rest = stat.rsplit(")", 1)
    fields = [int(f) for f in rest.split()[11:15]]
    return head.split("(", 1)[1], sum(fields if children else fields[:2])


def cpu_seconds() -> tuple[float, float]:
    """(all, JIT) CPU time of this process and its descendants, in seconds:
    user + system time of every thread, including Spark's Python workers
    that exited and were reaped, and of the JVM's JIT compiler threads
    among them."""
    total = jit = 0
    for pid in _tree():
        try:
            total += _stat_ticks(f"/proc/{pid}/stat", children=True)[1]
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, ticks = _stat_ticks(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    jit += ticks
        except OSError:  # exited meanwhile
            continue
    hz = os.sysconf("SC_CLK_TCK")
    return total / hz, jit / hz


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants, in MiB."""
    total_kb = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
