"""Measurement helpers: order statistics, process CPU, JVM probes and
the in-memory span tracer used by traced runs.

Everything here observes the program from outside: it reads
``/proc``, the JVM's management beans and Spark's status store, and
wraps calls the benchmark makes. Nothing in the package is changed.
"""

from __future__ import annotations

import json
import os
import statistics
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# --- order statistics ---------------------------------------------------

def median(values: list[float]) -> float:
    return float(statistics.median(values))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as ``statistics.quantiles(values, n=4)`` gives them."""
    if len(values) < 2:
        v = float(values[0])
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it.

    Returns ``(value, percentile, n)``: ``value`` is the order statistic
    with exactly ten larger samples. Below 20 samples that statistic
    would sit under the median; the tail is then p90, interpolated
    between the order statistics around it.
    """
    s = sorted(values)
    n = len(s)
    if n < 20:
        if n == 1:
            return s[0], 90.0, n
        return statistics.quantiles(s, n=10, method="inclusive")[-1], 90.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


# --- process CPU --------------------------------------------------------

def driver_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def _stat(path: str) -> tuple[str, float]:
    """(command name, user + system CPU seconds) from a /proc stat file."""
    with open(path) as fh:
        raw = fh.read()
    fields = raw.rsplit(")", 1)[1].split()
    # fields[0] is the state (field 3); utime/stime are fields 14/15
    return raw[raw.index("(") + 1:raw.rindex(")")], (int(fields[11]) + int(fields[12])) / _CLK_TCK


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK if len(fields) > 8 else 0.0


class Jvm:
    """Probes into the driver JVM behind a SparkSession."""

    #: HotSpot's JIT compiler threads, as /proc truncates their names
    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, spark):
        self.spark = spark
        self.jvm = spark.sparkContext._jvm
        self.pid = int(self.jvm.java.lang.ProcessHandle.current().pid())
        self._jit: dict[str, float] = {}  # thread id -> last CPU seen

    def cpu_s(self) -> tuple[float, float]:
        """(process CPU, JIT compiler threads' CPU) in seconds.

        Compilation burns most of the JVM's CPU in the first minutes and
        varies from run to run, so callers report it apart from the CPU
        spent on the program's work. A compiler thread that exits keeps
        the CPU last seen for it.
        """
        total = _stat(f"/proc/{self.pid}/stat")[1]
        task_dir = f"/proc/{self.pid}/task"
        for tid in os.listdir(task_dir):
            try:
                name, cpu = _stat(f"{task_dir}/{tid}/stat")
            except FileNotFoundError:  # the thread ended while listing
                continue
            if name.startswith(self.JIT_THREADS):
                self._jit[tid] = cpu
        return total, sum(self._jit.values())

    def gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def heap_after_gc_mb(self) -> float:
        self.jvm.java.lang.System.gc()
        mem = self.jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mem.getHeapMemoryUsage().getUsed() / 2**20

    def group_counts(self, group: str) -> dict[str, float]:
        """Jobs, stages, tasks and per-stage I/O of one job group.

        Job ids come from the status tracker; per-stage task metrics
        come from the JVM status store, which is populated with the UI
        disabled. Stages a job skipped (their output was reused) are
        counted as stages but carry no task metrics.
        """
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        no_quantiles = sc._gateway.new_array(self.jvm.double, 0)
        out = dict(jobs=0, stages=0, tasks=0, input_mb=0.0, shuffle_read_mb=0.0,
                   shuffle_write_mb=0.0, spill_mb=0.0, task_s=0.0)
        seen: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                if sid in seen:
                    continue
                seen.add(sid)
                out["stages"] += 1
                try:
                    attempts = store.stageData(sid, False, self.jvm.java.util.ArrayList(),
                                               False, no_quantiles)
                except Exception:  # skipped stage: never ran, no data
                    continue
                for i in range(attempts.size()):
                    st = attempts.apply(i)
                    out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                    out["input_mb"] += st.inputBytes() / 2**20
                    out["shuffle_read_mb"] += (st.shuffleLocalBytesRead()
                                               + st.shuffleRemoteBytesRead()) / 2**20
                    out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
                    out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / 2**20
                    out["task_s"] += st.executorRunTime() / 1000.0
        return out


# --- tracing ------------------------------------------------------------

class Tracer:
    """Spans kept in memory and written out once, when the run ends.

    A span is ``{id, parent, name, start, end, attrs}``; the spans of
    one query execution share its id as their ``trace`` field, which is
    also the Spark job-group prefix of the work they caused.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def start(self, name: str, trace: str, **attrs) -> dict:
        span = dict(id=len(self.spans), parent=self._stack[-1]["id"] if self._stack else None,
                    name=name, trace=trace, start=time.perf_counter(), end=None, attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def end(self, span: dict, **attrs) -> None:
        span["end"] = time.perf_counter()
        span["attrs"].update(attrs)
        if self._stack.pop() is not span:
            raise RuntimeError(f"span {span['name']} ended out of order")

    def current_trace(self) -> str | None:
        return self._stack[-1]["trace"] if self._stack else None

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            own = s["end"] - s["start"] - child_time.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def write(self, path: str, summary: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(dict(summary=summary, self_time_s=self.self_times(), spans=self.spans),
                      fh, indent=0, default=str)
