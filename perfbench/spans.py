"""Measurement around calls into the package, from outside it.

``Timer`` is what untraced runs use: wall time per phase, nothing else.
``Tracer`` adds spans (name, start, end, parent, pass id), Spark job
counts per phase read by job group from the status tracker, and task
metrics from ``obs.metrics.TaskMetricsCollector``. Process CPU and RSS
come from /proc, JVM GC time from the JVM's MXBeans over py4j.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass

_TICK = os.sysconf("SC_CLK_TCK")


# ---- process tree -----------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2 :].split()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _cpu_s(pid: int) -> float:
    st = _stat(pid)
    if not st:
        return 0.0
    # utime, stime, cutime, cstime are fields 14-17 (1-based) of stat
    return sum(int(x) for x in st[11:15]) / _TICK


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


@dataclass
class ProcTree:
    """The benchmark's own process, the JVM it launched, and the JVM's
    children (Python workers)."""

    jvm_pid: int

    def cpu(self) -> dict[str, float]:
        workers = _descendants(self.jvm_pid)
        t = os.times()
        return {
            "driver": t.user + t.system,
            "jvm": _cpu_s(self.jvm_pid),
            "workers": sum(_cpu_s(p) for p in workers),
        }

    def peak_rss_mb(self) -> float:
        pids = [os.getpid(), self.jvm_pid, *_descendants(self.jvm_pid)]
        return sum(_hwm_kb(p) for p in pids) / 1024.0


def jvm_pid(spark) -> int:
    """The driver JVM: the process PySpark launched for its gateway
    (spark-submit execs into java, so the pid carries over)."""
    return spark.sparkContext._gateway.proc.pid


def jvm_gc_s(spark) -> float:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0


# ---- timing -------------------------------------------------------------------


@dataclass
class CallSample:
    name: str
    build_s: float
    run_s: float
    build_jobs: int = 0
    run_jobs: int = 0
    task_s: float = 0.0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    input_records: int = 0
    pass_id: str = ""

    @property
    def wall_s(self) -> float:
        return self.build_s + self.run_s


@dataclass
class Span:
    name: str
    trace_id: str
    span_id: int
    parent_id: int | None
    start_ns: int
    end_ns: int


class Timer:
    """Untraced: wall time of the build and run phases of each call."""

    def __init__(self) -> None:
        self.samples: list[CallSample] = []
        self.pass_id = "warmup"

    def new_pass(self, pass_id: str) -> None:
        self.pass_id = pass_id

    def call(self, name: str, build, run, record: bool = True):
        """``build()`` constructs the DataFrame (running whatever jobs the
        package runs eagerly); ``run(df)`` is the action. Returns the
        action's result."""
        t0 = time.perf_counter()
        df = build()
        t1 = time.perf_counter()
        out = run(df)
        t2 = time.perf_counter()
        if record:
            self.samples.append(CallSample(name, t1 - t0, t2 - t1, pass_id=self.pass_id))
        return out


class Tracer(Timer):
    """Traced: spans plus job and task counters per phase."""

    def __init__(self, spark) -> None:
        super().__init__()
        from mapreduce_task_spark.obs.metrics import TaskMetricsCollector

        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._next_id = 0
        self.collector = TaskMetricsCollector(spark).__enter__()

    def _span(self, name: str, parent: int | None, t0: int, t1: int) -> int:
        self._next_id += 1
        self.spans.append(Span(name, self.pass_id, self._next_id, parent, t0, t1))
        return self._next_id

    def _phase(self, group: str, fn, *args):
        n0 = len(self.collector.tasks)
        self.sc.setJobGroup(group, group, interruptOnCancel=False)
        t0 = time.time_ns()
        try:
            out = fn(*args)
        finally:
            t1 = time.time_ns()
            self.sc.setJobGroup(None, None)
        jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
        tasks = self.collector.tasks[n0:]
        return out, t0, t1, jobs, tasks

    def call(self, name: str, build, run, record: bool = True):
        base = f"{self.pass_id}/{name}/{len(self.samples)}"
        df, b0, b1, bjobs, btasks = self._phase(base + "/build", build)
        out, r0, r1, rjobs, rtasks = self._phase(base + "/run", run, df)
        if record:
            parent = self._span(name, None, b0, r1)
            self._span(name + ".build", parent, b0, b1)
            self._span(name + ".run", parent, r0, r1)
            tasks = btasks + rtasks
            self.samples.append(
                CallSample(
                    name,
                    (b1 - b0) / 1e9,
                    (r1 - r0) / 1e9,
                    bjobs,
                    rjobs,
                    sum(t.duration_ms for t in tasks) / 1e3,
                    sum(t.shuffle_write_bytes for t in tasks),
                    sum(t.memory_spilled_bytes + t.disk_spilled_bytes for t in tasks),
                    sum(t.input_records for t in rtasks),
                    pass_id=self.pass_id,
                )
            )
        return out

    def close(self, path: str) -> None:
        """Detach the task listener and write the spans to ``path``."""
        self.collector.__exit__(None, None, None)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
