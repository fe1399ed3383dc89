"""Executor-side metrics — the reference's per-task I/O metric surface.

The reference attaches input bytes / in-out record counts / spill /
shuffle bytes to every task span (SURVEY §2.4 O4, e.g.
TraceWordCountMapper.java:129-155, TraceSortReducer.java:132-143) and
exposes named application counters (O5, e.g. MALFORMED_LINES,
RAW_LINES, SLOW_INJECT_HITS).

Spark equivalents used here:

- ``TaskMetricsCollector`` — a ``SparkListenerInterface`` implemented in
  Python over the py4j callback server; ``onTaskEnd`` captures the same
  fields per task (stage, partition index, attempt, host, runtime,
  input/output bytes+records, shuffle read/write, memory/disk spill).
  This is the documented substitution for the reference's per-record
  spans (SURVEY §7.3): per-task granularity, identical attribute set.
- ``counted`` — named record counters via ``DataFrame.observe``:
  aggregated executor-side during the action, no extra job, the
  idiomatic Hadoop-counter replacement.
- ``codegen_compiles`` — the JVM's count of generated classes Janino
  has compiled so far; its delta over a call says whether the call
  reused the generated-code cache (see ``session``).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F


@dataclass
class TaskRecord:
    stage_id: int
    partition_id: int
    attempt: int
    host: str
    duration_ms: float
    input_bytes: int
    input_records: int
    output_bytes: int
    output_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    memory_spilled_bytes: int
    disk_spilled_bytes: int


class _NoOpMethods:
    """py4j proxy base: every listener callback we don't care about is a
    no-op (SparkListenerInterface has ~30 methods)."""

    def __getattr__(self, name: str):
        if name.startswith("on"):
            return lambda *a, **k: None
        raise AttributeError(name)


class _JavaListener(_NoOpMethods):
    class Java:
        implements = ["org.apache.spark.scheduler.SparkListenerInterface"]

    def __init__(self, sink: "TaskMetricsCollector"):
        self._sink = sink

    def onTaskEnd(self, task_end: Any) -> None:  # noqa: N802 (py4j name)
        try:
            info = task_end.taskInfo()
            tm = task_end.taskMetrics()
            if tm is None:
                return
            rec = TaskRecord(
                stage_id=task_end.stageId(),
                partition_id=info.index(),
                attempt=info.attemptNumber(),
                host=info.host(),
                duration_ms=float(info.duration()),
                input_bytes=tm.inputMetrics().bytesRead(),
                input_records=tm.inputMetrics().recordsRead(),
                output_bytes=tm.outputMetrics().bytesWritten(),
                output_records=tm.outputMetrics().recordsWritten(),
                shuffle_read_bytes=tm.shuffleReadMetrics().totalBytesRead(),
                shuffle_write_bytes=tm.shuffleWriteMetrics().bytesWritten(),
                memory_spilled_bytes=tm.memoryBytesSpilled(),
                disk_spilled_bytes=tm.diskBytesSpilled(),
            )
            self._sink._tasks.append(rec)
        except Exception:  # never break the listener bus
            pass

    def equals(self, other: Any) -> bool:
        return other is not None and id(self) == id(other)

    def hashCode(self) -> int:  # noqa: N802
        return id(self)

    def toString(self) -> str:  # noqa: N802
        return "mapreduce_task_spark.TaskMetricsCollector"


@dataclass
class TaskMetricsCollector:
    """Collects per-task metrics while attached (context manager)."""

    spark: SparkSession
    _tasks: list[TaskRecord] = field(default_factory=list)
    _jlistener: Any = None

    def __enter__(self) -> "TaskMetricsCollector":
        from pyspark.java_gateway import ensure_callback_server_started

        gw = self.spark.sparkContext._gateway
        ensure_callback_server_started(gw)
        self._jlistener = _JavaListener(self)
        self.spark.sparkContext._jsc.sc().addSparkListener(self._jlistener)
        return self

    def __exit__(self, *exc) -> None:
        # flush queued listener events before detaching
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            pass
        try:
            self.spark.sparkContext._jsc.sc().removeSparkListener(self._jlistener)
        except Exception:
            pass

    @property
    def tasks(self) -> list[TaskRecord]:
        try:
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Exception:
            pass
        return list(self._tasks)

    def totals(self) -> dict[str, int | float]:
        t = self.tasks
        return {
            "n_tasks": len(t),
            "input_bytes": sum(x.input_bytes for x in t),
            "input_records": sum(x.input_records for x in t),
            "output_bytes": sum(x.output_bytes for x in t),
            "output_records": sum(x.output_records for x in t),
            "shuffle_read_bytes": sum(x.shuffle_read_bytes for x in t),
            "shuffle_write_bytes": sum(x.shuffle_write_bytes for x in t),
            "memory_spilled_bytes": sum(x.memory_spilled_bytes for x in t),
            "disk_spilled_bytes": sum(x.disk_spilled_bytes for x in t),
            "duration_ms": sum(x.duration_ms for x in t),
        }


def counted(df: DataFrame, observation: Observation, **counters: Column) -> DataFrame:
    """Attach named counters (Hadoop-counter analogue, O5).

    ``counters`` maps counter name -> aggregate expression, e.g.
    ``counted(df, obs, RAW_LINES=F.count(F.lit(1)))``. Read them from
    ``observation.get`` after the action completes.
    """
    exprs = [expr.alias(name) for name, expr in counters.items()]
    return df.observe(observation, *exprs)


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes compiled by this JVM so far (exact, monotone).

    Read over py4j from Spark's ``CodegenMetrics`` source, whose
    compilation-time histogram is updated once per Janino compile (a
    generated-code cache hit does not touch it). The count is
    JVM-wide: compiles by concurrent queries of other threads are
    included.
    """
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())
