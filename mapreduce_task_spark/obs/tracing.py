"""Driver-side tracing — the reference's OTel span surface (SURVEY §2.4 O1-O3).

The reference opens a CLIENT span ``mr.job.submit`` around each job with
job-shape attributes (TraceWordCountJob.java:62-64,133-143) and a span
per map/reduce *record* inside tasks (TraceWordCountMapper.java:93-103).
Per-record spans are an anti-pattern at Spark scale (documented
substitution, SURVEY §7.3): we emit one span per *action* on the driver
and one logical child span per Spark job/stage via the task-metrics
listener (obs/metrics.py), which carries the same fields the reference
put on task spans (partition id, attempt, host, I/O metrics).

OpenTelemetry is optional: when the ``opentelemetry`` SDK is importable
the spans are exported through it (configure exporters via the standard
``OTEL_*`` env vars, the reference wires Zipkin the same way in
run.sh:42-52); otherwise spans are recorded in-process so tests and
callers can still assert on them.
"""

from __future__ import annotations

import time
import uuid
from collections import deque
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from ..plans.signature import plan_attributes
from .metrics import codegen_compiles

try:  # optional dependency — not installed in the test container
    from opentelemetry import trace as _otel_trace

    _TRACER = _otel_trace.get_tracer("mapreduce_task_spark")
except Exception:  # pragma: no cover
    _TRACER = None


@dataclass
class Span:
    name: str
    attributes: dict = field(default_factory=dict)
    start_ns: int = 0
    end_ns: int = 0
    status: str = "UNSET"

    @property
    def duration_ms(self) -> float:
        return (self.end_ns - self.start_ns) / 1e6


# The in-process span sink is a bounded ring: a long-running process (a
# crawl loop, a streaming listener) keeps only the newest spans instead
# of growing forever. Exported OTel spans are unaffected.
MAX_RECORDED_SPANS = 10_000
_RECORDED: deque[Span] = deque(maxlen=MAX_RECORDED_SPANS)


def get_recorded_spans() -> list[Span]:
    return list(_RECORDED)


def clear_recorded_spans() -> None:
    _RECORDED.clear()


@contextmanager
def span(name: str, attributes: dict | None = None):
    """Open a span; exported via OTel when available, always recorded
    in-process."""
    s = Span(name=name, attributes=dict(attributes or {}), start_ns=time.time_ns())
    otel_cm = _TRACER.start_as_current_span(name) if _TRACER else None
    otel_span = otel_cm.__enter__() if otel_cm else None
    try:
        yield s
        s.status = "OK"
    except Exception:
        s.status = "ERROR"
        raise
    finally:
        s.end_ns = time.time_ns()
        if otel_cm:
            # set at exit, so attributes the body measured reach OTel too
            for k, v in s.attributes.items():
                otel_span.set_attribute(k, v)
            otel_cm.__exit__(None, None, None)
        _RECORDED.append(s)


@contextmanager
def traced_action(df: DataFrame, job_kind: str, job_id: str | None = None):
    """Span around a DataFrame action — ``mr.job.submit`` analogue.

    Sets the Spark job group/description so everything the action runs
    is attributable in the UI/status APIs, and stamps the plan-shape
    attributes the reference stamps on its submit span. On exit the
    span gets ``codegen.compiles``: the generated classes the JVM
    compiled while the span was open (0 when every stage's code came
    from the generated-code cache; JVM-wide, see
    ``metrics.codegen_compiles``).
    """
    spark = df.sparkSession
    jid = job_id or f"trace-{job_kind}-{uuid.uuid4()}"
    attrs = {"job.id": jid, **plan_attributes(df, job_kind)}
    sc = spark.sparkContext
    sc.setJobGroup(jid, f"{job_kind} [{jid}]", interruptOnCancel=False)
    try:
        with span("job.submit", attrs) as s:
            compiled = codegen_compiles(spark)
            try:
                yield s
            finally:
                s.attributes["codegen.compiles"] = codegen_compiles(spark) - compiled
    finally:
        sc.setJobGroup(None, None)
