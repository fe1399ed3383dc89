"""Streaming observability — per-micro-batch metrics + spans.

The batch side captures one record per TASK via a SparkListener
(obs/metrics.py); on Structured Streaming the execution unit a user
reasons about is the MICRO-BATCH, so this module records one
``BatchRecord`` per ``StreamingQueryProgress`` through the official
``StreamingQueryListener`` API: batch id, input rows/sec, per-phase
durations, state-store rows, and any ``df.observe`` named metrics
(including the chaos injection hit counters — F5 on streams).

Each progress also lands as an in-process ``Span`` (obs/tracing.py)
on the driver spans' wall-clock timeline: it starts at the progress
event's trigger ``timestamp`` and lasts ``triggerExecution``, so one
trace timeline covers driver actions, tasks, and micro-batches — the
streaming completion of the reference's O1-O5 surface.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from typing import Any

from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener

from .tracing import _RECORDED, Span  # reuse the in-process span sink


@dataclass
class BatchRecord:
    query_id: str
    batch_id: int
    num_input_rows: int
    input_rows_per_sec: float
    duration_ms: dict[str, int]
    state_rows: int
    observed: dict[str, dict[str, Any]]


def _epoch_ns(timestamp: str) -> int:
    """Nanoseconds since the epoch of a progress event's ISO-8601 UTC
    trigger timestamp (e.g. ``2026-10-19T06:01:17.123Z``), the clock
    ``time.time_ns`` stamps driver spans with."""
    t = datetime.fromisoformat(timestamp.replace("Z", "+00:00"))
    since = t - datetime(1970, 1, 1, tzinfo=timezone.utc)
    return since // timedelta(microseconds=1) * 1_000


class StreamingMetricsCollector(StreamingQueryListener):
    """Context manager: attach to ``spark.streams``, collect one
    BatchRecord (+ one span) per micro-batch progress event."""

    def __init__(self, spark: SparkSession):
        super().__init__()
        self.spark = spark
        self.records: list[BatchRecord] = []

    def __enter__(self) -> "StreamingMetricsCollector":
        self.spark.streams.addListener(self)
        return self

    def __exit__(self, *exc) -> None:
        try:
            self.spark.streams.removeListener(self)
        except Exception:
            pass  # listener already gone on session teardown

    # StreamingQueryListener interface -------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        try:
            p = event.progress
            observed = {
                name: dict(row.asDict()) if hasattr(row, "asDict") else dict(row)
                for name, row in (p.observedMetrics or {}).items()
            }
            rec = BatchRecord(
                query_id=str(p.id),
                batch_id=p.batchId,
                num_input_rows=p.numInputRows,
                input_rows_per_sec=float(p.inputRowsPerSecond or 0.0),
                duration_ms=dict(p.durationMs or {}),
                state_rows=sum(
                    s.numRowsTotal for s in (p.stateOperators or [])
                ),
                observed=observed,
            )
            self.records.append(rec)
            start_ns = _epoch_ns(p.timestamp)
            total_ns = int(rec.duration_ms.get("triggerExecution", 0)) * 1_000_000
            _RECORDED.append(
                Span(
                    name="stream.microbatch",
                    attributes={
                        "stream.query_id": rec.query_id,
                        "stream.batch_id": rec.batch_id,
                        "stream.input_rows": rec.num_input_rows,
                        "stream.state_rows": rec.state_rows,
                        **{f"stream.duration_ms.{k}": v for k, v in rec.duration_ms.items()},
                    },
                    start_ns=start_ns,
                    end_ns=start_ns + total_ns,
                    status="OK",
                )
            )
        except Exception:
            pass  # listener must never kill the query

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # convenience ----------------------------------------------------
    def total_input_rows(self) -> int:
        return sum(r.num_input_rows for r in self.records)

    def observed_total(self, observation_name: str, metric: str) -> int:
        return int(
            sum(
                (r.observed.get(observation_name) or {}).get(metric) or 0
                for r in self.records
            )
        )
