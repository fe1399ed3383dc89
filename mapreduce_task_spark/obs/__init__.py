from .tracing import Span, traced_action, get_recorded_spans, clear_recorded_spans
from .metrics import TaskMetricsCollector, codegen_compiles, counted
from .streaming import BatchRecord, StreamingMetricsCollector

__all__ = [
    "Span",
    "traced_action",
    "get_recorded_spans",
    "clear_recorded_spans",
    "TaskMetricsCollector",
    "codegen_compiles",
    "counted",
    "BatchRecord",
    "StreamingMetricsCollector",
]
