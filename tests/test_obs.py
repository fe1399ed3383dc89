from pyspark.sql import Observation, functions as F

from mapreduce_task_spark.obs.metrics import TaskMetricsCollector, counted
from mapreduce_task_spark.obs.tracing import clear_recorded_spans, get_recorded_spans, traced_action
from mapreduce_task_spark.plans.signature import plan_attributes, plan_signature
from mapreduce_task_spark.operators.wordcount import wordcount
from mapreduce_task_spark.sources.tables import load_table


def test_plan_signature_stable_and_shape_sensitive(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    wc1, wc2 = wordcount(docs), wordcount(docs)
    assert plan_signature(wc1) == plan_signature(wc2)
    other = docs.groupBy("lang").count()
    assert plan_signature(wc1) != plan_signature(other)
    attrs = plan_attributes(wc1, "wordcount")
    assert attrs["job.kind"] == "wordcount"
    assert len(attrs["job.signature.v1"]) == 64


def test_traced_action_records_span(spark, sf_small):
    clear_recorded_spans()
    docs = load_table(spark, sf_small, "documents")
    wc = wordcount(docs)
    with traced_action(wc, "wordcount") as s:
        n = wc.count()
    assert n > 0
    spans = get_recorded_spans()
    assert spans and spans[-1].name == "job.submit"
    assert spans[-1].status == "OK"
    assert spans[-1].attributes["job.kind"] == "wordcount"
    assert spans[-1].duration_ms > 0
    assert spans[-1].attributes["codegen.compiles"] >= 0
    # the same action again reuses every generated class
    with traced_action(wc, "wordcount"):
        assert wc.count() == n
    assert get_recorded_spans()[-1].attributes["codegen.compiles"] == 0


def test_observe_counters(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    obs = Observation("c")
    df = counted(
        docs,
        obs,
        RAW_LINES=F.count(F.lit(1)),
        EMPTY_TEXT=F.sum((F.length("text") == 0).cast("long")),
    )
    total = df.count()
    assert obs.get["RAW_LINES"] == total
    assert obs.get["EMPTY_TEXT"] == 0


def test_task_metrics_collector(spark, sf_small):
    docs = load_table(spark, sf_small, "documents")
    wc = wordcount(docs)
    with TaskMetricsCollector(spark) as coll:
        wc.write.format("noop").mode("overwrite").save()
    totals = coll.totals()
    # O4 parity: tasks observed, bytes read from parquet, shuffle occurred
    assert totals["n_tasks"] > 0
    assert totals["input_bytes"] > 0
    assert totals["shuffle_write_bytes"] > 0
    assert totals["shuffle_read_bytes"] > 0


def test_span_ring_keeps_newest_spans():
    from mapreduce_task_spark.obs.tracing import MAX_RECORDED_SPANS, span

    clear_recorded_spans()
    extra = 5
    for i in range(MAX_RECORDED_SPANS + extra):
        with span(f"s{i}"):
            pass
    spans = get_recorded_spans()
    assert len(spans) == MAX_RECORDED_SPANS
    assert spans[0].name == f"s{extra}"
    assert spans[-1].name == f"s{MAX_RECORDED_SPANS + extra - 1}"
    clear_recorded_spans()


def test_microbatch_span_sits_on_the_wall_clock_timeline(spark):
    """A micro-batch span starts at the progress event's trigger
    timestamp and lasts triggerExecution — comparable with driver spans
    stamped by time.time_ns()."""
    import time
    from datetime import datetime, timezone
    from types import SimpleNamespace

    from mapreduce_task_spark.obs.streaming import StreamingMetricsCollector

    before_ns = time.time_ns()
    now = datetime.now(timezone.utc)
    progress = SimpleNamespace(
        id="q1",
        batchId=3,
        numInputRows=10,
        inputRowsPerSecond=5.0,
        durationMs={"triggerExecution": 250, "addBatch": 200},
        stateOperators=[],
        observedMetrics={},
        timestamp=now.strftime("%Y-%m-%dT%H:%M:%S.") + f"{now.microsecond // 1000:03d}Z",
    )
    clear_recorded_spans()
    StreamingMetricsCollector(spark).onQueryProgress(
        SimpleNamespace(progress=progress)
    )
    (s,) = [s for s in get_recorded_spans() if s.name == "stream.microbatch"]
    assert s.start_ns > 0 and s.end_ns >= s.start_ns
    assert s.end_ns - s.start_ns == 250 * 1_000_000
    # the trigger timestamp is the wall clock read beside it
    assert abs(s.start_ns - before_ns) < 1_000_000_000
    assert s.attributes["stream.batch_id"] == 3
    clear_recorded_spans()
