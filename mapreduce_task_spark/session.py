"""SparkSession construction tuned for both local testing and scale.

Local mode (``local[N]``) is the test bed; the conf choices below are the
ones that also hold on a 1000-executor cluster: AQE on (runtime shuffle
coalescing + skew-join splitting), shuffle partitions sized to the
parallelism rather than the 200 default, Arrow enabled for the few
pandas-UDF code paths, UTC session timezone so timestamp semantics are
deployment-independent.

Generated-code cache. Spark compiles every whole-stage-codegen stage
and every projection/predicate/ordering to a Java class with Janino and
keeps the classes in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
entries, 100 by default. The package's working sets are larger: a cold
``ann_serve`` pass of the repo benchmark (IVF and IVF-PQ builds, both
searches, an append, a delta search, a compaction) compiles 205-211
classes and a cold ``batch`` pass (the MapReduce trio plus corpus
dedup) 144, so the test suite and ``bench.py``, which run both in one
JVM, need about 355. At 100 entries every repeated call evicts and
recompiles the classes of the next (0.8-1.4 s of Janino time per warm
pass) and each reloaded class starts cold in the JIT again. The builder
sets 1000, so a repeated call of the same query shape compiles nothing
(``tests/test_plan_health.py::test_repeated_calls_compile_nothing``;
``obs.metrics.codegen_compiles`` reads the count). The conf is static:
it is read once when the JVM's SQL code generator is first used, so a
session the package did not build (``apply_runtime_confs``, the
driver-owned session handed to ``__spark_entry__``) keeps Spark's 100.

One residual is known: a streaming batch id is an inlined int literal in
the delta-log writes (``streaming/batchlog.py``), so each new batch id
compiles 4 classes in ``append_batch`` and 2 in ``compact_delta``.
Query parameters such as ``nprobe`` compile nothing new.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# SQL confs that are safe (and necessary) to set on an *existing* session,
# e.g. the driver-owned session handed to __spark_entry__.queries().
RUNTIME_CONFS: dict[str, str] = {
    # the synthetic events table stores TIMESTAMP(NANOS) which the parquet
    # reader rejects by default; read as int64 nanos and convert ourselves
    # (sources.tables.load_table does the ns -> us conversion).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # deployment-independent timestamp rendering (oracle parity).
    "spark.sql.session.timeZone": "UTC",
    # runtime re-planning: coalesce post-shuffle partitions, split skewed ones.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # runtime row-level bloom pruning: a selective join side injects a
    # bloom filter into the other side's scan (big win for the
    # semi-join-heavy dedup pipelines at scale; no-op on tiny inputs).
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    # Arrow for the pandas-UDF slow path (similarity/multimodal/chaos).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
}


def apply_runtime_confs(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable confs to a session we did not create."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # non-runtime-settable in some deployments; best effort.
            pass
    return spark


def get_spark(
    app_name: str = "mapreduce_task_spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores. On a real
    cluster the caller passes a master URL via ``$SPARK_MASTER`` instead.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    parallelism = os.cpu_count() or 8 if cpus in ("*", None) else int(cpus)
    shuffle_partitions = shuffle_partitions or parallelism

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(parallelism))
        .config("spark.ui.enabled", "false")
        # static conf (read once per JVM), so builder-only; sized to the
        # measured working sets, see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # keep catalog/metastore artifacts (bucketed-table tests) out of cwd
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config(
            "spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/spark_graft_derby"
        )
        # file-source parallelism: default 128m splits are right at scale;
        # local tests read tiny files so leave as-is (openCostInBytes packs them).
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return apply_runtime_confs(spark)
