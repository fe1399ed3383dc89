"""Session-conf regression tests + an AQE runtime-replan proof.

The conf set in session.RUNTIME_CONFS is the scale contract (AQE,
skew-join splitting, bloom pruning, UTC, Arrow); losing any of these
silently changes plans or timestamp semantics everywhere.
"""

from pyspark.sql import functions as F

from mapreduce_task_spark.session import RUNTIME_CONFS


def test_runtime_confs_active_on_test_session(spark):
    for key, want in RUNTIME_CONFS.items():
        assert spark.conf.get(key) == want, key


def test_aqe_coalesces_shuffle_partitions_at_runtime(spark):
    """AQE's runtime re-plan is the 'tune shuffle.partitions once,
    right-size at runtime' story: a tiny aggregate must NOT produce
    spark.sql.shuffle.partitions output partitions — after execution
    the adaptive plan shows coalesced shuffle reads."""
    df = (
        spark.range(0, 10_000, 1, 8)
        .select((F.col("id") % 50).alias("k"))
        .groupBy("k")
        .count()
    )
    df.collect()  # materialize so AQE finalizes the adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan
    n_parts = df.rdd.getNumPartitions()
    assert n_parts < int(spark.conf.get("spark.sql.shuffle.partitions"))


_OVERWRITE = "spark.sql.sources.partitionOverwriteMode"


def _with_overwrite_mode(spark, mode, fn):
    """Run ``fn()`` with the session's partition overwrite mode set to
    ``mode``, restoring the previous value after."""
    old = spark.conf.get(_OVERWRITE)
    spark.conf.set(_OVERWRITE, mode)
    try:
        return fn()
    finally:
        spark.conf.set(_OVERWRITE, old)


def _clusters(path):
    import os

    return sorted(p for p in os.listdir(path) if p.startswith("cluster="))


def test_log_writes_leave_the_session_overwrite_mode_alone(spark, sf_small, tmp_path):
    """Dynamic partition overwrite is each log write's own option:
    ``append_batch``, ``compact_delta`` and ``upsert_batch`` leave the
    session's mode as they found it, and a later rebuild to fewer lists
    replaces the whole ``lists`` dataset."""
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.sources.tables import load_table
    from mapreduce_task_spark.streaming.ivf_ingest import append_batch, compact_delta
    from mapreduce_task_spark.streaming.upsert import upsert_batch

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 300)
    idx = str(tmp_path / "ivf")

    def run():
        ivf_build_index(base, idx, n_clusters=8, dim=64)
        append_batch(emb.filter(F.col("vec_id") >= 300), 0, idx)
        assert spark.conf.get(_OVERWRITE).lower() == "static"
        compact_delta(spark, idx, 0)
        assert spark.conf.get(_OVERWRITE).lower() == "static"
        upsert_batch(
            spark.createDataFrame([(1, 1, "a")], "k bigint, seq bigint, v string"),
            str(tmp_path / "up"), "k", ["seq"],
        )
        assert spark.conf.get(_OVERWRITE).lower() == "static"
        ivf_build_index(base, idx, n_clusters=4, dim=64)

    _with_overwrite_mode(spark, "static", run)
    assert _clusters(f"{idx}/lists") == [f"cluster={j}" for j in range(1, 5)]
    assert spark.read.parquet(f"{idx}/lists").count() == base.count()

    # a build replaces its datasets even in a session set to dynamic
    _with_overwrite_mode(
        spark, "dynamic", lambda: ivf_build_index(base, idx, n_clusters=2, dim=64)
    )
    assert _clusters(f"{idx}/lists") == ["cluster=1", "cluster=2"]
    assert spark.read.parquet(f"{idx}/lists").count() == base.count()


def test_static_partitioned_write_wipes_old_partitions(spark, tmp_path):
    """``write_partitioned(dynamic=False)`` replaces the whole dataset
    even when the session is in dynamic mode; ``dynamic=True`` replaces
    only the partitions the frame holds."""
    import os

    from mapreduce_task_spark.sources.partitioned import write_partitioned

    path = str(tmp_path / "parts")
    rows = lambda ks: spark.createDataFrame([(k, k) for k in ks], "p int, v int")  # noqa: E731
    write_partitioned(rows([1, 2]), path, ["p"])
    write_partitioned(rows([1]), path, ["p"], dynamic=True)
    assert sorted(p for p in os.listdir(path) if p.startswith("p=")) == ["p=1", "p=2"]
    _with_overwrite_mode(
        spark, "dynamic", lambda: write_partitioned(rows([1]), path, ["p"], dynamic=False)
    )
    assert sorted(p for p in os.listdir(path) if p.startswith("p=")) == ["p=1"]


def test_streaming_crawl_imports_without_a_session():
    """No module builds Columns at import time: importing
    ``streaming.crawl`` (which pulls in every streaming sink and
    monitor) needs no active SparkSession."""
    import subprocess
    import sys
    from pathlib import Path

    out = subprocess.run(
        [sys.executable, "-c", "import mapreduce_task_spark.streaming.crawl"],
        cwd=Path(__file__).resolve().parent.parent,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
