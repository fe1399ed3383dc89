"""Focused tests for operators.pinning — the r14 tiny-pin variant.

``lazy_checkpoint_tiny`` compiles a hyperparameter-bounded frame's pin
with AQE off and a clamped shuffle-partition count so the pin is
genuinely lazy (no eager per-round stage cascade). These pin the three
properties the optimization relies on: result identity with the plain
lazy pin, the partition clamp actually reaching the compiled RDD, and
the session confs being restored afterwards (the pin mutates
session-global confs around the compile — a leak would silently
de-AQE every later query in the session), also after a failed
compile, an unparsable value, or two pins on two threads.
"""

import threading
import time

import pytest
from pyspark.sql import functions as F

from mapreduce_task_spark.operators import pinning
from mapreduce_task_spark.operators.pinning import (
    lazy_checkpoint,
    lazy_checkpoint_tiny,
)


def _small_agg(spark):
    # a k-group aggregate over a wider input — the codebook/centroid
    # fit shape the tiny pin is for
    return (
        spark.range(0, 10_000)
        .select((F.col("id") % 8).alias("j"), F.col("id").alias("v"))
        .groupBy("j")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def test_tiny_pin_results_match_plain_lazy_pin(spark):
    a = sorted(lazy_checkpoint(_small_agg(spark)).collect())
    b = sorted(lazy_checkpoint_tiny(_small_agg(spark)).collect())
    assert a == b


def test_tiny_pin_clamps_partitions_and_restores_confs(spark):
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled")
    sp_before = spark.conf.get("spark.sql.shuffle.partitions")

    pinned = lazy_checkpoint_tiny(_small_agg(spark))
    # the compiled (checkpoint-marked) RDD carries the clamped
    # partition count: its shuffle was planned at <= 8 partitions
    assert pinned.rdd.getNumPartitions() <= 8

    assert spark.conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert spark.conf.get("spark.sql.shuffle.partitions") == sp_before
    # and a frame compiled AFTER the pin is adaptive again
    assert aqe_before == "true"


class _StubFrame:
    """Stands in for a frame inside the pin: records the confs its
    compile sees, signals that it is compiling, then sleeps or raises."""

    def __init__(self, spark, sleep_s=0.0, fail=False):
        self.sparkSession = spark
        self.sleep_s, self.fail = sleep_s, fail
        self.seen = None
        self.compiling = threading.Event()

    def localCheckpoint(self, eager):
        conf = self.sparkSession.conf
        self.seen = (
            conf.get("spark.sql.adaptive.enabled"),
            conf.get("spark.sql.shuffle.partitions"),
        )
        self.compiling.set()
        time.sleep(self.sleep_s)
        if self.fail:
            raise RuntimeError("compile failed")
        return self


class _StubSession:
    """A session whose confs are a plain dict, so a value a real
    session would refuse can be set."""

    def __init__(self, confs):
        self.conf = self
        self.confs = dict(confs)

    def get(self, key, default=None):
        return self.confs.get(key, default)

    def set(self, key, value):
        self.confs[key] = value


def _with_partitions(spark, n, body):
    """Run ``body`` with the session at ``n`` shuffle partitions (above
    the tiny clamp, so the pin's temporary value differs), restoring the
    session's own value after."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        body()
    finally:
        spark.conf.set(key, prev)


# what the pin sets while it compiles, at a session of 16 partitions
_TINY = ("false", str(min(16, int(pinning._TINY_PARTITIONS))))


def test_tiny_pin_restores_confs_on_compile_failure(spark):
    """A compile that raises inside the pin — while the temporary
    values are set — leaves the session's own values behind."""

    def body():
        stub = _StubFrame(spark, fail=True)
        with pytest.raises(RuntimeError, match="compile failed"):
            lazy_checkpoint_tiny(stub)
        assert stub.seen == _TINY  # the raise came from inside the pin
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "16"

    _with_partitions(spark, 16, body)


def test_tiny_pin_changes_nothing_on_an_unparsable_partition_count():
    """The confs are parsed before either is set: a partition count that
    is not an integer raises with AQE still on."""
    confs = {"spark.sql.adaptive.enabled": "true", "spark.sql.shuffle.partitions": "auto"}
    stub = _StubFrame(_StubSession(confs))
    with pytest.raises(ValueError):
        lazy_checkpoint_tiny(stub)
    assert stub.sparkSession.confs == confs and stub.seen is None


def test_tiny_pins_on_two_threads_restore_confs(spark):
    """A second pin starts while the first compiles: it must wait, not
    record the first pin's temporary values as the ones to restore —
    the session ends with its own values."""

    def body():
        # the second compiles longer, so without the lock it would
        # restore last — the first pin's temporary values
        first, second = _StubFrame(spark, sleep_s=0.2), _StubFrame(spark, sleep_s=0.5)

        def pin_second():
            first.compiling.wait()
            lazy_checkpoint_tiny(second)

        threads = [
            threading.Thread(target=lazy_checkpoint_tiny, args=(first,)),
            threading.Thread(target=pin_second),
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert first.seen == second.seen == _TINY
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "16"

    _with_partitions(spark, 16, body)
