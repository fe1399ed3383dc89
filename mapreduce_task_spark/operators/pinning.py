"""Reuse pinning for multi-consumer intermediate frames.

Several library operators build one intermediate DataFrame that feeds
multiple downstream consumers (a BM25 stats frame read by the scorer
and the idf aggregate, a k-means centroid frame re-read every Lloyd
round, a minhash signature table joined from two sides). Left alone,
Spark re-derives the frame's whole lineage per consumer; *pinning* it
evaluates it once. The three reasonable pins trade speed against fault
tolerance differently:

- ``lazy_checkpoint`` — ``localCheckpoint(eager=False)``: truncates
  lineage and stores the blocks UNREPLICATED on executor local
  storage. Fastest (no serialization to a reliable store, and the only
  pin that keeps ITERATIVE plan depth constant), but after any
  executor loss the truncated lineage cannot be recomputed — every
  downstream job over the frame fails and the caller must re-run.
  Right for single-node runs and for clusters where a failed job is
  simply resubmitted (this benchmark driver).
- ``disk_persist`` — ``persist(StorageLevel.DISK_ONLY)``: KEEPS
  lineage, so lost blocks are recomputed transparently; costs a
  serialize/deserialize pass and does not bound iterative plan growth.
  The fault-tolerant default for long multi-tenant cluster jobs.
- ``no_pin`` — identity: recompute per consumer. Always correct;
  the right choice when the caller wants to see (and plan-assert) the
  operator's true unpinned lineage, or pins at a coarser granularity
  itself.

Operators that need a pin take a ``pin`` callback. NON-iterative
operators default to ``no_pin`` so importing the library never
silently changes a caller's failure semantics — the benchmark queries
opt in to ``lazy_checkpoint`` explicitly. ITERATIVE operators
(``pagerank_int``, the PQ/IVF Lloyd loops, ``connected_components``)
default to ``lazy_checkpoint`` because unbounded lineage growth is an
algorithmic non-starter there; pass ``disk_persist`` (or a
``df.checkpoint()`` lambda with a checkpoint dir) on clusters where
executor loss must not kill the job.
"""

from __future__ import annotations

import os
import threading
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import DataFrame

Pin = Callable[[DataFrame], DataFrame]

def lazy_checkpoint(df: DataFrame) -> DataFrame:
    """Truncate lineage; blocks unreplicated on executors (see module doc)."""
    return df.localCheckpoint(eager=False)


# localCheckpoint(eager=False) still calls ``df.rdd``, and under AQE
# compiling an AdaptiveSparkPlan to an RDD EXECUTES every non-result
# query stage right there — each "lazy" pin in an iterative builder
# runs its stages at plan-build time (the r13 verdict's "per-pin AQE
# stage constant"). MEASURED NEGATIVE (r14): compiling ALL pins with
# AQE off (so the rounds execute inside the caller's one real action)
# is flat-to-worse — interleaved A/B minima at sf0.1: ivfpq_topk 7.43
# -> 9.14 (+23%), dedup_minhash_lsh 4.78 -> 5.59 (+17%),
# graph_analytics 9.57 -> 9.53 (flat), similarity_topk flat; the
# stages must run either way, and AQE's runtime coalescing/broadcast
# of the round frames is worth more than its eager compile. Kept:
# the TINY-frame variant below, where the pinned frame's row count is
# bounded by hyperparameters (k-row centroid/codebook/bounds frames),
# so a single-digit reduce-partition count is correct at ANY corpus
# scale (the reduce side of those aggregations holds <= k (or m*ksub)
# groups regardless of input rows — map-side partial aggregation
# bounds what reaches it).
_TINY_PARTITIONS = os.environ.get("SPARK_GRAFT_TINY_PIN_PARTITIONS", "8")
_AQE = "spark.sql.adaptive.enabled"
_SHUFFLE_PARTITIONS = "spark.sql.shuffle.partitions"
_CONF_LOCK = threading.Lock()


def lazy_checkpoint_tiny(df: DataFrame) -> DataFrame:
    """``lazy_checkpoint`` for frames whose row count is bounded by
    HYPERPARAMETERS (k centroids, m*ksub codebook entries, per-list
    bounds) — never for data-sized frames. Compiled with AQE off and
    ``spark.sql.shuffle.partitions`` clamped small, so the pin is
    genuinely lazy (no eager per-round stage cascade on the driver's
    critical path) and the k-group reduce stages get the single-digit
    partition count AQE would coalesce them to anyway. The clamp is
    scale-correct by construction: partial aggregation means at most
    #groups rows per map task reach these exchanges, independent of
    corpus size. SPARK_GRAFT_TINY_PIN_PARTITIONS overrides the clamp
    (e.g. for thousands-of-lists per-list codebooks).

    Both confs are read and parsed before either changes, and set
    inside the ``try``, so a bad value or a failed compile leaves the
    session as it was. A module lock serializes the pins: two pins
    compiling at once on two threads (a ``foreachBatch`` next to a
    retrain) would otherwise record each other's temporary values as
    the ones to restore. A query of another thread compiled meanwhile
    still sees the temporary values; only a pin that changes no
    session conf removes that."""
    spark = df.sparkSession
    with _CONF_LOCK:
        old_aqe = spark.conf.get(_AQE, "true")
        old_sp = spark.conf.get(_SHUFFLE_PARTITIONS, "200")
        tiny_sp = str(min(int(old_sp), int(_TINY_PARTITIONS)))
        try:
            spark.conf.set(_AQE, "false")
            spark.conf.set(_SHUFFLE_PARTITIONS, tiny_sp)
            return df.localCheckpoint(eager=False)
        finally:
            spark.conf.set(_AQE, old_aqe)
            spark.conf.set(_SHUFFLE_PARTITIONS, old_sp)


def disk_persist(df: DataFrame) -> DataFrame:
    """Persist to executor disk, lineage kept — recomputable on loss."""
    return df.persist(StorageLevel.DISK_ONLY)


def no_pin(df: DataFrame) -> DataFrame:
    """Identity: each consumer re-derives the frame from source."""
    return df


def release_checkpoint(df: DataFrame) -> None:
    """Free the blocks of a frame returned by ``localCheckpoint``.

    ``DataFrame.unpersist`` does not reach them: the checkpointed RDD
    sits under the frame's ``LogicalRDD``, outside the cache manager,
    and is otherwise freed only when the JVM garbage-collects it. Pass
    the frame ``localCheckpoint`` returned, not a projection of it, and
    only once nothing will read it again."""
    df._jdf.queryExecution().logical().rdd().unpersist(False)
