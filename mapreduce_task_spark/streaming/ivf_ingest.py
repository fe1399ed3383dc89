"""Streaming IVF index maintenance: keep a persisted IVF-Flat index
(``ivf_build_index``: coarse centroids + cluster-partitioned inverted
lists of exact quantized vectors) fresh as embeddings stream in.

The delta protocol — append, compaction, segment merge, drift monitor —
is the one shared by every ANN family, in ``ann_delta.py``; this module
supplies the IVF-Flat codec pieces:

- ``append_batch`` assigns each batch to the FROZEN centroids (one
  broadcast argmin over the k-row quantizer — shuffle-free, batch-
  proportional) and lands (id, qv, nq, cluster) rows in the delta;
- ``search_with_delta`` cosine-scores base lists and the delta through
  their own joins against the broadcast probe set — results identical
  to a full rebuild over base ∪ delta under the same quantizer;
- the drift row carries ``sum_assign_d`` only: the flat index stores
  exact vectors, so the one drifting quantity is coarse-assignment fit
  (list skew, falling recall at fixed nprobe). ``delta_skew_report``
  shows where that skew is sending probe cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.similarity import (
    assign_clusters,
    int_dot,
    probe_clusters,
    quantized_cosine,
    with_quantized,
)
from .ann_delta import allowed_only, index_logs, land_batch
from .ann_delta import (  # noqa: F401 — the shared protocol, re-exported
    compact_delta,
    compact_drift,
    delta_skew_report,
    drift_signal,
    merge_delta_into_base,
    read_drift_trend,
    reset_drift,
)
from .batchlog import attach_batch_sink, log_live


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    drift: bool = True,
    prequantized: bool = False,
) -> None:
    """Assign one (micro-)batch of embeddings to the index's frozen
    centroids and land it in the delta log's own batch partition,
    sub-partitioned by cluster. ``drift=True`` (default) also lands one
    mergeable drift-monitor row for the batch — one extra map-only pass
    + 1-row aggregate, replay-idempotent like the delta write itself.
    ``prequantized=True`` takes (id, qv, nq) rows (the retrain carry
    path)."""
    spark = batch_df.sparkSession
    cents = spark.read.parquet(f"{index_path}/centroids")
    if prequantized:
        qd = batch_df.select(id_col, "qv", "nq")
    else:
        qd = with_quantized(batch_df, vec_col).select(id_col, "qv", "nq")
    assigned = assign_clusters(qd, cents, id_col)
    land_batch(
        "ivf", index_path, batch_id, assigned,
        {"drift": _ivf_drift_row(assigned, cents)} if drift else {},
    )


def streaming_ivf_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``ivf_build_index``) must exist."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: append_batch(df, bid, index_path, id_col, vec_col),
        index_logs("ivf", index_path),
    )


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF top-k over base lists PLUS everything appended since the
    build — identical scoring/tie-break to ``ivf_search_index``, so
    the result matches a full index rebuild over base ∪ delta under
    the same quantizer (asserted in tests).

    Each side is scored through its own join against the broadcast
    probe set (rather than a union of scans before the join), so
    partition pruning to the probed clusters holds on base AND delta
    independently; the merged candidates feed one top-k window.
    ``filter_ids`` pre-filters candidates on BOTH sides to an
    allow-list before scoring."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    qd = with_quantized(queries, vec_col).select(id_col, "qv", "nq")
    probes = probe_clusters(qd, cents, id_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col("qv").alias("qv_q"),
        F.col("nq").alias("nq_q"),
        "cluster",
    )

    def scored(lists: DataFrame) -> DataFrame:
        cand = lists.select(
            F.col(id_col).alias("cand_id"),
            F.col("qv").alias("qv_c"),
            F.col("nq").alias("nq_c"),
            "cluster",
        )
        return (
            F.broadcast(probes)
            .join(allowed_only(cand, filter_ids, id_col), "cluster")
            .filter(F.col("cand_id") != F.col("query_id"))
            .select(
                "query_id",
                "cand_id",
                quantized_cosine(
                    int_dot(F.col("qv_q"), F.col("qv_c")),
                    F.col("nq_q"),
                    F.col("nq_c"),
                ).alias("cos"),
            )
        )

    cand_scored = scored(spark.read.parquet(f"{index_path}/lists"))
    delta = log_live(spark, f"{index_path}/delta")
    if delta is not None:
        cand_scored = cand_scored.unionByName(scored(delta))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("cand_id"))
    return cand_scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def _ivf_drift_row(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """(n, sum_assign_d) over an assigned (id, qv, nq, cluster) frame —
    map-only against the broadcast k-row quantizer, then one 1-row
    aggregate. decimal(38,0) across rows so corpus-scale sums cannot
    overflow int64."""
    from ..operators.pq import _sub_dist

    cj = cents.select(F.col("j").alias("cluster"), "cqv")
    return (
        assigned.join(F.broadcast(cj), "cluster")
        .select(
            _sub_dist(F.col("qv"), F.col("cqv"))
            .cast("decimal(38,0)")
            .alias("__ad")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__ad").alias("sum_assign_d"),
        )
    )


def drift_baseline(spark: SparkSession, index_path: str) -> None:
    """Record the build corpus's own mean assignment distance as the
    comparison base, from the index's persisted ``lists`` dataset (the
    raw corpus is never rescanned). Run once after ``ivf_build_index``
    or a retrain — after a retrain, ``reset_drift`` FIRST (old rows
    measured under the old quantizer poison the new ratios)."""
    cents = spark.read.parquet(f"{index_path}/centroids")
    lists = spark.read.parquet(f"{index_path}/lists")
    _ivf_drift_row(lists, cents).write.mode("overwrite").parquet(
        f"{index_path}/drift_base"
    )
