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

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from ..operators.index_store import load_dataset
from ..operators.similarity import (
    BY_COS,
    allowed_only,
    assign_clusters,
    cand_side,
    probe_clusters,
    query_side,
    rank_topk,
    scored_cosine,
    sq_dist_sql,
    with_quantized,
)
from .ann_delta import delta_live, index_logs, index_meta, land_batch
from .ann_delta import (  # noqa: F401 — the shared protocol, re-exported
    compact_delta,
    compact_drift,
    delta_skew_report,
    drift_signal,
    merge_delta_into_base,
    read_drift_trend,
    reset_drift,
)
from .batchlog import attach_batch_sink, write_batch_partition


def _drift_aggs(dist_col: str) -> list:
    """The drift row (see ann_delta): exact sums across rows,
    decimal(38,0) so corpus-scale sums cannot overflow int64."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col(dist_col).cast("decimal(38,0)")).alias("sum_assign_d"),
    ]


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
    mergeable drift-monitor row for the batch, replay-idempotent like
    the delta write itself. Its sums ride the delta write as observed
    metrics over the assignment's own argmin distance, so the batch is
    read, quantized and assigned once; only a skipped replay (no delta
    write) aggregates the batch separately. ``prequantized=True`` takes
    (id, qv, nq) rows (the retrain carry path)."""
    spark = batch_df.sparkSession
    meta = index_meta(spark, index_path)
    cents = load_dataset(spark, index_path, "centroids", meta)
    if prequantized:
        qd = batch_df.select(id_col, "qv", "nq")
    else:
        qd = with_quantized(batch_df, vec_col).select(id_col, "qv", "nq")
    assigned = assign_clusters(qd, cents, id_col, dist_col="__d")
    rows = assigned
    if drift:
        seen = Observation()
        rows = assigned.observe(seen, *_drift_aggs("__d"))
    wrote = land_batch("ivf", index_path, batch_id, rows.drop("__d"), {})
    if drift:
        if wrote:
            # a one-row frame planned in the JVM (createDataFrame from
            # Python rows would start a Python worker to write it)
            got = seen.get
            total = "NULL" if got["sum_assign_d"] is None else f"{got['sum_assign_d']:f}"
            row = spark.range(1).selectExpr(
                f"CAST({got['n']} AS BIGINT) AS n",
                f"CAST({total} AS DECIMAL(38,0)) AS sum_assign_d",
            )
        else:
            row = assigned.agg(*_drift_aggs("__d"))
        write_batch_partition(row, batch_id, f"{index_path}/drift")


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
    meta = index_meta(spark, index_path)
    cents = load_dataset(spark, index_path, "centroids", meta)
    qd = with_quantized(queries, vec_col).select(id_col, "qv", "nq")
    probes = F.broadcast(
        query_side(probe_clusters(qd, cents, id_col, nprobe=nprobe), id_col)
    )

    def scored(lists: DataFrame) -> DataFrame:
        cand = allowed_only(cand_side(lists, id_col), filter_ids, id_col)
        return scored_cosine(probes.join(cand, "cluster"))

    cand_scored = scored(load_dataset(spark, index_path, "lists", meta))
    delta = delta_live(spark, index_path, meta)
    if delta is not None:
        cand_scored = cand_scored.unionByName(scored(delta))
    return rank_topk(cand_scored, k, BY_COS)


def _ivf_drift_row(assigned: DataFrame, cents: DataFrame) -> DataFrame:
    """(n, sum_assign_d) over an assigned (id, qv, nq, cluster) frame,
    each row's distance to its home centroid taken as the assignment
    takes it — map-only against the broadcast k-row quantizer, then one
    1-row aggregate."""
    cj = cents.selectExpr("j AS cluster", "cqv", "cnq")
    dist = sq_dist_sql("qv", "nq", "cqv", "cnq")
    return (
        assigned.join(F.broadcast(cj), "cluster")
        .select(F.expr(dist).alias("__d"))
        .agg(*_drift_aggs("__d"))
    )


def drift_baseline(spark: SparkSession, index_path: str) -> None:
    """Record the build corpus's own mean assignment distance as the
    comparison base, from the index's persisted ``lists`` dataset (the
    raw corpus is never rescanned). Run once after ``ivf_build_index``
    or a retrain — after a retrain, ``reset_drift`` FIRST (old rows
    measured under the old quantizer poison the new ratios)."""
    meta = index_meta(spark, index_path)
    cents = load_dataset(spark, index_path, "centroids", meta)
    lists = load_dataset(spark, index_path, "lists", meta)
    _ivf_drift_row(lists, cents).write.mode("overwrite").parquet(
        f"{index_path}/drift_base"
    )
