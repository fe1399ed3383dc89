"""Streaming IVF-SQ index maintenance: keep the probe-bounded
compressed index (``operators.sq.ivfsq_*``) fresh as embeddings stream
in, without rebuilding.

The delta protocol — append, compaction, segment merge, both monitor
sets — is the one shared by every ANN family, in ``ann_delta.py``;
this module supplies the IVF-SQ codec pieces. TWO frozen quantizers
govern an append here, and each has its monitor:

- the coarse k-means centroids (as in ``ivf_ingest``): each batch is
  assigned by one broadcast argmin and lands the ``drift`` row summed
  over that argmin's own distance (``ivf_ingest._drift_aggs``);
- the SQ bounds (1-row global or k-row per-list): each batch encodes
  map-only against them and lands the ``sat`` clamp-count row
  (``sq_ingest._sat_row_from_joined``; per-list bounds join on
  cluster).

Delta rows are (id, cluster, codes[, qv, nq]), sub-partitioned by
cluster like the base code lists, so ``search_with_delta`` probes both
sides with partition pruning and merges scored candidates before the
one top-k window (the shared ``_ivfsq_score`` tail) — bit-for-bit what
``ivfsq_search_index`` returns after ``merge_delta_into_base``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.index_store import load_dataset
from ..operators.similarity import assign_clusters, with_quantized
from ..operators.sq import _assert_dim, _codes_expr, _ivfsq_serve
from .ann_delta import delta_live, index_logs, index_meta, land_batch
from .ann_delta import (  # noqa: F401 — the shared protocol, re-exported
    compact_delta,
    compact_drift,
    compact_saturation,
    drift_signal,
    merge_delta_into_base,
    read_drift_trend,
    read_saturation_trend,
    reset_drift,
    reset_saturation,
    saturation_signal,
)
from .batchlog import attach_batch_sink
from .ivf_ingest import _drift_aggs, _ivf_drift_row
from .sq_ingest import _sat_row_from_joined


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    monitors: bool = True,
    prequantized: bool = False,
) -> None:
    """Assign one (micro-)batch to the frozen coarse centroids, encode
    against the frozen SQ bounds, and land it in the delta log's own
    batch partition sub-partitioned by cluster. ``monitors=True``
    (default) also lands the assignment-distance drift row AND the
    bounds-saturation row — two extra map-only passes + 1-row
    aggregates, replay-idempotent like the delta write."""
    spark = batch_df.sparkSession
    meta = index_meta(spark, index_path)
    kind = meta.get("kind", "ivfsq")
    if kind != "ivfsq":
        raise ValueError(
            f"index at {index_path} is kind={kind!r} — ivfsq_ingest "
            "appends to IVF-SQ indexes only (use sq_ingest for flat SQ8)"
        )
    metric = meta.get("metric", "l2")
    per_list = bool(meta.get("per_list", False))
    cents = load_dataset(spark, index_path, "centroids", meta)
    bounds = load_dataset(spark, index_path, "bounds", meta)
    if prequantized:
        qd = batch_df.select(id_col, "qv", "nq")
    else:
        qd = with_quantized(batch_df, vec_col, metric=metric).select(
            id_col, "qv", "nq"
        )
    assigned = assign_clusters(qd, cents, id_col, dist_col="__d")
    if per_list:
        joined = assigned.join(F.broadcast(bounds), "cluster")
    else:
        joined = assigned.crossJoin(F.broadcast(bounds))
    joined = joined.select(
        id_col,
        "cluster",
        "nq",
        _assert_dim(F.col("qv"), F.size("minq"), "ivfsq_append").alias("qv"),
        "minq",
        "maxq",
    )
    if meta.get("store_vectors", True):
        rows = joined.select(
            id_col, "cluster", "qv", "nq", _codes_expr().alias("codes")
        )
    else:
        rows = joined.select(id_col, "cluster", _codes_expr().alias("codes"))
    land_batch(
        "ivfsq", index_path, batch_id, rows,
        {
            "drift": assigned.agg(*_drift_aggs("__d")),
            "sat": _sat_row_from_joined(joined),
        }
        if monitors
        else {},
    )


def streaming_ivfsq_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``ivfsq_build_index``) must exist."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: append_batch(df, bid, index_path, id_col, vec_col),
        index_logs("ivfsq", index_path),
    )


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    nprobe: int = 1,
    metric: str = "l2",
    refine: int = 0,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """IVF-SQ top-k over base code lists PLUS everything appended since
    the build — each side scored through its own join against the
    broadcast probe set (partition pruning holds on base AND delta),
    merged before the one top-k window; bit-for-bit what
    ``ivfsq_search_index`` returns after ``merge_delta_into_base``.
    ``refine`` reranks against base ∪ delta vectors and refuses on a
    ``store_vectors=False`` index; ``filter_ids`` pre-filters
    candidates on both sides."""
    return _ivfsq_serve(
        spark, index_path, queries, id_col, vec_col, k, dim, nprobe, metric,
        refine, filter_ids,
        delta_of=lambda meta: delta_live(spark, index_path, meta),
        who="ivfsq_search_with_delta",
    )


def drift_baseline(spark: SparkSession, index_path: str) -> None:
    """Record the build corpus's own mean assignment distance from the
    index's persisted ``vectors`` dataset (requires a
    ``store_vectors=True`` build — the codes alone cannot reproduce
    exact distances). Run once after ``ivfsq_build_index`` or a
    retrain (``reset_drift`` first, see ivf_ingest)."""
    meta = index_meta(spark, index_path)
    if not meta.get("store_vectors", True):
        raise ValueError(
            f"IVF-SQ index at {index_path} was built store_vectors=False — "
            "drift_baseline needs the persisted vectors dataset"
        )
    cents = load_dataset(spark, index_path, "centroids", meta)
    vectors = load_dataset(spark, index_path, "vectors", meta)
    _ivf_drift_row(vectors, cents).write.mode("overwrite").parquet(
        f"{index_path}/drift_base"
    )
