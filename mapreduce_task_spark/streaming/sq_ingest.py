"""Streaming flat-SQ8 index maintenance: keep a persisted SQ index
(``operators.sq.sq_build_index``) fresh as embeddings stream in,
without rebuilding.

The delta protocol — append, compaction, segment merge, saturation
monitor — is the one shared by every ANN family, in ``ann_delta.py``;
this module supplies the flat-SQ8 codec pieces. The quantizer is the
per-dimension (minq, maxq) BOUNDS frame, FROZEN across appends:

- ``append_batch`` encodes each batch against the build-time bounds in
  one map-only pass; the delta is flat (no clusters), and carries
  (qv, nq) beside the codes when the index stores vectors, so refine
  covers streamed-in rows too;
- ``search_with_delta`` unions base codes with the delta live view
  before the one top-k window — bit-for-bit what ``sq_search_index``
  returns after ``merge_delta_into_base`` (a full REBUILD would refit
  bounds and legitimately differ);
- the frozen-bounds degradation is SATURATION, not drift: a component
  outside [minq, maxq] clamps silently in ``sq_encode``, carrying no
  distance information, and the ``sat`` row counts it. When
  ``saturation_signal`` trips, rebuild over base ∪ delta (fresh
  bounds), then ``reset_saturation``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.index_store import load_dataset
from ..operators.similarity import with_quantized
from ..operators.sq import _assert_dim, _codes_expr, _sq_serve
from .ann_delta import delta_live, index_logs, index_meta, land_batch
from .ann_delta import (  # noqa: F401 — the shared protocol, re-exported
    compact_delta,
    compact_saturation,
    merge_delta_into_base,
    read_saturation_trend,
    reset_saturation,
    saturation_signal,
)
from .batchlog import attach_batch_sink


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    saturation: bool = True,
) -> None:
    """Encode one (micro-)batch against the index's FROZEN bounds and
    land it in the delta log's own batch partition. Delta rows carry
    (id, codes) plus (qv, nq) when the index stores vectors (so the
    refine stage covers streamed-in rows too). ``saturation=True``
    (default) also lands one mergeable clamp-counter row — one extra
    map-only pass + 1-row aggregate, replay-idempotent like the delta
    write itself."""
    spark = batch_df.sparkSession
    meta = index_meta(spark, index_path)
    kind = meta.get("kind", "sq8")
    if kind != "sq8":
        raise ValueError(
            f"index at {index_path} is kind={kind!r} — sq_ingest appends "
            "to flat SQ8 indexes only (use ivfsq_ingest for IVF-SQ)"
        )
    metric = meta.get("metric", "l2")
    bounds = load_dataset(spark, index_path, "bounds", meta)
    qd = with_quantized(batch_df, vec_col, metric=metric).select(
        id_col, "qv", "nq"
    )
    joined = qd.crossJoin(F.broadcast(bounds)).select(
        id_col,
        "nq",
        _assert_dim(F.col("qv"), F.size("minq"), "sq_append").alias("qv"),
        "minq",
        "maxq",
    )
    if meta.get("store_vectors", True):
        rows = joined.select(id_col, "qv", "nq", _codes_expr().alias("codes"))
    else:
        rows = joined.select(id_col, _codes_expr().alias("codes"))
    land_batch(
        "sq8", index_path, batch_id, rows,
        {"sat": _sat_row_from_joined(qd.crossJoin(F.broadcast(bounds)))}
        if saturation
        else {},
    )


def streaming_sq_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``sq_build_index``) must exist."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: append_batch(df, bid, index_path, id_col, vec_col),
        index_logs("sq8", index_path),
    )


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    metric: str = "l2",
    refine: int = 0,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Flat-SQ top-k over base codes PLUS everything appended since
    the build — the shared ``_sq_flat_score`` tail over base ∪ delta,
    so the result is bit-for-bit what ``sq_search_index`` returns
    after ``merge_delta_into_base`` (asserted in tests). ``refine``
    reranks against base ∪ delta vectors and refuses on a
    ``store_vectors=False`` index; ``filter_ids`` pre-filters
    candidates on both sides before scoring (the package-wide
    filtered-search contract)."""
    return _sq_serve(
        spark, index_path, queries, id_col, vec_col, k, dim, metric, refine,
        filter_ids,
        delta_of=lambda meta: delta_live(spark, index_path, meta),
        who="sq_search_with_delta",
    )


def _sat_row_from_joined(joined: DataFrame) -> DataFrame:
    """The saturation row (n, n_components, n_clamped) over a frame
    already carrying (qv, minq, maxq) — map-only, then one 1-row
    aggregate. A component clamps when it falls outside [minq, maxq]
    (for a degenerate minq == maxq dimension, any deviation from the
    constant counts — encode emits 0 and decode returns minq there).
    Shared with ivfsq_ingest, whose per-list bounds join on cluster
    instead of the flat index's 1-row crossJoin."""
    below = F.aggregate(
        F.zip_with("qv", "minq", lambda v, lo: (v < lo).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    above = F.aggregate(
        F.zip_with("qv", "maxq", lambda v, hi: (v > hi).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    return (
        joined
        .select(
            F.size("qv").cast("decimal(38,0)").alias("__nc"),
            (below + above).cast("decimal(38,0)").alias("__cl"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("__nc").alias("n_components"),
            F.sum("__cl").alias("n_clamped"),
        )
    )
