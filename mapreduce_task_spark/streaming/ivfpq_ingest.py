"""Streaming IVF-PQ index maintenance: keep the compressed (codes +
refine vectors) ANN index (``operators/pq.py:ivfpq_build_index``) fresh
as embeddings stream in, without rebuilding or retraining per batch.

The delta protocol — append, compaction, segment merge, drift monitor —
is the one shared by every ANN family, in ``ann_delta.py``; this module
supplies the IVF-PQ codec pieces:

- ``append_batch`` encodes each batch against the FROZEN coarse
  quantizer + residual codebook (``ivfpq_encode_batch`` — one
  shuffle-free broadcast projection). One delta row carries both
  payloads — the m codes for ADC and (qv, nq) for refine — so codes
  and vectors can never drift apart across a crash, and a merge
  rewrites both base datasets (``codes``, ``vectors``).
- ``search_with_delta`` ADC-scores base lists and the delta live view
  through their own broadcast-probe joins, merges candidates before
  the top-k window, and with ``refine=N`` exact-reranks the merged
  shortlist against base ∪ delta vectors — identical to
  ``ivfpq_search_index`` after a merge (asserted in tests).
- the drift row adds PQ reconstruction error (``sum_quant_err``) to the
  assignment distance: residuals of drifted data quantize worse, which
  shows up as a falling refined-vs-unrefined recall gap, not wrong
  results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.index_store import load_dataset
from ..operators.pq import (
    _RESIDUAL_SQL,
    _ivfpq_serve,
    _sorted_book,
    _sub_dist_sql,
    check_index_meta,
    ivfpq_encode_batch,
)
from ..operators.similarity import allowed_only
from .ann_delta import delta_live, index_logs, index_meta, land_batch
from .ann_delta import (  # noqa: F401 — the shared protocol, re-exported
    compact_delta,
    compact_drift,
    drift_signal,
    merge_delta_into_base,
    read_drift_trend,
    reset_drift,
)
from .batchlog import attach_batch_sink


def append_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    per_list: bool = False,
    metric: str = "l2",
    drift: bool = True,
    prequantized: bool = False,
) -> None:
    """Encode one (micro-)batch against the index's frozen coarse
    quantizer + residual codebook and land it in the delta log's own
    batch partition, sub-partitioned by cluster. ``m``/``dim``/
    ``per_list``/``metric`` must match the build (same plan-time
    contract as ``ivfpq_search_index``; metric is validated against
    the persisted meta — appending un-normalized rows to a cosine
    index would silently corrupt every ranking the delta touches).

    ``drift=True`` (default) also lands one mergeable drift-monitor
    row for the batch — one extra map-only pass + 1-row aggregate over
    the micro-batch, the price of
    a frozen-quantizer design NOT degrading silently. The drift row is
    written even when the delta write is a merged-watermark replay
    skip: the batch's vectors are part of the appended-since-build
    population either way, and a replay overwrites its own drift
    partition with identical numbers (deterministic encode)."""
    spark = batch_df.sparkSession
    meta = check_index_meta(
        spark, index_path, metric=metric, m=m, dim=dim, per_list=per_list
    )
    coarse = load_dataset(spark, index_path, "coarse", meta)
    cents = load_dataset(spark, index_path, "codebook", meta)
    rows = ivfpq_encode_batch(
        batch_df, coarse, cents, id_col, vec_col, m=m, dim=dim,
        per_list=per_list, metric=metric, prequantized=prequantized,
    )
    land_batch(
        "ivfpq", index_path, batch_id, rows,
        {"drift": _drift_stats_row(rows, coarse, cents, m, dim // m, per_list)}
        if drift
        else {},
    )


def streaming_ivfpq_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    per_list: bool = False,
    metric: str = "l2",
    drift: bool = True,
):
    """Attach the append sink to an embedding stream; returns the
    StreamingQuery. The index (``ivfpq_build_index``) must exist."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: append_batch(
            df, bid, index_path, id_col, vec_col,
            m=m, dim=dim, per_list=per_list, metric=metric, drift=drift,
        ),
        index_logs("ivfpq", index_path),
    )


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
    m: int = 8,
    dim: int = 64,
    per_list: bool = False,
    refine: int = 0,
    filter_ids: DataFrame | None = None,
    metric: str = "l2",
) -> DataFrame:
    """IVF-PQ top-k over base lists PLUS everything appended since the
    build — identical ADC arithmetic, tie-breaks, and (with
    ``refine=N``) exact-rerank semantics to ``ivfpq_search_index``, so
    the result matches that function run after ``merge_delta_into_
    base`` (asserted in tests).

    Each side is ADC-scored through its own join against the broadcast
    per-(query, probed cluster) distance tables, so partition pruning
    to the probed clusters holds on base AND delta independently; the
    merged candidates feed one top-k window. The refine shortlist is
    taken over the MERGED candidates and re-scored against base ∪
    delta vectors (the delta rows already carry qv/nq — no second
    encode, no corpus read).

    ``filter_ids`` pre-filters candidates on BOTH sides to an
    allow-list before any ranking — the same filtered-search contract
    as ``ivfpq_search_index(filter_ids=)``, here spanning base and
    streamed-in rows alike."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    meta = check_index_meta(
        spark, index_path, metric=metric, m=m, dim=dim, per_list=per_list
    )

    def cand(lists: DataFrame) -> DataFrame:
        c = lists.select(F.col(id_col).alias("cand_id"), "cluster", "codes")
        return allowed_only(c, filter_ids, id_col)

    cands = [cand(load_dataset(spark, index_path, "codes", meta))]
    delta = delta_live(spark, index_path, meta)
    if delta is not None:
        cands.append(cand(delta))
    return _ivfpq_serve(
        spark, index_path, meta, queries, cands, id_col, vec_col, k, nprobe,
        m, dim, per_list, refine, metric, extra_vectors=delta,
    )


def _drift_stats_row(
    encoded: DataFrame,
    coarse: DataFrame,
    cents: DataFrame,
    m: int,
    dsub: int,
    per_list: bool = False,
) -> DataFrame:
    """One mergeable drift row over encoded (cluster, qv, nq, codes)
    rows: (n, sum_assign_d, sum_quant_err) — exact int64 per row,
    decimal(38,0) across rows. ``sum_assign_d`` sums ||v -
    centroid(home)||^2 (coarse-quantizer fit), ``sum_quant_err`` sums
    ||residual - decode(codes)||^2 (codebook fit, the PQ
    reconstruction error ADC rankings degrade with). Map-only against the two
    broadcast tables the encode already used, then a 1-row aggregate —
    O(batch) work, nothing new touches the base index."""
    cj = coarse.select(F.col("j").alias("cluster"), "cqv")
    packed, book = _sorted_book(cents, per_list)
    pre = (
        encoded.join(F.broadcast(cj), "cluster")
        .crossJoin(F.broadcast(packed))
        .selectExpr(
            f"{_sub_dist_sql('qv', 'cqv')} AS __ad",
            f"{_RESIDUAL_SQL} AS __rv",
            "codes",
            f"{book} AS __bk",
        )
    )
    # code s of subspace s sits at position s * nsub + code in the book
    nsub = f"CAST(size(__bk) / {m} AS INT)"
    qerr = " + ".join(
        _sub_dist_sql(
            f"slice(__rv, {s * dsub + 1}, {dsub})",
            f"element_at(__bk, CAST({nsub} * {s} + element_at(codes, {s + 1}) AS INT)).cqv",
        )
        for s in range(m)
    )
    return pre.selectExpr(
        "CAST(__ad AS DECIMAL(38,0)) AS __ad",
        f"CAST({qerr} AS DECIMAL(38,0)) AS __qe",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("__ad").alias("sum_assign_d"),
        F.sum("__qe").alias("sum_quant_err"),
    )


def drift_baseline(
    spark: SparkSession,
    index_path: str,
    id_col: str = "vec_id",
    m: int = 8,
    dim: int = 64,
    per_list: bool = False,
) -> None:
    """Record the build-time corpus's own drift stats as the
    comparison base, from the INDEX's persisted datasets (one read of
    vectors ⋈ codes — the raw corpus is never rescanned). Run once
    after ``ivfpq_build_index`` (or after a retrain); readers join it
    to per-batch rows to turn absolute errors into ratios.

    RETRAIN CONTRACT: after rebuilding the index (new quantizer /
    codebook), existing drift rows describe batches encoded under the
    OLD quantizer — their errors are meaningless against the new
    baseline and would poison every ratio. Call ``reset_drift`` before
    re-running this, then re-baseline. (The delta log itself is merged
    or discarded by the retrain anyway; the drift log is the one
    artifact that would silently survive.)"""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    meta = index_meta(spark, index_path)
    coarse = load_dataset(spark, index_path, "coarse", meta)
    cents = load_dataset(spark, index_path, "codebook", meta)
    vectors = load_dataset(spark, index_path, "vectors", meta)
    codes = load_dataset(spark, index_path, "codes", meta).select(id_col, "codes")
    encoded = vectors.join(codes, id_col)
    _drift_stats_row(encoded, coarse, cents, m, dim // m, per_list).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/drift_base")
