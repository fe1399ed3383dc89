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

from ..operators.pq import (
    _ivfpq_adc_scored,
    _rank_topk_by_distance,
    _refine_stage,
    _vectors_as_cvecs,
    check_index_meta,
    ivfpq_encode_batch,
)
from ..operators.similarity import probe_clusters, with_quantized
from .ann_delta import allowed_only, index_logs, land_batch
from .ann_delta import (  # noqa: F401 — the shared protocol, re-exported
    compact_delta,
    compact_drift,
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
    check_index_meta(
        spark, index_path, metric=metric, m=m, dim=dim, per_list=per_list
    )
    coarse = spark.read.parquet(f"{index_path}/coarse")
    cents = spark.read.parquet(f"{index_path}/codebook")
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
    dsub = dim // m
    check_index_meta(
        spark, index_path, metric=metric, m=m, dim=dim, per_list=per_list
    )
    coarse = spark.read.parquet(f"{index_path}/coarse")
    cents = spark.read.parquet(f"{index_path}/codebook")

    qd = with_quantized(queries, vec_col, metric=metric).select(id_col, "qv", "nq")
    cj = coarse.select(F.col("j").alias("cluster"), "cqv")
    rq = (
        probe_clusters(qd, coarse, id_col, nprobe=nprobe)
        .join(F.broadcast(cj), "cluster")
        .select(
            F.col(id_col).alias("query_id"),
            "cluster",
            F.zip_with("qv", "cqv", lambda a, b: a - b).alias("qv"),
        )
    )

    def scored(lists: DataFrame) -> DataFrame:
        cand = lists.select(F.col(id_col).alias("cand_id"), "cluster", "codes")
        return _ivfpq_adc_scored(
            allowed_only(cand, filter_ids, id_col), rq, cents, m, dsub,
            per_list=per_list,
        )

    cand_scored = scored(spark.read.parquet(f"{index_path}/codes"))
    delta = log_live(spark, f"{index_path}/delta")
    if delta is not None:
        cand_scored = cand_scored.unionByName(scored(delta))
    if refine:
        cvecs = _vectors_as_cvecs(
            spark.read.parquet(f"{index_path}/vectors"), id_col
        )
        if delta is not None:
            cvecs = cvecs.unionByName(
                _vectors_as_cvecs(delta.select(id_col, "cluster", "qv", "nq"), id_col)
            )
        return _refine_stage(cand_scored, qd, cvecs, id_col, k, refine)
    return _rank_topk_by_distance(cand_scored, k).drop("cluster")


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
    from ..operators.pq import _sub_dist

    cj = coarse.select(F.col("j").alias("cluster"), "cqv")
    if per_list:
        packed = cents.agg(
            F.array_sort(
                F.collect_list(F.struct("cluster", "sub", "j", "cqv"))
            ).alias("__cb")
        )
        book = F.filter(F.col("__cb"), lambda c: c["cluster"] == F.col("cluster"))
    else:
        packed = cents.agg(
            F.array_sort(F.collect_list(F.struct("sub", "j", "cqv"))).alias("__cb")
        )
        book = F.col("__cb")
    pre = (
        encoded.join(F.broadcast(cj), "cluster")
        .crossJoin(F.broadcast(packed))
        .select(
            _sub_dist(F.col("qv"), F.col("cqv")).alias("__ad"),
            F.zip_with("qv", "cqv", lambda a, b: a - b).alias("__rv"),
            "codes",
            book.alias("__bk"),
        )
    )
    nsub = (F.size("__bk") / F.lit(m)).cast("int")

    def err(s: int):
        entry = F.element_at(
            "__bk", (nsub * s + F.element_at("codes", s + 1)).cast("int")
        )
        return _sub_dist(F.slice("__rv", s * dsub + 1, dsub), entry["cqv"])

    qerr = err(0)
    for s in range(1, m):
        qerr = qerr + err(s)
    return pre.select(
        F.col("__ad").cast("decimal(38,0)").alias("__ad"),
        qerr.cast("decimal(38,0)").alias("__qe"),
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
    coarse = spark.read.parquet(f"{index_path}/coarse")
    cents = spark.read.parquet(f"{index_path}/codebook")
    vectors = spark.read.parquet(f"{index_path}/vectors")
    codes = spark.read.parquet(f"{index_path}/codes").select(id_col, "codes")
    encoded = vectors.join(codes, id_col)
    _drift_stats_row(encoded, coarse, cents, m, dim // m, per_list).write.mode(
        "overwrite"
    ).parquet(f"{index_path}/drift_base")
