"""Scalar quantization (SQ8): per-dimension 8-bit compressed vectors —
the middle point on the compression/recall frontier between the flat
index (full vectors, exact) and PQ (m bytes, coarsest).

FAISS's IndexScalarQuantizer shape: fit per-dimension [min, max]
bounds over the corpus (ONE aggregation pass — 2*dim scalar aggregates
in a single agg, no explode/shuffle-per-dim), then encode every
component to ``floor((q - min) * 255 / (max - min))`` in [0, 255].
At rest that is dim bytes per vector — 4x smaller than the engine's
int64 quantized vectors, 8x smaller than float64 — while keeping
per-dimension resolution PQ gives up (SQ has no codebook to drift or
retrain, and decode is a map-side affine expression).

Determinism contract (same as the rest of the ANN stack): encode is
pure int64 arithmetic (multiply, floor-divide) over the fixed-point
``with_quantized`` grid, so codes — and therefore every distance and
ranking — are bitwise-replayable by a SQL oracle. Search decodes each
component as ``min + (code * (max - min)) DIV 255`` (integer floor —
at most one quant-grid unit, 1e-6 of value range, below the SQ error
itself) and ranks by exact int64 squared L2 between the query's exact
grid vector and the decoded candidate; sums stay < 2^53, exact in
int64 and double alike.

``metric="cosine"`` composes exactly as in ``operators.pq``: inputs
unit-normalize on the integer grid first (``with_quantized``
documents the L2==cosine equivalence), everything downstream
unchanged. ``refine=N`` exact-reranks the SQ shortlist on the
original grid vectors via the shared ``pq._refine_exact`` core, so
SQ slots into the same search surface as ADC.

Scale shape: fit is one corpus aggregation to a 1-row bounds frame
(broadcast thereafter); encode is map-only; the flat search is a
broadcast nested-loop scan over the codes column only (the flat-scan
compression option). For probe-BOUNDED compressed search, the
``ivfsq_*`` family below composes the same codes with the IVF coarse
quantizer (FAISS's IndexIVFScalarQuantizer): cluster-partitioned code
lists, nprobe-pruned scans, optional per-list bounds.

Cite: reference has no vector ops (SURVEY §2.5); this extends the
similarity-search extension family (SURVEY §2.6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .index_store import (
    check_index_meta,
    load_dataset,
    record_delta_schema,
    save_dataset,
    write_index_meta,
)
from .pq import _refine_exact, _sub_dist_sql
from .similarity import (
    BY_APPROX,
    VALID_METRICS,
    allowed_only,
    cand_side,
    probe_clusters,
    query_side,
    rank_topk,
    with_quantized,
)

# exact int64 squared L2 from the query grid vector to a decoded candidate
_APPROX_D_SQL = _sub_dist_sql("qv_q", "__dv")

SQ_LEVELS = 255  # 8-bit: codes in [0, 255]


def _assert_dim(qv_col, dim_expr, who: str):
    """Fail loudly on a shape mismatch: zip_with silently null-pads
    when a vector's length disagrees with the fitted bounds' dim, which
    would surface as NULL codes/distances (sorting wrongly under asc
    rank) instead of an error. Returns the vector column unchanged when
    the size matches, raises at execution time otherwise."""
    size = F.size(qv_col)
    return F.when(size == dim_expr, qv_col).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"{who}: vector length "),
                size.cast("string"),
                F.lit(" != dim "),
                dim_expr.cast("string"),
            )
        )
    )


def _bounds_agg(qd: DataFrame, dim: int, group_cols: tuple = ()) -> DataFrame:
    """The fit core: 2*dim scalar min/max aggregates in ONE pass over a
    quantized (``qv``) frame, packed back into (minq, maxq) arrays —
    globally (1 row) or per group (``group_cols``, e.g. per inverted
    list for the IVF-SQ composition)."""
    # F.expr strings, not per-column py4j construction: the 2*dim agg
    # expressions and the 2 dim-ary array packs are built in O(1) py4j
    # round-trips instead of O(dim) — identical resolved plan, ~1 s
    # less driver-side build time per fit at dim=64 (r13; the bench
    # build/run split is the receipt). qv[i] is the 0-based subscript,
    # == element_at(qv, i+1) under the _assert_dim guard.
    struct_sql = (
        "named_struct("
        + ", ".join(
            f"'mn{i}', min(qv[{i}]), 'mx{i}', max(qv[{i}])" for i in range(dim)
        )
        + ")"
    )
    agg = F.expr(struct_sql).alias("__b")
    row = qd.groupBy(*group_cols).agg(agg) if group_cols else qd.agg(agg)
    mn_pack = "array(" + ",".join(f"__b.mn{i}" for i in range(dim)) + ")"
    mx_pack = "array(" + ",".join(f"__b.mx{i}" for i in range(dim)) + ")"
    return row.select(
        *group_cols,
        F.expr(mn_pack).alias("minq"),
        F.expr(mx_pack).alias("maxq"),
    )


def sq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    metric: str = "l2",
) -> DataFrame:
    """Per-dimension bounds: a 1-row (minq, maxq) frame of dim-length
    int64 arrays over the (optionally unit-grid normalized) corpus —
    2*dim scalar min/max aggregates computed in ONE pass, packed back
    into arrays. Broadcast-sized forever after."""
    if metric not in VALID_METRICS:
        raise ValueError(f"metric must be one of {VALID_METRICS}, got {metric!r}")
    qd = with_quantized(df, vec_col, metric=metric).select(
        _assert_dim(F.col("qv"), F.lit(dim), "sq_fit").alias("qv")
    )
    return _bounds_agg(qd, dim)


def _codes_expr():
    """codes_i = clamp(floor((qv_i - min_i) * 255 / (max_i - min_i)),
    0, 255) — pure int64 arithmetic over columns qv/minq/maxq."""
    spread = F.zip_with("maxq", "minq", lambda hi, lo: hi - lo)
    shifted = F.zip_with(
        "qv", "minq", lambda v, lo: F.greatest(v - lo, F.lit(0)) * F.lit(SQ_LEVELS)
    )
    return F.zip_with(
        shifted,
        spread,
        lambda num, sp: F.when(
            sp > 0,
            F.least((num - F.pmod(num, sp)) / sp, F.lit(SQ_LEVELS)),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


def _per_list_bounds(assigned: DataFrame, cents: DataFrame, dim: int) -> DataFrame:
    """Per-list (minq, maxq) with a row GUARANTEED for every centroid:
    the final assignment pass can leave a centroid with zero members
    (``kmeans_lite_fit`` returns centroids from the PREVIOUS round's
    update), and a missing bounds row would silently DROP any streamed
    vector later assigned to that cluster (the delta encode joins on
    cluster). Empty lists fall back to the GLOBAL bounds — they hold
    no base vectors, so the fallback governs only future delta rows.

    The global fallback derives from the k-row per-list frame itself
    (element-wise min-of-mins / max-of-maxes == the corpus global —
    empty clusters contribute to neither side), NOT a second corpus
    aggregation: one zip_with reduce over k collected arrays replaces
    a second 2*dim-aggregate pass (r13 — measured ~2 s less
    driver-side plan construction per build at dim=64, and one fewer
    corpus pass at any scale)."""
    per = _bounds_agg(assigned, dim, group_cols=("cluster",))
    packed = per.agg(
        F.collect_list("minq").alias("__mns"),
        F.collect_list("maxq").alias("__mxs"),
    )
    # F.get (0-based) is null-safe on an EMPTY collected list (zero
    # clusters — the empty-corpus sweep), where ANSI element_at(.., 1)
    # throws; the null init just propagates through an aggregate over
    # an equally empty tail, and the empty centroid join below emits
    # zero rows anyway
    _rest = lambda c: F.slice(c, 2, 1 << 30)  # noqa: E731
    glob = packed.select(
        F.aggregate(
            _rest(F.col("__mns")),
            F.get("__mns", 0),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: F.least(a, b)),
        ).alias("__gmn"),
        F.aggregate(
            _rest(F.col("__mxs")),
            F.get("__mxs", 0),
            lambda acc, x: F.zip_with(acc, x, lambda a, b: F.greatest(a, b)),
        ).alias("__gmx"),
    )
    return (
        cents.select(F.col("j").alias("cluster"))
        .join(per, "cluster", "left")
        .crossJoin(F.broadcast(glob))
        .select(
            "cluster",
            F.coalesce("minq", F.col("__gmn")).alias("minq"),
            F.coalesce("maxq", F.col("__gmx")).alias("maxq"),
        )
    )


def _encode_qv(
    qd: DataFrame, bounds: DataFrame, keep: list, per_list: bool = False
) -> DataFrame:
    """Encode an already-quantized frame (columns ``qv`` + ``keep``)
    against fitted bounds: global bounds broadcast-crossJoin (1 row) or
    per-list bounds broadcast-joined on ``cluster``. Returns
    (*keep, codes)."""
    if per_list:
        joined = qd.join(F.broadcast(bounds), "cluster")
    else:
        joined = qd.crossJoin(F.broadcast(bounds))
    return joined.select(
        *keep,
        _assert_dim(F.col("qv"), F.size("minq"), "sq_encode").alias("qv"),
        "minq",
        "maxq",
    ).select(*keep, _codes_expr().alias("codes"))


def sq_encode(
    df: DataFrame,
    bounds: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
) -> DataFrame:
    """(id, codes): each vector as dim 8-bit codes against the fitted
    bounds — map-only (bounds broadcast as one row). Out-of-range
    components (possible when encoding NEW vectors against frozen
    bounds, e.g. a streaming delta) clamp to the nearest end, the
    standard frozen-bounds degradation (shows up as drift in distance
    quality, never as wrong arithmetic — and is COUNTED per batch by
    streaming.sq_ingest's saturation monitor). Integer floor-division —
    deterministic, oracle-replayable. ``metric`` must match the fit."""
    qd = with_quantized(df, vec_col, metric=metric).select(id_col, "qv")
    return _encode_qv(qd, bounds, keep=[id_col])


def _sq_decoded(codes_col="codes"):
    """decoded_i = min_i + (code_i * (max_i - min_i)) DIV 255 — the
    reconstruction on the same integer grid as ``qv`` (floor error at
    most one grid unit)."""
    spread = F.zip_with("maxq", "minq", lambda hi, lo: hi - lo)
    step = F.zip_with(
        F.col(codes_col).cast("array<bigint>"),
        spread,
        lambda c, sp: (
            c * sp - F.pmod(c * sp, F.lit(SQ_LEVELS))
        ) / F.lit(SQ_LEVELS),
    )
    return F.zip_with("minq", step, lambda lo, st: lo + st.cast("bigint"))


def sq_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    metric: str = "l2",
    refine: int = 0,
) -> DataFrame:
    """SQ8 top-k: exact query grid vectors against decoded candidate
    codes. Returns (query_id, cand_id, approx_d, rank) ranked by exact
    int64 squared L2 to the RECONSTRUCTED candidates (asymmetric —
    the query is never quantized to 8 bits, same asymmetry ADC uses);
    ties to lowest cand_id. ``refine=N`` keeps an N*k shortlist and
    exact-reranks it on the original grid vectors (shared
    ``pq._refine_exact`` core; output gains ``exact_d``).

    The candidate side reads only the codes column — the 4x-compressed
    flat scan. The decode + distance is one codegen zip_with chain per
    candidate; no Python anywhere. Funnels through the shared
    ``_sq_flat_score`` tail (with the persisted-index search and the
    streaming delta search), so the three paths cannot drift."""
    bounds = sq_fit(df, id_col, vec_col, dim, metric=metric)
    cand = sq_encode(df, bounds, id_col, vec_col, metric=metric).select(
        F.col(id_col).alias("cand_id"), "codes"
    )
    qd = with_quantized(df, vec_col, metric=metric).select(id_col, "qv", "nq")
    queries_qd = qd.join(query_ids.select(id_col), id_col)
    return _sq_flat_score(
        queries_qd, cand, bounds, id_col, k, refine,
        vectors=qd if refine else None,
    )


# ---------------------------------------------------------------------------
# IVF-SQ: SQ8 codes inside the coarse quantizer's inverted lists —
# probe-bounded compressed search. The flat SQ scan above is O(N) per
# query (4x compressed, but still the whole codes column); composing
# with the IVF coarse quantizer bounds every search to nprobe inverted
# lists while keeping SQ's per-dimension resolution (measured recall
# ~0.97 at 4x compression vs PQ's ~0.17 at the same nprobe). This is
# FAISS's IndexIVFScalarQuantizer shape: same build as IVF (seeded
# exact-integer k-means), same probe ranking, but lists store dim-byte
# SQ codes instead of full vectors; search decodes only the probed
# lists. ``per_list=True`` fits (minq, maxq) PER LIST instead of
# globally — each list's narrower range spends the 8 bits on less
# spread (finer resolution) at the cost of a k-row instead of 1-row
# bounds frame (both broadcast-sized; recall measured side by side in
# tests/bench extras).
# ---------------------------------------------------------------------------


def ivfsq_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_clusters: int = 8,
    dim: int = 64,
    rounds: int = 1,
    nprobe: int = 1,
    metric: str = "l2",
    refine: int = 0,
    per_list: bool = False,
) -> DataFrame:
    """Inline IVF-SQ top-k (build + search in one plan; the persisted
    split below reproduces it bit-for-bit). Candidates are scored by
    exact int64 squared L2 between the query's exact grid vector and
    the DECODED candidate codes, restricted to each query's ``nprobe``
    nearest inverted lists; ties to lowest cand_id. At
    nprobe=n_clusters with global bounds this degenerates to the flat
    ``sq_topk`` exactly (every candidate scanned, same codes — asserted
    in tests). ``refine=N`` exact-reranks an N*k shortlist on the
    original grid vectors (shared ``pq._refine_exact``)."""
    from .pinning import lazy_checkpoint_tiny
    from .similarity import assign_clusters, kmeans_lite_fit

    qd, cents = kmeans_lite_fit(
        df, id_col, vec_col, n_clusters, dim, rounds, metric=metric
    )
    # both the candidate assignment and the query probe ranking consume
    # the k-row centroid frame: materialize the Lloyd rounds once
    # (tiny pin — n_clusters rows by construction)
    cents = lazy_checkpoint_tiny(cents)
    assigned = assign_clusters(qd, cents, id_col)
    if per_list:
        bounds = _per_list_bounds(assigned, cents, dim)
    else:
        bounds = _bounds_agg(
            qd.select(_assert_dim(F.col("qv"), F.lit(dim), "ivfsq_topk").alias("qv")),
            dim,
        )
    bounds = lazy_checkpoint_tiny(bounds)  # k-row (or 1-row) frame
    codes = _encode_qv(
        assigned.select(F.col(id_col).alias("cand_id"), "cluster", "qv"),
        bounds,
        keep=["cand_id", "cluster"],
        per_list=per_list,
    )
    probes = query_side(
        probe_clusters(
            qd.join(query_ids.select(id_col), id_col), cents, id_col, nprobe=nprobe
        ),
        id_col,
    )
    return _ivfsq_score(
        probes, codes, bounds, cand_side(assigned, id_col), k, refine, per_list
    )


def _ivfsq_score(
    probes: DataFrame,
    codes: DataFrame | list,
    bounds: DataFrame,
    cvecs: DataFrame | None,
    k: int,
    refine: int,
    per_list: bool,
) -> DataFrame:
    """The shared IVF-SQ search tail (inline operator, persisted-index
    search, and streaming delta all funnel here so they cannot drift):
    decode the probed lists' codes, rank by exact int64 L2 to the
    exact query grid vectors, optional exact rerank on ``cvecs``.
    ``codes`` may be a LIST of (cand_id, cluster, codes) frames — each
    side is scored through its own join against the broadcast probe
    set (so partition pruning holds on base AND delta independently,
    the ivf_ingest shape) and the scored candidates merge before the
    one top-k window."""
    def scored_side(c: DataFrame) -> DataFrame:
        if per_list:
            dec_src = c.join(F.broadcast(bounds), "cluster")
        else:
            dec_src = c.crossJoin(F.broadcast(bounds))
        dec = dec_src.select("cand_id", "cluster", _sq_decoded().alias("__dv"))
        return (
            F.broadcast(probes)
            .join(dec, "cluster")
            .filter(F.col("cand_id") != F.col("query_id"))
            .select(
                "query_id",
                "cand_id",
                "cluster",
                F.expr(_APPROX_D_SQL).alias("approx_d"),
            )
        )

    sides = codes if isinstance(codes, list) else [codes]
    scored = scored_side(sides[0])
    for extra in sides[1:]:
        scored = scored.unionByName(scored_side(extra))
    if not refine:
        return rank_topk(scored, k, BY_APPROX)
    shortlist = rank_topk(scored, refine * k, BY_APPROX).drop("rank")
    qvecs = probes.select("query_id", "qv_q", "nq_q").dropDuplicates(
        ["query_id"]
    )
    return _refine_exact(shortlist, qvecs, cvecs, k, on=["cluster", "cand_id"])


def ivfsq_build_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    dim: int = 64,
    rounds: int = 1,
    metric: str = "l2",
    per_list: bool = False,
    store_vectors: bool = True,
    prequantized: bool = False,
) -> None:
    """Build the IVF-SQ index ONCE and persist it. Writes under
    ``path``:
      - ``centroids``: the k-row coarse quantizer,
      - ``bounds``: the SQ bounds frame (1 row global, k rows when
        ``per_list``),
      - ``codes``: (id, codes) partitioned BY CLUSTER — each inverted
        list is a physical partition of dim-byte codes, so a search
        probing ``nprobe`` lists prunes every other partition at the
        scan,
      - ``vectors`` (``store_vectors=True``): the assigned exact grid
        vectors, cluster-partitioned, for the refine stage (a
        vectors-less index serves ``refine=0`` only — the flat-SQ
        storage tradeoff, recorded in meta).
    Plus ``_INDEX_META.json`` (kind/metric/dim/n_clusters/per_list/
    store_vectors); search refuses metric/shape mismatches."""
    from .similarity import assign_clusters, kmeans_lite_fit

    spark = df.sparkSession
    meta = {
        "kind": "ivfsq",
        "metric": metric,
        "dim": dim,
        "n_clusters": n_clusters,
        "per_list": per_list,
        "store_vectors": store_vectors,
        "rounds": rounds,
    }
    qd, cents = kmeans_lite_fit(
        df, id_col, vec_col, n_clusters, dim, rounds, metric=metric,
        prequantized=prequantized,
    )
    save_dataset(cents, path, "centroids", meta)
    cents_l = load_dataset(spark, path, "centroids", meta)
    assigned = assign_clusters(qd, cents_l, id_col)
    if store_vectors:
        # the vectors dataset IS the assigned frame: persist it first
        # and derive bounds + codes from the persisted copy, so the
        # assignment pass runs once
        save_dataset(assigned, path, "vectors", meta, partition_by=("cluster",))
        assigned = load_dataset(spark, path, "vectors", meta)
    else:
        from .pinning import lazy_checkpoint

        assigned = lazy_checkpoint(assigned)
    if per_list:
        bounds = _per_list_bounds(assigned, cents_l, dim)
    else:
        bounds = _bounds_agg(assigned.select("qv"), dim)
    save_dataset(bounds, path, "bounds", meta)
    bounds_l = load_dataset(spark, path, "bounds", meta)
    codes = _encode_qv(
        assigned.select(id_col, "cluster", "qv"),
        bounds_l,
        keep=[id_col, "cluster"],
        per_list=per_list,
    )
    save_dataset(codes, path, "codes", meta, partition_by=("cluster",))
    record_delta_schema(
        meta,
        (id_col, "cluster", "qv", "nq", "codes")
        if store_vectors
        else (id_col, "cluster", "codes"),
        ("vectors", "codes") if store_vectors else ("codes",),
        ("cluster",),
    )
    write_index_meta(spark, path, meta)


def ivfsq_search_index(
    spark,
    path: str,
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
    """Search a persisted IVF-SQ index: rank each query's ``nprobe``
    nearest centroids from the k-row centroid table, decode-and-score
    ONLY the probed lists' codes partitions (broadcast probe join on
    the partition column -> dynamic partition pruning), optional exact
    rerank against the cluster-partitioned ``vectors``. Same arithmetic
    and tie-breaks as ``ivfsq_topk`` (self-exclusion identical), so a
    rebuilt index reproduces it bit-for-bit. ``filter_ids``
    left-semi-filters candidates AFTER the pruned scan (the
    package-wide filtered-search contract); ``refine>0`` refuses
    loudly on a ``store_vectors=False`` index."""
    return _ivfsq_serve(
        spark, path, queries, id_col, vec_col, k, dim, nprobe, metric,
        refine, filter_ids, who="ivfsq_search_index",
    )


def _ivfsq_serve(
    spark, path, queries, id_col, vec_col, k, dim, nprobe, metric, refine,
    filter_ids, delta_of=None, who="ivfsq_search_index",
) -> DataFrame:
    """The persisted IVF-SQ search, shared with the streaming delta
    search: ``delta_of(meta)`` returns the delta log's live view (or
    None), whose rows are scored beside the base code lists and, with
    ``refine``, reranked beside the base vectors."""
    meta = check_index_meta(spark, path, metric=metric, dim=dim, kind="ivfsq")
    per_list = bool(meta.get("per_list", False))
    if refine and not meta.get("store_vectors", True):
        raise ValueError(
            f"IVF-SQ index at {path} was built store_vectors=False — "
            "it cannot serve refine>0; rebuild with store_vectors=True "
            "or search with refine=0"
        )
    cents = load_dataset(spark, path, "centroids", meta)
    bounds = load_dataset(spark, path, "bounds", meta)
    delta = None if delta_of is None else delta_of(meta)
    sides = [load_dataset(spark, path, "codes", meta)]
    if delta is not None:
        sides.append(delta)
    codes = [
        allowed_only(
            c.selectExpr(f"{id_col} AS cand_id", "cluster", "codes"), filter_ids, id_col
        )
        for c in sides
    ]
    qd = with_quantized(queries, vec_col, metric=metric).select(
        id_col, _assert_dim(F.col("qv"), F.lit(dim), who).alias("qv"), "nq"
    )
    probes = query_side(probe_clusters(qd, cents, id_col, nprobe=nprobe), id_col)
    cvecs = None
    if refine:
        vectors = load_dataset(spark, path, "vectors", meta)
        if delta is not None:
            vectors = vectors.unionByName(delta.select(*vectors.columns))
        cvecs = cand_side(vectors, id_col)
    return _ivfsq_score(probes, codes, bounds, cvecs, k, refine, per_list)


def sq_build_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    metric: str = "l2",
    store_vectors: bool = True,
) -> None:
    """Build the SQ8 index ONCE and persist it — the
    build-once/search-many split every other index family here has.

    Writes under ``path``:
      - ``bounds``: the 1-row (minq, maxq) frame,
      - ``codes``: (id, codes) — the dim-byte payload a search scans,
      - ``vectors`` (``store_vectors=True``): (id, qv, nq) original
        grid vectors for the exact-rerank refine stage. OPTIONAL
        because skipping it is the point of SQ when storage is the
        constraint — a vectors-less index serves ``refine=0`` only
        (``sq_search_index`` refuses otherwise), the recorded
        tradeoff.
    Plus the shared ``_INDEX_META.json`` (kind/metric/dim/
    store_vectors); ``sq_search_index`` refuses a metric mismatch
    exactly like the IVF-PQ family."""
    spark = df.sparkSession
    meta = {"kind": "sq8", "metric": metric, "dim": dim, "store_vectors": store_vectors}
    save_dataset(sq_fit(df, id_col, vec_col, dim, metric=metric), path, "bounds", meta)
    bounds_l = load_dataset(spark, path, "bounds", meta)
    save_dataset(
        sq_encode(df, bounds_l, id_col, vec_col, metric=metric), path, "codes", meta
    )
    if store_vectors:
        vectors = with_quantized(df, vec_col, metric=metric).select(id_col, "qv", "nq")
        save_dataset(vectors, path, "vectors", meta)
        record_delta_schema(meta, (id_col, "qv", "nq", "codes"), ("vectors", "codes"))
    else:
        record_delta_schema(meta, (id_col, "codes"), ("codes",))
    write_index_meta(spark, path, meta)


def sq_search_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    dim: int = 64,
    metric: str = "l2",
    refine: int = 0,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a persisted SQ8 index: decode-and-score the codes column
    against exact query grid vectors (same arithmetic and tie-breaks
    as ``sq_topk``, so a rebuilt index reproduces it bit-for-bit,
    minus sq_topk's self-exclusion only when the query ids are part of
    the indexed corpus — this function excludes cand_id == query_id
    identically). ``refine=N`` exact-reranks against the persisted
    ``vectors`` dataset and REFUSES loudly when the index was built
    ``store_vectors=False``. ``filter_ids`` pre-filters candidates
    (left-semi on the id before scoring, the package-wide filtered-
    search contract)."""
    return _sq_serve(
        spark, path, queries, id_col, vec_col, k, dim, metric, refine, filter_ids,
        who="sq_search_index",
    )


def _sq_serve(
    spark, path, queries, id_col, vec_col, k, dim, metric, refine, filter_ids,
    delta_of=None, who="sq_search_index",
) -> DataFrame:
    """The persisted flat-SQ8 search, shared with the streaming delta
    search: ``delta_of(meta)`` returns the delta log's live view (or
    None), unioned with the base codes and, with ``refine``, with the
    base vectors."""
    # kind is checked too: an IVF-SQ index shares this layout's dataset
    # names (bounds/codes), and flat-scoring per-list bounds would
    # silently duplicate and mis-rank candidates
    meta = check_index_meta(spark, path, metric=metric, dim=dim, kind="sq8")
    if refine and not meta.get("store_vectors", True):
        raise ValueError(
            f"SQ index at {path} was built store_vectors=False — it "
            "cannot serve refine>0; rebuild with store_vectors=True "
            "or search with refine=0"
        )
    bounds = load_dataset(spark, path, "bounds", meta)
    delta = None if delta_of is None else delta_of(meta)
    cand = load_dataset(spark, path, "codes", meta).select(id_col, "codes")
    if delta is not None:
        cand = cand.unionByName(delta.select(id_col, "codes"))
    cand = allowed_only(
        cand.withColumnRenamed(id_col, "cand_id"), filter_ids, id_col
    )
    qd = with_quantized(queries, vec_col, metric=metric).select(
        id_col, _assert_dim(F.col("qv"), F.lit(dim), who).alias("qv"), "nq"
    )
    vectors = None
    if refine:
        vectors = load_dataset(spark, path, "vectors", meta).select(id_col, "qv", "nq")
        if delta is not None:
            vectors = vectors.unionByName(delta.select(id_col, "qv", "nq"))
    return _sq_flat_score(qd, cand, bounds, id_col, k, refine, vectors)


def _sq_flat_score(
    qd: DataFrame,
    cand: DataFrame,
    bounds: DataFrame,
    id_col: str,
    k: int,
    refine: int,
    vectors: DataFrame | None,
) -> DataFrame:
    """The shared flat-SQ search tail (persisted-index search and the
    streaming delta search funnel here so they cannot drift): decode
    the (cand_id, codes) frame against the broadcast bounds, rank by
    exact int64 squared L2 to the exact query grid vectors, optional
    exact rerank against ``vectors`` (an (id, qv, nq) frame — required
    when ``refine>0``)."""
    qb = F.broadcast(qd.selectExpr(f"{id_col} AS query_id", "qv AS qv_q"))
    scored = (
        cand.crossJoin(F.broadcast(bounds))
        .select("cand_id", _sq_decoded().alias("__dv"))
        .join(qb, F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(_APPROX_D_SQL).alias("approx_d"),
        )
    )
    if not refine:
        return rank_topk(scored, k, BY_APPROX)
    shortlist = rank_topk(scored, refine * k, BY_APPROX).drop("rank")
    qvecs = query_side(qd, id_col, keep=())
    return _refine_exact(
        shortlist, qvecs, cand_side(vectors, id_col, keep=()), k, on=["cand_id"]
    )
