"""Similarity search over ``array<float>`` embedding columns.

Brute-force cosine top-k (the correctness baseline) and a
signed-random-projection (SRP) LSH-bucketed variant (the scale path).
The reference has no vector operations; these are BASELINE.json
north-star extensions.

Oracle-exact float discipline: embeddings are quantized to integers
(``floor(value * 1e6)``) before any arithmetic. Dot products and norms
are then integer sums bounded by ~2^44 — exact in int64 AND in
float64, in any accumulation order — so ``cos = dot /
(sqrt(na)*sqrt(nb))`` is a bitwise-deterministic double in both Spark
and DuckDB. No rounding fudge needed for the driver's value hash.

Scale design:
- Quantization/dot/norm are per-row codegen expressions
  (transform/zip_with/aggregate) — no Python, no shuffle.
- Brute force is a broadcast nested-loop join (tiny query side x all
  candidates): each executor scans its candidate partitions once.
- SRP-LSH replaces the full scan with an equi-join on the bucket id;
  hyperplanes are deterministic md5-derived constants (broadcast as
  literals), so the same bucketing is replayable in SQL.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window, functions as F

from .index_store import (
    load_dataset,
    read_index_meta,
    record_delta_schema,
    save_dataset,
    write_index_meta,
)

QUANT = 1_000_000  # 6-decimal fixed point; |v|<1 -> products < 2^44


def _hp_component(seed: int, dim: int) -> int:
    """Deterministic hyperplane component in [-1000, 1000].

    Same formula as the DuckDB oracle:
    CAST('0x'||substring(md5(s||':'||i),1,15) AS BIGINT) % 2001 - 1000.
    """
    h = int(hashlib.md5(f"{seed}:{dim}".encode()).hexdigest()[:15], 16)
    return h % 2001 - 1000


def hyperplanes(nbits: int, dim: int) -> list[list[int]]:
    return [[_hp_component(s, i) for i in range(dim)] for s in range(nbits)]


def quantize(col: str) -> Column:
    """array<float> -> array<bigint> fixed-point (floor(v * 1e6)), built
    as one SQL string (see ``int_dot_sql``)."""
    return F.expr(f"transform({col}, x -> floor(CAST(x AS DOUBLE) * {float(QUANT)}D))")


def int_dot(a: Column, b: Column) -> Column:
    """Exact int64 dot product of two quantized arrays."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def int_dot_sql(a: str, b: str) -> str:
    """``int_dot`` as a SQL fragment for ``F.expr`` construction — the
    identical expression tree built in O(1) py4j round trips instead of
    one py4j call chain per lambda (r14; cProfile put ~3 s of the
    dedup_semantic build inside ``_create_lambda`` for the per-round
    assignment/update expressions alone). Must stay in lockstep with
    ``int_dot`` or every distance in the package silently changes."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )


def sq_dist_sql(a: str, na: str, b: str, nb: str) -> str:
    """Exact int64 squared L2 between quantized arrays ``a`` and ``b``
    from their self-dots ``na``/``nb``: ||a - b||^2 = na + nb - 2 a.b,
    as a SQL fragment (see ``int_dot_sql``)."""
    return f"{na} + {nb} - 2 * {int_dot_sql(a, b)}"


def cosine_sql(a: str, b: str, na: str, nb: str) -> str:
    """Deterministic double cosine of quantized arrays ``a`` and ``b``
    from their quantized dot and self-dots ``na``/``nb`` (all
    integer-valued), as a SQL fragment (see ``int_dot_sql``).

    Input contract: ZERO vectors (self-dot 0) are undefined input —
    cosine has no value there, and under ANSI mode (Spark 4 default)
    the 0/0 aborts the job rather than silently ranking a NaN first
    (NaN sorts greatest in a DESC top-k — the silent failure mode this
    loud one prevents). A corpus that may contain zero embeddings
    must filter ``nq > 0`` upstream; the engine's quantization
    (floor(x * 1e6)) makes an accidental all-zero quantized vector
    essentially impossible for real float embeddings. NULL embeddings
    (upstream extraction failures) are distinct from zero vectors:
    they propagate a NULL cosine, which desc-sorts LAST — NULL rows
    rank strictly after every real candidate and drop out of any
    top-k tighter than the pool (pinned in
    tests/test_similarity.py::test_degenerate_embedding_contract)."""
    return (
        f"CAST({int_dot_sql(a, b)} AS DOUBLE)"
        f" / (sqrt(CAST({na} AS DOUBLE)) * sqrt(CAST({nb} AS DOUBLE)))"
    )


# the cosine of a query (qv_q, nq_q) x candidate (qv_c, nq_c) row
COSINE_SQL = cosine_sql("qv_q", "qv_c", "nq_q", "nq_c")


def scored_cosine(pairs: DataFrame) -> DataFrame:
    """(query_id, cand_id, cos) over joined query x candidate rows, the
    self-pair dropped — the scoring every cosine top-k here shares."""
    return pairs.filter("cand_id != query_id").select(
        "query_id", "cand_id", F.expr(COSINE_SQL).alias("cos")
    )


def rank_topk(scored: DataFrame, k: int, order: str) -> DataFrame:
    """Each query's ``k`` first rows under ``order`` (a SQL ORDER BY
    list ending in a unique tie-break), numbered 1.. in ``rank``. The
    window is one SQL string (one JVM parse, not a py4j call chain per
    spec element)."""
    rank = F.expr(f"row_number() OVER (PARTITION BY query_id ORDER BY {order})")
    return scored.select("*", rank.alias("rank")).filter(f"rank <= {int(k)}")


def query_side(df: DataFrame, id_col: str, keep=("cluster",)) -> DataFrame:
    """An (id, qv, nq, *keep) frame renamed to the query side of a
    scoring join: (query_id, qv_q, nq_q, *keep)."""
    return df.selectExpr(f"{id_col} AS query_id", "qv AS qv_q", "nq AS nq_q", *keep)


def cand_side(df: DataFrame, id_col: str, keep=("cluster",)) -> DataFrame:
    """An (id, qv, nq, *keep) frame renamed to the candidate side of a
    scoring join: (cand_id, qv_c, nq_c, *keep)."""
    return df.selectExpr(f"{id_col} AS cand_id", "qv AS qv_c", "nq AS nq_c", *keep)


def allowed_only(
    cand: DataFrame, filter_ids: DataFrame | None, id_col: str
) -> DataFrame:
    """Restrict ``cand_id`` candidates to the ``filter_ids`` allow-list
    — the package-wide filtered-search contract (FAISS's IDSelector / a
    vector store's metadata pre-filter): a left-semi join right after
    the pruned scan, so disallowed rows drop before any scoring and
    duplicates in the allow-list are harmless; no-op when None."""
    if filter_ids is None:
        return cand
    return cand.join(
        filter_ids.select(F.col(id_col).alias("cand_id")), "cand_id", "leftsemi"
    )


# the package-wide top-k orders: best first, ties to the lowest cand_id
BY_COS = "cos DESC, cand_id ASC"
BY_APPROX = "approx_d ASC, cand_id ASC"
BY_EXACT = "exact_d ASC, cand_id ASC"


VALID_METRICS = ("l2", "cosine")


def with_quantized(
    df: DataFrame, vec_col: str = "embedding", metric: str = "l2"
) -> DataFrame:
    """Attach the quantized vector and its exact self-dot norm term.

    ``metric="cosine"`` unit-normalizes on the integer grid FIRST:
    ``qv_i = floor(q_i * 1e6 / sqrt(sum(q_j^2)))`` where ``q`` is the
    plain fixed-point quantization. Every step is IEEE-deterministic
    (the int64 self-dot is exact and < 2^53, so its double cast, the
    sqrt, one division, and the floor each have a single correctly-
    rounded result) — a SQL oracle replays it bit-for-bit, same
    determinism contract as ``quantize`` itself. The result lives on a
    radius-1e6 integer sphere, so EXACT SQUARED L2 IS A MONOTONE
    TRANSFORM OF COSINE: ||a-b||^2 = |a|^2+|b|^2-2(a.b) with
    |a|^2 ~ |b|^2 ~ 1e12 constant, hence ascending-L2 rank ==
    descending-cosine rank (up to the 1e-6 normalization grid). This
    is how the L2-only compressed ANN stack (IVF-PQ ADC + exact
    refine) serves cosine corpora — FAISS's normalize-then-L2
    equivalence, here on the engine's integer grid. Zero vectors are
    undefined input (no direction to normalize), same contract as
    ``cosine_sql``.
    """
    if metric not in VALID_METRICS:
        raise ValueError(f"metric must be one of {VALID_METRICS}, got {metric!r}")
    out = df.select("*", quantize(vec_col).alias("qv"))
    if metric == "cosine":
        out = out.select("*", F.expr(int_dot_sql("qv", "qv")).alias("__n0"))
        unit = (
            f"transform(qv, x -> floor(CAST(x AS DOUBLE) * {float(QUANT)}D"
            " / sqrt(CAST(__n0 AS DOUBLE))))"
        )
        out = out.select(*df.columns, F.expr(unit).alias("qv"))
    return out.select("*", F.expr(int_dot_sql("qv", "qv")).alias("nq"))


def brute_force_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k: broadcast the query set against all rows.

    Returns (query_id, cand_id, cos, rank). Ties broken by cand_id so
    the result is fully deterministic.
    """
    qd = with_quantized(df, vec_col)
    queries = F.broadcast(query_side(qd.join(query_ids, id_col), id_col, keep=()))
    cands = cand_side(qd, id_col, keep=())
    return rank_topk(scored_cosine(queries.crossJoin(cands)), k, BY_COS)


def blocked_all_pairs_cosine(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.35,
    num_blocks: int = 8,
) -> DataFrame:
    """All-pairs cosine >= threshold via blocked integer GEMM.

    The naive pair-expression plan evaluates an interpreted
    zip_with/aggregate per pair — O(n^2 * dim) scalar work outside
    codegen (365 s for 12.5M pairs at sf0.1). This operator instead
    shards the O(n^2) work into (num_blocks choose 2)+num_blocks block
    pairs; each block pair is one Arrow batch turned into a numpy
    int64 matrix multiply (``Qa @ Qb.T``) — vectorized, exact, and
    embarrassingly parallel across executors. Shuffle volume is
    rows x num_blocks (each row joins every block pair it belongs to).

    At cluster scale: num_blocks ~ sqrt(2 x cores) keeps every core on
    one GEMM; the quantized int64 arithmetic keeps results bitwise
    equal to the scalar-expression and DuckDB-oracle formulations.

    Fan-out is a pure explode projection: each row emits its
    num_blocks (ba, bb) block-pair memberships as a literal struct
    array — {(min(blk,j), max(blk,j)) : j} is exactly the pair set
    containing blk. The previous broadcast-nested-loop join against a
    pair table evaluated an OR predicate per (row x pair) outside
    codegen and benched ~1.5x slower.
    """
    import pandas as pd

    qd = with_quantized(df, vec_col).select(
        F.col(id_col).alias("vid"),
        "qv",
        "nq",
        (F.col(id_col) % num_blocks).cast("int").alias("blk"),
    )
    pair_set = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("ba"),
                F.greatest(F.col("blk"), F.lit(j)).alias("bb"),
            )
            for j in range(num_blocks)
        ]
    )
    rows = qd.select(
        "vid", "qv", "nq", "blk", F.explode(pair_set).alias("__p")
    ).select("vid", "qv", "nq", "blk", F.col("__p.ba").alias("ba"), F.col("__p.bb").alias("bb"))

    def gemm(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        ba, bb = key
        a = pdf[pdf.blk == ba]
        b = pdf[pdf.blk == bb]
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        qa = np.stack(a.qv.to_numpy()).astype(np.int64)
        qb = np.stack(b.qv.to_numpy()).astype(np.int64)
        na = np.sqrt(a.nq.to_numpy().astype(np.float64))
        nb = np.sqrt(b.nq.to_numpy().astype(np.float64))
        cos = (qa @ qb.T).astype(np.float64) / (na[:, None] * nb[None, :])
        ia = a.vid.to_numpy()
        ib = b.vid.to_numpy()
        mask = cos >= threshold
        if ba == bb:
            mask &= ia[:, None] < ib[None, :]
        ai, bi = np.nonzero(mask)
        id_a, id_b = ia[ai], ib[bi]
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[ai, bi]})

    # real type objects (not stringified by `from __future__ import
    # annotations`) so applyInPandas infers the eval type silently
    gemm.__annotations__ = {"key": tuple, "pdf": pd.DataFrame, "return": pd.DataFrame}
    return rows.groupBy("ba", "bb").applyInPandas(
        gemm, schema="id_a long, id_b long, cos double"
    )


def srp_lsh_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nbits: int = 4,
    dim: int | None = None,
    probe_bits: int = 0,
) -> DataFrame:
    """SRP-LSH approximate top-k with multi-probe recall control.

    ``probe_bits=0`` probes only the query's own bucket (fastest,
    lowest recall); ``probe_bits=1`` additionally probes every bucket
    at Hamming distance 1 (nbits extra probes — the vectors most
    likely mis-bucketed by one marginal hyperplane sign). Probing
    multiplies the QUERY side only (tiny, broadcast); the candidate
    side is still hit by a bucket equi-join — recall rises from a
    fraction ~1/2^nbits of the corpus scanned to ~(nbits+1)/2^nbits,
    still far from brute force's 1.
    """
    if probe_bits not in (0, 1):
        raise ValueError("probe_bits must be 0 or 1")
    bk = srp_buckets(df, id_col, vec_col, nbits=nbits, dim=dim)
    q = query_side(bk.join(query_ids.select(id_col), id_col), id_col, ("bucket",))
    if probe_bits:
        probes = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << s)).cast("bigint")
                for s in range(nbits)
            ],
        )
        q = q.select(
            "query_id", "qv_q", "nq_q", F.explode(probes).alias("bucket")
        )
    c = cand_side(bk, id_col, ("bucket",))
    return rank_topk(scored_cosine(F.broadcast(q).join(c, "bucket")), k, BY_COS)


def probe_clusters(
    qd: DataFrame, cents: DataFrame, id_col: str = "vec_id", nprobe: int = 1
) -> DataFrame:
    """One row per (vector, probed cluster): the ``nprobe`` nearest
    centroids by exact int64 squared distance, ties to lowest j.

    The multi-probe side of IVF search: a query vector near a cluster
    boundary scans its ``nprobe`` closest inverted lists instead of
    only its home list — recall rises with nprobe at linear candidate
    cost. Same packed-centroid broadcast as assignment; ``array_sort``
    over (distance, j) structs is the lexicographic ranking with the
    tie-break built in, so a SQL oracle replays the probe set as
    ``row_number() <= nprobe`` over the identical ordering.
    """
    probes = F.expr(f"transform({_probes_sql(nprobe)}, s -> s.j)")
    return qd.crossJoin(F.broadcast(_packed(cents))).select(
        id_col, "qv", "nq", F.explode(probes).alias("cluster")
    )


def probe_residuals(
    qd: DataFrame, cents: DataFrame, id_col: str = "vec_id", nprobe: int = 1
) -> DataFrame:
    """(id, cluster, qv): one row per (vector, probed cluster) with the
    vector's residual against that cluster's centroid — the IVF-PQ
    query side. The same ranked probe set as ``probe_clusters``; each
    probe carries its centroid out of the packed broadcast row, so no
    second join against the centroid table is needed."""
    probes = F.expr(_probes_sql(nprobe, with_centroid=True))
    return (
        qd.crossJoin(F.broadcast(_packed(cents)))
        .select(id_col, "qv", F.explode(probes).alias("__p"))
        .select(
            id_col,
            F.col("__p.j").alias("cluster"),
            F.expr(f"zip_with(qv, __p.cqv, {RESIDUAL_FN})").alias("qv"),
        )
    )


# the residual of a vector against a centroid, as a zip_with lambda
RESIDUAL_FN = "(a, b) -> a - b"


def _packed(cents: DataFrame) -> DataFrame:
    """The k-row centroid table as ONE broadcastable row of structs."""
    return cents.agg(F.collect_list(F.struct("j", "cqv", "cnq")).alias("__cents"))


def _probes_sql(nprobe: int, with_centroid: bool = False) -> str:
    """The ``nprobe`` nearest centroids of row (qv, nq) as an array of
    (d, j[, cqv]) structs in (d, j) order: exact int64 squared
    distance, ties to lowest j. ONE F.expr string (array_sort over
    structs, slice) — O(1) py4j round trips, see int_dot_sql.
    ``with_centroid`` carries the centroid along; j is unique, so it
    never decides the order."""
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    extra = ", 'cqv', c.cqv" if with_centroid else ""
    return (
        "slice(array_sort(transform(__cents, "
        f"c -> named_struct('d', {sq_dist_sql('qv', 'nq', 'c.cqv', 'c.cnq')}, "
        f"'j', c.j{extra}))), 1, {nprobe})"
    )


def _nearest_cluster(
    qd: DataFrame, cents: DataFrame, id_col: str, dist_col: str | None = None
) -> DataFrame:
    """Assign each row of qd(id, qv, nq) to the nearest centroid in
    cents(j, cqv, cnq) — exact int64 squared distance, ties to lowest j.

    The k centroids are packed into ONE row (collect_list of structs)
    and broadcast, so assignment is a pure per-row projection:
    ``array_min`` over (distance, j) structs gives the lexicographic
    argmin with the tie-break built in. No row fan-out, no shuffle —
    the alternative (crossJoin xk + groupBy-argmin) shuffles every
    input row per Lloyd round. ``dist_col`` also keeps the argmin's
    distance (exactly ||qv - cqv||^2 of the home centroid).
    """
    # ONE F.expr string — identical argmin expression tree, O(1) py4j
    # round trips (see int_dot_sql; this runs once per Lloyd round in
    # every kmeans consumer)
    best = F.expr(
        "array_min(transform(__cents, "
        f"c -> named_struct('d', {sq_dist_sql('qv', 'nq', 'c.cqv', 'c.cnq')}, "
        "'j', c.j)))"
    ).alias("__best")
    out = qd.crossJoin(F.broadcast(_packed(cents))).select(id_col, "qv", "nq", best)
    keep = [] if dist_col is None else [F.col("__best.d").alias(dist_col)]
    return out.select(id_col, "qv", "nq", F.col("__best.j").alias("cluster"), *keep)


def _update_centroids(assigned: DataFrame, dim: int) -> DataFrame:
    """Lloyd update with exact-integer means: element-wise floor
    division (sum - pmod(sum, n)) / n is exactly divisible, so the
    result is identical in int64 and in any engine's double.

    The dim-wide expressions are built as SQL strings (``F.expr`` /
    ``selectExpr``), not column-by-column: the identical expression
    tree, but ONE JVM parse instead of ~5 py4j round trips per
    component — measured ~1.1 s -> ~0.2 s of driver time per build at
    dim=64, which repeats in every kmeans consumer (IVF, IVF-PQ,
    semantic dedup, cluster-balanced sampling)."""
    # ONE named_struct aggregate expression instead of dim+1 separate
    # F.expr calls: the struct-field extracts below are rewritten onto
    # the underlying aggregates by the optimizer (SimplifyExtractValue),
    # so the resolved plan is identical — this is construction cost
    # only (~0.4 s per build at dim=64 across the kmeans consumers,
    # r13 optimization round).
    struct_sql = (
        "named_struct('n', count(1), "
        + ", ".join(f"'s{i}', sum(element_at(qv, {i + 1}))" for i in range(dim))
        + ")"
    )
    sums = assigned.groupBy("cluster").agg(F.expr(struct_sql).alias("__a"))
    arr = (
        "array("
        + ", ".join(
            f"CAST((__a.s{i} - pmod(__a.s{i}, __a.n)) / __a.n AS BIGINT)"
            for i in range(dim)
        )
        + ")"
    )
    return sums.selectExpr("cluster AS j", f"{arr} AS cqv").selectExpr(
        "j", "cqv", f"{int_dot_sql('cqv', 'cqv')} AS cnq"
    )


def kmeans_lite_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    dim: int = 64,
    rounds: int = 1,
    metric: str = "l2",
    prequantized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Run the seeded-k-means build and return (quantized corpus,
    final centroids) — the pieces an IVF search composes: assign the
    corpus with ``assign_clusters`` (home lists) and rank query probes
    with ``probe_clusters`` (nprobe nearest lists). Persist the k-row
    centroid frame when both sides consume it, so the Lloyd rounds run
    once. See ``kmeans_lite_clusters`` for the algorithm contract.

    ``metric="cosine"`` fits the quantizer over the unit-grid
    normalized corpus (``with_quantized(metric="cosine")``): plain
    L2 k-means over normalized vectors, the standard
    normalize-then-L2 recipe — the inverted lists become an L2
    Voronoi partition OF THE SPHERE, on which exact L2 between data
    points is a monotone transform of cosine. Centroid means are not
    re-normalized (probing quality is gated empirically by the recall
    tests, exactly as for L2).
    ``prequantized=True`` (r13, the retrain entry): ``df`` IS already a
    quantized (id, qv, nq) frame — e.g. an index's persisted lists ∪
    delta — and ``vec_col``/``metric`` are ignored for quantization
    (the metric was applied when those rows were first quantized;
    re-normalizing an already-normalized grid vector would NOT be
    byte-idempotent, which is exactly why retrains must not round-trip
    through ``with_quantized``).
    """
    if rounds < 1:
        raise ValueError("rounds must be >= 1")
    from ..functions.hashing import hash64

    if prequantized:
        qd = df.select(id_col, "qv", "nq")
    else:
        qd = with_quantized(df, vec_col, metric=metric).select(id_col, "qv", "nq")

    seed_rows = qd.select(id_col, "qv", "nq", hash64(id_col).alias("__h")).orderBy(
        "__h", id_col
    ).limit(k)
    # k rows: the single-partition window is fine
    w = Window.orderBy("__h", id_col)
    cents = seed_rows.select(
        F.row_number().over(w).alias("j"),
        F.col("qv").alias("cqv"),
        F.col("nq").alias("cnq"),
    )

    for _ in range(rounds):
        assigned = _nearest_cluster(qd, cents, id_col)
        cents = _update_centroids(assigned, dim)

    return qd, cents


def assign_clusters(
    qd: DataFrame, cents: DataFrame, id_col: str = "vec_id", dist_col: str | None = None
) -> DataFrame:
    """Home-cluster assignment (shuffle-free broadcast argmin) over a
    quantized (id, qv, nq) frame — the public face of the per-round
    assignment step, for search-time use with ``kmeans_lite_fit``.
    ``dist_col`` also keeps each row's squared distance to its home
    centroid."""
    return _nearest_cluster(qd, cents, id_col, dist_col)


def kmeans_lite_clusters(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    dim: int = 64,
    rounds: int = 1,
) -> DataFrame:
    """Deterministic seeded k-means coarse quantizer (IVF index build).

    ``rounds`` Lloyd rounds, every step exact-integer so a SQL oracle
    replays it bit-for-bit:
      1. seeds: the k vectors with the smallest (md5-hash(id), id) — a
         deterministic "random" draw (TakeOrderedAndProject, no full sort).
      2. assign each vector to its nearest centroid (exact int64
         distance, ties to lowest cluster id).
      3. centroid update: element-wise integer floor-division mean.
      4. repeat 2-3 ``rounds`` times, then final assignment.

    Returns (id, qv, nq, cluster). Scale: per round, one k x dim
    centroid aggregation shuffle; assignments are shuffle-FREE
    (packed-centroid broadcast + array_min projection, see
    ``_nearest_cluster``). Component sums stay exact in int64/double
    up to ~1e9 rows per cluster (1e6 quant x 1e9 < 2^53). The driver
    query uses rounds=1 (its oracle unrolls the same CTE chain); more
    rounds just repeat the same two stages.
    """
    qd, cents = kmeans_lite_fit(df, id_col, vec_col, k, dim, rounds)
    return _nearest_cluster(qd, cents, id_col)


def ivf_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_clusters: int = 8,
    dim: int = 64,
    rounds: int = 1,
    nprobe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: k-means index + cluster-restricted scan.

    Candidates live in their home cluster (the inverted list / shuffle
    bucket at scale); each query probes its ``nprobe`` nearest
    clusters. Returns (query_id, cand_id, cos, rank). At nprobe =
    n_clusters this degenerates to exact brute force — the recall
    dial a pipeline turns. Operators never persist; callers reusing
    the centroid frame across both sides should persist it (the
    driver query does).
    """
    qd, cents = kmeans_lite_fit(df, id_col, vec_col, n_clusters, dim, rounds)
    cand = cand_side(_nearest_cluster(qd, cents, id_col), id_col)
    probes = query_side(
        probe_clusters(
            qd.join(query_ids.select(id_col), id_col), cents, id_col, nprobe=nprobe
        ),
        id_col,
    )
    return rank_topk(
        scored_cosine(F.broadcast(probes).join(cand, "cluster")), k, BY_COS
    )


def ivf_build_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    dim: int = 64,
    rounds: int = 1,
    prequantized: bool = False,
) -> None:
    """Build the IVF index ONCE and persist it — the build/search split
    a production deployment needs (r4 verdict: ``ivf_topk`` rebuilds
    k-means inside every invocation; at 100 TB the index is built once
    and amortized over every query batch).

    Writes two parquet datasets under ``path``:
      - ``centroids``: the k-row (j, cqv, cnq) quantizer, and
      - ``lists``: the corpus as (id, qv, nq) partitioned BY CLUSTER —
        each home cluster is a physical inverted list, so a search
        probing ``nprobe`` lists prunes every other partition at the
        scan (dynamic partition pruning via the broadcast probe join).

    The centroid frame is written first and read back before the
    assignment pass, so the Lloyd rounds run exactly once (no lineage
    recompute across the two outputs)."""
    spark = df.sparkSession
    # index-level facts for ops tooling (pq.index_health); the flat
    # index stores exact vectors and SCORES cosine, so there is no
    # l2/cosine build split to refuse — kind+shape only. rounds rides
    # along (r13) so a retrain replays the build hyperparameters; the
    # dataset schemas are recorded as each dataset is written.
    meta = {"kind": "ivf", "n_clusters": n_clusters, "dim": dim, "rounds": rounds}
    qd, cents = kmeans_lite_fit(
        df, id_col, vec_col, n_clusters, dim, rounds, prequantized=prequantized
    )
    save_dataset(cents, path, "centroids", meta)
    cents_l = load_dataset(spark, path, "centroids", meta)
    save_dataset(
        assign_clusters(qd, cents_l, id_col), path, "lists", meta,
        partition_by=("cluster",),
    )
    record_delta_schema(
        meta, (id_col, "qv", "nq", "cluster"), ("lists",), ("cluster",)
    )
    write_index_meta(spark, path, meta)


def ivf_search_index(
    spark,
    path: str,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    nprobe: int = 1,
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Search a persisted IVF index WITHOUT rebuilding or rescanning the
    raw corpus: rank each query's ``nprobe`` nearest centroids from the
    k-row centroid table, then score only the probed inverted lists.

    The probe side is broadcast and the lists dataset is partitioned by
    cluster (``ivf_build_index``), so Spark's dynamic partition pruning
    restricts the scan to the probed lists — the search cost is
    |probed lists|, independent of corpus size. Same scoring and
    tie-break as ``ivf_topk`` (exact quantized cosine, rank by
    (-cos, cand_id)), so a rebuilt index reproduces it bit-for-bit.

    ``filter_ids`` (a frame carrying ``id_col``) restricts candidates
    to an allow-list BEFORE ranking — filtered vector search (FAISS's
    IDSelector / a vector store's metadata pre-filter): every query
    still gets up to k results drawn from the allowed subset, never a
    post-filtered hole. A left-semi join on the candidate id right
    after the pruned scan, so disallowed rows drop before any scoring
    and the allow-list never widens rows (duplicates in it are
    harmless); AQE broadcasts it while it fits and hash-joins beyond.
    Queries are NOT filtered — restrict ``queries`` upstream."""
    meta = read_index_meta(spark, path)
    cents = load_dataset(spark, path, "centroids", meta)
    lists = load_dataset(spark, path, "lists", meta)
    qd = with_quantized(queries, vec_col).select(id_col, "qv", "nq")
    probes = query_side(probe_clusters(qd, cents, id_col, nprobe=nprobe), id_col)
    cand = allowed_only(cand_side(lists, id_col), filter_ids, id_col)
    return rank_topk(
        scored_cosine(F.broadcast(probes).join(cand, "cluster")), k, BY_COS
    )


def cluster_pairs_cosine(
    assigned: DataFrame,
    id_col: str = "vec_id",
    threshold: float = 0.35,
    num_blocks: int = 1,
) -> DataFrame:
    """Within-cluster all-pairs cosine >= threshold — the scale path
    for embedding near-dup detection (SemDeDup-style semantic dedup).

    Input is a k-means assignment frame (id, qv, nq, cluster) from
    ``assign_clusters``/``kmeans_lite_clusters``. Each cluster's rows
    become ONE Arrow batch turned into a numpy int64 GEMM over the
    upper triangle — exact quantized arithmetic, identical to
    ``blocked_all_pairs_cosine`` on the pairs it scores.

    Scale contract: pair work drops from O(n^2) to O(sum n_c^2); with
    k proportional to corpus size the per-cluster GEMM stays
    constant-sized, so total work is LINEAR in n. The cluster id is
    the shuffle key (same bucketing the IVF index uses). The
    approximation: pairs straddling a cluster boundary are missed —
    recall vs the exact O(n^2) twin is gated in
    tests/test_similarity.py; precision is exactly 1.0 (every emitted
    pair is a true >= threshold pair with the identical cosine).

    ``num_blocks`` is the mega-cluster skew valve: k-means on real
    data can emit one oversized cluster whose single GEMM task would
    dominate (or OOM). With num_blocks > 1 each cluster's pair work
    additionally fans out over block PAIRS (the blocked_all_pairs
    shape, here keyed by (cluster, ba, bb)) — identical result set,
    per-task memory bounded by (cluster_rows / num_blocks)^2, at the
    cost of rows x num_blocks shuffle fan-out. Pick num_blocks from
    the largest expected cluster size; 1 keeps the single-task-per-
    cluster plan.
    """
    import pandas as pd

    def gemm(key, pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        if num_blocks == 1:
            a = b = pdf
            same = True
        else:
            ba, bb = key[-2], key[-1]
            a = pdf[pdf.blk == ba]
            b = pdf[pdf.blk == bb]
            same = ba == bb
        if len(a) == 0 or len(b) == 0 or (same and len(a) < 2):
            return pd.DataFrame({"id_a": [], "id_b": [], "cos": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cos": "float64"}
            )
        qa = np.stack(a.qv.to_numpy()).astype(np.int64)
        qb = np.stack(b.qv.to_numpy()).astype(np.int64)
        na = np.sqrt(a.nq.to_numpy().astype(np.float64))
        nb = np.sqrt(b.nq.to_numpy().astype(np.float64))
        cos = (qa @ qb.T).astype(np.float64) / (na[:, None] * nb[None, :])
        ia = a[id_col].to_numpy()
        ib = b[id_col].to_numpy()
        mask = cos >= threshold
        if same:
            # Same-block (and num_blocks == 1): a == b, so the upper
            # triangle dedupes the symmetric product. Cross-block groups
            # (ba < bb) see each unordered pair exactly once already —
            # ids interleave across blocks (blk = id % num_blocks), so an
            # id-order mask there would silently drop every pair whose
            # a-side id exceeds its b-side id.
            mask &= ia[:, None] < ib[None, :]
        ai, bi = np.nonzero(mask)
        ida, idb = ia[ai], ib[bi]
        lo = np.minimum(ida, idb)
        hi = np.maximum(ida, idb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cos": cos[ai, bi]})

    gemm.__annotations__ = {"key": tuple, "pdf": pd.DataFrame, "return": pd.DataFrame}
    if num_blocks == 1:
        return assigned.groupBy("cluster").applyInPandas(
            gemm, schema="id_a long, id_b long, cos double"
        )
    pair_set = F.array(
        *[
            F.struct(
                F.least(F.col("blk"), F.lit(j)).alias("ba"),
                F.greatest(F.col("blk"), F.lit(j)).alias("bb"),
            )
            for j in range(num_blocks)
        ]
    )
    rows = (
        assigned.withColumn(
            "blk", (F.col(id_col) % num_blocks).cast("int")
        )
        .select("*", F.explode(pair_set).alias("__p"))
        .select(
            id_col,
            "qv",
            "nq",
            "cluster",
            "blk",
            F.col("__p.ba").alias("ba"),
            F.col("__p.bb").alias("bb"),
        )
    )
    return rows.groupBy("cluster", "ba", "bb").applyInPandas(
        gemm, schema="id_a long, id_b long, cos double"
    )


def srp_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int = 4,
    dim: int | None = None,
) -> DataFrame:
    """Signed-random-projection bucket per vector: (id, qv, nq, bucket).

    bucket bit s = [dot(qv, hyperplane_s) >= 0]; hyperplanes are int
    literals so the projection is an exact int64 sum (deterministic).
    nbits sizes the bucket count (2^nbits) — tune to data volume so
    each bucket holds ~candidates-per-probe.

    ``dim`` (the embedding dimensionality) is required: deriving it
    from the data would launch a hidden Spark job at plan-build time
    (a ``.first()``), which a production pipeline must never do.
    """
    if dim is None:
        raise ValueError(
            "srp_buckets requires dim= (embedding dimensionality); deriving "
            "it from data would launch a Spark job at plan-build time"
        )
    hps = hyperplanes(nbits, dim)
    qd = with_quantized(df, vec_col)
    bucket = None
    for s, hp in enumerate(hps):
        proj = int_dot(F.col("qv"), F.array(*[F.lit(c).cast("bigint") for c in hp]))
        bit = F.when(proj >= 0, F.lit(1 << s)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return qd.select(id_col, "qv", "nq", bucket.cast("bigint").alias("bucket"))


def ann_recall(
    exact_topk: DataFrame,
    approx_topk: DataFrame,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
) -> DataFrame:
    """Recall of an approximate top-k result against the exact one:
    per-query |approx ∩ exact| / |exact|, plus a 'MACRO' row averaging
    over queries — the evaluation every ANN index change gates on
    (the pytest recall gates inline this; pipelines call it).

    Pure join/aggregate: a left-semi join marks hits, the denominators
    come from the exact side — nothing collects, so it scales to eval
    sets of any size.
    """
    exact = exact_topk.select(query_col, cand_col)
    hits = (
        exact.join(
            approx_topk.select(query_col, cand_col),
            [query_col, cand_col],
            "left_semi",
        )
        .groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("__hits"))
    )
    per_query = (
        exact.groupBy(query_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .join(hits, query_col, "left")
        .select(
            F.col(query_col).cast("string").alias(query_col),
            (
                F.coalesce(F.col("__hits"), F.lit(0)).cast("double")
                / F.col("__n").cast("double")
            ).alias("recall"),
        )
    )
    macro = per_query.agg(F.avg("recall").alias("recall")).select(
        F.lit("MACRO").alias(query_col), "recall"
    )
    return per_query.unionByName(macro)
