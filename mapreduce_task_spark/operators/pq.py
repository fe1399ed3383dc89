"""Product quantization (PQ): compressed-vector ANN for corpus-scale
similarity search.

A 100 TB embedding corpus cannot keep float vectors hot: PQ splits
each vector into ``m`` subspaces, learns ``ksub`` centroids per
subspace (independent k-means), and stores each vector as ``m`` small
codes — 8 bytes instead of 256 for a 64-dim float vector. Search uses
ADC (asymmetric distance computation): the QUERY keeps its exact
subvectors, builds an m x ksub table of exact subspace distances once,
and every candidate's approximate L2^2 is m table lookups summed —
no per-candidate vector arithmetic at all.

Everything is exact int64 arithmetic on the quantized vectors (see
operators.similarity.with_quantized), deterministic seeding via
md5-hash order, and integer floor-division centroid means — the same
determinism contract as kmeans_lite, so every stage is replayable.

Scale shape: the build is two groupBy((sub, j)) aggregations per Lloyd
round over m x ksub groups (tiny reduce side); assignment and ADC are
broadcast projections (the centroid table is m*ksub rows; a query's
distance table is m*ksub doubles). The candidate scan reads only the
``codes`` column — the point of PQ. No pandas, no Python rows: pure
codegen expressions end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import hash64
from .pinning import (
    Pin,
    lazy_checkpoint as _lazy_checkpoint,
    lazy_checkpoint_tiny as _lazy_checkpoint_tiny,
)
from .index_store import (  # noqa: F401 — check/read/write re-exported
    check_index_meta,
    load_dataset,
    read_index_meta,
    record_delta_schema,
    save_dataset,
    write_index_meta,
)
from .similarity import (
    BY_APPROX,
    BY_EXACT,
    RESIDUAL_FN,
    VALID_METRICS,
    cand_side,
    query_side,
    rank_topk,
    with_quantized,
)

# the residual of (qv) against its home/probed centroid (cqv)
_RESIDUAL_SQL = f"zip_with(qv, cqv, {RESIDUAL_FN})"


def _subvectors(
    qd: DataFrame, id_col: str | list[str], m: int, dsub: int
) -> DataFrame:
    """(keys..., sub, sqv): explode each quantized vector into its m
    subvectors — a map-side projection, m rows per vector. ``id_col``
    may be a composite key (ivfpq uses (query_id, cluster))."""
    keys = [id_col] if isinstance(id_col, str) else list(id_col)
    subs = F.expr(
        "array("
        + ", ".join(
            f"named_struct('sub', {s}, 'sqv', slice(qv, {s * dsub + 1}, {dsub}))"
            for s in range(m)
        )
        + ")"
    )
    return qd.select(*keys, F.explode(subs).alias("__s")).select(
        *keys, F.col("__s.sub").alias("sub"), F.col("__s.sqv").alias("sqv")
    )


def _sub_dist_sql(a: str, b: str) -> str:
    """Exact int64 squared L2 between two dsub-length int arrays, as a
    SQL fragment for ``F.expr`` construction — zip_with + aggregate
    over int64 built in O(1) py4j round-trips instead of O(1) *per
    lambda* times every loop iteration. The r13 optimization round
    measured the Python-API construction of the m-way argmin/ADC
    expressions at ~2 s of driver time per ``ivfpq_topk`` build
    (cProfile: the ``_create_lambda`` stack); the F.expr form is the
    same fix ``similarity._update_centroids`` and ``sq._bounds_agg``
    already ship. Results are bit-identical (golden-hash + oracle
    gated). An unrolled ``element_at`` form measured slower:
    ``ivfpq_build_index`` median 4.04 -> 5.06 s over 6 builds each on
    a 4-core host, identical datasets. A lambda-free kernel, the
    codebook collected to the driver and inlined as literal terms, was
    slower too (same host): the fit's assignment plus ``groupBy``, timed
    with a ``noop`` write, went from 0.52 to 3.3 s median, because
    Janino failed to compile ``hashAgg_doAggregateWithKeys`` and Spark
    fell back to the interpreted path; encoding went from 0.54 to
    0.59 s. The codes were identical."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        f"CAST(0 AS BIGINT), (acc, d) -> acc + d)"
    )


def _assign_codes(subs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Nearest centroid per (vector, subspace): pack ALL m x ksub
    centroids into one broadcast row, argmin via array_min over the
    row's own subspace — shuffle-free, ties to lowest code. (F.expr
    construction — see ``_sub_dist_sql``.)"""
    packed = cents.agg(F.collect_list(F.struct("sub", "j", "cqv")).alias("__c"))
    best = F.expr(
        "array_min(transform(filter(__c, c -> c.sub = sub), "
        f"c -> named_struct('d', {_sub_dist_sql('sqv', 'c.cqv')}, 'j', c.j))).j"
    )
    return subs.crossJoin(F.broadcast(packed)).select(
        id_col, "sub", "sqv", best.alias("code")
    )


def _fit_codebook(
    qd: DataFrame,
    id_col: str,
    m: int,
    ksub: int,
    dsub: int,
    rounds: int,
    pin: "Pin | None" = None,
) -> DataFrame:
    """Codebook fit over an already-quantized (id, qv) frame — the
    shared core of ``pq_fit`` (raw vectors) and ``ivfpq_topk``
    (coarse-centroid residuals).

    ``pin`` materializes the m*ksub-row codebook each Lloyd round (see
    ``operators.pinning``). Default ``lazy_checkpoint``: required for
    constant plan depth across rounds, but the blocks are unreplicated
    — an executor loss mid-fit kills the job (re-run, or pass
    ``pinning.disk_persist`` to keep lineage recomputable).

    Measured negative results on the pin cadence (sf0.1, interleaved
    same-session A/B): each ``localCheckpoint`` costs ~1.5-2 s of
    driver-side Catalyst planning + codegen regardless of data size,
    so pinning every 2nd round (or not at all) looked attractive —
    but end-to-end ``ivfpq_topk`` came out FLAT (stride) or 2x WORSE
    (no pins: the unpinned fit tree gets re-analyzed by each of its
    consumers, giving back everything the skipped pins saved).
    Per-round pinning stays. The default pin is the TINY variant
    (r14): the codebook is m*ksub rows by construction at any corpus
    size, so its pin compiles AQE-free with a clamped reduce-partition
    count instead of eagerly executing the round's stages per pin
    (see ``pinning.lazy_checkpoint_tiny``)."""
    if pin is None:
        pin = _lazy_checkpoint_tiny
    subs = _subvectors(qd, id_col, m, dsub)

    seed_rank = (
        qd.select(id_col, hash64(id_col).alias("__h"))
        .orderBy("__h", id_col)
        .limit(ksub)
    )
    w = Window.orderBy("__h", id_col)  # ksub rows: single-partition window is fine
    seeds = seed_rank.select(F.col(id_col), F.row_number().over(w).alias("j"))
    cents = subs.join(F.broadcast(seeds), id_col).select(
        "sub", "j", F.col("sqv").alias("cqv")
    )

    for _ in range(rounds):
        assigned = _assign_codes(subs, cents, id_col)
        sums = assigned.groupBy("sub", "code").agg(
            F.expr("count(1)").alias("n"),
            *[
                F.expr(f"sum(element_at(sqv, {i + 1}))").alias(f"s{i}")
                for i in range(dsub)
            ],
        )
        # fused update: ONE left join from the dense current codebook to
        # the per-cluster sums — a matched (sub, j) takes the floor-mean,
        # an emptied cluster (no sums row, n NULL) keeps its centroid, so
        # the codebook stays dense for positional ADC lookups without the
        # former anti-join + union pair (same rows, fewer plan nodes —
        # these are m*ksub-row frames where per-stage overhead dominates)
        new_cqv = F.expr(
            "CASE WHEN n IS NULL THEN cqv ELSE array("
            + ", ".join(
                f"CAST((s{i} - pmod(s{i}, n)) / n AS BIGINT)"
                for i in range(dsub)
            )
            + ") END"
        )
        fused = cents.join(
            sums.withColumnRenamed("code", "j"), ["sub", "j"], "left"
        ).select("sub", "j", new_cqv.alias("cqv"))
        # ``cents`` is referenced twice per round (assignment + the fused
        # update join), so without pinning the lineage doubles every
        # round and each consumer replays the full upstream corpus scan.
        # The codebook is m x ksub rows — the pin (lazy: no job at
        # plan-build time) makes every later round and every downstream
        # consumer start from a materialized leaf, not an
        # exponentially-deep tree.
        cents = pin(fused)
    return cents


def _assign_codes_per_list(subs: DataFrame, cents: DataFrame, id_col: str) -> DataFrame:
    """Per-list twin of ``_assign_codes``: ``subs`` carries a
    ``cluster`` column and ``cents`` is keyed (cluster, sub, j, cqv);
    each subvector argmins over ITS cluster's own subspace centroids.
    The packed broadcast is n_clusters * m * ksub structs — the
    documented size tradeoff of per-list codebooks (fine for IVF
    fan-outs up to ~thousands of lists; beyond that the global
    codebook or a cluster-keyed join is the right shape)."""
    packed = cents.agg(
        F.collect_list(F.struct("cluster", "sub", "j", "cqv")).alias("__c")
    )
    best = F.expr(
        "array_min(transform("
        "filter(__c, c -> c.cluster = cluster AND c.sub = sub), "
        f"c -> named_struct('d', {_sub_dist_sql('sqv', 'c.cqv')}, 'j', c.j))).j"
    )
    return subs.crossJoin(F.broadcast(packed)).select(
        id_col, "cluster", "sub", "sqv", best.alias("code")
    )


def _fit_codebook_per_list(
    resid: DataFrame,
    id_col: str,
    m: int,
    ksub: int,
    dsub: int,
    rounds: int,
    pin: "Pin | None" = None,
) -> DataFrame:
    """Per-inverted-list codebook fit over a clustered residual frame
    (id, cluster, qv): every cluster trains its OWN m x ksub residual
    codebook — tighter quantization on clustered corpora at the cost
    of an n_clusters-times-larger codebook broadcast (the r4 TODO's
    recorded tradeoff). Returns (cluster, sub, j, cqv), dense per
    cluster (a cluster smaller than ksub seeds one centroid per
    member — uniform across its subspaces, so positional ADC lookups
    stay aligned per (query, cluster) table).

    Same determinism contract as ``_fit_codebook``: md5-ranked seeds
    (here per cluster via a cluster-partitioned window — parallelism
    scales with list count), exact int64 distances, floor-division
    means, dead centroids retained through the fused left join. The
    default pin is the tiny variant (n_clusters * m * ksub rows by
    construction; raise SPARK_GRAFT_TINY_PIN_PARTITIONS for
    thousands-of-lists deployments)."""
    if pin is None:
        pin = _lazy_checkpoint_tiny
    subs = _subvectors(resid, [id_col, "cluster"], m, dsub)

    wc = Window.partitionBy("cluster").orderBy("__h", id_col)
    seeds = (
        resid.select(id_col, "cluster", hash64(id_col).alias("__h"))
        .select(id_col, "cluster", F.row_number().over(wc).alias("j"))
        .filter(F.col("j") <= ksub)
    )
    cents = subs.join(seeds, [id_col, "cluster"]).select(
        "cluster", "sub", "j", F.col("sqv").alias("cqv")
    )

    for _ in range(rounds):
        assigned = _assign_codes_per_list(subs, cents, id_col)
        sums = assigned.groupBy("cluster", "sub", "code").agg(
            F.expr("count(1)").alias("n"),
            *[
                F.expr(f"sum(element_at(sqv, {i + 1}))").alias(f"s{i}")
                for i in range(dsub)
            ],
        )
        new_cqv = F.expr(
            "CASE WHEN n IS NULL THEN cqv ELSE array("
            + ", ".join(
                f"CAST((s{i} - pmod(s{i}, n)) / n AS BIGINT)"
                for i in range(dsub)
            )
            + ") END"
        )
        cents = pin(
            cents.join(
                sums.withColumnRenamed("code", "j"), ["cluster", "sub", "j"], "left"
            ).select("cluster", "sub", "j", new_cqv.alias("cqv"))
        )
    return cents


def _encode_codes_per_list(
    resid: DataFrame, cents: DataFrame, id_col: str, m: int, dsub: int
) -> DataFrame:
    """Per-list code assignment: (id, cluster, codes) — ``_encode_codes``
    with ``per_list=True`` (each vector argmins over ITS cluster's own
    residual codebook)."""
    return _encode_codes(
        resid, cents, id_col, m, dsub, extra=("cluster",), per_list=True
    ).select(id_col, "cluster", "codes")


def pq_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    rounds: int = 2,
    metric: str = "l2",
) -> DataFrame:
    """Learn the codebook: (sub, j, cqv) — ksub centroids per subspace.

    Seeds are the ksub vectors with smallest (md5(id), id) — the same
    deterministic draw kmeans_lite uses — projected into each
    subspace; then ``rounds`` Lloyd rounds with exact integer
    floor-division means, all m subspaces trained in the SAME two
    aggregations per round (grouped by (sub, cluster)).

    If the corpus holds fewer than ksub vectors the codebook simply has
    one centroid per vector in every subspace (PQ degenerates to exact
    storage). Every subspace always carries the SAME entry count, and
    consumers must size positional lookups from the codebook itself
    (``pq_adc_topk`` derives it as size(dtable)/m) — never assume ksub
    entries. Checking the seed count here would need a driver action at
    plan-build time, which this package bans.

    ``metric="cosine"`` fits over unit-grid normalized vectors (see
    ``ivfpq_topk`` — the same normalize-then-L2 equivalence; encode
    and search must pass the same metric)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    qd = with_quantized(df, vec_col, metric=metric).select(id_col, "qv")
    return _fit_codebook(qd, id_col, m, ksub, dim // m, rounds)


def _encode_codes(
    qd: DataFrame,
    cents: DataFrame,
    id_col: str,
    m: int,
    dsub: int,
    extra: tuple = (),
    per_list: bool = False,
) -> DataFrame:
    """Code assignment over an already-quantized (id, qv) frame:
    (id, *extra, codes). Map-only — the codebook is packed into one
    broadcast row pre-sorted by (sub, j) (unique key, deterministic
    sort) and each vector computes all m subspace argmins as one
    unrolled array expression (array_min over (d, j) structs: exact
    int64 distance, ties to lowest code — identical ordering to the
    former explode + groupBy(id) shape, without shuffling the whole
    corpus back together on id).

    Because every subspace carries the SAME entry count (dense
    codebook contract, see ``pq_fit``), subspace ``s``'s entries are a
    positional ``slice`` of the sorted book — each codebook entry is
    touched ONCE per vector, not once per subspace (the filter-per-
    subspace shape did m passes over all m*ksub structs on the
    full-corpus hot path).

    ``extra`` names passthrough columns of ``qd`` (ivfpq threads
    ``cluster`` through, which also deletes the former full-corpus
    codes-to-cluster re-join). ``per_list=True`` packs the
    (cluster, sub, j, cqv) per-inverted-list codebook and narrows it
    to the row's own cluster with ONE filter pass, hoisted into its
    own projection by hand (codegen CSE does not deduplicate lambda
    subtrees, so referencing the filter from all m argmins would
    re-run it m times)."""
    packed, book = _sorted_book(cents, per_list)
    pre = qd.crossJoin(F.broadcast(packed)).select(
        id_col, *extra, "qv", F.expr(book).alias("__bk")
    )
    if per_list:
        # a vector homed to a cluster with NO per-list codebook (a list
        # empty at build time — only reachable when encoding NEW
        # vectors against a frozen index, e.g. streaming ingest) would
        # otherwise encode to all-NULL codes, and NULL approx_d ranks
        # FIRST under asc ordering — garbage at rank 1. Loud beats
        # silently poisoned top-k; the message names the fix (retrain).
        # Guarded in its OWN projection over the materialized __bk so
        # the hand-hoisted filter pass above still runs exactly once
        # per row (inlining the guard would re-run it twice — codegen
        # CSE does not deduplicate lambda subtrees).
        pre = pre.select(
            id_col,
            *extra,
            "qv",
            F.when(
                F.size("__bk") == 0,
                F.raise_error(
                    F.lit(
                        "per-list PQ encode: vector assigned to a cluster "
                        "with no codebook entries (list was empty at build "
                        "time) — retrain the index (ivfpq_build_index) or "
                        "use the shared global codebook"
                    )
                ),
            )
            .otherwise(F.col("__bk"))
            .alias("__bk"),
        )
    # per-subspace entry count read off the (possibly per-cluster) book.
    # The m per-subspace argmins are ONE F.expr string (identical
    # expression tree; see _sub_dist_sql — this loop was the single
    # biggest py4j construction cost in the ivfpq_topk build).
    nsub = f"CAST(size(__bk) / {m} AS INT)"

    def best(s: int) -> str:
        entries = f"slice(__bk, {s} * {nsub} + 1, {nsub})"
        sqv = f"slice(qv, {s * dsub + 1}, {dsub})"
        return (
            f"array_min(transform({entries}, "
            f"c -> named_struct('d', {_sub_dist_sql(sqv, 'c.cqv')}, "
            f"'j', c.j))).j"
        )

    codes = F.expr("array(" + ", ".join(best(s) for s in range(m)) + ")")
    return pre.select(id_col, *extra, codes.alias("codes"))


def _sorted_book(cents: DataFrame, per_list: bool) -> tuple[DataFrame, str]:
    """(one broadcastable row ``__cb`` holding the codebook sorted by
    (sub, j), the SQL of a row's own book). Per-list books are sorted
    (cluster, sub, j) and narrowed to the row's ``cluster``: cluster is
    constant within the filtered slice, so ordering is still (sub, j)."""
    keys = ("cluster", "sub", "j", "cqv") if per_list else ("sub", "j", "cqv")
    packed = cents.agg(F.array_sort(F.collect_list(F.struct(*keys))).alias("__cb"))
    return packed, "filter(__cb, c -> c.cluster = cluster)" if per_list else "__cb"


def pq_encode(
    df: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    metric: str = "l2",
) -> DataFrame:
    """(id, codes): each vector as its m nearest-centroid codes —
    the compressed representation a PQ index persists (m small ints
    per vector; at rest these pack to m bytes for ksub <= 256).
    ``metric`` must match the ``pq_fit`` that produced ``cents``."""
    qd = with_quantized(df, vec_col, metric=metric).select(id_col, "qv")
    return _encode_codes(qd, cents, id_col, m, dim // m)


def pq_adc_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    rounds: int = 2,
    refine: int = 0,
    metric: str = "l2",
) -> DataFrame:
    """ADC top-k: exact query subvectors against candidate codes.

    Per query the m x ksub distance table is computed exactly once
    (against the broadcast codebook), flattened ordered by (sub, j) so
    a candidate's approximate distance is
    ``sum_s dtable[s*ksub + code_s]`` — m array lookups per candidate,
    summed in one aggregate expression. Returns
    (query_id, cand_id, approx_d, rank); rank 1 = nearest. The
    codes-only scan is the PQ payoff: candidate vectors are never
    read at search time.

    ``refine=N`` (N >= 1) adds the same exact-rerank stage as the IVF
    variants (``ivfpq_topk``): the ADC ranking keeps N*k candidates
    per query, re-scored with exact int64 squared L2 on the original
    quantized vectors (shortlist-bounded — the broadcast shortlist is
    the only extra vector read), output gains ``exact_d`` and ranks by
    it. Every ADC search path in the package carries the same knob —
    including ``metric="cosine"`` (unit-grid normalize, then the
    unchanged L2 machinery; see ``ivfpq_topk``)."""
    dsub = dim // m
    # codebook lineage is truncated per Lloyd round inside _fit_codebook
    # (lazy localCheckpoint), so both consumers below read the m*ksub-row
    # leaf instead of replaying the fit
    cents = pq_fit(df, id_col, vec_col, m, ksub, dim, rounds, metric=metric)
    codes = pq_encode(df, cents, id_col, vec_col, m, dim, metric=metric)

    qd = with_quantized(df, vec_col, metric=metric).select(id_col, "qv")
    # exact subspace distances query x (sub, j), packed per query
    # ordered by (sub, j) for positional lookup. Map-only: the codebook
    # is broadcast pre-sorted by (sub, j) — unique key, so array_sort
    # is deterministic — and each query row computes its whole dtable
    # as one transform; no explode, no groupBy(query) shuffle.
    packed_cb = cents.agg(
        F.array_sort(F.collect_list(F.struct("sub", "j", "cqv"))).alias("__cb")
    )
    qdist = (
        qd.join(query_ids.select(id_col), id_col)
        .crossJoin(F.broadcast(packed_cb))
        .select(
            F.col(id_col).alias("query_id"),
            F.expr(
                "transform(__cb, c -> "
                + _sub_dist_sql(f"slice(qv, c.sub * {dsub} + 1, {dsub})", "c.cqv")
                + ")"
            ).alias("dtable"),
        )
    )
    scored = (
        codes.withColumnRenamed(id_col, "cand_id")
        .crossJoin(F.broadcast(qdist))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(_adc_sum_sql(m)).alias("approx_d"),
        )
    )
    if refine:
        shortlist = rank_topk(scored, refine * k, BY_APPROX).drop("rank")
        full = with_quantized(df, vec_col, metric=metric).select(
            id_col, "qv", "nq"
        )
        qvecs = query_side(full.join(query_ids.select(id_col), id_col), id_col, keep=())
        cvecs = cand_side(full, id_col, keep=())
        return _refine_exact(shortlist, qvecs, cvecs, k, on=["cand_id"])
    return rank_topk(scored, k, BY_APPROX)


def _ivfpq_adc_scored(
    cand: DataFrame,
    rq: DataFrame,
    cents: DataFrame,
    m: int,
    dsub: int,
    per_list: bool = False,
) -> DataFrame:
    """Shared IVF-PQ search core: per-(query, probed cluster) ADC tables
    against cluster-homed candidate codes.

    ``cand`` is (cand_id, cluster, codes); ``rq`` is the query residual
    (query_id, cluster, qv) against each probed cluster's centroid;
    ``cents`` is the (sub, j, cqv) residual codebook. Returns
    (query_id, cand_id, approx_d). Factored out of ``ivfpq_topk`` so the
    persisted-index search path (``ivfpq_search_index``) reproduces the
    inline operator bit-for-bit by construction — same expressions, same
    int64 arithmetic, same positional table layout. ``per_list=True``
    reads the codebook entries for (cluster, sub) — each probed list's
    OWN residual codebook (``_fit_codebook_per_list``) — instead of the
    shared global (sub)-keyed one; everything downstream is identical
    because the ADC table is already built per (query, cluster).

    The table build is map-only: the codebook is packed into one
    broadcast row sorted by (sub, j) — unique key, deterministic sort —
    and each (query, probed cluster) row computes its whole dtable as
    one transform expression. No explode, no groupBy(query, cluster)
    shuffle (the former shape shuffled the probe fan-out back together
    just to re-pack what one projection can emit)."""
    if per_list:
        packed_cb = cents.agg(
            F.collect_list(F.struct("cluster", "sub", "j", "cqv")).alias("__cb")
        )
        # filter to THIS row's probed cluster, then sort: cluster is
        # constant within the slice, so ordering is still (sub, j)
        book = "array_sort(filter(__cb, c -> c.cluster = cluster))"
    else:
        packed_cb = cents.agg(
            F.array_sort(F.collect_list(F.struct("sub", "j", "cqv"))).alias("__cb")
        )
        book = "__cb"
    dtable = F.expr(
        f"transform({book}, c -> "
        + _sub_dist_sql(f"slice(qv, c.sub * {dsub} + 1, {dsub})", "c.cqv")
        + ")"
    )
    qdist = rq.crossJoin(F.broadcast(packed_cb)).select(
        "query_id", "cluster", dtable.alias("dtable")
    )
    # per-subspace entry count read off the table itself (see pq_fit:
    # a sub-ksub corpus yields a smaller, still-uniform codebook).
    # The candidate's home cluster rides along (it is the join key, so
    # it is free): the refine stage uses it to prune the original-vector
    # read to probed list directories. Unrefined callers drop it.
    return (
        cand.join(F.broadcast(qdist), "cluster")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "cluster",
            F.expr(_adc_sum_sql(m)).alias("approx_d"),
        )
    )


def _adc_sum_sql(m: int) -> str:
    """The ADC lookup-sum as a SQL fragment: a candidate's approximate
    distance is the sum of its m positional dtable lookups. 1-based:
    sub block s holds positions s*nsub+1..s*nsub+nsub for codes
    j=1..nsub, so (s, j) sits at s*nsub + j; nsub is read off the
    table itself (a sub-ksub corpus yields a smaller, still-uniform
    codebook — see pq_fit)."""
    nsub = f"CAST(size(dtable) / {m} AS INT)"
    return (
        f"aggregate(sequence(0, {m - 1}), CAST(0 AS BIGINT), "
        f"(acc, s) -> acc + element_at(dtable, "
        f"CAST(s * {nsub} + element_at(codes, CAST(s + 1 AS INT)) AS INT)))"
    )


def _refine_exact(
    shortlist: DataFrame,
    qvecs: DataFrame,
    cvecs: DataFrame,
    k: int,
    on: list[str],
) -> DataFrame:
    """Exact-rerank refine stage: re-score an ADC shortlist with the
    exact int64 squared L2 on the ORIGINAL quantized vectors, keep
    top-k — the standard production IVF-PQ composition (FAISS's
    IndexRefineFlat): ADC bounds the candidates cheaply, the refine
    recovers the recall the residual codebook's quantization error
    threw away. Only probe-coverage misses (true neighbors homed in
    unprobed lists) remain.

    ``shortlist`` is (query_id, cand_id, cluster, approx_d) — the
    ADC-ranked refine*k candidates per query; ``qvecs`` is
    (query_id, qv_q, nq_q); ``cvecs`` is (cand_id[, cluster], qv_c,
    nq_c). Cost is bounded by the shortlist: it is |queries| *
    refine * k rows — tiny — so it is BROADCAST against the vector
    frame and the corpus-vector scan is one shuffle-free pass reading
    only shortlist rows' columns; when ``cvecs`` is the
    cluster-partitioned ``vectors`` dataset of a persisted index,
    joining on (cluster, cand_id) prunes the scan to the probed list
    directories exactly like the codes read. Returns
    (query_id, cand_id, approx_d, exact_d, rank) with rank 1 =
    exact-nearest, ties to lowest cand_id (the package-wide top-k
    convention)."""
    from .similarity import sq_dist_sql

    sl = shortlist.join(F.broadcast(qvecs), "query_id")
    exact = F.expr(sq_dist_sql("qv_q", "nq_q", "qv_c", "nq_c"))
    scored = cvecs.join(F.broadcast(sl), on).select(
        "query_id", "cand_id", "approx_d", exact.alias("exact_d")
    )
    return rank_topk(scored, k, BY_EXACT)


def _refine_stage(
    scored: DataFrame,
    qd: DataFrame,
    cvecs: DataFrame,
    id_col: str,
    k: int,
    refine: int,
) -> DataFrame:
    """The ONE refine recipe every refined search path shares: ADC-rank
    ``scored`` to a refine*k shortlist, rename the quantized query
    frame ``qd`` (id, qv, nq) to refine's (query_id, qv_q, nq_q), and
    exact-rerank against ``cvecs`` (cand_id, cluster, qv_c, nq_c).
    Factored so the inline operator, the persisted-index search, and
    the streaming delta search cannot drift apart — their bit-for-bit
    equality guarantees are by construction."""
    shortlist = rank_topk(scored, refine * k, BY_APPROX).drop("rank")
    qvecs = query_side(qd, id_col, keep=())
    return _refine_exact(shortlist, qvecs, cvecs, k, on=["cluster", "cand_id"])


def ivfpq_topk(
    df: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_clusters: int = 8,
    nprobe: int = 2,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    coarse_rounds: int = 1,
    pq_rounds: int = 2,
    pin: "Pin | None" = None,
    per_list: bool = False,
    refine: int = 0,
    metric: str = "l2",
) -> DataFrame:
    """IVF-PQ: coarse k-means quantizer + PQ over residuals — the
    composition production ANN indexes ship (an inverted list bounds the
    scan, residual codes bound the bytes touched per candidate).

    ``refine=N`` (N >= 1) adds the standard exact-rerank stage: the ADC
    ranking keeps a shortlist of N*k candidates per query, which is then
    re-scored with the exact int64 squared L2 on the original quantized
    vectors (``_refine_exact``) and cut to top-k. Output gains an
    ``exact_d`` column and ``rank``/ordering reflect the exact metric;
    ``refine=0`` (default) keeps the pure-ADC behavior and schema
    unchanged. Cost is bounded by the shortlist (broadcast, tiny): the
    only extra corpus touch reads the shortlist rows' vectors.

    ``per_list=True`` trains one residual codebook PER inverted list
    (``_fit_codebook_per_list``) instead of the standard shared global
    one: tighter quantization on clustered corpora (each list's
    residual distribution gets its own ksub centroids) at the cost of
    an n_clusters-times-larger codebook broadcast — the recorded
    per-list-vs-global tradeoff. Search-side arithmetic is unchanged;
    the ADC table is per (query, probed cluster) either way.

    ``metric="cosine"`` serves cosine-similarity corpora through the
    same L2 machinery: corpus and queries are unit-normalized on the
    integer grid (``with_quantized(metric="cosine")``, which documents
    the L2≡cosine equivalence), then quantizer fit, residual PQ, ADC,
    and exact refine all proceed unchanged — ascending exact-L2 rank
    over unit vectors IS descending-cosine rank. Default ``"l2"``
    keeps existing behavior bit-for-bit.

    Build: (1) kmeans_lite coarse quantizer assigns every vector a home
    cluster; (2) the residual (vector - home centroid, exact int64) is
    PQ-encoded against ONE global residual codebook (m subspaces x ksub
    centroids — the standard shared-codebook IVF-PQ layout, so the
    codebook broadcast stays m*ksub rows regardless of n_clusters).

    Search: each query probes its ``nprobe`` nearest clusters; per
    (query, probed cluster) the query residual against THAT centroid
    yields one m x ksub ADC table; every candidate in the probed list
    scores as m positional lookups over its codes. Candidates belong to
    exactly one home list, so probe fan-out never duplicates a
    candidate. Returns (query_id, cand_id, approx_d, rank).

    Scale: candidate side reads (id, cluster, codes) only — never the
    vectors; the ADC-table side is |queries| * nprobe rows, broadcast.
    Cluster id is the shuffle/bucket key at 100 TB, exactly like
    ``similarity.ivf_topk``, with PQ shrinking the per-candidate payload
    from dim floats to m codes.

    ``pin`` materializes the two multi-consumer intermediates — the
    n_clusters-row coarse quantizer (3 consumers: residual projection,
    home assignment, query probes) and the residual corpus (3
    consumers: codebook fit, encoding, candidate frame) — once instead
    of per consumer (see ``operators.pinning``). Default ``None`` = no
    pinning: unchanged caller failure semantics, true recomputable
    lineage, ~3x the upstream scans. The benchmark queries opt in to
    ``lazy_checkpoint``; the production path is the persisted index
    (``ivfpq_build_index``), which pins by writing to storage.
    """
    from .similarity import assign_clusters, kmeans_lite_fit, probe_residuals

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    qd, coarse = kmeans_lite_fit(
        df, id_col, vec_col, n_clusters, dim, coarse_rounds, metric=metric
    )
    if pin is not None:
        # the coarse quantizer is n_clusters rows by construction —
        # the tiny pin compiles it lazily (no eager AQE stage cascade)
        # whenever the caller asked for the lazy-checkpoint policy;
        # any other pin policy (disk_persist, reliable checkpoint) is
        # honored unchanged
        coarse = (
            _lazy_checkpoint_tiny if pin is _lazy_checkpoint else pin
        )(coarse)
    cj = coarse.select(F.col("j").alias("cluster"), "cqv")

    homed = assign_clusters(qd, coarse, id_col)
    if refine and pin is not None:
        # refine adds a second homed consumer (the exact-rerank's
        # original-vector frame) beside the residual chain — pin it so
        # the corpus scan + argmin run once, not per consumer
        homed = pin(homed)
    resid = homed.join(F.broadcast(cj), "cluster").select(
        id_col, "cluster", F.expr(_RESIDUAL_SQL).alias("qv")
    )
    if pin is not None:
        resid = pin(resid)
    if per_list:
        cents = _fit_codebook_per_list(resid, id_col, m, ksub, dsub, pq_rounds)
        cand = _encode_codes_per_list(resid, cents, id_col, m, dsub).select(
            F.col(id_col).alias("cand_id"), "cluster", "codes"
        )
    else:
        cents = _fit_codebook(
            resid.select(id_col, "qv"), id_col, m, ksub, dsub, pq_rounds
        )
        # cluster rides through the map-only encoder, so the candidate
        # frame needs no codes-to-cluster re-join of the whole corpus
        cand = _encode_codes(
            resid, cents, id_col, m, dsub, extra=("cluster",)
        ).select(F.col(id_col).alias("cand_id"), "cluster", "codes")

    rq = probe_residuals(
        qd.join(query_ids.select(id_col), id_col), coarse, id_col, nprobe=nprobe
    ).withColumnRenamed(id_col, "query_id")
    scored = _ivfpq_adc_scored(cand, rq, cents, m, dsub, per_list=per_list)
    if refine:
        return _refine_stage(
            scored,
            qd.join(query_ids.select(id_col), id_col),
            cand_side(homed, id_col),
            id_col,
            k,
            refine,
        )
    return rank_topk(scored, k, BY_APPROX).drop("cluster")


def ivfpq_encode_batch(
    df: DataFrame,
    coarse: DataFrame,
    cents: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
    per_list: bool = False,
    metric: str = "l2",
    prequantized: bool = False,
) -> DataFrame:
    """Encode NEW vectors against a FROZEN coarse quantizer + residual
    codebook: (id, cluster, qv, nq, codes) — home cluster, original
    quantized vector and its norm (the refine stage's payload), and
    the m residual codes. No training anywhere: assignment is the
    broadcast argmin, encoding the map-only broadcast-codebook pass —
    so the whole thing is one shuffle-free batch-proportional
    projection, the building block of streaming delta ingest
    (``streaming/ivfpq_ingest.py``). Deterministic in (frozen coarse,
    frozen codebook, batch rows): a crash-replayed batch re-encodes to
    identical rows. ``metric`` must match the index build (cosine
    indexes hold unit-grid vectors; encoding a delta un-normalized
    would corrupt every ranking the delta touches — the ingest layer
    enforces it against the persisted meta)."""
    from .similarity import assign_clusters

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    if prequantized:
        qd = df.select(id_col, "qv", "nq")
    else:
        qd = with_quantized(df, vec_col, metric=metric).select(id_col, "qv", "nq")
    homed = assign_clusters(qd, coarse, id_col)
    cj = coarse.select(F.col("j").alias("cluster"), "cqv")
    resid = homed.join(F.broadcast(cj), "cluster").select(
        id_col,
        "cluster",
        F.col("qv").alias("__oqv"),
        F.col("nq").alias("__onq"),
        F.expr(_RESIDUAL_SQL).alias("qv"),
    )
    enc = _encode_codes(
        resid, cents, id_col, m, dsub,
        extra=("cluster", "__oqv", "__onq"), per_list=per_list,
    )
    return enc.select(
        id_col,
        "cluster",
        F.col("__oqv").alias("qv"),
        F.col("__onq").alias("nq"),
        "codes",
    )


def ivfpq_build_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 8,
    m: int = 8,
    ksub: int = 16,
    dim: int = 64,
    coarse_rounds: int = 1,
    pq_rounds: int = 2,
    per_list: bool = False,
    metric: str = "l2",
    prequantized: bool = False,
) -> None:
    """Build the IVF-PQ index ONCE and persist it — the codes-at-rest
    counterpart of ``similarity.ivf_build_index`` (r4 TODO: ``pq_encode``
    output is the persistable artifact; this wires the build/search
    pair around it).

    Writes four parquet datasets under ``path``:
      - ``coarse``: the n_clusters-row (j, cqv, cnq) coarse quantizer,
      - ``codebook``: the dense (sub, j, cqv) residual PQ codebook
        ((cluster, sub, j, cqv) with ``per_list=True`` — one book per
        inverted list, see ``_fit_codebook_per_list``; the search side
        must pass the same flag),
      - ``codes``: (id, codes) partitioned BY CLUSTER — each home
        cluster is a physical inverted list holding only the m-code
        compressed payload, so a probe-bounded search scans a few small
        list directories and never touches a vector, and
      - ``vectors``: (id, qv, nq) partitioned BY CLUSTER — the original
        quantized vectors, stored for the exact-rerank refine stage
        (``ivfpq_search_index(refine=N)``), same layout FAISS's
        IndexRefineFlat keeps. Doubles index storage vs codes-only;
        the refine read is pruned to probed lists and to shortlist
        rows, so search never scans it corpus-wide.

    The coarse quantizer and codebook are each written and read back
    before their consumers, so the Lloyd rounds run exactly once. The
    corpus is scanned ONCE: the homed quantized frame is written to
    ``vectors`` and read back, and the residual frame (a map-only
    broadcast-join projection of that read-back) is persisted across
    its two consumers (codebook fit, code encoding) and released
    before returning. Search-side ``m``/``dim`` must match the build
    (plan-time shape parameters; the ~100-byte ``_INDEX_META.json``
    written here is the recorded exception — search reads it only to
    VETO a contradiction, see ``check_index_meta``).

    ``metric="cosine"`` builds the index over unit-grid normalized
    vectors (see ``ivfpq_topk``); the metric is recorded in the meta
    file and ``ivfpq_search_index`` refuses a mismatched search."""
    from pyspark import StorageLevel

    from .similarity import assign_clusters, kmeans_lite_fit

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    if metric not in VALID_METRICS:
        raise ValueError(f"metric must be one of {VALID_METRICS}, got {metric!r}")
    dsub = dim // m
    spark = df.sparkSession
    meta = {
        "kind": "ivfpq",
        "metric": metric,
        "m": m,
        "dim": dim,
        "ksub": ksub,
        "n_clusters": n_clusters,
        "per_list": per_list,
        "coarse_rounds": coarse_rounds,
        "pq_rounds": pq_rounds,
    }
    qd, coarse = kmeans_lite_fit(
        df, id_col, vec_col, n_clusters, dim, coarse_rounds, metric=metric,
        prequantized=prequantized,
    )
    save_dataset(coarse, path, "coarse", meta)
    coarse_l = load_dataset(spark, path, "coarse", meta)

    cj = coarse_l.select(F.col("j").alias("cluster"), "cqv")
    save_dataset(
        assign_clusters(qd, coarse_l, id_col), path, "vectors", meta,
        partition_by=("cluster",),
    )
    homed_l = load_dataset(spark, path, "vectors", meta)
    resid = (
        homed_l.join(F.broadcast(cj), "cluster")
        .select(id_col, "cluster", F.expr(_RESIDUAL_SQL).alias("qv"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        if per_list:
            cents = _fit_codebook_per_list(resid, id_col, m, ksub, dsub, pq_rounds)
        else:
            cents = _fit_codebook(
                resid.select(id_col, "qv"), id_col, m, ksub, dsub, pq_rounds
            )
        save_dataset(cents, path, "codebook", meta)
        cents_l = load_dataset(spark, path, "codebook", meta)
        codes = _encode_codes(
            resid, cents_l, id_col, m, dsub, extra=("cluster",), per_list=per_list
        ).select(id_col, "cluster", "codes")
        save_dataset(codes, path, "codes", meta, partition_by=("cluster",))
    finally:
        resid.unpersist()
    record_delta_schema(
        meta, (id_col, "cluster", "qv", "nq", "codes"), ("vectors", "codes"),
        ("cluster",),
    )
    write_index_meta(spark, path, meta)


def ivfpq_search_index(
    spark,
    path: str,
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
    """Search a persisted IVF-PQ index WITHOUT rebuilding anything:
    probe each query's ``nprobe`` nearest coarse centroids (n_clusters
    rows, broadcast), build one ADC table per (query, probed cluster)
    against the persisted residual codebook, and score only the probed
    inverted lists' code columns.

    The candidate side reads (id, codes) from the cluster-partitioned
    ``codes`` dataset — the broadcast probe join prunes the scan to the
    probed list directories (same dynamic-partition-pruning contract as
    ``similarity.ivf_search_index``), and each candidate costs m
    positional lookups, never a vector read. Same arithmetic and
    tie-breaks as ``ivfpq_topk`` (shared ``_ivfpq_adc_scored`` core), so
    a rebuilt index reproduces the inline operator bit-for-bit.
    ``m``/``dim``/``per_list`` must match the build (per_list indexes
    store a (cluster, sub, j, cqv) codebook and the ADC table joins it
    per probed list).

    ``refine=N`` (N >= 1) exact-reranks: the ADC ranking keeps N*k
    candidates per query, then re-scores them with exact int64 squared
    L2 against the index's persisted ``vectors`` dataset and cuts to
    top-k (``_refine_exact``). The vector read is pruned to probed
    list directories by the (cluster, cand_id) broadcast join and
    bounded by the shortlist, so refine cost stays O(queries * N * k)
    vector rows regardless of corpus size. Output gains ``exact_d``;
    ``refine=0`` keeps the pure-ADC behavior and schema.

    ``filter_ids`` (a frame carrying ``id_col``) restricts candidates
    to an allow-list BEFORE the ADC ranking — filtered vector search
    (FAISS's IDSelector / metadata pre-filter): every query still gets
    up to k results from the allowed subset, and with ``refine`` the
    shortlist is drawn from allowed candidates only, so the refine
    budget is never spent on rows a post-filter would discard. A
    left-semi join on the candidate id right after the pruned codes
    scan (duplicates in the allow-list are harmless; AQE broadcasts it
    while it fits). Queries are NOT filtered.

    ``metric`` must name the metric the index was built with —
    validated against the persisted ``_INDEX_META.json``
    (``check_index_meta``): a cosine search of an l2 index (or vice
    versa) is refused loudly instead of returning silently wrong
    rankings. ``metric="cosine"`` unit-normalizes the QUERIES on the
    same integer grid the build normalized the corpus on; everything
    downstream is the unchanged L2 machinery (see ``ivfpq_topk``)."""
    from .similarity import allowed_only

    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    meta = check_index_meta(
        spark, path, metric=metric, m=m, dim=dim, per_list=per_list
    )
    cand = load_dataset(spark, path, "codes", meta).select(
        F.col(id_col).alias("cand_id"), "cluster", "codes"
    )
    return _ivfpq_serve(
        spark, path, meta, queries, [allowed_only(cand, filter_ids, id_col)],
        id_col, vec_col, k, nprobe, m, dim, per_list, refine, metric,
    )


def _ivfpq_serve(
    spark, path, meta, queries, cands, id_col, vec_col, k, nprobe, m, dim,
    per_list, refine, metric, extra_vectors=None,
) -> DataFrame:
    """The persisted IVF-PQ search after the candidate reads, shared
    with the streaming delta search: probe the coarse quantizer, ADC-
    score each (cand_id, cluster, codes) frame of ``cands`` through its
    own join against the broadcast per-(query, probed cluster) tables
    (so partition pruning holds on each side), merge, and either rank
    by ADC or exact-rerank against the index's ``vectors`` (plus
    ``extra_vectors``, an (id, cluster, qv, nq) frame)."""
    from .similarity import probe_residuals

    coarse = load_dataset(spark, path, "coarse", meta)
    cents = load_dataset(spark, path, "codebook", meta)
    qd = with_quantized(queries, vec_col, metric=metric).select(id_col, "qv", "nq")
    rq = probe_residuals(qd, coarse, id_col, nprobe=nprobe).withColumnRenamed(
        id_col, "query_id"
    )
    scored = None
    for cand in cands:
        side = _ivfpq_adc_scored(cand, rq, cents, m, dim // m, per_list=per_list)
        scored = side if scored is None else scored.unionByName(side)
    if not refine:
        return rank_topk(scored, k, BY_APPROX).drop("cluster")
    vectors = load_dataset(spark, path, "vectors", meta)
    if extra_vectors is not None:
        vectors = vectors.unionByName(extra_vectors.select(*vectors.columns))
    return _refine_stage(scored, qd, cand_side(vectors, id_col), id_col, k, refine)


def index_list_stats(
    spark, path: str, id_col: str = "vec_id", include_delta: bool = True
) -> DataFrame:
    """Per-inverted-list occupancy of a persisted IVF or IVF-PQ index:
    (cluster, n_base, n_delta, n_total), one row per list.

    The operational counterpart of the drift monitor: frozen-quantizer
    appends grow lists unevenly (the documented tradeoff in both
    ingest modules), and the LARGEST list bounds every probe that hits
    it — at 100 TB a 10x-skewed list is a 10x-slower probe and the
    concrete retrain trigger an operator acts on. Reads only the
    cluster partition column's row counts (a metadata-cheap aggregate
    over the partitioned layout), never vectors or codes content.

    Works on both index layouts — ``ivf_build_index`` (``lists``) and
    ``ivfpq_build_index`` (``codes``) — and folds in the live delta
    log when ``include_delta`` (what a ``search_with_delta`` actually
    scans)."""
    from ..streaming.batchlog import log_live
    from .index_store import recorded_schema

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    name = None
    for cand in ("codes", "lists"):
        if fs.exists(jvm.org.apache.hadoop.fs.Path(f"{path}/{cand}")):
            name = cand
            break
    if name is None:
        raise ValueError(f"no IVF/IVF-PQ list dataset under {path}")
    meta = read_index_meta(spark, path) or {}
    base_df = load_dataset(spark, path, name, meta)
    if "cluster" not in base_df.columns:
        # an SQ8 index also persists a 'codes' dataset, but flat —
        # no inverted lists to report occupancy for
        kind = meta.get("kind", "unknown")
        raise ValueError(
            f"index at {path} (kind={kind!r}) has no cluster-partitioned "
            "list dataset — occupancy stats apply to IVF/IVF-PQ/IVF-SQ "
            "indexes only"
        )
    base = base_df.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_base"))
    delta = (
        log_live(spark, f"{path}/delta", recorded_schema(meta, "delta"))
        if include_delta
        else None
    )
    if delta is None:
        out = base.select("cluster", "n_base", F.lit(0).alias("n_delta"))
    else:
        d = delta.groupBy("cluster").agg(F.count(F.lit(1)).alias("n_delta"))
        out = base.join(d, "cluster", "full").select(
            "cluster",
            F.coalesce("n_base", F.lit(0)).alias("n_base"),
            F.coalesce("n_delta", F.lit(0)).alias("n_delta"),
        )
    return out.select(
        "*", (F.col("n_base") + F.col("n_delta")).alias("n_total")
    )


def index_health(
    spark, path: str, id_col: str = "vec_id", include_delta: bool = True
) -> DataFrame:
    """One-row operational summary of a persisted IVF / IVF-PQ index:
    (n_lists, n_rows, largest_list, skew_ratio, metric, kind).
    ``skew_ratio`` = largest list / mean list size — 1.0 is perfectly
    balanced; the probe-cost multiplier a hot list imposes. Metric and
    kind come from the index meta (NULL for legacy meta-less
    indexes)."""
    stats = index_list_stats(spark, path, id_col, include_delta)
    meta = read_index_meta(spark, path) or {}
    return stats.agg(
        F.count(F.lit(1)).alias("n_lists"),
        F.sum("n_total").alias("n_rows"),
        F.max("n_total").alias("largest_list"),
        (
            F.max("n_total").cast("double")
            / (F.sum("n_total").cast("double") / F.count(F.lit(1)))
        ).alias("skew_ratio"),
    ).select(
        "*",
        F.lit(meta.get("metric")).alias("metric"),
        F.lit(meta.get("kind")).alias("kind"),
    )
