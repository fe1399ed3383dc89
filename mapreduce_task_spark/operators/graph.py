"""Graph analytics over pair tables (e.g. near-dup candidate edges).

``triangle_count`` implements the degree-oriented algorithm from the
MapReduce literature (Suri & Vassilvitskii's "curse of the last
reducer" fix): orient every edge from its lower-degree endpoint to
the higher-degree one (ties by id), enumerate wedges only from each
vertex's OUT-edges, and close them against the edge set. A hub of
degree d contributes O(d) wedges instead of O(d^2), bounding the
worst reducer by O(m^1.5) total wedge work — the difference between
a power-law graph finishing and one reducer running forever.

Shuffle plan: one degree aggregation, one self-join on the wedge
pivot, one closing semi-join — all on 8-byte vertex keys.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from .pinning import Pin, lazy_checkpoint as _lazy_checkpoint


def _mem_disk_persist(df: DataFrame) -> DataFrame:
    return df.persist(StorageLevel.MEMORY_AND_DISK)


def canonical_edges(pairs: DataFrame, src: str = "id_a", dst: str = "id_b") -> DataFrame:
    """Undirected edge set as distinct (u < v) rows, self-loops dropped."""
    u = F.least(F.col(src), F.col(dst))
    v = F.greatest(F.col(src), F.col(dst))
    return (
        pairs.select(u.alias("u"), v.alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def triangle_count(
    pairs: DataFrame, src: str = "id_a", dst: str = "id_b"
) -> DataFrame:
    """One row per triangle (x < y < z by the degree order's ranks
    mapped back to ids): (a, b, c) with a < b < c.

    Each triangle is emitted exactly once: wedges are built from the
    degree-orientation's out-edges (lo -> hi), so the triangle's
    minimum-degree vertex is the unique wedge pivot."""
    e = canonical_edges(pairs, src, dst)
    deg = (
        e.select(F.col("u").alias("x"))
        .unionAll(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # orient by (degree, id): lo = smaller (d, id), hi = larger
    ed = (
        e.join(deg.withColumnRenamed("x", "u").withColumnRenamed("d", "du"), "u")
        .join(deg.withColumnRenamed("x", "v").withColumnRenamed("d", "dv"), "v")
        .select(
            F.when(
                (F.col("du") < F.col("dv"))
                | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                F.struct(F.col("u").alias("lo"), F.col("v").alias("hi")),
            )
            .otherwise(F.struct(F.col("v").alias("lo"), F.col("u").alias("hi")))
            .alias("o")
        )
        .select(F.col("o.lo").alias("lo"), F.col("o.hi").alias("hi"))
    )
    # wedges from each pivot's out-edges (both legs oriented out of lo)
    w = (
        ed.alias("e1")
        .join(ed.alias("e2"), F.col("e1.lo") == F.col("e2.lo"))
        .filter(F.col("e1.hi") < F.col("e2.hi"))
        .select(
            F.col("e1.lo").alias("p"),
            F.col("e1.hi").alias("q"),
            F.col("e2.hi").alias("r"),
        )
    )
    # close the wedge against the undirected edge set (q < r already)
    tri = w.join(
        e, (F.col("q") == F.col("u")) & (F.col("r") == F.col("v")), "left_semi"
    )
    srt = F.array_sort(F.array("p", "q", "r"))
    return tri.select(
        srt[0].alias("a"), srt[1].alias("b"), srt[2].alias("c")
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank on a directed edge list: (node, rank), sum(rank) == 1.

    Power iteration with the standard dangling-mass redistribution:
    each round is one contribution join (rank/out-degree along edges),
    one sum-by-destination, and a 1-row aggregate that collects the
    dangling mass to spread uniformly. Ranks and degrees are persisted
    with per-round swap (the connected-components pattern); lineage is
    cut by materializing each round, so plan depth stays constant.

    Scale: per round, one shuffle keyed by node id; the edge table is
    re-used unshuffled when pre-partitioned by src (bucketed graph
    layout), which is how a 1000-executor deployment avoids
    re-exchanging the (much larger) edge side every round.

    Determinism: fixed iteration count (no float-tolerance stopping),
    so results depend only on summation order; the test compares to a
    Python reference under a tolerance, not bitwise.
    """
    verts = (
        edges.select(F.col(src).alias("node"))
        .unionAll(edges.select(F.col(dst).alias("node")))
        .distinct()
        .persist()
    )
    n = verts.count()
    if n == 0:
        # empty graph: stay total (1.0/n below would divide by zero)
        verts.unpersist()
        return verts.select("node", F.lit(0.0).alias("rank"))
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("to"))
    outd = e.groupBy("node").agg(F.count(F.lit(1)).alias("outd"))
    # degree-annotated vertices; dangling nodes get outd NULL
    vd = verts.join(outd, "node", "left").persist()
    vd.count()
    verts.unpersist()

    ranks = vd.select("node", F.lit(1.0 / n).alias("rank")).persist()
    ranks.count()
    try:
        for _ in range(iters):
            r = vd.join(ranks, "node")
            dangling = (
                r.filter(F.col("outd").isNull())
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                .collect()[0]["m"]
            )
            contribs = (
                r.filter(F.col("outd").isNotNull())
                .join(e, "node")
                .select(F.col("to").alias("node"), (F.col("rank") / F.col("outd")).alias("c"))
                .groupBy("node")
                .agg(F.sum("c").alias("c"))
            )
            base = (1.0 - damping) / n + damping * dangling / n
            nxt = (
                vd.select("node")
                .join(contribs, "node", "left")
                .select(
                    "node",
                    (
                        F.lit(base) + F.lit(damping) * F.coalesce(F.col("c"), F.lit(0.0))
                    ).alias("rank"),
                )
                .persist()
            )
            nxt.count()
            ranks.unpersist()
            ranks = nxt
        return ranks
    finally:
        vd.unpersist()


PAGERANK_SCALE = 10**12  # rank mass in pico-units: sum(rank_pu) ~= 1e12


def degree_annotated_edges(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """(node, to, outd): every edge annotated with its source's
    out-degree — the static big side of each PageRank round.

    From an edge table BUCKETED by ``src`` this whole build is
    shuffle-free (plan-asserted in tests/test_plan_health.py): the
    degree aggregation and the degree join both reuse the scan's hash
    partitioning, so at 100 TB the edge table is exchanged exactly
    zero times across the entire power iteration — the bucketed
    layout paid the shuffle once at write."""
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("to"))
    outd = e.groupBy("node").agg(F.count(F.lit(1)).alias("outd"))
    return e.join(outd, "node")


def pagerank_int(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 6,
    damping_ppm: int = 850_000,
    pin: "Pin | None" = None,
    static_pin: "Pin | None" = None,
    retained: "list[DataFrame] | None" = None,
) -> DataFrame:
    """PageRank in exact integer pico-units: (node, rank_pu).

    The float ``pagerank`` above is correct but not engine-portable:
    per-destination contribution sums are IEEE additions whose result
    depends on accumulation order, so a SQL oracle cannot replay it
    bit-for-bit. This variant runs the same power iteration with every
    quantity a bigint (the package's micro/nano-unit discipline):

      - total mass is ``PAGERANK_SCALE`` (1e12 pico-units), initial
        rank = SCALE DIV n;
      - per-edge contribution = ((rank * damping_ppm) DIV 1e6) DIV
        out_degree — floor at each step, fixed operation order;
      - base = (SCALE - damping_ppm*1e6) DIV n
             + ((damping_ppm * dangling_mass) DIV 1e6) DIV n,
        with dangling_mass the summed rank of out-degree-0 vertices.

    Integer sums are associative, so the result is independent of
    partitioning and engine — a DuckDB oracle unrolling ``iters``
    rounds of the same arithmetic reproduces it exactly. Floor losses
    leak < n + 2 pico-units of mass per round: at 1e12 scale that is
    relative error ~1e-6 for a 1M-node graph, far below ranking
    significance. max(rank*damping_ppm) ~ 8.5e17 < 2^63.

    Fully lazy (no driver actions): n, dangling mass, and the base term
    ride as one-row frames through cross joins, and each round's ranks
    are pinned, so plan depth stays constant while the returned frame
    is still a plain composable DataFrame. Scale shape is identical to
    ``pagerank``: one node-keyed shuffle per round; pre-partitioning
    the edge table by ``src`` (bucketed graph layout) keeps the big
    side unshuffled across rounds.

    ``pin`` (see ``operators.pinning``) controls the per-round rank
    materialization. The default, ``lazy_checkpoint``, truncates
    lineage each round — REQUIRED for constant plan depth, but the
    rank blocks live unreplicated on executors, so an executor loss
    mid-iteration kills the job (re-run it). On clusters where that is
    unacceptable pass ``pinning.disk_persist`` (lineage kept, blocks
    recomputable — but plan depth then grows per round; bound iters)
    or a ``df.checkpoint()`` lambda with a reliable checkpoint dir.

    The STATIC per-round inputs (vertices, degree-annotated edges,
    dangling set) are ``persist()``ed, not checkpointed: a cached
    frame keeps both its lineage (recomputable on executor loss) and
    its physical HASH PARTITIONING on node, so every round's
    contribution join reads the big edge side pre-partitioned with NO
    per-round Exchange — checkpointing them instead would discard the
    partitioning and re-shuffle the edge table every round
    (plan-asserted in tests/test_plan_health.py). ``static_pin``
    overrides the storage level (e.g. ``pinning.disk_persist`` when
    the edge table outgrows memory).

    RETENTION: those static caches must outlive plan construction —
    the returned frame's every future action reads them — so this
    function cannot unpersist them itself, and repeated calls in a
    long-lived session accumulate cached frames until the context
    stops. Pass a list as ``retained`` to receive the persisted frames
    and ``unpersist()`` them once the result is consumed;
    ``static_pin=pinning.no_pin`` is the no-cache escape hatch (each
    round then re-derives the edge/vertex frames from source).
    """
    if pin is None:
        pin = _lazy_checkpoint
    if static_pin is None:
        static_pin = _mem_disk_persist
    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("to"))
    outd = e.groupBy("node").agg(F.count(F.lit(1)).alias("outd"))
    # static per-round inputs, materialized once: the degree-annotated
    # vertex set (carrying the never-changing is-dangling flag, so the
    # per-round dangling mass is a FILTER + aggregate over the rank
    # frame instead of a semi-join against a separate dangling table)
    # and the degree-annotated edge list (so each round pays ONE rank
    # join, not rank ⋈ outd ⋈ e)
    verts = static_pin(
        e.select("node")
        .unionAll(e.select(F.col("to").alias("node")))
        .distinct()
        .join(outd, "node", "left")
        .select("node", F.col("outd").isNull().alias("dang"))
    )
    ew = static_pin(degree_annotated_edges(edges, src, dst))
    if retained is not None:
        retained += [verts, ew]
    nf = verts.agg(F.count(F.lit(1)).alias("n"))
    d6 = damping_ppm * 1_000_000

    ranks = verts.crossJoin(F.broadcast(nf)).select(
        "node", F.expr(f"{PAGERANK_SCALE} DIV n").alias("rank_pu"), "dang"
    )
    for _ in range(iters):
        dang = ranks.filter("dang").agg(
            F.coalesce(F.sum("rank_pu"), F.lit(0)).cast("bigint").alias("dm")
        )
        contribs = (
            ranks.join(ew, "node")
            .select(
                F.col("to").alias("node"),
                F.expr(
                    f"((rank_pu * {damping_ppm}) DIV 1000000) DIV outd"
                ).alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("c"))
        )
        base = nf.crossJoin(dang).select(
            F.expr(
                f"({PAGERANK_SCALE} - {d6}) DIV n"
                f" + (({damping_ppm} * dm) DIV 1000000) DIV n"
            ).alias("base")
        )
        ranks = (
            verts.join(contribs, "node", "left")
            .crossJoin(F.broadcast(base))
            .select(
                "node",
                (F.col("base") + F.coalesce(F.col("c"), F.lit(0)))
                .cast("bigint")
                .alias("rank_pu"),
                "dang",
            )
        )
        # ranks feeds two consumers next round (dangling + contribs);
        # the pin keeps plan depth constant without running a job at
        # plan-build time (same discipline as operators.pq). r9
        # measured the row as plan-build dominated (execution of all
        # 6 rounds is sub-second at sf0.1) and A/B'd pinning every 2nd
        # round instead: ~1 s WORSE warm — both consumers re-analyze
        # the unpinned round's tree, the same negative result as the
        # PQ codebook fit. Per-round pinning stays.
        ranks = pin(ranks)
    return ranks.select("node", "rank_pu")
