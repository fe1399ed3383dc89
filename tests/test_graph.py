"""Degree-oriented triangle counting vs a brute-force reference."""

from itertools import combinations

from pyspark.sql import Row

from mapreduce_task_spark.operators.graph import canonical_edges, triangle_count


def _edges_df(spark, pairs):
    return spark.createDataFrame(
        [Row(id_a=a, id_b=b) for a, b in pairs], "id_a bigint, id_b bigint"
    )


def _py_triangles(pairs):
    es = set()
    for a, b in pairs:
        if a != b:
            es.add((min(a, b), max(a, b)))
    verts = sorted({x for e in es for x in e})
    return {
        (a, b, c)
        for a, b, c in combinations(verts, 3)
        if (a, b) in es and (b, c) in es and (a, c) in es
    }


def test_triangles_known_graphs(spark):
    # K4: 4 triangles; a 5-cycle: 0; K4 plus a pendant edge: still 4
    k4 = [(i, j) for i, j in combinations(range(4), 2)]
    got = {tuple(r) for r in triangle_count(_edges_df(spark, k4)).collect()}
    assert got == _py_triangles(k4) and len(got) == 4

    cyc = [(i, (i + 1) % 5) for i in range(5)]
    assert triangle_count(_edges_df(spark, cyc)).count() == 0

    pend = k4 + [(3, 9)]
    assert triangle_count(_edges_df(spark, pend)).count() == 4


def test_triangles_each_emitted_once_hub_graph(spark):
    """Star hub + rim edges (the skew case the degree orientation
    exists for): every triangle once, duplicates in the input pair
    table ignored, direction ignored."""
    # hub 0 connected to 1..8; rim edges (1,2),(3,4),(5,6) -> 3 triangles
    pairs = [(0, i) for i in range(1, 9)] + [(1, 2), (3, 4), (5, 6)]
    noisy = pairs + [(b, a) for a, b in pairs] + pairs  # dup + reversed
    df = _edges_df(spark, noisy)
    got = sorted(tuple(r) for r in triangle_count(df).collect())
    assert got == [(0, 1, 2), (0, 3, 4), (0, 5, 6)]
    assert canonical_edges(df).count() == len(pairs)


def test_triangles_random_graph_vs_reference(spark):
    """Deterministic pseudo-random graph, exhaustively checked."""
    pairs = []
    x = 7
    for _ in range(120):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a, b = (x >> 3) % 20, (x >> 9) % 20
        pairs.append((a, b))
    got = {tuple(r) for r in triangle_count(_edges_df(spark, pairs)).collect()}
    want = _py_triangles(pairs)
    assert got == want and len(want) > 10


def _py_pagerank(pairs, n_iters=10, d=0.85):
    nodes = sorted({x for e in pairs for x in e})
    n = len(nodes)
    out = {}
    for a, b in pairs:
        out.setdefault(a, []).append(b)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(n_iters):
        dangling = sum(r[v] for v in nodes if v not in out)
        contrib = {v: 0.0 for v in nodes}
        for a, outs in out.items():
            for b in outs:
                contrib[b] += r[a] / len(outs)
        base = (1.0 - d) / n + d * dangling / n
        r = {v: base + d * contrib[v] for v in nodes}
    return r


def test_pagerank_matches_reference_with_dangling(spark):
    from mapreduce_task_spark.operators.graph import pagerank

    # 3 -> hub 0; 0 -> 1 -> 2; 2 is dangling
    pairs = [(3, 0), (1, 0), (0, 1), (1, 2), (3, 1)]
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], "src bigint, dst bigint"
    )
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=10).collect()}
    want = _py_pagerank(pairs, 10)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    assert abs(sum(got.values()) - 1.0) < 1e-9  # mass conserved
    # the hub receiving two in-links outranks the dangling sink's source
    assert got[0] > got[3]


def _py_pagerank_int(pairs, n_iters=6, d_ppm=850_000, scale=10**12):
    nodes = sorted({x for e in pairs for x in e})
    n = len(nodes)
    out = {}
    for a, b in pairs:
        out.setdefault(a, set()).add(b)
    r = {v: scale // n for v in nodes}
    for _ in range(n_iters):
        dangling = sum(r[v] for v in nodes if v not in out)
        contrib = {v: 0 for v in nodes}
        for a, outs in out.items():
            for b in outs:
                contrib[b] += ((r[a] * d_ppm) // 1_000_000) // len(outs)
        base = (scale - d_ppm * 1_000_000) // n + ((d_ppm * dangling) // 1_000_000) // n
        r = {v: base + contrib[v] for v in nodes}
    return r


def test_pagerank_int_matches_python_replay_exactly(spark):
    from mapreduce_task_spark.operators.graph import pagerank_int

    pairs = [(3, 0), (1, 0), (0, 1), (1, 2), (3, 1)]
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], "src bigint, dst bigint"
    )
    got = {r["node"]: r["rank_pu"] for r in pagerank_int(df, iters=6).collect()}
    want = _py_pagerank_int(pairs, 6)
    assert got == want  # bit-exact: integer arithmetic is order-free


def test_pagerank_int_tracks_float_pagerank(spark):
    from mapreduce_task_spark.operators.graph import pagerank, pagerank_int

    x = 42
    pairs = []
    for _ in range(60):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a, b = (x >> 3) % 15, (x >> 9) % 15
        if a != b:
            pairs.append((a, b))
    pairs = sorted(set(pairs))
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in pairs], "src bigint, dst bigint"
    )
    f = {r["node"]: r["rank"] for r in pagerank(df, iters=6).collect()}
    i = {r["node"]: r["rank_pu"] / 1e12 for r in pagerank_int(df, iters=6).collect()}
    assert set(f) == set(i)
    for v in f:
        # floor losses are bounded: ~iters * (outdeg+2) pico-units/node
        assert abs(f[v] - i[v]) < 1e-6, (v, f[v], i[v])
    assert abs(sum(i.values()) - 1.0) < 1e-6  # mass conserved to floor loss


def test_pagerank_int_partitioning_invariant(spark):
    """Integer sums are associative — the result must be bit-identical
    under any physical partitioning of the edge list (the property that
    makes pagerank_int oracle-replayable at all)."""
    from mapreduce_task_spark.operators.graph import pagerank_int

    x = 7
    pairs = []
    for _ in range(80):
        x = (x * 1103515245 + 12345) % (1 << 31)
        a, b = (x >> 3) % 25, (x >> 9) % 25
        if a != b:
            pairs.append((a, b))
    df = spark.createDataFrame(
        [Row(src=a, dst=b) for a, b in sorted(set(pairs))],
        "src bigint, dst bigint",
    )
    base = {r["node"]: r["rank_pu"] for r in pagerank_int(df, iters=4).collect()}
    for parts in (1, 7):
        got = {
            r["node"]: r["rank_pu"]
            for r in pagerank_int(df.repartition(parts), iters=4).collect()
        }
        assert got == base, parts
