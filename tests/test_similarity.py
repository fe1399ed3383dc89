"""Similarity-search operator semantics (quantized-exact cosine)."""

import math

import pytest
from pyspark.sql import Row, functions as F

from mapreduce_task_spark.operators.similarity import (
    brute_force_topk,
    hyperplanes,
    kmeans_lite_clusters,
    srp_buckets,
    with_quantized,
)


def _emb(spark, vecs):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>",
    )


def test_quantized_norm_exact(spark):
    df = with_quantized(_emb(spark, [[0.5, -0.25, 0.125]]))
    r = df.collect()[0]
    assert r["qv"] == [500000, -250000, 125000]
    assert r["nq"] == 500000**2 + 250000**2 + 125000**2


def test_brute_force_topk_orders_by_cosine(spark):
    # q = [1,0]; candidates at decreasing cosine: [2,0]=1.0, [1,1]=.707, [0,1]=0, [-1,0]=-1
    df = _emb(spark, [[1, 0], [2, 0], [1, 1], [0, 1], [-1, 0]])
    qids = df.select("vec_id").filter(F.col("vec_id") == 0)
    got = brute_force_topk(df, qids, k=4).collect()
    assert [r["cand_id"] for r in got] == [1, 2, 3, 4]
    assert got[0]["cos"] == 1.0
    assert abs(got[1]["cos"] - 1 / math.sqrt(2)) < 1e-9
    assert got[2]["cos"] == 0.0 and got[3]["cos"] == -1.0
    assert [r["rank"] for r in got] == [1, 2, 3, 4]


def test_hyperplanes_deterministic(spark):
    assert hyperplanes(2, 4) == hyperplanes(2, 4)
    flat = [c for row in hyperplanes(4, 64) for c in row]
    assert all(-1000 <= c <= 1000 for c in flat)
    assert len(set(flat)) > 100  # spread out, not degenerate


def test_kmeans_lite_separates_obvious_clusters(spark):
    # two tight groups on opposite axes -> they must land in different
    # clusters and co-group within themselves, whatever the seed draw
    a = [[1.0, 0.0, 0.0, 0.0], [0.9, 0.1, 0.0, 0.0], [0.95, -0.05, 0.0, 0.0]]
    b = [[0.0, 0.0, 0.0, 1.0], [0.0, 0.1, 0.0, 0.9], [0.0, -0.05, 0.0, 0.95]]
    df = _emb(spark, a + b)
    got = {r["vec_id"]: r["cluster"] for r in
           kmeans_lite_clusters(df, k=2, dim=4).collect()}
    assert len(got) == 6
    assert got[0] == got[1] == got[2]
    assert got[3] == got[4] == got[5]
    assert got[0] != got[3]


def test_kmeans_lite_deterministic(spark):
    df = _emb(spark, [[0.1 * i, 0.2, -0.3, 0.05 * i] for i in range(12)])
    r1 = sorted(kmeans_lite_clusters(df, k=3, dim=4).collect())
    r2 = sorted(kmeans_lite_clusters(df, k=3, dim=4).collect())
    assert r1 == r2


def test_kmeans_multi_round_partitions_all_rows(spark):
    df = _emb(spark, [[0.1 * i, -0.05 * i, 0.2, 0.3] for i in range(20)])
    got = kmeans_lite_clusters(df, k=4, dim=4, rounds=3).collect()
    assert len(got) == 20  # every vector assigned exactly once
    assert {r["cluster"] for r in got} <= {1, 2, 3, 4}
    again = kmeans_lite_clusters(df, k=4, dim=4, rounds=3).collect()
    assert sorted(got) == sorted(again)


def test_kmeans_assignment_stage_is_shuffle_free(spark):
    """The per-round assignment must be a broadcast + projection: the
    only shuffle exchanges in a whole kmeans build come from the k x dim
    centroid aggregations (rounds of them), never from assignments."""
    df = _emb(spark, [[0.1 * i, 0.2, -0.3, 0.05 * i] for i in range(12)])
    plan = (
        kmeans_lite_clusters(df, k=3, dim=4)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one Lloyd round = centroid agg (partial+final pair) + the tiny
    # seed window; assignments add broadcast exchanges only
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles <= 2, plan


def test_ivf_multiprobe_raises_recall_vs_brute_force(spark, sf_small):
    """IVF quality gate, mirroring the SRP one: recall@5 against exact
    brute force must not fall when probing more inverted lists, and at
    nprobe = n_clusters the search IS brute force (recall exactly 1.0
    — every cluster scanned, same exact arithmetic)."""
    from mapreduce_task_spark.operators.similarity import ivf_topk
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["cand_id"])
        return out

    bf = topsets(brute_force_topk(emb, qids, k=5))

    def recall(nprobe):
        t = topsets(
            ivf_topk(emb, qids, k=5, n_clusters=4, dim=64, rounds=1, nprobe=nprobe)
        )
        return sum(len(bf[q] & t.get(q, set())) / 5 for q in bf) / len(bf)

    r1, r2, r_all = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r_all
    assert r_all == 1.0  # probing every list == exact brute force
    assert r2 >= 0.3  # half the lists recovers a solid share on this data


def test_srp_multiprobe_raises_recall_vs_brute_force(spark, sf_small):
    """ANN quality gate: recall@5 against the exact brute-force top-5,
    single-bucket vs Hamming-1 multi-probe (which scans ~(nbits+1)/2^nbits
    of the corpus instead of ~1/2^nbits and must recover more of the
    true neighbors). Thresholds sit well under measured values
    (single 0.10, multiprobe 0.38 on this data) but far above the
    ~0.01 recall of a random candidate set."""
    from mapreduce_task_spark.operators.similarity import srp_lsh_topk
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)

    def topsets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["cand_id"])
        return out

    bf = topsets(brute_force_topk(emb, qids, k=5))

    def recall(probe_bits):
        t = topsets(
            srp_lsh_topk(emb, qids, k=5, nbits=4, dim=64, probe_bits=probe_bits)
        )
        return sum(len(bf[q] & t.get(q, set())) / 5 for q in bf) / len(bf)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0
    assert r1 >= 0.2
    assert r0 >= 0.04  # above random-candidate recall


def test_semantic_dedup_exact_precision_gated_recall(spark, sf_small):
    """Cluster-bounded semantic dedup (the 100 TB path) vs its exact
    O(n^2) twin: every emitted pair must be a true pair with the
    IDENTICAL cosine (precision 1.0 — within-cluster arithmetic is the
    same quantized GEMM), recall is floor-gated (boundary pairs can be
    missed), and at k=1 (one cluster) the operator IS the exact twin."""
    from mapreduce_task_spark.operators.similarity import (
        blocked_all_pairs_cosine,
        cluster_pairs_cosine,
    )
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    thr = 0.3
    exact = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in blocked_all_pairs_cosine(emb, threshold=thr).collect()
    }
    assert exact, "fixture must contain pairs at this threshold"

    sem = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cluster_pairs_cosine(
            kmeans_lite_clusters(emb, k=4, dim=64, rounds=2), threshold=thr
        ).collect()
    }
    for pair, cos in sem.items():
        assert pair in exact and cos == exact[pair]  # precision 1.0, bitwise
    assert len(sem) / len(exact) >= 0.25  # recall floor on this fixture

    one = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in cluster_pairs_cosine(
            kmeans_lite_clusters(emb, k=1, dim=64, rounds=1), threshold=thr
        ).collect()
    }
    assert one == exact  # single cluster degenerates to exact all-pairs


def test_srp_same_vector_same_bucket(spark):
    df = _emb(spark, [[0.3, -0.1, 0.7, 0.2], [0.3, -0.1, 0.7, 0.2], [-0.3, 0.1, -0.7, -0.2]])
    got = {r["vec_id"]: r["bucket"] for r in srp_buckets(df, nbits=4, dim=4).collect()}
    assert got[0] == got[1]
    # the antipodal vector flips every projection sign -> complementary bucket
    assert got[2] == (~got[0]) & 0xF


def test_srp_requires_dim_no_hidden_job(spark):
    # deriving dim from data would launch a Spark job at plan-build time
    df = _emb(spark, [[0.1, 0.2]])
    with pytest.raises(ValueError, match="dim"):
        srp_buckets(df, nbits=2)


def test_ivf_index_partitioned_layout_prunes_search(spark, sf_small, tmp_path):
    """The 100 TB IVF claim made concrete: persist the index partitioned
    by cluster id, and a cluster-restricted search must (a) prune the
    scan to the probed clusters' directories at planning time
    (PartitionFilters) and (b) return exactly the same candidates as
    searching the unpartitioned index."""
    from mapreduce_task_spark.operators.similarity import kmeans_lite_clusters
    from mapreduce_task_spark.sources.partitioned import partition_filters
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    idx = kmeans_lite_clusters(emb, k=4, dim=64, rounds=1)
    d = str(tmp_path / "ivf_index")
    idx.write.mode("overwrite").partitionBy("cluster").parquet(d)

    back = spark.read.parquet(d)
    # the index round-trips losslessly
    assert back.count() == emb.count()

    probed = back.filter(F.col("cluster").isin(1, 2))
    pf = partition_filters(probed)
    assert "cluster" in pf  # metadata-only pruning, not per-file filters

    expected = {
        r["vec_id"] for r in idx.filter(F.col("cluster").isin(1, 2)).collect()
    }
    got = {r["vec_id"] for r in probed.collect()}
    assert got == expected and got


def test_cluster_pairs_blocked_equals_unblocked(spark, sf_small):
    """The num_blocks skew valve must be a pure physical re-plan: the
    (cluster, ba, bb) fan-out changes per-task memory, never the result
    set. Regression for the cross-block id-order mask that silently
    dropped every pair whose a-side id exceeded its b-side id."""
    from mapreduce_task_spark.operators.similarity import (
        cluster_pairs_cosine,
        kmeans_lite_clusters,
    )
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    assigned = kmeans_lite_clusters(emb, k=4, dim=64, rounds=2).persist()
    try:
        base = {
            (r["id_a"], r["id_b"]): r["cos"]
            for r in cluster_pairs_cosine(assigned, threshold=0.3).collect()
        }
        assert base, "fixture must contain pairs at this threshold"
        for nb in (2, 3):
            blocked = {
                (r["id_a"], r["id_b"]): r["cos"]
                for r in cluster_pairs_cosine(
                    assigned, threshold=0.3, num_blocks=nb
                ).collect()
            }
            assert blocked == base, f"num_blocks={nb} diverged"
    finally:
        assigned.unpersist()


def test_kmeans_clusters_align_with_ground_truth_labels(spark, sf_small):
    """Evaluation harness for the coarse quantizer: the synthetic
    embeddings carry a ground-truth ``label`` column; k-means-lite
    cluster purity (weighted max-label share per cluster) must beat
    the majority-class baseline — i.e. the index captures real
    structure, not hash noise. Deterministic build -> exact gate."""
    from pyspark.sql import functions as F

    from mapreduce_task_spark.operators.similarity import (
        kmeans_lite_clusters,
    )
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    # k = 2x the label count: the synthetic embeddings are near-uniform
    # (weak cluster structure — the same regime the PQ recall tests
    # document), so purity is modest; finer clusters capture what
    # structure exists. Measured 0.186 vs majority 0.126 — the gate
    # pins "beats the majority baseline by a real margin".
    clustered = kmeans_lite_clusters(emb, k=16, dim=64, rounds=2)
    joined = clustered.join(emb.select("vec_id", "label"), "vec_id")
    per = (
        joined.groupBy("cluster", "label")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("cluster")
        .agg(F.max("n").alias("top"), F.sum("n").alias("tot"))
    )
    agg = per.agg(F.sum("top").alias("top"), F.sum("tot").alias("tot")).first()
    purity = agg["top"] / agg["tot"]
    majority = (
        emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()[0]
        / n
    )
    assert agg["tot"] == n
    assert purity > majority + 0.04, (purity, majority)


def test_ann_recall_operator_matches_inline_computation(spark, sf_small):
    """The reusable recall evaluator agrees with the hand-computed
    set-intersection recall on real index output (SRP-LSH vs brute
    force), including the MACRO average row and zero-hit queries."""
    from mapreduce_task_spark.operators.similarity import (
        ann_recall,
        brute_force_topk,
        srp_lsh_topk,
    )
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 8)
    exact = brute_force_topk(emb, qids, k=5)
    approx = srp_lsh_topk(emb, qids, k=5, nbits=8, dim=64)

    ex, ap = {}, {}
    for r in exact.collect():
        ex.setdefault(r["query_id"], set()).add(r["cand_id"])
    for r in approx.collect():
        ap.setdefault(r["query_id"], set()).add(r["cand_id"])
    want = {
        str(q): len(ex[q] & ap.get(q, set())) / len(ex[q]) for q in ex
    }
    want["MACRO"] = sum(want.values()) / len(ex)

    got = {r["query_id"]: r["recall"] for r in ann_recall(exact, approx).collect()}
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 1e-12, k


def test_ivf_index_build_search_split_matches_inline(spark, sf_small, tmp_path):
    """ivf_build_index + ivf_search_index must reproduce ivf_topk
    bit-for-bit (same quantizer, scoring, tie-breaks) — the build-once/
    search-many deployment split."""
    from pyspark.sql import functions as F

    from mapreduce_task_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
        ivf_topk,
    )
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)
    queries = emb.join(qids, "vec_id")
    path = str(tmp_path / "ivf_index")

    ivf_build_index(emb, path, n_clusters=8, dim=64, rounds=2)
    split = ivf_search_index(spark, path, queries, k=5, nprobe=2)
    inline = ivf_topk(emb, qids, k=5, n_clusters=8, dim=64, rounds=2, nprobe=2)

    key = lambda r: (r["query_id"], r["rank"])
    got = {key(r): (r["cand_id"], r["cos"]) for r in split.collect()}
    want = {key(r): (r["cand_id"], r["cos"]) for r in inline.collect()}
    assert got == want and len(got) > 0

    # search-many: a second search with different nprobe reuses the same
    # index files (no rebuild) and can only widen the candidate pool
    wide = ivf_search_index(spark, path, queries, k=5, nprobe=4)
    by_q = {}
    for r in wide.collect():
        by_q.setdefault(r["query_id"], []).append(r["cos"])
    for q, cs in by_q.items():
        narrow_best = max(c for (qq, _), (_, c) in got.items() if qq == q)
        assert max(cs) >= narrow_best

    # the lists dataset is physically partitioned by cluster — the scan
    # prunes to the probed lists (the inverted-list contract at scale)
    import os

    parts = [d for d in os.listdir(f"{path}/lists") if d.startswith("cluster=")]
    assert len(parts) > 1


def test_degenerate_embedding_contract(spark):
    """Pin the documented input contract for degenerate embeddings
    (operators/similarity.py cosine_sql):

    - NULL embeddings propagate NULL cosine, which desc-sorts LAST:
      they rank strictly after every real candidate (and fall out of
      any top-k tighter than the candidate pool) — a corpus with
      extraction failures degrades gracefully;
    - ZERO-NORM vectors (all-zero or empty arrays) abort LOUDLY under
      ANSI mode rather than ranking a NaN first — callers filter
      nq > 0 upstream per the contract.
    """
    import pytest
    from pyspark.sql import functions as F

    from mapreduce_task_spark.operators.similarity import brute_force_topk

    ok_rows = [(1, [1.0, 2.0, 3.0]), (2, None), (5, [3.0, 1.0, 2.0])]
    df = spark.createDataFrame(ok_rows, "vec_id int, embedding array<double>")
    q = df.filter(F.col("vec_id") == 1).select("vec_id")
    got = {r["cand_id"]: r for r in brute_force_topk(df, q, k=5).collect()}
    # self excluded; real candidate outranks the NULL-embedding row
    assert set(got) == {2, 5}
    assert got[2]["cos"] is None and got[2]["rank"] > got[5]["rank"]
    # and a top-1 never surfaces the NULL row at all
    top1 = brute_force_topk(df, q, k=1).collect()
    assert [r["cand_id"] for r in top1] == [5]

    bad = spark.createDataFrame(
        ok_rows + [(3, []), (4, [0.0, 0.0, 0.0])],
        "vec_id int, embedding array<double>",
    )
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        brute_force_topk(bad, q, k=5).collect()


def test_ivf_search_index_filter_ids_prefilters_candidates(spark, sf_small, tmp_path):
    """Filtered vector search (FAISS IDSelector analogue): searching
    with an allow-list must equal post-filtering the exhaustive ranking
    of the SAME index — every query still gets k results drawn from the
    allowed subset (pre-filter, never a post-filtered hole), with ranks
    renumbered within it."""
    from pyspark.sql import functions as F

    from mapreduce_task_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
    )
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    n = emb.count()
    qids = emb.select("vec_id").filter(F.col("vec_id") < 10)
    queries = emb.join(qids, "vec_id")
    allow = emb.select("vec_id").filter(F.col("vec_id") % 2 == 0)
    path = str(tmp_path / "ivf_index")
    ivf_build_index(emb, path, n_clusters=8, dim=64, rounds=1)

    got = ivf_search_index(
        spark, path, queries, k=5, nprobe=8, filter_ids=allow
    ).collect()
    # exhaustive ranking over the same probes, post-filtered in python
    full = ivf_search_index(spark, path, queries, k=n, nprobe=8).collect()
    want = {}
    for r in sorted(full, key=lambda r: (r["query_id"], r["rank"])):
        if r["cand_id"] % 2 == 0:
            want.setdefault(r["query_id"], [])
            if len(want[r["query_id"]]) < 5:
                want[r["query_id"]].append((r["cand_id"], r["cos"]))
    assert {
        (r["query_id"], r["rank"]): (r["cand_id"], r["cos"]) for r in got
    } == {
        (q, i + 1): rc for q, rcs in want.items() for i, rc in enumerate(rcs)
    }
    # pre-filter, not post-filter: every query keeps a full top-5
    # (the allowed subset is plenty large) and only allowed ids appear
    per_q = {}
    for r in got:
        assert r["cand_id"] % 2 == 0
        per_q[r["query_id"]] = per_q.get(r["query_id"], 0) + 1
    assert per_q and all(c == 5 for c in per_q.values())
    # duplicates in the allow-list must not widen or rerank anything
    dup = ivf_search_index(
        spark, path, queries, k=5, nprobe=8, filter_ids=allow.union(allow)
    ).collect()
    assert sorted(map(tuple, dup)) == sorted(map(tuple, got))


def test_ivf_search_index_empty_allow_list_is_total(spark, sf_small, tmp_path):
    """An empty allow-list is a valid (if useless) filter: the search
    returns zero rows rather than erroring — a crawl-time predicate
    that matches nothing degrades gracefully."""
    from pyspark.sql import functions as F

    from mapreduce_task_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
    )
    from mapreduce_task_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    path = str(tmp_path / "ivf_empty_allow")
    ivf_build_index(emb, path, n_clusters=8, dim=64, rounds=1)
    none = emb.select("vec_id").filter(F.lit(False))
    assert ivf_search_index(
        spark, path, queries, k=5, nprobe=2, filter_ids=none
    ).count() == 0
