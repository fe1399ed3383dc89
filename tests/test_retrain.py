"""Triggered-retrain orchestration (streaming/retrain.py): versioned
manifest atomicity, the signal-gated rebuild for each ANN family, the
fresh-baseline/monitor-reset contract, and exactly-once through the
replay-during-retrain race."""

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_task_spark.sources.tables import load_table
from mapreduce_task_spark.streaming.retrain import (
    current_index_path,
    current_version,
    drop_old_versions,
    list_versions,
    promote_version,
    retrain_if_due,
    retrain_index,
)


def _emb(spark, sf_small):
    return load_table(spark, sf_small, "embeddings").select(
        "vec_id", "embedding"
    )


def _shift(df, delta: float):
    """Synthetic distribution drift: every component shifted by a
    constant — far outside the build corpus in L2, out of the fitted
    SQ bounds in every dimension."""
    return df.select(
        "vec_id",
        F.transform("embedding", lambda x: x + F.lit(delta)).alias("embedding"),
    )


# --------------------------------------------------------------------------
# manifest machinery


def test_manifest_promote_resolve_and_drop(spark, tmp_path):
    root = str(tmp_path / "root")
    with pytest.raises(ValueError, match="no promoted version"):
        current_index_path(spark, root)
    os.makedirs(f"{root}/v1")
    assert promote_version(spark, root, "v1") == 1
    assert current_index_path(spark, root) == f"{root}/v1"
    os.makedirs(f"{root}/v2")
    assert promote_version(spark, root, "v2") == 2
    assert current_version(spark, root) == (2, "v2")
    assert list_versions(spark, root) == [(1, "v1"), (2, "v2")]
    # duplicate epoch refuses instead of clobbering
    with pytest.raises(RuntimeError, match="already promoted"):
        promote_version(spark, root, "v3", epoch=2)
    # old version dir reclaimed; manifest history stays
    assert drop_old_versions(spark, root, keep=1) == ["v1"]
    assert not os.path.exists(f"{root}/v1")
    assert list_versions(spark, root) == [(1, "v1"), (2, "v2")]
    assert current_index_path(spark, root) == f"{root}/v2"


# --------------------------------------------------------------------------
# IVF: signal -> retrain -> clean signal -> search equality


def test_ivf_retrain_end_to_end(spark, sf_small, tmp_path):
    from mapreduce_task_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
    )
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        drift_baseline,
        drift_signal,
        search_with_delta,
    )

    emb = _emb(spark, sf_small)
    base = emb.filter(F.col("vec_id") < 300)
    drifted = _shift(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)), 50.0
    )

    root = str(tmp_path / "root")
    ivf_build_index(base, f"{root}/v1", n_clusters=8, dim=64, rounds=2)
    drift_baseline(spark, f"{root}/v1")
    promote_version(spark, root, "v1")

    cur = current_index_path(spark, root)
    append_batch(drifted, 0, cur)

    sig = drift_signal(spark, cur).collect()[0]
    assert sig["retrain"] and sig["assign_ratio"] > 1.5

    res = retrain_if_due(spark, root)
    assert res["due"] and res["retrain"] and res["epoch"] == 2
    assert res["carried"] == []
    new = current_index_path(spark, root)
    assert new == f"{root}/v2"

    # the retrained index == a from-scratch build over the SAME rows
    # (deterministic seeded k-means; quantization is idempotent through
    # the stored qv)
    fresh = str(tmp_path / "fresh")
    ivf_build_index(
        base.unionByName(drifted), fresh, n_clusters=8, dim=64, rounds=2
    )
    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["cos"])
        for r in search_with_delta(spark, new, queries, k=5, nprobe=2).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["cos"])
        for r in ivf_search_index(spark, fresh, queries, k=5, nprobe=2).collect()
    )
    assert got == want and len(got) > 0

    # monitors reset: no drift rows yet on v2; an in-distribution
    # append under the NEW quantizer does not re-trip the signal
    assert drift_signal(spark, new) is None
    append_batch(emb.filter(F.col("vec_id") >= 400), 0, new)
    sig2 = drift_signal(spark, new).collect()[0]
    assert not sig2["retrain"]
    res2 = retrain_if_due(spark, root)
    assert not res2["due"]
    assert current_version(spark, root) == (2, "v2")


def test_ivf_retrain_carry_and_replay_race(spark, sf_small, tmp_path):
    """Batches past the checkpoint-committed watermark are NOT folded
    into the new base — they are carried into the new version's delta
    under the fresh quantizer, and a stream replay of the same batch
    (the crash window) overwrites them byte-identically instead of
    duplicating rows in base AND delta."""
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.batchlog import log_live
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        drift_baseline,
        search_with_delta,
    )

    emb = _emb(spark, sf_small)
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400))
    b1 = emb.filter(F.col("vec_id") >= 400)

    root = str(tmp_path / "root")
    ivf_build_index(base, f"{root}/v1", n_clusters=8, dim=64, rounds=2)
    drift_baseline(spark, f"{root}/v1")
    promote_version(spark, root, "v1")
    cur = current_index_path(spark, root)
    append_batch(b0, 0, cur)  # checkpoint-committed
    append_batch(b1, 1, cur)  # marker-committed, NOT checkpoint-committed

    res = retrain_index(spark, root, committed_batch=0)
    assert res["carried"] == [1]
    new = current_index_path(spark, root)

    # b1 ids live in the delta, not the base lists
    b1_ids = {r["vec_id"] for r in b1.select("vec_id").collect()}
    base_ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{new}/lists").select("vec_id").collect()
    }
    assert not (b1_ids & base_ids)
    delta_ids = {
        r["vec_id"] for r in log_live(spark, f"{new}/delta").collect()
    }
    assert b1_ids == delta_ids

    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def topk():
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["cos"])
            for r in search_with_delta(
                spark, new, queries, k=5, nprobe=2
            ).collect()
        )

    want = topk()
    n_delta = log_live(spark, f"{new}/delta").count()
    # the restarted stream replays batch 1 (raw-embedding path) against
    # the new version: must overwrite the carried partition, not duplicate
    append_batch(b1, 1, new)
    assert log_live(spark, f"{new}/delta").count() == n_delta
    assert topk() == want


# --------------------------------------------------------------------------
# IVF-SQ: saturation-triggered refit


def test_ivfsq_saturation_refit_end_to_end(spark, sf_small, tmp_path):
    from mapreduce_task_spark.operators.sq import (
        ivfsq_build_index,
        ivfsq_search_index,
    )
    from mapreduce_task_spark.streaming.ivfsq_ingest import (
        append_batch,
        drift_baseline,
        saturation_signal,
        search_with_delta,
    )

    emb = _emb(spark, sf_small)
    base = emb.filter(F.col("vec_id") < 300)
    out_of_range = _shift(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 350)), 9.0
    )

    root = str(tmp_path / "root")
    ivfsq_build_index(
        base, f"{root}/v1", n_clusters=8, dim=64, rounds=1, per_list=True
    )
    drift_baseline(spark, f"{root}/v1")
    promote_version(spark, root, "v1")
    cur = current_index_path(spark, root)
    append_batch(out_of_range, 0, cur)

    sat = saturation_signal(spark, cur).collect()[0]
    assert sat["refit"] and sat["frac_clamped"] > 0.01

    res = retrain_if_due(spark, root)
    assert res["due"] and res["refit"] and res["epoch"] == 2
    new = current_index_path(spark, root)

    # fresh bounds cover the streamed rows; saturation log starts clean
    assert saturation_signal(spark, new) is None

    fresh = str(tmp_path / "fresh")
    ivfsq_build_index(
        base.unionByName(out_of_range), fresh, n_clusters=8, dim=64,
        rounds=1, per_list=True,
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    got = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["approx_d"], r["exact_d"])
        for r in search_with_delta(
            spark, new, queries, k=5, nprobe=2, refine=2
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["cand_id"], r["approx_d"], r["exact_d"])
        for r in ivfsq_search_index(
            spark, fresh, queries, k=5, nprobe=2, refine=2
        ).collect()
    )
    assert got == want and len(got) > 0


# --------------------------------------------------------------------------
# IVF-PQ: retrain rebuilds codebooks too


def test_ivfpq_retrain_matches_fresh_build(spark, sf_small, tmp_path):
    from mapreduce_task_spark.operators.pq import (
        ivfpq_build_index,
        ivfpq_search_index,
    )
    from mapreduce_task_spark.streaming.ivfpq_ingest import (
        append_batch,
        drift_baseline,
    )

    emb = _emb(spark, sf_small)
    base = emb.filter(F.col("vec_id") < 300)
    b0 = emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 380))

    root = str(tmp_path / "root")
    ivfpq_build_index(
        base, f"{root}/v1", n_clusters=8, m=8, ksub=16, dim=64,
        coarse_rounds=1, pq_rounds=2,
    )
    drift_baseline(spark, f"{root}/v1")
    promote_version(spark, root, "v1")
    append_batch(b0, 0, current_index_path(spark, root))

    res = retrain_index(spark, root)
    assert res["kind"] == "ivfpq" and res["epoch"] == 2
    new = current_index_path(spark, root)

    fresh = str(tmp_path / "fresh")
    ivfpq_build_index(
        base.unionByName(b0), fresh, n_clusters=8, m=8, ksub=16, dim=64,
        coarse_rounds=1, pq_rounds=2,
    )
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    def run(path):
        return sorted(
            (r["query_id"], r["rank"], r["cand_id"], r["approx_d"], r["exact_d"])
            for r in ivfpq_search_index(
                spark, path, queries, k=5, nprobe=2, m=8, dim=64, refine=3
            ).collect()
        )

    got, want = run(new), run(fresh)
    assert got == want and len(got) > 0


# --------------------------------------------------------------------------
# scheduler wiring + refusals


def test_compact_crawl_retrain_opt_in(spark, sf_small, tmp_path):
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.crawl import compact_crawl
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        drift_baseline,
    )

    emb = _emb(spark, sf_small)
    base = emb.filter(F.col("vec_id") < 300)
    root = str(tmp_path / "root")
    ivf_build_index(base, f"{root}/v1", n_clusters=8, dim=64, rounds=2)
    drift_baseline(spark, f"{root}/v1")
    promote_version(spark, root, "v1")
    append_batch(
        _shift(emb.filter(F.col("vec_id") >= 300), 50.0),
        0,
        current_index_path(spark, root),
    )

    done = compact_crawl(
        spark,
        corpus_path=str(tmp_path / "absent_corpus"),
        sig_path=str(tmp_path / "absent_sigs"),
        committed_batch=0,
        retrain_roots=(root,),
    )
    assert done[f"retrain:{root}"] == 2
    assert current_version(spark, root) == (2, "v2")
    # quiet signal on the next pass: no new appends, fresh monitors
    done2 = compact_crawl(
        spark,
        corpus_path=str(tmp_path / "absent_corpus"),
        sig_path=str(tmp_path / "absent_sigs"),
        committed_batch=0,
        retrain_roots=(root,),
    )
    assert done2[f"retrain:{root}"] == 0


def test_retrain_refuses_vectorless_ivfsq(spark, sf_small, tmp_path):
    from mapreduce_task_spark.operators.sq import ivfsq_build_index

    emb = _emb(spark, sf_small)
    root = str(tmp_path / "root")
    ivfsq_build_index(
        emb.filter(F.col("vec_id") < 200), f"{root}/v1", n_clusters=4,
        dim=64, rounds=1, store_vectors=False,
    )
    promote_version(spark, root, "v1")
    with pytest.raises(ValueError, match="store_vectors=False"):
        retrain_index(spark, root)


def test_retrain_refuses_flat_sq8_root(spark, sf_small, tmp_path):
    """A flat SQ8 index has no coarse quantizer to retrain: polling its
    root must refuse loudly, not report ``due=False`` forever while
    ``retrain_index`` raises on the same kind."""
    from mapreduce_task_spark.operators.sq import sq_build_index
    from mapreduce_task_spark.streaming.sq_ingest import append_batch

    emb = _emb(spark, sf_small)
    root = str(tmp_path / "root")
    sq_build_index(emb.filter(F.col("vec_id") < 200), f"{root}/v1", dim=64)
    promote_version(spark, root, "v1")
    append_batch(
        _shift(emb.filter(F.col("vec_id") >= 200), 9.0), 0,
        current_index_path(spark, root),
    )
    with pytest.raises(ValueError, match="got 'sq8'"):
        retrain_if_due(spark, root)
    with pytest.raises(ValueError, match="got 'sq8'"):
        retrain_index(spark, root)
