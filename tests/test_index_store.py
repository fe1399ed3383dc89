"""Recorded index schemas (``operators/index_store.py``).

Every ANN build records in ``_INDEX_META.json`` the read schema of
each dataset it writes and of the delta log its appends will write;
appends never rewrite the meta. Reading with a recorded schema must give exactly the DataFrame schema
inference gives (column order included) — otherwise searches would see
differently shaped frames depending on whether an index is legacy —
and must run no Spark job.
"""

import os

import pytest
from pyspark.sql import functions as F

from mapreduce_task_spark.operators.index_store import (
    load_dataset,
    read_index_meta,
    recorded_schema,
)
from mapreduce_task_spark.sources.tables import load_table

DIM = 64


def _jobs(spark, tag: str, fn):
    """(fn(), number of Spark jobs fn ran), counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(sc.statusTracker().getJobIdsForGroup(tag))


def _assert_recorded(spark, idx: str, names):
    meta = read_index_meta(spark, idx)
    for name in names:
        want = spark.read.parquet(f"{idx}/{name}").schema
        assert recorded_schema(meta, name) == want, name
        got, jobs = _jobs(
            spark, f"load-{idx}-{name}", lambda: load_dataset(spark, idx, name, meta)
        )
        assert got.schema == want and jobs == 0, (name, jobs)


def _families():
    from mapreduce_task_spark.operators.pq import ivfpq_build_index
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.operators.sq import ivfsq_build_index, sq_build_index
    from mapreduce_task_spark.streaming import (
        ivf_ingest,
        ivfpq_ingest,
        ivfsq_ingest,
        sq_ingest,
    )

    pq = dict(n_clusters=4, m=8, ksub=8, dim=DIM, pq_rounds=1)
    return {
        "ivf": (
            lambda df, p: ivf_build_index(df, p, n_clusters=4, dim=DIM),
            ("centroids", "lists"),
            ivf_ingest.append_batch,
        ),
        "ivfpq": (
            lambda df, p: ivfpq_build_index(df, p, **pq),
            ("coarse", "vectors", "codebook", "codes"),
            lambda b, i, p: ivfpq_ingest.append_batch(b, i, p, m=8, dim=DIM),
        ),
        "ivfpq_per_list": (
            lambda df, p: ivfpq_build_index(df, p, per_list=True, **pq),
            ("coarse", "vectors", "codebook", "codes"),
            lambda b, i, p: ivfpq_ingest.append_batch(
                b, i, p, m=8, dim=DIM, per_list=True
            ),
        ),
        "ivfsq": (
            lambda df, p: ivfsq_build_index(df, p, n_clusters=4, dim=DIM),
            ("centroids", "vectors", "bounds", "codes"),
            ivfsq_ingest.append_batch,
        ),
        "ivfsq_codes_only": (
            lambda df, p: ivfsq_build_index(
                df, p, n_clusters=4, dim=DIM, per_list=True, store_vectors=False
            ),
            ("centroids", "bounds", "codes"),
            ivfsq_ingest.append_batch,
        ),
        "sq8": (
            lambda df, p: sq_build_index(df, p, dim=DIM),
            ("bounds", "codes", "vectors"),
            sq_ingest.append_batch,
        ),
        "sq8_codes_only": (
            lambda df, p: sq_build_index(df, p, dim=DIM, store_vectors=False),
            ("bounds", "codes"),
            sq_ingest.append_batch,
        ),
    }


@pytest.mark.parametrize("family", sorted(_families()))
def test_recorded_schemas_match_inference(spark, sf_small, tmp_path, family):
    """Each base dataset, and the delta log after an append and after a
    compaction, reads with the recorded schema exactly as inference
    reads it, without a job. The build records the delta's schema; the
    appends and the compaction leave the meta file as the build wrote
    it."""
    from mapreduce_task_spark.streaming.ann_delta import compact_delta

    build, names, append = _families()[family]
    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / family)
    build(emb.filter(F.col("vec_id") < 200), idx)
    _assert_recorded(spark, idx, names)
    meta_file = os.path.join(idx, "_INDEX_META.json")
    with open(meta_file, "rb") as f:
        built = f.read()
    assert recorded_schema(read_index_meta(spark, idx), "delta") is not None

    append(emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 240)), 0, idx)
    append(emb.filter((F.col("vec_id") >= 240) & (F.col("vec_id") < 260)), 1, idx)
    _assert_recorded(spark, idx, (*names, "delta"))
    assert compact_delta(spark, idx, 1) == 2
    _assert_recorded(spark, idx, (*names, "delta"))
    with open(meta_file, "rb") as f:
        assert f.read() == built


@pytest.mark.parametrize("validate", ["true", "false"])
def test_batch_id_beyond_int_range_reads_through_inference(
    spark, sf_small, tmp_path, validate
):
    """The recorded delta schema types ``__batch`` as int. A log that
    holds a batch id of 2^31 is read through inference instead, so the
    live view keeps that batch's rows and ids, and compaction folds it
    like any other batch — whether Spark refuses the out-of-range
    partition value or (validation off) would read it as NULL."""
    conf = "spark.sql.sources.validatePartitionColumns"
    old = spark.conf.get(conf)
    spark.conf.set(conf, validate)
    try:
        _wide_batch_id_round_trip(spark, sf_small, tmp_path)
    finally:
        spark.conf.set(conf, old)


def _wide_batch_id_round_trip(spark, sf_small, tmp_path):
    from mapreduce_task_spark.operators.similarity import ivf_build_index
    from mapreduce_task_spark.streaming.ann_delta import (
        compact_delta,
        delta_live,
        index_meta,
    )
    from mapreduce_task_spark.streaming.batchlog import BATCH_COL
    from mapreduce_task_spark.streaming.ivf_ingest import append_batch

    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "wide")
    ivf_build_index(emb.filter(F.col("vec_id") < 200), idx, n_clusters=4, dim=DIM)
    append_batch(emb.filter(F.col("vec_id").between(200, 229)), 0, idx)
    append_batch(emb.filter(F.col("vec_id").between(230, 239)), 2**31, idx)
    live = delta_live(spark, idx, index_meta(spark, idx))
    assert live.count() == 40
    got = {r[0]: r[1] for r in live.groupBy(BATCH_COL).count().collect()}
    assert got == {0: 30, 2**31: 10}
    assert compact_delta(spark, idx, 2**31) == 2
    assert delta_live(spark, idx, index_meta(spark, idx)).count() == 40


def test_legacy_index_reads_through_inference(spark, sf_small, tmp_path):
    """A meta-less (legacy) index has no recorded schema: searches read
    it through inference and answer as before, and an append records
    nothing (no meta is invented for it)."""
    from mapreduce_task_spark.operators.similarity import (
        ivf_build_index,
        ivf_search_index,
    )
    from mapreduce_task_spark.streaming.ivf_ingest import (
        append_batch,
        search_with_delta,
    )

    emb = load_table(spark, sf_small, "embeddings")
    idx = str(tmp_path / "legacy")
    ivf_build_index(emb.filter(F.col("vec_id") < 200), idx, n_clusters=4, dim=DIM)
    queries = emb.filter(F.col("vec_id") % 40 == 0)
    want = sorted(tuple(r) for r in ivf_search_index(spark, idx, queries, k=5).collect())
    os.remove(os.path.join(idx, "_INDEX_META.json"))
    got = sorted(tuple(r) for r in ivf_search_index(spark, idx, queries, k=5).collect())
    assert got == want and got
    append_batch(emb.filter(F.col("vec_id") >= 200), 0, idx)
    assert read_index_meta(spark, idx) is None
    assert search_with_delta(spark, idx, queries, k=5).count() == len(want)
