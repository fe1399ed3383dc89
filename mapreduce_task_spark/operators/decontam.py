"""Benchmark decontamination: drop training documents that overlap an
evaluation set.

The standard pipeline rule (n-gram collision decontamination): a
training document is contaminated if it shares any word n-gram of
length >= n with any benchmark document. Built from the same shingle
machinery the dedup ladder uses — tokenize/normalize/k-gram as narrow
map-only stages — plus one semi-join on the shingle string.

Scale shape: the benchmark side is tiny relative to the corpus (a few
thousand eval documents vs billions of training docs), so its distinct
shingle set is BROADCAST and the corpus-side check is a map-side
semi-join: one pass over the training shingles, no corpus shuffle.
With ``broadcast_bench=False`` it degrades to a shuffle semi-join for
pathological benchmark sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .dedup import shingles


def benchmark_shingles(
    bench: DataFrame, text_col: str = "text", n: int = 8
) -> DataFrame:
    """Distinct word n-grams of the eval set: one column ``shingle``."""
    b = bench.select(
        F.monotonically_increasing_id().alias("__bid"), F.col(text_col)
    )
    return shingles(b, "__bid", text_col, k=n).select("shingle").distinct()


def contaminated_ids(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Training doc ids sharing >= 1 word n-gram with the benchmark."""
    bs = benchmark_shingles(bench, bench_text_col, n)
    if broadcast_bench:
        bs = F.broadcast(bs)
    ds = shingles(docs, id_col, text_col, k=n)
    return ds.join(bs, "shingle", "left_semi").select(id_col).distinct()


def decontaminate(
    docs: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    n: int = 8,
    broadcast_bench: bool = True,
) -> DataFrame:
    """The cleaned corpus: ``docs`` minus contaminated documents."""
    bad = contaminated_ids(
        docs, bench, id_col, text_col, bench_text_col, n, broadcast_bench
    )
    return docs.join(bad, id_col, "left_anti")


def semantic_contaminated_ids(
    docs: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    bench_vec_col: str = "embedding",
) -> DataFrame:
    """Training doc ids whose embedding is cosine->= ``threshold`` to ANY
    benchmark embedding — the semantic rung of decontamination
    (paraphrased eval leakage shares no 8-gram; it does share an
    embedding neighborhood).

    Scale shape mirrors ``contaminated_ids``: the benchmark side is
    tiny, so its quantized vectors BROADCAST and the check is one
    map-side pass over the corpus scan (broadcast nested-loop with the
    cosine filter inline, O(n_docs * n_bench) multiply-adds, no corpus
    shuffle, no candidate materialization). The arithmetic is the
    engine's exact-integer quantized cosine, so the same threshold
    reproduces on any layout.

    NULL embeddings (extraction failures) propagate a NULL cosine and
    are NOT flagged — an unembedded doc can't be judged semantically;
    run the n-gram rung beside this one. Zero-norm embeddings are
    undefined input for cosine (see ``cosine_sql``) and are
    excluded on both sides rather than aborting the scan.
    """
    from .similarity import cosine_sql, with_quantized

    qd = with_quantized(docs, vec_col).select(
        F.col(id_col), F.col("qv"), F.col("nq")
    ).where(F.col("nq") > 0)
    qb = with_quantized(
        bench.select(F.col(bench_vec_col).alias("__bvec")), "__bvec"
    ).select(F.col("qv").alias("bqv"), F.col("nq").alias("bnq")).where(
        F.col("bnq") > 0
    )
    hits = qd.crossJoin(F.broadcast(qb)).where(
        F.expr(cosine_sql("qv", "bqv", "nq", "bnq")) >= threshold
    )
    return hits.select(id_col).distinct()


def decontaminate_semantic(
    docs: DataFrame,
    bench: DataFrame,
    threshold: float = 0.9,
    id_col: str = "doc_id",
    vec_col: str = "embedding",
    bench_vec_col: str = "embedding",
) -> DataFrame:
    """``docs`` minus semantically contaminated documents."""
    bad = semantic_contaminated_ids(
        docs, bench, threshold, id_col, vec_col, bench_vec_col
    )
    return docs.join(bad, id_col, "left_anti")


def split_leakage(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    test_fraction: float = 0.3,
    salt: str = "split",
    k: int = 3,
    threshold: float = 0.5,
    num_hashes: int | None = None,
    bands: int | None = None,
    pin=None,
) -> DataFrame:
    """Near-duplicate leakage across a deterministic train/test split:
    (test ``id_col``, ``n_train_dups``) for every TEST-side document
    whose exact shingle-Jaccard with some TRAIN-side document is
    ``>= threshold``.

    Why it exists: ``sampling.train_test_split`` makes the split
    reproducible, but a hash split is oblivious to content — a test
    document that near-duplicates a train document silently inflates
    eval scores (the cross-split cousin of benchmark decontamination,
    ``contaminated_ids``). This audit names the leaked test docs so a
    pipeline can drop or re-home them before training.

    Shape: ONE shingle + minhash-signature build over the whole corpus
    (the same banded machinery as ``dedup.lsh_bands``); the split
    predicate — the md5 ppm bucket ``train_test_split`` uses, same
    salt semantics — lands on the tiny (id, band, band_sig) rows, so
    candidates come from a band equi-join of the test side against the
    train side (never all pairs, never a corpus self-join), and only
    candidates pay the exact-Jaccard verify. At 100 TB this is the
    standard LSH bucket-join cost plus one band-keyed shuffle —
    content never rides the cross join.

    ``pin`` materializes the shingle frame across its two consumers
    (signature build + the verify's shingle-set aggregate); default
    None = no pinning (see ``operators.pinning``).
    """
    from .dedup import (
        BANDS,
        NUM_HASHES,
        jaccard_verify,
        lsh_bands,
        minhash_signature,
    )
    from .sampling import _BUCKETS, _bucket

    nh = NUM_HASHES if num_hashes is None else num_hashes
    nb = BANDS if bands is None else bands
    thr = int(round(test_fraction * _BUCKETS))

    sh = shingles(docs, id_col, text_col, k=k)
    if pin is not None:
        sh = pin(sh)
    sig = minhash_signature(sh, id_col, nh)
    banded = lsh_bands(sig, id_col, nh, nb).withColumn(
        "__bkt", _bucket(id_col, salt)
    )
    test_b = banded.filter(F.col("__bkt") < thr).select(
        F.col(id_col).alias("id_a"), "band", "band_sig"
    )
    train_b = banded.filter(F.col("__bkt") >= thr).select(
        F.col(id_col).alias("id_b"), "band", "band_sig"
    )
    cand = (
        test_b.join(train_b, ["band", "band_sig"])
        .select("id_a", "id_b")
        .distinct()
    )
    ver = jaccard_verify(cand, sh, id_col).filter(
        F.col("jaccard") >= threshold
    )
    return ver.groupBy(F.col("id_a").alias(id_col)).agg(
        F.count_distinct("id_b").alias("n_train_dups")
    )
