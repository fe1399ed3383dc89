"""Dedup operator semantics on hand-built micro-data (SURVEY §5.2)."""

import hashlib

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row, functions as F

from mapreduce_task_spark.operators.dedup import (
    all_pairs_jaccard,
    exact_dedup_groups,
    jaccard_verify,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
    shingles,
    simhash,
    positioned_words,
)


def _docs(spark, texts):
    return spark.createDataFrame([Row(doc_id=i, text=t) for i, t in enumerate(texts)])


def test_shingles_skip_filtered_tokens(spark):
    # "123" normalizes to empty and is dropped BEFORE the k-gram window,
    # so the shingle bridges across it (a b / b c — not a b 123).
    df = _docs(spark, ["a b 123 c d"])
    got = sorted(r["shingle"] for r in shingles(df, k=3).collect())
    assert got == ["a b c", "b c d"]


def test_shingles_distinct_per_doc(spark):
    df = _docs(spark, ["x y z x y z x y z"])
    got = sorted(r["shingle"] for r in shingles(df, k=3).collect())
    assert got == ["x y z", "y z x", "z x y"]


def test_minhash_identical_docs_same_signature(spark):
    df = _docs(spark, ["the quick brown fox jumps", "the quick brown fox jumps", "something else entirely here now"])
    sig = minhash_signature(shingles(df)).collect()
    by_id = {r["doc_id"]: tuple(r[f"mh{i}"] for i in range(16)) for r in sig}
    assert by_id[0] == by_id[1]
    assert by_id[0] != by_id[2]


def test_lsh_finds_identical_pair_only(spark):
    df = _docs(
        spark,
        [
            "alpha beta gamma delta epsilon zeta",
            "alpha beta gamma delta epsilon zeta",
            "one two three four five six seven",
        ],
    )
    sh = shingles(df)
    pairs = lsh_candidate_pairs(lsh_bands(minhash_signature(sh)))
    got = sorted((r["id_a"], r["id_b"]) for r in pairs.collect())
    assert got == [(0, 1)]
    ver = jaccard_verify(pairs, sh).collect()
    assert len(ver) == 1 and ver[0]["jaccard"] == 1.0


_SHINGLE_SETS = st.dictionaries(
    st.integers(0, 5),
    st.sets(st.sampled_from(["a b c", "b c d", "c d e", "d e f", "x y z"]), min_size=1),
    max_size=6,
)


@settings(max_examples=8, deadline=None)
@given(
    sets=_SHINGLE_SETS,
    pairs=st.sets(
        st.tuples(st.integers(0, 6), st.integers(0, 6)).filter(lambda p: p[0] < p[1]),
        max_size=10,
    ),
)
def test_jaccard_verify_matches_python_set_jaccard(spark, sets, pairs):
    """jaccard_verify over distinct (id, shingle) rows equals the Python
    set ratio. Docs 8 and 9 share no shingle and id 7 has no shingles at
    all: neither pair (8, 9) nor (0, 7) gets a row."""
    sets = {**sets, 8: {"p q r"}, 9: {"s t u"}}
    pairs = pairs | {(8, 9), (0, 7)}
    sh = spark.createDataFrame(
        [(i, x) for i, xs in sets.items() for x in xs], "doc_id bigint, shingle string"
    )
    pdf = spark.createDataFrame(sorted(pairs), "id_a bigint, id_b bigint")
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_verify(pdf, sh).collect()}
    want = {}
    for a, b in pairs:
        sa, sb = sets.get(a, set()), sets.get(b, set())
        if sa & sb:
            want[(a, b)] = len(sa & sb) / len(sa | sb)
    assert got == want


def test_all_pairs_jaccard_values(spark):
    # doc0 shingles {a b c, b c d}; doc1 {a b c}; inter=1, union=2 -> 0.5
    df = _docs(spark, ["a b c d", "a b c"])
    got = all_pairs_jaccard(shingles(df), min_jaccard=0.4).collect()
    assert len(got) == 1
    assert (got[0]["id_a"], got[0]["id_b"], got[0]["jaccard"]) == (0, 1, 0.5)


def test_all_pairs_jaccard_df_cap_drops_hot_shingles(spark):
    # 'x y z' appears in all 4 docs (df=4); with df_max=3 it is dropped
    # everywhere, so the only surviving overlap is doc0/doc1's 'a b c'.
    df = _docs(
        spark,
        ["a b c x y z", "a b c x y z", "x y z q r s", "x y z t u v"],
    )
    sh = shingles(df)
    uncapped = {(r["id_a"], r["id_b"]) for r in all_pairs_jaccard(sh, min_jaccard=0.1).collect()}
    capped = all_pairs_jaccard(sh, min_jaccard=0.1, df_max=3).collect()
    assert (2, 3) in uncapped  # hot shingle linked unrelated docs
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in capped}
    assert set(got) < uncapped and (2, 3) not in got


def test_simhash_identical_docs_match(spark):
    df = _docs(spark, ["spark rules ok", "spark rules ok", "totally different words here"])
    got = {r["doc_id"]: r["simhash"] for r in simhash(positioned_words(df)).collect()}
    assert got[0] == got[1]
    assert got[0] != got[2]
    assert all(0 <= v < (1 << 32) for v in got.values())


def test_exact_dedup_groups(spark):
    df = _docs(spark, ["same text", "same text", "unique text"])
    got = {r["text_md5"]: (r["rep_doc_id"], r["n_copies"]) for r in exact_dedup_groups(df).collect()}
    same_md5 = hashlib.md5(b"same text").hexdigest()
    assert got[same_md5] == (0, 2)
    assert len(got) == 2


def _cc(spark, edges, **kw):
    from mapreduce_task_spark.operators.dedup import connected_components

    df = spark.createDataFrame(
        [{"id_a": a, "id_b": b} for a, b in edges], "id_a bigint, id_b bigint"
    )
    return {r["doc_id"]: r["component"] for r in connected_components(df, **kw).collect()}


def test_connected_components_chain_and_islands(spark):
    # chain 0-1-2-3-4 (diameter 4: needs multiple propagation rounds),
    # a 2-cycle island, and a pair — component = min reachable id
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (7, 8), (8, 7), (10, 11)]
    got = _cc(spark, edges)
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 0, 7: 7, 8: 7, 10: 10, 11: 10}


def test_duplicate_delete_list_keeps_representatives(spark):
    from mapreduce_task_spark.operators.dedup import duplicate_delete_list

    edges = [(0, 1), (1, 2), (5, 6)]
    df = spark.createDataFrame(
        [{"id_a": a, "id_b": b} for a, b in edges], "id_a bigint, id_b bigint"
    )
    dels = sorted(r["doc_id"] for r in duplicate_delete_list(df).collect())
    assert dels == [1, 2, 6]  # 0 and 5 survive as representatives


def _uf_components(edges):
    """Pure-python union-find oracle."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)).filter(lambda e: e[0] != e[1]),
        min_size=1,
        max_size=16,
    )
)
def test_connected_components_matches_union_find(spark, edges):
    assert _cc(spark, edges) == _uf_components(edges)


def test_incremental_exact_dedup_across_ingest_batches(spark):
    from mapreduce_task_spark.operators.dedup import incremental_exact_dedup

    batch1 = _docs(spark, ["alpha", "alpha", "beta"])  # in-batch dup
    fresh1, dig1 = incremental_exact_dedup(batch1)
    assert sorted((r["doc_id"], r["text"]) for r in fresh1.collect()) == [
        (0, "alpha"),
        (2, "beta"),
    ]
    assert dig1.count() == 2

    # batch 2: one doc dup of batch 1, one in-batch dup pair, one new
    batch2 = spark.createDataFrame(
        [Row(doc_id=i + 10, text=t) for i, t in enumerate(["beta", "gamma", "gamma", "delta"])],
        "doc_id bigint, text string",
    )
    fresh2, dig2 = incremental_exact_dedup(batch2, dig1)
    assert sorted((r["doc_id"], r["text"]) for r in fresh2.collect()) == [
        (11, "gamma"),
        (13, "delta"),
    ]
    assert dig2.count() == 4  # alpha, beta, gamma, delta

    # idempotent re-ingest: replaying batch 2 yields nothing new
    fresh3, dig3 = incremental_exact_dedup(batch2, dig2)
    assert fresh3.count() == 0 and dig3.count() == 4


def test_connected_components_warns_on_round_exhaustion(spark):
    import warnings

    # diameter-5 chain cannot reach fixpoint in 1 round
    edges = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5)]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        _cc(spark, edges, max_rounds=1)
    assert any(
        issubclass(w.category, RuntimeWarning) and "max_rounds" in str(w.message)
        for w in caught
    )
    # and a converged run stays silent
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = _cc(spark, edges, max_rounds=25)
    assert not [w for w in caught if "max_rounds" in str(w.message)]
    assert got == {i: 0 for i in range(6)}


class TestIncrementalMinhash:
    def test_first_batch_dedups_within_batch(self, spark, sf_small):
        from mapreduce_task_spark.operators.dedup import (
            incremental_minhash_dedup,
        )
        from mapreduce_task_spark.sources.tables import load_table

        docs = load_table(spark, sf_small, "documents")
        fresh, sigs = incremental_minhash_dedup(docs)
        n_fresh, n_docs = fresh.count(), docs.count()
        assert 0 < n_fresh < n_docs  # fixture contains near-dups
        assert sigs.count() == n_fresh  # one signature per kept doc

    def test_replaying_same_batch_yields_nothing_new(self, spark, sf_small):
        from mapreduce_task_spark.operators.dedup import (
            incremental_minhash_dedup,
        )
        from mapreduce_task_spark.sources.tables import load_table

        docs = load_table(spark, sf_small, "documents")
        fresh1, sigs1 = incremental_minhash_dedup(docs)
        sigs1 = sigs1.localCheckpoint()
        fresh2, sigs2 = incremental_minhash_dedup(docs, known_sigs=sigs1)
        # an already-ingested batch: every within-batch survivor has an
        # IDENTICAL historical signature (agreement 1.0) -> zero fresh
        assert fresh2.count() == 0
        assert sigs2.count() == sigs1.count()

    def test_genuinely_new_docs_survive(self, spark, sf_small):
        from pyspark.sql import functions as F

        from mapreduce_task_spark.operators.dedup import (
            incremental_minhash_dedup,
        )
        from mapreduce_task_spark.sources.tables import load_table

        docs = load_table(spark, sf_small, "documents")
        first = docs.filter(F.col("doc_id") < 250)
        fresh1, sigs1 = incremental_minhash_dedup(first)
        sigs1 = sigs1.localCheckpoint()
        # second batch: disjoint ids with UNRELATED text (reverse the
        # token stream and tag each token -> near-zero shingle overlap)
        second = docs.filter(F.col("doc_id") >= 250).withColumn(
            "text",
            F.concat_ws(
                " ",
                F.transform(
                    F.reverse(F.split("text", " ")),
                    lambda t: F.concat(t, F.lit("zq")),
                ),
            ),
        )
        fresh2, sigs2 = incremental_minhash_dedup(second, known_sigs=sigs1)
        n2 = fresh2.count()
        # cross-batch stage must not flag any of the unrelated docs:
        # survivors equal the batch's own within-batch survivor count
        solo, _ = incremental_minhash_dedup(second)
        assert n2 == solo.count() > 0
        assert sigs2.count() == sigs1.count() + n2


def test_dedup_paragraphs_keeps_first_occurrence_only(spark):
    """Every distinct paragraph survives exactly once — in its smallest
    (doc_id, position) occurrence; documents reassemble in original
    order; an all-duplicate document survives with empty text."""
    from mapreduce_task_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta\n\nshared para\n\ngamma"),
            (2, "shared para\n\ndelta"),          # shared para cut (doc 1 pos 1 wins)
            (3, "shared para"),                    # all-duplicate -> empty
            (4, "epsilon\n\nepsilon"),             # within-doc dup: first pos kept
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(docs).collect()}
    assert out[1] == "alpha beta\n\nshared para\n\ngamma"
    assert out[2] == "delta"
    assert out[3] == ""
    assert out[4] == "epsilon"
    # corpus-wide: each distinct paragraph text appears exactly once
    all_paras = [p for t in out.values() if t for p in t.split("\n\n")]
    assert len(all_paras) == len(set(all_paras))


def test_dedup_paragraphs_whitespace_only_paragraphs_dropped(spark):
    from mapreduce_task_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "a\n\n   \n\nb"), (2, "   ")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r["text"] for r in dedup_paragraphs(docs).collect()}
    assert out[1] == "a\n\nb" and out[2] == ""


def test_quality_delete_list_keeps_best_scored_member(spark):
    """Per component the argmax-score member survives (ties to smallest
    id); min-id is NOT the criterion — that's duplicate_delete_list."""
    from mapreduce_task_spark.operators.dedup import (
        duplicate_delete_list,
        quality_delete_list,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    scores = spark.createDataFrame(
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.4), (11, 0.4)],
        ["doc_id", "score"],
    )
    deleted = {
        r["doc_id"] for r in quality_delete_list(pairs, scores).collect()
    }
    # component {1,2,3}: keep 2 (best score); component {10,11}: tie -> keep 10
    assert deleted == {1, 3, 11}
    # contrast with the min-id rule
    minid = {r["doc_id"] for r in duplicate_delete_list(pairs).collect()}
    assert minid == {2, 3, 11}


def test_null_text_is_never_a_duplicate(spark):
    """Extraction failures (NULL text) are not content: they must not
    dedupe against each other in either the batch or incremental exact
    path, and the minhash path gives them no signature at all (no
    shingles -> never a HEAD candidate). Empty string IS content and
    still dedupes."""
    from mapreduce_task_spark.operators.dedup import (
        exact_dedup_groups,
        incremental_exact_dedup,
        minhash_signature,
        shingles,
    )

    rows = [(1, "same text"), (2, None), (3, None), (4, "same text"), (5, ""), (6, "")]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    groups = exact_dedup_groups(df).collect()
    null_groups = [r for r in groups if r["text_md5"] is None]
    assert len(null_groups) == 2  # one singleton per NULL-text doc
    assert all(r["n_copies"] == 1 for r in null_groups)
    by_rep = {r["rep_doc_id"]: r["n_copies"] for r in groups}
    assert by_rep[1] == 2 and by_rep[5] == 2  # real + empty content dedupe

    fresh, digests = incremental_exact_dedup(df)
    kept = {r["doc_id"] for r in fresh.collect()}
    assert kept == {1, 2, 3, 5}  # both NULL docs kept, dupes 4/6 dropped
    assert all(r["text_md5"] is not None for r in digests.collect())
    # a second ingest of more NULL docs is also untouched
    batch2 = spark.createDataFrame([(7, None), (8, "same text")], "doc_id int, text string")
    fresh2, _ = incremental_exact_dedup(batch2, digests)
    assert {r["doc_id"] for r in fresh2.collect()} == {7}

    sigs = minhash_signature(shingles(df))
    assert {r["doc_id"] for r in sigs.collect()} <= {1, 4}  # only real text signs


def test_exact_dedup_first_bounds_lsh_bucket_skew(spark):
    """Pin the pipeline-order scale claim (SCALE.md): a mass-duplicated
    document (N identical copies) puts all N ids into ONE LSH bucket —
    a quadratic N^2/2 candidate-pair bomb — unless exact dedup runs
    FIRST. After exact dedup the surviving corpus has bounded bucket
    sizes, so in-bucket pair generation stays linear-ish. Bucket sizes
    are asserted directly; the quadratic pair set is never
    materialized."""
    from mapreduce_task_spark.operators.dedup import (
        exact_dedup_groups,
        lsh_bands,
        minhash_signature,
        shingles,
    )

    n_copies = 400
    dup_text = "the same boilerplate page scraped many times over and over"
    # genuinely distinct docs: all-alphabetic words (the [a-z]
    # normalizer strips digits) with no shared shingles between docs
    rows = [(i, dup_text) for i in range(n_copies)] + [
        (
            1000 + i,
            " ".join(
                chr(97 + i) * 2 + chr(97 + j) * 2 for j in range(12)
            ),
        )
        for i in range(20)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    def max_bucket(frame):
        return (
            lsh_bands(minhash_signature(shingles(frame)))
            .groupBy("band", "band_sig")
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )

    # naive order: the duplicated doc floods one bucket per band
    assert max_bucket(df) >= n_copies

    # documented order: exact dedup first, LSH sees one representative
    reps = exact_dedup_groups(df).select(
        F.col("rep_doc_id").alias("doc_id")
    )
    survivors = df.join(reps, "doc_id")
    assert survivors.count() == 21
    assert max_bucket(survivors) <= 2  # no mass bucket survives


def test_connected_components_fused_init_converges_in_one_loop_round(spark):
    """The r13 fused round 0 (labels init = min(self, neighbors) in one
    edges scan) makes any graph whose every vertex is ADJACENT to its
    component minimum a fixpoint BEFORE the loop: max_rounds=1 must
    converge silently with exact components — under the former identity
    init these graphs needed a second loop round and max_rounds=1
    warned. A pair, a triangle, and a min-centered star cover the
    shapes."""
    import warnings

    edges = [(5, 2), (1, 3), (3, 4), (1, 4), (10, 11), (10, 12), (10, 13)]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        got = _cc(spark, edges, max_rounds=1)
    assert not [w for w in caught if "max_rounds" in str(w.message)]
    assert got == {
        2: 2, 5: 2,
        1: 1, 3: 1, 4: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
    }
