"""Keyword relevance ranking over the documents table: TF counts + BM25.

The reference's InsertIndex job (trace-insertindex-job/src/main/java/org/
example/TraceInsertIndexJob.java) stops at posting lists (term -> doc set);
this module adds the scoring layer a search / retrieval-quality pipeline
puts on top — term frequencies, document frequencies, and BM25 ranking —
as one declarative plan:

- The corpus is scanned ONCE; per-(doc, term) term frequencies come from a
  broadcast cross join against the tiny query-term literal table and a
  codegen ``size(filter(tokens, t -> t = term))`` lambda — no explode of
  every token, no shuffle of the corpus.
- Document frequencies and the (N, avgdl) corpus scalars are tiny
  aggregates (rows = |terms| and 1) that broadcast back; the fact side
  never re-shuffles.
- The final ranking is a single TakeOrderedAndProject (top-k with doc_id
  tie-break), so the full scored set never collects anywhere.

Determinism discipline (registry rules): BM25 uses IEEE +,-,*,/ only.
``idf`` is the log-free RSJ odds ratio (N - df + 0.5) / (df + 0.5) — the
classic BM25 idf without the ln() wrapper — because ln() is libm-dependent
and may differ in the last ulp across engines, while every +,-,*,/ double
op is bit-identical when the expression tree matches. Per-term scores are
floored to integer micro-units BEFORE the per-doc sum, so accumulation
order (Spark partial aggs vs DuckDB sequential) cannot change the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.literal import literal_rows
from .pinning import Pin

K1 = 1.2
B = 0.75


def doc_tokens(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + document length, the BM25 scan-side projection."""
    return docs.withColumn("toks", F.split(F.col(text_col), " ")).withColumn(
        "dl", F.size("toks").cast("bigint")
    )


def term_frequencies(
    docs: DataFrame,
    spark: SparkSession,
    terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-(doc, term) tf over a small query-term set, zero corpus shuffle.

    Emits only rows with tf > 0 (a doc missing every term contributes no
    rows, exactly like a posting-list intersection would).
    """
    toks = doc_tokens(docs, text_col).select(id_col, "toks", "dl")
    term_df = literal_rows(spark, [(t,) for t in terms], ["term"])
    return (
        toks.join(F.broadcast(term_df))
        .withColumn("tf", F.expr("size(filter(toks, x -> x = term))").cast("bigint"))
        .filter(F.col("tf") > 0)
        .select(id_col, "term", "tf", "dl")
    )


def bm25_term_micro(tf_int, dl, df, n_docs, avgdl):
    """One term's BM25 contribution in integer micro-units — the ONE
    expression tree both the inline (``bm25_topk``) and persisted-index
    (``bm25_search_index``) paths score with, so they agree bit-for-bit
    (IEEE +,-,*,/ only; log-free RSJ idf; floor before any summing —
    see the module docstring's determinism discipline)."""
    tf = tf_int.cast("double")
    idf = (n_docs - df + F.lit(0.5)) / (df + F.lit(0.5))
    score = idf * (
        (tf * F.lit(K1 + 1.0))
        / (
            tf
            + F.lit(K1)
            * (F.lit(1.0 - B) + F.lit(B) * (dl.cast("double") / avgdl))
        )
    )
    return F.when(
        tf_int > 0,
        F.floor(score * F.lit(1_000_000.0)).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))


def bm25_topk(
    docs: DataFrame,
    spark: SparkSession,
    terms: list[str],
    k: int = 50,
    id_col: str = "doc_id",
    text_col: str = "text",
    pin: "Pin | None" = None,
) -> DataFrame:
    """Top-k documents by (log-free) BM25 against ``terms``.

    Returns (id, n_terms_hit, score_micro): score in integer micro-units
    (floored per term before summing — order-independent), ranked by
    score desc with id tie-break.

    Column-oriented plan: per-term tf lives in k columns of a single
    projection (the query-term set is small and static, so columns
    beat term rows), the corpus scalars AND every per-term document
    frequency come from ONE aggregate over that projection (1-row
    broadcast back), and scoring + TakeOrderedAndProject reuse the
    same projection. The term-row formulation (broadcast term join)
    evaluated the corpus lineage three times — at 100 TB that is three
    reads of the text column; this shape reads it twice (stats pass +
    scoring pass, the projection's two consumers). Callers for whom
    the scan dominates pass ``pin`` (see ``operators.pinning``) to
    materialize the NARROW (id, dl, k tf-int) projection once — the
    text column is then read and tokenized exactly ONCE and the second
    pass streams ~(16 + 8k) bytes/doc from the pinned blocks.
    ``pinning.lazy_checkpoint`` is fastest but unrecoverable on
    executor loss; ``pinning.disk_persist`` keeps lineage (blocks
    recompute on loss) at the cost of a serialize pass. Default
    ``None`` = no pinning — two full scans, unchanged failure
    semantics. ``spark`` stays in the signature for API stability
    (term_frequencies still uses it).
    """
    def tf_col(t: str):
        # single-param lambda closing over t (a two-param lambda would
        # bind as (element, index) in pyspark's HOF translation)
        return F.size(F.filter(F.col("toks"), lambda x: x == F.lit(t)))

    base = doc_tokens(docs, text_col).select(
        id_col,
        "dl",
        *[tf_col(t).cast("bigint").alias(f"__tf{i}") for i, t in enumerate(terms)],
    )
    if pin is not None:
        base = pin(base)
    stats = base.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("avgdl"),
        *[
            F.sum(F.when(F.col(f"__tf{i}") > 0, 1).otherwise(0))
            .cast("double")
            .alias(f"__df{i}")
            for i in range(len(terms))
        ],
    )

    def term_micro(i: int):
        return bm25_term_micro(
            F.col(f"__tf{i}"), F.col("dl"), F.col(f"__df{i}"),
            F.col("n_docs"), F.col("avgdl"),
        )

    hits = sum(
        (F.col(f"__tf{i}") > 0).cast("bigint") for i in range(len(terms))
    )
    micro = sum(term_micro(i) for i in range(len(terms)))
    return (
        base.join(F.broadcast(stats))
        .select(
            id_col,
            hits.alias("n_terms_hit"),
            micro.alias("score_micro"),
        )
        .filter(F.col("n_terms_hit") > 0)
        .orderBy(F.col("score_micro").desc(), F.col(id_col))
        .limit(k)
    )


def rrf_fuse(
    rankings: list[DataFrame],
    k: int = 10,
    k0: int = 60,
    query_col: str = "query_id",
    id_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked retrieval outputs — the
    standard hybrid-search combiner (lexical BM25 + ANN embedding
    retrieval feed one fused list): score(q, d) = sum over lists that
    returned d of 1 / (k0 + rank). Rank-based, so the input lists'
    incomparable score scales never matter.

    Inputs are (query_col, id_col, rank_col) frames — e.g.
    ``similarity.ivf_topk`` output directly, or ``bm25_topk`` output
    with a literal query id and a rank column. Returns
    (query_id, cand_id, n_lists, rrf_micro, rank) — top-k per query by
    fused score, ties to candidate id.

    Determinism: each contribution is floored to integer nano-units
    BEFORE summing (1e9 / (k0 + rank) is one IEEE division), so
    accumulation order cannot change the fused score — the same
    micro-unit discipline as ``bm25_topk``. Scale: a unionByName of
    top-k lists (tiny relative to any corpus), one groupBy on
    (query, candidate), one per-query window — no corpus access at all.
    """
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    contrib = F.floor(
        F.lit(1_000_000_000.0)
        / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
    ).cast("bigint")
    tagged = [
        r.select(
            F.col(query_col).alias("query_id"),
            F.col(id_col).alias("cand_id"),
            contrib.alias("__c"),
        )
        for r in rankings
    ]
    uni = tagged[0]
    for t in tagged[1:]:
        uni = uni.unionByName(t)
    scored = uni.groupBy("query_id", "cand_id").agg(
        F.count(F.lit(1)).alias("n_lists"), F.sum("__c").alias("rrf_micro")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rrf_micro"), F.asc("cand_id")
    )
    return scored.select("*", F.row_number().over(w).alias("rank")).filter(
        F.col("rank") <= k
    )


def bm25_build_index(
    docs: DataFrame,
    spark: SparkSession,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Build the lexical index ONCE and persist it — the BM25 analogue
    of ``ivf_build_index``'s build-once/search-many split. ``bm25_topk``
    re-reads and re-tokenizes the corpus on every call (right for
    ad-hoc queries); a retrieval deployment serving many query batches
    pays the tokenize+explode+groupBy ONCE here and searches against
    posting lists forever after.

    Writes three parquet datasets under ``path``:
      - ``postings``: (term, id, dl, tf) — clustered by term
        (repartition + sortWithinPartitions), so a search's
        ``term IN (...)`` predicate pushes down to parquet row-group
        min/max + dictionary filters and skips everything but the
        queried terms' lists. Term-partitioned directories would be
        the wrong layout: one directory per distinct token explodes
        the namespace; clustering gives the same skipping without it.
      - ``term_df``: (term, df) per-term document frequency, derived
        from the persisted postings (no second corpus scan).
      - ``stats``: one row (n_docs, avgdl) over ALL docs — including
        docs that produce no postings — matching ``bm25_topk``'s
        corpus scalars exactly.

    Build cost: two corpus scans (the stats aggregate and the postings
    explode — a one-off; the inline operator's ``pin`` discipline is
    deliberately not replicated here because build outputs ARE the
    materialization) plus one postings-sized groupBy for df.
    """
    toks = doc_tokens(docs, text_col).select(id_col, "toks", "dl")
    toks.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avgdl"
        ),
        # exact integer counters alongside the derived scalars, so the
        # streaming append log (streaming.bm25_ingest) can merge stats
        # additively and reproduce avgdl bit-for-bit: bigint sums are
        # order-independent where double partial sums are not
        F.count(F.lit(1)).alias("n_docs_exact"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")
    (
        toks.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .repartition("term")
        .sortWithinPartitions("term", id_col)
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    (
        spark.read.parquet(f"{path}/postings")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
        .write.mode("overwrite")
        .parquet(f"{path}/term_df")
    )


def bm25_search_index(
    spark: SparkSession,
    path: str,
    terms: list[str],
    k: int = 50,
    id_col: str = "doc_id",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 against a persisted index WITHOUT touching the
    corpus: reads the 1-row stats, the queried terms' df rows, and the
    queried terms' posting lists (``term IN`` pushdown over the
    term-clustered postings — search cost is the hit lists' size,
    independent of corpus size). Reproduces ``bm25_topk`` bit-for-bit:
    same scalars, same shared ``bm25_term_micro`` expression, same
    floor-before-sum and (score desc, id) tie-break. ``terms`` must be
    distinct (duplicates would double-count a term; the inline path's
    column-per-term shape has the same contract).

    ``filter_ids`` (a frame carrying ``id_col``) restricts the result
    to an allow-list — filtered lexical search (e.g. only docs past the
    quality gate): a left-semi join on the posting's doc id BEFORE
    scoring, so every query still fills its top-k from allowed docs
    and per-doc scores are unchanged (df / n_docs / avgdl stay the
    index's frozen corpus-wide statistics — the standard pre-filter
    semantics; duplicates in the allow-list are harmless)."""
    stats = spark.read.parquet(f"{path}/stats")
    tdf = spark.read.parquet(f"{path}/term_df").filter(F.col("term").isin(terms))
    postings = spark.read.parquet(f"{path}/postings").filter(
        F.col("term").isin(terms)
    )
    if filter_ids is not None:
        postings = postings.join(
            filter_ids.select(id_col), id_col, "leftsemi"
        )
    return score_postings(postings, tdf, stats, id_col, k)


def score_postings(
    postings: DataFrame,
    tdf: DataFrame,
    stats: DataFrame,
    id_col: str = "doc_id",
    k: int = 50,
) -> DataFrame:
    """The shared BM25 scoring tail over already-restricted posting
    rows (term, id, dl, tf): broadcast the per-term df and the 1-row
    (n_docs, avgdl) scalars, floor each term's micro contribution
    (``bm25_term_micro``), sum per doc, top-k with id tie-break. Both
    the persisted-index search and the streaming-delta search
    (``streaming.bm25_ingest``) end here, so they cannot diverge."""
    hits = (
        postings.join(F.broadcast(tdf), "term")
        .join(F.broadcast(stats.select("n_docs", "avgdl")))
        .select(
            id_col,
            bm25_term_micro(
                F.col("tf"), F.col("dl"), F.col("df"),
                F.col("n_docs"), F.col("avgdl"),
            ).alias("__micro"),
        )
    )
    return (
        hits.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.sum("__micro").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col(id_col))
        .limit(k)
    )


def retrieval_metrics(
    runs: DataFrame,
    qrels: DataFrame,
    k: int = 10,
    query_col: str = "query_id",
    cand_col: str = "cand_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Standard retrieval-quality metrics of a ranked run against a
    relevance set: per-query (and a 'MACRO' average row)
    ``mrr_at_k``, ``recall_at_k``, and binary ``ndcg_at_k`` — the
    evaluation loop a search deployment runs beside ``ann_recall``
    (which grades approximate-vs-exact; this grades ranked-vs-RELEVANT,
    e.g. planted duplicates, clicked documents, labeled qrels).

    ``runs`` is (query, cand, rank) with rank 1 best (every search
    surface here emits exactly that shape); ``qrels`` is (query, cand)
    — binary relevance, the common case for dedup/planted-pair evals.
    Queries present in ``qrels`` but absent from ``runs`` score 0 (a
    retrieval MISS must drag the macro average down, not silently
    shrink the denominator).

    All three metrics are pure join/aggregate over the top-k rows —
    no collects, scales to any eval-set size. MRR and recall are exact
    rationals computed in doubles (hits/k sums are tiny integers);
    NDCG uses the standard 1/log2(1+rank) discount (floats are
    inherent to the metric — this operator is an evaluation surface,
    pytest-gated, not an oracle-replayed query).
    """
    topk = runs.filter(F.col(rank_col) <= k).select(
        query_col, cand_col, rank_col
    )
    rel = qrels.select(query_col, cand_col).distinct()
    hits = topk.join(rel, [query_col, cand_col], "inner")
    discount = 1.0 / F.log2(F.col(rank_col).cast("double") + 1.0)
    per_hit = hits.groupBy(query_col).agg(
        (1.0 / F.min(rank_col).cast("double")).alias("mrr_at_k"),
        F.count(F.lit(1)).alias("__nhits"),
        F.sum(discount).alias("__dcg"),
    )
    n_rel = rel.groupBy(query_col).agg(F.count(F.lit(1)).alias("__nrel"))
    # ideal DCG: the first min(n_rel, k) ranks all relevant
    idcg = F.aggregate(
        F.sequence(F.lit(1), F.least(F.col("__nrel"), F.lit(k))),
        F.lit(0.0),
        lambda acc, r: acc + 1.0 / F.log2(r.cast("double") + 1.0),
    )
    per_query = (
        n_rel.join(per_hit, query_col, "left")
        .select(
            F.col(query_col).cast("string").alias(query_col),
            F.coalesce("mrr_at_k", F.lit(0.0)).alias("mrr_at_k"),
            (
                F.coalesce("__nhits", F.lit(0)).cast("double")
                / F.least(F.col("__nrel"), F.lit(k)).cast("double")
            ).alias("recall_at_k"),
            (F.coalesce("__dcg", F.lit(0.0)) / idcg).alias("ndcg_at_k"),
        )
    )
    macro = per_query.agg(
        F.avg("mrr_at_k").alias("mrr_at_k"),
        F.avg("recall_at_k").alias("recall_at_k"),
        F.avg("ndcg_at_k").alias("ndcg_at_k"),
    ).select(
        F.lit("MACRO").alias(query_col), "mrr_at_k", "recall_at_k", "ndcg_at_k"
    )
    return per_query.unionByName(macro)
