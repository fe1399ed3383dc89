"""Dedup + similarity-search queries (BASELINE.json north-star; SURVEY §7.2 v5).

Each query pairs the Spark operator pipeline with a DuckDB oracle that
replays the identical md5-derived hashing and integer-quantized vector
arithmetic, so even double-typed outputs (jaccard, cosine) are
bitwise-reproducible (see operators.dedup / operators.similarity for
the determinism argument).

Thresholds are calibrated to the synthetic testdata: documents carries
~25 planted near-dup pairs at shingle-Jaccard >= 0.5; embeddings has
no planted near-dups (max pairwise cos ~= 0.51), so the cosine-pair
query uses a demonstration threshold of 0.35.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.hashing import affine_minhash_duckdb_sql, hash64_duckdb_sql
from ..operators.dedup import (
    BANDS,
    NUM_HASHES,
    all_pairs_jaccard,
    exact_dedup_groups,
    jaccard_verify,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
    shingles,
    simhash,
)
from ..operators.pinning import lazy_checkpoint, lazy_checkpoint_tiny
from ..operators.similarity import (
    blocked_all_pairs_cosine,
    brute_force_topk,
    BY_COS,
    cand_side,
    query_side,
    rank_topk,
    scored_cosine,
    sq_dist_sql,
    srp_buckets,
    with_quantized,
)
from ..registry import query, t

# ---------------------------------------------------------------------------
# shared DuckDB CTE fragments

# Tokenize + normalize with original ordinals (mirrors operators.dedup
# .positioned_words), then 3-gram shingles via lead() (mirrors .shingles).
_WORDS_CTE = r"""
raw AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS toks FROM documents),
tok0 AS (SELECT doc_id, unnest(toks) AS rawtok, unnest(range(len(toks))) AS ord FROM raw),
tok AS (SELECT doc_id, ord, regexp_replace(lower(rawtok), '[^a-z]', '', 'g') AS word FROM tok0),
wf AS (SELECT doc_id, ord, word FROM tok WHERE length(word) > 0)
"""

_SHINGLE_CTE = (
    _WORDS_CTE
    + """,
led AS (SELECT doc_id, word,
        lead(word, 1) OVER (PARTITION BY doc_id ORDER BY ord) AS w1,
        lead(word, 2) OVER (PARTITION BY doc_id ORDER BY ord) AS w2
        FROM wf),
sh AS (SELECT DISTINCT doc_id, word || ' ' || w1 || ' ' || w2 AS shingle
       FROM led WHERE w2 IS NOT NULL)
"""
)

_MH_EXPRS = ",\n  ".join(
    f"min({h}) AS mh{s}"
    for s, h in enumerate(affine_minhash_duckdb_sql("shingle", NUM_HASHES))
)
_SIG_CTE = _SHINGLE_CTE + f""",
sig AS (SELECT doc_id, {_MH_EXPRS} FROM sh GROUP BY doc_id)
"""

_ROWS_PER_BAND = NUM_HASHES // BANDS


def _band_selects_from(src: str) -> str:
    """The BANDS-way union of banded-signature selects over a named
    signature CTE — reused by the full-corpus LSH chain and the
    incremental-ingest replay (band buckets derive from the signature
    table on the fly each ingest, never from corpus text)."""
    return "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {sig} AS band_sig FROM {src}".format(
            b=b,
            src=src,
            sig="||'-'||".join(
                f"CAST(mh{b * _ROWS_PER_BAND + r} AS VARCHAR)"
                for r in range(_ROWS_PER_BAND)
            ),
        )
        for b in range(BANDS)
    )


_BAND_SELECTS = _band_selects_from("sig")

# Quantized embeddings: exact integer-valued doubles (see operators.similarity).
_QVEC_CTE = """
n AS (SELECT vec_id,
        list_transform(embedding, x -> floor(CAST(x AS DOUBLE) * 1000000)) AS qv
      FROM embeddings),
nv AS (SELECT vec_id, qv, list_dot_product(qv, qv) AS nq FROM n)
"""

# ---------------------------------------------------------------------------
# persist bookkeeping: each query build releases the previous build's
# cached intermediates (queries run sequentially in the driver/bench;
# a leaked cache starves later pandas-UDF stages of executor memory).
#
# SCOPE: this module-global assumes the driver/bench contract of
# strictly sequential query execution within one SparkSession. Callers
# composing these builders concurrently should persist/unpersist at the
# call site instead (the operators themselves never persist).

_LIVE_PERSISTS: list[DataFrame] = []


def release_persists() -> None:
    """Eagerly release all cached intermediates from the last build.

    The implicit release-on-next-build left the PREVIOUS query's cache
    resident while a non-persisting query (e.g. the GEMM stage of
    dedup_embedding_cosine) ran — starving its executors of storage
    memory (the round-2 bench regression). bench.py calls this after
    every query action; library users composing builders sequentially
    should too.
    """
    for d in _LIVE_PERSISTS:
        try:
            d.unpersist()
        except Exception:
            pass
    _LIVE_PERSISTS.clear()


def _persist(df: DataFrame) -> DataFrame:
    release_persists()
    _LIVE_PERSISTS.append(df.persist())
    return df


# ---------------------------------------------------------------------------
# dedup queries


_INGEST_SPLIT = 250  # doc_id < 250 = "history", the rest = the new batch


@query(
    "dedup_exact",
    f"""
WITH hist AS (SELECT DISTINCT md5(text) AS text_md5 FROM documents
              WHERE doc_id < {_INGEST_SPLIT} AND text IS NOT NULL),
batch AS (SELECT doc_id, md5(text) AS text_md5 FROM documents
          WHERE doc_id >= {_INGEST_SPLIT}),
-- NULL text is not content (operators/dedup.py _null_safe_digest_key):
-- each NULL digest gets a per-row key ('null:' || id — ':' is outside
-- the md5 hex alphabet, so no collision with a real digest)
inb AS (SELECT doc_id, text_md5
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY coalesce(text_md5,
                                        'null:' || CAST(doc_id AS VARCHAR))
                  ORDER BY doc_id) AS rn
              FROM batch)
        WHERE rn = 1),
fresh AS (SELECT doc_id, text_md5 FROM inb
          WHERE text_md5 IS NULL
             OR text_md5 NOT IN (SELECT text_md5 FROM hist))
SELECT 'groups' AS leg, min(md5(text)) AS text_md5,
       min(doc_id) AS rep_doc_id,
       count(*) AS n_copies, CAST(NULL AS BIGINT) AS doc_id
FROM documents
GROUP BY coalesce(md5(text), 'null:' || CAST(doc_id AS VARCHAR))
UNION ALL
SELECT 'incremental' AS leg, text_md5, CAST(NULL AS BIGINT) AS rep_doc_id,
       CAST(NULL AS BIGINT) AS n_copies, doc_id
FROM fresh
""",
    doc="Exact dedup as a two-leg tagged union (r6: the r3 pytest-only "
    "incremental ingest path joins the original decision table in the "
    "same slot). groups leg: content-hash groupBy, min-id "
    "representative — the whole-corpus decision table. incremental "
    f"leg: documents with doc_id < {_INGEST_SPLIT} stand in as the "
    "already-ingested corpus (known-digest table), the rest as this "
    "week's crawl; survivors are batch docs deduped within the batch "
    "(min-id kept) AND absent from the digest table — one digest "
    "groupBy + one anti-join on 16-byte keys, the append-only shape "
    "that never rescans historical text.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_exact_dedup

    docs = t(spark, sf_dir, "documents")
    nul = F.lit(None).cast("long")
    groups_leg = exact_dedup_groups(docs).select(
        F.lit("groups").alias("leg"),
        "text_md5",
        F.col("rep_doc_id").cast("long"),
        F.col("n_copies").cast("long"),
        nul.alias("doc_id"),
    )
    hist = (
        docs.filter(F.col("doc_id") < _INGEST_SPLIT)
        .select(F.md5(F.col("text")).alias("text_md5"))
        # content digests only — NULL text never enters the digest
        # table (same contract as incremental_exact_dedup's output)
        .where(F.col("text_md5").isNotNull())
        .distinct()
    )
    batch = docs.filter(F.col("doc_id") >= _INGEST_SPLIT)
    fresh, _digests = incremental_exact_dedup(batch, hist)
    inc_leg = fresh.select(
        F.lit("incremental").alias("leg"),
        F.md5(F.col("text")).alias("text_md5"),
        nul.alias("rep_doc_id"),
        nul.alias("n_copies"),
        F.col("doc_id").cast("long"),
    )
    return groups_leg.unionByName(inc_leg)


_SIMHASH_BITS = 32
_VOTE_EXPRS = ",\n  ".join(
    f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
    for i in range(_SIMHASH_BITS)
)
_BIT_SUM = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS)
)

_MH_COLS = ", ".join(f"mh{i}" for i in range(NUM_HASHES))
_MH_NULLS = ", ".join(f"CAST(NULL AS BIGINT) AS mh{i}" for i in range(NUM_HASHES))


@query(
    "dedup_signatures",
    f"""
WITH {_SIG_CTE},
th AS (SELECT doc_id, {hash64_duckdb_sql('word')} AS h FROM wf),
votes AS (SELECT doc_id, {_VOTE_EXPRS} FROM th GROUP BY doc_id)
SELECT 'minhash' AS leg, doc_id, {_MH_COLS}, CAST(NULL AS BIGINT) AS simhash,
       CAST(NULL AS BIGINT) AS fp
FROM sig
UNION ALL
SELECT 'simhash' AS leg, doc_id, {_MH_NULLS},
       CAST({_BIT_SUM} AS BIGINT) AS simhash, CAST(NULL AS BIGINT) AS fp
FROM votes
UNION ALL
SELECT DISTINCT 'fingerprint' AS leg, doc_id, {_MH_NULLS},
       CAST(NULL AS BIGINT) AS simhash, {hash64_duckdb_sql('shingle')} AS fp
FROM sh WHERE {hash64_duckdb_sql('shingle')} % 8 = 0
""",
    doc="Per-document content signatures as a three-leg tagged union "
    "(r6: merges the former dedup_minhash / dedup_simhash rows, then "
    "absorbs doc_fingerprint — all three derive from the same "
    f"tokenized scan). minhash leg: {NUM_HASHES} md5-seeded affine "
    "hashes minimized over 3-gram shingles (the LSH banding input). "
    f"simhash leg: {_SIMHASH_BITS}-bit Charikar sign-of-vote-sums "
    "fingerprint over normalized words (Hamming near-dup blocking). "
    "fingerprint leg: mod-8 winnowing-style sampled shingle hashes "
    "(containment detection) — multiple rows per doc by design. The "
    "oracle replays the identical hash families bit-for-bit.",
)
def q_dedup_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import words
    from ..operators.textstats import fingerprints

    docs = t(spark, sf_dir, "documents")
    shing = shingles(docs)
    nul = F.lit(None).cast("long")
    mh = minhash_signature(shing).select(
        F.lit("minhash").alias("leg"),
        "doc_id",
        *[F.col(f"mh{i}").cast("long") for i in range(NUM_HASHES)],
        nul.alias("simhash"),
        nul.alias("fp"),
    )
    sh = simhash(words(docs, keep=("doc_id",)), bits=_SIMHASH_BITS).select(
        F.lit("simhash").alias("leg"),
        "doc_id",
        *[nul.alias(f"mh{i}") for i in range(NUM_HASHES)],
        F.col("simhash").cast("long"),
        nul.alias("fp"),
    )
    fps = fingerprints(shing, mod=8).select(
        F.lit("fingerprint").alias("leg"),
        "doc_id",
        *[nul.alias(f"mh{i}") for i in range(NUM_HASHES)],
        nul.alias("simhash"),
        F.col("fp").cast("long"),
    )
    return mh.unionByName(sh).unionByName(fps)


# LSH candidate pairs verified at exact Jaccard >= 0.5, as a reusable
# CTE chain ending in ``pairs`` (shared by dedup_minhash_lsh and the
# quality_delete_list component replay).
_LSH_PAIRS_CTE = f"""{_SIG_CTE},
bands AS ({_BAND_SELECTS}),
cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a JOIN bands b
           ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
inter AS (SELECT c.id_a, c.id_b, count(*) AS inter
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.id_a
          JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
          GROUP BY c.id_a, c.id_b),
pairs AS (SELECT i.id_a, i.id_b,
       CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) >= 0.5)"""


_MATCH_SUM = " + ".join(
    f"(CASE WHEN n.mh{i} = o.mh{i} THEN 1 ELSE 0 END)"
    for i in range(NUM_HASHES)
)

# Incremental-ingest replay (operators/dedup.py:incremental_minhash_dedup):
# history = doc_id < split (its signature table is the ONLY persisted
# state), batch = the rest. Stage 1: full-fidelity LSH within the batch
# (bands/candidates/exact Jaccard over batch shingles), drop each
# verified pair's id_b. Stage 2: surviving batch bands equi-join the
# historical bands; cross candidates verify by signature agreement
# (matching-minhash fraction >= threshold). Survivors = fresh docs.
_INC_LSH_CTES = f"""
sigh AS (SELECT * FROM sig WHERE doc_id < {{split}}),
sigb AS (SELECT * FROM sig WHERE doc_id >= {{split}}),
shb AS (SELECT * FROM sh WHERE doc_id >= {{split}}),
bandsb AS ({_band_selects_from('sigb')}),
candb AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bandsb a JOIN bandsb b
            ON a.band = b.band AND a.band_sig = b.band_sig
               AND a.doc_id < b.doc_id),
sizesb AS (SELECT doc_id, count(*) AS n FROM shb GROUP BY doc_id),
interb AS (SELECT c.id_a, c.id_b, count(*) AS inter
           FROM candb c
           JOIN shb sa ON sa.doc_id = c.id_a
           JOIN shb sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
           GROUP BY c.id_a, c.id_b),
delsb AS (SELECT DISTINCT i.id_b AS doc_id
          FROM interb i
          JOIN sizesb na ON na.doc_id = i.id_a
          JOIN sizesb nb ON nb.doc_id = i.id_b
          WHERE CAST(i.inter AS DOUBLE)
                / CAST(na.n + nb.n - i.inter AS DOUBLE) >= 0.5),
keptb AS (SELECT doc_id FROM documents WHERE doc_id >= {{split}}
          AND doc_id NOT IN (SELECT doc_id FROM delsb)),
keptsig AS (SELECT sigb.* FROM sigb JOIN keptb USING (doc_id)),
nbnd AS ({_band_selects_from('keptsig')}),
kbnd AS ({_band_selects_from('sigh')}),
crossc AS (SELECT DISTINCT n.doc_id AS nid, k.doc_id AS oid
           FROM nbnd n JOIN kbnd k
             ON n.band = k.band AND n.band_sig = k.band_sig),
crossdel AS (SELECT DISTINCT c.nid AS doc_id
             FROM crossc c
             JOIN keptsig n ON n.doc_id = c.nid
             JOIN sigh o ON o.doc_id = c.oid
             WHERE CAST({_MATCH_SUM} AS DOUBLE) / {NUM_HASHES}.0 >= 0.5),
freshlsh AS (SELECT doc_id FROM keptb
             WHERE doc_id NOT IN (SELECT doc_id FROM crossdel))"""


@query(
    "dedup_minhash_lsh",
    f"""
WITH {_LSH_PAIRS_CTE},
{_INC_LSH_CTES.format(split=_INGEST_SPLIT)}
SELECT 'pairs' AS leg, id_a, id_b, jaccard, CAST(NULL AS BIGINT) AS doc_id
FROM pairs
UNION ALL
SELECT 'incremental' AS leg, CAST(NULL AS BIGINT) AS id_a,
       CAST(NULL AS BIGINT) AS id_b, CAST(NULL AS DOUBLE) AS jaccard, doc_id
FROM freshlsh
""",
    doc=f"MinHash-LSH near-dup as a two-leg tagged union (r6: the r3 "
    "pytest-only incremental near-dup ingest joins the pair table in "
    f"the same slot). pairs leg: {BANDS} bands x {_ROWS_PER_BAND} rows "
    "bucket join over the full corpus, exact-Jaccard verification at "
    f">= 0.5. incremental leg: documents with doc_id < {_INGEST_SPLIT} "
    "stand in as the already-ingested corpus — its minhash SIGNATURE "
    "table (tens of bytes/doc) is the only persisted state — and the "
    "rest as the new crawl: full-fidelity LSH within the batch drops "
    "verified id_b's, then surviving batch bands equi-join the "
    "historical bands and cross candidates verify by signature "
    "agreement (matching-minhash fraction >= 0.5, the unbiased "
    "Jaccard estimator — historical shingles are exactly what the "
    "ingest contract refuses to rescan). Output: fresh surviving doc "
    "ids.",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import incremental_minhash_dedup

    docs = t(spark, sf_dir, "documents")
    # persist: the shingle set feeds the signature pipeline AND the
    # per-document shingle-set aggregate inside jaccard_verify; at
    # cluster scale this would be a DISK_ONLY persist or a checkpoint.
    sh = _persist(shingles(docs))
    # ONE signature aggregation over the corpus; every later consumer
    # (pairs-leg bands, the historical table stand-in, the batch side
    # of the ingest) is a doc_id SLICE of it — a signature is a per-doc
    # aggregate, so filter-after equals filter-before, bit-for-bit.
    # Pre-r9 this row aggregated signatures three times.
    sig_all = lazy_checkpoint(minhash_signature(sh))
    cand = lsh_candidate_pairs(lsh_bands(sig_all))
    nul = F.lit(None).cast("long")
    pairs_leg = (
        jaccard_verify(cand, sh)
        .filter(F.col("jaccard") >= 0.5)
        .select(
            F.lit("pairs").alias("leg"),
            F.col("id_a").cast("long"),
            F.col("id_b").cast("long"),
            "jaccard",
            nul.alias("doc_id"),
        )
    )
    # both ingest sides derive from the ALREADY-pinned frames: neither
    # re-tokenizes, re-shingles, or re-aggregates a single document
    # (production reads the signature table from parquet).
    hist_sigs = sig_all.filter(F.col("doc_id") < _INGEST_SPLIT)
    batch = docs.filter(F.col("doc_id") >= _INGEST_SPLIT)
    fresh, _sigs = incremental_minhash_dedup(
        batch,
        hist_sigs,
        batch_shingles=sh.filter(F.col("doc_id") >= _INGEST_SPLIT),
        batch_sigs=sig_all.filter(F.col("doc_id") >= _INGEST_SPLIT),
        pin=lazy_checkpoint,
    )
    inc_leg = fresh.select(
        F.lit("incremental").alias("leg"),
        nul.alias("id_a"),
        nul.alias("id_b"),
        F.lit(None).cast("double").alias("jaccard"),
        F.col("doc_id").cast("long"),
    )
    return pairs_leg.unionByName(inc_leg)


_NGRAM_DF_MAX = 16


@query(
    "dedup_ngram_jaccard",
    f"""
WITH {_SHINGLE_CTE},
keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= {_NGRAM_DF_MAX}),
shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY doc_id),
inter AS (SELECT sa.doc_id AS id_a, sb.doc_id AS id_b, count(*) AS inter
          FROM shf sa JOIN shf sb ON sa.shingle = sb.shingle AND sa.doc_id < sb.doc_id
          GROUP BY sa.doc_id, sb.doc_id)
SELECT i.id_a, i.id_b,
       CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) AS jaccard
FROM inter i
JOIN sizes na ON na.doc_id = i.id_a
JOIN sizes nb ON nb.doc_id = i.id_b
WHERE CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) >= 0.5
""",
    doc="Exhaustive 3-gram Jaccard near-dup (shingle equi-join, >= 0.5) with "
    f"the document-frequency tail cut active (df_max={_NGRAM_DF_MAX}): a "
    "shingle in d docs fans out d^2 pair rows, so boilerplate n-grams are "
    "dropped from both the join and the per-doc set sizes — bounded fan-out "
    "at scale, and the oracle applies the identical cut.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _persist(shingles(t(spark, sf_dir, "documents")))
    return all_pairs_jaccard(sh, min_jaccard=0.5, df_max=_NGRAM_DF_MAX)


@query(
    "dedup_embedding_cosine",
    f"""
WITH {_QVEC_CTE}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.qv, b.qv) / (sqrt(a.nq) * sqrt(b.nq)) AS cos
FROM nv a JOIN nv b ON a.vec_id < b.vec_id
WHERE list_dot_product(a.qv, b.qv) / (sqrt(a.nq) * sqrt(b.nq)) >= 0.35
""",
    doc="Embedding-cosine near-dup pairs (integer-quantized exact cosine, "
    "demo threshold 0.35 — the synthetic embeddings have no planted dups).",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    return blocked_all_pairs_cosine(t(spark, sf_dir, "embeddings"), threshold=0.35)


# ---------------------------------------------------------------------------
# similarity search


_TOPK_K = 5
_N_QUERIES = 10
_EMB_DIM = 64  # testdata embedding dimensionality (oracle hardcodes range(64))
_SQ_REFINE = 3  # sq leg keeps a 3*k shortlist, then exact-reranks

# SQ8 oracle chain: replay sq_fit (per-dim min/max over the corpus),
# sq_encode (clamped integer floor-div to [0,255]), _sq_decoded (affine
# floor reconstruction), the asymmetric approx ranking (exact query grid
# vector vs decoded candidates), and the pq._refine_exact rerank — every
# stage integer-exact, so the driver hash gates the whole SQ8 path.
_SQ_CTES = f"""
sqcomp AS (SELECT unnest(qv) AS val, unnest(range(len(qv))) AS idx FROM nv),
sqdim AS (SELECT idx, min(val) AS mn, max(val) AS mx FROM sqcomp GROUP BY idx),
sqb AS (SELECT list(mn ORDER BY idx) AS minq, list(mx ORDER BY idx) AS maxq FROM sqdim),
sqenc AS (SELECT vec_id,
          list_transform(range({_EMB_DIM}), i ->
              CASE WHEN b.maxq[i+1] - b.minq[i+1] > 0
                   THEN least(floor((greatest(qv[i+1] - b.minq[i+1], 0) * 255)
                              / (b.maxq[i+1] - b.minq[i+1])), 255)
                   ELSE 0 END) AS codes
          FROM nv CROSS JOIN sqb b),
sqdec AS (SELECT vec_id,
          list_transform(range({_EMB_DIM}), i ->
              b.minq[i+1] + floor((e.codes[i+1] * (b.maxq[i+1] - b.minq[i+1])) / 255)) AS dv
          FROM sqenc e CROSS JOIN sqb b),
sqscored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
             CAST(q.nq + list_dot_product(c.dv, c.dv)
                  - 2 * list_dot_product(q.qv, c.dv) AS BIGINT) AS approx_d
             FROM nv q JOIN sqdec c ON c.vec_id != q.vec_id
             WHERE q.vec_id < {_N_QUERIES}),
sqshort AS (SELECT query_id, cand_id, approx_d
            FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                      ORDER BY approx_d ASC, cand_id) AS rn FROM sqscored) s
            WHERE rn <= {_SQ_REFINE * _TOPK_K}),
sqexact AS (SELECT s.query_id, s.cand_id, s.approx_d,
            CAST(q.nq + c.nq - 2 * list_dot_product(q.qv, c.qv) AS BIGINT) AS exact_d
            FROM sqshort s
            JOIN nv q ON q.vec_id = s.query_id
            JOIN nv c ON c.vec_id = s.cand_id)
"""


@query(
    "similarity_topk",
    f"""
WITH {_QVEC_CTE},
scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  list_dot_product(q.qv, c.qv) / (sqrt(q.nq) * sqrt(c.nq)) AS cos
           FROM nv q JOIN nv c ON c.vec_id != q.vec_id
           WHERE q.vec_id < {_N_QUERIES}),
un AS (SELECT vec_id,
              list_transform(qv, v -> floor(v * 1000000 / sqrt(nq))) AS uqv
       FROM nv),
uv AS (SELECT vec_id, uqv, list_dot_product(uqv, uqv) AS unq FROM un),
uscored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                   CAST(q.unq + c.unq
                        - 2 * list_dot_product(q.uqv, c.uqv) AS BIGINT) AS d
            FROM uv q JOIN uv c ON c.vec_id != q.vec_id
            WHERE q.vec_id < {_N_QUERIES}),{_SQ_CTES}
SELECT 'cosine' AS leg, query_id, cand_id, cos, CAST(NULL AS BIGINT) AS d,
       CAST(NULL AS BIGINT) AS approx_d, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
      FROM scored) r
WHERE rank <= {_TOPK_K}
UNION ALL
SELECT 'unitgrid' AS leg, query_id, cand_id, CAST(NULL AS DOUBLE) AS cos, d,
       CAST(NULL AS BIGINT) AS approx_d, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d ASC, cand_id) AS rank
      FROM uscored) r
WHERE rank <= {_TOPK_K}
UNION ALL
SELECT 'sq' AS leg, query_id, cand_id, CAST(NULL AS DOUBLE) AS cos,
       exact_d AS d, approx_d, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY exact_d ASC, cand_id) AS rank
      FROM sqexact) r
WHERE rank <= {_TOPK_K}
""",
    doc=f"Brute-force similarity top-{_TOPK_K} for {_N_QUERIES} query "
    "vectors as a three-leg tagged union. cosine leg: broadcast queries x "
    "full scan, exact quantized arithmetic. unitgrid leg (r11): the "
    "same top-k by ASCENDING exact int64 squared L2 over UNIT-GRID "
    "normalized vectors (floor(q*1e6/sqrt(sum q^2)) — "
    "with_quantized(metric='cosine'), the normalization the cosine "
    "IVF-PQ stack builds on); the oracle replays the normalization and "
    "the L2 ranking bit-for-bit, driver-verifying the normalize-then-L2 "
    "equivalence path end to end (rank agreement with the cosine leg up "
    f"to the 1e-6 grid is pinned in tests/test_pq.py). sq leg (r12): the "
    f"full SQ8 scalar-quantization path at refine={_SQ_REFINE} — the "
    "oracle replays fit (per-dim min/max), the clamped floor-div encode, "
    "the affine floor decode, the asymmetric approx ranking, AND the "
    "shared pq._refine_exact rerank (operators/sq.py), so both approx_d "
    "and exact_d are hash-gated end to end.",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sq import sq_topk

    emb = t(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < _N_QUERIES)
    cos_leg = brute_force_topk(emb, qids, k=_TOPK_K).select(
        F.lit("cosine").alias("leg"),
        "query_id",
        "cand_id",
        "cos",
        F.lit(None).cast("bigint").alias("d"),
        F.lit(None).cast("bigint").alias("approx_d"),
        F.col("rank").cast("int").alias("rank"),
    )
    qd = with_quantized(emb, metric="cosine").select("vec_id", "qv", "nq")
    q = F.broadcast(query_side(qd.join(qids, "vec_id"), "vec_id", ()))
    c = cand_side(qd, "vec_id", ())
    dcol = F.expr(f"CAST({sq_dist_sql('qv_q', 'nq_q', 'qv_c', 'nq_c')} AS BIGINT)")
    unit_leg = (
        rank_topk(
            q.join(c, F.col("cand_id") != F.col("query_id")).select(
                "query_id", "cand_id", dcol.alias("d")
            ),
            _TOPK_K,
            "d ASC, cand_id ASC",
        )
        .select(
            F.lit("unitgrid").alias("leg"),
            "query_id",
            "cand_id",
            F.lit(None).cast("double").alias("cos"),
            "d",
            F.lit(None).cast("bigint").alias("approx_d"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
    sq_leg = sq_topk(
        emb, qids, k=_TOPK_K, dim=_EMB_DIM, metric="l2", refine=_SQ_REFINE
    ).select(
        F.lit("sq").alias("leg"),
        "query_id",
        "cand_id",
        F.lit(None).cast("double").alias("cos"),
        F.col("exact_d").cast("bigint").alias("d"),
        F.col("approx_d").cast("bigint").alias("approx_d"),
        F.col("rank").cast("int").alias("rank"),
    )
    return cos_leg.unionByName(unit_leg).unionByName(sq_leg)


_IVF_K = 8  # coarse clusters; the oracle replays the same seeded build
_IVF_ROUNDS = 2  # Lloyd rounds; the oracle unrolls one CTE pair per round
_IVF_NPROBE = 2  # probed clusters per query; oracle takes rn <= nprobe


def _kmeans_ctes(k: int, rounds: int) -> str:
    """DuckDB CTE chain replaying the kmeans_lite build: seeds, then
    per round an assignment CTE (exact-integer argmin, ties to lowest
    j) and a floor-division centroid-update CTE, then the final
    assignment ``a_final`` (ranked) / ``m_final`` (home cluster).
    Shared by the IVF search oracle and the semantic-dedup oracle."""

    def assign(src_cents: str, out: str) -> str:
        return f"""
a_{out} AS (SELECT nv.vec_id, nv.qv, nv.nq, c.j,
            row_number() OVER (PARTITION BY nv.vec_id
                ORDER BY nv.nq + c.cnq - 2 * list_dot_product(nv.qv, c.cqv), c.j) AS rn
            FROM nv CROSS JOIN {src_cents} c),
m_{out} AS (SELECT vec_id, qv, nq, j AS cluster FROM a_{out} WHERE rn = 1)"""

    def update(src_assign: str, out: str) -> str:
        return f"""
comp_{out} AS (SELECT cluster, unnest(qv) AS val, unnest(range(len(qv))) AS idx
               FROM m_{src_assign}),
cs_{out} AS (SELECT cluster, idx, sum(val) AS s, count(*) AS n
             FROM comp_{out} GROUP BY cluster, idx),
cvec_{out} AS (SELECT cluster AS j, list((s - ((s % n) + n) % n) / n ORDER BY idx) AS cqv
               FROM cs_{out} GROUP BY cluster),
{out} AS (SELECT j, cqv, list_dot_product(cqv, cqv) AS cnq FROM cvec_{out})"""

    ctes = [
        f"""hs AS (SELECT vec_id, qv, nq, {hash64_duckdb_sql('vec_id')} AS h FROM nv),
seeds AS (SELECT row_number() OVER (ORDER BY h, vec_id) AS j, qv AS cqv, nq AS cnq
          FROM (SELECT * FROM hs ORDER BY h, vec_id LIMIT {k}))"""
    ]
    cents = "seeds"
    for r in range(1, rounds + 1):
        ctes.append(assign(cents, f"r{r}"))
        ctes.append(update(f"r{r}", f"cents_r{r}"))
        cents = f"cents_r{r}"
    ctes.append(assign(cents, "final"))
    return ",".join(ctes)


def _ivf_oracle(k: int, rounds: int, nprobe: int = 1) -> str:
    """Multi-probe IVF search over the replayed k-means build:
    candidates keep rank 1 (home list), queries keep rank <= nprobe
    (probe set) over the SAME (distance, j) ordering, then the
    cluster-restricted top-k — plus (r13) the ivfsq leg: the IVF-SQ
    COMPOSED path (operators/sq.py ivfsq family, per-list bounds)
    replayed end to end over the SAME build and probe set: per-list
    (minq, maxq) with the global fallback for build-time-empty
    clusters (_per_list_bounds), clamped floor-div encode, affine
    floor decode, probe-restricted asymmetric approx ranking, and the
    shared pq._refine_exact rerank — every stage integer-exact, so
    the driver hash anchors IVF-SQ directly (previously only
    transitively via the exhaustive-probe == flat-SQ pytest
    equality)."""
    return f"""
WITH {_QVEC_CTE},
{_kmeans_ctes(k, rounds)},
probes AS (SELECT vec_id, qv, nq, j AS cluster FROM a_final
           WHERE rn <= {nprobe} AND vec_id < {_N_QUERIES}),
scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  list_dot_product(q.qv, c.qv) / (sqrt(q.nq) * sqrt(c.nq)) AS cos
           FROM probes q JOIN m_final c
             ON q.cluster = c.cluster AND c.vec_id != q.vec_id),
vcomp AS (SELECT cluster, unnest(qv) AS val, unnest(range(len(qv))) AS idx
          FROM m_final),
vpb AS (SELECT cluster, idx, min(val) AS mn, max(val) AS mx
        FROM vcomp GROUP BY cluster, idx),
vpl AS (SELECT cluster, list(mn ORDER BY idx) AS minq,
               list(mx ORDER BY idx) AS maxq
        FROM vpb GROUP BY cluster),
vgd AS (SELECT idx, min(val) AS mn, max(val) AS mx FROM vcomp GROUP BY idx),
vgb AS (SELECT list(mn ORDER BY idx) AS gmn, list(mx ORDER BY idx) AS gmx
        FROM vgd),
vbf AS (SELECT c.j AS cluster, coalesce(p.minq, g.gmn) AS minq,
               coalesce(p.maxq, g.gmx) AS maxq
        FROM cents_r{rounds} c LEFT JOIN vpl p ON p.cluster = c.j
        CROSS JOIN vgb g),
venc AS (SELECT m.vec_id, m.cluster,
         list_transform(range({_EMB_DIM}), i ->
           CASE WHEN b.maxq[i+1] - b.minq[i+1] > 0
                THEN least(floor((greatest(m.qv[i+1] - b.minq[i+1], 0) * 255)
                           / (b.maxq[i+1] - b.minq[i+1])), 255)
                ELSE 0 END) AS codes
         FROM m_final m JOIN vbf b ON b.cluster = m.cluster),
vdec AS (SELECT e.vec_id, e.cluster,
         list_transform(range({_EMB_DIM}), i ->
           b.minq[i+1] + floor((e.codes[i+1] * (b.maxq[i+1] - b.minq[i+1]))
                               / 255)) AS dv
         FROM venc e JOIN vbf b ON b.cluster = e.cluster),
vscored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.cluster,
            CAST(q.nq + list_dot_product(c.dv, c.dv)
                 - 2 * list_dot_product(q.qv, c.dv) AS BIGINT) AS approx_d
            FROM probes q JOIN vdec c
              ON c.cluster = q.cluster AND c.vec_id != q.vec_id),
vshort AS (SELECT query_id, cand_id, cluster, approx_d
           FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                     ORDER BY approx_d ASC, cand_id) AS rn FROM vscored) s
           WHERE rn <= {_SQ_REFINE * _TOPK_K}),
vexact AS (SELECT s.query_id, s.cand_id, s.approx_d,
           CAST(q.nq + c.nq - 2 * list_dot_product(q.qv, c.qv) AS BIGINT)
               AS exact_d
           FROM vshort s
           JOIN nv q ON q.vec_id = s.query_id
           JOIN m_final c ON c.vec_id = s.cand_id AND c.cluster = s.cluster)
SELECT 'ivf' AS leg, query_id, cand_id, cos,
       CAST(NULL AS BIGINT) AS approx_d, CAST(NULL AS BIGINT) AS exact_d,
       CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
      FROM scored) r
WHERE rank <= {_TOPK_K}
UNION ALL
SELECT 'ivfsq' AS leg, query_id, cand_id, CAST(NULL AS DOUBLE) AS cos,
       approx_d, exact_d, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY exact_d ASC, cand_id) AS rank
      FROM vexact) r
WHERE rank <= {_TOPK_K}
"""


@query(
    "similarity_ivf",
    _ivf_oracle(_IVF_K, _IVF_ROUNDS, _IVF_NPROBE),
    doc=f"IVF top-{_TOPK_K}: a real computed coarse quantizer — seeded "
    f"k-means ({_IVF_K} clusters, {_IVF_ROUNDS} exact-integer Lloyd rounds; "
    "see operators.similarity.kmeans_lite_fit) — then multi-probe search: "
    f"each query scans its {_IVF_NPROBE} nearest inverted lists "
    "(recall-gated vs brute force in tests/test_similarity.py). At scale "
    "the cluster id IS the shuffle/bucket key; the oracle replays the "
    "identical deterministic build and probe ranking, one generated CTE "
    "pair per round. ivfsq leg (r13): the IVF-SQ COMPOSED path over the "
    "SAME build and probe set — per-list SQ8 bounds (with the proven "
    "global fallback for build-time-empty clusters), clamped floor-div "
    "encode, affine floor decode, probe-restricted asymmetric approx "
    f"ranking, exact rerank at refine={_SQ_REFINE} through the shared "
    "_ivfsq_score/_refine_exact tail — every stage integer-exact and "
    "oracle-replayed, so the driver hash anchors the IVF-SQ family "
    "directly (it was previously only transitively anchored via the "
    "exhaustive-probe == flat-SQ pytest equality).",
)
def q_similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import (
        BY_COS,
        assign_clusters,
        cand_side,
        kmeans_lite_fit,
        probe_clusters,
        query_side,
        rank_topk,
        scored_cosine,
    )
    from ..operators.sq import _encode_qv, _ivfsq_score, _per_list_bounds

    emb = t(spark, sf_dir, "embeddings")
    qd, cents = kmeans_lite_fit(emb, k=_IVF_K, dim=_EMB_DIM, rounds=_IVF_ROUNDS)
    # the k-row centroid frame feeds BOTH the candidate assignment and
    # the query probe ranking: a lazy localCheckpoint materializes the
    # Lloyd rounds once AND truncates the lineage, so each consumer
    # plans against an 8-row leaf instead of the full k-means tree
    # (~0.6 s less driver-side planning than persist at sf0.1, and the
    # r6 checkpoint discipline of operators.pq)
    cents = lazy_checkpoint_tiny(cents)  # k-row frame by construction
    # the assigned corpus now feeds FIVE consumers (ivf candidates,
    # per-list bounds x2 aggregations, the code encode, the refine
    # vectors): one lazy checkpoint materializes the broadcast-argmin
    # pass once instead of replanning it per consumer
    assigned = lazy_checkpoint(assign_clusters(qd, cents))
    c = cand_side(assigned, "vec_id")
    q = query_side(
        probe_clusters(
            qd.filter(F.col("vec_id") < _N_QUERIES), cents, nprobe=_IVF_NPROBE
        ),
        "vec_id",
    )
    nul_b = F.lit(None).cast("bigint")
    ivf_leg = (
        rank_topk(scored_cosine(F.broadcast(q).join(c, "cluster")), _TOPK_K, BY_COS)
        .select(
            F.lit("ivf").alias("leg"),
            "query_id",
            "cand_id",
            "cos",
            nul_b.alias("approx_d"),
            nul_b.alias("exact_d"),
            F.col("rank").cast("int").alias("rank"),
        )
    )
    # ivfsq leg: per-list bounds -> encode -> the shared search tail
    # (probe-pruned decode/rank + exact rerank), reusing the SAME
    # kmeans build, assignment, and probe frame as the ivf leg
    # k-row per-list bounds frame — tiny by construction
    bounds = lazy_checkpoint_tiny(_per_list_bounds(assigned, cents, _EMB_DIM))
    codes = _encode_qv(
        assigned.select(F.col("vec_id").alias("cand_id"), "cluster", "qv"),
        bounds,
        keep=["cand_id", "cluster"],
        per_list=True,
    )
    # c already IS the (cand_id, qv_c, nq_c, cluster) projection the
    # refine stage wants — reuse it rather than re-projecting assigned
    ivfsq_leg = _ivfsq_score(q, codes, bounds, c, _TOPK_K, _SQ_REFINE, True).select(
        F.lit("ivfsq").alias("leg"),
        "query_id",
        "cand_id",
        F.lit(None).cast("double").alias("cos"),
        F.col("approx_d").cast("bigint").alias("approx_d"),
        F.col("exact_d").cast("bigint").alias("exact_d"),
        F.col("rank").cast("int").alias("rank"),
    )
    return ivf_leg.unionByName(ivfsq_leg)


@query(
    "dedup_semantic",
    f"""
WITH {_QVEC_CTE},
{_kmeans_ctes(_IVF_K, _IVF_ROUNDS)}
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       list_dot_product(a.qv, b.qv) / (sqrt(a.nq) * sqrt(b.nq)) AS cos
FROM m_final a JOIN m_final b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE list_dot_product(a.qv, b.qv) / (sqrt(a.nq) * sqrt(b.nq)) >= 0.35
""",
    doc="Semantic dedup, the SCALE path for embedding near-dup detection "
    f"(SemDeDup-style): k-means coarse clusters ({_IVF_K} clusters, "
    f"{_IVF_ROUNDS} Lloyd rounds, the same deterministic build the IVF "
    "index uses), then within-cluster-only exact cosine pairs via one "
    "numpy GEMM per cluster — O(sum n_c^2), linear in corpus size when "
    "k grows with n, vs dedup_embedding_cosine's O(n^2) exactness twin. "
    "Boundary-pair recall is gated vs the exact twin in "
    "tests/test_similarity.py; the oracle replays the identical build "
    "and within-cluster pair join.",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import cluster_pairs_cosine, kmeans_lite_clusters

    emb = t(spark, sf_dir, "embeddings")
    assigned = kmeans_lite_clusters(emb, k=_IVF_K, dim=_EMB_DIM, rounds=_IVF_ROUNDS)
    return cluster_pairs_cosine(assigned, threshold=0.35)


_SRP_BITS = 4


@query(
    "similarity_srp_lsh",
    f"""
WITH {_QVEC_CTE},
comp AS (SELECT vec_id, unnest(qv) AS val, unnest(range(64)) AS i FROM nv),
hp AS (SELECT s.s, i.i,
         (CAST('0x' || substring(md5(CAST(s.s AS VARCHAR) || ':' || CAST(i.i AS VARCHAR)), 1, 15) AS BIGINT) % 2001) - 1000 AS c
       FROM range({_SRP_BITS}) s(s), range(64) i(i)),
proj AS (SELECT comp.vec_id, hp.s, sum(comp.val * hp.c) AS p
         FROM comp JOIN hp ON comp.i = hp.i GROUP BY comp.vec_id, hp.s),
bits AS (SELECT vec_id, CAST(sum(CASE WHEN p >= 0 THEN 1 << s ELSE 0 END) AS BIGINT) AS bucket
         FROM proj GROUP BY vec_id),
nb AS (SELECT nv.vec_id, nv.qv, nv.nq, b.bucket FROM nv JOIN bits b USING (vec_id)),
scored AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                  list_dot_product(q.qv, c.qv) / (sqrt(q.nq) * sqrt(c.nq)) AS cos
           FROM nb q JOIN nb c ON q.bucket = c.bucket AND c.vec_id != q.vec_id
           WHERE q.vec_id < {_N_QUERIES})
SELECT query_id, cand_id, cos, CAST(rank AS INTEGER) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS rank
      FROM scored) r
WHERE rank <= {_TOPK_K}
""",
    doc=f"SRP-LSH approximate top-{_TOPK_K}: {_SRP_BITS}-bit signed-random-projection "
    "buckets (md5-derived hyperplanes), candidates restricted to the query's bucket.",
)
def q_similarity_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    # dim passed explicitly: no driver-side .first() job at plan-build time
    bk = srp_buckets(emb, nbits=_SRP_BITS, dim=_EMB_DIM)
    q = query_side(bk.filter(F.col("vec_id") < _N_QUERIES), "vec_id", ("bucket",))
    c = cand_side(bk, "vec_id", ("bucket",))
    return rank_topk(scored_cosine(F.broadcast(q).join(c, "bucket")), _TOPK_K, BY_COS)


# ---------------------------------------------------------------------------
# IVF-PQ: coarse quantizer + product-quantized residuals (operators/pq.py)

_PQ_M = 8          # subspaces
_PQ_KSUB = 16      # centroids per subspace
_PQ_DSUB = _EMB_DIM // _PQ_M
_PQ_ROUNDS = 2     # PQ Lloyd rounds
_IVFPQ_K = 10      # top-k per query
_IVFPQ_NPROBE = 2
_IVFPQ_REFINE = 3  # exact-rerank shortlist depth (refine * k candidates)


def _pq_dist_sql(a: str, b: str) -> str:
    """Exact squared L2 via the |a|^2+|b|^2-2ab identity — every term is
    an integer-valued double (quantized inputs), so the value is
    bit-identical to Spark's int64 sum of squared differences."""
    return (
        f"list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        f" - 2 * list_dot_product({a}, {b})"
    )


def _pq_assign_sql(subs: str, cents: str, out: str) -> str:
    """Per-(vector, subspace) nearest codebook entry, ties to lowest j."""
    return f"""
pa_{out} AS (SELECT s.vec_id, s.sub, s.sqv, c.j,
        row_number() OVER (PARTITION BY s.vec_id, s.sub
            ORDER BY {_pq_dist_sql('s.sqv', 'c.cqv')}, c.j) AS rn
        FROM {subs} s JOIN {cents} c ON c.sub = s.sub),
pm_{out} AS (SELECT vec_id, sub, sqv, j AS code FROM pa_{out} WHERE rn = 1)"""


def _pq_update_sql(assigned: str, prev: str, out: str) -> str:
    """Floor-division centroid means + dead-centroid retention (the
    codebook must stay dense for positional ADC lookups)."""
    return f"""
pcomp_{out} AS (SELECT sub, code, unnest(sqv) AS val,
                unnest(range(len(sqv))) AS idx FROM pm_{assigned}),
pcs_{out} AS (SELECT sub, code, idx, sum(val) AS s, count(*) AS n
              FROM pcomp_{out} GROUP BY sub, code, idx),
pvec_{out} AS (SELECT sub, code AS j,
                list((s - ((s % n) + n) % n) / n ORDER BY idx) AS cqv
               FROM pcs_{out} GROUP BY sub, code),
{out} AS (SELECT * FROM pvec_{out}
          UNION ALL
          SELECT c.sub, c.j, c.cqv FROM {prev} c
          WHERE NOT EXISTS (SELECT 1 FROM pvec_{out} u
                            WHERE u.sub = c.sub AND u.j = c.j))"""


def _ivfpq_oracle() -> str:
    m, dsub, ksub = _PQ_M, _PQ_DSUB, _PQ_KSUB
    rounds = [_pq_assign_sql("subs", "pc0", "r1"), _pq_update_sql("r1", "pc0", "pc1")]
    cents = "pc1"
    for r in range(2, _PQ_ROUNDS + 1):
        rounds.append(_pq_assign_sql("subs", cents, f"r{r}"))
        rounds.append(_pq_update_sql(f"r{r}", cents, f"pc{r}"))
        cents = f"pc{r}"
    rounds.append(_pq_assign_sql("subs", cents, "enc"))
    pq_ctes = ",".join(rounds)
    return f"""
WITH {_QVEC_CTE},
{_kmeans_ctes(_IVF_K, 1)},
rc AS (SELECT m.vec_id, m.cluster, unnest(m.qv) AS a, unnest(c.cqv) AS b,
              unnest(range(len(m.qv))) AS idx
       FROM m_final m JOIN cents_r1 c ON c.j = m.cluster),
resid AS (SELECT vec_id, cluster, list(a - b ORDER BY idx) AS rv
          FROM rc GROUP BY vec_id, cluster),
subs AS (SELECT vec_id, t.sub, rv[t.sub*{dsub}+1 : t.sub*{dsub}+{dsub}] AS sqv
         FROM resid, LATERAL unnest(range({m})) AS t(sub)),
pseeds AS (SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) AS j
           FROM (SELECT vec_id, h FROM hs ORDER BY h, vec_id LIMIT {ksub})),
pc0 AS (SELECT s.sub, p.j, s.sqv AS cqv FROM subs s JOIN pseeds p USING (vec_id)),
{pq_ctes},
probes AS (SELECT vec_id AS query_id, j AS cluster FROM a_final
           WHERE rn <= {_IVFPQ_NPROBE} AND vec_id < {_N_QUERIES}),
qrc AS (SELECT p.query_id, p.cluster, unnest(nv.qv) AS a, unnest(c.cqv) AS b,
               unnest(range(len(nv.qv))) AS idx
        FROM probes p JOIN nv ON nv.vec_id = p.query_id
        JOIN cents_r1 c ON c.j = p.cluster),
qresid AS (SELECT query_id, cluster, list(a - b ORDER BY idx) AS rv
           FROM qrc GROUP BY query_id, cluster),
qsubs AS (SELECT query_id, cluster, t.sub,
                 rv[t.sub*{dsub}+1 : t.sub*{dsub}+{dsub}] AS sqv
          FROM qresid, LATERAL unnest(range({m})) AS t(sub)),
qtab AS (SELECT q.query_id, q.cluster, q.sub, c.j,
                {_pq_dist_sql('q.sqv', 'c.cqv')} AS d
         FROM qsubs q JOIN {cents} c ON c.sub = q.sub),
scored AS (SELECT q.query_id, e.vec_id AS cand_id,
                  CAST(sum(q.d) AS BIGINT) AS approx_d
           FROM pm_enc e
           JOIN resid r ON r.vec_id = e.vec_id
           JOIN qtab q ON q.cluster = r.cluster AND q.sub = e.sub
                      AND q.j = e.code
           WHERE e.vec_id != q.query_id
           GROUP BY q.query_id, e.vec_id),
short AS (SELECT query_id, cand_id, approx_d
          FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                             ORDER BY approx_d, cand_id) AS rn
                FROM scored)
          WHERE rn <= {_IVFPQ_REFINE * _IVFPQ_K}),
refined AS (SELECT s.query_id, s.cand_id, s.approx_d,
                   CAST(q.nq + c.nq
                        - 2 * list_dot_product(q.qv, c.qv) AS BIGINT) AS exact_d
            FROM short s
            JOIN nv q ON q.vec_id = s.query_id
            JOIN m_final c ON c.vec_id = s.cand_id)
SELECT query_id, cand_id, approx_d, exact_d, CAST(rank AS INT) AS rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY exact_d, cand_id) AS rank
      FROM refined)
WHERE rank <= {_IVFPQ_K}
"""


@query(
    "ivfpq_topk",
    _ivfpq_oracle(),
    doc=f"IVF-PQ ANN search (operators/pq.py:ivfpq_topk — the flagship "
    "composition, r4 pytest-only, driver-verified r5): seeded coarse "
    f"k-means ({_IVF_K} clusters, 1 Lloyd round) bounds the scan; "
    f"residuals against the home centroid are product-quantized ({_PQ_M}"
    f" subspaces x {_PQ_KSUB} centroids, {_PQ_ROUNDS} integer Lloyd "
    f"rounds); each query probes {_IVFPQ_NPROBE} lists and scores every "
    "candidate as m positional lookups into its per-(query, cluster) "
    "ADC table — candidates ship (id, cluster, codes) only, never "
    f"vectors; the ADC top {_IVFPQ_REFINE}*k per query are then "
    "exact-reranked with int64 L2 on the original quantized vectors "
    "(refine stage, driver-verified r10 — the FAISS IndexRefineFlat "
    "composition). The oracle replays the entire build (seeds, floor-"
    "division means, dead-centroid retention, tie-breaks), search, and "
    "refine in exact integer-valued-double arithmetic.",
)
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.pinning import lazy_checkpoint
    from ..operators.pq import ivfpq_topk

    emb = t(spark, sf_dir, "embeddings")
    qids = emb.select("vec_id").filter(F.col("vec_id") < _N_QUERIES)
    out = ivfpq_topk(
        emb,
        qids,
        k=_IVFPQ_K,
        n_clusters=_IVF_K,
        nprobe=_IVFPQ_NPROBE,
        m=_PQ_M,
        ksub=_PQ_KSUB,
        dim=_EMB_DIM,
        coarse_rounds=1,
        pq_rounds=_PQ_ROUNDS,
        pin=lazy_checkpoint,
        refine=_IVFPQ_REFINE,
    )
    return out.select(
        "query_id",
        "cand_id",
        "approx_d",
        "exact_d",
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# paragraph-level dedup + quality-aware delete list (r5 operators,
# driver-verified r6)

_PARA_WORDS = 32  # non-overlapping word windows used as pseudo-paragraphs

# The synthetic documents table is a single line of words (no \n), so the
# query materializes the Dolma-style fallback for break-free corpora:
# fixed 32-word windows joined by blank lines become the "paragraphs",
# and dedup_paragraphs then splits, first-occurrence-dedups, and
# reassembles them. The oracle exploits that round-trip being exact
# (window text has no newlines, no edge spaces), so paragraphs == windows.
_PARA_CTE = rf"""
toks AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '\s+'), w -> w != '') AS t
         FROM documents),
nz AS (SELECT doc_id, t, len(t) AS n FROM toks WHERE len(t) > 0),
st AS (SELECT doc_id, t, n,
              unnest(range(0, greatest(n - 1, 0) + 1, {_PARA_WORDS})) AS s
       FROM nz),
ch AS (SELECT doc_id, CAST(s // {_PARA_WORDS} AS INTEGER) AS pn,
              array_to_string(list_slice(t, s + 1, least(s + {_PARA_WORDS}, n)), ' ') AS para
       FROM st)
"""


@query(
    "dedup_paragraphs",
    f"""
WITH {_PARA_CTE},
r AS (SELECT doc_id, pn, para,
             row_number() OVER (PARTITION BY {hash64_duckdb_sql('para')}
                                ORDER BY doc_id, pn) AS rn
      FROM ch),
re AS (SELECT doc_id, string_agg(para, chr(10) || chr(10) ORDER BY pn) AS text
       FROM r WHERE rn = 1 GROUP BY doc_id)
SELECT nz.doc_id, coalesce(re.text, '') AS text
FROM nz LEFT JOIN re USING (doc_id)
""",
    doc="Paragraph-level exact dedup (operators/dedup.py:dedup_paragraphs "
    "— the Dolma/CCNet step between document dedup and quality "
    "filtering; r5 pytest-only, driver-verified r6): every distinct "
    "paragraph survives once, in its first (doc, position) occurrence; "
    "documents reassemble from survivors in original order, possibly "
    f"empty. The corpus has no natural breaks, so {_PARA_WORDS}-word "
    "non-overlapping windows joined by blank lines stand in as "
    "paragraphs (the fixed-window fallback). Scale: paragraph text "
    "never rides a shuffle — only its md5-derived 8-byte hash does "
    "(one groupBy(hash) keeping min(struct(doc,pos)), one hash "
    "equi-join back, one per-doc re-aggregation).",
)
def q_dedup_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.chunking import chunk_documents
    from ..operators.dedup import dedup_paragraphs

    docs = t(spark, sf_dir, "documents")
    ch = chunk_documents(docs, chunk_words=_PARA_WORDS, overlap=0)
    paradocs = ch.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("chunk_idx", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
            "\n\n",
        ).alias("text")
    )
    return dedup_paragraphs(paradocs, sep="\n\n", min_chars=1)


@query(
    "delete_lists",
    f"""
WITH RECURSIVE {_LSH_PAIRS_CTE},
e2 AS (SELECT id_a AS u, id_b AS v FROM pairs
       UNION SELECT id_b AS u, id_a AS v FROM pairs),
nodes AS (SELECT DISTINCT u FROM e2),
reach(src, node) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT r.src, e2.v FROM reach r JOIN e2 ON e2.u = r.node
),
comp AS (SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src),
scored AS (SELECT c.doc_id,
                  row_number() OVER (PARTITION BY c.component
                                     ORDER BY d.n_chars DESC, c.doc_id) AS rn
           FROM comp c JOIN documents d USING (doc_id))
SELECT 'quality' AS leg, doc_id FROM scored WHERE rn > 1
UNION ALL
SELECT 'minid' AS leg, doc_id FROM comp WHERE doc_id != component
""",
    doc="Near-dup delete lists as a two-leg tagged union (operators/"
    "dedup.py quality_delete_list + duplicate_delete_list over "
    "connected_components; r6 — the r5 operators driver-verified). LSH "
    "candidate pairs verified at Jaccard >= 0.5 group into connected "
    "components (bounded min-label propagation, the non-transitivity "
    "fix). quality leg: each cluster keeps its highest-quality member "
    "— scored by n_chars here (the score frame is pluggable; "
    "production feeds textstats.text_quality) — and lists the rest. "
    "minid leg: the classic min-id-representative delete list (every "
    "member except its component label). The oracle replays components "
    "as a recursive min-reachable-id closure (label propagation's "
    "fixpoint), the argmax window, and the label filter. Both legs "
    "derive from ONE components build (operators/dedup.py:delete_lists "
    "— the convergence loop is policy-independent, so it runs once).",
)
def q_delete_lists(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import delete_lists

    docs = t(spark, sf_dir, "documents")
    sh = _persist(shingles(docs))
    pairs = jaccard_verify(
        lsh_candidate_pairs(lsh_bands(minhash_signature(sh))), sh
    ).filter(F.col("jaccard") >= 0.5)
    scores = docs.select("doc_id", F.col("n_chars").cast("long").alias("score"))
    # the combined operator pays the label-propagation convergence ONCE
    # for both policies (components are policy-independent) — half the
    # iterative cost of running the two single-policy operators
    return delete_lists(pairs, scores, score_col="score")
