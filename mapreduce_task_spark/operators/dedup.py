"""Deduplication operators for LLM training-data pipelines.

Exact dedup, MinHash+LSH near-dup, SimHash fingerprinting, and n-gram
Jaccard verification — the dedup ladder a 100 TB text pipeline needs.
The reference repo has no dedup (its only distinct is the InsertIndex
HashSet, TraceInsertIndexReducer.java:132-135); these are the
north-star extensions from BASELINE.json.

Scale design:
- Everything is built from JVM expressions (md5/conv/shiftright/min) —
  no Python in the hot path; whole-stage codegen end to end.
- MinHash signatures are 16 aggregate expressions over the shingle
  rows, NOT a 16x row explosion: one shuffle on doc_id with map-side
  partial min.
- LSH banding turns near-dup search from O(n^2) pairs into an
  equi-join on (band, signature) — shuffle-partitioned by bucket,
  AQE splits skewed buckets. This is the only pair-producing join.
- Candidate pairs are verified with exact shingle-set Jaccard: one
  per-document shingle-set aggregate joined on both pair ids, then
  integer-only arithmetic (order-independent, oracle-exact: int/int
  division is IEEE-deterministic).

Hashes use functions.hashing.hash64 (md5-based) so DuckDB can replay
them bit-for-bit; pass fast=True to swap in xxhash64 at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window, functions as F

from ..functions.hashing import (
    affine_minhash_spark_sqls,
    hash64,
    hash64_spark_sql,
)
from ..functions.text import (
    normalize_token,
    normalize_unicode_text,
    normalized_tokens,
    tokenize,
)
from ..sources.tables import ensure_parallelism
from .pinning import Pin, no_pin as _no_pin, release_checkpoint

NUM_HASHES = 16
BANDS = 8  # 8 bands x 2 rows: P(candidate) = 1-(1-j^2)^8 -> 0.90 at j=0.5


def positioned_words(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """One row per normalized non-empty token with its original position.

    Tokenization order matters for shingling, so this keeps the
    posexplode ordinal (empty tokens are dropped AFTER numbering; the
    lead() windows downstream skip the gaps identically in Spark and
    the DuckDB oracle).
    """
    toks = ensure_parallelism(df).select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("ord", "raw")
    )
    return toks.select(
        id_col, F.col("ord"), normalize_token("raw").alias("word")
    ).filter(F.length("word") > 0)


def shingles(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    unicode_form: str | None = None,
) -> DataFrame:
    """Distinct word k-gram shingles per document: (id, shingle).

    Built entirely with array expressions — tokenize/normalize/filter,
    then shingle i = tokens[i..i+k-1] via indexed ``transform`` +
    ``get`` (null past the end, dropped by the null-propagating
    ``concat``), then per-doc ``array_distinct`` and one explode. Zero
    shuffles, zero window sorts: a narrow map-only stage regardless of
    corpus size.

    ``unicode_form`` (opt-in, e.g. "NFC"/"NFKC") unicode-normalizes
    the text first (``functions.text.normalize_unicode_text``) so
    composed and decomposed forms of the same text shingle alike —
    with the ASCII fast path (r10): a JVM RLIKE gate sends only
    non-ASCII rows through the Arrow stage, so an English-heavy
    corpus opting in pays Python for its non-ASCII sliver only. The
    default None keeps the plan pure-JVM (the driver queries'
    plan-asserted contract; the [a-z]-only tokenizer makes the
    default safe for ASCII-ish corpora, while multilingual corpora
    should opt in upstream or here).
    """
    src = (
        normalize_unicode_text(df, text_col, unicode_form)
        if unicode_form
        else df
    )
    base = ensure_parallelism(src).select(
        F.col(id_col), normalized_tokens(F.col(text_col)).alias("__toks")
    )
    toks = F.col("__toks")
    sep = F.lit(" ")

    def make_shingle(x, i):
        parts = [x]
        for off in range(1, k):
            parts.extend([sep, F.get(toks, i + off)])
        return F.concat(*parts)

    sh_arr = F.array_distinct(
        F.filter(F.transform(toks, make_shingle), lambda s: s.isNotNull())
    )
    return base.select(F.col(id_col), F.explode(sh_arr).alias("shingle"))


def minhash_signature(
    shingle_df: DataFrame, id_col: str = "doc_id", num_hashes: int = NUM_HASHES
) -> DataFrame:
    """MinHash signature: (id, mh0..mh{n-1}).

    One hash-aggregate with ``num_hashes`` min() expressions — partial
    aggregation map-side, single shuffle on id, no row explosion. The
    hash family is ONE md5 per shingle plus two int64 ops per extra
    hash (affine universal hashing mod 2^31-1), not ``num_hashes``
    md5 invocations.
    """
    hashed = shingle_df.selectExpr(
        f"`{id_col}`", *affine_minhash_spark_sqls("shingle", num_hashes)
    )
    mins = [F.expr(f"min(h{s})").alias(f"mh{s}") for s in range(num_hashes)]
    return hashed.groupBy(id_col).agg(*mins)


def lsh_bands(
    sig_df: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
) -> DataFrame:
    """Unpivot a signature into (id, band, band_sig) rows.

    band_sig concatenates the band's minhashes — the LSH bucket key.
    """
    rows_per_band = num_hashes // bands
    pairs = []
    for b in range(bands):
        cols = ", ".join(
            f"CAST(mh{b * rows_per_band + r} AS STRING)"
            for r in range(rows_per_band)
        )
        pairs.append(f"{b}, concat_ws('-', {cols})")
    return sig_df.select(
        id_col,
        F.expr(f"stack({bands}, " + ", ".join(pairs) + ")").alias(
            "band", "band_sig"
        ),
    )


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Distinct candidate pairs (a < b) from the LSH buckets.

    Implemented as groupBy(bucket) -> sorted id set -> in-row pair
    combinations (nested ``transform``/``slice`` array expression) —
    NOT a self-join, so the (expensive) upstream signature pipeline is
    evaluated once, not twice. One shuffle on the bucket key, then a
    per-bucket O(k^2) array expansion.

    A degenerate bucket of k identical docs expands to k^2/2 in-row
    pairs; run exact dedup first (exact_dedup_groups) so mass-duplicate
    corpora never reach LSH with identical texts — standard pipeline
    order at 100 TB.
    """
    ids = F.sort_array(F.collect_set(id_col)).alias("ids")
    buckets = (
        bands_df.groupBy("band", "band_sig").agg(ids).filter(F.size("ids") >= 2)
    )
    lst = F.col("ids")
    pair_structs = F.flatten(
        F.transform(
            lst,
            lambda x, i: F.transform(
                F.slice(lst, i + F.lit(2), F.size(lst)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_structs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame, shingle_df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs.

    ``shingle_df`` holds distinct ``(id, shingle)`` rows, as
    ``shingles()`` returns them, and the result is a set ratio. One
    aggregate gathers each document's shingle set — the single scan of
    ``shingle_df`` — and the pairs join it on both ids; the intersection
    is ``size(array_intersect(sa, sb))``. jaccard = inter/(|A|+|B|-inter)
    is an int/int divide — bitwise deterministic in every engine. A pair
    that shares no shingle, or names an id absent from ``shingle_df``,
    gets no row.
    """
    sets = shingle_df.groupBy(id_col).agg(F.collect_set("shingle").alias("s"))
    inter = F.size(F.array_intersect("sa", "sb"))
    return (
        pairs.join(sets.select(F.col(id_col).alias("id_a"), F.col("s").alias("sa")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"), F.col("s").alias("sb")), "id_b")
        .filter(inter > 0)
        .select(
            "id_a",
            "id_b",
            (
                inter.cast("double")
                / (F.size("sa") + F.size("sb") - inter).cast("double")
            ).alias("jaccard"),
        )
    )


def all_pairs_jaccard(
    shingle_df: DataFrame,
    id_col: str = "doc_id",
    min_jaccard: float = 0.5,
    df_max: int | None = None,
) -> DataFrame:
    """Exhaustive n-gram Jaccard: every pair sharing >=1 shingle.

    The shingle equi-join bounds the blow-up to co-occurring pairs
    (not n^2), but a shingle present in d docs fans out d^2 pair rows.
    ``df_max`` applies the standard tail cut: shingles in more than
    df_max docs are dropped from BOTH the join and the per-doc sizes
    (so jaccard stays a true set ratio over the kept shingles). At
    100 TB this bounds the join fan-out to df_max^2 per shingle; the
    cut also removes boilerplate n-grams that carry no dedup signal.
    """
    if df_max is not None:
        freq = shingle_df.groupBy("shingle").agg(F.count("*").alias("__df"))
        shingle_df = (
            shingle_df.join(freq.filter(F.col("__df") <= df_max), "shingle")
            .drop("__df")
        )
    sizes = shingle_df.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = shingle_df.select(F.col(id_col).alias("id_a"), "shingle")
    sb = shingle_df.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        sa.join(sb, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("nb")), "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def simhash(
    words_df: DataFrame, id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """SimHash fingerprint: (id, simhash bigint).

    Per-token 60-bit hash; for each bit position the +1/-1 votes are
    summed (token multiplicity counts, per the classic Charikar
    scheme); the sign of each sum sets the output bit. Implemented as
    ``bits`` conditional-sum aggregate expressions — one shuffle, no
    row explosion, codegen throughout.
    """
    toks = words_df.selectExpr(f"`{id_col}`", f"{hash64_spark_sql('word')} AS h")
    votes = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {i}) & 1) = 1 THEN 1 ELSE -1 END)"
        ).alias(f"s{i}")
        for i in range(bits)
    ]
    agg = toks.groupBy(id_col).agg(*votes)
    out = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits)
    )
    return agg.selectExpr(f"`{id_col}`", f"CAST({out} AS BIGINT) AS simhash")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Connected components over near-dup pairs: (doc_id, component),
    component = smallest doc id reachable through any chain of pairs.

    Near-dup similarity is NOT transitive (a~b and b~c do not imply
    a~c), so production dedup groups pairs into components and keeps
    one representative per component — dropping only id_b per pair
    both over- and under-deletes on chains. This is the step between
    LSH pair generation and the delete-list.

    Algorithm: iterative min-label propagation over a Pregel-style
    vertex table (Malewicz et al., SIGMOD 2010): one row per vertex,
    ``(v, label, nbrs)``, with the adjacency set stored next to the
    state. A round explodes ``array_union([v], nbrs)`` once — every
    neighbor gets a message carrying v's label, and v's own row also
    carries ``nbrs`` and the old label — then one ``groupBy(v)`` takes
    the min label and keeps the self row's adjacency. That is ONE
    message shuffle per round, with no join against a separate edge
    table; the per-round cost is two Spark jobs (the shuffle stage and
    the materializing action). Convergence takes O(component diameter)
    rounds; near-dup components are tiny and shallow in practice, and
    for adversarial diameters the alternating large-star/small-star
    variant (Kiveris et al., SoCC 2014, O(log n) rounds) drops in with
    the same shuffle shape.

    Each round pins its vertex table with ``localCheckpoint(eager=True)``
    — the shuffle stage plus one materializing job, and a lineage cut,
    so the plan does not grow with the round count. That same action
    counts the labels it lowered through an ``Observation``; a round
    that lowers none is the fixpoint. The previous round's blocks are
    released once the new one exists (bounded storage). MEASURED
    NEGATIVE: ``persist()`` plus a ``noop`` write costs 3 jobs per
    round, not 2 — AQE materializes the cached relation as a query
    stage of its own before the write reads it.

    The check deliberately runs EVERY round, not every 2nd: batching
    it was measured 6x SLOWER (r7) — a skipped round stays a lazy
    frame with two consumers in the next round's plan, and an
    unmaterialized frame gives no sharing within the single job that
    finally runs, so its shuffles execute more than once. One action
    per round that materializes the round it just built is the
    cheaper shape.

    A driver action per round is inherent to iterative convergence —
    this operator is the documented exception to the no-driver-action
    rule, and ``max_rounds`` hard-bounds it.
    """
    # symmetric edge set as ONE map-side explode of both orientations
    # (not a self-union, whose two branches would each carry the whole
    # upstream pair pipeline), grouped straight into the vertex table.
    # Fused round 0: the initial label least(v, min(nbrs)) is a
    # projection of the adjacency aggregate that round 1's first stage
    # evaluates, so the init runs no job of its own — the fixpoint, and
    # the result, are those of the identity init one round later.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col(id_a).alias("src"), F.col(id_b).alias("dst")),
                F.struct(F.col(id_b).alias("src"), F.col(id_a).alias("dst")),
            )
        ).alias("__e")
    ).select(F.col("__e.src").alias("src"), F.col("__e.dst").alias("dst"))
    verts = (
        edges.groupBy(F.col("src").alias("v"))
        .agg(F.collect_set("dst").alias("nbrs"))
        .select("v", F.least("v", F.array_min("nbrs")).alias("label"), "nbrs")
    )
    prev = None
    converged = False
    for _ in range(max_rounds):
        msgs = verts.select(
            F.explode(F.array_union(F.array("v"), F.col("nbrs"))).alias("u"),
            "v",
            "label",
            "nbrs",
        )
        is_self = F.col("u") == F.col("v")
        obs = Observation()
        verts = (
            msgs.groupBy(F.col("u").alias("v"))
            .agg(
                F.min("label").alias("label"),
                F.max(F.when(is_self, F.col("nbrs"))).alias("nbrs"),
                F.max(F.when(is_self, F.col("label"))).alias("__old"),
            )
            .observe(obs, F.count(F.when(F.col("label") < F.col("__old"), 1)).alias("n"))
            .select("v", "label", "nbrs")
            .localCheckpoint(eager=True)
        )
        if prev is not None:
            release_checkpoint(prev)
        prev = verts
        if obs.get["n"] == 0:
            converged = True
            break
    if not converged:
        # Unconverged labels split one true component into several —
        # duplicate_delete_list would then silently under-delete. The
        # changed-label count already detects this for free; make
        # exhaustion loud instead of returning wrong components quietly.
        import warnings

        warnings.warn(
            f"connected_components: no fixpoint within max_rounds={max_rounds} "
            "(component diameter exceeds the round budget); labels are "
            "partially propagated and downstream dedup will under-delete. "
            "Raise max_rounds (convergence needs O(diameter) rounds).",
            RuntimeWarning,
            stacklevel=2,
        )
    # pin just (v, label), so the last round's adjacency blocks can be
    # freed and the caller reads a narrow materialized frame (at
    # cluster scale use reliable checkpoint() instead: localCheckpoint
    # blocks don't survive executor loss)
    final = verts.select("v", "label").localCheckpoint(eager=True)
    if prev is not None:
        release_checkpoint(prev)
    return final.select(F.col("v").alias("doc_id"), F.col("label").alias("component"))


def duplicate_delete_list(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_rounds: int = 25
) -> DataFrame:
    """The dedup delete-list: every component member except its min-id
    representative. ``df.join(delete_list, "doc_id", "left_anti")`` is
    the corpus-cleaning step."""
    comp = connected_components(pairs, id_a, id_b, max_rounds)
    return comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")


def quality_delete_list(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    max_rounds: int = 25,
) -> DataFrame:
    """Quality-aware delete list: per near-dup cluster keep the HIGHEST
    scoring member (ties to smallest id), delete the rest.

    ``duplicate_delete_list`` keeps the min-id representative — fine for
    exact copies, wasteful for near-dups where one copy is cleaner (the
    usual case: a page and its ad-injected mirror). This variant joins
    the components against a (id, score) frame — e.g.
    ``textstats.text_quality`` output — and keeps the argmax-score doc.

    Scale: component labels come from the same bounded label
    propagation; the scores join is an equi-join on id, and the winner
    is one row_number window partitioned by component (cluster sizes
    are small post-LSH; a pathological giant cluster is a data bug the
    connected-components warning already surfaces)."""
    comp = connected_components(pairs, max_rounds=max_rounds)
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.asc(id_col)
    )
    return (
        comp.join(scores.select(id_col, score_col), id_col)
        .select(id_col, "component", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") > 1)
        .select(id_col)
    )


def delete_lists(
    pairs: DataFrame,
    scores: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "score",
    max_rounds: int = 25,
) -> DataFrame:
    """Both near-dup delete-list policies from ONE components build:
    (leg, id) with leg 'quality' (cluster keeps its argmax-score
    member) and 'minid' (cluster keeps its min-id member).

    ``duplicate_delete_list`` and ``quality_delete_list`` each run
    their own label-propagation loop; a pipeline that wants to compare
    policies (or emit both for audit) should pay the iterative
    convergence ONCE — components are policy-independent. Same
    contracts as the single-policy operators."""
    comp = connected_components(pairs, max_rounds=max_rounds)
    w = Window.partitionBy("component").orderBy(F.desc(score_col), F.asc("doc_id"))
    quality = (
        comp.join(scores.select(F.col(id_col).alias("doc_id"), score_col), "doc_id")
        .select("doc_id", "component", F.row_number().over(w).alias("__rn"))
        .filter(F.col("__rn") > 1)
        .select(F.lit("quality").alias("leg"), "doc_id")
    )
    minid = comp.filter(F.col("doc_id") != F.col("component")).select(
        F.lit("minid").alias("leg"), "doc_id"
    )
    return quality.unionByName(minid)


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Paragraph-level exact dedup (the Dolma/CCNet step between
    document dedup and quality filtering): every distinct paragraph
    survives exactly ONCE in the corpus — in its first occurrence by
    (id, position) — and later copies are cut from their documents;
    documents are reassembled from surviving paragraphs in original
    order. A document whose every paragraph was seen earlier survives
    with empty text (downstream quality filters own that decision, same
    contract as ``scrub.remove_boilerplate_lines``).

    Scale shape: one posexplode, one groupBy on the md5-derived
    paragraph hash (uniform 8-byte keys, map-side partial min) keeping
    min(struct(id, pos)) as the canonical occurrence, one equi-join
    back on the hash, one per-document re-aggregation — the wordcount
    shuffle pattern; paragraph text never rides a shuffle, only its
    hash does."""
    paras = (
        df.select(
            id_col,
            F.posexplode(F.split(F.col(text_col), sep)).alias("__pn", "__para"),
        )
        .withColumn("__t", F.trim(F.col("__para")))
        .filter(F.length("__t") >= min_chars)
        .withColumn("__h", hash64(F.col("__t")))
    )
    first = paras.groupBy("__h").agg(
        F.min(F.struct(F.col(id_col), F.col("__pn"))).alias("__first")
    )
    survivors = paras.join(first, "__h").filter(
        (F.col("__first")[id_col] == F.col(id_col))
        & (F.col("__first")["__pn"] == F.col("__pn"))
    )
    reassembled = survivors.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__pn", "__para"))),
                lambda s: s["__para"],
            ),
            sep,
        ).alias(text_col)
    )
    return df.select(id_col).join(reassembled, id_col, "left").select(
        id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )


def _null_safe_digest_key(id_col: str):
    """Grouping key over a ``text_md5`` column that gives NULL digests
    (NULL text — extraction failures, not content) a per-row identity.
    The ``null:`` prefix cannot collide with a real digest: md5 output
    is 32 hex chars and ``:`` is not in the hex alphabet. The same
    expression is transcribed into the dedup_exact oracle SQL, so the
    two exact-dedup paths and the DuckDB replay share ONE definition
    of "what counts as duplicate content"."""
    return F.coalesce(
        F.col("text_md5"), F.concat(F.lit("null:"), F.col(id_col).cast("string"))
    )


def exact_dedup_groups(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    unicode_form: str | None = None,
) -> DataFrame:
    """Exact dedup: group by content hash, keep min-id representative.

    Returns (text_md5, rep_id, n_copies) — the dedup decision table; a
    pipeline joins it back to keep only rep_id rows. Hash-groupBy is
    one shuffle on the digest (uniform keys, no skew).

    NULL text (an upstream extraction failure) is NOT content: two
    failed extractions are not duplicates of each other. md5(NULL) is
    NULL, and a plain groupBy would pool every NULL-text doc into one
    "duplicate" group and delete all but one — so NULL-text rows get a
    per-row grouping key and come back as their own singleton groups
    (text_md5 NULL, n_copies 1). Empty string is real (identical)
    content and still dedupes.

    ``unicode_form`` (opt-in, e.g. "NFC") unicode-normalizes the text
    before hashing so composed and decomposed forms of the same text
    count as ONE duplicate group — md5 over raw bytes otherwise treats
    U+00E9 and e+U+0301 as different content. Default None keeps the
    plan pure-JVM; with a form set, the ASCII fast path (r10) sends
    only non-ASCII rows through the Arrow normalizer.
    """
    src = (
        normalize_unicode_text(df, text_col, unicode_form)
        if unicode_form
        else df
    )
    return (
        src.select(F.md5(F.col(text_col)).alias("text_md5"), F.col(id_col))
        .groupBy(_null_safe_digest_key(id_col).alias("__gk"))
        .agg(
            F.min("text_md5").alias("text_md5"),
            F.min(id_col).alias(f"rep_{id_col}"),
            F.count("*").alias("n_copies"),
        )
        .drop("__gk")
    )


def incremental_exact_dedup(
    new_docs: DataFrame,
    known_digests: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_digest: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Ingest-batch dedup against an existing corpus: the append-only
    production shape ("dedupe this week's crawl against everything we
    already kept") that never rescans the historical corpus — only its
    digest table.

    Returns ``(fresh_docs, digests)``:
    - ``fresh_docs``: rows of ``new_docs`` that are neither duplicated
      within the batch (min-``id_col`` representative kept) nor present
      in ``known_digests``;
    - ``digests``: the updated digest table (``text_md5``) to persist
      for the next ingest — old digests unioned with the survivors'.

    ``known_digests`` is a 1-column (``text_md5``) frame, typically
    read from the digest table written by the previous ingest; pass
    None for the first batch. Scale shape: one digest groupBy within
    the batch + one anti-join against the digest table — both keyed on
    uniform md5 values, and the digest table is a fraction of corpus
    bytes (16 bytes/doc), so the anti-join build side stays small
    relative to the data it guards.
    """
    spark = new_docs.sparkSession
    if known_digests is None:
        known_digests = spark.createDataFrame([], "text_md5 string")
    hashed = new_docs.withColumn("text_md5", F.md5(F.col(text_col)))
    # NULL text is not content (see exact_dedup_groups): give each
    # NULL-text row its own in-batch key so failed extractions never
    # dedupe each other; the anti-join below already keeps them (a
    # NULL key never equi-matches a digest row).
    rep = Window.partitionBy(_null_safe_digest_key(id_col)).orderBy(id_col)
    in_batch = (
        hashed.withColumn("__rn", F.row_number().over(rep))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    fresh = in_batch.join(known_digests, "text_md5", "left_anti")
    # the persisted digest table records CONTENT digests only — a NULL
    # digest row would be dead weight (never matches an anti-join key)
    digests = known_digests.unionByName(
        fresh.select("text_md5").where(F.col("text_md5").isNotNull())
    ).distinct()
    # keep_digest=True retains the computed text_md5 column on the
    # fresh rows, so callers persisting a per-batch digest delta (the
    # streaming ingest sink) don't pay a second md5 pass over fresh
    return (fresh if keep_digest else fresh.drop("text_md5")), digests


def incremental_minhash_dedup(
    new_docs: DataFrame,
    known_sigs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    bands: int = BANDS,
    batch_shingles: DataFrame | None = None,
    batch_sigs: DataFrame | None = None,
    pin: "Pin | None" = None,
    sigs: str = "full",
) -> tuple[DataFrame, DataFrame]:
    """Near-dup ingest dedup: the LSH extension of
    ``incremental_exact_dedup`` — dedupe a new crawl batch against
    everything already kept WITHOUT rescanning the historical corpus.

    The persisted state is the historical MINHASH SIGNATURE table
    (id + num_hashes int64 columns — tens of bytes per doc, not the
    corpus): band buckets are derived from it on the fly each ingest.

    Two-stage plan:
    1. WITHIN the batch: full-fidelity LSH — band-bucket candidates,
       exact shingle-Jaccard verify >= threshold, drop each verified
       pair's ``id_b`` (the pipeline_clean_corpus orientation).
    2. ACROSS batches: batch bands equi-join historical bands; cross
       candidates verify by SIGNATURE AGREEMENT (fraction of matching
       minhashes >= threshold — the unbiased Jaccard estimator), since
       historical shingle sets are exactly what we refuse to keep.

    Returns ``(fresh_docs, signatures)`` — survivors of both stages,
    and the updated signature table (old sigs + survivors') to persist
    for the next ingest. Pass ``known_sigs=None`` for the first batch.
    ``sigs="delta"`` returns only the SURVIVORS' signature rows as the
    second element instead of the full union — the partition-per-batch
    persistence shape (``streaming.dedup_ingest``), where history
    already lives in earlier partitions and rewriting it every batch
    would be quadratic. Note docs with no shingles (NULL/empty text)
    have no signature rows yet still appear in ``fresh_docs`` — the
    delta is not an id list for the kept docs.
    If the caller already holds the batch's shingle frame (the shape
    ``shingles()`` returns — e.g. a pipeline that shingled the whole
    corpus once and persisted it), pass it as ``batch_shingles`` so
    this operator never pays a second tokenize+shingle scan; likewise
    ``batch_sigs`` (the ``minhash_signature`` shape) skips the batch
    signature aggregation when the caller already holds a corpus
    signature table — per-doc aggregates slice exactly.

    ``pin`` controls how the multi-consumer intermediates (the batch
    shingle frame, the signature frame, the kept-signature frame, the
    fresh-id list) are reused across their downstream joins — see ``operators.pinning``
    for the fault-tolerance tradeoff. Default ``None`` = no pinning
    (each consumer re-derives; always safe); the benchmark queries
    pass ``pinning.lazy_checkpoint``.

    Scale shape: batch-side shingle/signature work is proportional to
    the BATCH; the historical side contributes one band equi-join
    (uniform md5-derived keys) and one signature join on the candidate
    pairs only. Replay-idempotent: re-ingesting an already-kept batch
    yields zero fresh docs and an unchanged signature table.
    """
    spark = new_docs.sparkSession
    if known_sigs is None:
        schema = f"{id_col} bigint, " + ", ".join(
            f"mh{i} bigint" for i in range(num_hashes)
        )
        known_sigs = spark.createDataFrame([], schema)

    # the batch shingle set feeds the signature build AND the
    # shingle-set aggregate inside jaccard_verify; the signature table
    # feeds stage-1 bands plus both stage-2 sides. Pin both (per the
    # caller's pin policy) so each is derived once per ingest — the
    # batch is small relative to the corpus by the ingest contract, and
    # sig is num_hashes*8 bytes/doc (it IS the persisted state format).
    if pin is None:
        pin = _no_pin
    sh = pin(
        batch_shingles
        if batch_shingles is not None
        else shingles(new_docs, id_col, text_col)
    )
    # batch_sigs: like batch_shingles, the already-computed form — a
    # signature is a per-doc aggregate, so a caller holding a corpus
    # signature table passes its batch slice and this operator never
    # re-aggregates the batch shingles (filter-then-aggregate equals
    # aggregate-then-filter on the group key, bit-for-bit)
    sig = pin(
        batch_sigs
        if batch_sigs is not None
        else minhash_signature(sh, id_col, num_hashes)
    )

    # stage 1: within-batch near-dups at full fidelity
    pairs = jaccard_verify(
        lsh_candidate_pairs(lsh_bands(sig, id_col, num_hashes, bands), id_col),
        sh,
        id_col,
    ).filter(F.col("jaccard") >= threshold)
    dels = pairs.select(F.col("id_b").alias(id_col)).distinct()
    batch_kept_ids = new_docs.select(id_col).join(dels, id_col, "left_anti")
    # two stage-2 consumers (band derivation + signature-agreement join)
    kept_sig = pin(sig.join(batch_kept_ids, id_col))

    # stage 2: cross-batch candidates via band buckets of BOTH sides
    nb = lsh_bands(kept_sig, id_col, num_hashes, bands).select(
        F.col(id_col).alias("__new_id"), "band", "band_sig"
    )
    kb = lsh_bands(known_sigs, id_col, num_hashes, bands).select(
        F.col(id_col).alias("__old_id"), "band", "band_sig"
    )
    cross = nb.join(kb, ["band", "band_sig"]).select("__new_id", "__old_id").distinct()
    ns = kept_sig.selectExpr(
        f"`{id_col}` AS __new_id",
        *[f"mh{i} AS na{i}" for i in range(num_hashes)],
    )
    os_ = known_sigs.selectExpr(
        f"`{id_col}` AS __old_id",
        *[f"mh{i} AS ob{i}" for i in range(num_hashes)],
    )
    # integer agreement count over a CAST(.. AS DOUBLE) denominator —
    # a bare `16.0` literal would parse as DECIMAL and change the
    # division's result type
    agree = F.expr(
        "("
        + " + ".join(
            f"(CASE WHEN na{i} = ob{i} THEN 1 ELSE 0 END)"
            for i in range(num_hashes)
        )
        + f") / CAST({num_hashes} AS DOUBLE)"
    )
    dup_new = (
        cross.join(ns, "__new_id")
        .join(os_, "__old_id")
        .withColumn("__agree", agree)
        .filter(F.col("__agree") >= threshold)
        .select(F.col("__new_id").alias(id_col))
        .distinct()
    )
    # two consumers again: the kept-docs join and the signature
    # output. Pinning the id list (one long column) means a caller
    # that acts on BOTH outputs (the streaming ingest sink writes the
    # corpus partition, then the signature partition) runs the
    # historical band+agreement joins once, not once per output.
    fresh_ids = pin(batch_kept_ids.join(dup_new, id_col, "left_anti"))
    fresh = new_docs.join(fresh_ids, id_col)
    sig_delta = sig.join(fresh_ids, id_col)
    if sigs == "delta":
        return fresh, sig_delta
    return fresh, known_sigs.unionByName(sig_delta)
