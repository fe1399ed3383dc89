"""Streaming dedup ingest: continuous crawl ingestion with exactly-once
cross-batch dedup, on plain parquet — exact (content digests) and
near-duplicate (MinHash-LSH signatures) variants.

The streaming face of ``operators.dedup.incremental_exact_dedup`` and
``incremental_minhash_dedup`` —
the single most production-relevant LLM-pipeline loop: documents
stream in (a crawler, a firehose, incremental extraction), and the
corpus must accumulate each batch's rows deduped against EVERYTHING
already kept, without ever rescanning the historical corpus and
without double-ingesting or losing a batch across crashes.

Two partition-per-batch parquet logs (``batchlog`` protocol):

- ``corpus_path``   — the kept documents, partition per batch;
- ``digest_path``   — 1-column (``text_md5``) content digests of the
  kept documents, partition per batch (16 bytes/doc: the only state
  the dedup ever reads back).

Per micro-batch N, the sink (1) dedups within the batch (null-safe
min-id representative, same key as the batch operators), (2)
anti-joins the batch digests against digests from batches
STRICTLY BEFORE N, (3) overwrites corpus and digest partitions
``__batch=N`` with the survivors.

Replay safety — why "strictly before" is load-bearing: a batch's
digests may already be on disk when the batch replays (crash after
the writes, before the checkpoint committed). If the anti-join could
see the batch's OWN digest partition, every replayed row would look
like a historical duplicate and the replay would overwrite the
corpus partition with ZERO rows — silent loss of the whole batch.
Reading only earlier partitions makes the body a deterministic
function of (batch rows, strictly-earlier state), so a replay
recomputes byte-identical partitions: idempotent by construction.

Cross-batch correctness: batch ids grow monotonically, so "earlier
partitions" is exactly "everything already kept"; two batches that
both introduce the same new text keep only the earlier batch's copy.

Scale shape: the per-batch cost is one digest groupBy within the
batch plus one anti-join whose right side is the digest log — a
fraction of corpus bytes (16 bytes/doc), read with partition pruning
(``__batch < N``). The anti-join shuffles on uniform md5 keys (no
skew). The digest log accrues one partition per batch;
``compact_digests`` folds checkpoint-committed partitions into one
negative-id partition (pure ``distinct`` union — digests are a set)
to keep file counts bounded; at extreme scale the compacted digest
set can instead live in a bucketed table so the per-batch anti-join
exchanges only the batch side (``sources.bucketed.write_bucketed``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import incremental_exact_dedup, incremental_minhash_dedup
from ..operators.pinning import lazy_checkpoint as _lazy_checkpoint
from .batchlog import (
    BATCH_COL,
    attach_batch_sink,
    compact_log,
    log_exists,
    read_before,
    write_batch_partition,
)




def bootstrap_digests(
    corpus_df: DataFrame, seed_path: str, text_col: str = "text"
) -> None:
    """One-off seeding: digest an EXISTING (historical, typically
    already-deduped) corpus so streaming ingest dedups against it from
    batch 0 without ever rescanning it. The seed lives OUTSIDE the
    batchlog — as its own dataset passed via ``seed_path`` — rather
    than as a pre-compacted negative partition, because a negative id
    would claim coverage of batch 0 and the live view would then drop
    the stream's real first batch. Content digests only (NULL text is
    not content, matching the ingest's own digest deltas)."""
    (
        corpus_df.select(F.md5(F.col(text_col)).alias("text_md5"))
        .where(F.col("text_md5").isNotNull())
        .distinct()
        .write.mode("overwrite")
        .parquet(seed_path)
    )


def read_digests(
    spark: SparkSession,
    digest_path: str,
    before_batch: int | None = None,
    seed_path: str | None = None,
) -> DataFrame:
    """The digest set, optionally restricted to batches strictly
    before ``before_batch`` (the replay-safe view batch N must dedup
    against). Compacted (negative-id) partitions always qualify:
    ``compact_digests`` only ever folds checkpoint-committed batches,
    which are < any batch still being (re)played. A ``seed_path``
    bootstrap dataset (``bootstrap_digests``) is historical by
    definition and always qualifies too."""
    live = read_before(spark.read.parquet(digest_path), before_batch).select(
        "text_md5"
    )
    if seed_path is not None:
        live = live.unionByName(spark.read.parquet(seed_path))
    return live


def read_corpus(spark: SparkSession, corpus_path: str) -> DataFrame:
    """The deduped corpus as of now — the exactly-once live view
    (deepest compacted partition + positives above its coverage;
    before any compaction that is simply every batch partition),
    bookkeeping column dropped."""
    return read_before(spark.read.parquet(corpus_path)).drop(BATCH_COL)


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    digest_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_path: str | None = None,
) -> DataFrame:
    """Dedup one (micro-)batch against all earlier batches (and an
    optional ``bootstrap_digests`` seed) and land its survivors.
    Usable directly for batch backfills and as the foreachBatch body.
    Deterministic given (batch rows, earlier state) — see module
    docstring for the replay argument.

    Returns the survivor frame (already materialized by the in-body
    checkpoint), so composed sinks (``streaming.crawl``) can index the
    SAME rows further without re-running the dedup anti-join."""
    spark = batch_df.sparkSession
    known = (
        read_digests(spark, digest_path, before_batch=batch_id, seed_path=seed_path)
        if log_exists(spark, digest_path)
        else (
            spark.read.parquet(seed_path).select("text_md5")
            if seed_path is not None
            else None
        )
    )
    fresh, _ = incremental_exact_dedup(
        batch_df, known, id_col=id_col, text_col=text_col, keep_digest=True
    )
    # two consumers (corpus rows + digest delta) of one dedup plan:
    # materialize once, kilobyte-per-row on the digest side and the
    # batch's own survivors on the corpus side — never historical data
    fresh = fresh.localCheckpoint(eager=True)
    write_batch_partition(fresh.drop("text_md5"), batch_id, corpus_path)
    write_batch_partition(
        fresh.select("text_md5").where(F.col("text_md5").isNotNull()).distinct(),
        batch_id,
        digest_path,
    )
    return fresh.drop("text_md5")


def streaming_dedup_ingest(
    stream_df: DataFrame,
    corpus_path: str,
    digest_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed_path: str | None = None,
):
    """Attach the dedup-ingest sink to a document stream; returns the
    StreamingQuery. ``seed_path`` points at a ``bootstrap_digests``
    dataset to dedup against a pre-existing corpus from batch 0."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: ingest_batch(
            df, bid, corpus_path, digest_path, id_col, text_col,
            seed_path=seed_path,
        ),
        [corpus_path, digest_path],
    )


def compact_digests(
    spark: SparkSession, digest_path: str, up_to_batch: int
) -> int:
    """Fold digest partitions ``__batch <= up_to_batch`` into
    ``__batch=-(up_to_batch+1)`` (a pure ``distinct`` union — the
    digest log is a set). Returns superseded directories dropped.

    CONTRACT (stricter than the sketch store's): ``up_to_batch`` must
    be <= the stream's checkpoint-COMMITTED batch id. The ingest
    anti-join treats compacted digests as "strictly earlier than any
    batch", which is only true if no folded batch can ever replay —
    folding an uncommitted batch's digests would make its own replay
    see itself as history and drop every row (the exact loss this
    module's 'strictly before' read exists to prevent). Crash windows
    within compaction itself are read-safe exactly as in the sketch
    store: readers take the deepest negative partition plus only the
    positives above its coverage, so a retry merely reclaims space.
    """
    return compact_log(
        spark,
        digest_path,
        up_to_batch,
        lambda live: live.select("text_md5").distinct(),
    )


def compact_corpus(
    spark: SparkSession, corpus_path: str, up_to_batch: int
) -> int:
    """Fold corpus partitions ``__batch <= up_to_batch`` into the
    negative-id partition — the small-file valve for a months-long
    crawl (one directory per micro-batch otherwise grows without
    bound). The fold is a pure re-selection: corpus rows are immutable
    kept documents.

    Unlike the DIGEST/SIGNATURE logs, the corpus is never read back by
    the sink body, so ``up_to_batch`` need not be checkpoint-committed
    (sketch-store-grade): a replayed covered batch re-creates its
    positive partition with identical rows, and ``read_corpus``'s
    live view ignores it as already inside the deepest negative."""
    return compact_log(
        spark,
        corpus_path,
        up_to_batch,
        lambda live: live.drop(BATCH_COL),
    )


# --- near-duplicate (MinHash-LSH) ingest ---------------------------------
#
# The same loop with `operators.dedup.incremental_minhash_dedup` as the
# per-batch body: the persisted state is the MINHASH SIGNATURE log
# (doc_id + num_hashes int64 columns — tens of bytes per kept doc, a
# fixed fraction of corpus bytes like the digest log), partition per
# batch. Everything about replay safety transfers verbatim: the batch
# dedups against signatures from STRICTLY EARLIER partitions, so the
# body is deterministic in (batch rows, earlier state) and a replay
# recomputes identical corpus+signature partitions — reading its own
# already-landed signatures would score every row at agreement 1.0
# against itself and drop the whole batch. Near-dup ingest SUBSUMES
# exact ingest (an exact duplicate has Jaccard and signature agreement
# 1.0 >= any threshold); docs with no shingles (NULL/empty text) carry
# no signature rows, are never candidates, and always survive —
# extraction failures are not content, same as the exact loop.


def bootstrap_signatures(
    corpus_df: DataFrame,
    seed_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One-off seeding for the NEAR-dup loop: minhash-sign an existing
    corpus (one shingle+signature pass — the only full read it will
    ever need) so streaming near-dup ingest screens against it from
    batch 0. Same outside-the-batchlog placement rationale as
    ``bootstrap_digests``."""
    from ..operators.dedup import minhash_signature, shingles

    minhash_signature(shingles(corpus_df, id_col, text_col), id_col).write.mode(
        "overwrite"
    ).parquet(seed_path)


def read_signatures(
    spark: SparkSession,
    sig_path: str,
    before_batch: int | None = None,
    seed_path: str | None = None,
) -> DataFrame:
    """The historical signature table (doc_id + mh* columns),
    restricted to batches strictly before ``before_batch`` — the
    replay-safe view batch N must near-dup against. A ``seed_path``
    bootstrap dataset is historical by definition and always
    qualifies."""
    live = read_before(spark.read.parquet(sig_path), before_batch).drop(BATCH_COL)
    if seed_path is not None:
        live = live.unionByName(spark.read.parquet(seed_path))
    return live


def ingest_batch_neardup(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    sig_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    seed_path: str | None = None,
) -> DataFrame:
    """Near-dup one (micro-)batch against all earlier batches (and an
    optional ``bootstrap_signatures`` seed) and land its survivors +
    their signature rows. Usable directly for batch backfills and as
    the foreachBatch body. Returns the survivor frame (the operator
    pins its fresh-id list, so further consumers — the composed
    ``streaming.crawl`` sink indexing survivors into BM25/IVF deltas —
    replay from the pin, not from the historical joins).

    Plan shape per batch: within-batch LSH + exact-Jaccard verify,
    then one band equi-join + one signature-agreement join against the
    partition-pruned signature log (never the corpus). The operator
    pins its multi-consumer intermediates (shingles, signatures, the
    fresh-id list) via ``lazy_checkpoint``, so the corpus write and the
    signature write run the historical joins ONCE between them — and
    the signature write's lineage is severed from ``sig_path`` before
    it overwrites its own partition there."""
    spark = batch_df.sparkSession
    known = (
        read_signatures(spark, sig_path, before_batch=batch_id, seed_path=seed_path)
        if log_exists(spark, sig_path)
        else (spark.read.parquet(seed_path) if seed_path is not None else None)
    )
    fresh, sig_delta = incremental_minhash_dedup(
        batch_df,
        known,
        id_col=id_col,
        text_col=text_col,
        threshold=threshold,
        sigs="delta",
        pin=_lazy_checkpoint,
    )
    write_batch_partition(fresh, batch_id, corpus_path)
    write_batch_partition(sig_delta, batch_id, sig_path)
    return fresh


def streaming_neardup_ingest(
    stream_df: DataFrame,
    corpus_path: str,
    sig_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    seed_path: str | None = None,
):
    """Attach the near-dup ingest sink to a document stream; returns
    the StreamingQuery. ``seed_path`` points at a
    ``bootstrap_signatures`` dataset to screen against a pre-existing
    corpus from batch 0."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: ingest_batch_neardup(
            df, bid, corpus_path, sig_path, id_col, text_col,
            threshold, seed_path=seed_path,
        ),
        [corpus_path, sig_path],
    )


def compact_signatures(
    spark: SparkSession, sig_path: str, up_to_batch: int
) -> int:
    """Fold signature partitions ``__batch <= up_to_batch`` into
    ``__batch=-(up_to_batch+1)``. Each kept doc owns exactly one
    signature row and appears in one live partition, so the fold is a
    pure column re-selection (``dropDuplicates`` on the id guards the
    invariant at no extra cost — it's the merge key either way).

    CONTRACT: identical to ``compact_digests`` — ``up_to_batch`` must
    be <= the stream's checkpoint-COMMITTED batch id, because the
    ingest reads this log back as strictly-earlier state."""
    return compact_log(
        spark,
        sig_path,
        up_to_batch,
        lambda live: live.drop(BATCH_COL).dropDuplicates(
            [c for c in live.columns if not c.startswith("mh") and c != BATCH_COL]
        ),
    )
