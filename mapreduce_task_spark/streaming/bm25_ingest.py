"""Streaming BM25 index maintenance: keep the persisted lexical index
fresh as documents stream in, without rebuilding it per batch.

The lexical sibling of ``ivf_ingest`` — same shape, different state.
``operators.ranking.bm25_build_index`` pays the tokenize + explode +
groupBy once; this module appends per-micro-batch DELTAS that merge
exactly:

- ``delta_postings``: the batch's (term, id, dl, tf) rows, partition
  per batch, term-clustered within it (same pushdown story as the
  base postings);
- ``delta_df``: the batch's per-term document frequencies — ADDITIVE
  (df counts documents, documents arrive once);
- ``delta_stats``: the batch's (n_docs, sum_dl) counters — ADDITIVE.

BM25's global scalars (n_docs, avgdl, per-term df) drift as the
corpus grows — that is exactly why the deltas store integer COUNTERS,
not derived doubles: bigint sums are associative, so search-time
merging (base counters + every delta's) reproduces the scalars a full
rebuild would compute bit-for-bit, and ``search_with_delta`` then
scores through the same shared ``score_postings`` tail as the plain
index search. Parity with ``bm25_topk`` over base ∪ appended is
asserted in tests.

Replay safety is the ``batchlog`` protocol: each delta row set is a
deterministic function of the batch alone (no earlier state is read
back at all — lexical append is even simpler than the dedup loops),
so a crash-replayed batch overwrites its own partitions identically.
Contract (same as the IVF delta): append each document once — this
module indexes what it is given, dedup belongs to ``dedup_ingest``
upstream.

``compact_*`` fold old partitions by re-selection (postings), term-sum
(df), and counter-sum (stats); ``merge_delta_into_base`` is the
offline segment merge (side-write + crash-resumable swap, like the
IVF one), after which the base stats/term_df/postings absorb the
delta and a fresh delta log starts empty.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ranking import doc_tokens, score_postings
from .batchlog import (
    BATCH_COL,
    attach_batch_sink,
    compact_log,
    log_exists,
    log_live,
    write_batch_partition,
)

_POSTINGS, _DF, _STATS = "delta_postings", "delta_df", "delta_stats"


def append_text_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """Index one (micro-)batch: its postings, df delta, and stat
    counters land in the three delta logs' own batch partitions."""
    toks = doc_tokens(batch_df, text_col).select(id_col, "toks", "dl")
    posts = (
        toks.select(id_col, "dl", F.explode("toks").alias("term"))
        .groupBy("term", id_col, "dl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        # two consumers (postings write + df delta) of one explode plan
        .localCheckpoint(eager=True)
    )
    write_batch_partition(
        posts.repartition("term").sortWithinPartitions("term", id_col),
        batch_id,
        f"{index_path}/{_POSTINGS}",
    )
    write_batch_partition(
        posts.groupBy("term").agg(F.count(F.lit(1)).alias("df_delta")),
        batch_id,
        f"{index_path}/{_DF}",
    )
    write_batch_partition(
        toks.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("sum_dl"),
        ),
        batch_id,
        f"{index_path}/{_STATS}",
    )


def streaming_bm25_append(
    stream_df: DataFrame,
    index_path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Attach the append sink to a document stream; returns the
    StreamingQuery. The base index (``bm25_build_index``) must exist
    and carry the exact counters (``n_docs_exact``, ``sum_dl``)."""

    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: append_text_batch(df, bid, index_path, id_col, text_col),
        [f"{index_path}/{d}" for d in (_POSTINGS, _DF, _STATS)],
    )


def _live(spark: SparkSession, path: str) -> DataFrame | None:
    return log_live(spark, path)


def search_with_delta(
    spark: SparkSession,
    index_path: str,
    terms: list[str],
    k: int = 50,
    id_col: str = "doc_id",
    filter_ids: DataFrame | None = None,
) -> DataFrame:
    """Top-k BM25 over the base index PLUS everything appended since
    the build. The global scalars are re-derived from exact integer
    counters (base + delta sums — associative, so the result equals a
    full rebuild's), per-term df merges additively, and base + delta
    postings score through the shared ``score_postings`` tail —
    reproducing ``bm25_topk`` over the union corpus bit-for-bit.

    ``filter_ids`` pre-filters the merged posting rows to an
    allow-list — the ``bm25_search_index(filter_ids=)`` filtered-search
    contract spanning base and streamed-in docs (corpus statistics
    stay corpus-wide, per the standard pre-filter semantics)."""
    base_stats = spark.read.parquet(f"{index_path}/stats")
    counters = base_stats.select(
        F.col("n_docs_exact").alias("n"), F.col("sum_dl").alias("s")
    )
    ds = _live(spark, f"{index_path}/{_STATS}")
    if ds is not None:
        counters = counters.unionByName(
            ds.select(F.col("n_docs").alias("n"), F.col("sum_dl").alias("s"))
        )
    stats = counters.agg(
        F.sum("n").cast("double").alias("n_docs"),
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("avgdl"),
    )

    tdf = (
        spark.read.parquet(f"{index_path}/term_df")
        .filter(F.col("term").isin(terms))
        .select("term", "df")
    )
    ddf = _live(spark, f"{index_path}/{_DF}")
    if ddf is not None:
        tdf = tdf.unionByName(
            ddf.filter(F.col("term").isin(terms)).select(
                "term", F.col("df_delta").cast("double").alias("df")
            )
        )
    tdf = tdf.groupBy("term").agg(F.sum("df").alias("df"))

    postings = spark.read.parquet(f"{index_path}/postings").filter(
        F.col("term").isin(terms)
    )
    dposts = _live(spark, f"{index_path}/{_POSTINGS}")
    if dposts is not None:
        postings = postings.unionByName(
            dposts.filter(F.col("term").isin(terms)).select(postings.columns)
        )
    if filter_ids is not None:
        postings = postings.join(
            filter_ids.select(id_col), id_col, "leftsemi"
        )
    return score_postings(postings, tdf, stats, id_col, k)


def _refuse_compact_while_merge_pending(spark: SparkSession, index_path: str):
    """The bm25 analogue of compact_log's own marker refusal (which
    checks ``<log>_merge_marker`` — a different name from this index's
    shared ``_MERGE_COMMITTED``): compacting while a crashed merge's
    marker is pending would rehome partitions the marker's teardown
    owns by id into a fresh negative partition it cannot see, leaving
    folded rows alive in the delta — double-counted by every search
    and baked into the base next merge."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{index_path}/_MERGE_COMMITTED")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        raise RuntimeError(
            f"crashed bm25 segment merge pending at {index_path}/"
            "_MERGE_COMMITTED — re-run merge_delta_into_base to finish "
            "recovery before compacting"
        )


def compact_postings_delta(
    spark: SparkSession, index_path: str, up_to_batch: int
) -> int:
    """Fold posting partitions by re-selection (immutable rows)."""
    _refuse_compact_while_merge_pending(spark, index_path)
    return compact_log(
        spark,
        f"{index_path}/{_POSTINGS}",
        up_to_batch,
        lambda live: live.drop(BATCH_COL),
    )


def compact_df_delta(spark: SparkSession, index_path: str, up_to_batch: int) -> int:
    """Fold df partitions by per-term sum (df is additive)."""
    _refuse_compact_while_merge_pending(spark, index_path)
    return compact_log(
        spark,
        f"{index_path}/{_DF}",
        up_to_batch,
        lambda live: live.groupBy("term").agg(
            F.sum("df_delta").alias("df_delta")
        ),
    )


def compact_stats_delta(
    spark: SparkSession, index_path: str, up_to_batch: int
) -> int:
    """Fold stat counters by sum (both are additive)."""
    _refuse_compact_while_merge_pending(spark, index_path)
    return compact_log(
        spark,
        f"{index_path}/{_STATS}",
        up_to_batch,
        lambda live: live.agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("sum_dl").alias("sum_dl"),
        ),
    )


def merge_delta_into_base(spark: SparkSession, index_path: str) -> int:
    """Fold the whole delta into the base index (offline; stream
    stopped): base postings absorb the delta postings, term_df and
    stats re-derive from merged counters, and the delta logs drop.
    Returns the number of posting rows merged in (0 for no-op/resume).

    Crash protocol (three state datasets have to move together, so a
    bare side-write-and-swap is NOT enough — a crash halfway through
    the delta deletes would strand counters that are in neither the
    base nor a delta):

    1. COMPUTE: side-write all three ``*_merged`` datasets from
       (base, delta) — deterministic, re-runnable, touches nothing
       live;
    2. write the ``_MERGE_COMMITTED`` marker — the atomic point of no
       return: the merged datasets are complete. The marker RECORDS
       each delta log's OWN max folded batch id (one JSON line,
       temp+rename commit, never partial) — PER LOG, not one global
       max: a crash mid-``append_text_batch`` leaves the three logs at
       different depths (postings lands before df before stats), and a
       cross-log max would watermark the lagging logs past batches
       they never folded, silently dropping the replayed batch's
       counters forever;
    3. TEARDOWN: persist each delta log's merged watermark (so a
       checkpoint-uncommitted batch replayed after the merge is
       skipped by ``write_batch_partition`` instead of recreating an
       already-folded partition — duplicate postings/counters), delete
       ONLY the partitions each log's own folded max owns, swap each
       ``*_merged`` in (the shared checked-swap helper), delete the
       marker. Every FS delete/rename checks its boolean return and
       raises loudly (Hadoop reports most failures that way); the
       surviving marker makes a re-run resume this exact teardown.

    A re-run recovers any crash: marker present → the deltas are
    already folded into the side-writes, so only finish the teardown;
    marker absent → every delta log is still intact (teardown never
    started), so recompute from scratch.
    """
    import json

    from .batchlog import (
        _write_merged_watermark,
        batch_ids,
        drop_partitions,
        max_folded_id,
        read_small_file,
        remove_log_dir_if_empty,
        swap_merged_into_base,
        write_small_file,
    )

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(index_path).getFileSystem(spark._jsc.hadoopConfiguration())
    marker_path = f"{index_path}/_MERGE_COMMITTED"
    marker = hpath(marker_path)
    names = ("postings", "term_df", "stats")
    deltas = (_POSTINGS, _DF, _STATS)

    def teardown(folded: dict | None) -> None:
        for d in deltas:
            log_path = f"{index_path}/{d}"
            # a per-log value of None means "full ownership" for THAT
            # log only (legacy single-int markers — see below); a
            # wholly-None folded means full ownership everywhere (the
            # pre-watermark empty-file markers)
            wm_val = None if folded is None else folded.get(d, -1)
            full = wm_val is None
            wm = -1 if full else int(wm_val)
            if wm >= 0:
                _write_merged_watermark(spark, log_path, wm)
            if log_exists(spark, log_path):
                # delete ONLY the partitions this log's own folded max
                # owns — batches appended since the crash survive
                # untouched (the ``merge_log_into_base`` contract;
                # whole-dir deletes would lose them). Negative
                # partitions always qualify: the compact_* helpers
                # refuse while the marker is pending, so none can
                # postdate the fold. A legacy id-less marker owns
                # everything listed (its merge folded the whole log
                # and nothing postdating it can be distinguished —
                # the pre-watermark behavior).
                ids = batch_ids(spark.read.parquet(log_path))
                owned = (
                    ids if full else [b for b in ids if b < 0 or b <= wm]
                )
                drop_partitions(spark, log_path, owned)
            remove_log_dir_if_empty(spark, log_path)
        swap_merged_into_base(spark, index_path, names)
        # loud like every other protocol step: a surviving marker is
        # recoverable (re-run resumes) but silently blocks compaction
        if fs.exists(marker) and not fs.delete(marker, False):
            raise RuntimeError(
                f"could not remove committed merge marker {marker_path}"
                " — re-run to resume"
            )

    if fs.exists(marker):
        # marker content = per-log max folded batch ids (JSON object);
        # legacy markers (pre-watermark empty files, or a single int
        # from the first hardening pass) degrade as documented
        try:
            raw = read_small_file(spark, marker_path)
        except RuntimeError:
            raw = None
        if raw is None:
            folded = None
        elif raw.lstrip().startswith("{"):
            folded = json.loads(raw)
        else:
            # legacy single-int marker (first hardening pass): the one
            # recorded max is the POSTINGS log's — expanding it to all
            # three logs is exactly the cross-log hazard the step-2
            # docstring warns about (a crash with postings at batch N
            # but df/stats at N-1 would watermark the lagging logs
            # past a batch they never folded, silently dropping its
            # replayed counters forever). The int applies to postings
            # only; term_df/stats fall back to full-ownership teardown
            # (None: drop everything listed, write no watermark — the
            # documented pre-watermark degradation, which can lose
            # post-crash appends but never double-counts or drops a
            # replay).
            folded = {_POSTINGS: int(raw), _DF: None, _STATS: None}
        teardown(folded)
        return 0
    if not any(log_exists(spark, f"{index_path}/{d}") for d in deltas):
        return 0

    folded = {}
    for d in deltas:
        folded[d] = (
            max_folded_id(batch_ids(spark.read.parquet(f"{index_path}/{d}")))
            if log_exists(spark, f"{index_path}/{d}")
            else -1
        )

    dposts = _live(spark, f"{index_path}/{_POSTINGS}")
    n = dposts.count() if dposts is not None else 0

    base_posts = spark.read.parquet(f"{index_path}/postings")
    merged_posts = (
        base_posts.unionByName(dposts.drop(BATCH_COL))
        if dposts is not None
        else base_posts
    )
    merged_posts.repartition("term").sortWithinPartitions("term").write.mode(
        "overwrite"
    ).parquet(f"{index_path}/postings_merged")

    tdf = spark.read.parquet(f"{index_path}/term_df")
    ddf = _live(spark, f"{index_path}/{_DF}")
    if ddf is not None:
        tdf = tdf.unionByName(
            ddf.select("term", F.col("df_delta").cast("double").alias("df"))
        )
    tdf.groupBy("term").agg(F.sum("df").alias("df")).write.mode("overwrite").parquet(
        f"{index_path}/term_df_merged"
    )

    base_stats = spark.read.parquet(f"{index_path}/stats")
    counters = base_stats.select(
        F.col("n_docs_exact").alias("n"), F.col("sum_dl").alias("s")
    )
    ds = _live(spark, f"{index_path}/{_STATS}")
    if ds is not None:
        counters = counters.unionByName(
            ds.select(F.col("n_docs").alias("n"), F.col("sum_dl").alias("s"))
        )
    counters.agg(
        F.sum("n").cast("double").alias("n_docs"),
        (F.sum("s").cast("double") / F.sum("n").cast("double")).alias("avgdl"),
        F.sum("n").alias("n_docs_exact"),
        F.sum("s").alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{index_path}/stats_merged")

    write_small_file(spark, marker_path, json.dumps(folded))
    teardown(folded)
    return n
