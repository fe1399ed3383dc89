"""The composed crawl loop: one document stream, one checkpoint —
dedup, corpus landing, search-index freshness, and health monitoring
advance together.

This is the pipeline the per-concern sinks (``dedup_ingest``,
``bm25_ingest``, ``ivf_ingest``, ``quality_monitor``) exist to serve,
wired the way a production crawl actually runs: per micro-batch,

1. the MONITOR row describes the RAW batch (pre-dedup — the drop rate
   IS the signal) when ``quality_path`` is given;
2. near-dup ingest screens the batch against the persisted signature
   log and lands survivors + signatures (``corpus_path``/``sig_path``);
3. the SURVIVORS — and only they; a dropped near-dup must not be
   searchable — append to the BM25 delta index (``bm25_path``) and,
   when the stream carries an embedding column, to any of the ANN
   delta indexes: flat IVF (``ivf_path``), compressed IVF-PQ
   (``ivfpq_path``, r10 — frozen quantizer + codebook encode), and/or
   IVF-SQ (``ivfsq_path``, r12 — frozen quantizer + frozen-bounds SQ8
   encode). A freshly crawled document is immediately findable by
   lexical and ANN search via each index's ``search_with_delta``.

Why ONE foreachBatch (not N independent sinks off the same source):
every state write above is keyed by the same batch id and is a
deterministic function of (batch rows, strictly-earlier signature
state) — the batchlog replay argument. With a single checkpoint, a
crash anywhere inside the fan-out replays the whole batch and every
sub-write overwrites its own partitions byte-identically, so the
corpus, both search indexes, and the monitor can never disagree about
which batches are in. Independent sinks (the ``test_crawl_pipeline_
two_sinks_compose`` shape) remain correct but give per-sink progress:
after a crash, the corpus may be a batch ahead of the BM25 delta until
the laggard catches up. The composed sink trades that window away for
free, because none of the sub-writes needs its own source rescan —
dedup's survivor frame is pinned once and every index append derives
from the pin.

Scale shape per batch: the dedup joins touch the partition-pruned
signature log (never the corpus), the BM25 append is one tokenize +
explode over survivors, the IVF append is one broadcast-centroid
argmin — all O(batch), nothing rescans history. Maintenance stays
per-log and offline: each index's ``compact_*`` /
``merge_delta_into_base`` and the corpus/signature compactors run
under their own documented contracts, unchanged by composition.

The IVF leg indexes only survivor rows with a non-NULL embedding —
a document that arrives unembedded is searchable lexically right away
and joins the ANN index whenever an embedded re-crawl lands it (the
embedding step itself is upstream of this sink, like extraction).
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, functions as F

from .ann_delta import (
    FAMILIES,
    compact_delta,
    compact_drift,
    compact_saturation,
    drift_signal,
    index_logs,
    saturation_signal,
)
from .batchlog import attach_batch_sink, write_batch_partition
from .bm25_ingest import _DF, _POSTINGS, _STATS, append_text_batch
from .dedup_ingest import ingest_batch_neardup
from .ivf_ingest import append_batch as ivf_append_batch
from .quality_monitor import batch_quality_row


def crawl_batch(
    batch_df: DataFrame,
    batch_id: int,
    corpus_path: str,
    sig_path: str,
    bm25_path: str | None = None,
    ivf_path: str | None = None,
    ivfpq_path: str | None = None,
    ivfsq_path: str | None = None,
    quality_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    seed_path: str | None = None,
    quality_model=None,
    quality_threshold: float = 0.5,
    ivfpq_m: int = 8,
    ivfpq_dim: int = 64,
    ivfpq_per_list: bool = False,
) -> DataFrame:
    """Run one (micro-)batch through the full crawl loop; returns the
    survivor frame. Usable directly for batch backfills and as the
    foreachBatch body. The BM25/IVF/IVF-PQ base indexes must already
    exist (``bm25_build_index`` / ``ivf_build_index`` /
    ``ivfpq_build_index`` — over the seed corpus, or over an empty
    frame for a cold start). ``ivfpq_path`` appends survivors to the
    COMPRESSED index's delta (frozen coarse quantizer + codebook, see
    ``ivfpq_ingest``); ``ivfpq_m``/``ivfpq_dim``/``ivfpq_per_list``
    must ALL match its build (a per-list index encoded through the
    global-codebook path would write silently wrong codes).
    Both ANN legs may run side by side — a deployment typically keeps
    one, but the replay argument is identical (each append is
    deterministic in batch rows + frozen index).

    ``quality_model`` (a fitted ``quality_model.train_quality_model``
    PipelineModel) inserts the learned-filter stage: the monitor row
    still describes the RAW batch (the drop rate is the signal), but
    documents scoring under ``quality_threshold`` are screened out
    BEFORE the near-dup joins, so junk never enters the corpus, the
    signature log, or either search index — and never bloats the
    per-batch dedup state. Replay-safe: scoring with a FIXED fitted
    model is a per-row projection (same arithmetic every run, no
    aggregation), so the batch body stays deterministic in (batch,
    earlier state) and a replayed batch recomputes identical
    partitions."""
    if quality_path is not None:
        write_batch_partition(
            batch_quality_row(batch_df, id_col, text_col), batch_id, quality_path
        )
    if quality_model is not None:
        from ..operators.quality_model import filter_by_quality

        # NULL text carries no tokens to score; those rows bypass the
        # classifier and keep the ingest totality contract (an
        # extraction failure is not evidence of low quality — it
        # survives here exactly as it survives the shingle-less
        # near-dup screen)
        unscoreable = batch_df.where(F.col(text_col).isNull())
        batch_df = (
            filter_by_quality(
                quality_model,
                batch_df.where(F.col(text_col).isNotNull()),
                quality_threshold,
                text_col=text_col,
            )
            .drop("quality_prob")
            .unionByName(unscoreable)
        )
    fresh = ingest_batch_neardup(
        batch_df, batch_id, corpus_path, sig_path, id_col, text_col,
        threshold, seed_path=seed_path,
    )
    if bm25_path is not None:
        append_text_batch(fresh, batch_id, bm25_path, id_col, text_col)
    if ivf_path is not None and vec_col in fresh.columns:
        ivf_append_batch(
            fresh.where(F.col(vec_col).isNotNull()),
            batch_id,
            ivf_path,
            id_col=id_col,
            vec_col=vec_col,
        )
    if ivfpq_path is not None and vec_col in fresh.columns:
        from .ivfpq_ingest import append_batch as ivfpq_append_batch

        ivfpq_append_batch(
            fresh.where(F.col(vec_col).isNotNull()),
            batch_id,
            ivfpq_path,
            id_col=id_col,
            vec_col=vec_col,
            m=ivfpq_m,
            dim=ivfpq_dim,
            per_list=ivfpq_per_list,
        )
    if ivfsq_path is not None and vec_col in fresh.columns:
        from .ivfsq_ingest import append_batch as ivfsq_append_batch

        # shape/metric/per_list come from the index's own meta — the
        # SQ delta encode has no caller-supplied knobs to mismatch
        ivfsq_append_batch(
            fresh.where(F.col(vec_col).isNotNull()),
            batch_id,
            ivfsq_path,
            id_col=id_col,
            vec_col=vec_col,
        )
    return fresh


def streaming_crawl_ingest(
    stream_df: DataFrame,
    corpus_path: str,
    sig_path: str,
    checkpoint: str,
    bm25_path: str | None = None,
    ivf_path: str | None = None,
    ivfpq_path: str | None = None,
    ivfsq_path: str | None = None,
    quality_path: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    vec_col: str = "embedding",
    threshold: float = 0.5,
    seed_path: str | None = None,
    quality_model=None,
    quality_threshold: float = 0.5,
    ivfpq_m: int = 8,
    ivfpq_dim: int = 64,
    ivfpq_per_list: bool = False,
):
    """Attach the composed crawl sink to a document stream; returns
    the StreamingQuery. One checkpoint governs the whole fan-out (see
    module docstring for why that is the exactly-once shape).
    ``quality_model`` adds the learned-filter stage (see
    ``crawl_batch``); the fitted PipelineModel is captured in the sink
    closure and reused across micro-batches."""
    logs = [corpus_path, sig_path]
    if quality_path is not None:
        logs.append(quality_path)
    if bm25_path is not None:
        logs += [f"{bm25_path}/{d}" for d in (_POSTINGS, _DF, _STATS)]
    for kind, path in _ann_paths(ivf_path, ivfpq_path, ivfsq_path):
        logs += index_logs(kind, path)

    def body(batch_df: DataFrame, batch_id: int) -> None:
        crawl_batch(
            batch_df, batch_id, corpus_path, sig_path,
            bm25_path=bm25_path, ivf_path=ivf_path, ivfpq_path=ivfpq_path,
            ivfsq_path=ivfsq_path,
            quality_path=quality_path,
            id_col=id_col, text_col=text_col, vec_col=vec_col,
            threshold=threshold, seed_path=seed_path,
            quality_model=quality_model, quality_threshold=quality_threshold,
            ivfpq_m=ivfpq_m, ivfpq_dim=ivfpq_dim,
            ivfpq_per_list=ivfpq_per_list,
        )

    return attach_batch_sink(stream_df, checkpoint, body, logs)


def _ann_paths(ivf_path, ivfpq_path, ivfsq_path) -> list[tuple[str, str]]:
    """(kind, path) for each ANN index the crawl maintains."""
    return [
        (kind, path)
        for kind, path in (
            ("ivf", ivf_path), ("ivfpq", ivfpq_path), ("ivfsq", ivfsq_path)
        )
        if path is not None
    ]


def compact_crawl(
    spark,
    corpus_path: str,
    sig_path: str,
    committed_batch: int,
    bm25_path: str | None = None,
    ivf_path: str | None = None,
    ivfpq_path: str | None = None,
    ivfsq_path: str | None = None,
    quality_path: str | None = None,
    retrain_roots: tuple[str, ...] = (),
    retrain_ratio: float = 1.5,
    refit_frac: float = 0.01,
) -> dict[str, int]:
    """One maintenance pass over every log the composed sink writes:
    fold partitions ``__batch <= committed_batch`` in the corpus,
    signature, BM25-delta (×3), IVF-delta, and monitor logs. Returns
    superseded-directories-dropped per log (absent logs report 0).

    ``retrain_roots`` (r13 opt-in): VERSIONED index roots
    (``streaming.retrain``) to poll after compaction — each root's
    live version is checked against the same drift/saturation signals
    ``crawl_health`` surfaces, and a tripped signal triggers the full
    offline retrain (rebuild ∪ delta under fresh quantizers, fresh
    baseline, atomic manifest promote, post-watermark batches carried
    at ``committed_batch``). The result rides the returned dict as
    ``retrain:<root>`` = new epoch (0 = signal quiet). NOTE the
    stream-stopped contract: pass retrain_roots only from a
    maintenance window where the append stream is stopped — the
    compactions above are safe mid-stream, the retrain is not.

    ``committed_batch`` MUST be <= the stream's checkpoint-COMMITTED
    batch id. Only the SIGNATURE log strictly requires that (the sink
    reads it back as strictly-earlier state — folding an uncommitted
    batch would make its own replay see itself as history and drop
    the whole batch); the others tolerate covered replays. One
    watermark under the strictest contract keeps the call safe for
    all six, and the checkpoint-committed id is what a scheduler has
    in hand anyway. Searches and rollups are unaffected mid-pass:
    every compactor folds via the exactly-once live view, and the
    offline index merges (``bm25_ingest.merge_delta_into_base``,
    ``ivf_ingest.merge_delta_into_base``) remain separate,
    stream-stopped operations."""
    from .batchlog import log_exists
    from .bm25_ingest import (
        compact_df_delta,
        compact_postings_delta,
        compact_stats_delta,
    )
    from .dedup_ingest import compact_corpus, compact_signatures
    from .quality_monitor import compact_quality

    done: dict[str, int] = {}

    def run(name: str, path: str | None, fn) -> None:
        done[name] = (
            fn() if path is not None and log_exists(spark, path) else 0
        )

    run("corpus", corpus_path,
        lambda: compact_corpus(spark, corpus_path, committed_batch))
    run("signatures", sig_path,
        lambda: compact_signatures(spark, sig_path, committed_batch))
    if bm25_path is not None:
        run("bm25_postings", f"{bm25_path}/delta_postings",
            lambda: compact_postings_delta(spark, bm25_path, committed_batch))
        run("bm25_df", f"{bm25_path}/delta_df",
            lambda: compact_df_delta(spark, bm25_path, committed_batch))
        run("bm25_stats", f"{bm25_path}/delta_stats",
            lambda: compact_stats_delta(spark, bm25_path, committed_batch))
    compactors = {
        "delta": compact_delta, "drift": compact_drift, "sat": compact_saturation,
    }
    for kind, path in _ann_paths(ivf_path, ivfpq_path, ivfsq_path):
        for log in ("delta", *FAMILIES[kind].monitors):
            run(f"{kind}_{log}", f"{path}/{log}",
                partial(compactors[log], spark, path, committed_batch))
    run("quality", quality_path,
        lambda: compact_quality(spark, quality_path, committed_batch))
    for root in retrain_roots:
        from .retrain import retrain_if_due

        res = retrain_if_due(
            spark, root, retrain_ratio=retrain_ratio, refit_frac=refit_frac,
            committed_batch=committed_batch,
        )
        done[f"retrain:{root}"] = res.get("epoch", 0) if res["due"] else 0
    return done


def _path_exists(spark, path: str) -> bool:
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def crawl_health(
    spark,
    ivf_path: str | None = None,
    ivfpq_path: str | None = None,
    ivfsq_path: str | None = None,
    retrain_ratio: float = 1.5,
    refit_frac: float = 0.01,
) -> DataFrame:
    """One operational row per ANN index the crawl maintains — the
    monitors the per-concern modules expose (``pq.index_health``
    occupancy/skew; the ingest modules' drift and saturation signals)
    surfaced as a single frame a scheduler reads after each crawl
    window, instead of N per-index calls (r11 verdict #6).

    Columns: (index_path, n_lists, n_rows, largest_list, skew_ratio,
    metric, kind, drift_n, assign_ratio, quant_ratio, retrain,
    frac_clamped, refit). ``skew_ratio`` is the probe-cost multiplier
    of the hottest list (frozen-quantizer appends grow lists
    unevenly); the drift columns are the ``drift_signal`` merge over
    every appended-so-far batch and stay NULL until a drift row AND a
    recorded ``drift_baseline`` exist (``quant_ratio`` is NULL for
    indexes with no codes to reconstruct). ``frac_clamped``/``refit``
    are the IVF-SQ bounds-saturation signal (NULL for the other
    kinds). ``retrain``/``refit`` true on any row is the documented
    offline retrain trigger. Cost: metadata-cheap list counts + pure
    merges of the mergeable monitor rows per index — safe on a
    schedule against a 100 TB deployment."""
    from ..operators.pq import index_health
    from .batchlog import log_exists

    frames = []
    for kind, path in _ann_paths(ivf_path, ivfpq_path, ivfsq_path):
        monitors = FAMILIES[kind].monitors
        h = index_health(spark, path).select(
            F.lit(path).alias("index_path"), "*"
        )
        sig = None
        if (
            "drift" in monitors
            and log_exists(spark, f"{path}/drift")
            and _path_exists(spark, f"{path}/drift_base")
        ):
            sig = drift_signal(spark, path, retrain_ratio)
        if sig is None:
            sig = spark.range(1).select(
                F.lit(None).cast("bigint").alias("drift_n"),
                F.lit(None).cast("double").alias("assign_ratio"),
                F.lit(None).cast("double").alias("quant_ratio"),
                F.lit(None).cast("boolean").alias("retrain"),
            )
        else:
            cols = sig.columns
            sig = sig.select(
                F.col("n").cast("bigint").alias("drift_n"),
                F.col("assign_ratio"),
                (
                    F.col("quant_ratio")
                    if "quant_ratio" in cols
                    else F.lit(None).cast("double")
                ).alias("quant_ratio"),
                F.col("retrain"),
            )
        sat = None
        if "sat" in monitors and log_exists(spark, f"{path}/sat"):
            sat = saturation_signal(spark, path, refit_frac)
        if sat is None:
            sat = spark.range(1).select(
                F.lit(None).cast("double").alias("frac_clamped"),
                F.lit(None).cast("boolean").alias("refit"),
            )
        else:
            sat = sat.select("frac_clamped", "refit")
        frames.append(h.crossJoin(F.broadcast(sig)).crossJoin(F.broadcast(sat)))
    if not frames:
        raise ValueError("crawl_health needs at least one index path")
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out
