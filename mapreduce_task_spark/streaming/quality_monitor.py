"""Streaming corpus-health monitor: per-micro-batch quality metrics as
mergeable kilobyte rows, on the batchlog protocol.

The batch quality gate (``operators.quality``, ``corpus_report``)
answers "is this corpus healthy NOW" with a one-scan aggregate; a
continuously-ingesting pipeline also needs "how has health moved since
Tuesday" — without ever rescanning landed data. Same design rule as
the sketch store: persist only MERGEABLE state, so any time range
re-aggregates by pure merge.

Each micro-batch lands ONE row in its own ``__batch`` partition:

- additive counters: ``n_rows``, ``n_null_text``, ``n_null_id``,
  ``n_tokens``, ``n_chars`` (sums merge);
- ``hll_text``: an HLL sketch of the batch's content digests
  (``hll_union_agg`` merges) — the cross-batch distinct-text
  estimator that turns into a duplicate-rate trend no exact counter
  could provide without holding every digest.

Readers derive per-batch rates (``read_quality_trend``) or merge
everything into one corpus-level row (``read_quality_total``); both go
through the batchlog live view, and ``compact_quality`` folds old
batches by pure merge (sketch-store-grade contract: this log is never
read back by a sink body, so no checkpoint-committed requirement).

Replay-idempotent like every batchlog sink: the metrics row is a
deterministic aggregate of the batch, and a replay overwrites exactly
its own partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.textstats import ws_token_count
from .batchlog import (
    attach_batch_sink,
    compact_log,
    log_live,
    write_batch_partition,
)

def _merge() -> list:
    """The pure-merge fold of metric rows: counters sum, sketches
    union. Built per call — Columns need an active session, and
    building them at import would make importing this module (or
    ``streaming.crawl``) fail without one."""
    return [
        F.sum("n_rows").alias("n_rows"),
        F.sum("n_null_text").alias("n_null_text"),
        F.sum("n_null_id").alias("n_null_id"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.hll_union_agg("hll_text").alias("hll_text"),
    ]


def batch_quality_row(
    batch_df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One mergeable metrics row for one (micro-)batch — a single
    aggregation pass over the batch, nothing else."""
    t = F.col(text_col)
    return batch_df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(t.isNull().cast("long")).alias("n_null_text"),
        F.sum(F.col(id_col).isNull().cast("long")).alias("n_null_id"),
        F.coalesce(F.sum(ws_token_count(text_col).cast("long")), F.lit(0)).alias(
            "n_tokens"
        ),
        F.coalesce(F.sum(F.length(t).cast("long")), F.lit(0)).alias("n_chars"),
        F.hll_sketch_agg(F.md5(t)).alias("hll_text"),
    )


def streaming_quality_monitor(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Attach the monitor sink to a document stream; returns the
    StreamingQuery. Composes with the ingest sinks (attach both to the
    same source) — this one observes, it never filters."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: write_batch_partition(
            batch_quality_row(df, id_col, text_col), bid, path
        ),
        [path],
    )


def _rates(df: DataFrame) -> DataFrame:
    n = F.col("n_rows").cast("double")
    safe_n = F.nullif(n, F.lit(0.0))
    n_text = F.nullif((F.col("n_rows") - F.col("n_null_text")).cast("double"), F.lit(0.0))
    return df.select(
        *[c for c in df.columns if c != "hll_text"],
        F.coalesce(F.col("n_null_text") / safe_n, F.lit(0.0)).alias("null_text_rate"),
        F.coalesce(F.col("n_tokens") / safe_n, F.lit(0.0)).alias("tokens_per_doc"),
        # an all-NULL-text batch aggregates no values into the sketch
        # (NULL sketch) — report 0 distinct texts, not NULL
        F.coalesce(F.hll_sketch_estimate("hll_text"), F.lit(0)).alias(
            "approx_distinct_texts"
        ),
        # duplicate rate among rows that HAVE text (NULL text is not
        # content): 1 - distinct/​non-null, floored at 0 (HLL error can
        # nudge the estimate past the true count on tiny inputs)
        F.greatest(
            F.lit(0.0),
            F.coalesce(
                1.0 - F.hll_sketch_estimate("hll_text") / n_text, F.lit(0.0)
            ),
        ).alias("approx_dup_rate"),
    )


def read_quality_trend(spark: SparkSession, path: str) -> DataFrame:
    """Per-batch health rows with derived rates, through the live view
    (compacted history appears as one merged row at its negative id)."""
    live = log_live(spark, path)
    if live is None:
        raise FileNotFoundError(f"no quality log at {path}")
    return _rates(live)


def read_quality_total(spark: SparkSession, path: str) -> DataFrame:
    """One corpus-level row merging every live batch — counters sum,
    sketches union; no landed data is ever rescanned."""
    live = log_live(spark, path)
    if live is None:
        raise FileNotFoundError(f"no quality log at {path}")
    return _rates(live.agg(*_merge()))


def compact_quality(spark: SparkSession, path: str, up_to_batch: int) -> int:
    """Fold metric rows ``__batch <= up_to_batch`` into the negative-id
    partition by pure merge (sums + HLL union)."""
    return compact_log(
        spark, path, up_to_batch, lambda live: live.agg(*_merge())
    )
