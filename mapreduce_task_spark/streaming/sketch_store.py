"""Streaming sketch store: per-micro-batch mergeable sketches persisted
as partitioned parquet, rolled up at read time.

The streaming face of the store-once/merge-many pattern
(``operators/sketches.py``): each micro-batch writes ONE partition of
per-group sketch rows — a DataSketches HLL (distinct keys), a
KllDoublesSketch (value quantiles), and an exact row count — under
``__batch=<batch_id>``. Readers answer "distinct users / p50 value per
group (or overall), as of now" by merging the stored kilobyte sketches
(``hll_union_agg`` / ``kll_merge_agg_double``), never rescanning the
raw stream.

Exactly-once without transactions: the unit of commit is the batch's
OWN partition directory. A replayed micro-batch (crash before the
checkpoint advanced) dynamically overwrites ``__batch=<id>`` with the
identical recomputed rows — idempotent by construction, the same
contract as ``streaming/upsert.py`` but append-shaped (no read-modify-
write of prior state on the hot path, so the sink does no merge work
per batch; merging is O(groups x batches) kilobyte rows at read).

Scale: sketch rows are ~3 KB each regardless of batch size, so a
year of minutely batches over any volume is ~groups x 500k rows of
kilobyte payloads — compact-able by re-sketching old partitions into
coarser ones with the same merge functions (sketches are associative:
day rollups of minute sketches are exact merges, not re-aggregations).

Partition id spaces: micro-batches own the NON-NEGATIVE ids (Spark
batch ids start at 0 and only grow); compaction owns the NEGATIVE
ids — partition ``__batch=-(u+1)`` holds the merge of every batch
``<= u``. Because the two spaces are disjoint, a replayed micro-batch
can only ever (re)write a positive partition, never the compacted
history, and readers derive a coverage watermark from the deepest
negative id to ignore superseded positives — see ``read_rollup`` /
``compact_batches`` for the exactly-once argument.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .batchlog import (
    BATCH_COL,
    attach_batch_sink,
    batch_ids as _batch_ids,
    compact_log,
    covered_watermark as _covered,
    live_view as _live,
    write_batch_partition,
)


def _cols(group_col: "str | list[str]") -> list[str]:
    return [group_col] if isinstance(group_col, str) else list(group_col)


def batch_group_sketches(
    df: DataFrame,
    group_col: "str | list[str]",
    key_col: str,
    val_col: str,
    k: int = 200,
) -> DataFrame:
    """One sketch row per group: (group..., hll BINARY, kll BINARY,
    n_rows). ``group_col`` may be a list — e.g. ``["window", "type"]``
    for per-event-time-window dashboards."""
    return df.groupBy(*_cols(group_col)).agg(
        F.hll_sketch_agg(key_col).alias("hll"),
        F.kll_sketch_agg_double(F.col(val_col).cast("double"), k).alias("kll"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def write_batch_sketches(
    batch_df: DataFrame,
    batch_id: int,
    path: str,
    group_col: "str | list[str]",
    key_col: str,
    val_col: str,
) -> None:
    """Sketch one micro-batch and (over)write exactly its partition.

    ``batch_id`` must be non-negative (enforced by the batchlog
    writer): the negative id space is reserved for compacted
    partitions (``compact_batches``), which no replayed micro-batch
    may ever touch.
    """
    write_batch_partition(
        batch_group_sketches(batch_df, group_col, key_col, val_col),
        batch_id,
        path,
    )


def streaming_sketch_store(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    group_col: "str | list[str]",
    key_col: str,
    val_col: str,
):
    """Attach the sketch-store sink; returns the StreamingQuery."""
    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, bid: write_batch_sketches(
            df, bid, path, group_col, key_col, val_col
        ),
        [path],
    )


def read_rollup(
    spark: SparkSession,
    path: str,
    group_col: "str | list[str]",
    median_rank: float = 0.5,
) -> DataFrame:
    """Per-group estimates off the stored sketches alone, plus a TOTAL
    row merging every group and batch: (group..., approx_distinct,
    approx_quantile, n_rows). No raw-data rescans. With a multi-column
    group (e.g. ["window", "type"]) the TOTAL row carries 'TOTAL' in
    every group column.

    Reads through the coverage watermark (``_live``), so answers are
    exactly-once even when a compaction crashed mid-cleanup or a
    replayed micro-batch re-created an already-compacted partition."""
    gcols = _cols(group_col)
    raw = spark.read.parquet(path)
    sk = _live(raw, _covered(_batch_ids(raw)))
    ests = [
        F.hll_sketch_estimate(F.hll_union_agg("hll")).alias("approx_distinct"),
        F.kll_sketch_get_quantile_double(
            F.kll_merge_agg_double("kll"), F.lit(median_rank)
        ).alias("approx_quantile"),
        F.sum("n_rows").alias("n_rows"),
    ]
    per = sk.groupBy(*gcols).agg(*ests)
    total = sk.agg(*ests).select(
        *[F.lit("TOTAL").alias(g) for g in gcols],
        "approx_distinct",
        "approx_quantile",
        "n_rows",
    )
    return per.select(
        *[F.col(g).cast("string").alias(g) for g in gcols],
        "approx_distinct",
        "approx_quantile",
        "n_rows",
    ).unionByName(total)


def compact_batches(spark: SparkSession, path: str, up_to_batch: int) -> int:
    """Fold every partition with ``__batch <= up_to_batch`` into the
    compacted partition ``__batch=-(up_to_batch+1)``.

    Sketches are associative — a day partition merged from minute
    partitions answers every query the minutes did — so compaction is
    a pure merge (hll_union_agg / kll_merge_agg_double / sum) of
    kilobyte rows, never a re-aggregation of raw data. Returns the
    number of superseded partition directories dropped.

    Crash/replay safety: the ``batchlog.compact_log`` id-space
    protocol. This store is read-only at rollup time (never fed back
    into a micro-batch body), so ``up_to_batch`` need NOT be
    checkpoint-committed — compacting an in-flight batch costs
    nothing worse than a dead duplicate directory that the
    ``read_rollup`` watermark filter ignores.
    """

    def fold(live: DataFrame) -> DataFrame:
        gcols = [
            c for c in live.columns if c not in ("hll", "kll", "n_rows", BATCH_COL)
        ]
        return live.groupBy(*gcols).agg(
            F.hll_union_agg("hll").alias("hll"),
            F.kll_merge_agg_double("kll").alias("kll"),
            F.sum("n_rows").alias("n_rows"),
        )

    return compact_log(spark, path, up_to_batch, fold)
