"""foreachBatch idempotent upsert: streaming merge into a keyed
parquet snapshot — the production sink pattern when the target is
plain parquet (no transactional table format available).

The target is hash-bucket-partitioned on the key. Each micro-batch:

1. reduce the batch to its latest row per key (deterministic order);
2. find which buckets the batch touches (bounded by ``num_buckets`` —
   a metadata-sized driver list, never data-sized);
3. read ONLY those bucket partitions from the target and take the
   latest row per key over target+batch (last-writer-wins, so stale
   or replayed batches can never regress a key);
4. rewrite ONLY those partitions (dynamic partition overwrite).

Idempotence, not transactions: the merge is a deterministic function
of (target state, batch rows), so replaying a batch after a
crash-before-checkpoint converges to the same target — the parquet
answer to exactly-once sinks. (A transactional format would add
atomic multi-partition commit; the bucket rewrite here is atomic per
partition directory.)

Scale: write amplification per batch is bounded by touched buckets x
bucket size; ``num_buckets`` dials rewrite granularity against
file-count overhead exactly like any bucketed table. The batch-local
window runs per key partition (no global window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from .batchlog import attach_batch_sink

BUCKET_COL = "__bucket"


def _target_exists(spark: SparkSession, path: str) -> bool:
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


def latest_per_key(df: DataFrame, key_col: str, order_cols: list[str]) -> DataFrame:
    """Latest row per key under a DETERMINISTIC total order (callers
    must include a unique tiebreaker in ``order_cols``)."""
    w = Window.partitionBy(key_col).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_batch(
    batch_df: DataFrame,
    path: str,
    key_col: str,
    order_cols: list[str],
    num_buckets: int = 16,
) -> None:
    """Merge one (micro-)batch into the bucketed parquet target.
    Usable directly for batch backfills and as the foreachBatch body."""
    spark = batch_df.sparkSession
    fresh = latest_per_key(batch_df, key_col, order_cols).withColumn(
        BUCKET_COL, F.pmod(F.hash(key_col), F.lit(num_buckets))
    )
    if _target_exists(spark, path):
        touched = [
            r[0] for r in fresh.select(BUCKET_COL).distinct().collect()
        ]  # <= num_buckets ids: metadata-sized by construction
        existing = spark.read.parquet(path).filter(F.col(BUCKET_COL).isin(touched))
        # last-writer-wins over target+batch: an out-of-order or replayed
        # batch can never regress a key past a newer target row
        merged = latest_per_key(existing.unionByName(fresh), key_col, order_cols)
    else:
        merged = fresh
    # dynamic: replace only the touched buckets (this write's own
    # option — the session's overwrite mode is left alone)
    merged.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(BUCKET_COL).parquet(path)


def streaming_upsert(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    key_col: str,
    order_cols: list[str],
    num_buckets: int = 16,
):
    """Attach the upsert sink to a stream; returns the StreamingQuery.
    Append-mode source rows flow through foreachBatch, so arbitrary
    batch DataFrame logic (the bucket merge) runs per micro-batch."""

    return attach_batch_sink(
        stream_df,
        checkpoint,
        lambda df, _bid: upsert_batch(df, path, key_col, order_cols, num_buckets),
    )


def read_snapshot(spark: SparkSession, path: str) -> DataFrame:
    """Read the upsert target without the layout column."""
    return spark.read.parquet(path).drop(BUCKET_COL)
