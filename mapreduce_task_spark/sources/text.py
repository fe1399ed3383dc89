"""Line-oriented text sources and the ``key\\tvalue`` text sink.

Reference parity (SURVEY.md §2.1):

- S1 text scan  = ``spark.read.text`` (TextInputFormat analogue; Spark
  splits files by ``spark.sql.files.maxPartitionBytes`` the way MR splits
  by block — reference forces small splits at
  trace-insertindex-job/src/main/java/org/example/TraceInsertIndexJob.java:59-60,
  our knob is the same conf / ``min_partitions``).
- S4 text sink  = ``write_kv_text`` (TextOutputFormat analogue: one
  ``key\\tvalue`` line per record, one part file per partition;
  TraceWordCountJob.java:93).
- P6/P7 tab parse + malformed-line accounting
  (TraceInsertIndexMapper.java:102-115): blank lines and lines without a
  tab are dropped; ``read_tab_pairs`` exposes them via an ``observe``
  metric named MALFORMED_LINES (SURVEY §2.4 O5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F


def read_lines(spark: SparkSession, path: str, min_partitions: int | None = None) -> DataFrame:
    """S1: line-oriented read -> single ``value`` string column."""
    reader = spark.read
    df = reader.text(path)
    if min_partitions and df.rdd.getNumPartitions() < min_partitions:
        df = df.repartition(min_partitions)
    return df


def read_tab_pairs(
    spark: SparkSession,
    path_or_df: str | DataFrame,
    observation: Observation | None = None,
) -> DataFrame:
    """P6/P7: parse ``word\\tdoc_id`` lines -> (word, doc_id) rows.

    Mirrors TraceInsertIndexMapper.java:102-115: trim-empty lines and
    lines that don't split into exactly 2 fields on the first tab are
    dropped (and counted as MALFORMED_LINES when ``observation`` given;
    the reference counts them via Hadoop counters, we use
    ``DataFrame.observe`` which aggregates executor-side with no extra
    action).
    """
    df = (
        read_lines(spark, path_or_df)
        if isinstance(path_or_df, str)
        else path_or_df
    )
    # split(_, '\t', 2): at most 2 parts, like Java's split("\t", 2)
    parts = df.select(F.split(F.col("value"), "\t", 2).alias("p"), F.col("value"))
    # trim-empty as Java's String.trim() sees it: every char <= U+0020
    # (a tab-only line is blank), not only the spaces Spark's trim strips
    is_blank = F.col("value").rlike("^[\\x00-\\x20]*$")
    is_malformed = is_blank | (F.size(F.col("p")) < 2)
    if observation is not None:
        parts = parts.observe(
            observation,
            F.sum(is_malformed.cast("long")).alias("MALFORMED_LINES"),
            F.count(F.lit(1)).alias("RAW_LINES"),
        )
    return (
        parts.filter(~is_malformed)
        .select(F.col("p")[0].alias("word"), F.col("p")[1].alias("doc_id"))
    )


def write_kv_text(df: DataFrame, path: str, key_col: str, value_col: str, num_files: int | None = None) -> None:
    """S4: TextOutputFormat analogue — ``key\\tvalue`` lines.

    ``num_files`` plays the role of the reducer count (one part file per
    partition, TraceWordCountJob.java:100); mode=overwrite replaces the
    reference's delete-output-dir shell step (S5).
    """
    out = df.select(
        F.concat_ws("\t", F.col(key_col).cast("string"), F.col(value_col).cast("string")).alias(
            "value"
        )
    )
    if num_files:
        out = out.repartition(num_files)
    out.write.mode("overwrite").text(path)


def write_kv_text_stream(
    df: DataFrame,
    path: str,
    key_col: str,
    value_col: str,
    checkpoint: str,
    trigger_available_now: bool = True,
):
    """S4 on streams: append ``key\\tvalue`` text via the native text
    sink, one subdirectory per micro-batch epoch handled by the sink's
    own commit log (exactly-once under retries thanks to the
    checkpoint + file-sink manifest).

    Returns the started StreamingQuery; callers own awaitTermination.
    """
    out = df.select(
        F.concat_ws(
            "\t", F.col(key_col).cast("string"), F.col(value_col).cast("string")
        ).alias("value")
    )
    writer = (
        out.writeStream.format("text")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
