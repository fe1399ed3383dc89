"""Partitioned datasets: hive-style layout, dynamic overwrite, pruning.

At 100 TB the events table is written partitioned by date (and often
sub-bucketed); queries touching a day read one directory, not the
table. This module encodes the three production rules:

- write with ``partitionBy`` -> hive-style ``col=value`` directories;
- overwrite with ``partitionOverwriteMode=dynamic`` so a backfill
  replaces only the partitions present in the incoming frame (static
  mode would wipe the whole table);
- verify pruning: a filtered scan must show the predicate under
  ``PartitionFilters`` (metadata-only pruning), not ``DataFilters``
  (per-file evaluation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], dynamic: bool = True
) -> None:
    """Write (or dynamically overwrite) a hive-partitioned dataset.
    The mode is this write's own option: ``dynamic=False`` replaces the
    whole dataset whatever the session's overwrite mode, and neither
    choice changes the session."""
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic" if dynamic else "static"
    ).partitionBy(*partition_cols).parquet(path)


def with_date_partition(df: DataFrame, ts_col: str = "ts", out_col: str = "dt") -> DataFrame:
    """Derive the date partition column from an event timestamp."""
    return df.withColumn(out_col, F.to_date(ts_col))


def write_sorted_ranges(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    num_files: int | None = None,
) -> None:
    """Write parquet whose files hold DISJOINT, internally-sorted key
    ranges: ``repartitionByRange`` (sampled range boundaries, one
    shuffle) + ``sortWithinPartitions`` (no global sort barrier).

    The cluster-ordered layout pattern: parquet min/max column stats
    per file become effective zone maps, so a point or range predicate
    on ``sort_cols`` prunes to ~one file at planning time instead of
    scanning the table — the single highest-leverage layout choice for
    a 100 TB fact table queried by time or key. (Total-order output as
    one globally sorted stream is the anti-pattern; disjoint sorted
    ranges give the same pruning without a single-partition sink.)
    """
    out = df.repartitionByRange(*( [num_files] if num_files else [] ), *sort_cols)
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").parquet(path)


def _spread_bits(x, gap_masks=(
    (16, 0x0000FFFF0000FFFF),
    (8, 0x00FF00FF00FF00FF),
    (4, 0x0F0F0F0F0F0F0F0F),
    (2, 0x3333333333333333),
    (1, 0x5555555555555555),
)):
    """Spread a 32-bit int's bits to the even bit positions of a long —
    the magic-mask interleave, five shift+mask steps, all codegen."""
    for shift, mask in gap_masks:
        x = (x.bitwiseOR(F.shiftleft(x, shift))).bitwiseAND(F.lit(mask))
    return x


def zvalue(
    specs: list[tuple[str, int, int]], bits: int = 16
) -> F.Column:
    """Z-order (Morton) key over 2+ columns: quantize each column to
    ``bits`` bits against its [lo, hi) domain, then bit-interleave.

    ``specs`` is [(col, lo, hi), ...] — the domain bounds come from
    table-level metadata/stats (a constant, NOT a data scan; at scale
    the catalog already has them, and a stale-but-covering bound only
    costs resolution, never correctness). Quantization is linear:
    clamp((col - lo) * 2^bits / (hi - lo)).

    Interleaving gives every column locality in the SAME sort order:
    sorting by the z-value clusters rows so each output file covers a
    small hyper-rectangle of the key space, so parquet min/max stats
    prune on ANY of the columns — the multi-dimensional generalization
    of ``write_sorted_ranges`` (which is optimal for its first column
    and useless for the rest). Pure shift/mask expressions, no UDF.
    """
    k = len(specs)
    if k < 2:
        raise ValueError("zvalue needs >= 2 columns; use write_sorted_ranges for 1")
    if bits * k > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds the 63-bit key")
    quantized = []
    for col, lo, hi in specs:
        c = F.col(col).cast("double")
        q = F.floor((c - F.lit(lo)) / F.lit(hi - lo) * F.lit(1 << bits))
        quantized.append(
            F.greatest(F.lit(0), F.least(F.lit((1 << bits) - 1), q)).cast("long")
        )
    if k == 2:
        # stride-2 magic-mask spread: 5 shift+mask steps per column
        parts = [F.shiftleft(_spread_bits(q), i) for i, q in enumerate(quantized)]
    else:
        # generic stride-k interleave: bit j of column i lands at j*k+i
        parts = []
        for i, q in enumerate(quantized):
            acc = None
            for j in range(bits):
                bit = F.shiftleft(
                    F.shiftright(q, j).bitwiseAND(F.lit(1)), j * k + i
                )
                acc = bit if acc is None else acc.bitwiseOR(bit)
            parts.append(acc)
    z = parts[0]
    for p in parts[1:]:
        z = z.bitwiseOR(p)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    specs: list[tuple[str, int, int]],
    num_files: int,
    bits: int = 16,
) -> None:
    """Write parquet Z-order-clustered on ``specs``: range-partition by
    the z-value (disjoint file ranges, one shuffle) and sort within
    each file, so every file's min/max stats cover a compact region of
    every clustered column. The z column itself is dropped — it exists
    only to drive the layout."""
    z = df.withColumn("__z", zvalue(specs, bits))
    (
        z.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )


def files_touched_by_range(
    spark: SparkSession, path: str, col: str, lo, hi
) -> tuple[int, int]:
    """(files whose [min,max] stats intersect [lo, hi], total files) —
    replays exactly the zone-map decision parquet/scan planning makes
    from footer stats. Diagnostic: one aggregate over the dataset
    grouped by ``input_file_name`` stands in for reading footers."""
    stats = (
        spark.read.parquet(path)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min(col).alias("mn"), F.max(col).alias("mx"))
    )
    agg = stats.agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(
            ((F.col("mx") >= F.lit(lo)) & (F.col("mn") <= F.lit(hi))).cast("int")
        ).alias("touched"),
    ).collect()[0]
    return int(agg["touched"]), int(agg["total"])


def dir_bytes(spark: SparkSession, path: str) -> int:
    """Total bytes under ``path`` via the Hadoop FileSystem API — a
    metadata listing (works for file:/hdfs:/s3a:), never a data scan."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.getContentSummary(p).getLength()


def compact_parquet(
    spark: SparkSession,
    src_path: str,
    out_path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ~``target_file_bytes`` files; returns the file count written.

    The standing ops task of every streaming/incremental pipeline: a
    micro-batch sink or per-task writer accumulates thousands of tiny
    files, and scan planning cost grows with file count (listing +
    footer reads + one task minimum each). File count is sized from
    the INPUT listing (metadata only, no data scan) — an approximation
    that intentionally ignores recompression, which is the standard
    trade. Writes to a NEW directory; swapping it over the source is
    the caller's (atomic-rename or table-metadata) move.
    """
    n_files = max(1, -(-dir_bytes(spark, src_path) // target_file_bytes))
    df = spark.read.parquet(src_path)
    df.repartition(n_files).write.mode("overwrite").parquet(out_path)
    return n_files


def write_with_bloom(
    df: DataFrame, path: str, bloom_cols: list[str], ndv: int = 100_000
) -> None:
    """Write parquet with split-block bloom filters on ``bloom_cols``.

    Zone maps (min/max) only skip when the file is CLUSTERED on the
    predicate column; bloom filters give point-equality skipping on
    high-cardinality columns in ANY order — the standard companion to
    z-order for id-lookup workloads. ``ndv`` sizes the filter (bits ~
    ndv * ln(1/fpp)); readers that support SBBF (parquet-mr engines,
    newer DuckDB) consult it before touching a row group. This
    container's pyarrow/DuckDB predate the metadata accessors, so the
    test verifies the filter bytes are present via the written-size
    delta and data equality, not via footer introspection.
    """
    w = df.write.mode("overwrite")
    for c in bloom_cols:
        w = w.option(f"parquet.bloom.filter.enabled#{c}", "true")
        w = w.option(f"parquet.bloom.filter.expected.ndv#{c}", str(ndv))
    w.parquet(path)


def partition_filters(df: DataFrame) -> str:
    """The PartitionFilters clause of the scan (test/diagnostic helper)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        if "PartitionFilters" in line:
            i = line.index("PartitionFilters")
            return line[i : i + 200]
    return ""
