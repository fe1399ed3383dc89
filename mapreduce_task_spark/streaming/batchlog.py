"""Partition-per-batch parquet logs: the shared exactly-once protocol
under the streaming sinks that persist per-micro-batch state as plain
parquet (``sketch_store``, ``dedup_ingest``).

The protocol, in full:

- Each micro-batch dynamically overwrites exactly its OWN partition
  ``__batch=<id>``. Spark batch ids are non-negative and a replayed
  batch recomputes the same rows (foreachBatch bodies here are
  deterministic functions of the batch input and strictly-earlier
  state), so replays are idempotent per partition — the parquet
  answer to exactly-once sinks, no transaction log required.
- Compaction owns the NEGATIVE id space: partition ``__batch=-(u+1)``
  holds the fold of every batch ``<= u``. The two id spaces are
  disjoint, so a replayed micro-batch can never overwrite compacted
  history.
- Readers derive a coverage watermark from the deepest negative id
  and take the ``live_view``: that partition plus only the positive
  batches ABOVE its coverage. Shallower negatives (a crashed
  compaction's predecessor) and covered positives (crash leftovers,
  or a pre-checkpoint batch replayed after compaction re-created its
  partition) are duplicates of content already inside the deepest
  negative — excluded at read, which makes compaction cleanup pure
  space reclamation and both crash windows read-safe.

At 100 TB the listing in ``batch_ids`` stays metadata-sized: one id
per micro-batch or compaction, parsed from the partition directory
names of the file listing Spark makes when the log is opened (no Spark
job, never the data), and compaction exists precisely to keep that
count bounded.

Every write here overwrites dynamically through the write's own
``partitionOverwriteMode`` option, never the session conf, so no other
write in the session changes mode.
"""

from __future__ import annotations

import re

from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import IntegerType

from ..operators.pinning import release_checkpoint

BATCH_COL = "__batch"
_BATCH_DIR = re.compile(rf"/{BATCH_COL}=(-?\d+)/")


def log_exists(spark, path: str) -> bool:
    """True iff the log has at least one ``__batch=`` partition to
    read. A bare directory with only ``_SUCCESS`` is NOT readable — a
    zero-row dynamic overwrite creates exactly that (e.g. an ingest
    batch whose survivors were all NULL-text writes an empty digest
    delta), and ``spark.read.parquet`` would fail schema inference on
    it; state readers must treat it as "no history yet"."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return False
    return any(
        st.getPath().getName().startswith(f"{BATCH_COL}=")
        for st in fs.listStatus(p)
    )


def batch_ids(log: DataFrame) -> list[int]:
    """The ``__batch`` ids of the partitions holding data files, in
    ascending order — parsed from ``log.inputFiles()``, the file
    listing Spark already made when the log was opened: no Spark job,
    no data read (bounded: one id per micro-batch/compaction). Same ids
    as a ``distinct()`` over the partition column: a partition without
    data files holds no rows."""
    return sorted(
        {int(ids[-1]) for f in log.inputFiles() if (ids := _BATCH_DIR.findall(f))}
    )


def covered_watermark(ids: list[int]) -> int:
    """The deepest compacted partition ``__batch=-(u+1)`` proves every
    batch ``<= u`` is merged into it. Returns -1 when nothing is
    compacted."""
    return max((-b - 1 for b in ids if b < 0), default=-1)


def live_view(log: DataFrame, covered: int) -> DataFrame:
    """Filter to the exactly-once view: the deepest compacted
    partition plus every positive batch above its coverage (see module
    docstring for why the rest are safe to drop)."""
    return log.filter(
        (F.col(BATCH_COL) == F.lit(-(covered + 1)))
        | (F.col(BATCH_COL) > F.lit(covered))
    )


def read_log(spark, path: str, schema=None) -> DataFrame:
    """Open the log at ``path``, with ``schema`` when the writer
    recorded one (no schema-inference job), else through inference.
    A log holding a ``__batch`` id the recorded type cannot hold (an
    int recorded, an id beyond int range appended since) is read
    through inference: with the schema, Spark refuses the partition
    value, or reads it as NULL when
    ``spark.sql.sources.validatePartitionColumns`` is off."""
    if schema is not None:
        try:
            log = spark.read.schema(schema).parquet(path)
        except PySparkException as e:
            if e.getCondition() != "INVALID_PARTITION_VALUE":
                raise
        else:
            if BATCH_COL not in schema.names or _ids_fit(
                schema[BATCH_COL].dataType, batch_ids(log)
            ):
                return log
    return spark.read.parquet(path)


def _ids_fit(dtype, ids: list[int]) -> bool:
    if not isinstance(dtype, IntegerType):
        return True
    return all(-(2**31) <= b < 2**31 for b in ids)


def log_live(spark, path: str, schema=None) -> DataFrame | None:
    """The log's exactly-once live view, or None when no readable
    ``__batch=`` partition exists — the read-side one-liner every
    delta-log consumer (IVF, IVF-PQ, BM25 ingest search paths) shares,
    so the watermark/coverage discipline cannot drift per consumer.
    ``schema`` as in ``read_log``."""
    if not log_exists(spark, path):
        return None
    log = read_log(spark, path, schema)
    return live_view(log, covered_watermark(batch_ids(log)))


def read_before(log: DataFrame, before_batch: int | None = None) -> DataFrame:
    """The live view, optionally restricted to batches STRICTLY before
    ``before_batch`` — the replay-safe state batch N may read: if a
    crash landed batch N's own partition before the checkpoint
    committed, the replay must not see it (a dedup anti-join would
    drop the whole batch as "history"). Compacted (negative-id)
    partitions always qualify — compaction of state-feeding logs is
    contract-bound to checkpoint-committed batches, which are < any
    batch still being (re)played."""
    live = live_view(log, covered_watermark(batch_ids(log)))
    if before_batch is not None:
        live = live.filter(
            (F.col(BATCH_COL) < F.lit(before_batch)) | (F.col(BATCH_COL) < 0)
        )
    return live


def _watermark_path(path: str) -> str:
    return f"{path}_merged_watermark"


def read_small_file(spark, path: str) -> str | None:
    """First line of a tiny FS file, or None when the file is absent.
    The writer side (``write_small_file``) commits via temp+rename, so
    an existing file is never partial; an unreadable/empty existing
    file is an invariant violation and raises."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    reader = jvm.java.io.BufferedReader(
        jvm.java.io.InputStreamReader(fs.open(p))
    )
    try:
        raw = reader.readLine()
    finally:
        reader.close()
    if raw is None or not raw.strip():
        raise RuntimeError(f"unreadable protocol file {path}")
    return raw.strip()


def write_small_file(spark, path: str, content: str) -> None:
    """(Re)place a tiny FS file via create-temp-then-rename. The file
    content is never PARTIAL (the rename only exposes a fully-written
    temp), but replacement is delete-then-rename — Hadoop rename
    cannot atomically overwrite on every FS — so there is a window
    (and a crash state) where the path is ABSENT with the new value
    stranded in ``._tmp``. Every current caller tolerates absent-reads
    as "no value yet" AND sits inside a protocol whose marker forces a
    re-run that rewrites the file (merge watermarks/markers, offline
    contract — no concurrent readers); a future caller without that
    umbrella must not rely on read-availability across the swap.
    Delete/rename failures raise (Hadoop reports most by returning
    false)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    p = hpath(path)
    tmp = hpath(path + "._tmp")
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode()))
    finally:
        out.close()
    if fs.exists(p) and not fs.delete(p, False):
        raise RuntimeError(f"could not replace protocol file {path}")
    if not fs.rename(tmp, p):
        raise RuntimeError(f"could not commit protocol file {path}")


def max_folded_id(ids: list[int]) -> int:
    """The highest batch id a fold over these partitions covers: the
    max non-negative id, or the compaction coverage when only negative
    partitions remain. -1 for an empty list."""
    return max(
        max((b for b in ids if b >= 0), default=-1), covered_watermark(ids)
    )


# merged-watermark cache: write_batch_partition consults the watermark
# on EVERY micro-batch write, and most logs (dedup, sketch, monitor)
# never merge — without a cache they would pay an object-store
# existence check per batch forever. Safe to cache per process WHILE A
# STREAM RUNS: merges are offline (the stream is stopped — a running
# stream's process cannot race a merge in another process, and a merge
# in THIS process write-throughs below). The remaining hazard is
# stop-stream -> merge in ANOTHER process -> restart-stream in this
# same long-lived process: the restarted stream would trust a stale
# pre-merge value and re-write already-folded replayed batches. Hence
# ``invalidate_watermark_cache``: every streaming attach wrapper
# (``attach_batch_sink``) pops the key at (re)start, so the first write
# of each stream incarnation re-reads the file. Keyed by watermark path.
_WM_CACHE: dict[str, int] = {}


def invalidate_watermark_cache(path: str) -> None:
    """Drop the cached merged watermark for log ``path``, forcing the
    next consult to re-read the watermark file. MUST be called when an
    ingest stream (re)starts in a long-lived process (``attach_batch_sink``
    does) — a segment merge run in a different process while this
    one's stream was merely stopped would otherwise leave
    this process trusting a stale pre-merge value, re-writing replayed
    folded batches and double-counting their rows in every delta
    read. Callers wiring ``append_*``/``write_batch_partition`` into
    their own foreachBatch must call this at stream start themselves."""
    _WM_CACHE.pop(_watermark_path(path), None)


def attach_batch_sink(stream_df: DataFrame, checkpoint: str, body, logs=()):
    """The one attach step every ``streaming_*`` sink wrapper shares:
    invalidate the merged-watermark cache of each log the sink writes
    (``logs``), run ``body(batch_df, batch_id)`` per non-empty
    micro-batch through ``foreachBatch``, and drain the available input
    (``availableNow``). Returns the StreamingQuery."""
    for log in logs:
        invalidate_watermark_cache(log)

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            body(batch_df, batch_id)

    return (
        stream_df.writeStream.foreachBatch(run)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def merged_watermark(spark, path: str) -> int:
    """The highest batch id a completed segment merge has folded into
    this log's base datasets (``merge_log_into_base``), or -1 when no
    merge ever completed. Read from the tiny sibling file
    ``<log>_merged_watermark`` (cached per process — see _WM_CACHE)."""
    wp = _watermark_path(path)
    if wp in _WM_CACHE:
        return _WM_CACHE[wp]
    raw = read_small_file(spark, wp)
    val = -1 if raw is None else int(raw)
    _WM_CACHE[wp] = val
    return val


def _write_merged_watermark(spark, path: str, up_to: int) -> None:
    """Persist the merged watermark (monotone max with any existing
    value); see ``write_small_file`` for the atomicity contract."""
    _WM_CACHE.pop(_watermark_path(path), None)  # re-read from disk
    up_to = max(up_to, merged_watermark(spark, path))
    if up_to < 0:
        return
    write_small_file(spark, _watermark_path(path), str(int(up_to)))
    _WM_CACHE[_watermark_path(path)] = up_to


def _overwrite_partitions(df: DataFrame, path: str, partition_cols) -> None:
    """Replace exactly the partitions ``df`` holds rows for."""
    df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        *partition_cols
    ).parquet(path)


def write_batch_partition(
    df: DataFrame, batch_id: int, path: str, sub_partition_cols: tuple = ()
) -> bool:
    """(Over)write exactly partition ``__batch=<batch_id>`` with
    ``df``'s rows. ``batch_id`` must be non-negative — the negative id
    space belongs to compaction. ``sub_partition_cols`` adds physical
    partitioning WITHIN the batch partition (e.g. by cluster for
    inverted lists) — since ``__batch`` leads, the dynamic overwrite
    still replaces exactly the batch's own directory tree, and readers
    keep partition pruning on the sub columns.

    Merged-log replay guard: when a completed segment merge has folded
    batches up to ``<log>_merged_watermark`` into the base datasets
    (``merge_log_into_base``), a replayed batch at or below it is
    SKIPPED — its rows already live in the base, and recreating its
    partition would make every delta reader double-count them (the
    partition no longer exists for the live view's watermark to
    exclude). Logs that never merge have no watermark file and are
    unaffected. Contract: like the positive/negative id split, this
    assumes one checkpoint lineage per log — a FRESH checkpoint
    against an already-merged index must not reuse folded batch ids
    (they would read as replays and be dropped). Returns whether the
    partition was written (False for a skipped replay)."""
    if batch_id < 0:
        raise ValueError(
            f"batch_id must be >= 0 (got {batch_id}); negative ids are "
            "reserved for compacted partitions"
        )
    spark = df.sparkSession
    wm = merged_watermark(spark, path)
    if batch_id <= wm:
        # loud, not silent: a legitimate replay skip and a fresh
        # checkpoint lineage wrongly reusing folded batch ids look
        # identical here — the warning is the only signal that rows
        # are being dropped in the latter (contract-violation) case
        import warnings

        warnings.warn(
            f"batchlog: skipping write of batch {batch_id} <= merged "
            f"watermark {wm} at {path} — its rows are assumed already "
            "folded into the base. If this stream is a FRESH checkpoint "
            "lineage reusing old batch ids, this is silently dropping "
            "data: use fresh batch ids (new checkpoint => new log) "
            "instead.",
            RuntimeWarning,
            stacklevel=2,
        )
        return False
    _overwrite_partitions(
        df.withColumn(BATCH_COL, F.lit(int(batch_id))),
        path,
        (BATCH_COL, *sub_partition_cols),
    )
    return True


def compact_log(
    spark,
    path: str,
    up_to_batch: int,
    fold,
    sub_partition_cols: tuple = (),
    schema=None,
) -> int:
    """The shared compaction skeleton: fold every live partition with
    ``__batch <= up_to_batch`` into the compacted partition
    ``__batch=-(up_to_batch+1)``, then drop the superseded
    directories. ``fold`` is the store's merge semantics — a pure
    function of the selected live rows (sketch merge for the sketch
    store, ``distinct`` for digest sets) returning the rows of the
    merged partition, WITHOUT the batch column. ``sub_partition_cols``
    names the log's physical layout (``write_batch_partition``) and
    must survive the fold; a name the log has no column for is skipped,
    so one call serves cluster-partitioned and flat logs alike.
    ``schema`` as in ``read_log``.

    Crash/replay safety (id-space protocol, module docstring):

    - The merge TARGET is negative, outside the micro-batch id space,
      so a replayed pre-checkpoint micro-batch can never overwrite
      compacted history — it re-creates its own positive partition,
      which the ``live_view`` watermark then ignores as covered.
    - The merge INPUT is the exactly-once live view (deepest negative
      + positives above its watermark), never "everything <=
      up_to_batch", so re-running after a crash between the merged
      write and cleanup cannot double-count leftover positives.
    - Cleanup is pure space reclamation: readers already exclude
      superseded partitions, so a crash anywhere in the delete loop
      leaves a correct store and a retry finishes the job.

    Whether ``up_to_batch`` may exceed the stream's checkpoint-
    committed batch id is the CALLER's contract: read-only rollup
    stores tolerate it (a replay just leaves a dead covered
    directory), state-feeding logs read back via ``read_before`` do
    not (folding an uncommitted batch would make its own replay see
    itself as strictly-earlier history).

    Returns the number of superseded partition directories dropped.
    """
    if up_to_batch < 0:
        raise ValueError(f"up_to_batch must be >= 0 (got {up_to_batch})")
    # a committed-but-unfinished segment merge owns this log's listed
    # partitions by exact id; compacting now would rehome those rows
    # into a fresh negative partition the merge recovery cannot see,
    # and the NEXT merge would fold them into the base a second time
    # (duplicate index rows). Refuse until the merge is finished.
    jvm = spark._jvm
    marker_p = jvm.org.apache.hadoop.fs.Path(f"{path}_merge_marker")
    mfs = marker_p.getFileSystem(spark._jsc.hadoopConfiguration())
    if mfs.exists(marker_p):
        raise RuntimeError(
            f"crashed segment merge pending at {path}_merge_marker — "
            "re-run merge_delta_into_base to finish recovery before "
            "compacting this log"
        )
    log = read_log(spark, path, schema)
    sub_partition_cols = [c for c in sub_partition_cols if c in log.columns]
    ids = batch_ids(log)
    covered = covered_watermark(ids)
    # compacting below the existing watermark never un-merges; the
    # effective coverage only grows
    effective = max(up_to_batch, covered)
    target = -(effective + 1)
    superseded = [
        b for b in ids if (0 <= b <= effective) or (b < 0 and b != target)
    ]
    if effective > covered:
        merged = (
            fold(
                live_view(log, covered).filter(
                    F.col(BATCH_COL) <= F.lit(effective)
                )
            )
            .withColumn(BATCH_COL, F.lit(int(target)))
            # sever the file-source lineage: the merged rows must
            # materialize BEFORE the overwrite below touches the same
            # path the fold reads from
            .localCheckpoint()
        )
        try:
            _overwrite_partitions(merged, path, (BATCH_COL, *sub_partition_cols))
        finally:
            release_checkpoint(merged)
    elif not superseded:
        return 0
    return drop_partitions(spark, path, superseded)


def drop_partitions(spark, path: str, ids: list[int]) -> int:
    """Delete the given partition directories. For compaction this is
    space reclamation (readers already exclude them), but the merge
    protocols delete partitions whose rows now live in the BASE — a
    silently-failed delete there leaves the partition in the live view
    (double-counted by every search, re-folded next merge) after the
    marker is gone. Hadoop reports most delete failures by returning
    FALSE, so a false return raises; the caller's marker (or a
    compaction retry) resumes. Returns how many existed and were
    dropped."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    dropped = 0
    for b in ids:
        p = jvm.org.apache.hadoop.fs.Path(f"{path}/{BATCH_COL}={b}")
        if fs.exists(p):
            if not fs.delete(p, True):
                raise RuntimeError(
                    f"could not delete partition {path}/{BATCH_COL}={b}"
                    " — re-run to resume"
                )
            dropped += 1
    return dropped


def drop_logs(spark, root: str, names) -> list[str]:
    """Delete the directories ``<root>/<name>`` outright (monitor logs
    and baselines on a reset, retired index versions) and drop their
    cached merged watermarks. Absent names are skipped; a FALSE delete
    raises like every protocol step. Returns the names that existed and
    were removed."""
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(root).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    dropped = []
    for name in names:
        p = jvm.org.apache.hadoop.fs.Path(f"{root}/{name}")
        if fs.exists(p):
            if not fs.delete(p, True):
                raise RuntimeError(f"could not remove {root}/{name}")
            dropped.append(name)
        invalidate_watermark_cache(f"{root}/{name}")
    return dropped


def swap_merged_into_base(spark, index_path: str, names) -> None:
    """Swap each ``<name>_merged`` side dir into ``<name>`` —
    delete-final then rename-side, each swap independently resumable.
    Hadoop FS reports most rename/delete failures by RETURNING FALSE,
    not raising — treating those as success would let a caller delete
    its log partitions with the merged rows stranded in a side dir
    nothing will ever swap. Fail LOUDLY instead: the caller's marker
    survives, so a re-run resumes this exact swap. Shared by
    ``merge_log_into_base`` and the bm25 three-log merge so the
    crash-protocol swap step cannot drift between them."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(index_path).getFileSystem(spark._jsc.hadoopConfiguration())
    for name in names:
        tmp_p = hpath(f"{index_path}/{name}_merged")
        final_p = hpath(f"{index_path}/{name}")
        if fs.exists(tmp_p):
            if fs.exists(final_p) and not fs.delete(final_p, True):
                raise RuntimeError(
                    f"segment merge could not delete {index_path}/{name}"
                    " before the swap — re-run to resume"
                )
            if not fs.rename(tmp_p, final_p):
                raise RuntimeError(
                    f"segment merge could not rename {index_path}/"
                    f"{name}_merged into place — re-run to resume"
                )


def remove_log_dir_if_empty(spark, log_path: str) -> None:
    """Drop a delta log directory once no ``__batch=`` partition
    remains (pure cleanup — an empty dir is already 'no history' to
    ``log_exists``). A FALSE delete raises like every other protocol
    step."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(log_path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        leftover = any(
            s.getPath().getName().startswith(f"{BATCH_COL}=")
            for s in fs.listStatus(p)
        )
        if not leftover and not fs.delete(p, True):
            raise RuntimeError(
                f"could not remove empty delta log {log_path}"
            )


def merge_log_into_base(
    spark, index_path: str, log_subdir: str, targets: list, write_merged, schema=None
) -> int:
    """The shared OFFLINE segment-merge skeleton: fold the delta log's
    live view into one or more base datasets, then drop exactly the
    merged batch partitions — crash-safe at every step, INCLUDING the
    operator mistake of restarting the append stream before finishing
    a crashed merge (the naive "resume iff the side dir exists and the
    delta is gone" protocol silently loses the merged rows there: a
    recreated delta makes the next merge read the stale base and
    overwrite the side dirs).

    ``targets`` are base dataset names under ``index_path``;
    ``write_merged(live, name)`` must write base[name] ∪ live to
    ``<index_path>/<name>_merged`` (mode overwrite). Protocol:

    1. If a COMMITTED marker exists (``<log>_merge_marker``, written
       only after every side dir completed), a previous merge owns the
       batch ids it recorded: finish the swaps, delete exactly those
       partitions from the log (batches appended since the crash
       survive untouched), drop the marker, return 0.
    2. Compute the live view; list ALL current partition ids (dead
       covered partitions are equally superseded by the merge).
    3. Write every ``<name>_merged`` side dir (recomputable until the
       marker commits — a half-written side dir without a marker is
       garbage the next run overwrites).
    4. Commit the marker (the merged ids as one JSON line in a single
       file, temp+rename committed — existence IS commitment, with no
       dependence on a job-committer's _SUCCESS config; tiny, bounded
       by compaction).
    5. Finish: per-target delete-final + rename-side (each swap
       independently resumable, with rename/delete FALSE returns
       raised loudly — the marker survives and a re-run resumes),
       then persist the merged watermark (``<log>_merged_watermark``
       — ``write_batch_partition`` skips replayed batches at or below
       it, closing the window where a stream crash before its
       checkpoint commit + a merge + a restart would recreate an
       already-folded partition and double-count its rows), targeted
       partition deletes, log dir removal when empty, marker delete.

    Searches between a crash and the re-run may see a stale base
    and/or partial delta — the documented OFFLINE contract (stream
    stopped, searches paused or staleness-tolerant); what the protocol
    guarantees is that NO merge ever reads a base missing committed
    merged rows, and codes/vectors-style multi-dataset bases can never
    end half-swapped after recovery. ``schema`` reads the log as in
    ``read_log``. Returns the merged live row count (0 for
    resume/no-op)."""
    import json

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path
    fs = hpath(index_path).getFileSystem(spark._jsc.hadoopConfiguration())
    log_path = f"{index_path}/{log_subdir}"
    marker = f"{index_path}/{log_subdir}_merge_marker"
    marker_p = hpath(marker)

    def marker_ids() -> list | None:
        """The committed merge's batch ids, or None when no marker is
        committed. Current markers are single FILES committed via
        ``write_small_file`` (temp+rename — existence IS commitment,
        independent of any job-committer config); a read failure on an
        existing file is transient and must ABORT, never silently fall
        back to a fresh merge: recovery may already have swapped some
        targets, and re-folding the still-present delta into them
        would duplicate every merged row. Legacy DIRECTORY markers
        (spark JSON datasets, pre-r10-late) are classified by the
        _SUCCESS their committer wrote last: without it the write was
        torn mid-commit (side dirs are garbage — clear and redo)."""
        if not fs.exists(marker_p):
            return None
        if fs.getFileStatus(marker_p).isDirectory():
            if not fs.exists(hpath(f"{marker}/_SUCCESS")):
                # No _SUCCESS: EITHER a torn legacy write OR a
                # completed one under a committer configured with
                # marksuccessfuljobs=false. Distinguish by CONTENT
                # before destroying anything: readable non-empty ids
                # mean the dataset committed (a torn job leaves no
                # complete part files), and deleting a committed
                # marker when recovery had already swapped some
                # targets would let a fresh re-merge fold the
                # remaining delta into an already-merged base and
                # duplicate its rows. Only a genuinely unreadable or
                # empty dataset is torn garbage to clear.
                try:
                    ids = [r["id"] for r in spark.read.json(marker).collect()]
                except Exception:
                    ids = []
                if not ids:
                    fs.delete(marker_p, True)
                    return None
            else:
                ids = [r["id"] for r in spark.read.json(marker).collect()]
        else:
            ids = json.loads(read_small_file(spark, marker))
        if not ids:
            raise RuntimeError(
                f"committed merge marker {marker} records no batch ids "
                "— refusing to guess which partitions a previous merge "
                "owns; inspect/remove the marker manually"
            )
        return [int(b) for b in ids]

    def finish(ids: list) -> None:
        swap_merged_into_base(spark, index_path, targets)
        if ids:
            _write_merged_watermark(spark, log_path, max_folded_id(ids))
        drop_partitions(spark, log_path, ids)
        remove_log_dir_if_empty(spark, log_path)
        # a silently-failed marker delete is RECOVERABLE (the next
        # merge call resumes this idempotent finish) but would make
        # compaction refuse with no visible cause — fail loudly
        if fs.exists(marker_p) and not fs.delete(marker_p, True):
            raise RuntimeError(
                f"could not remove committed merge marker {marker}"
                " — re-run to resume"
            )

    committed = marker_ids()
    if committed is not None:
        finish(committed)
        return 0
    if not log_exists(spark, log_path):
        # pre-marker-protocol crash state: a legacy merge deleted the
        # whole log before swapping — a side dir here is that merge's
        # completed output, not garbage (under THIS protocol a side
        # dir can only coexist with a missing log while the marker
        # exists, handled above). Finish the legacy swap.
        if any(
            fs.exists(hpath(f"{index_path}/{name}_merged")) for name in targets
        ):
            finish([])
        return 0
    log = read_log(spark, log_path, schema)
    ids = batch_ids(log)
    live = live_view(log, covered_watermark(ids)).drop(BATCH_COL)
    n = live.count()
    for name in targets:
        write_merged(live, name)
    write_small_file(spark, marker, json.dumps([int(b) for b in ids]))
    finish(ids)
    return n
