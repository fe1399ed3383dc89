"""Model-based property test of the batchlog exactly-once protocol.

The three hand-written race tests (crash-before-checkpoint replay,
replay-after-compaction, crash-mid-compaction cleanup) each pin one
interleaving; this drives RANDOM interleavings of the three public
operations against a trivial python reference:

- ingest(rows): a new micro-batch lands its own partition;
- replay(i):    a crash re-runs a past batch (the foreachBatch body is
                deterministic, so it rewrites the same rows — even if
                compaction has since covered the batch);
- compact(u):   fold batches <= u into the negative-id partition.

Invariant after EVERY op: the live view equals the union of each
batch's logical content (first-write wins is vacuous here — replays
are identical by construction, as in the real sinks), and the
``read_before(b)`` state view equals the union of strictly-earlier
batches, for every prefix b. Nothing about the physical layout
(how many directories, what got folded, which covered positives are
dead on disk) may leak into either view.
"""

import shutil

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from mapreduce_task_spark.streaming.batchlog import (
    batch_ids,
    covered_watermark,
    compact_log,
    live_view,
    read_before,
    write_batch_partition,
)

# an op is ("ingest", row-seed) | ("replay", index-seed) | ("compact", frac)
_op = st.one_of(
    st.tuples(st.just("ingest"), st.lists(st.integers(0, 9), min_size=1, max_size=4)),
    st.tuples(st.just("replay"), st.integers(0, 99)),
    st.tuples(st.just("compact"), st.floats(0, 1)),
)


@settings(max_examples=12, deadline=None)
@given(st.lists(_op, min_size=1, max_size=7))
def test_batchlog_views_match_reference_model(spark, tmp_path_factory, ops):
    path = str(tmp_path_factory.mktemp("blog") / "log")
    model: list[set[int]] = []  # model[i] = batch i's logical rows

    def df(rows):
        return spark.createDataFrame([(r,) for r in rows], "k int")

    def live_rows():
        log = spark.read.parquet(path)
        lv = live_view(log, covered_watermark(batch_ids(log)))
        return {r["k"] for r in lv.select("k").collect()}

    wrote = False
    compacted = -1  # deepest compaction watermark ever taken
    for kind, arg in ops:
        if kind == "ingest":
            model.append(set(arg))
            write_batch_partition(df(arg), len(model) - 1, path)
            wrote = True
        elif kind == "replay" and model:
            i = arg % len(model)
            write_batch_partition(df(sorted(model[i])), i, path)
        elif kind == "compact" and wrote:
            u = int(arg * (len(model) - 1))
            compact_log(
                spark, path, u, lambda live: live.select("k").distinct()
            )
            compacted = max(compacted, u)
        else:
            continue
        # the live view is exactly the union of logical batch contents
        assert live_rows() == set().union(*model)
        # and every strictly-before state view matches the model prefix.
        # The state-feeding contract scopes b: compaction is bound to
        # checkpoint-COMMITTED batches, i.e. read_before(b) is only
        # ever issued for a batch b ABOVE every compaction watermark
        # (a folded negative partition reads as "earlier than any b").
        log = spark.read.parquet(path)
        for b in range(compacted + 1, len(model) + 1):
            got = {r["k"] for r in read_before(log, b).select("k").collect()}
            want = set().union(set(), *model[:b])
            assert got == want, f"read_before({b}): {got} != {want}"
    shutil.rmtree(path, ignore_errors=True)


def test_listed_batch_ids_match_a_distinct_scan_without_a_job(spark, tmp_path):
    """``batch_ids`` parses the ids from the log's file listing. On the
    states the model test walks — fresh batches, a replay, a
    compaction, and a crashed compaction's leftovers (a shallower
    negative partition and covered positives still on disk) — it
    returns what a ``distinct()`` over the partition column returns,
    and runs no Spark job."""
    import os

    path = str(tmp_path / "log")
    sc = spark.sparkContext

    def df(rows):
        return spark.createDataFrame([(r,) for r in rows], "k int")

    def check(want):
        log = spark.read.parquet(path)
        scanned = sorted(r[0] for r in log.select("__batch").distinct().collect())
        sc.setJobGroup("batch_ids", "batch_ids")
        try:
            got = batch_ids(log)
        finally:
            sc.setJobGroup(None, None)
        assert got == scanned == want
        assert not sc.statusTracker().getJobIdsForGroup("batch_ids")

    fold = lambda live: live.select("k").distinct()  # noqa: E731
    for b in range(3):
        write_batch_partition(df([b, b + 10]), b, path)
    check([0, 1, 2])
    write_batch_partition(df([1, 11]), 1, path)  # replay
    check([0, 1, 2])
    compact_log(spark, path, 1, fold)
    check([-2, 2])
    write_batch_partition(df([3]), 3, path)
    # a crashed compaction: the deeper negative partition is written,
    # cleanup never ran — the old negative and covered positives remain
    keep = tmp_path / "keep"
    for b in (-2, 2):
        shutil.copytree(f"{path}/__batch={b}", keep / str(b))
    compact_log(spark, path, 3, fold)
    for b in (-2, 2):
        os.rename(keep / str(b), f"{path}/__batch={b}")
    write_batch_partition(df([1, 11]), 1, path)  # replay re-creates a covered id
    check([-4, -2, 1, 2])
    assert covered_watermark(batch_ids(spark.read.parquet(path))) == 3


def test_compact_log_releases_its_checkpoint(spark, tmp_path):
    """The fold is pinned with ``localCheckpoint`` so it materializes
    before the overwrite deletes what it reads; once written, its
    blocks are freed, so a compaction leaves no persisted RDD behind.
    Compared as id sets: a frame of an earlier test may be
    garbage-collected meanwhile, which only shrinks the count."""
    path = str(tmp_path / "log")
    jsc = spark.sparkContext._jsc

    def persisted():
        return set(jsc.getPersistentRDDs().keySet().toArray())

    for b in range(3):
        write_batch_partition(spark.createDataFrame([(b,), (b + 10,)], "k int"), b, path)
    before = persisted()
    compact_log(spark, path, 2, lambda live: live.select("k").distinct())
    assert not persisted() - before
    lv = live_view(spark.read.parquet(path), 2)
    assert sorted(r["k"] for r in lv.select("k").collect()) == [0, 1, 2, 10, 11, 12]
