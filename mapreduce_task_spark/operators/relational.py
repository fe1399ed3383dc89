"""Relational operator builders beyond the reference's surface.

The reference implements no joins/windows/rollups (SURVEY.md §2.5) —
Spark built-ins cover the whole category; these helpers encode the
*scale-correct* physical choices so query authors don't re-decide them:

- dimension joins broadcast explicitly (no shuffle for the small side),
- top-k is ``orderBy().limit()`` (TakeOrderedAndProject: per-partition
  heap + driver merge of k rows — never a global window),
- per-group top-k is a window partitioned by the group (scales with
  group count),
- sessionization is lag + running conditional sum (two windows, both
  partitioned by user — no single-partition funnel).

Money/double aggregates: callers should aggregate DECIMAL and cast the
result to DOUBLE (see queries/relational.py) so results are independent
of partition-level float accumulation order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..sources.literal import literal_rows


def broadcast_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Join with an explicit broadcast of the dimension side."""
    return fact.join(F.broadcast(dim), on, how)


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """EXISTS: rows of ``left`` with at least one match (no right columns)."""
    return left.join(right, on, "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """NOT EXISTS: rows of ``left`` with no match."""
    return left.join(right, on, "left_anti")


def top_k(df: DataFrame, k: int, *order: Column) -> DataFrame:
    """Global deterministic top-k: ORDER BY ... LIMIT k.

    Physical plan is TakeOrderedAndProject — each partition keeps a
    k-row heap, the driver merges num_partitions*k rows. O(k) driver
    memory at any scale. Pass a total order (include a tie-breaker).
    """
    return df.orderBy(*order).limit(k)


def grouped_top_k(df: DataFrame, group_cols: list[str], k: int, *order: Column, rank_col: str = "rn") -> DataFrame:
    """Top-k per group via row_number window (scales with #groups)."""
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    tiebreak_col: str,
    session_col: str = "session_idx",
) -> DataFrame:
    """Assign 1-based session indexes per user from inactivity gaps.

    lag(ts) + cumulative sum of gap-exceeded flags; both windows are
    partitioned by user, so parallelism scales with user count.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col, tiebreak_col)
    # TIMESTAMP_NTZ has no direct long cast; go via TIMESTAMP (session is
    # pinned UTC by the loaders, so this is the plain epoch second)
    secs = F.col(ts_col).cast("timestamp").cast("long")
    prev = F.lag(secs).over(w)
    new_session = F.when(prev.isNull() | ((secs - prev) > gap_seconds), 1).otherwise(0)
    return df.withColumn(
        session_col,
        F.sum(new_session).over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )


def funnel_counts(
    events: DataFrame,
    steps: list[str],
    key_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    order_col: str = "event_id",
    within: str | None = None,
    max_events_per_key: int | None = None,
) -> DataFrame:
    """Ordered-funnel conversion: how many keys reached step 1, then
    step 2 AFTER step 1, and so on (classic product-analytics funnel).

    ``within`` (e.g. "1 hour") bounds the CONVERSION WINDOW: steps
    beyond the first only count if they occur no later than
    ``within`` after the key's step-1 match — the standard
    attribution-window semantics. None = unbounded.

    One plan: filter to the step types only (everything else is dead
    weight — the filter pushes to the scan), ONE groupBy(key) collecting
    (ts, order, type) structs, array_sort for the per-key timeline, then
    a codegen fold that advances a step cursor whenever the next
    expected step appears. Emits (step, step_idx, n_keys) with n_keys
    non-increasing by construction.

    Scale: the only shuffle carries step-typed events (usually a small
    slice of the log); per-key state is that key's step-typed events.
    ``max_events_per_key`` bounds that state: when set, only each key's
    FIRST N step events by (ts, order) enter the timeline (row_number
    window BEFORE the collect, so a bot key never materializes an
    unbounded array — the window's hash partitioning on key is reused
    by the groupBy, no extra exchange). Default None keeps the
    single-aggregation plan. Semantics note: a cap can only lower
    reached counts (events past the Nth are invisible to the cursor),
    which is the standard bot-guard trade.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    if max_events_per_key is not None and max_events_per_key < 1:
        raise ValueError("max_events_per_key must be >= 1")
    filtered = events.filter(F.col(type_col).isin(*steps))
    if max_events_per_key is not None:
        w_cap = Window.partitionBy(key_col).orderBy(ts_col, order_col)
        filtered = (
            filtered.withColumn("__rn", F.row_number().over(w_cap))
            .filter(F.col("__rn") <= max_events_per_key)
            .drop("__rn")
        )
    ev = filtered.select(
        key_col,
        F.struct(
            F.col(ts_col).alias("ts"),
            F.col(order_col).alias("o"),
            F.col(type_col).alias("t"),
        ).alias("__e"),
    )
    timeline = ev.groupBy(key_col).agg(
        F.array_sort(F.collect_list("__e")).alias("__tl")
    )
    step_arr = F.array(*[F.lit(s) for s in steps])
    if within is None:
        reached = F.aggregate(
            F.col("__tl"),
            F.lit(0),
            lambda acc, e: F.when(
                (acc < F.lit(len(steps)))
                & (e["t"] == F.element_at(step_arr, (acc + 1).cast("int"))),
                acc + 1,
            ).otherwise(acc),
        )
    else:
        # windowed cursor: carry (reached, step-1 ts); later steps only
        # count inside [start, start + within]
        ts_type = dict(events.dtypes)[ts_col]
        horizon = F.expr(f"INTERVAL {within}")
        init = F.struct(
            F.lit(0).alias("reached"),
            F.lit(None).cast(ts_type).alias("start"),
        )

        def step_fn(acc, e):
            starts = (acc["reached"] == 0) & (
                e["t"] == F.element_at(step_arr, 1)
            )
            advances = (
                (acc["reached"] > 0)
                & (acc["reached"] < F.lit(len(steps)))
                & (
                    e["t"]
                    == F.element_at(step_arr, (acc["reached"] + 1).cast("int"))
                )
                & (e["ts"] <= acc["start"] + horizon)
            )
            return F.when(
                starts,
                F.struct(F.lit(1).alias("reached"), e["ts"].alias("start")),
            ).otherwise(
                F.when(
                    advances,
                    F.struct(
                        (acc["reached"] + 1).alias("reached"),
                        acc["start"].alias("start"),
                    ),
                ).otherwise(acc)
            )

        reached = F.aggregate(F.col("__tl"), init, step_fn)["reached"]
    per_key = timeline.select(reached.alias("reached"))
    counts = per_key.groupBy("reached").agg(F.count(F.lit(1)).alias("n"))
    # users reaching step i = sum of counts with reached >= i; both
    # sides are tiny, but only the non-preserved (right) side of a left
    # outer join is broadcastable — hint the counts side (<= steps+1
    # rows), never the outer-preserved steps side
    steps_df = literal_rows(
        events.sparkSession,
        [(i + 1, s) for i, s in enumerate(steps)],
        ["step_idx", "step"],
    )
    return (
        steps_df
        .join(F.broadcast(counts), counts.reached >= steps_df.step_idx, "left")
        .groupBy("step_idx", "step")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).alias("n_keys"))
        .orderBy("step_idx")
    )
