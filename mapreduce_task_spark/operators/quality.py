"""Data-quality constraint checking — the pre-ingestion gate.

Before a corpus shard enters training, a pipeline validates it:
completeness (null fractions), uniqueness of keys, value ranges, set
membership, and referential integrity against dimension tables. The
engine expresses every scan-shaped check as ONE aggregation pass over
the data (each check is a pure aggregate expression — no per-check
scans, no Python), and referential checks as anti-join counts with the
dimension side broadcast when small.

Results come back as one tidy frame: (check, column, metric, threshold,
passed) — the report a pipeline gates on and ships to its metrics
store. At 100 TB the single-pass property is the whole point: k checks
cost one scan + k cheap aggregates, partial-aggregated map-side.

The reference's closest analogue is the MALFORMED_LINES counter
(TraceInsertIndexMapper.java:113-115) — a single hard-coded
completeness check; this generalizes it to a declarative rule set.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F

from ..sources.literal import literal_rows


@dataclass(frozen=True)
class Check:
    """One constraint: ``name`` labels the rule, ``metric_expr`` is an
    aggregate Column in [0, 1] (fraction satisfying the rule), and the
    check passes when metric >= min_fraction."""

    name: str
    column: str
    metric_expr: Column
    min_fraction: float = 1.0


def completeness(col: str, min_fraction: float = 1.0) -> Check:
    """Fraction of rows with a non-null value in ``col``.

    An EMPTY table yields metric 0.0 — the check FAILS LOUDLY (same
    posture as the all-NULL case of in_range/is_in/matches below); the
    unguarded 0/0 division would abort the whole job under ANSI mode
    (Spark 4 default) instead of failing the gate."""
    m = F.coalesce(
        F.count(col).cast("double")
        / F.nullif(F.count(F.lit(1)), F.lit(0)).cast("double"),
        F.lit(0.0),
    )
    return Check("completeness", col, m, min_fraction)


def uniqueness(col: str, min_fraction: float = 1.0) -> Check:
    """Distinct-to-total ratio of ``col`` (1.0 == a true key).

    NOT "fraction of rows that are unique": a value occurring twice
    contributes 0.5 to the ratio, not 0. NULL handling is asymmetric by
    SQL semantics — count_distinct ignores NULLs while the denominator
    counts every row, so NULLs depress the ratio; pair with
    ``completeness`` when NULLs are possible. Empty table -> 0.0
    (fails loudly; see completeness)."""
    m = F.coalesce(
        F.count_distinct(col).cast("double")
        / F.nullif(F.count(F.lit(1)), F.lit(0)).cast("double"),
        F.lit(0.0),
    )
    return Check("uniqueness", col, m, min_fraction)


# in_range/is_in/matches measure the fraction of NON-NULL values
# satisfying the rule. An all-NULL column has no evidence either way;
# metric coalesces to 0.0 so the check FAILS LOUDLY (passed=false)
# instead of emitting NULL passed that a `passed == false` gate filter
# would silently skip. Pair with completeness() to distinguish
# "all null" from "values out of range".


def in_range(
    col: str, lo: float, hi: float, min_fraction: float = 1.0
) -> Check:
    """Fraction of non-null values inside [lo, hi] (0.0 if all NULL)."""
    ok = F.sum(
        F.when(F.col(col).between(lo, hi), 1).otherwise(0)
    ).cast("double")
    m = F.coalesce(ok / F.nullif(F.count(col), F.lit(0)).cast("double"), F.lit(0.0))
    return Check("in_range", col, m, min_fraction)


def is_in(col: str, allowed: list, min_fraction: float = 1.0) -> Check:
    """Fraction of non-null values inside the allowed set (0.0 if all NULL)."""
    ok = F.sum(F.when(F.col(col).isin(*allowed), 1).otherwise(0)).cast("double")
    m = F.coalesce(ok / F.nullif(F.count(col), F.lit(0)).cast("double"), F.lit(0.0))
    return Check("is_in", col, m, min_fraction)


def matches(col: str, pattern: str, min_fraction: float = 1.0) -> Check:
    """Fraction of non-null values fully matching the regex (0.0 if all NULL)."""
    ok = F.sum(
        F.when(F.regexp_like(F.col(col), F.lit(pattern)), 1).otherwise(0)
    ).cast("double")
    m = F.coalesce(ok / F.nullif(F.count(col), F.lit(0)).cast("double"), F.lit(0.0))
    return Check("matches", col, m, min_fraction)


def run_checks(df: DataFrame, checks: list[Check]) -> DataFrame:
    """Evaluate every aggregate check in ONE pass over ``df``.

    Returns (check, column, metric, threshold, passed) — one row per
    check, computed from a single aggregation (k expressions share the
    scan and the partial-agg combine)."""
    if not checks:
        raise ValueError("checks must be non-empty")
    aggs = [c.metric_expr.alias(f"m{i}") for i, c in enumerate(checks)]
    row = df.agg(*aggs)
    # ONE agg row -> explode an inline struct array (a union of k
    # row.select legs would re-execute the aggregation k times — Spark
    # does not share subplans across union branches)
    entries = F.array(
        *[
            F.struct(
                F.lit(c.name).alias("check"),
                F.lit(c.column).alias("column"),
                F.col(f"m{i}").alias("metric"),
                F.lit(float(c.min_fraction)).alias("threshold"),
                (F.col(f"m{i}") >= F.lit(float(c.min_fraction))).alias(
                    "passed"
                ),
            )
            for i, c in enumerate(checks)
        ]
    )
    return row.select(F.explode(entries).alias("__r")).select("__r.*")


def referential_integrity(
    fact: DataFrame,
    fact_col: str,
    dim: DataFrame,
    dim_col: str,
    min_fraction: float = 1.0,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Fraction of fact keys that resolve in the dimension — the join
    check that can't ride the single aggregation pass. One left join
    against the distinct key set, then ``count(__hit)`` counts resolved
    rows (orphans = total - resolved); the dim side ships only its key
    column (broadcast by default — dims are small; disable for
    fact-fact containment).

    EAGER by design: this runs ONE action (a 1-row aggregate) — a gate
    consumes the verdict immediately. Same documented contract as
    quality_bins' cut-point collect; nothing here hides a job inside
    plan construction. The former two-job shape (a count() of the fact
    plus a count() of the left-anti join) re-scanned the fact table
    twice; the left join + conditional count below reads it once —
    safe because ``keys`` is distinct, so a fact row matches at most
    one key row (r13 optimization round)."""
    keys = dim.select(F.col(dim_col).alias(fact_col)).distinct()
    if broadcast_dim:
        keys = F.broadcast(keys)
    row = (
        fact.select(fact_col)
        .join(keys.withColumn("__hit", F.lit(1)), fact_col, "left")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count("__hit").alias("resolved"),
        )
        .collect()[0]
    )
    total, orphans = row["total"], row["total"] - row["resolved"]
    metric = 1.0 if total == 0 else (total - orphans) / total
    return literal_rows(
        fact.sparkSession,
        [
            (
                "referential_integrity",
                fact_col,
                float(metric),
                float(min_fraction),
                metric >= min_fraction,
            )
        ],
        ["check", "column", "metric", "threshold", "passed"],
    )
