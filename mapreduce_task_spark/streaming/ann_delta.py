"""The one base-plus-delta protocol behind the four ANN ingest modules
(``ivf_ingest``, ``ivfpq_ingest``, ``ivfsq_ingest``, ``sq_ingest``):
keep a persisted index fresh as embeddings stream in, without
rebuilding it per batch.

Production ANN serving splits into build-once (train the quantizers,
write the base datasets) and search-many. Between the two sits
FRESHNESS: re-running the full build per micro-batch would rescan the
whole corpus. The standard fix (FAISS, Lucene-style; the base + delta
search of "Time Series Similarity Search for Streaming Data in
Distributed Systems", EDBT 2019) is an append log under FROZEN
quantizers. Each family module supplies only what depends on its codec
— its ``append_batch`` encode, its ``search_with_delta`` scoring, its
monitor-row builders and its ``drift_baseline`` — and everything below
is written once, here:

- **Append.** Each micro-batch is encoded against the frozen
  quantizers (coarse centroids, PQ codebook, SQ bounds — no training
  on the hot path) and lands in ``<index>/delta``'s own batch
  partition, sub-partitioned by cluster for the IVF families (the
  base lists' physical shape, so searches prune identically). The
  ``batchlog`` protocol makes replays idempotent: the encode is
  deterministic in (frozen index, batch rows), so a crash-replayed
  batch overwrites exactly its own partition tree with identical rows.
- **Search.** Base and the delta's live view are scored as separate
  pruned scans and merged before the one top-k window — identical to
  the family's plain search after ``merge_delta_into_base``.
- **Compaction** (``compact_delta``) folds delta partitions
  ``__batch <= up_to_batch`` into the negative-id partition (rows are
  immutable — the fold re-selects them; the win is bounded partition
  and file counts). The delta is append-only state never read back by
  the sink body, so ``up_to_batch`` need not be checkpoint-committed:
  a replay just leaves a dead covered directory that readers ignore.
- **Merge** (``merge_delta_into_base``) is the offline segment merge:
  rewrite each base dataset as base ∪ delta live view, then drop the
  merged partitions, on the marker-committed
  ``batchlog.merge_log_into_base`` protocol (crash recovery is a
  re-run; multi-dataset bases never end half-swapped). Quantizers stay
  frozen — a merge is not a retrain.
- **Monitors.** Frozen quantizers degrade silently as the stream moves
  away from the build corpus: results stay exact per each family's
  scoring contract, but recall falls. Each append lands one mergeable
  row per monitor log, exact decimal(38,0) sums so corpus-scale merges
  cannot overflow:

  - ``drift`` (IVF families): ``n`` plus ``sum_assign_d`` (squared
    distance to the home centroid — coarse-quantizer fit) and, for
    IVF-PQ, ``sum_quant_err`` (PQ reconstruction error — codebook
    fit). Means and ratios against the recorded ``drift_base`` are
    derived from whichever ``sum_*`` columns the log carries.
  - ``sat`` (SQ families): ``(n, n_components, n_clamped)`` — a
    component outside the frozen [minq, maxq] bounds clamps silently
    in ``sq_encode``; the build corpus clamps nothing by construction,
    so the threshold is absolute and there is no baseline.

  Rows merge by pure sum, so trend, signal and compaction never rescan
  vectors. After a retrain the old rows describe the OLD quantizers:
  ``reset_drift`` / ``reset_saturation`` drop them before the new
  baseline.

``FAMILIES`` is the one table the protocol, ``retrain`` and ``crawl``
dispatch on, keyed by the ``kind`` in the index's ``_INDEX_META.json``.

At 100 TB: per-batch cost is O(batch) map-only work; searches stay
partition-pruned on base and delta; merges stream through parquet
writes; monitor reads are merges of one tiny row per batch.
"""

from __future__ import annotations

import importlib
from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.index_store import load_dataset, read_index_meta, recorded_schema
from ..operators.pq import index_list_stats, ivfpq_build_index
from ..operators.similarity import ivf_build_index
from ..operators.sq import ivfsq_build_index
from .batchlog import (
    BATCH_COL,
    compact_log,
    drop_logs,
    log_live,
    merge_log_into_base,
    write_batch_partition,
)


@dataclass(frozen=True)
class Family:
    """One ANN index family's row in the protocol. The ``*_args``
    tuples name the keyword arguments a call takes from the index meta
    (plus ``id_col``); a key the meta lacks keeps the callee's
    default."""

    module: str  # streaming.<module> holds append_batch / drift_baseline
    bases: tuple[str, ...]  # base datasets a segment merge rewrites
    layout: tuple[str, ...]  # sub-partition columns of base and delta
    monitors: tuple[str, ...]  # monitor logs an append lands
    corpus: str | None = None  # base holding (id, qv, nq); None: no retrain
    build: Callable | None = None  # the build a retrain replays
    build_args: tuple[str, ...] = ()
    append_args: tuple[str, ...] = ("id_col",)
    baseline_args: tuple[str, ...] = ()

    def ingest(self):
        return importlib.import_module(f".{self.module}", __package__)

    def targets(self, meta: dict) -> list[str]:
        """The base datasets this index holds (a ``store_vectors=False``
        SQ build persists no vectors)."""
        return [
            b for b in self.bases
            if b != "vectors" or meta.get("store_vectors", True)
        ]


def meta_knobs(names: tuple[str, ...], meta: dict, id_col: str) -> dict:
    """The keyword arguments ``names`` picks from ``meta`` plus
    ``id_col`` (see ``Family``)."""
    have = {**meta, "id_col": id_col}
    return {k: have[k] for k in names if k in have}


FAMILIES = {
    "ivf": Family(
        "ivf_ingest", ("lists",), ("cluster",), ("drift",), corpus="lists",
        build=ivf_build_index,
        build_args=("id_col", "n_clusters", "dim", "rounds"),
    ),
    "ivfpq": Family(
        "ivfpq_ingest", ("codes", "vectors"), ("cluster",), ("drift",),
        corpus="vectors", build=ivfpq_build_index,
        build_args=(
            "id_col", "n_clusters", "m", "ksub", "dim", "coarse_rounds",
            "pq_rounds", "per_list", "metric",
        ),
        append_args=("id_col", "m", "dim", "per_list", "metric"),
        baseline_args=("id_col", "m", "dim", "per_list"),
    ),
    "ivfsq": Family(
        "ivfsq_ingest", ("codes", "vectors"), ("cluster",), ("drift", "sat"),
        corpus="vectors", build=ivfsq_build_index,
        build_args=(
            "id_col", "n_clusters", "dim", "rounds", "metric", "per_list",
            "store_vectors",
        ),
    ),
    "sq8": Family("sq_ingest", ("codes", "vectors"), (), ("sat",)),
}


def index_meta(spark: SparkSession, index_path: str) -> dict:
    """The index's ``_INDEX_META.json`` ({} for a legacy meta-less
    index)."""
    return read_index_meta(spark, index_path) or {}


def family_of(meta: dict) -> tuple[str, Family]:
    """(kind, table row) for an index meta; a meta-less legacy index is
    flat IVF. Unknown kinds raise."""
    kind = meta.get("kind", "ivf")
    if kind not in FAMILIES:
        raise ValueError(
            f"unknown ANN index kind {kind!r} (known: {sorted(FAMILIES)})"
        )
    return kind, FAMILIES[kind]


def index_logs(kind: str, index_path: str) -> list[str]:
    """Every log an append to a ``kind`` index writes: the delta plus
    the family's monitor logs."""
    return [f"{index_path}/{log}" for log in ("delta", *FAMILIES[kind].monitors)]


def land_batch(
    kind: str, index_path: str, batch_id: int, rows: DataFrame, monitors: dict
) -> bool:
    """Write one batch's delta rows in the family's layout, then each
    ``{log: row}`` monitor row, every write into the batch's own
    partition. Returns whether the delta partition was written (False
    for a skipped replay, see ``batchlog.write_batch_partition``)."""
    wrote = write_batch_partition(
        rows, batch_id, f"{index_path}/delta",
        sub_partition_cols=FAMILIES[kind].layout,
    )
    for log, row in monitors.items():
        write_batch_partition(row, batch_id, f"{index_path}/{log}")
    return wrote


def delta_live(spark: SparkSession, index_path: str, meta: dict) -> DataFrame | None:
    """The delta log's live view (``batchlog.log_live``), read with the
    schema the meta records for it; None while nothing is appended."""
    return log_live(spark, f"{index_path}/delta", recorded_schema(meta, "delta"))


def compact_delta(spark: SparkSession, index_path: str, up_to_batch: int) -> int:
    """Fold delta partitions ``__batch <= up_to_batch`` into the
    negative-id partition, keeping the cluster sub-partitioning when
    the log has one (module docstring: no checkpoint-commit contract).
    Returns the number of superseded partition directories dropped."""
    return compact_log(
        spark,
        f"{index_path}/delta",
        up_to_batch,
        lambda live: live.drop(BATCH_COL),
        sub_partition_cols=("cluster",),
        schema=recorded_schema(index_meta(spark, index_path), "delta"),
    )


def merge_delta_into_base(spark: SparkSession, index_path: str) -> int:
    """Rewrite each base dataset of the index's family (IVF ``lists``;
    IVF-PQ ``codes`` + ``vectors``; SQ ``codes`` and, when stored,
    ``vectors``) as base ∪ delta live view and drop the merged delta
    partitions — the offline segment merge on the shared
    marker-committed protocol (``batchlog.merge_log_into_base``). Crash
    recovery is a re-run of this function, safe even if the append
    stream was restarted first; the marker commit is what keeps a
    two-dataset base from ending half-swapped. Returns the number of
    delta rows merged in (0 on a no-op or resume call). True
    multi-writer atomicity needs a table format (Delta/Iceberg) — out
    of scope by design."""
    meta = index_meta(spark, index_path)
    _, fam = family_of(meta)

    def write_merged(live: DataFrame, name: str) -> None:
        # each base dataset holds its own column subset of the delta
        # rows — align before the union. The merged dataset has the
        # base's schema, so the recorded one stays valid after the swap.
        base = load_dataset(spark, index_path, name, meta)
        base.unionByName(live.select(*base.columns)).write.mode(
            "overwrite"
        ).option("partitionOverwriteMode", "static").partitionBy(
            *fam.layout
        ).parquet(f"{index_path}/{name}_merged")

    return merge_log_into_base(
        spark, index_path, "delta", fam.targets(meta), write_merged,
        schema=recorded_schema(meta, "delta"),
    )


def delta_skew_report(spark: SparkSession, index_path: str) -> DataFrame:
    """Per-cluster list sizes, base vs delta — where frozen-quantizer
    appends are sending probe cost. Columns:

    - ``n_base`` / ``n_delta`` / ``n_total``: list sizes;
    - ``frac_delta``: how much of the list arrived after the build
      (one cluster absorbing most of the delta means the frozen
      quantizer no longer describes the incoming distribution);
    - ``imbalance``: n_total / mean(n_total) — a search probing an
      imbalanced cluster scans that many times the average list.

    Cost: two column-pruned scans (cluster column only) + one tiny
    groupBy. Complementary to the drift monitor: skew says where probe
    cost is going, distance says whether the quantizer still fits."""
    per = index_list_stats(spark, index_path).withColumn(
        "frac_delta",
        F.when(F.col("n_total") > 0, F.col("n_delta") / F.col("n_total")).otherwise(
            F.lit(0.0)
        ),
    )
    mean_total = F.broadcast(per.agg(F.avg("n_total").alias("__mean")))
    return (
        per.join(mean_total)
        .withColumn(
            "imbalance",
            F.when(
                F.col("__mean") > 0, F.col("n_total") / F.col("__mean")
            ).otherwise(F.lit(0.0)),
        )
        .drop("__mean")
    )


# ---------------------------------------------------------------------------
# monitor logs: one mergeable row per appended batch, folded by pure sum


def _sums(live: DataFrame) -> list:
    return [F.sum(c).alias(c) for c in live.columns if c != BATCH_COL]


def _compact_sums(spark: SparkSession, path: str, up_to_batch: int) -> int:
    # never read back by a sink body: no checkpoint-commit contract
    return compact_log(
        spark, path, up_to_batch, lambda live: live.agg(*_sums(live))
    )


def _drift_vs_base(spark: SparkSession, index_path: str, by: tuple):
    """(drift sums per ``by`` joined to the baseline means, terms), or
    None until a drift row exists. Terms are the ``sum_<t>`` columns
    the log carries: ``assign_d`` always, ``quant_err`` for IVF-PQ."""
    live = log_live(spark, f"{index_path}/drift")
    if live is None:
        return None
    terms = [c[len("sum_"):] for c in live.columns if c.startswith("sum_")]
    base = spark.read.parquet(f"{index_path}/drift_base").select(
        *[
            (F.col(f"sum_{t}") / F.col("n")).cast("double").alias(f"__b_{t}")
            for t in terms
        ]
    )
    per = live.groupBy(*by).agg(*_sums(live)) if by else live.agg(*_sums(live))
    return per.crossJoin(F.broadcast(base)), terms


def _ratio(t: str):
    # sum_assign_d -> assign_ratio, sum_quant_err -> quant_ratio
    return (
        (F.col(f"sum_{t}") / F.col("n") / F.col(f"__b_{t}"))
        .cast("double")
        .alias(f"{t.split('_')[0]}_ratio")
    )


def read_drift_trend(spark: SparkSession, index_path: str) -> DataFrame | None:
    """Per-batch drift trend: (__batch, n, mean_assign_d
    [, mean_quant_err], assign_ratio [, quant_ratio]), ratios against
    the recorded baseline means; None until a drift row exists. ~1.0 =
    the stream matches the build corpus; sustained growth = the frozen
    quantizers no longer fit and recall is silently degrading —
    schedule a retrain (``streaming.retrain``) + ``drift_baseline``."""
    got = _drift_vs_base(spark, index_path, (BATCH_COL,))
    if got is None:
        return None
    per, terms = got
    return per.select(
        BATCH_COL,
        "n",
        *[
            (F.col(f"sum_{t}") / F.col("n")).cast("double").alias(f"mean_{t}")
            for t in terms
        ],
        *[_ratio(t) for t in terms],
    )


def drift_signal(
    spark: SparkSession, index_path: str, retrain_ratio: float = 1.5
) -> DataFrame | None:
    """The retrain trigger, as one row over ALL appended-so-far rows:
    (n, assign_ratio [, quant_ratio], retrain). ``retrain`` is true
    when any ratio exceeds ``retrain_ratio``. 1.5 is a conservative
    default; tighten for recall-critical serving. None until a drift
    row exists. Pure merge of the mergeable rows — cost independent of
    appended volume.

    CALIBRATION CAVEAT (IVF-PQ ``per_list=True``): per-list codebooks
    over-fit the build corpus, so even in-distribution appends read
    quant ratios of ~2-3x (2.68 on the test fixture). Set
    ``retrain_ratio`` relative to what an in-distribution holdout batch
    reads; the assignment ratio has no codebook to over-fit."""
    got = _drift_vs_base(spark, index_path, ())
    if got is None:
        return None
    total, terms = got
    out = total.select("n", *[_ratio(t) for t in terms])
    tripped = [F.col(c) > F.lit(retrain_ratio) for c in out.columns[1:]]
    return out.select("*", reduce(lambda a, b: a | b, tripped).alias("retrain"))


def compact_drift(spark: SparkSession, index_path: str, up_to_batch: int) -> int:
    """Fold old drift rows into the negative-id partition by pure sum:
    the per-batch trend of folded batches collapses into one row, the
    overall ``drift_signal`` is unchanged (sums are associative)."""
    return _compact_sums(spark, f"{index_path}/drift", up_to_batch)


def reset_drift(spark: SparkSession, index_path: str) -> None:
    """Drop the drift log and baseline — REQUIRED before a retrain's
    new ``drift_baseline`` (rows measured against the old quantizer
    poison ratios against the new one)."""
    drop_logs(spark, index_path, ("drift", "drift_base"))


def read_saturation_trend(
    spark: SparkSession, index_path: str
) -> DataFrame | None:
    """Per-batch (__batch, n, frac_clamped); None until a saturation
    row exists. Sustained growth from 0 = the stream is leaving the
    fitted range — schedule a refit + ``reset_saturation``."""
    live = log_live(spark, f"{index_path}/sat")
    if live is None:
        return None
    per = live.groupBy(BATCH_COL).agg(*_sums(live))
    return per.select(
        BATCH_COL,
        "n",
        (F.col("n_clamped") / F.col("n_components"))
        .cast("double")
        .alias("frac_clamped"),
    )


def saturation_signal(
    spark: SparkSession, index_path: str, refit_frac: float = 0.01
) -> DataFrame | None:
    """One row over ALL appended-so-far vectors: (n, n_components,
    n_clamped, frac_clamped, refit). ``refit`` trips when more than
    ``refit_frac`` of streamed components clamped (an absolute
    threshold — the baseline is exactly 0). Pure merge of the mergeable
    rows."""
    live = log_live(spark, f"{index_path}/sat")
    if live is None:
        return None
    out = live.agg(*_sums(live)).select(
        "*",
        (F.col("n_clamped") / F.col("n_components"))
        .cast("double")
        .alias("frac_clamped"),
    )
    return out.select(
        "*", (F.col("frac_clamped") > F.lit(refit_frac)).alias("refit")
    )


def compact_saturation(
    spark: SparkSession, index_path: str, up_to_batch: int
) -> int:
    """Fold old saturation rows by pure sum."""
    return _compact_sums(spark, f"{index_path}/sat", up_to_batch)


def reset_saturation(spark: SparkSession, index_path: str) -> None:
    """Drop the saturation log after a bounds refit (old rows were
    measured against the old bounds)."""
    drop_logs(spark, index_path, ("sat",))
