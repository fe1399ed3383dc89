"""Triggered index retrain — the last mile of the crawl loop's
freshness story.

The ingest modules keep every ANN index fresh under FROZEN quantizers
(append logs) and MEASURE the cost of that freeze: ``crawl_health``
surfaces ``retrain`` (assignment-distance drift, all three families)
and ``refit`` (IVF-SQ bounds saturation) as scheduler-pollable
booleans. Until r13 the documented response — "schedule an offline
rebuild" — was manual. This module performs it:

- **Versioned index root.** A retrainable index lives under a ROOT
  directory holding immutable version directories (``v1``, ``v2``,
  ...), each a complete index in the family's existing layout (so
  every existing search/append/monitor function works unchanged on a
  version path), plus an append-only ``_versions/`` manifest log.
  ``current_index_path(root)`` resolves the live version: readers
  NEVER see a half-written index, because a new version is fully
  built — data, meta, drift baseline — before its manifest record
  exists. The manifest write is a temp-file + atomic rename of a NEW
  file (``manifest-<epoch>.json``); current = highest epoch. Retrain
  keeps the previous version on disk (searches in flight keep
  working); ``drop_old_versions`` reclaims it once drained.

- **``retrain_index``** rebuilds from base ∪ delta with FRESH
  quantizers: the corpus is recovered as the already-quantized
  (id, qv, nq) rows the index itself stores (lists for IVF, vectors
  for IVF-PQ / IVF-SQ — a ``store_vectors=False`` IVF-SQ index is
  refused, the recorded storage tradeoff), so no raw-corpus rescan
  and no double quantization (re-normalizing an already-normalized
  cosine grid vector would not be byte-idempotent — the
  ``prequantized=True`` build entry skips ``with_quantized``).
  Build hyperparameters replay from the index's own meta. After the
  build: a fresh ``drift_baseline`` on the new version (its monitor
  logs start empty — rows measured under the old quantizer must not
  poison the new ratios, the contract ``reset_drift`` documents),
  then the manifest promote. The old version's delta is implicitly
  truncated: the new version starts with an empty delta holding only
  carried batches (below).

- **Exactly-once through the replay race.** Retrain is a
  stream-stopped operation (like ``merge_delta_into_base``), but the
  stopped stream may hold batches past its last checkpoint COMMIT
  that are already marker-committed in the delta (the batchlog crash
  window): on restart against the new version, Spark replays them.
  ``committed_batch`` (the checkpoint-committed id the scheduler has
  in hand — same contract as ``compact_crawl``) splits the delta:
  batches ``<= committed_batch`` fold into the new base (never
  replayed); batches above it are NOT folded — they are CARRIED into
  the new version's delta, re-assigned/re-encoded under the fresh
  quantizer through the family's own ``append_batch(prequantized=
  True)`` body, so a subsequent replay of that batch overwrites its
  own partitions with byte-identical rows (deterministic encode
  against the frozen new index) instead of duplicating them in base
  AND delta. Default ``committed_batch=None`` folds everything — the
  drained-stream case.

At 100 TB: the rebuild reads the index's own columnar datasets (never
the raw corpus), the k-means/codebook fits are the same
O(corpus x rounds) passes as the original build, and everything else
(manifest, baseline, carries) is metadata-cheap. Retrains stay rare,
scheduled, and offline — this module just makes them one call,
triggered by the signals the monitors already emit
(``retrain_if_due``).

Cite: reference has no index/streaming surface (SURVEY §2 —
extensions); completes the r12 verdict's "observable but not
executable" retrain gap.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.index_store import load_dataset
from .ann_delta import (
    FAMILIES,
    Family,
    drift_signal,
    family_of,
    index_logs,
    delta_live,
    index_meta,
    meta_knobs,
    saturation_signal,
)
from .batchlog import (
    BATCH_COL,
    drop_logs,
    invalidate_watermark_cache,
    log_exists,
)

VERSIONS_DIR = "_versions"
_MANIFEST_RE = re.compile(r"manifest-(\d+)\.json$")


def _fs(spark: SparkSession, path: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def list_versions(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """All promoted (epoch, version_name) records, ascending by epoch.
    Empty for an un-promoted root."""
    jvm, fs, vdir = _fs(spark, f"{root}/{VERSIONS_DIR}")
    if not fs.exists(vdir):
        return []
    out = []
    for st in fs.listStatus(vdir):
        name = st.getPath().getName()
        m = _MANIFEST_RE.match(name)
        if not m:
            continue
        stream = fs.open(st.getPath())
        try:
            buf = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
        finally:
            stream.close()
        body = json.loads(buf.decode())
        out.append((int(m.group(1)), body["version"]))
    return sorted(out)


def current_version(spark: SparkSession, root: str) -> tuple[int, str]:
    """(epoch, version_name) of the live version; raises on an
    un-promoted root."""
    versions = list_versions(spark, root)
    if not versions:
        raise ValueError(
            f"versioned index root {root} has no promoted version — build "
            f"into {root}/v1 and call promote_version(spark, root, 'v1')"
        )
    return versions[-1]


def current_index_path(spark: SparkSession, root: str) -> str:
    """The live version's index path — what searches/appends resolve."""
    return f"{root}/{current_version(spark, root)[1]}"


def promote_version(
    spark: SparkSession, root: str, version_name: str, epoch: int | None = None
) -> int:
    """Atomically make ``root/<version_name>`` the live version: write
    ``manifest-<epoch>.json`` via temp file + rename. Readers can
    never observe a partial manifest (the rename is atomic on HDFS
    and POSIX). The duplicate-epoch guard is exists-then-rename —
    BEST-EFFORT, not a lock: on HDFS a losing racer's rename fails
    and raises, but Hadoop's RawLocalFileSystem rename overwrites, so
    two schedulers racing the SAME epoch on a local filesystem can
    silently last-write-win (they would also have raced the version
    build itself). Single-maintainer operation assumed; true
    multi-writer coordination needs a table format (Delta/Iceberg) —
    the same documented boundary as ``batchlog.merge_log_into_base``.
    Returns the epoch promoted."""
    if epoch is None:
        versions = list_versions(spark, root)
        epoch = (versions[-1][0] + 1) if versions else 1
    jvm, fs, _ = _fs(spark, root)
    vdir = jvm.org.apache.hadoop.fs.Path(f"{root}/{VERSIONS_DIR}")
    fs.mkdirs(vdir)
    body = json.dumps(
        {"epoch": epoch, "version": version_name}, sort_keys=True
    ).encode()
    tmp = jvm.org.apache.hadoop.fs.Path(
        f"{root}/{VERSIONS_DIR}/.tmp-manifest-{epoch}.json"
    )
    final = jvm.org.apache.hadoop.fs.Path(
        f"{root}/{VERSIONS_DIR}/manifest-{epoch}.json"
    )
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(body))
    finally:
        out.close()
    if fs.exists(final) or not fs.rename(tmp, final):
        fs.delete(tmp, False)
        raise RuntimeError(
            f"manifest epoch {epoch} already promoted at {root} — "
            "concurrent retrain?"
        )
    return epoch


def drop_old_versions(spark: SparkSession, root: str, keep: int = 1) -> list[str]:
    """Delete version DIRECTORIES older than the newest ``keep``
    (manifest records stay — they are the promotion history). Run only
    once in-flight searches against old versions have drained."""
    if keep < 1:
        raise ValueError("keep must be >= 1")
    versions = list_versions(spark, root)
    live = {name for _, name in versions[-keep:]}
    return drop_logs(
        spark, root, [name for _, name in versions[:-keep] if name not in live]
    )


# ---------------------------------------------------------------------------
# the rebuild itself


def _rebuildable(meta: dict) -> tuple[str, Family]:
    """(kind, family) of a kind retrain can rebuild; any other kind
    (flat SQ8 has no coarse quantizer to retrain) is refused."""
    kind, fam = family_of(meta)
    if fam.corpus is None:
        known = sorted(k for k, f in FAMILIES.items() if f.corpus)
        raise ValueError(f"retrain supports kinds {known}, got {kind!r}")
    return kind, fam


def _corpus_and_carry(
    spark: SparkSession,
    cur: str,
    fam: Family,
    meta: dict,
    id_col: str,
    committed_batch: int | None,
) -> tuple[DataFrame, DataFrame | None]:
    """(corpus, carry): the already-quantized (id, qv, nq) rows to
    rebuild from (base ∪ folded delta), and the delta rows past the
    committed watermark (with their ``__batch`` ids) to carry into the
    new version's delta — None when everything folds."""
    if fam.corpus not in fam.targets(meta):
        raise ValueError(
            f"index at {cur} was built store_vectors=False — codes "
            "alone cannot seed a retrain; rebuild with store_vectors=True"
        )
    base = load_dataset(spark, cur, fam.corpus, meta).select(id_col, "qv", "nq")
    delta = delta_live(spark, cur, meta)
    if delta is None:
        return base, None
    if "qv" not in delta.columns:
        raise ValueError(
            f"delta at {cur}/delta carries no vectors (store_vectors=False "
            "appends) — it cannot seed a retrain"
        )
    carry = None
    if committed_batch is not None:
        folded = delta.filter(
            (F.col(BATCH_COL) <= committed_batch) | (F.col(BATCH_COL) < 0)
        )
        carry = delta.filter(F.col(BATCH_COL) > committed_batch)
    else:
        folded = delta
    return base.unionByName(folded.select(id_col, "qv", "nq")), carry


def _carry_batches(
    carry: DataFrame, new_path: str, fam: Family, meta: dict, id_col: str
) -> list[int]:
    """Re-append each carried batch under the NEW frozen quantizer via
    the family's own append body — so a later stream replay of the
    same batch overwrites these partitions byte-identically."""
    ids = sorted(
        r[0]
        for r in carry.select(BATCH_COL).distinct().collect()
        if r[0] is not None and r[0] >= 0
    )
    append = fam.ingest().append_batch
    for bid in ids:
        rows = carry.filter(F.col(BATCH_COL) == bid).select(id_col, "qv", "nq")
        append(
            rows, bid, new_path, prequantized=True,
            **meta_knobs(fam.append_args, meta, id_col),
        )
    return ids


def retrain_index(
    spark: SparkSession,
    root: str,
    id_col: str = "vec_id",
    committed_batch: int | None = None,
) -> dict:
    """Rebuild the live version from base ∪ delta with fresh
    quantizers into the next version directory, record its drift
    baseline, carry post-watermark delta batches, and atomically
    promote. Stream-stopped operation (module docstring). Returns
    ``{kind, old, new, epoch, carried}``."""
    old_epoch, old_name = current_version(spark, root)
    cur = f"{root}/{old_name}"
    from ..operators.pq import read_index_meta

    meta = read_index_meta(spark, cur)
    if meta is None:
        raise ValueError(f"index at {cur} has no meta — cannot retrain")
    kind, fam = _rebuildable(meta)
    corpus, carry = _corpus_and_carry(
        spark, cur, fam, meta, id_col, committed_batch
    )
    new_epoch = old_epoch + 1
    new_name = f"v{new_epoch}"
    new_path = f"{root}/{new_name}"
    # a previous retrain may have crashed after writing into this
    # deterministic version name but before promoting: its leftover
    # delta partitions / monitor rows (measured under a DIFFERENT
    # quantizer) would survive the dataset-scoped overwrite-mode build
    # and double-count or poison the promoted version — clear first
    drop_logs(spark, root, [new_name])
    for log in index_logs(kind, new_path):
        invalidate_watermark_cache(log)
    # the family's own build, hyperparameters replayed from the old meta
    fam.build(
        corpus, new_path, prequantized=True,
        **meta_knobs(fam.build_args, meta, id_col),
    )
    carried = (
        _carry_batches(carry, new_path, fam, meta, id_col)
        if carry is not None
        else []
    )
    # fresh baseline BEFORE promote: a reader of the new version must
    # never observe index-without-baseline (crawl_health would silently
    # skip its drift columns). Its shape params come from the meta, NOT
    # the signature defaults: a per-list or non-64-dim IVF-PQ index
    # baselined under default knobs would record silently wrong
    # reconstruction errors.
    fam.ingest().drift_baseline(
        spark, new_path, **meta_knobs(fam.baseline_args, meta, id_col)
    )
    promote_version(spark, root, new_name, epoch=new_epoch)
    return {
        "kind": kind,
        "old": old_name,
        "new": new_name,
        "epoch": new_epoch,
        "carried": carried,
    }


def retrain_if_due(
    spark: SparkSession,
    root: str,
    id_col: str = "vec_id",
    retrain_ratio: float = 1.5,
    refit_frac: float = 0.01,
    committed_batch: int | None = None,
) -> dict:
    """Poll the live version's monitor signals (the same ones
    ``crawl_health`` surfaces) and retrain only when one trips.
    Returns ``{due, retrain, refit, ...retrain_index result}``;
    ``due=False`` means no signal fired (or no monitor data exists
    yet) and nothing was touched."""
    cur = current_index_path(spark, root)
    _, fam = _rebuildable(index_meta(spark, cur))
    retrain = refit = False
    jvm, fs, _ = _fs(spark, cur)
    has_base = fs.exists(jvm.org.apache.hadoop.fs.Path(f"{cur}/drift_base"))
    if "drift" in fam.monitors and log_exists(spark, f"{cur}/drift") and has_base:
        sig = drift_signal(spark, cur, retrain_ratio)
        if sig is not None:
            row = sig.collect()[0]
            retrain = bool(row["retrain"])
    if "sat" in fam.monitors and log_exists(spark, f"{cur}/sat"):
        sat = saturation_signal(spark, cur, refit_frac)
        if sat is not None:
            refit = bool(sat.collect()[0]["refit"])
    out = {"due": retrain or refit, "retrain": retrain, "refit": refit}
    if out["due"]:
        out.update(
            retrain_index(
                spark, root, id_col=id_col, committed_batch=committed_batch
            )
        )
    return out
