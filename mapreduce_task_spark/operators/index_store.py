"""Persisted ANN index storage: the ``_INDEX_META.json`` file and the
parquet datasets it describes, shared by every index family (IVF,
IVF-PQ, IVF-SQ, flat SQ8) and their streaming delta logs.

The meta records index-level facts (kind, metric, shape, build
hyperparameters) and, under ``schemas``, the read schema of every
dataset the package writes into the index: the build's datasets and,
recorded at build time too, the delta log appends will write. Only a
build writes the meta. A plain
``spark.read.parquet`` infers its schema by reading a parquet footer in
a Spark job — one job per dataset per search, although the package
wrote the data itself. ``load_dataset`` reads with the recorded schema
instead, so opening an index runs no job. An index built before
schemas were recorded (a legacy build) has no ``schemas`` entry and is
read through inference, as before.

Builds write through ``save_dataset``, which also pins the overwrite
to static partition mode: a build replaces the whole dataset whatever
``spark.sql.sources.partitionOverwriteMode`` the session carries
(in dynamic mode a rebuild to fewer lists would keep the old build's
extra ``cluster=`` directories).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DataType,
    IntegerType,
    MapType,
    StructField,
    StructType,
)

from ..streaming.batchlog import BATCH_COL

META_FILE = "_INDEX_META.json"


def _meta_path(spark, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(f"{path}/{META_FILE}")
    return p, p.getFileSystem(spark._jsc.hadoopConfiguration())


def write_index_meta(spark, path: str, meta: dict) -> None:
    """Record index-level facts as a small JSON file beside the index
    data, via the Hadoop FileSystem API so it works on any
    Spark-supported storage. Only builds write it, last, so a crashed
    build leaves no meta (and is re-built anyway — builds overwrite
    throughout); appends, compactions and merges never rewrite it."""
    jpath, fs = _meta_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(json.dumps(meta, sort_keys=True).encode()))
    finally:
        out.close()


def read_index_meta(spark, path: str) -> dict | None:
    """Read the index meta file; None for a legacy (pre-meta) index."""
    jvm = spark._jvm
    jpath, fs = _meta_path(spark, path)
    if not fs.exists(jpath):
        return None
    n = fs.getFileStatus(jpath).getLen()
    if n > 65536:
        raise ValueError(
            f"index meta at {path} is {n} bytes (>64 KiB) — not a meta file"
        )
    stream = fs.open(jpath)
    try:
        # one buffered read via commons-io (on Spark's classpath), not
        # one py4j round-trip per byte
        buf = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(buf.decode())


def check_index_meta(spark, path: str, *, metric: str, **shape) -> dict:
    """Refuse a search/append whose parameters contradict what the
    index was built with, and return the meta ({} for a legacy index)
    so the caller reads it once. Metric is the safety-critical check —
    scoring un-normalized vectors as cosine (or vice versa) returns
    silently wrong rankings, the exact failure a persisted index
    invites. Shape params stay caller-supplied (plan-time); the meta
    only VETOES a contradiction. Legacy indexes without a meta file
    were all built metric="l2": l2 searches proceed, cosine searches
    are refused (their vectors are not normalized)."""
    meta = read_index_meta(spark, path)
    if meta is None:
        if metric != "l2":
            raise ValueError(
                f"index at {path} has no recorded metric (legacy build, "
                f"l2-only); rebuild with metric={metric!r} to search it "
                f"as {metric}"
            )
        return {}
    built = meta.get("metric", "l2")
    if built != metric:
        raise ValueError(
            f"index at {path} was built with metric={built!r}; "
            f"search requested metric={metric!r}"
        )
    for key, val in shape.items():
        if key in meta and meta[key] != val:
            raise ValueError(
                f"index at {path} was built with {key}={meta[key]!r}; "
                f"caller passed {key}={val!r}"
            )
    return meta


def _nullable(dt: DataType) -> DataType:
    if isinstance(dt, StructType):
        return StructType(
            [StructField(f.name, _nullable(f.dataType), True, f.metadata) for f in dt]
        )
    if isinstance(dt, ArrayType):
        return ArrayType(_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_nullable(dt.keyType), _nullable(dt.valueType), True)
    return dt


def read_schema(written: StructType, partition_by=()) -> StructType:
    """The schema ``spark.read.parquet`` returns for rows of schema
    ``written`` stored ``partitionBy(*partition_by)``: every field
    nullable, data columns first, partition columns last in directory
    order (their types are the written ones, which is what partition
    inference gives for the integer ids written here)."""
    by_name = {f.name: f for f in written}
    fields = [f for f in written if f.name not in partition_by]
    fields += [by_name[c] for c in partition_by]
    return _nullable(StructType(fields))


def record_schema(meta: dict, name: str, schema: StructType) -> None:
    meta.setdefault("schemas", {})[name] = schema.jsonValue()


def record_delta_schema(meta: dict, columns, bases, layout=()) -> None:
    """Record the read schema of the index's streaming delta log
    (``<path>/delta``, written by the family's ``append_batch``): rows
    of ``columns``, in the append's order, each typed as in the base
    datasets ``bases`` the build already recorded (a segment merge
    unions delta rows into them), plus the ``__batch`` id, stored
    ``partitionBy(__batch, *layout)``. ``__batch`` is recorded as the
    int a ``lit`` of a micro-batch id gives; a log holding an id beyond
    int range is read through inference instead (``batchlog.read_log``)."""
    types = {f.name: f.dataType for b in bases for f in recorded_schema(meta, b)}
    rows = StructType(
        [StructField(c, types[c]) for c in columns]
        + [StructField(BATCH_COL, IntegerType())]
    )
    record_schema(meta, "delta", read_schema(rows, (BATCH_COL, *layout)))


def recorded_schema(meta: dict | None, name: str) -> StructType | None:
    """The read schema ``meta`` records for dataset ``name``, or None."""
    rec = (meta or {}).get("schemas", {}).get(name)
    return None if rec is None else StructType.fromJson(rec)


def save_dataset(
    df: DataFrame, path: str, name: str, meta: dict, partition_by=()
) -> None:
    """Write ``df`` as the index dataset ``<path>/<name>`` (a static
    overwrite of the whole dataset) and record its read schema in
    ``meta`` — the caller writes the meta after its last dataset."""
    df.write.mode("overwrite").option("partitionOverwriteMode", "static").partitionBy(
        *partition_by
    ).parquet(f"{path}/{name}")
    record_schema(meta, name, read_schema(df.schema, partition_by))


def load_dataset(spark, path: str, name: str, meta: dict | None) -> DataFrame:
    """Read the index dataset ``<path>/<name>`` with the schema ``meta``
    records for it (no Spark job), or through inference when none is
    recorded (a legacy build)."""
    schema = recorded_schema(meta, name)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(f"{path}/{name}")
