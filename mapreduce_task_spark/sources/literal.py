"""Small frames of Python values, planned in the JVM."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def literal_rows(spark: SparkSession, rows: list[tuple], names: list[str]) -> DataFrame:
    """A frame holding ``rows`` (Python scalars) under column ``names``.

    ``spark.createDataFrame`` from Python rows builds a Python RDD: its
    plan scans an ``ExistingRDD`` and consuming it starts a Python
    worker. Here the rows are one array of structs exploded over
    ``spark.range(1)``; the optimizer folds the array into a single
    literal, which generated code holds by reference, so a frame of
    other values reuses the compiled classes. Types are the ones
    ``createDataFrame`` infers: a Python int becomes ``bigint``, a float
    ``double``, a str ``string``, a bool ``boolean``.
    """
    if not rows:
        raise ValueError("literal_rows needs at least one row")

    def lit(v):
        return F.lit(v).cast("bigint") if type(v) is int else F.lit(v)

    structs = [F.struct(*[lit(v).alias(n) for n, v in zip(names, r)]) for r in rows]
    return spark.range(1).select(F.inline(F.array(*structs)))
