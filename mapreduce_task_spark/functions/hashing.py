"""Deterministic, engine-portable hashing helpers.

Everything is built from ``md5`` because it produces identical results
in Spark, DuckDB, and Python — which makes MinHash/SimHash/fingerprint
operators oracle-checkable. Spark's native ``hash``/``xxhash64`` are
faster but engine-specific; at scale swap ``hash64`` for ``xxhash64``
via the ``fast=`` flag (same shape, no oracle parity).

All column functions are JVM built-ins (md5 + conv + substring): no
Python UDFs anywhere on the hash path.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# 15 hex chars = 60 bits < 2^63: always fits a signed int64 in any engine.
_HEX_DIGITS = 15


def md5_hex(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("string"))


def hash64(col: Column | str, fast: bool = False) -> Column:
    """60-bit non-negative integer hash of a string column.

    Portable form: first 15 hex digits of md5, base-16 -> base-10.
    DuckDB equivalent: ``CAST('0x' || substring(md5(x),1,15) AS BIGINT)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if fast:
        # xxhash64 may be negative; mask to 60 bits for shape parity
        return F.abs(F.xxhash64(c.cast("string"))) % F.lit(1 << 60)
    return F.conv(F.substring(md5_hex(c), 1, _HEX_DIGITS), 16, 10).cast("bigint")


def minhash_seed_hash(col: Column | str, seed: int, fast: bool = False) -> Column:
    """Seeded hash family for MinHash: h_seed(x) = hash64(seed || ':' || x)."""
    c = F.col(col) if isinstance(col, str) else col
    return hash64(F.concat(F.lit(f"{seed}:"), c.cast("string")), fast=fast)


def hash64_spark_sql(expr: str, fast: bool = False) -> str:
    """Spark-SQL text equivalent of ``hash64`` — the same expression
    tree built in one ``F.expr`` parse instead of ~6 py4j round trips
    (r13 optimization round; construction cost only, identical plan)."""
    if fast:
        return f"abs(xxhash64(CAST({expr} AS STRING))) % {1 << 60}"
    return (
        f"CAST(conv(substring(md5(CAST({expr} AS STRING)), 1, "
        f"{_HEX_DIGITS}), 16, 10) AS BIGINT)"
    )


def hash64_duckdb_sql(expr: str) -> str:
    """DuckDB SQL text equivalent of ``hash64`` (for oracle queries)."""
    return f"CAST('0x' || substring(md5(CAST({expr} AS VARCHAR)), 1, {_HEX_DIGITS}) AS BIGINT)"


def minhash_seed_hash_duckdb_sql(expr: str, seed: int) -> str:
    return hash64_duckdb_sql(f"concat('{seed}:', CAST({expr} AS VARCHAR))")


# --------------------------------------------------------------------------
# Affine universal-hash family for MinHash: h_i(x) = (a_i*(H(x) mod P) + b_i) mod P
# over the Mersenne prime P = 2^31 - 1. One md5 per value, then each extra
# hash is two int64 ops (product < 2^62, no overflow) — 16x cheaper than 16
# md5 invocations and equally portable to the DuckDB oracle.

MINHASH_P = 2_147_483_647  # 2^31 - 1


def minhash_params(num: int) -> list[tuple[int, int]]:
    """Deterministic md5-derived (a, b) pairs, a in [1, P-1], b in [0, P-1]."""
    import hashlib

    def h(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    return [(h(f"a:{i}") % (MINHASH_P - 1) + 1, h(f"b:{i}") % MINHASH_P) for i in range(num)]


def affine_minhash_spark_sqls(expr: str, num: int, fast: bool = False) -> list[str]:
    """Spark-SQL text for each hash in the affine family ``h_i = (a_i *
    (hash64(expr) % P) + b_i) % P`` with the ``minhash_params``
    constants — the one Spark definition of the family (one selectExpr
    parse instead of ~6 py4j round trips per hash per Column; the
    base-hash subtree repeats per column, and codegen subexpression
    elimination computes it once per row). ``affine_minhash_duckdb_sql``
    is its oracle-side twin."""
    base = f"({hash64_spark_sql(expr, fast=fast)} % {MINHASH_P})"
    return [
        f"({a} * {base} + {b}) % {MINHASH_P} AS h{i}"
        for i, (a, b) in enumerate(minhash_params(num))
    ]


def affine_minhash_duckdb_sql(expr: str, num: int) -> list[str]:
    """DuckDB SQL text for each hash in the affine family (same constants)."""
    base = f"({hash64_duckdb_sql(expr)} % {MINHASH_P})"
    return [f"(({a} * {base} + {b}) % {MINHASH_P})" for a, b in minhash_params(num)]
