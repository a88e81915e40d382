"""Portable deterministic hashing computable bit-identically in Spark
AND DuckDB — the foundation that makes the sketch operators (MinHash,
SimHash, winnowing fingerprints) oracle-checkable instead of
rows-only-checkable.

Spark's xxhash64 has no DuckDB twin, so every operator built on it can
only be verified statistically. Both engines DO share md5: the first 15
hex chars parse to the same 60-bit non-negative BIGINT via
  Spark : conv(substr(md5(s), 1, 15), 16, 10)::long
  DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT
From that base hash a universal family h_j(x) = (a_j * x31 + b_j) mod P
(P = 2^31 - 1, x31 = base mod P) yields any number of independent
permutation hashes with ONE md5 per input — all products stay under
2^62, so the arithmetic is exact in plain BIGINT in both engines (no
overflow under Spark's ANSI mode, no HUGEINT needed in DuckDB).

The (a_j, b_j) coefficients are fixed constants derived from hashlib.md5
at import time — the same literals are inlined into the Spark plan and
the oracle SQL text.

Every hash-based split, resample weight and MinHash permutation goes
through md5, the one hash both engines share, so the SQL oracle can
replay it.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F

# Mersenne prime 2^31 - 1: products a_j * x31 < 2^62 fit signed 64-bit.
P31 = 2_147_483_647


def _const(tag: str, j: int, lo: int, hi: int) -> int:
    """Deterministic constant in [lo, hi) from md5(tag||j)."""
    h = int(hashlib.md5(f"{tag}:{j}".encode()).hexdigest()[:15], 16)
    return lo + h % (hi - lo)


def minhash_coeffs(num_hashes: int) -> list[tuple[int, int]]:
    """(a_j, b_j) for the universal family; a_j in [1, P), b_j in [0, P)."""
    return [
        (_const("minhash-a", j, 1, P31), _const("minhash-b", j, 0, P31))
        for j in range(num_hashes)
    ]


def hash60(col: Column) -> Column:
    """60-bit non-negative base hash of a string column (Spark side),
    md5-based so DuckDB replays it (hash60_sql)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    """The identical base hash as DuckDB SQL over an expression string."""
    return f"(('0x' || substr(md5({expr}), 1, 15))::BIGINT)"


def hash60_spark_sql(expr: str) -> str:
    """hash60 as Spark-SQL TEXT (for operators that build JVM-parsed
    SQL strings instead of Column trees)."""
    return f"CAST(conv(substring(md5({expr}), 1, 15), 16, 10) AS BIGINT)"


def hash31(col: Column) -> Column:
    """Base hash reduced into the multiply-mod field [0, P31)."""
    return hash60(col) % F.lit(P31).cast("long")


def hash31_sql(expr: str) -> str:
    return f"({hash60_sql(expr)} % 2147483647)"


def affine31(x31: Column, a: int, b: int) -> Column:
    """h_j(x) = (a * x31 + b) mod P31, exact in BIGINT (Spark side)."""
    return (
        F.lit(a).cast("long") * x31 + F.lit(b).cast("long")
    ) % F.lit(P31).cast("long")


def affine31_sql(x31_expr: str, a: int, b: int) -> str:
    return f"(({a}::BIGINT * {x31_expr} + {b}::BIGINT) % 2147483647)"
