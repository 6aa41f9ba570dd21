"""Engine-portable uint32 hash (SURVEY.md §7.4): the first 8 hex chars
of an md5 digest read as an unsigned integer.

md5 is standardized, so the same bucket comes out of Spark and DuckDB —
unlike Python `hash()` (run-to-run nondeterministic) or Spark's Murmur3
`F.hash` (engine-specific). Every hash bucket, sample gate, split and
minhash family in the workload is this one function with a different
seed prefix.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def hash_u32(col: Column, seed: str | None = None) -> Column:
    """uint32 of md5(seed || col), or of md5(col) when ``seed`` is None."""
    s = col if seed is None else F.concat(F.lit(seed), col)
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def sql_hash_u32(expr: str, seed: str | None = None) -> str:
    """DuckDB twin of :func:`hash_u32`."""
    s = expr if seed is None else f"'{seed}' || {expr}"
    return f"('0x' || substr(md5({s}), 1, 8))::BIGINT"
