"""Exact numeric rules whose Spark and DuckDB forms must agree to the
last digit: integer basis points and TPC-H decimal revenue (double
arithmetic is order-dependent; these are not)."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_DEC = "decimal(18,2)"


def bp(num: Column, den: Column) -> Column:
    """Exact integer basis points: floor(num*10000/den); 0 if den=0."""
    return F.when(den == 0, F.lit(0)).otherwise(
        F.floor(num.cast("double") * 10000.0 / den.cast("double"))
    ).cast("long")


def sql_bp(num: str, den: str) -> str:
    """DuckDB twin of :func:`bp`."""
    return (
        f"CAST(CASE WHEN ({den}) = 0 THEN 0 "
        f"ELSE floor(({num}) * 10000.0 / ({den})) END AS BIGINT)"
    )


def revenue() -> Column:
    """TPC-H line revenue extendedprice * (1 - discount) in DECIMAL(18,2)."""
    price = F.col("l_extendedprice").cast(_DEC)
    disc = F.col("l_discount").cast(_DEC)
    return price * (F.lit(1).cast(_DEC) - disc)


def sql_revenue() -> str:
    """DuckDB twin of :func:`revenue`."""
    return (
        "CAST(l_extendedprice AS DECIMAL(18,2))"
        " * (1 - CAST(l_discount AS DECIMAL(18,2)))"
    )
