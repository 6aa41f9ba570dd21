"""Aggregations (SURVEY.md §2.4–2.5).

Spark's hash aggregate does map-side partial aggregation automatically
(the reference's combiner at hadoop/TrafficMapper.java:48-49 +
TrafficReducer.java:22-31 is built in), and the single window-shaped
computation — percent-of-total — is an unbounded window sum instead of
the reference's second in-memory pass (data/juice-exe.go:89-98).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions.strings import pct_of_total_str


def agg_count_per_value(df: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Within each key group, count occurrences of each distinct value.

    Reference: data/juice-exe.go:26-31 (`fileContents[key][line]++`).
    One shuffle on (key, value); partial counts combine map-side.
    """
    return df.groupBy(key_col, value_col).agg(F.count(F.lit(1)).alias("cnt"))


def agg_pct_of_total(
    df: DataFrame,
    group_col: str,
    pct_col: str = "pct",
    count_col: str = "cnt",
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Flagship aggregate: per group, count and percent-of-total ``"%.2f%%"``.

    Reference: data/juice-exe.go:85-102 (total at 89-92, pct at 96-98);
    hadoop/TrafficReducer.java:33-40 computes the total in cleanup().

    The grand total is an unbounded window sum over the *aggregated*
    rows (one row per group), so the window sees |groups| rows, not
    |input| rows — at 100 TB the only global exchange is over the tiny
    aggregate, and AQE coalesces it to a single small partition.
    """
    grouped = df.groupBy(*(partition_cols or []), group_col).agg(
        F.count(F.lit(1)).alias(count_col)
    )
    w = Window.partitionBy(*(partition_cols or []))
    total = F.sum(F.col(count_col)).over(w)
    return grouped.withColumn(pct_col, pct_of_total_str(F.col(count_col), total))


def agg_global_count(df: DataFrame) -> DataFrame:
    """Total row count as a 1-row DataFrame (grep ``c`` flag).

    Reference: client/client.py:99-106 sums per-server counts.
    """
    return df.agg(F.count(F.lit(1)).alias("cnt"))


def agg_count_per_machine(df: DataFrame, machine_col: str) -> DataFrame:
    """Matched lines per machine (grep ``a`` flag aggregation).

    Reference: client/client.py:107-123. The grand-total row the client
    prints is `agg_global_count` over the same input; kept separate so
    the per-machine result stays a clean grouped relation.
    """
    return df.groupBy(machine_col).agg(F.count(F.lit(1)).alias("cnt"))
