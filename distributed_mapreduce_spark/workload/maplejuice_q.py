"""MapleJuice-surface workload: the flagship query re-expressed through
the arbitrary-function maple/juice runners, proving the generality
surface computes exactly what the declarative plan computes (same
DuckDB oracle as `flagship_pct`).

This is deliberately the *slow path* (Python via Arrow) — it exists
for parity with the reference's run-any-executable capability
(SURVEY.md §2.9), not for performance; the declarative `flagship_pct`
is the plan to run at scale.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions.strings import (
    pct_of_total_sql,
    pct_of_total_str,
    sql_normalize_empty,
    sql_trim_ws,
)
from distributed_mapreduce_spark.maplejuice import juice, maple
from distributed_mapreduce_spark.workload.registry import query, table


def _maple_fn(pdf: pd.DataFrame) -> Iterator[tuple[str, str]]:
    """Maple: filter trim(status)=='F', project+normalize the priority —
    the mapper contract of data/maple-exe.go:16-69 on the orders table."""
    for status, priority in zip(pdf["o_orderstatus"], pdf["o_orderpriority"]):
        if status is not None and str(status).strip() == "F":
            p = "" if priority is None else str(priority).strip()
            yield (p or "empty", "1")


def _juice_fn(key: str, pdf: pd.DataFrame) -> pd.DataFrame:
    """Juice: per-key occurrence count (data/juice-exe.go:19-31)."""
    return pd.DataFrame({"key": [key], "value": [str(len(pdf))]})


@query(
    "maplejuice_flagship",
    oracle=f"""
    WITH g AS (
      SELECT {sql_normalize_empty('o_orderpriority')} AS priority, count(*) AS cnt
      FROM orders
      WHERE {sql_trim_ws('o_orderstatus')} = 'F'
      GROUP BY 1
    )
    SELECT priority, cnt, {pct_of_total_sql('cnt', 'sum(cnt) OVER ()')} AS pct
    FROM g
    """,
)
def q_maplejuice_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship pipeline through maple (mapInPandas) + juice
    (applyInPandas, hash-partitioned) + the final percent-of-total pass
    the reference performs when merging reducer outputs."""
    orders = table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    kv = maple(orders, _maple_fn, num_maples=4)
    counts = juice(kv, _juice_fn, num_juices=4, partition="hash")
    grouped = counts.select(
        F.col("key").alias("priority"), F.col("value").cast("long").alias("cnt")
    )
    total = F.sum("cnt").over(Window.partitionBy())
    return grouped.withColumn("pct", pct_of_total_str(F.col("cnt"), total))


@query(
    "maplejuice_exe_pipeline",
    oracle="""
    SELECT o_orderpriority AS key, count(*) AS cnt
    FROM orders WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
)
def q_maplejuice_exe_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXECUTABLE surface (rdd.pipe), oracle-checked: maple runs an
    awk program over raw lines (filter status=='F', emit
    "priority\\t1"), juice pipes each reducer's key groups through a
    second awk that sums per key — the reference's run-any-binary
    contract (fileserver.py:364-379, 557-571) with the key-in-filename
    protocol replaced by tab-separated lines that survive distribution.
    """
    from distributed_mapreduce_spark.maplejuice import juice_exe, maple_exe

    orders = table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority")
    lines = orders.select(
        F.concat_ws(",", F.col("o_orderstatus"), F.col("o_orderpriority")).alias(
            "value"
        )
    )
    # maple exe: CSV line -> "key\tvalue" pairs (awk is universally present)
    kv = maple_exe(
        lines,
        """awk -F',' '$1 == "F" { print $2 "\t1" }'""",
        num_maples=4,
    )
    # juice exe: per-reducer "key\tvalue" lines -> per-key summed counts
    counts = juice_exe(
        kv,
        """awk -F'\t' '{ s[$1] += $2 } END { for (k in s) print k "\t" s[k] }'""",
        num_juices=4,
        partition="hash",
    )
    return counts.select(
        F.col("key"), F.col("value").cast("long").alias("cnt")
    ).withColumnRenamed("key", "key")
