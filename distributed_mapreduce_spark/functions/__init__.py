"""Scalar function library (SURVEY.md §2.10).

Every function the reference applies to values, re-expressed as
Catalyst `Column` expressions (JVM-side, codegen'd — never Python UDFs).
Each rule an oracle must reproduce has one home here: the Spark builder
`f` next to its DuckDB SQL-string twin `sql_f`.
"""

from distributed_mapreduce_spark.functions.hashing import hash_u32, sql_hash_u32
from distributed_mapreduce_spark.functions.numeric import bp, revenue, sql_bp, sql_revenue
from distributed_mapreduce_spark.functions.strings import (
    normalize_empty,
    pct_of_total_sql,
    pct_of_total_str,
    sanitize_key,
    sql_normalize_empty,
    sql_sanitize_key,
    sql_trim_ws,
    trim_ws,
)
from distributed_mapreduce_spark.functions.text import (
    count_in,
    fp_norm,
    ngrams,
    sql_count_in,
    sql_fp_norm,
    sql_ngrams,
    sql_tokens,
    tokens,
)

__all__ = [
    "bp",
    "count_in",
    "fp_norm",
    "hash_u32",
    "ngrams",
    "normalize_empty",
    "pct_of_total_sql",
    "pct_of_total_str",
    "revenue",
    "sanitize_key",
    "sql_bp",
    "sql_count_in",
    "sql_fp_norm",
    "sql_hash_u32",
    "sql_ngrams",
    "sql_normalize_empty",
    "sql_revenue",
    "sql_sanitize_key",
    "sql_tokens",
    "sql_trim_ws",
    "tokens",
    "trim_ws",
]
