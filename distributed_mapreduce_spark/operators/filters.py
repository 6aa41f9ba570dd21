"""Filters / predicates (SURVEY.md §2.2).

All filters here are plain Catalyst expressions, which means they are
pushed into the parquet/CSV scan whenever the column supports it — the
reference's generic SQL path evaluated its regex *after* the shuffle
(data/sql-maple.go:42-56 copies, data/sql-juice.go:49-57 filters);
declaring the predicate lets Spark run it before any exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def filter_eq_param(df: DataFrame, column: str, param: str) -> DataFrame:
    """Parameterized equality with trim-before-compare.

    Reference: data/maple-exe.go:22-26 (`trim(col) == argv param`,
    Go strings.TrimSpace — strips tabs/newlines, not just spaces);
    twin hadoop/TrafficMapper.java:46-50. The param arrives at runtime
    (REPL arg, fileserver.py:1339/1353) → here a plain literal, which
    Catalyst constant-folds and pushes down.
    """
    from distributed_mapreduce_spark.functions.strings import trim_ws

    return df.filter(trim_ws(column) == F.lit(param))


def filter_rlike_line(df: DataFrame, regex: str, columns: list[str] | None = None) -> DataFrame:
    """`SELECT ALL FROM ds WHERE <regex>` — regex over the WHOLE line.

    Reference: data/sql-juice.go:42-60 applies the user regex to each raw
    text line, so `Video,Radio` expresses column adjacency and
    `Video|Radio` alternation (README.md:52-56). For a columnar table we
    reconstruct the "line" as a comma-joined projection of the requested
    columns (all columns if None), preserving whole-line match semantics.
    """
    if columns is None:
        columns = df.columns
    line = F.concat_ws(",", *[F.col(c).cast("string") for c in columns])
    return df.filter(line.rlike(regex))


def filter_min_arity(df: DataFrame, column: str, sep: str, min_fields: int) -> DataFrame:
    """Drop malformed delimited rows with too few fields.

    Reference: data/maple-exe.go:18-20, hadoop/TrafficMapper.java:24.
    Only meaningful on raw-text scans; schema'd reads subsume it.
    """
    return df.filter(F.size(F.split(F.col(column), sep, -1)) >= min_fields)


def grep_filter(df: DataFrame, regex: str, line_col: str = "value") -> DataFrame:
    """Distributed grep `a` mode: keep lines matching the pattern.

    Reference: client/client.py:69-123 fans one TCP grep per machine and
    concatenates matches; in Spark the fan-out is the scan's partitioning
    and this is a single pushable predicate.
    """
    return df.filter(F.col(line_col).rlike(regex))
