"""Set operations, distinct, sort, limit (SURVEY.md §2.6–2.7).

The reference's only set op is the union-by-concatenation in
`conglomerate` (file_server/fileserver.py:598-631) and its only sort is
an internal key sort for range partitioning (fileserver.py:713). The
full family is exposed here since the engine's SQL surface implies it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame


def union_all(*dfs: DataFrame) -> DataFrame:
    """Bag union of same-schema datasets (by column NAME, not position)."""
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def distinct_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """De-duplicate (reference: distinct intermediate filenames,
    data/maple-exe.go:132-141). With `cols`, project first — projecting
    before distinct prunes the scan and shrinks the shuffle."""
    if cols:
        df = df.select(*cols)
    return df.distinct()


def top_k(df: DataFrame, k: int, *order_cols: Column) -> DataFrame:
    """ORDER BY ... LIMIT k. Spark plans TakeOrderedAndProject: each
    partition keeps its local top-k, the driver merges n×k rows — no
    global sort, the only top-k that scales."""
    return df.orderBy(*order_cols).limit(k)
