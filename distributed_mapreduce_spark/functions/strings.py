"""String semantics ported from the reference's value handling.

The reference trims every field before use, maps empty/whitespace-only
values to the literal ``"empty"``, sanitizes keys (``/`` and space →
``_``), and formats percentages as ``"%.2f%%"`` strings
(reference: data/maple-exe.go:22-39, data/juice-exe.go:96-98,
hadoop/TrafficMapper.java:29-43, hadoop/TrafficReducer.java:37-38).

These are load-bearing, non-standard semantics (SURVEY.md §7.4), so they
live here as named, reusable Column transformations, each next to the
DuckDB SQL twin its oracles use.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Literal substituted for empty/whitespace-only values.
EMPTY_SENTINEL = "empty"

#: Whitespace stripped at both ends. The reference uses Go's
#: strings.TrimSpace (data/maple-exe.go:22), which strips tabs/newlines
#: too — Spark's `F.trim` and SQL `trim()` strip ONLY spaces, a
#: divergence hypothesis found with a tab-padded value. The explicit
#: class below behaves identically in Java regex and RE2 (DuckDB).
WS_CLASS = " \t\n\r\f"
_TRIM_RE = f"^[{WS_CLASS}]+|[{WS_CLASS}]+$"


def trim_ws(col: Column | str) -> Column:
    """Strip [ \\t\\n\\r\\f] from both ends (Go TrimSpace parity)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(c, _TRIM_RE, "")


def sql_trim_ws(expr: str) -> str:
    """DuckDB twin of :func:`trim_ws` (real control chars embedded —
    DuckDB standard strings don't interpret backslash escapes)."""
    return f"regexp_replace({expr}, '{_TRIM_RE}', '', 'g')"


def normalize_empty(col: Column | str) -> Column:
    """trim (Go TrimSpace semantics), then empty → ``"empty"``.

    Reference semantics: data/maple-exe.go:28-32 and
    hadoop/TrafficMapper.java:37-43 (NULL is treated the same as empty
    because the reference's CSV lines can't express NULL).
    """
    t = trim_ws(col)
    return F.when(t.isNull() | (t == ""), F.lit(EMPTY_SENTINEL)).otherwise(t)


def sql_normalize_empty(expr: str) -> str:
    """DuckDB twin of :func:`normalize_empty`."""
    t = sql_trim_ws(expr)
    return f"CASE WHEN {expr} IS NULL OR {t} = '' THEN '{EMPTY_SENTINEL}' ELSE {t} END"


def sanitize_key(col: Column | str) -> Column:
    """Key canonicalization: ``/`` → ``_``, space → ``_``, empty → ``"empty"``.

    In the reference this exists because keys become filenames
    (data/maple-exe.go:34-41); kept as an optional string op for parity.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.translate(normalize_empty(c), "/ ", "__")


def sql_sanitize_key(expr: str) -> str:
    """DuckDB twin of :func:`sanitize_key`."""
    return f"replace(replace({sql_normalize_empty(expr)}, '/', '_'), ' ', '_')"


def pct_of_total_str(count_col: Column, total_col: Column) -> Column:
    """``"%.2f%%"`` percent-of-total as a string, truncated to 2 decimals.

    Reference: data/juice-exe.go:96-98 / hadoop/TrafficReducer.java:37-38.

    Implemented via exact integer arithmetic (basis points =
    floor(count*10000/total)) so Spark and any ANSI-SQL oracle produce
    byte-identical strings: float printf rounding is round-half-even in C
    but HALF_UP in Java, so formatting a double directly is not portable.
    Both inputs are < 2^53, so the double division is correctly rounded
    and its floor is exact.
    """
    bp = F.floor(count_col.cast("double") * 10000.0 / total_col.cast("double"))
    return F.format_string("%d.%02d%%", (bp / 100).cast("long"), (bp % 100).cast("long"))


def pct_of_total_sql(count_expr: str, total_expr: str) -> str:
    """DuckDB/ANSI twin of :func:`pct_of_total_str` (for oracle strings)."""
    bp = f"CAST(floor(({count_expr}) * 10000.0 / ({total_expr})) AS BIGINT)"
    return f"printf('%d.%02d%%', {bp} // 100, {bp} % 100)"
