"""Token-level text rules shared by the text, quality, dedup and corpus
families: whitespace tokens, word n-grams, marker-word counts and the
normalized-text fingerprint. Each Spark `Column` builder sits next to
the DuckDB SQL builder its oracle uses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def tokens(col: Column) -> Column:
    """Non-empty single-space-separated tokens of a text column."""
    return F.filter(F.split(col, " ", -1), lambda x: x != "")


def sql_tokens(c: str) -> str:
    """DuckDB twin of :func:`tokens`."""
    return f"list_filter(string_split({c}, ' '), x -> x <> '')"


def ngrams(toks, n: int):
    """1-indexed n-gram strings of a token array (JVM-side); empty
    array when the document has fewer than ``n`` tokens (guarded
    because a short array would make the slice length negative).

    Formulated as ``zip_with`` over ``n`` aligned slices — every
    reference to ``toks`` sits OUTSIDE the lambda bodies. The earlier
    ``transform(sequence(...), i -> element_at(toks, i+j))`` shape
    referenced ``toks`` inside the lambda, and higher-order functions
    are interpreted (no codegen, no common-subexpression
    elimination), so a caller passing an inline tokenizer expression
    re-ran the tokenizer PER ELEMENT — measured ~4x whole-query cost
    on the gram-heavy families. Here an inline expression costs at
    most ~2n+1 per-row evaluations, and a materialized column costs
    nothing. Tokens are non-empty and non-null, so ``concat`` with a
    literal space is exactly ``concat_ws``."""
    length = F.size(toks) - (n - 1)
    grams = F.slice(toks, 1, length)
    for j in range(1, n):
        grams = F.zip_with(
            grams,
            F.slice(toks, 1 + j, length),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(F.size(toks) >= n, grams).otherwise(
        F.array().cast("array<string>")
    )


def sql_ngrams(toks: str, n: int) -> str:
    """DuckDB twin of :func:`ngrams`."""
    parts = " || ' ' || ".join(f"{toks}[i+{j}]" for j in range(n))
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"list_transform(generate_series(1, len({toks})-{n - 1}), i -> {parts}) "
        f"ELSE CAST([] AS VARCHAR[]) END"
    )


def count_in(toks: Column, words: tuple[str, ...]) -> Column:
    """Number of tokens that are one of ``words``."""
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def sql_count_in(toks: str, words: tuple[str, ...]) -> str:
    """DuckDB twin of :func:`count_in`."""
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter({toks}, x -> x IN ({lst})))"


def fp_norm() -> Column:
    """Normalization fingerprint of ``text``: md5 of the lowercased text
    with non-alphanumerics collapsed and trimmed — shared by
    `dedup_exact_normalized`, `er_blocking_audit`'s truth set and the
    governance cascade, whose cross-query agreement depends on one
    definition."""
    return F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    )


def sql_fp_norm() -> str:
    """DuckDB twin of :func:`fp_norm`."""
    return "md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))"
