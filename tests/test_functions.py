"""String-semantics unit tests on crafted messy values — the classes
FIXTURES.md calls load-bearing: whitespace, empties, slashes, the
"empty" sentinel, exact percent formatting — and the agreement of every
Spark/DuckDB twin in `functions/` on those values."""

from __future__ import annotations

from decimal import Decimal

import duckdb
import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark import functions as fx
from distributed_mapreduce_spark.functions.strings import (
    normalize_empty,
    pct_of_total_str,
    sanitize_key,
)


def test_normalize_empty(spark):
    df = spark.createDataFrame(
        [(" Fiber/Radio ",), ("",), ("   ",), (None,), ("Loop",)], ["v"]
    )
    got = [r[0] for r in df.select(normalize_empty("v")).collect()]
    assert got == ["Fiber/Radio", "empty", "empty", "empty", "Loop"]


def test_sanitize_key(spark):
    df = spark.createDataFrame(
        [("Fiber/Radio",), ("Loop Video",), ("  ",), ("a/b c",)], ["v"]
    )
    got = [r[0] for r in df.select(sanitize_key("v")).collect()]
    assert got == ["Fiber_Radio", "Loop_Video", "empty", "a_b_c"]


def test_pct_formatting_truncates_to_two_decimals(spark):
    # 1/3 of 100 = 33.33...% -> "33.33%"; 1/32 = 3.125% -> "3.12%"
    # (truncation, engine-portable; never float printf rounding)
    df = spark.createDataFrame([(1, 3), (1, 32), (1, 2), (1, 1)], ["c", "t"])
    got = [
        r[0]
        for r in df.select(pct_of_total_str(F.col("c"), F.col("t"))).collect()
    ]
    assert got == ["33.33%", "3.12%", "50.00%", "100.00%"]


def test_rolling_hash_is_order_sensitive(spark):
    from distributed_mapreduce_spark.workload import text as wt

    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma beta alpha"), (3, "alpha beta gamma"), (4, "")],
        ["doc_id", "text"],
    )
    th = F.transform(fx.tokens(F.col("text")), lambda s: fx.hash_u32(s, "rh_"))
    fold = F.aggregate(
        th, F.lit(0).cast("long"),
        lambda acc, x: (acc * 31 + x).bitwiseAND(F.lit(wt.ROLLING_MASK)),
    )
    got = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fold.alias("fp")).collect()}
    assert got[1] == got[3]          # identical text, identical fp
    assert got[1] != got[2]          # permuted tokens change the fp
    assert got[4] == 0               # empty text folds to the seed


#: (id, text, num, den, l_extendedprice, l_discount): empty, NULL, tabs and newlines,
#: repeated spaces, non-ASCII, punctuation-only, and den = 0 for bp.
_TWIN_ROWS = [
    (1, "", 3, 0, 1234.56, 0.05),
    (2, None, None, 7, None, None),
    (3, "a\tb\nc  d\t", 1, 3, 0.01, 0.0),
    (4, "  two   spaces  here  ", 0, 5, 99999.99, 0.1),
    (5, "naïve Café 東京 ÉCOLE", 2, 0, 17.5, 0.07),
    (6, "\t \n", 7, 7, 0.0, 0.04),
    (7, "the alpha and the beta of the gamma", 5, 32, 1.0, 0.1),
    (8, "Fiber/Radio Loop, Video!!", None, None, 250.25, None),
]
_TWIN_SCHEMA = (
    "id int, text string, num bigint, den bigint, l_extendedprice double, l_discount double"
)

_WORDS = ("the", "and", "東京")

#: name -> (Spark Column, DuckDB SQL) over the columns of _TWIN_ROWS.
_TWINS = {
    "hash_u32": (lambda: fx.hash_u32(F.col("text")), lambda: fx.sql_hash_u32("text")),
    "hash_u32_seeded": (
        lambda: fx.hash_u32(F.col("text"), "mh_"),
        lambda: fx.sql_hash_u32("text", "mh_"),
    ),
    "tokens": (lambda: fx.tokens(F.col("text")), lambda: fx.sql_tokens("text")),
    "ngrams2": (
        lambda: fx.ngrams(fx.tokens(F.col("text")), 2),
        lambda: fx.sql_ngrams(fx.sql_tokens("text"), 2),
    ),
    "ngrams3": (
        lambda: fx.ngrams(fx.tokens(F.col("text")), 3),
        lambda: fx.sql_ngrams(fx.sql_tokens("text"), 3),
    ),
    "count_in": (
        lambda: fx.count_in(fx.tokens(F.col("text")), _WORDS),
        lambda: fx.sql_count_in(fx.sql_tokens("text"), _WORDS),
    ),
    "bp": (lambda: fx.bp(F.col("num"), F.col("den")), lambda: fx.sql_bp("num", "den")),
    "fp_norm": (fx.fp_norm, fx.sql_fp_norm),
    "trim_ws": (lambda: fx.trim_ws("text"), lambda: fx.sql_trim_ws("text")),
    "normalize_empty": (
        lambda: fx.normalize_empty("text"),
        lambda: fx.sql_normalize_empty("text"),
    ),
    "sanitize_key": (lambda: fx.sanitize_key("text"), lambda: fx.sql_sanitize_key("text")),
    "revenue": (fx.revenue, fx.sql_revenue),
    # Domain: non-null counts with 0 < count <= total (count(*) outputs).
    # Outside it the twins differ: a NULL count formats as 'null.null%'
    # in Spark and as NULL in DuckDB, and total = 0 raises in Spark.
    "pct_of_total": (
        lambda: pct_of_total_str(F.col("id"), F.col("id") + 2),
        lambda: fx.pct_of_total_sql("id", "id + 2"),
    ),
}


def _canon(v):
    if isinstance(v, list):
        return [_canon(x) for x in v]
    if isinstance(v, float):
        return Decimal(str(v))
    return v


@pytest.fixture(scope="module")
def twin_values(spark):
    """Every twin evaluated on _TWIN_ROWS by both engines:
    name -> (spark values, duckdb values), ordered by id."""
    sdf = spark.createDataFrame(_TWIN_ROWS, _TWIN_SCHEMA)
    names = list(_TWINS)
    srows = sdf.orderBy("id").select(
        *[_TWINS[n][0]().alias(n) for n in names]
    ).collect()
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (id INTEGER, text VARCHAR, num BIGINT, den BIGINT, "
        "l_extendedprice DOUBLE, l_discount DOUBLE)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?, ?)", _TWIN_ROWS)
    sel = ", ".join(f"{_TWINS[n][1]()} AS {n}" for n in names)
    drows = con.execute(f"SELECT {sel} FROM t ORDER BY id").fetchall()
    con.close()
    return {
        n: ([_canon(r[i]) for r in srows], [_canon(r[i]) for r in drows])
        for i, n in enumerate(names)
    }


@pytest.mark.parametrize("name", list(_TWINS))
def test_spark_and_duckdb_twins_agree(twin_values, name):
    spark_vals, duck_vals = twin_values[name]
    assert spark_vals == duck_vals
    # the inputs are not degenerate: at least two distinct non-null values
    assert len({repr(v) for v in spark_vals if v is not None}) >= 2
