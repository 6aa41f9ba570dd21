"""Core parity workload — every reference operator (SURVEY.md §2) as a
named query over the harness tables, with a DuckDB oracle.

Table mapping (FIXTURES.md §4): orders stands in for the traffic CSV
(o_orderstatus = filter column, o_orderpriority = group column),
documents.text for log lines (grep / regex SELECT / wordcount),
lineitem for the key-value aggregation fixtures.

Determinism rules used throughout (SURVEY.md §7.4):
- percent strings via exact integer basis-points (see functions.strings),
- money/quantity aggregates in DECIMAL with pinned scale (double sums
  are order-dependent; decimal sums are exact in both engines),
- hash buckets via md5 (portable), never Python hash() or Murmur3,
- every computed column aliased identically in Spark and SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import (
    hash_u32,
    normalize_empty,
    pct_of_total_sql,
    sanitize_key,
    sql_hash_u32,
    sql_normalize_empty,
    sql_sanitize_key,
    sql_trim_ws,
)
from distributed_mapreduce_spark.operators.aggregates import (
    agg_count_per_machine,
    agg_count_per_value,
    agg_global_count,
    agg_pct_of_total,
)
from distributed_mapreduce_spark.operators.filters import (
    filter_eq_param,
    filter_min_arity,
    filter_rlike_line,
    grep_filter,
)
from distributed_mapreduce_spark.operators.joins import join_anti, join_dim, join_inner, join_semi
from distributed_mapreduce_spark.operators.partitioning import hash_bucket, range_bucket
from distributed_mapreduce_spark.operators.setops import distinct_rows, top_k, union_all
from distributed_mapreduce_spark.workload.registry import query, table

# Regex used by the grep-family queries (hits a strict subset of docs).
GREP_PATTERN = "window .*hash"
# Whole-line regex for the SELECT surface: exercises cross-column
# adjacency exactly like the reference's `Video,Radio` example
# (README.md:52-56) — here "…text ends …,<lang>" adjacency.
SELECT_PATTERN = "spark .*,en,"


# ---------------------------------------------------------------------------
# Flagship (SURVEY §7.2): filter + group + percent-of-total
# ---------------------------------------------------------------------------

@query(
    "flagship_pct",
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
def flagship_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's flagship query re-based onto `orders`:
    `maple maple-exe N bear traffic.csv <param>` + `juice juice-exe N ...`
    ≡ filter trim(col)==param → group by normalized value → pct-of-total
    (data/maple-exe.go:16-69 + data/juice-exe.go:85-102)."""
    orders = table(spark, sf_dir, "orders")
    filtered = filter_eq_param(orders, "o_orderstatus", "F")
    with_group = filtered.select(normalize_empty("o_orderpriority").alias("priority"))
    return agg_pct_of_total(with_group, "priority")


# ---------------------------------------------------------------------------
# Filters / projections
# ---------------------------------------------------------------------------

@query(
    "filter_eq_param",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE {sql_trim_ws('o_orderstatus')} = 'F'
    """,
)
def q_filter_eq_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameterized equality predicate (data/maple-exe.go:22-26)."""
    orders = table(spark, sf_dir, "orders")
    return filter_eq_param(orders, "o_orderstatus", "F").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "select_regex",
    oracle=f"""
    SELECT doc_id,
           concat_ws(',', CAST(doc_id AS VARCHAR), text, lang, source) AS line
    FROM documents
    WHERE regexp_matches(concat_ws(',', CAST(doc_id AS VARCHAR), text, lang, source),
                         '{SELECT_PATTERN}')
    """,
)
def q_select_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`SELECT ALL FROM ds WHERE <regex>` — whole-line regex semantics
    (data/sql-juice.go:42-60). The line is the comma-joined row, so the
    pattern can express column adjacency like the reference's
    `Video,Radio` (README.md:52-56)."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text", "lang", "source")
    line = F.concat_ws(
        ",", F.col("doc_id").cast("string"), F.col("text"), F.col("lang"), F.col("source")
    ).alias("line")
    with_line = docs.select("doc_id", line)
    return with_line.filter(F.col("line").rlike(SELECT_PATTERN))


@query(
    "grep_lines",
    oracle=f"""
    SELECT doc_id, text FROM documents WHERE regexp_matches(text, '{GREP_PATTERN}')
    """,
)
def q_grep_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep, `a` flag: matching lines (client/client.py:107-123)."""
    docs = table(spark, sf_dir, "documents")
    return grep_filter(docs, GREP_PATTERN, "text").select("doc_id", "text")


@query(
    "grep_count",
    oracle=f"""
    SELECT count(*) AS cnt FROM documents WHERE regexp_matches(text, '{GREP_PATTERN}')
    """,
)
def q_grep_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed grep, `c` flag: global match count (client/client.py:99-106)."""
    docs = table(spark, sf_dir, "documents")
    return agg_global_count(grep_filter(docs, GREP_PATTERN, "text"))


@query(
    "grep_per_machine",
    oracle=f"""
    SELECT source, count(*) AS cnt FROM documents
    WHERE regexp_matches(text, '{GREP_PATTERN}') GROUP BY source
    """,
)
def q_grep_per_machine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grep per-machine counts; `source` stands in for the vm id
    (client/client.py:107-123, path pattern client.py:66)."""
    docs = table(spark, sf_dir, "documents")
    return agg_count_per_machine(grep_filter(docs, GREP_PATTERN, "text"), "source")


@query(
    "filter_min_arity",
    oracle="""
    SELECT doc_id FROM documents WHERE len(string_split(text, ' ')) >= 50
    """,
)
def q_filter_min_arity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arity guard on delimited lines (data/maple-exe.go:18-20)."""
    docs = table(spark, sf_dir, "documents")
    return filter_min_arity(docs, "text", " ", 50).select("doc_id")


@query(
    "project_column",
    oracle="SELECT l_returnflag FROM lineitem",
)
def q_project_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-column projection (data/maple-exe.go:28,64) — the scan
    should read exactly one column (ReadSchema pruning)."""
    return table(spark, sf_dir, "lineitem").select("l_returnflag")


@query(
    "normalize_empty",
    oracle=f"""
    SELECT {sql_normalize_empty('o_orderpriority')} AS priority, count(*) AS cnt
    FROM orders GROUP BY 1
    """,
)
def q_normalize_empty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trim + empty→"empty" normalization (data/maple-exe.go:28-32)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(normalize_empty("o_orderpriority").alias("priority"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "sanitize_key",
    oracle=f"""
    SELECT DISTINCT {sql_sanitize_key('p_type')} AS key FROM part
    """,
)
def q_sanitize_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key canonicalization `/`,space→`_` (data/maple-exe.go:34-39)."""
    part = table(spark, sf_dir, "part")
    return part.select(sanitize_key("p_type").alias("key")).distinct()


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

@query(
    "group_count",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt
    FROM lineitem GROUP BY 1, 2
    """,
)
def q_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count per (key, value) group (data/juice-exe.go:26-31)."""
    return agg_count_per_value(table(spark, sf_dir, "lineitem"), "l_returnflag", "l_linestatus")


@query(
    "wordcount",
    oracle="""
    SELECT word, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word
    """,
)
def q_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical MapReduce wordcount: mapper emits (word,1), reducer sums
    (hadoop/TrafficMapper.java:48-49 + TrafficReducer.java:22-31).
    Spark's hash aggregate applies the map-side combine automatically."""
    docs = table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.col("text"), " ", -1)).alias("word"))
    return words.filter(F.col("word") != "").groupBy("word").agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "pct_by_group",
    oracle=f"""
    WITH g AS (
      SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, cnt, {pct_of_total_sql('cnt', 'sum(cnt) OVER ()')} AS pct
    FROM g
    """,
)
def q_pct_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total distribution (data/juice-exe.go:85-102)."""
    return agg_pct_of_total(table(spark, sf_dir, "lineitem"), "l_returnflag")


@query(
    "agg_q1",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS VARCHAR) AS sum_qty,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS VARCHAR) AS sum_base_price,
           CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(30,4)) AS VARCHAR) AS revenue,
           count(*) AS count_order
    FROM lineitem
    WHERE l_quantity <= 25
    GROUP BY 1, 2
    """,
)
def q_agg_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-aggregate pricing summary (TPC-H Q1 shape) — the upgraded
    form of the reference's count/sum reducers. DECIMAL sums with pinned
    scale: double sums are non-associative and engine-order-dependent.

    The DECIMAL aggregates are surfaced as canonical fixed-scale strings:
    a pinned-scale decimal renders identical digit strings in any engine,
    which makes the output hash-stable across comparator implementations
    (round-1 driver hashed DECIMAL columns differently despite value-equal
    rows — VERDICT r01 "What's wrong" #1)."""
    li = table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity").cast("decimal(18,2)")
    price = F.col("l_extendedprice").cast("decimal(18,2)")
    disc = F.col("l_discount").cast("decimal(18,2)")
    return (
        li.filter(F.col("l_quantity") <= 25)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("decimal(30,2)").cast("string").alias("sum_qty"),
            F.sum(price).cast("decimal(30,2)").cast("string").alias("sum_base_price"),
            F.sum(price * (F.lit(1).cast("decimal(18,2)") - disc)).cast("decimal(30,4)").cast("string").alias("revenue"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "distinct_values",
    oracle="SELECT DISTINCT p_brand FROM part",
)
def q_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deduplicate (data/maple-exe.go:132-141). Projection-first so the
    scan reads one column and the shuffle carries distinct keys only."""
    return distinct_rows(table(spark, sf_dir, "part"), ["p_brand"])


@query(
    "approx_distinct_counts",
    oracle="""
    SELECT 'o_custkey' AS col_name, count(DISTINCT o_custkey) AS exact_cnt,
           TRUE AS within_5pct
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(DISTINCT o_orderpriority), TRUE FROM orders
    UNION ALL
    SELECT 'o_orderstatus', count(DISTINCT o_orderstatus), TRUE FROM orders
    """,
)
def q_approx_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch with a DIFFERENTIAL error
    bound: the 100 TB profiling path is `approx_count_distinct` (fixed
    ~KB of state per group, one pass, mergeable partials — an exact
    distinct shuffles every distinct value), and the query certifies it
    by ALSO computing the exact count and returning
    `|approx - exact| <= 5% * exact` as a column. The oracle asserts the
    bound holds (TRUE) and pins the exact count — so the driver's
    exact-match harness verifies an approximate operator. HLL on a fixed
    dataset is deterministic: a green bound stays green."""
    orders = table(spark, sf_dir, "orders")

    # One aggregate per column, unioned: N distinct aggregates in a
    # single Aggregate would go through Expand (one duplicated input
    # row per aggregate — measured 2.1x slower than three pruned scans
    # here). The per-column form also drops the exact-distinct shuffle
    # entirely once the certification column is removed for production.
    #
    # Dedup FIRST, sketch after: mixing countDistinct with
    # approx_count_distinct in one Aggregate made Catalyst rewrite it as
    # a group-by-the-key aggregate whose partial HLL buffer (410 longs)
    # rode the shuffle ONCE PER DISTINCT KEY (r12 before-plan: Exchange
    # input [411 cols] hashpartitioned by o_custkey — ~3 KB per key).
    # Aggregating the deduped keys instead shuffles just the key and
    # builds one HLL buffer per partition; HLL is insert-idempotent, so
    # the sketch over the distinct set is bit-identical to the sketch
    # over the raw column.
    def one(col: str) -> DataFrame:
        d = orders.select(col).distinct()
        exact = F.count(F.col(col))
        approx = F.approx_count_distinct(col, rsd=0.02)
        return d.agg(
            F.lit(col).alias("col_name"),
            exact.alias("exact_cnt"),
            (F.abs(approx - exact) * 100 <= exact * 5).alias("within_5pct"),
        )

    return (
        one("o_custkey").unionAll(one("o_orderpriority")).unionAll(one("o_orderstatus"))
    )


@query(
    "approx_percentile_prices",
    oracle="""
    SELECT CAST(0.5 AS DOUBLE) AS p, quantile_cont(o_totalprice, 0.5) AS exact_val,
           TRUE AS within_1pct
    FROM orders
    UNION ALL
    SELECT CAST(0.9 AS DOUBLE), quantile_cont(o_totalprice, 0.9), TRUE FROM orders
    UNION ALL
    SELECT CAST(0.99 AS DOUBLE), quantile_cont(o_totalprice, 0.99), TRUE FROM orders
    """,
)
def q_approx_percentile_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL/GK-style percentile sketch (`approx_percentile`) certified
    against the exact interpolated percentile, same scheme as
    `approx_distinct_counts`: the sketch is the scale path (bounded
    state, mergeable; exact percentile needs a global sort), the exact
    value rides along only to prove `|approx - exact| <= 1% * exact`.
    Spark's exact `percentile` ≡ DuckDB `quantile_cont` bit-for-bit
    (same linear interpolation), so `exact_val` is hash-stable."""
    orders = table(spark, sf_dir, "orders")

    def one(p: float) -> DataFrame:
        exact = F.expr(f"percentile(o_totalprice, CAST({p} AS DOUBLE))")
        approx = F.expr(f"approx_percentile(o_totalprice, CAST({p} AS DOUBLE), 10000)")
        return orders.agg(
            F.lit(p).alias("p"),
            exact.alias("exact_val"),
            (F.abs(approx - exact) <= F.abs(exact) * 0.01).alias("within_1pct"),
        )

    return one(0.5).unionAll(one(0.9)).unionAll(one(0.99))


# ---------------------------------------------------------------------------
# Joins (declared-but-dead in the reference, fileserver.py:1383-1384)
# ---------------------------------------------------------------------------

@query(
    "join_inner",
    oracle="""
    SELECT o_orderkey, c_name, o_totalprice
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ customer equi-join. No explicit broadcast hint: customer
    scales with SF, so the strategy is left to AQE (broadcast while the
    build side fits, shuffle join beyond)."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    joined = join_inner(orders, customer, orders.o_custkey == customer.c_custkey)
    return joined.select("o_orderkey", "c_name", "o_totalprice")


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS semi-join — no row duplication, right side never projected."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return join_semi(customer, orders, "c_custkey").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS anti-join (customers with no orders)."""
    customer = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return join_anti(customer, orders, "c_custkey").select("c_custkey", "c_name")


@query(
    "join_multiway",
    oracle="""
    SELECT r_name, count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS total_price
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def q_join_multiway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema rollup: fact ⋈ dims, then aggregate. nation/region
    are fixed-size and carry explicit broadcast hints; customer scales
    with SF so its join strategy is left to AQE (broadcast while small).
    At 100 TB the fact streams through the dim joins before the final
    (tiny, 5-group) aggregation."""
    orders = table(spark, sf_dir, "orders")
    customer = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    region = table(spark, sf_dir, "region")
    df = orders.join(customer, orders.o_custkey == customer.c_custkey)
    df = join_dim(df, nation, df.c_nationkey == nation.n_nationkey)
    df = join_dim(df, region, df.n_regionkey == region.r_regionkey)
    return df.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("decimal(30,2)").alias("total_price"),
    )


# ---------------------------------------------------------------------------
# Windows, sort, limit, set ops
# ---------------------------------------------------------------------------

@query(
    "window_rank",
    oracle="""
    SELECT c_custkey, c_nationkey,
           rank() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
    FROM customer
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window (beyond the reference, which has none — §2.5)."""
    customer = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return customer.select("c_custkey", "c_nationkey", F.rank().over(w).alias("rnk"))


@query(
    "window_running",
    oracle="""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                OVER (PARTITION BY l_suppkey
                      ORDER BY l_shipdate, l_orderkey, l_linenumber,
                               l_partkey, l_quantity, l_extendedprice
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DECIMAL(30,2)) AS VARCHAR) AS running_qty
    FROM lineitem
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running-sum analytic window with a total deterministic ordering.

    (l_orderkey, l_linenumber) is NOT unique in the harness data, so the
    order extends through every remaining column — rows that still tie
    are full duplicates, whose outputs are identical either way.

    running_qty is surfaced as a fixed-scale decimal string for
    comparator hash stability (VERDICT r01 "What's wrong" #1); the sum
    itself stays DECIMAL internally."""
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(
            "l_shipdate", "l_orderkey", "l_linenumber",
            "l_partkey", "l_quantity", "l_extendedprice",
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).over(w).cast("decimal(30,2)").cast("string").alias("running_qty"),
    )


@query(
    "topk",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY + LIMIT k → TakeOrderedAndProject (per-partition top-k,
    driver merges n×k rows; no global sort)."""
    orders = table(spark, sf_dir, "orders")
    return top_k(
        orders.select("o_orderkey", "o_totalprice"),
        10,
        F.col("o_totalprice").desc(),
        F.col("o_orderkey"),
    )


@query(
    "union_distinct",
    oracle="""
    SELECT DISTINCT nationkey FROM (
      SELECT c_nationkey AS nationkey FROM customer
      UNION ALL
      SELECT s_nationkey AS nationkey FROM supplier
    )
    """,
)
def q_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + distinct (conglomerate concatenation, fileserver.py:598-631)."""
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return distinct_rows(union_all(c, s))


# ---------------------------------------------------------------------------
# Partitioning (user-visible juice arguments, §2.8)
# ---------------------------------------------------------------------------

@query(
    "partition_hash_assign",
    oracle=f"""
    SELECT bucket, count(*) AS cnt FROM (
      SELECT CAST({sql_hash_u32('CAST(o_orderkey AS VARCHAR)')} % 8 AS INTEGER) AS bucket
      FROM orders
    ) GROUP BY bucket
    """,
)
def q_partition_hash_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-partition assignment, `hash(key) % n`
    (fileserver.py:682-698; md5 replaces Python's unstable hash())."""
    orders = table(spark, sf_dir, "orders")
    return hash_bucket(orders, "o_orderkey", 8).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("cnt")
    )


@query(
    "partition_rows_assign",
    oracle="""
    SELECT shard, count(*) AS cnt, min(o_orderkey) AS lo, max(o_orderkey) AS hi
    FROM (
      SELECT o_orderkey,
             CAST(((row_number() OVER (ORDER BY o_orderkey) - 1) * 4)
                  // (count(*) OVER ()) AS INTEGER) AS shard
      FROM orders
    ) GROUP BY shard
    """,
)
def q_partition_rows_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous row-range input split (partition_csv,
    fileserver.py:265-289): 4 equal ranges in orderkey order. Parity of
    the reference's split semantics; the scale path is `repartition(n)`
    (automatic input splits) — see operators.partitioning.row_range_shard."""
    from distributed_mapreduce_spark.operators.partitioning import row_range_shard

    orders = table(spark, sf_dir, "orders")
    return (
        row_range_shard(orders.select("o_orderkey"), ["o_orderkey"], 4)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
    )


@query(
    "partition_rows_scalable",
    oracle="""
    SELECT shard, count(*) AS cnt, min(o_orderkey) AS lo, max(o_orderkey) AS hi
    FROM (
      SELECT o_orderkey,
             CAST(((row_number() OVER (ORDER BY o_orderkey) - 1) * 4)
                  // (count(*) OVER ()) AS INTEGER) AS shard
      FROM orders
    ) GROUP BY shard
    """,
)
def q_partition_rows_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same row-range split semantics as `partition_rows_assign`
    (fileserver.py:265-289) through the SCALABLE plan: range shuffle +
    per-partition Arrow numbering + broadcast offsets — a distributed
    zipWithIndex with no single-task global sort (VERDICT r01 #3).
    Checked against the identical oracle as the parity op."""
    from distributed_mapreduce_spark.operators.partitioning import (
        row_range_shard_scalable,
    )

    orders = table(spark, sf_dir, "orders")
    return (
        row_range_shard_scalable(orders.select("o_orderkey"), ["o_orderkey"], 4)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
    )


@query(
    "partition_range_assign",
    oracle="""
    SELECT bucket, count(*) AS cnt, min(o_orderkey) AS lo, max(o_orderkey) AS hi
    FROM (
      SELECT o_orderkey, CAST(ntile(8) OVER (ORDER BY o_orderkey) - 1 AS INTEGER) AS bucket
      FROM orders
    ) GROUP BY bucket
    """,
)
def q_partition_range_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-partition assignment: sorted keys cut into n balanced-±1
    contiguous runs (fileserver.py:700-732). NTILE mirrors the exact
    balanced cut; physical placement at scale uses repartitionByRange."""
    orders = table(spark, sf_dir, "orders")
    return (
        range_bucket(orders.select("o_orderkey"), "o_orderkey", 8)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min("o_orderkey").alias("lo"),
            F.max("o_orderkey").alias("hi"),
        )
    )


#: Rendezvous-hashing node count (node index 0..RV_NODES-1; the removal
#: experiment drops the LAST node).
RV_NODES = 8


@query(
    "partition_rendezvous_hash",
    oracle=f"""
    WITH nodes AS (
      SELECT k FROM generate_series(0, {RV_NODES - 1}) t(k)
    ), w AS (
      SELECT o.o_orderkey, n.k,
             ('0x' || substr(md5('rv_' || CAST(o.o_orderkey AS VARCHAR)
                                 || '|node' || CAST(n.k AS VARCHAR)), 1, 8))::BIGINT
               AS wt
      FROM orders o CROSS JOIN nodes n
    ), ranked AS (
      SELECT o_orderkey, k, wt,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY wt DESC, k) AS rf,
             row_number() OVER (PARTITION BY o_orderkey
                                ORDER BY CASE WHEN k = {RV_NODES - 1} THEN 0 ELSE 1 END DESC,
                                         wt DESC, k) AS rr
      FROM w
    ), assign AS MATERIALIZED (
      SELECT f.o_orderkey, f.k AS idx_full, r.k AS idx_red
      FROM (SELECT o_orderkey, k FROM ranked WHERE rf = 1) f
      JOIN (SELECT o_orderkey, k FROM ranked
            WHERE rr = 1 AND k <> {RV_NODES - 1}) r USING (o_orderkey)
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM assign),
    per AS (
      SELECT n.k AS node,
             CAST(sum(CASE WHEN a.idx_full = n.k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_full,
             CAST(sum(CASE WHEN a.idx_red = n.k THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reduced,
             CAST(sum(CASE WHEN a.idx_red = n.k
                            AND a.idx_full = {RV_NODES - 1}
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
      FROM nodes n CROSS JOIN assign a GROUP BY n.k
    )
    SELECT CAST(node AS BIGINT) AS node, n_full, n_reduced, n_moved_in,
           CAST(CAST(n_full AS HUGEINT) * {RV_NODES} * 1000000 // n_total
                AS BIGINT) AS load_ppm
    FROM per CROSS JOIN tot
    """,
)
def q_partition_rendezvous_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) hashing — the third classic
    partitioner next to the reference's hash and range splits
    (fileserver.py:682-732): each key goes to the node with the highest
    portable hash(key, node) weight, and when a node leaves, ONLY its
    keys move (minimal disruption — the property modulo hashing lacks:
    `hash % (n-1)` reshuffles ~all keys). Per node: the full-ring
    assignment count, the count after removing the last node, how many
    displaced keys it absorbed, and its load in ppm of perfect balance
    (10⁶ = ideal). The disruption property is checkable in-row:
    n_reduced = n_full + n_moved_in for every surviving node.

    Plan: the {RV_NODES} weights are a per-row columnar struct array
    (NO fan-out — `array_max` picks the winner by (weight, node)
    lexicographic struct order, ties to the lower index via the
    reversed-index field); both assignments come from the same array in
    one projection; the output is one hash-agg to {RV_NODES} rows plus
    a broadcast 1-row total. The oracle mirrors argmax via a per-key
    row_number window (DuckDB has no struct max), same (wt DESC, k)
    order."""
    orders = table(spark, sf_dir, "orders")
    key = F.col("o_orderkey").cast("string")
    arr = F.array(
        *[
            F.struct(
                hash_u32(
                    F.concat(key, F.lit(f"|node{i}")), "rv_"
                ).alias("wt"),
                F.lit(RV_NODES - 1 - i).alias("ni"),
            )
            for i in range(RV_NODES)
        ]
    )
    assign = orders.select(arr.alias("a")).select(
        (RV_NODES - 1 - F.array_max("a").getField("ni")).alias("idx_full"),
        (
            RV_NODES
            - 1
            - F.array_max(
                F.filter("a", lambda s: s.getField("ni") != 0)
            ).getField("ni")
        ).alias("idx_red"),
    )
    nodes = spark.range(RV_NODES).select(F.col("id").cast("long").alias("node"))
    # two keyed aggregates instead of a nodes x keys fan-out: the
    # assignment relation is scanned once per measure family and
    # reduced to <=RV_NODES rows map-side before joining the node spine
    per_full = assign.groupBy(
        F.col("idx_full").cast("long").alias("node")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_full"))
    per_red = assign.groupBy(
        F.col("idx_red").cast("long").alias("node")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_reduced"),
        F.sum(F.when(F.col("idx_full") == RV_NODES - 1, 1).otherwise(0))
        .cast("long")
        .alias("n_moved_in"),
    )
    per = (
        nodes.join(F.broadcast(per_full), "node", "left")
        .join(F.broadcast(per_red), "node", "left")
        .select(
            "node",
            F.coalesce("n_full", F.lit(0)).cast("long").alias("n_full"),
            F.coalesce("n_reduced", F.lit(0)).cast("long").alias("n_reduced"),
            F.coalesce("n_moved_in", F.lit(0)).cast("long").alias("n_moved_in"),
        )
    )
    # n_total as a window sum over the RV_NODES-row spine instead of a
    # separate `per_full.agg(sum)` branch: referencing `per_full` twice
    # re-executed the ENTIRE weight/argmax chain over orders a third
    # time (the full-ring and reduced-ring aggregates are the two
    # deliberate scans; the total must not add another). Every key's
    # idx_full is a spine node and absent nodes contribute COALESCE(0),
    # so the window total equals the old aggregate. The window is
    # global but over exactly RV_NODES aggregate-bounded rows.
    return per.withColumn(
        "n_total", F.sum("n_full").over(Window.partitionBy())
    ).select(
        "node",
        "n_full",
        "n_reduced",
        "n_moved_in",
        F.expr(
            f"CAST(CAST(n_full AS DECIMAL(38,0)) * {RV_NODES} * 1000000"
            " DIV n_total AS BIGINT)"
        ).alias("load_ppm"),
    )


#: Consistent-hash ring geometry: physical nodes and the two vnode
#: variants compared by the balance audit (1 point/node vs 32).
RING_NODES = 8
RING_VARIANTS = (("v1", 1), ("v32", 32))
#: Successor-lookup bucket width: 2^32 ring positions / 2^8 buckets.
RING_BUCKET_SHIFT = 24


def _ring_points(vnodes: int) -> list[int]:
    """Sorted ring points encoded point*16+node — driver-side md5 of
    'ring_node{n}|v{v}', byte-identical to `hash_u32` so the literal
    constants are reproducible from the seed strings alone (no RNG,
    no engine dependence). node < 16 keeps the encoding order-stable
    on the point."""
    import hashlib

    pts = []
    for n in range(RING_NODES):
        for v in range(vnodes):
            h = int(
                hashlib.md5(f"ring_node{n}|v{v}".encode()).hexdigest()[:8], 16
            )
            pts.append(h * 16 + n)
    enc = sorted(pts)
    assert len({p // 16 for p in enc}) == len(enc), "ring point collision"
    return enc


def _ring_buckets(vnodes: int) -> list[tuple[int, list[int], int]]:
    """(bucket, encoded points inside, wrap-around successor) rows for
    the O(1)-per-key successor join; bucket = position >> RING_BUCKET_SHIFT."""
    enc = _ring_points(vnodes)
    n_buckets = 1 << (32 - RING_BUCKET_SHIFT)
    by_bucket: dict[int, list[int]] = {}
    for p in enc:
        by_bucket.setdefault((p // 16) >> RING_BUCKET_SHIFT, []).append(p)
    rows = []
    for b in range(n_buckets):
        nxt = next(
            (p for p in enc if (p // 16) >> RING_BUCKET_SHIFT > b), enc[0]
        )
        rows.append((b, by_bucket.get(b, []), nxt))
    return rows


def _ring_oracle() -> str:
    parts = []
    for name, vn in RING_VARIANTS:
        lits = ", ".join(str(p) for p in _ring_points(vn))
        parts.append(
            f"""
    SELECT '{name}' AS variant, o_orderkey,
           COALESCE(
             list_min(list_filter([{lits}], p -> p // 16 >= h)),
             {_ring_points(vn)[0]}) % 16 AS node
    FROM (SELECT o_orderkey,
                 {sql_hash_u32('CAST(o_orderkey AS VARCHAR)', 'ringk_')} AS h
          FROM orders)"""
        )
    assign = " UNION ALL ".join(parts)
    nodes = ", ".join(
        f"('{nm}', {k})" for nm, _ in RING_VARIANTS for k in range(RING_NODES)
    )
    return f"""
    WITH assign AS MATERIALIZED ({assign}),
    per AS (
      SELECT variant, node, CAST(count(*) AS BIGINT) AS n_keys
      FROM assign GROUP BY variant, node
    ), tot AS (
      SELECT variant, CAST(sum(n_keys) AS BIGINT) AS n_total
      FROM per GROUP BY variant
    )
    SELECT s.variant, CAST(s.node AS BIGINT) AS node,
           COALESCE(p.n_keys, 0) AS n_keys,
           CAST(CAST(COALESCE(p.n_keys, 0) AS HUGEINT) * {RING_NODES}
                * 1000000 // t.n_total AS BIGINT) AS load_ppm
    FROM (VALUES {nodes}) s(variant, node)
    LEFT JOIN per p ON p.variant = s.variant AND p.node = s.node
    JOIN tot t ON t.variant = s.variant
    """


@query("partition_consistent_ring", oracle=_ring_oracle())
def q_partition_consistent_ring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent-hash ring assignment with the textbook vnode balance
    result made measurable: every key goes to the first ring point
    clockwise of its hash, once on a ring with 1 point per node and
    once with {dict(RING_VARIANTS)['v32']} vnodes per node — the v1
    arcs are wildly uneven (a node's load is its arc length), the v32
    loads concentrate toward 10⁶ ppm of ideal. Completes the
    partitioner family: modulo (`partition_hash_assign`) rebalances
    everything on resize, rendezvous (`partition_rendezvous_hash`)
    moves only the leaver's keys, and the ring is what memcached/Dynamo
    actually deploy (vnodes being the fix this audit quantifies).

    Plan — the 100 TB shape: successor lookup is NOT a per-key scan of
    the ring; the ring is pre-bucketed driver-side into 2^8 literal
    position buckets (a {2 * (1 << (32 - RING_BUCKET_SHIFT))}-row
    broadcast relation), each key equi-joins its bucket
    (h >> {RING_BUCKET_SHIFT}) and resolves the successor inside the
    ≤few-point bucket array, wrap-around precomputed per bucket —
    O(1) per key. The oracle resolves the same successor by direct
    list_min over the literal ring (fine at oracle scale); both
    encode (point*16+node) so order and node decode identically."""
    orders = table(spark, sf_dir, "orders")
    keys = orders.select(
        "o_orderkey",
        hash_u32(F.col("o_orderkey").cast("string"), "ringk_").alias("h"),
    )
    bucket_rows = []
    for name, vn in RING_VARIANTS:
        for b, pts, nxt in _ring_buckets(vn):
            bucket_rows.append((name, b, pts, nxt))
    buckets = spark.createDataFrame(
        bucket_rows, "variant string, bucket long, pts array<long>, nxt long"
    )
    variants = spark.createDataFrame(
        [(nm,) for nm, _ in RING_VARIANTS], "variant string"
    )
    assign = (
        keys.crossJoin(F.broadcast(variants))
        .withColumn("bucket", F.expr(f"h DIV {1 << RING_BUCKET_SHIFT}"))
        .join(F.broadcast(buckets), ["variant", "bucket"])
        .select(
            "variant",
            (
                F.coalesce(
                    F.array_min(
                        F.filter(
                            "pts", lambda p: p / F.lit(16) >= F.col("h")
                        )
                    ),
                    F.col("nxt"),
                )
                % 16
            )
            .cast("long")
            .alias("node"),
        )
    )
    per = assign.groupBy("variant", "node").agg(
        F.count(F.lit(1)).cast("long").alias("n_keys")
    )
    spine = spark.createDataFrame(
        [(nm, k) for nm, _ in RING_VARIANTS for k in range(RING_NODES)],
        "variant string, node long",
    )
    # n_total as a per-variant window sum over the spine-joined rows
    # instead of a second aggregate branch off `per`: every key lands on
    # a spine node (points encode node < RING_NODES) and absent nodes
    # contribute COALESCE(0), so the window total equals the old
    # `per.groupBy(variant).sum` — but the plan references `per` once.
    # The two-branch form re-executed the ENTIRE assign chain (orders
    # scan + variant cross-join + bucket join + successor HOF + 2-level
    # aggregate) per branch — r12's before-plan shows the subtree twice.
    # The window is partitioned (variant) over 2*RING_NODES rows.
    return (
        spine.join(F.broadcast(per), ["variant", "node"], "left")
        .select(
            "variant",
            "node",
            F.coalesce("n_keys", F.lit(0)).cast("long").alias("n_keys"),
        )
        .withColumn(
            "n_total", F.sum("n_keys").over(Window.partitionBy("variant"))
        )
        .select(
            "variant",
            "node",
            "n_keys",
            F.expr(
                f"CAST(CAST(n_keys AS DECIMAL(38,0))"
                f" * {RING_NODES} * 1000000 DIV n_total AS BIGINT)"
            ).alias("load_ppm"),
        )
    )
