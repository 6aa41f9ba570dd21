"""Classic analytical query shapes (TPC-H-style) over the harness
tables — the relational depth the reference's declared-but-dead SQL
surface (`SELECT` grammar at file_server/fileserver.py:1372-1382, dead
JOIN stub at fileserver.py:1383-1384) implies but never implements.

Every query is pure DataFrame API; Catalyst supplies pushdown, pruning,
join ordering, and AQE picks broadcast vs shuffle join at runtime.

Determinism rules (same as workload.core): DECIMAL-cast sums with
pinned scale (double aggregation is order-dependent), integer
cross-multiplication instead of float division, deterministic LIMIT
tie-breaks, identical aliases Spark-side and oracle-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import (
    revenue,
    sql_revenue,
    sql_tokens,
    tokens,
)
from distributed_mapreduce_spark.workload.registry import query, table

#: Q3-style cutoff: orders placed before / shipped after this instant.
Q3_CUT = "1998-01-01"
#: Q18-style large-order quantity threshold (99th pct of per-order sums).
Q18_MIN_QTY = 300
#: Moving-window width for the RANGE-frame query, in seconds (30 days).
MOVING_RANGE_S = 30 * 24 * 3600

_DEC = "decimal(18,2)"

@query(
    "tpch_q3_shipping",
    oracle=f"""
    SELECT l_orderkey,
           CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderdate < TIMESTAMP '{Q3_CUT}'
      AND l_shipdate > TIMESTAMP '{Q3_CUT}'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped-revenue orders.

    Both date filters reach the parquet scans (PushedFilters) and the
    LIMIT becomes TakeOrderedAndProject — no global sort at any scale.

    Revenue is aggregated per orderkey BEFORE the joins (manual
    eager-aggregation pushdown — Catalyst doesn't move aggs through
    joins): the map-side combine collapses lineitems to one row per
    order, so the join shuffles |orders| rows instead of |lineitems|
    (measured 27% faster at sf0.1; the gap widens with fan-out). The
    grouping is equivalent because o_orderdate/o_orderpriority are
    functionally dependent on the key, and decimal sums are exact in
    any grouping order.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit(Q3_CUT).cast("timestamp")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit(Q3_CUT).cast("timestamp")
    )
    rev_per_order = li.groupBy("l_orderkey").agg(
        F.sum(revenue()).cast("decimal(30,4)").alias("revenue")
    )
    j = (
        rev_per_order.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
    )
    return (
        j.orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q5_region_volume",
    oracle=f"""
    SELECT n_name,
           CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name
    """,
)
def q_tpch_q5_region_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: local-supplier revenue by nation within a region.

    Fixed-size dimensions (supplier, nation, region) carry explicit
    broadcast hints; customer does NOT — its size scales with SF
    (sf100 ≈ 15 M rows), so the hint that wins at sf0.1 would OOM the
    build side at 100×. AQE still picks broadcast for customer at small
    SF and falls back to shuffle join when it grows. The only
    unavoidable big shuffle is lineitem ⋈ orders on orderkey, and the
    region filter prunes nations before the fact tables are touched.
    """
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey", "n_name")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")

    df = (
        orders.join(cust, F.col("c_custkey") == F.col("o_custkey"))
        # merge hint: lineitem is the fact — force the sort-merge path
        # (shuffles on the join key, spills gracefully, never OOMs) so
        # the planner can't broadcast a table that only LOOKS small at
        # bench SF (pruned-scan estimate < 10 MB at sf0.1).
        .join(li.hint("merge"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return df.groupBy("n_name").agg(
        F.sum(revenue()).cast("decimal(30,4)").alias("revenue")
    )


@query(
    "tpch_q18_large_orders",
    oracle=f"""
    SELECT c_name, o_orderkey, o_orderdate,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS total_qty
    FROM orders
    JOIN customer ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(l_quantity AS DECIMAL(18,2))) > {Q18_MIN_QTY}
    )
    GROUP BY c_name, o_orderkey, o_orderdate
    """,
)
def q_tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: large-volume orders via an aggregated semi-join.

    The HAVING subquery is a groupBy + filter whose (orderkey) result is
    semi-joined back into the fact — at scale the aggregate is partial
    (map-side combine) and the semi-join's build side is only the rare
    qualifying keys. Customer is joined without a broadcast hint (it
    scales with SF); AQE broadcasts it while it fits.
    """
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qty = F.col("l_quantity").cast(_DEC)
    # The HAVING aggregate IS the output measure: each result group is
    # one order (o_orderkey is a group key), so total_qty equals the
    # per-order sum the qualifying filter already computed. Carrying
    # `sq` through the join replaces the r12 before-plan's second
    # lineitem scan + sort-merge join + |lineitems|-row re-aggregate
    # with a row-per-order inner join; DECIMAL sums are exact, so the
    # value is bit-identical.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("sq"))
        .filter(F.col("sq") > Q18_MIN_QTY)
    )
    return (
        orders.join(big.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("sq").cast("decimal(30,2)").alias("total_qty"),
        )
    )


@query(
    "exists_shiplag",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate >= o.o_orderdate + INTERVAL 90 DAY
    )
    GROUP BY o_orderpriority
    """,
)
def q_exists_shiplag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: orders with at least one slow-shipping lineitem
    (>= 90 days after order date), counted by priority. EXISTS with a
    non-equi conjunct → left-semi join; no row duplication however many
    lineitems match."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (F.col("l_orderkey") == F.col("o_orderkey")) & (
        F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "scalar_subquery_lowqty",
    oracle="""
    WITH stats AS (
      SELECT l_partkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS sq,
             count(*) AS n
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p_brand,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS low_qty_spend,
           count(*) AS n_lines
    FROM lineitem
    JOIN stats ON lineitem.l_partkey = stats.l_partkey
    JOIN part ON p_partkey = lineitem.l_partkey
    WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n < sq
    GROUP BY p_brand
    """,
)
def q_scalar_subquery_lowqty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: lines below 20% of their part's average quantity.

    The correlated scalar subquery becomes a per-part aggregate joined
    back to the fact. `qty < 0.2 * avg` is evaluated as
    `qty * 5 * count < sum` — exact decimal integer arithmetic, no
    engine-dependent float division.
    """
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qty = F.col("l_quantity").cast(_DEC)
    stats = li.groupBy(F.col("l_partkey").alias("sp_partkey")).agg(
        F.sum(qty).cast("decimal(30,2)").alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        li.join(stats, F.col("l_partkey") == F.col("sp_partkey"))
        .filter(qty * 5 * F.col("n") < F.col("sq"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand")
        .agg(
            F.sum(F.col("l_extendedprice").cast(_DEC))
            .cast("decimal(30,2)")
            .alias("low_qty_spend"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "intersect_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (set semantics): customers with both a finished and an
    open order. Absent from the reference (§2.7) — completes the set-op
    family alongside union/except."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f.intersect(o)


@query(
    "except_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_except_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (set semantics): customers with a finished order but no
    open one."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("custkey"))
    o = orders.filter(F.col("o_orderstatus") == "O").select(F.col("o_custkey").alias("custkey"))
    return f.subtract(o)


@query(
    "grouping_sets_agg",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS rflag,
           coalesce(l_linestatus, 'ALL') AS lstatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def q_grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS beyond rollup/cube: per-flag, per-status, and grand
    totals in one pass (Expand + single aggregate — one shuffle instead
    of three unioned jobs). The harness data has no NULL group keys, so
    coalesce labels the set totals unambiguously."""
    li = table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_gs")
    return li.sparkSession.sql(
        """
        SELECT coalesce(l_returnflag, 'ALL') AS rflag,
               coalesce(l_linestatus, 'ALL') AS lstatus,
               CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS sum_qty
        FROM li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@query(
    "window_moving_sum",
    oracle=f"""
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2)))
                OVER (PARTITION BY l_suppkey ORDER BY epoch(l_shipdate)
                      RANGE BETWEEN {MOVING_RANGE_S} PRECEDING AND CURRENT ROW)
                AS DECIMAL(30,2)) AS qty_30d
    FROM lineitem
    """,
)
def q_window_moving_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day moving quantity per supplier: a RANGE frame over event
    time (epoch seconds — Spark range frames are numeric). Same-instant
    rows share a frame, so the result is order-deterministic even with
    timestamp ties."""
    li = table(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy(F.unix_timestamp("l_shipdate"))
        .rangeBetween(-MOVING_RANGE_S, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum(F.col("l_quantity").cast(_DEC)).over(w).cast("decimal(30,2)").alias("qty_30d"),
    )


@query(
    "monthly_order_stats",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS total_price
    FROM orders
    GROUP BY 1
    """,
)
def q_monthly_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-bucketed aggregate (date_trunc) — the batch twin of the
    streaming tumbling window over `events`."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(F.date_trunc("month", F.col("o_orderdate")).alias("month"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC)).cast("decimal(30,2)").alias("total_price"),
        )
    )


@query(
    "tpch_q14_promo",
    oracle=f"""
    SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN {sql_revenue()} ELSE 0 END)
                AS DECIMAL(30,4)) AS promo_revenue,
           CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS total_revenue,
           CAST(floor(sum(CASE WHEN p_type = 'PROMO' THEN {sql_revenue()} ELSE 0 END)
                      * 10000.0 / sum({sql_revenue()})) AS BIGINT) AS promo_bp
    FROM lineitem JOIN part ON l_partkey = p_partkey
    """,
)
def q_tpch_q14_promo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation (promo revenue share)
    over a fact ⋈ part join — one pass, no second scan for the
    denominator; the share reported in exact basis points. part scales
    with SF, so no explicit broadcast hint — AQE broadcasts while it
    fits and shuffle-joins beyond that."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = revenue()
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast(_DEC))
    agg = (
        li.join(part, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(promo).cast("decimal(30,4)").alias("promo_revenue"),
            F.sum(rev).cast("decimal(30,4)").alias("total_revenue"),
        )
    )
    bp = F.floor(
        F.col("promo_revenue").cast("double") * 10000.0
        / F.col("total_revenue").cast("double")
    ).cast("long")
    return agg.select("promo_revenue", "total_revenue", bp.alias("promo_bp"))


@query(
    "tpch_q19_disjunctive",
    oracle=f"""
    SELECT CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS revenue,
           count(*) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 11 AND 25
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 26 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    """,
)
def q_tpch_q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicates spanning both join sides.
    Catalyst extracts the common join key (partkey equi-join survives),
    pushes the single-side conjuncts into each scan, and evaluates the
    residual disjunction post-join — the textbook disjunctive-predicate
    plan."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(part, F.col("p_partkey") == F.col("l_partkey"))
    qty = F.col("l_quantity")
    size = F.col("p_size")
    brand = F.col("p_brand")
    cond = (
        ((brand == "Brand#1") & size.between(1, 10) & qty.between(1, 20))
        | ((brand == "Brand#2") & size.between(11, 25) & qty.between(10, 30))
        | ((brand == "Brand#3") & size.between(26, 50) & qty.between(20, 40))
    )
    return j.filter(cond).agg(
        F.sum(revenue()).cast("decimal(30,4)").alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    "join_left_outer",
    oracle="""
    SELECT c_custkey, c_name, CAST(count(o_orderkey) AS BIGINT) AS n_orders,
           CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DECIMAL(30,2)) AS spend
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def q_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + aggregate: every customer appears, orderless
    customers with n_orders = 0 (count over the nullable key skips
    NULLs — the outer-join row survives the count correctly)."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    j = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return j.groupBy("c_custkey", "c_name").agg(
        F.count("o_orderkey").cast("long").alias("n_orders"),
        F.coalesce(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")), F.lit(0)
        ).cast("decimal(30,2)").alias("spend"),
    )


@query(
    "join_full_outer",
    oracle="""
    SELECT coalesce(c.k, s.k) AS nationkey,
           CAST(coalesce(c.n_cust, 0) AS BIGINT) AS n_cust,
           CAST(coalesce(s.n_supp, 0) AS BIGINT) AS n_supp
    FROM (SELECT c_nationkey AS k, count(*) AS n_cust FROM customer GROUP BY 1) c
    FULL OUTER JOIN
         (SELECT s_nationkey AS k, count(*) AS n_supp FROM supplier GROUP BY 1) s
    ON c.k = s.k
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two aggregates: nations present on either
    side survive with zero-filled counts — the reconciliation-report
    shape (aggregate-then-join keeps the outer join tiny)."""
    cust = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("ck"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("sk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    j = cust.join(supp, cust.ck == supp.sk, "full_outer")
    return j.select(
        F.coalesce(F.col("ck"), F.col("sk")).alias("nationkey"),
        F.coalesce(F.col("n_cust"), F.lit(0)).cast("long").alias("n_cust"),
        F.coalesce(F.col("n_supp"), F.lit(0)).cast("long").alias("n_supp"),
    )


@query(
    "union_by_name",
    oracle="""
    SELECT party, custkey, suppkey, count(*) AS n
    FROM (
      SELECT 'customer' AS party, c_custkey AS custkey FROM customer
      UNION ALL BY NAME
      SELECT 'supplier' AS party, s_suppkey AS suppkey FROM supplier
    )
    GROUP BY party, custkey, suppkey
    """,
)
def q_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolving union: `unionByName(allowMissingColumns=True)`
    aligns by column NAME and null-fills the gaps (positional unionAll
    would silently mis-align) — the union you want when appending files
    with drifting schemas."""
    cust = table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("party"), F.col("c_custkey").alias("custkey")
    )
    supp = table(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("party"), F.col("s_suppkey").alias("suppkey")
    )
    u = cust.unionByName(supp, allowMissingColumns=True)
    return u.groupBy("party", "custkey", "suppkey").agg(F.count(F.lit(1)).alias("n"))


@query(
    "date_parts_agg",
    oracle="""
    SELECT CAST(extract(year FROM o_orderdate) AS INTEGER) AS yr,
           CAST(extract(quarter FROM o_orderdate) AS INTEGER) AS qtr,
           count(*) AS n_orders
    FROM orders GROUP BY 1, 2
    """,
)
def q_date_parts_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-part extraction (year/quarter) + aggregate — the date
    function family the reference lacks entirely (SURVEY §2.10: strings
    only)."""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.year("o_orderdate").alias("yr"),
            F.quarter("o_orderdate").alias("qtr"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "string_functions_suite",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS uname,
           substr(p_name, 1, 5) AS prefix5,
           lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS padded_key,
           replace(p_name, ' ', '_') AS snake,
           CAST(length(p_name) AS INTEGER) AS name_len,
           CAST(strpos(p_name, ' ') AS INTEGER) AS space_at
    FROM part
    """,
)
def q_string_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string library in one projection: case mapping, substring,
    pad, replace, length, position — all JVM-side codegen (SURVEY §2.10
    upgraded from the reference's 4-function repertoire)."""
    part = table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.lpad(F.col("p_partkey").cast("string"), 9, "0").alias("padded_key"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
        F.length("p_name").alias("name_len"),
        F.instr(F.col("p_name"), " ").alias("space_at"),
    )


@query(
    "histogram_prices",
    oracle="""
    SELECT CAST(floor(o_totalprice / 30000.0) AS INTEGER) AS bucket,
           count(*) AS n,
           min(o_totalprice) AS lo,
           max(o_totalprice) AS hi
    FROM orders GROUP BY 1
    """,
)
def q_histogram_prices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram: floor-division bucketing + per-bucket
    stats — the distribution-profiling pass a pipeline runs before
    choosing partition bounds or salting thresholds. (Identical
    floor(x / w) expression on both engines; correctly-rounded double
    division makes it exact.)"""
    orders = table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.floor(F.col("o_totalprice") / 30000.0).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
        )
    )


@query(
    "join_null_safe",
    oracle="""
    WITH keyed AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_orderstatus END AS k
      FROM orders
    )
    SELECT a.k AS k, count(*) AS n_pairs
    FROM keyed a JOIN keyed b
      ON a.k IS NOT DISTINCT FROM b.k AND a.o_orderkey = b.o_orderkey
    GROUP BY a.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (`<=>` ≡ `IS NOT DISTINCT FROM`): NULL keys
    match each other instead of vanishing — required when a join key is
    legitimately absent (here: status 'P' nulled out). Catalyst still
    plans a hash join on the null-safe key."""
    orders = table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_orderstatus"))
        .alias("k"),
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    j = a.join(
        b,
        F.col("a.k").eqNullSafe(F.col("b.k"))
        & (F.col("a.o_orderkey") == F.col("b.o_orderkey")),
    )
    return j.groupBy(F.col("a.k").alias("k")).agg(F.count(F.lit(1)).alias("n_pairs"))


@query(
    "array_functions_suite",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    )
    SELECT doc_id,
           toks[1] AS first_tok,
           CAST(len(toks) AS INTEGER) AS n_toks,
           list_contains(toks, 'the') AS has_the,
           CAST(list_position(toks, 'the') AS INTEGER) AS the_at,
           toks[1:3] AS first3,
           list_reverse(toks)[1] AS last_tok
    FROM t
    """,
)
def q_array_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order function library in one projection: index
    access, size, membership, position, slice, reverse — all JVM-side
    over the token arrays (SURVEY §2.10: the reference has no array
    functions at all)."""
    docs = table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = docs.select("doc_id", toks.alias("toks"))
    return t.select(
        "doc_id",
        F.element_at("toks", 1).alias("first_tok"),
        F.size("toks").alias("n_toks"),
        F.array_contains("toks", "the").alias("has_the"),
        F.array_position("toks", "the").cast("int").alias("the_at"),
        F.slice("toks", 1, 3).alias("first3"),
        F.element_at(F.reverse("toks"), 1).alias("last_tok"),
    )


@query(
    "merge_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 != 0
    ), updates AS (
      SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
    )
    SELECT coalesce(u.o_orderkey, b.o_orderkey) AS o_orderkey,
           coalesce(u.o_totalprice, b.o_totalprice) AS o_totalprice,
           CASE WHEN u.o_orderkey IS NOT NULL AND b.o_orderkey IS NOT NULL THEN 'updated'
                WHEN u.o_orderkey IS NOT NULL THEN 'inserted'
                ELSE 'kept' END AS action
    FROM base b FULL OUTER JOIN updates u ON b.o_orderkey = u.o_orderkey
    """,
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert emulation on plain parquet: full-outer join of base
    vs updates, update-wins coalesce, action audit column. This is the
    engine-level kernel under Delta/Iceberg MERGE INTO — here surfaced
    as a pure DataFrame transform (doubles pass through untouched, so
    no decimal casts needed)."""
    orders = table(spark, sf_dir, "orders")
    base = orders.filter(F.col("o_orderkey") % 3 != 0).select(
        F.col("o_orderkey").alias("bk"), F.col("o_totalprice").alias("bp")
    )
    updates = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("uk"), (F.col("o_totalprice") * 2).alias("up")
    )
    j = base.join(updates, base.bk == updates.uk, "full_outer")
    return j.select(
        F.coalesce(F.col("uk"), F.col("bk")).alias("o_orderkey"),
        F.coalesce(F.col("up"), F.col("bp")).alias("o_totalprice"),
        F.when(F.col("uk").isNotNull() & F.col("bk").isNotNull(), "updated")
        .when(F.col("uk").isNotNull(), "inserted")
        .otherwise("kept")
        .alias("action"),
    )


#: Shared Q17-style correlated-subquery text — run verbatim by BOTH
#: engines (Spark SQL front-end + Catalyst decorrelation on one side,
#: DuckDB on the other).
_CORRELATED_SQL = """
    SELECT p_brand,
           count(*) AS n_low
    FROM lineitem l
    JOIN part ON p_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS DECIMAL(18,2)) * 5 * (
            SELECT count(*) FROM lineitem i WHERE i.l_partkey = l.l_partkey
          ) < (
            SELECT CAST(sum(CAST(i.l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2))
            FROM lineitem i WHERE i.l_partkey = l.l_partkey
          )
    GROUP BY p_brand
    """


@query("correlated_subquery_sql", oracle=_CORRELATED_SQL)
def q_correlated_subquery_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME correlated-scalar-subquery SQL text on both engines:
    Spark's SQL front-end decorrelates the two scalar subqueries into
    aggregate+join under the hood (what `scalar_subquery_lowqty` wrote
    by hand) — proving the declarative surface, not just the DataFrame
    API, is complete."""
    for t in ("lineitem", "part"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_CORRELATED_SQL)


@query(
    "topk_nulls_last",
    oracle="""
    SELECT o_orderkey, k FROM (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'P' THEN NULL ELSE o_totalprice END AS k
      FROM orders
    )
    ORDER BY k DESC NULLS LAST, o_orderkey
    LIMIT 10
    """,
)
def q_topk_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k over a NULLABLE key with explicit NULLS LAST: Spark orders
    nulls FIRST by default in descending sorts while DuckDB orders them
    LAST — any ordering over nullable keys must spell the placement out
    or the two engines silently disagree."""
    orders = table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        F.when(F.col("o_orderstatus") == "P", None)
        .otherwise(F.col("o_totalprice"))
        .alias("k"),
    )
    return keyed.orderBy(F.col("k").desc_nulls_last(), F.col("o_orderkey")).limit(10)


@query(
    "filtered_distinct_counts",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS n_cust_all,
           count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'F') AS n_cust_f,
           count(DISTINCT o_custkey) FILTER (WHERE o_orderstatus = 'O') AS n_cust_o
    FROM orders GROUP BY o_orderpriority
    """,
)
def q_filtered_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional exact distinct counts in one aggregation: the FILTER
    clause becomes count_distinct over a NULL-when-excluded key (NULLs
    don't count) — three distinct-count columns, one pass, one Expand."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.count_distinct("o_custkey").alias("n_cust_all"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "F", F.col("o_custkey"))
        ).alias("n_cust_f"),
        F.count_distinct(
            F.when(F.col("o_orderstatus") == "O", F.col("o_custkey"))
        ).alias("n_cust_o"),
    )


@query(
    "supplier_share_of_nation",
    oracle="""
    WITH per_supp AS (
      SELECT s_nationkey, l_suppkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS qty
      FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY s_nationkey, l_suppkey
    )
    SELECT s_nationkey, l_suppkey, qty,
           CAST(floor(qty * 10000.0 / sum(qty) OVER (PARTITION BY s_nationkey)) AS BIGINT) AS share_bp
    FROM per_supp
    """,
)
def q_supplier_share_of_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-grain aggregate: per-supplier quantity, then each supplier's
    share of its NATION's total as a window over the aggregated rows
    (the percent-of-total pattern one level up — the window sees
    |suppliers| rows, never |lineitems|). Exact decimal sums, integer
    basis points."""
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    per_supp = (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)"))
            .cast("decimal(30,2)")
            .alias("qty")
        )
    )
    w = Window.partitionBy("s_nationkey")
    share = F.floor(
        F.col("qty").cast("double") * 10000.0
        / F.sum("qty").over(w).cast("double")
    ).cast("long")
    return per_supp.select("s_nationkey", "l_suppkey", "qty", share.alias("share_bp"))


@query(
    "map_functions_suite",
    oracle="""
    SELECT o_orderkey,
           m['status'][1] AS status_v,
           m['priority'][1] AS priority_v,
           m['absent'][1] AS missing_v,
           CAST(cardinality(m) AS INTEGER) AS n_entries,
           list_sort(map_keys(m)) AS keys_sorted
    FROM (
      SELECT o_orderkey,
             map(['status', 'priority'], [o_orderstatus, o_orderpriority]) AS m
      FROM orders
    )
    """,
)
def q_map_functions_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed columns: construction, key lookup (present + absent →
    NULL), cardinality, sorted key list. Map values are projected to
    scalars/arrays before returning — map column ORDER is
    engine-defined, so comparing raw maps across engines is a trap;
    projecting through lookups is the portable form."""
    orders = table(spark, sf_dir, "orders")
    m = F.create_map(
        F.lit("status"), F.col("o_orderstatus"),
        F.lit("priority"), F.col("o_orderpriority"),
    )
    t = orders.select("o_orderkey", m.alias("m"))
    return t.select(
        "o_orderkey",
        F.element_at("m", "status").alias("status_v"),
        F.element_at("m", "priority").alias("priority_v"),
        F.element_at("m", "absent").alias("missing_v"),
        F.size("m").alias("n_entries"),
        F.array_sort(F.map_keys("m")).alias("keys_sorted"),
    )


@query(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c_custkey, c_name,
           CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS revenue,
           n_name
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation ON c_nationkey = n_nationkey
    WHERE l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns.
    The returnflag filter is pushed to the lineitem scan; customer joins
    without a broadcast hint (SF-scaling — AQE's call); nation is a
    hinted broadcast; ORDER BY + LIMIT lowers to TakeOrderedAndProject
    (per-partition heads, no global sort)."""
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_nationkey")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.hint("merge")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
    )
    agg = j.groupBy("c_custkey", "c_name", "n_name").agg(
        F.sum(revenue()).cast("decimal(30,4)").alias("revenue")
    )
    return (
        agg.orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name")
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             min(CAST(l_extendedprice AS DECIMAL(18,2))) AS min_price
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ), best AS (
      SELECT l_partkey, min(min_price) AS best_price
      FROM cost GROUP BY l_partkey
    )
    SELECT c.l_partkey AS partkey, p_brand, s_name,
           CAST(c.min_price AS DECIMAL(18,2)) AS price
    FROM cost c
    JOIN best b ON c.l_partkey = b.l_partkey AND c.min_price = b.best_price
    JOIN part ON p_partkey = c.l_partkey
    JOIN supplier ON s_suppkey = c.l_suppkey
    WHERE p_size <= 10
    """,
)
def q_tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (adapted: no partsupp table in the harness, so
    lineitem stands in as the part-supplier price relation): for each
    small part, every supplier achieving the minimum observed price —
    the correlated-min subquery, decorrelated by hand into aggregate +
    self-equi-join on (key, min). At scale both aggregations are
    map-side partial over the same (partkey[, suppkey]) shuffle; ties
    (several suppliers at the best price) are all kept, which is why
    the join, not row_number, is the right decorrelation."""
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").filter(F.col("p_size") <= 10).select("p_partkey", "p_brand")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice").cast("decimal(18,2)")).alias("min_price")
    )
    best = cost.groupBy(F.col("l_partkey").alias("b_partkey")).agg(
        F.min("min_price").alias("best_price")
    )
    return (
        cost.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("min_price") == F.col("best_price")),
        )
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            F.col("l_partkey").alias("partkey"),
            "p_brand",
            "s_name",
            F.col("min_price").cast("decimal(18,2)").alias("price"),
        )
    )


@query(
    "tpch_q22_idle_rich_customers",
    oracle="""
    SELECT n_name, count(*) AS n_cust,
           CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DECIMAL(30,2)) AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > (
      SELECT avg(CAST(c_acctbal AS DECIMAL(18,2))) FROM customer WHERE c_acctbal > 0
    )
    AND NOT EXISTS (
      SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
    )
    GROUP BY n_name
    """,
)
def q_tpch_q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (nation key instead of phone prefixes): customers
    richer than the positive-balance average with no PENDING order
    (every harness customer has ordered at least once, so the original
    never-ordered predicate is vacuously empty), rolled up by nation.
    The scalar AVG subquery is a 1-row aggregate attached via broadcast
    cross join (same pattern as parse_extract_ids — never a global
    window over raw rows); the NOT EXISTS is a left-anti join against
    the filtered orders (filter pushed under the anti-join's build).

    DECIMAL avg: Spark yields DECIMAL(22,6) for avg(DECIMAL(18,2)) and
    DuckDB widens differently, but the comparison `c_acctbal > avg` is
    exact either way because both engines compare at full precision."""
    cust = table(spark, sf_dir, "customer")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey"))
    )
    nation = table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg(F.col("c_acctbal").cast("decimal(18,2)")).alias("avg_bal")
    )
    rich = (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .drop("avg_bal")
    )
    idle = rich.join(
        orders, rich.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        idle.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("decimal(30,2)").alias("total_bal"),
        )
    )


@query(
    "orders_sla_first_ship",
    oracle="""
    WITH fs AS (
      SELECT l_orderkey, min(l_shipdate) AS first_ship
      FROM lineitem GROUP BY 1
    )
    SELECT o.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(*) FILTER (fs.first_ship
                < o.o_orderdate + INTERVAL 30 DAY) AS BIGINT) AS within_30d,
           CAST(CASE WHEN count(*) = 0 THEN 0
                ELSE floor(count(*) FILTER (fs.first_ship
                     < o.o_orderdate + INTERVAL 30 DAY) * 10000.0 / count(*))
                END AS BIGINT) AS sla_bp,
           CAST(max(date_diff('day', o.o_orderdate, fs.first_ship))
             AS BIGINT) AS worst_lag_days
    FROM orders o JOIN fs ON fs.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_orders_sla_first_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA by priority class: share of orders whose FIRST
    line shipped within 30 days (exact basis points) and the worst
    observed lag — the operational scorecard dual of `tpch_q4`'s
    late-line count.

    Plan: lineitem pre-aggregates to one first-ship row per order
    BEFORE the join (eager aggregation — the join carries |orders|
    rows, not |lineitem|), then a priority hash-agg.
    """
    li = table(spark, sf_dir, "lineitem")
    fs = li.groupBy("l_orderkey").agg(F.min("l_shipdate").alias("first_ship"))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = o.join(fs, o["o_orderkey"] == fs["l_orderkey"])
    within = F.col("first_ship") < F.date_add(F.col("o_orderdate"), 30)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(within.cast("long")).alias("within_30d"),
        F.when(F.count(F.lit(1)) == 0, F.lit(0))
        .otherwise(
            F.floor(
                F.sum(within.cast("long")).cast("double")
                * 10000.0
                / F.count(F.lit(1)).cast("double")
            )
        )
        .cast("long")
        .alias("sla_bp"),
        F.max(F.datediff(F.col("first_ship"), F.col("o_orderdate")))
        .cast("long")
        .alias("worst_lag_days"),
    )


@query(
    "join_not_in_null_aware",
    oracle="""
    SELECT o_orderstatus, count(*) AS n_orders
    FROM orders
    WHERE nullif(o_custkey, 1) NOT IN
          (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderstatus
    """,
)
def q_join_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-aware NOT IN, decomposed into a scale-safe plan. The naive
    `col NOT IN (subquery)` forces Spark into NullAwareAntiJoin, which
    REQUIRES broadcasting the subquery — fine for a dim, fatal when the
    inner side scales (it falls back to BroadcastNestedLoopJoin). This
    query implements the full three-valued semantics with bounded
    broadcasts only:

    - `S` empty        -> every row qualifies (even NULL left keys);
    - `S` contains NULL -> no row qualifies;
    - otherwise        -> left key NOT NULL and no equi-match.

    Plan: one shuffled left outer join on the key (both sides scale
    freely), plus a single-row aggregate indicator {|S|, has_null}
    broadcast to every partition (bounded-hint class, like the
    decile-bounds broadcast). The left key is made genuinely nullable
    with NULLIF so the NULL branch is exercised, not just typed.

    Reference parity note: the reference's SELECT grammar
    (file_server/fileserver.py:1372-1382) has no subqueries at all;
    this is the engine completing the declared-but-dead relational
    surface with the semantics SQL actually requires."""
    orders = table(spark, sf_dir, "orders").withColumn(
        "lk", F.expr("nullif(o_custkey, 1)")
    )
    inner = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("rk"))
    )
    ind = inner.agg(
        F.count(F.lit(1)).cast("long").alias("n_inner"),
        F.coalesce(
            F.max(F.when(F.col("rk").isNull(), 1).otherwise(0)), F.lit(0)
        ).alias("has_null"),
    )
    matched = inner.where(F.col("rk").isNotNull()).distinct().withColumn(
        "_m", F.lit(1)
    )
    j = (
        orders.join(matched, orders["lk"] == matched["rk"], "left")
        .crossJoin(F.broadcast(ind))
    )
    qualifies = (F.col("n_inner") == 0) | (
        (F.col("has_null") == 0)
        & F.col("lk").isNotNull()
        & F.col("_m").isNull()
    )
    return (
        j.where(qualifies)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    )


#: Digit-tree hierarchy rollup via WITH RECURSIVE — the same SQL text
#: runs verbatim on Spark 4 (recursive CTE support, SPARK-24497) and
#: DuckDB. Integer division is spelled floor(x/10.0) because the
#: engines disagree on the token (`DIV` vs `//`) but agree exactly on
#: IEEE floor of a small-integer double quotient.
_RECURSIVE_ROLLUP_SQL = """
WITH RECURSIVE chain(anc, dollars) AS (
  SELECT p_partkey AS anc, CAST(floor(p_retailprice) AS BIGINT) AS dollars
  FROM part
  UNION ALL
  SELECT CAST(floor(anc / 10.0) AS BIGINT) AS anc, dollars
  FROM chain WHERE anc > 0
)
SELECT anc AS ancestor,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(dollars) AS BIGINT) AS total_dollars
FROM chain
WHERE anc < 1000
GROUP BY anc
HAVING count(*) >= 2
ORDER BY ancestor
"""


@query("sql_recursive_hierarchy_rollup", oracle=_RECURSIVE_ROLLUP_SQL)
def q_sql_recursive_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (BOM-style) rollup through a recursive CTE — the
    classic WITH RECURSIVE workload (org charts, bill-of-materials,
    account trees), here over the implicit decimal-digit tree
    parent(k) = ⌊k/10⌋: every part's whole-dollar retail price is
    propagated up its ancestor chain and summed per ancestor. The SAME
    SQL text executes on Spark 4's recursive-CTE front-end and on
    DuckDB — proving the engine's declarative recursion surface, the
    complement of the driver-loop iteration family
    (`graph_sssp_bounded`, `pagerank_converge`) where the loop lives
    in Python and each round is a checkpointed DataFrame.

    Termination/scale: the hierarchy is a FOREST (one parent per
    node, strictly decreasing key), so UNION ALL recursion emits
    exactly depth(k) ≤ ⌈log₁₀ max_key⌉ rows per part — the recursion
    is linear in input, no walk explosion; each round is one
    hash-join-free projection and the final rollup is a single
    hash-agg over ~depth·n rows.

    Spark guards runaway recursion with
    spark.sql.cteRecursionRowLimit (default 1M TOTAL emitted rows) —
    a data-size limit, not a depth limit, so a perfectly terminating
    linear recursion trips it once depth·|part| crosses 1M (first hit
    at sf1.0: 200k parts x ~9 digit levels ≈ 1.8M rows). The 100M
    scale envelope is session posture in session.get_spark() (ADVICE
    r09: a builder must not mutate shared-session conf — the limit is
    read at execution time, so it cannot be restored after build); a
    bare driver-supplied session keeps Spark's 1M default and this
    query simply errors loudly past it rather than silently weakening
    the guard for every later recursive query. The real runaway
    guard, the depth limit (cteRecursionLevelLimit = 100), stays at
    its default everywhere — this forest's depth is
    ≤ ⌈log₁₀ max_key⌉ ≈ 10."""
    table(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_RECURSIVE_ROLLUP_SQL)


@query(
    "intersect_all_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_intersect_all_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL (bag semantics): each customer key appears
    min(#finished, #open) times — the multiset counterpart of
    `intersect_customers`, completing the SQL set-op surface. Spark
    plans `intersectAll` as a count-aggregate + generate (no pairwise
    matching), the same shape DuckDB uses — shuffle on the key, never
    a join of the raw relations."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.intersectAll(o)


@query(
    "except_all_customers",
    oracle="""
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_except_all_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics): each customer key appears
    max(#finished − #open, 0) times — multiset difference."""
    orders = table(spark, sf_dir, "orders")
    f = orders.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    o = orders.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    return f.exceptAll(o)


# ---------------------------------------------------------------------------
# Per-group statistical mode with deterministic tie-break.


@query(
    "mode_quantity_by_flag",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity) AS BIGINT) AS qty,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    )
    SELECT l_returnflag,
           CAST(-(max(struct_pack(a := cnt, b := -qty)).b) AS BIGINT) AS mode_qty,
           CAST(max(struct_pack(a := cnt, b := -qty)).a AS BIGINT) AS mode_cnt,
           CAST(count(*) AS BIGINT) AS n_distinct_qty
    FROM c GROUP BY l_returnflag
    """,
)
def q_mode_quantity_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical mode of line quantity per return flag, ties broken
    to the SMALLEST quantity via a lexicographic (count, -qty) struct
    max — the deterministic mode an engine must offer (an arbitrary-
    tie mode is unusable in a differential pipeline).

    Plan: one (flag, qty) hash-agg with map-side partials, then a
    |flags| x |distinct qty| re-agg — never a sort, never a window.
    """
    li = table(spark, sf_dir, "lineitem")
    c = li.groupBy(
        "l_returnflag", F.floor("l_quantity").cast("long").alias("qty")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    best = F.max(F.struct(F.col("cnt").alias("a"), (-F.col("qty")).alias("b")))
    return c.groupBy("l_returnflag").agg(
        (-best.getField("b")).cast("long").alias("mode_qty"),
        best.getField("a").cast("long").alias("mode_cnt"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_qty"),
    )


# ---------------------------------------------------------------------------
# Chi-square test of independence (source x lang contingency).


@query(
    "independence_chi2_source_lang",
    oracle="""
    WITH o AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS obs
      FROM documents GROUP BY source, lang
    ),
    rm AS (SELECT source, CAST(sum(obs) AS BIGINT) AS r FROM o GROUP BY source),
    cm AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS c FROM o GROUP BY lang),
    tot AS (SELECT CAST(sum(obs) AS BIGINT) AS n,
                   CAST(count(DISTINCT source) AS BIGINT) AS nr,
                   CAST(count(DISTINCT lang) AS BIGINT) AS nc
            FROM o),
    cells AS (
      SELECT rm.source, cm.lang, coalesce(o.obs, 0) AS obs, rm.r, cm.c, n, nr, nc
      FROM rm CROSS JOIN cm
      LEFT JOIN o ON o.source = rm.source AND o.lang = cm.lang
      CROSS JOIN tot
    )
    SELECT CAST(min(n) AS BIGINT) AS n,
           CAST(min((nr - 1) * (nc - 1)) AS BIGINT) AS dof,
           CAST(sum((CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                    * (CAST(obs AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                    * 1000000
                    // (CAST(r AS HUGEINT) * c * n)) AS BIGINT) AS chi2_e6
    FROM cells
    """,
)
def q_independence_chi2_source_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence on the source x lang
    contingency table, exact to the per-cell floor: chi2 = sum over
    ALL cells (including structural zeros, via the dimension cross
    join) of (obs*N - R*C)^2 / (R*C*N) in millionths — the integer
    cross-multiplied form of (O-E)^2/E that never materializes a float
    expectation. Degrees of freedom (|rows|-1)(|cols|-1) reported so a
    caller can look up the critical value.

    Plan: one contingency hash-agg, two margin re-aggs, a broadcast
    cross join of the two SMALL margin relations (20 x 4 cells) to
    restore structural zeros, then a 1-row fold in DECIMAL(38)/
    HUGEINT. At 100 TB the only data pass is the first aggregate.

    Reference parity: the independence-test companion to the drift
    chi-square (`events_drift_chi2`), on the corpus dimensions.
    """
    docs = table(spark, sf_dir, "documents")
    o = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    rm = o.groupBy("source").agg(F.sum("obs").cast("long").alias("r"))
    cm = o.groupBy("lang").agg(F.sum("obs").cast("long").alias("c"))
    tot = o.agg(
        F.sum("obs").cast("long").alias("n"),
        F.count_distinct("source").cast("long").alias("nr"),
        F.count_distinct("lang").cast("long").alias("nc"),
    )
    cells = (
        rm.crossJoin(F.broadcast(cm))
        .join(o, ["source", "lang"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.coalesce("obs", F.lit(0)).alias("obs"), "r", "c", "n", "nr", "nc"
        )
    )
    return cells.agg(
        F.min("n").cast("long").alias("n"),
        F.expr("CAST(min((nr - 1) * (nc - 1)) AS BIGINT)").alias("dof"),
        F.expr(
            "CAST(sum((CAST(obs AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
            " * (CAST(obs AS DECIMAL(38,0)) * n - CAST(r AS DECIMAL(38,0)) * c)"
            " * 1000000"
            " DIV (CAST(r AS DECIMAL(38,0)) * c * n)) AS BIGINT)"
        ).alias("chi2_e6"),
    )


#: Verbatim-SQL LATERAL top-N: the SAME text runs on Spark (lateral
#: correlated subquery, SPARK-34382 surface) and DuckDB — engine
#: parity for the dependent-join idiom, like the WITH RECURSIVE twin.
_LATERAL_TOPN_SQL = """
SELECT r.r_name, t.n_name, t.n_customers
FROM region r, LATERAL (
  SELECT n.n_name, count(*) AS n_customers
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY n_customers DESC, n_name
  LIMIT 2
) t
"""


@query("sql_lateral_topn_per_region", oracle=_LATERAL_TOPN_SQL)
def q_sql_lateral_topn_per_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-SQL LATERAL dependent join: per region, the top-2
    nations by customer count from a correlated lateral subquery with
    its own GROUP BY / ORDER BY / LIMIT — the SAME SQL text executes
    on Spark and on the oracle engine (the dependent-join surface an
    engine must expose for migrating SQL verbatim, the LATERAL sibling
    of `sql_recursive_hierarchy_rollup`). Ties break on nation name.

    Plan: Catalyst decorrelates the lateral into a join + per-region
    ranked aggregate (DecorrelateInnerQuery); with 5 regions the
    outer side is the tiny one — the dependent join never iterates.
    """
    for t in ("region", "nation", "customer"):
        table(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_TOPN_SQL)
