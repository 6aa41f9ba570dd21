"""The remaining classic TPC-H query shapes (Q6-Q21 family), adapted to
the harness star schema (TESTDATA.md has no partsupp table and lineitem
carries no commitdate/receiptdate/shipmode; each adaptation documents
the substitution inline). Together with workload.relational (Q2, Q3,
Q5, Q10, Q14, Q18, Q19, Q22), workload.core (Q1) and the Q4/Q17 shapes
(``exists_shiplag`` / ``scalar_subquery_lowqty``) this completes the
22-query TPC-H benchmark surface — the relational depth the reference's
declared-but-dead SQL grammar (file_server/fileserver.py:1372-1384)
implies but never implements.

All-DataFrame plans: Catalyst pushes filters and pruning into the
parquet scans, AQE chooses broadcast vs shuffle; explicit broadcast
hints only on fixed-size dimensions (nation/region/supplier), never on
SF-scaling tables (policed by plans.unbounded_scaling_broadcasts).

Determinism rules (same as workload.relational): DECIMAL-cast sums,
integer cross-multiplication instead of float division for predicates,
single IEEE double division only of already-exact aggregates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import revenue, sql_revenue
from distributed_mapreduce_spark.workload.registry import query, table

_DEC = "decimal(18,2)"

@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(30,4))
             AS revenue_delta,
           count(*) AS n_lines
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 25
    """,
)
def q_tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue increase from hypothetically eliminating a
    discount band. Pure scan-filter-aggregate — the predicate and the
    two needed columns push into the parquet scan; one partial + one
    final agg, no shuffle of data rows (1-row exchange only)."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.03)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 25)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_DEC)
                * F.col("l_discount").cast(_DEC)
            )
            .cast("decimal(30,4)")
            .alias("revenue_delta"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "tpch_q7_nation_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS l_year,
           CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS revenue
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND n2.n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
      AND n1.n_name <> n2.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q_tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: bilateral shipping volume between two nations by year.
    Supplier and both nation sides are fixed-size dims → broadcast
    hints; customer/orders/lineitem join shapes left to AQE. The
    nation-pair disjunction applies after the two broadcast joins,
    before the big lineitem⋈orders shuffle output is aggregated."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    trio = ["NATION_1", "NATION_2", "NATION_3"]
    pair = (
        F.col("supp_nation").isin(trio)
        & F.col("cust_nation").isin(trio)
        & (F.col("supp_nation") != F.col("cust_nation"))
    )
    return (
        li.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(revenue()).cast("decimal(30,4)").alias("revenue"))
    )


@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum(CASE WHEN n2.n_name = 'NATION_3'
                         THEN {sql_revenue()} ELSE 0 END) AS DOUBLE)
             / CAST(sum({sql_revenue()}) AS DOUBLE) AS mkt_share
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation n1 ON n1.n_nationkey = c_nationkey
    JOIN region ON r_regionkey = n1.n_regionkey
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation n2 ON n2.n_nationkey = s_nationkey
    WHERE r_name = 'ASIA' AND p_type = 'PROMO'
    GROUP BY o_year
    """,
)
def q_tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: NATION_3's share of PROMO-part revenue sold into ASIA,
    per order year. The share is ONE double division of two exact
    DECIMAL sums (conditional numerator via CASE), so the float result
    is bit-identical in any engine — the portable-ratio pattern from
    workload.core. ``part`` scales with SF → no broadcast hint on it;
    nation/region/supplier are hinted."""
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    cust = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    part = table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev = revenue()
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("c_nationkey"))
        .join(
            F.broadcast(region), F.col("r_regionkey") == F.col("n1_region")
        )
        .groupBy(F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(
            (
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
                        F.lit(0).cast(_DEC)
                    )
                ).cast("double")
                / F.sum(rev).cast("double")
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle=f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(sum({sql_revenue()}
                    - CAST(p_retailprice AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(30,4))
             AS profit
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN orders ON o_orderkey = l_orderkey
    WHERE p_name LIKE '%gear%'
    GROUP BY n_name, year(o_orderdate)
    """,
)
def q_tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 adapted: product-line profit by supplier nation and
    year. The harness schema has no partsupp, so unit cost is proxied
    by p_retailprice (the only cost-like column); profit = revenue −
    retailprice×quantity, all in exact DECIMAL arithmetic. The p_name
    LIKE filter prunes part before the join; only lineitem⋈orders
    shuffles at scale."""
    li = table(spark, sf_dir, "lineitem")
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("%gear%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = revenue() - F.col("p_retailprice").cast(_DEC) * F.col(
        "l_quantity"
    ).cast(_DEC)
    return (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nation), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(amount).cast("decimal(30,4)").alias("profit"))
    )


@query(
    "tpch_q11_key_parts",
    oracle=f"""
    WITH pv AS (
      SELECT l_partkey,
             CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS part_value
      FROM lineitem GROUP BY l_partkey
    ), tot AS (
      SELECT CAST(sum(part_value) AS DECIMAL(38,4)) AS total_value,
             count(*) AS n_parts
      FROM pv
    )
    SELECT l_partkey, part_value
    FROM pv, tot
    WHERE part_value * n_parts * 10 > 13 * total_value
    """,
)
def q_tpch_q11_key_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 adapted: parts whose traded value exceeds 1.3× the
    mean per-part value (partsupp-less: value = lineitem revenue per
    part). Q11's fixed-fraction threshold empties out as part count
    grows with SF; a mean-relative threshold is the scale-invariant
    equivalent. The compare is integer cross-multiplied
    (value×n×10 > 13×total) so no float division enters the
    predicate; the grand total is a 1-row aggregate of the per-part
    aggregate attached via broadcast cross join — never a global
    window over raw rows."""
    li = table(spark, sf_dir, "lineitem")
    rev = revenue()
    pv = (
        li.groupBy("l_partkey")
        .agg(F.sum(rev).cast("decimal(30,4)").alias("part_value"))
    )
    tot = pv.agg(
        F.sum("part_value").cast("decimal(38,4)").alias("total_value"),
        F.count(F.lit(1)).alias("n_parts"),
    )
    return (
        pv.crossJoin(F.broadcast(tot))
        .filter(
            F.col("part_value") * F.col("n_parts") * 10
            > F.lit(13) * F.col("total_value")
        )
        .select("l_partkey", "part_value")
    )


@query(
    "tpch_q12_priority_buckets",
    oracle="""
    SELECT l_returnflag,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS high_line_count,
           sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY l_returnflag
    """,
)
def q_tpch_q12_priority_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 adapted: priority split of 1997 shipments, grouped by
    l_returnflag (the harness lineitem has no l_shipmode; returnflag is
    the closest low-cardinality line attribute). Conditional-count
    CASE aggregation; the date filter pushes into the lineitem scan
    before the join."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_orderkey", "l_returnflag")
    orders = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q13_order_count_dist",
    oracle="""
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer
      LEFT JOIN orders ON o_custkey = c_custkey
                       AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM per_cust
    GROUP BY c_count
    """,
)
def q_tpch_q13_order_count_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by how many (non-5-LOW)
    orders they placed — the two-level aggregate over a left outer
    join that must keep zero-order customers (count(o_orderkey) skips
    the NULLs a LEFT JOIN manufactures). The second aggregate sees at
    most max-orders-per-customer rows per group → trivially skew-safe;
    the first is keyed on c_custkey, the natural even key."""
    cust = table(spark, sf_dir, "customer").select("c_custkey")
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "5-LOW")
        .select("o_custkey", "o_orderkey")
    )
    return (
        cust.join(orders, F.col("o_custkey") == F.col("c_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@query(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(sum({sql_revenue()}) AS DECIMAL(30,4)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ), m AS (
      SELECT max(total_revenue) AS max_revenue FROM revenue
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM revenue, m
    JOIN supplier ON s_suppkey = supplier_no
    WHERE total_revenue = max_revenue
    """,
)
def q_tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum quarterly revenue. The
    max is a 1-row aggregate of the (≤ num-suppliers-row) revenue view
    attached via broadcast cross join — the scalar-subquery plan that
    stays scalable (no global window, no second scan of lineitem for
    the max). Exact-DECIMAL equality makes the tie semantics exact."""
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    by_supplier = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(revenue()).cast("decimal(30,4)").alias("total_revenue"))
    )
    m = by_supplier.agg(F.max("total_revenue").alias("max_revenue"))
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        by_supplier.crossJoin(F.broadcast(m))
        .filter(F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_size IN (1, 9, 19, 25, 36, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 adapted: how many distinct suppliers can ship each
    (brand, type, size) combination — partsupp-less, so supply
    relationships come from observed lineitems, and the classic
    '%Complaints%' supplier exclusion becomes s_acctbal < 0 (the
    harness supplier table has no comment column). NOT IN → left-anti
    join against a broadcast-size exclusion list; count(DISTINCT) is
    Spark's two-phase distinct aggregate, partial-deduped map-side."""
    part = (
        table(spark, sf_dir, "part")
        .filter(
            (F.col("p_brand") != "Brand#1")
            & F.col("p_size").isin(1, 9, 19, 25, 36, 49)
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    li = table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad), F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@query(
    "tpch_q20_heavy_shippers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE p_name LIKE 'red %'
        AND l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1998-01-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, qty
    FROM supplier JOIN shipped ON l_suppkey = s_suppkey
    WHERE qty > 50
    """,
)
def q_tpch_q20_heavy_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 adapted: suppliers who moved more than a threshold
    quantity of red parts in 1997 (partsupp-less: 'has excess stock to
    promote' becomes 'observed heavy shipper'). Part filter prunes
    before the join; per-supplier quantities are integer-exact
    (l_quantity is integral-valued; BIGINT cast both sides)."""
    part = (
        table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("red %"))
        .select("p_partkey")
    )
    li = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    shipped = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).cast("bigint").alias("qty"))
        .filter(F.col("qty") > 50)
    )
    return shipped.join(
        F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey")
    ).select("s_suppkey", "s_name", "qty")


@query(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH li AS (
      SELECT l_orderkey, l_suppkey,
             CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS late
      FROM lineitem
      JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    ), per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late_supp
      FROM li GROUP BY l_orderkey
    ), blamed AS (
      SELECT DISTINCT li.l_orderkey, li.l_suppkey
      FROM li
      JOIN per_order ON per_order.l_orderkey = li.l_orderkey
      WHERE li.late = 1 AND n_supp > 1 AND n_late_supp = 1
    )
    SELECT s_name, count(*) AS numwait
    FROM blamed JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    """,
)
def q_tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 adapted: suppliers who single-handedly held up a
    multi-supplier order ('late' = shipped >90 days after the order
    date; the harness has no commit/receipt dates). The classic
    EXISTS + NOT-EXISTS pair is re-expressed as one per-order
    aggregate — count of distinct suppliers and distinct LATE
    suppliers — then a filter (n_supp > 1, n_late_supp = 1) on the
    blamed supplier's rows. One shuffle on l_orderkey serves both the
    aggregate and the self-join back; no correlated re-scans."""
    orders = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .withColumn(
            "late",
            F.when(
                F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 90 DAYS"), 1
            ).otherwise(0),
        )
        .select("l_orderkey", "l_suppkey", "late")
    )
    per_order = li.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(
            F.when(F.col("late") == 1, F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    blamed = (
        li.filter(F.col("late") == 1)
        .join(per_order, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    supp = table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.join(F.broadcast(supp), F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@query(
    "tpch_q4_order_priority",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= DATE '1996-07-01'
      AND o.o_orderdate < DATE '1996-10-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate >= o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 (order-priority checking): orders placed in one quarter
    with at least one late line, counted per priority. The harness
    lineitem has no l_commitdate/l_receiptdate, so "late" is adapted to
    l_shipdate >= o_orderdate + 60 days (same adaptation family as
    `exists_shiplag`); the structure — quarter date window, decorrelated
    EXISTS, priority rollup — is Q4's.

    Plan: the EXISTS decorrelates to a left-semi join on l_orderkey
    with the date predicate pushed below it; the orders scan carries
    the quarter filter into the parquet reader. Completes the TPC-H
    suite: all 22 queries (Q1 = `agg_q1`, Q4/Q17 adapted to the
    harness schema) now have oracle-checked rows.
    """
    ords = table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-07-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("date"))
    )
    li = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = ords.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") >= F.date_add(F.col("o_orderdate"), 60)),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle="""
    WITH pp AS (
      SELECT p_partkey FROM part WHERE p_brand = 'Brand#1' AND p_size <= 10
    ), pavg AS (
      SELECT l_partkey, sum(l_quantity) AS qsum,
             CAST(count(*) AS BIGINT) AS qcnt
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_lines,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                AS DECIMAL(30,2)) AS VARCHAR) AS sum_price,
           CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100
                AS BIGINT) // 7 AS BIGINT) AS avg_yearly_cents
    FROM lineitem l
    JOIN pp ON pp.p_partkey = l.l_partkey
    JOIN pavg a ON a.l_partkey = l.l_partkey
    WHERE 5 * l.l_quantity * a.qcnt < a.qsum
    """,
)
def q_tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 (small-quantity-order revenue): revenue lost if orders
    below 20% of a part's average order quantity were no longer taken,
    over one brand's small parts (the harness part table has no
    p_container, so the Brand#23/MED BOX gate is adapted to
    Brand#1/p_size<=10).

    Exactness: the correlated `l_quantity < 0.2 * avg(...)` is
    rewritten division-free as `5*qty*cnt < sum` — quantities are
    integral floats, so both sides are exact IEEE integers at any
    scale, no float-division drift. avg_yearly reported in floor cents
    (decimal sum -> x100 -> integer // 7) rather than engine-specific
    decimal division.

    Plan: the correlated scalar subquery decorrelates into a per-part
    aggregate joined back on l_partkey (one hash-agg + two equi-joins);
    the brand/size filter reaches the part scan and AQE broadcasts the
    filtered part side.
    """
    li = table(spark, sf_dir, "lineitem")
    pp = (
        table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10))
        .select("p_partkey")
    )
    pavg = li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("qsum"), F.count(F.lit(1)).alias("qcnt")
    )
    sel = (
        li.join(pp, li["l_partkey"] == pp["p_partkey"])
        .join(pavg.withColumnRenamed("l_partkey", "a_partkey"),
              F.col("a_partkey") == li["l_partkey"])
        .filter(5 * F.col("l_quantity") * F.col("qcnt") < F.col("qsum"))
    )
    dsum = F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
    return sel.agg(
        F.count(F.lit(1)).alias("n_lines"),
        dsum.cast("decimal(30,2)").cast("string").alias("sum_price"),
        F.expr(
            "cast(sum(cast(l_extendedprice as decimal(18,2))) * 100 as bigint)"
            " div 7"
        ).alias("avg_yearly_cents"),
    )


@query(
    "interval_prorate_revenue",
    oracle=f"""
    WITH li AS (
      SELECT CAST(o.o_orderdate AS DATE) AS d0,
             CAST(l.l_shipdate AS DATE) AS d1,
             CAST(floor({sql_revenue()} * 100) AS BIGINT) AS cents
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), iv AS (
      SELECT d0, cents,
             CAST(greatest(date_diff('day', d0, d1), 0) + 1 AS BIGINT) AS days
      FROM li
    ), slices AS (
      SELECT CAST(date_trunc('month', d0 + CAST(u.i AS INTEGER)) AS DATE)
               AS month,
             cents // days
               + CASE WHEN u.i < cents % days THEN 1 ELSE 0 END AS day_cents
      FROM iv, unnest(generate_series(0, days - 1)) AS u(i)
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_day_slices,
           CAST(sum(day_cents) AS BIGINT) AS prorated_cents
    FROM slices GROUP BY month
    """,
)
def q_interval_prorate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar proration — the revenue-recognition shape: each line's
    discounted revenue is spread uniformly over the days of its
    order-to-ship interval and re-aggregated per calendar month, so a
    line ordered in January and shipped in March contributes to all
    three months. Conservation is EXACT in integer cents: each of the
    `days` slices gets cents DIV days, and the remainder cents go one
    each to the first cents % days slices — Σ slices = cents per line,
    so Σ months = Σ lines to the cent (no float proration drift);
    degenerate ship-before-order rows clamp to a single slice at the
    order date.

    Plan: one equi-join orders⋈lineitem on the order key, a
    per-row `sequence` explode whose fan-out is bounded by the maximum
    fulfillment lead (a domain constant — ~4 months in TPC-H — not a
    function of corpus size), and one hash-agg to ≤|months| rows.
    No window, nothing driver-side."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice").cast(_DEC) * (
        F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC)
    )
    iv = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.to_date("o_orderdate").alias("d0"),
        F.to_date("l_shipdate").alias("d1"),
        F.floor(rev * 100).cast("long").alias("cents"),
    ).select(
        "d0",
        "cents",
        (
            F.greatest(F.datediff("d1", "d0"), F.lit(0)) + 1
        ).cast("long").alias("days"),
    )
    # Explode per MONTH, not per day: the day fan-out averages ~60 rows
    # per line (bounded by the fulfillment lead) where the month
    # fan-out is <=5 — the per-month slice sum is closed-form because
    # the interval's day indexes [s, e] inside one month are contiguous:
    # n*q base cents plus one remainder cent for each index below
    # r = cents % days (count = |[s,e] ∩ [0,r-1]|). Integer-exact, so
    # conservation and the oracle hash are unchanged; the Generate
    # output shrinks ~12-20x.
    last = F.date_add(F.col("d0"), (F.col("days") - 1).cast("int"))
    months = iv.select(
        "d0",
        "cents",
        "days",
        last.alias("dend"),
        F.explode(
            F.sequence(
                F.to_date(F.date_trunc("month", F.col("d0"))),
                F.to_date(F.date_trunc("month", last)),
                F.expr("INTERVAL 1 MONTH"),
            )
        ).alias("month"),
    )
    s = F.datediff(F.greatest(F.col("month"), F.col("d0")), F.col("d0"))
    e = F.datediff(F.least(F.last_day(F.col("month")), F.col("dend")), F.col("d0"))
    n = (e - s + 1).cast("long")
    q = F.expr("cents DIV days")
    r = F.expr("cents % days")
    extra = F.greatest(F.lit(0).cast("long"), (F.least(e.cast("long"), r - 1) - s + 1))
    slices = months.select(
        "month",
        n.alias("n_slices"),
        (n * q + extra).cast("long").alias("month_cents"),
    )
    return slices.groupBy("month").agg(
        F.sum("n_slices").cast("long").alias("n_day_slices"),
        F.sum("month_cents").cast("long").alias("prorated_cents"),
    )
