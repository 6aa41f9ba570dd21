"""Robust statistics and rolling engagement metrics — winsorized
aggregates (outlier-clipped stats) and exact sliding-window distinct
counts.

Scale notes (100 TB):
- Winsorization needs per-group exact percentiles: Spark's
  `percentile` is a single-pass typed aggregate per group (no sort of
  the full relation), then the clip+sum is a second aggregate over the
  same shuffle key — two passes, both map-side-partial.
- The rolling-WAU explode (×7 per user-day) replaces an inequality
  range join with an equi-group: shuffle carries (day, user) pairs,
  count-distinct rewrites to a two-level aggregate. Fan-out is fixed
  (window length), independent of scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import hash_u32, sql_hash_u32
from distributed_mapreduce_spark.workload.registry import query, table

#: Winsorization clip quantiles.
WINSOR_LO, WINSOR_HI = 0.05, 0.95

#: Rolling engagement window length in days (inclusive).
ROLLING_DAYS = 7


@query(
    "winsorized_price_stats",
    oracle=f"""
    WITH b AS (
      SELECT o_orderstatus,
             quantile_cont(o_totalprice, {WINSOR_LO}) AS lo,
             quantile_cont(o_totalprice, {WINSOR_HI}) AS hi
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderstatus,
           CAST(count(*) AS BIGINT) AS n_orders,
           b.lo AS p05, b.hi AS p95,
           CAST(CAST(sum(CAST(least(greatest(o.o_totalprice, b.lo), b.hi)
                              AS DECIMAL(18,4))) AS DECIMAL(30,4)) AS VARCHAR)
             AS winsorized_sum
    FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
    GROUP BY o.o_orderstatus, b.lo, b.hi
    """,
)
def q_winsorized_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized order-value stats per status: clip each price to its
    group's exact [p05, p95] band, then aggregate — the outlier-robust
    mean/sum a metrics pipeline prefers over raw averages.

    Plan: per-group exact percentiles (single-pass aggregate — Spark
    `percentile` ≡ DuckDB `quantile_cont`, bit-identical interpolation),
    joined back on the group key (same shuffle partitioning), clipped
    with comparison-only float ops, decimal-summed and surfaced as a
    pinned-scale string."""
    orders = table(spark, sf_dir, "orders")
    bounds = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(WINSOR_LO)).alias("lo"),
        F.percentile("o_totalprice", F.lit(WINSOR_HI)).alias("hi"),
    )
    j = orders.join(bounds, "o_orderstatus")
    clipped = F.least(F.greatest(F.col("o_totalprice"), F.col("lo")), F.col("hi"))
    return (
        j.groupBy("o_orderstatus", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(clipped.cast("decimal(18,4)"))
            .cast("decimal(30,4)")
            .cast("string")
            .alias("winsorized_sum"),
        )
        .select(
            "o_orderstatus",
            "n_orders",
            F.col("lo").alias("p05"),
            F.col("hi").alias("p95"),
            "winsorized_sum",
        )
    )


@query(
    "rolling_7d_active_users",
    oracle=f"""
    WITH ud AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), contrib AS (
      SELECT user_id,
             CAST(unnest(generate_series(CAST(d AS TIMESTAMP),
                                         CAST(d AS TIMESTAMP) + INTERVAL {ROLLING_DAYS - 1} DAY,
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM ud
    ), observed AS (
      SELECT DISTINCT d AS day FROM ud
    )
    SELECT c.day, CAST(count(DISTINCT c.user_id) AS BIGINT) AS active_users
    FROM contrib c JOIN observed o ON c.day = o.day
    GROUP BY c.day
    """,
)
def q_rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing-{ROLLING_DAYS}-day active users (WAU) per
    observed day — the sliding-distinct metric that resists window
    aggregation (distinct doesn't decompose), solved by the
    contribute-forward explode: a user active on day d counts toward
    windows ending on d..d+{ROLLING_DAYS - 1}.

    Plan: distinct (user, day) → fixed ×{ROLLING_DAYS} fan-out →
    semi-join to observed days (drops phantom future windows) → count
    distinct per day (two-level aggregate). No inequality join, no
    per-day rescan."""
    ev = table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), ROLLING_DAYS - 1))
        ).alias("day"),
    )
    observed = ud.select(F.col("d").alias("day")).distinct()
    return (
        contrib.join(observed, "day", "semi")
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("long").alias("active_users"))
    )


@query(
    "mad_price_stats",
    oracle="""
    WITH med AS (
      SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS m
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderstatus,
           med.m AS median_price,
           quantile_cont(abs(o.o_totalprice - med.m), 0.5) AS mad,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders o JOIN med ON o.o_orderstatus = med.o_orderstatus
    GROUP BY o.o_orderstatus, med.m
    """,
)
def q_mad_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust dispersion
    measure (insensitive to the outliers that inflate stddev): exact
    median, then exact median of absolute deviations from it.

    Plan: two aggregation passes over the same shuffle key (group
    medians joined back on o_orderstatus, deviations re-aggregated) —
    MAD is not algebraic, two passes is the correct distributed shape.
    abs/subtract are exact IEEE ops; `percentile` ≡ `quantile_cont`."""
    orders = table(spark, sf_dir, "orders")
    med = orders.groupBy("o_orderstatus").agg(
        F.percentile("o_totalprice", F.lit(0.5)).alias("m")
    )
    j = orders.join(med, "o_orderstatus")
    return (
        j.groupBy("o_orderstatus", "m")
        .agg(
            F.percentile(F.abs(F.col("o_totalprice") - F.col("m")), F.lit(0.5)).alias("mad"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
        )
        .select(
            "o_orderstatus",
            F.col("m").alias("median_price"),
            "mad",
            "n_orders",
        )
    )


@query(
    "supplier_return_outliers",
    oracle="""
    WITH per_s AS (
      SELECT l_suppkey,
             CAST(count(*) AS BIGINT) AS n_lines,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_returns
      FROM lineitem GROUP BY l_suppkey
    ), g AS (
      SELECT CAST(sum(n_lines) AS BIGINT) AS big_n,
             CAST(sum(n_returns) AS BIGINT) AS big_r
      FROM per_s
    )
    SELECT l_suppkey, n_lines, n_returns,
           CAST(CAST(n_returns AS HUGEINT) * 10000 // n_lines AS BIGINT)
             AS return_bp
    FROM per_s, g
    -- operands widened BEFORE the inner products too (big_n*n_returns
    -- in BIGINT would raise/wrap before the outer HUGEINT cast)
    WHERE CAST(big_n AS HUGEINT)
          * (CAST(big_n AS HUGEINT) * n_returns - CAST(n_lines AS HUGEINT) * big_r)
          * (CAST(big_n AS HUGEINT) * n_returns - CAST(n_lines AS HUGEINT) * big_r)
        > CAST(9 AS HUGEINT)
          * CAST(n_lines AS HUGEINT)
          * CAST(big_r AS HUGEINT)
          * CAST(big_n - big_r AS HUGEINT)
    """,
)
def q_supplier_return_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical QC: suppliers whose return rate deviates more than
    3 binomial standard deviations from the corpus-wide rate — the
    exact inequality N·(N·r_i − n_i·R)² > 9·n_i·R·(N−R) evaluated in
    DECIMAL(38,0) (no float p̂, no overflow at any scale; the same
    cross-multiplication trick as `events_hourly_anomaly`).

    Plan: one per-supplier hash aggregate, one 1-row global roll-up
    broadcast back (legitimate 1-row broadcast), one filter — the
    whole test is two aggregates regardless of corpus size."""
    li = table(spark, sf_dir, "lineitem")
    per_s = li.groupBy("l_suppkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("n_returns"),
    )
    g = per_s.agg(
        F.sum("n_lines").cast("long").alias("big_n"),
        F.sum("n_returns").cast("long").alias("big_r"),
    )
    j = per_s.crossJoin(F.broadcast(g))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # widen the OPERANDS before the inner products (64-bit
    # big_n*n_returns wraps silently in Spark, raises in DuckDB)
    dev = dec(F.col("big_n")) * dec(F.col("n_returns")) - dec(F.col("n_lines")) * dec(
        F.col("big_r")
    )
    lhs = dec(F.col("big_n")) * dev * dev
    rhs = (
        dec(F.lit(9))
        * dec(F.col("n_lines"))
        * dec(F.col("big_r"))
        * dec(F.col("big_n") - F.col("big_r"))
    )
    return j.filter(lhs > rhs).select(
        "l_suppkey",
        "n_lines",
        "n_returns",
        F.expr("(CAST(n_returns AS DECIMAL(38,0)) * 10000) DIV n_lines")
        .cast("long")
        .alias("return_bp"),
    )


@query(
    "weighted_median_price",
    oracle="""
    WITH w AS (
      SELECT CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ), cum AS (
      SELECT price, wt,
             sum(wt) OVER (ORDER BY price, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             sum(wt) OVER () AS total
      FROM w
    )
    SELECT CAST(min(price) AS VARCHAR) AS weighted_median,
           CAST(min(total) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * c >= total
    """,
)
def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weighted median (price weighted by quantity) — the
    robust-statistics op plain `percentile` cannot express, computed
    scalably: range-sort prices via the distributed `global_cumsum`
    prefix sum of weights, then keep the first row whose running
    weight reaches half the total. No unpartitioned window, no
    driver-side sort — the same two-pass plan at any scale.

    Ties: rows ordered by (price, wt); the crossing row's price is the
    lower weighted median, identical in both engines. Surfaces as a
    string (decimal hash-stability, the agg_q1 pattern)."""
    from distributed_mapreduce_spark.operators.partitioning import global_cumsum

    li = table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    cum = global_cumsum(w, [F.col("price"), F.col("wt")], "wt", cumsum_col="c")
    total = cum.agg(F.sum("wt").cast("long").alias("total"))
    crossed = cum.crossJoin(F.broadcast(total)).filter(
        2 * F.col("c") >= F.col("total")
    )
    return crossed.agg(
        F.min("price").cast("string").alias("weighted_median"),
        F.min("total").cast("long").alias("total_weight"),
    )


@query(
    "weighted_median_by_flag",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag,
             CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ), cum AS (
      SELECT flag, price, wt,
             sum(wt) OVER (PARTITION BY flag ORDER BY price, wt
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
             sum(wt) OVER (PARTITION BY flag) AS total
      FROM w
    )
    SELECT flag, CAST(min(price) AS VARCHAR) AS weighted_median,
           CAST(min(total) AS BIGINT) AS total_weight
    FROM cum WHERE 2 * c >= total
    GROUP BY flag
    """,
)
def q_weighted_median_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact weighted median (price weighted by quantity,
    one median per return flag): the grouped sibling of
    `weighted_median_price`. Here the running weight is a PARTITIONED
    window (per-key state bounded by the group's rows — the scale-safe
    window class), crossing at half the group's weight.

    Plan: one shuffle on the group key, per-partition sort, two window
    passes, then a per-group min over crossing rows."""
    li = table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
        F.col("l_quantity").cast("long").alias("wt"),
    )
    win = Window.partitionBy("flag").orderBy("price", "wt").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = w.select(
        "flag",
        "price",
        F.sum("wt").over(win).alias("c"),
        F.sum("wt").over(Window.partitionBy("flag")).alias("total"),
    )
    return (
        cum.filter(2 * F.col("c") >= F.col("total"))
        .groupBy("flag")
        .agg(
            F.min("price").cast("string").alias("weighted_median"),
            F.min("total").cast("long").alias("total_weight"),
        )
    )


@query(
    "supplier_pareto_8020",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(30,2))
               AS revenue
      FROM lineitem GROUP BY l_suppkey
    ), cum AS (
      SELECT revenue,
             sum(revenue) OVER (ORDER BY revenue DESC, l_suppkey
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS c,
             sum(revenue) OVER () AS total,
             count(*) OVER () AS n_suppliers
      FROM rev
    )
    SELECT CAST(count(*) FILTER (5 * c < 4 * total) + 1 AS BIGINT)
             AS n_for_80pct,
           CAST(min(n_suppliers) AS BIGINT) AS n_suppliers,
           CAST((count(*) FILTER (5 * c < 4 * total) + 1) * 10000
                // min(n_suppliers) AS BIGINT) AS concentration_bp
    FROM cum
    """,
)
def q_supplier_pareto_8020(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Pareto 80/20) audit: the number of
    top-revenue suppliers needed to cover 80% of total revenue, and
    that count as a share of all suppliers in basis points — the
    concentration readout behind sourcing-risk and data-skew
    dashboards. Exact decimal arithmetic; the 80% crossing uses the
    integer cross-multiplication 5·c ≥ 4·total (no float division).

    Plan: per-supplier hash aggregate first (the relation shrinks to
    one row per supplier), then the distributed `global_cumsum` over
    the aggregated relation in descending revenue order; the final
    count is a 1-row reduce."""
    from distributed_mapreduce_spark.operators.partitioning import global_cumsum

    li = table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
        .cast("decimal(30,2)")
        .alias("revenue"),
    )
    # global_cumsum carries integer sums; scale decimal(30,2) to cents
    cents = rev.select(
        "l_suppkey", (F.col("revenue") * 100).cast("long").alias("rev_c")
    )
    cum = global_cumsum(
        cents, [F.col("rev_c").desc(), F.col("l_suppkey").asc()], "rev_c",
        cumsum_col="c",
    )
    tot = cum.agg(
        F.sum("rev_c").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    j = cum.crossJoin(F.broadcast(tot))
    return j.agg(
        (
            F.sum(F.when(5 * F.col("c") < 4 * F.col("total"), 1).otherwise(0)) + 1
        ).cast("long").alias("n_for_80pct"),
        F.min("n_suppliers").cast("long").alias("n_suppliers"),
        F.expr(
            "((sum(CASE WHEN 5 * c < 4 * total THEN 1 ELSE 0 END) + 1) * 10000)"
            " DIV min(n_suppliers)"
        ).cast("long").alias("concentration_bp"),
    )


@query(
    "nation_supplier_hhi",
    oracle="""
    WITH rev AS (
      SELECT s.s_nationkey, l.l_suppkey,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rc
      FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY s.s_nationkey, l.l_suppkey
    )
    SELECT s_nationkey,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(CAST(rc AS HUGEINT) * CAST(rc AS HUGEINT)) * 10000
                // (CAST(sum(rc) AS HUGEINT) * CAST(sum(rc) AS HUGEINT))
              AS BIGINT) AS hhi_bp
    FROM rev GROUP BY s_nationkey
    """,
)
def q_nation_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index of supplier revenue
    within each nation, in basis points (Σ share_i² · 10⁴ =
    Σr_i² · 10⁴ // (Σr_i)² — 10000 = monopoly, → 0 = atomized): the
    sourcing-concentration audit, computed with exact integer cents
    and the remainder-corrected floor division (wide products in
    DECIMAL(38,0) on Spark, HUGEINT in the oracle — the hardened
    pattern from the assortativity audit).

    Plan: per-(nation, supplier) revenue aggregate, then one
    per-nation reduce of the squared-sum statistics."""
    li = table(spark, sf_dir, "lineitem")
    sup = table(spark, sf_dir, "supplier")
    rev = (
        li.join(sup.select("s_suppkey", "s_nationkey"),
                li["l_suppkey"] == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rc")
        )
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = rev.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(dec(F.col("rc")) * dec(F.col("rc"))).alias("_sq"),
        F.sum("rc").cast("long").alias("_tot"),
    )
    s = s.withColumn("_num", (F.col("_sq") * 10000).cast("decimal(38,0)")).withColumn(
        "_den", dec(F.col("_tot")) * dec(F.col("_tot"))
    )
    s = s.withColumn("_q0", F.expr("_num DIV _den"))
    return s.withColumn(
        "hhi_bp",
        (
            F.col("_q0")
            - F.when(dec(F.col("_q0")) * F.col("_den") > F.col("_num"), 1).otherwise(0)
            + F.when(
                dec(F.col("_q0") + 1) * F.col("_den") <= F.col("_num"), 1
            ).otherwise(0)
        ).cast("long"),
    ).select("s_nationkey", "n_suppliers", "hhi_bp")


@query(
    "events_drift_tv",
    oracle="""
    WITH b AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
      FROM events
    ), halves AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) <= mid_us THEN 0 ELSE 1 END AS half
      FROM events CROSS JOIN b
    ), per AS MATERIALIZED (
      SELECT event_type,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
      FROM halves GROUP BY event_type
    ), tot AS (
      SELECT CAST(sum(n_first) AS BIGINT) AS t1,
             CAST(sum(n_second) AS BIGINT) AS t2
      FROM per
    ), contrib AS (
      SELECT event_type, n_first, n_second,
             CAST(CAST(n_first AS HUGEINT) * 10000 // t1 AS BIGINT) AS share_first_bp,
             CAST(CAST(n_second AS HUGEINT) * 10000 // t2 AS BIGINT) AS share_second_bp,
             CAST(abs(CAST(n_first AS HUGEINT) * t2 - CAST(n_second AS HUGEINT) * t1)
                  * 1000000 // (CAST(2 AS HUGEINT) * t1 * t2) AS BIGINT) AS tv_contrib_e6
      FROM per CROSS JOIN tot
    )
    SELECT event_type, n_first, n_second, share_first_bp, share_second_bp,
           tv_contrib_e6,
           CAST(sum(tv_contrib_e6) OVER () AS BIGINT) AS tv_total_e6
    FROM contrib
    """,
)
def q_events_drift_tv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: total-variation distance between the
    event-type mix of the stream's first and second time halves
    (boundary = midpoint of the observed span). TV = ½·Σ|p₁−p₂| is the
    drift statistic that needs no logarithm, so — unlike PSI or KL —
    it is computable in EXACT integer arithmetic: per-type contribution
    ⌊|n₁·t₂ − n₂·t₁|·10⁶ / (2·t₁·t₂)⌋ (cross-multiplied shares;
    ≤ 10²⁴·10⁶ at 10¹² events — inside HUGEINT/DECIMAL(38,0)), summed
    to the global score repeated per row.

    Plan: one 2-value bounds aggregate broadcast back over the scan,
    one hash-aggregate to |event_type| rows; the TV window runs over
    those ≤|types| aggregated rows (bounded-window class)."""
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "CAST((unix_micros(min(ts)) + unix_micros(max(ts))) div 2 AS BIGINT)"
        ).alias("mid_us")
    )
    halves = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(F.unix_micros("ts") <= F.col("mid_us"), 0).otherwise(1).alias("half"),
    )
    per = halves.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_first"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_second"),
    )
    tot = per.agg(
        F.sum("n_first").cast("long").alias("t1"),
        F.sum("n_second").cast("long").alias("t2"),
    )
    contrib = per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_first",
        "n_second",
        F.expr(
            "CAST(CAST(n_first AS DECIMAL(38,0)) * 10000 DIV t1 AS BIGINT)"
        ).alias("share_first_bp"),
        F.expr(
            "CAST(CAST(n_second AS DECIMAL(38,0)) * 10000 DIV t2 AS BIGINT)"
        ).alias("share_second_bp"),
        F.expr(
            "CAST(abs(CAST(n_first AS DECIMAL(38,0)) * t2"
            "         - CAST(n_second AS DECIMAL(38,0)) * t1)"
            " * 1000000 DIV (CAST(2 AS DECIMAL(38,0)) * t1 * t2) AS BIGINT)"
        ).alias("tv_contrib_e6"),
    )
    w = Window.partitionBy()
    return contrib.withColumn(
        "tv_total_e6", F.sum("tv_contrib_e6").over(w).cast("long")
    )


@query(
    "events_drift_chi2",
    oracle="""
    WITH b AS (
      SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
      FROM events
    ), halves AS (
      SELECT event_type,
             CASE WHEN epoch_us(ts) <= mid_us THEN 0 ELSE 1 END AS half
      FROM events CROSS JOIN b
    ), per AS MATERIALIZED (
      SELECT event_type,
             CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
             CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
      FROM halves GROUP BY event_type
    ), tot AS (
      SELECT CAST(sum(n_first) AS BIGINT) AS t1,
             CAST(sum(n_second) AS BIGINT) AS t2
      FROM per
    ), contrib AS MATERIALIZED (
      SELECT event_type, n_first, n_second,
             CAST(CASE WHEN CAST(n_first AS HUGEINT) * t2
                            >= CAST(n_second AS HUGEINT) * t1
                       THEN 1 ELSE -1 END
                  * (abs(CAST(n_first AS HUGEINT) * t2
                         - CAST(n_second AS HUGEINT) * t1)
                     * 1000000 // (CAST(t1 AS HUGEINT) * t2)) AS BIGINT)
               AS delta_ppm,
             CAST(CAST(n_first + n_second AS HUGEINT) * 1000000 // (t1 + t2)
                  AS BIGINT) AS pooled_ppm
      FROM per CROSS JOIN tot
    ), terms AS (
      SELECT event_type, n_first, n_second, delta_ppm, pooled_ppm,
             CAST(CASE WHEN pooled_ppm = 0 THEN 0
                       ELSE CAST(delta_ppm AS HUGEINT) * delta_ppm // pooled_ppm
                  END AS BIGINT) AS chi_term_e6
      FROM contrib
    )
    SELECT event_type, n_first, n_second, delta_ppm, pooled_ppm, chi_term_e6,
           CAST(sum(chi_term_e6) OVER () AS BIGINT) AS chi2_total_e6
    FROM terms
    """,
)
def q_events_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square-kernel drift monitor between the event-type mixes of
    the stream's two time halves: per type the kernel (p1-p2)²/p̄ on
    TRUNCATED-ppm shares — the χ² shape that weights rare-type shifts
    more than TV does, made integer-exact by the same no-log/no-float
    policy as `events_drift_tv`. The statistic is a documented integer
    surrogate: shares are truncated to ppm BEFORE squaring, so every
    intermediate stays ≤ 10¹² (BIGINT-safe at any corpus size — the
    exact-rational χ² numerator would overflow int128 at 10¹² events).
    Divisions only ever see non-negative numerators (abs + separate
    sign) because DuckDB `//` floors while Spark DIV truncates — they
    agree only on non-negatives; a sub-ppm pooled share yields a 0
    kernel term by the documented CASE guard.

    Plan: identical to `events_drift_tv` — one 2-value bounds
    aggregate broadcast over the scan, one hash-agg to |event_type|
    rows, the total window over those ≤|types| aggregated rows
    (bounded-window class)."""
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.expr(
            "CAST((unix_micros(min(ts)) + unix_micros(max(ts))) div 2 AS BIGINT)"
        ).alias("mid_us")
    )
    halves = ev.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.when(F.unix_micros("ts") <= F.col("mid_us"), 0).otherwise(1).alias("half"),
    )
    per = halves.groupBy("event_type").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).cast("long").alias("n_first"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).cast("long").alias("n_second"),
    )
    tot = per.agg(
        F.sum("n_first").cast("long").alias("t1"),
        F.sum("n_second").cast("long").alias("t2"),
    )
    contrib = per.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_first",
        "n_second",
        F.expr(
            "CAST(CASE WHEN CAST(n_first AS DECIMAL(38,0)) * t2"
            "               >= CAST(n_second AS DECIMAL(38,0)) * t1"
            "          THEN 1 ELSE -1 END"
            "     * (abs(CAST(n_first AS DECIMAL(38,0)) * t2"
            "            - CAST(n_second AS DECIMAL(38,0)) * t1)"
            "        * 1000000 DIV (CAST(t1 AS DECIMAL(38,0)) * t2)) AS BIGINT)"
        ).alias("delta_ppm"),
        F.expr(
            "CAST(CAST(n_first + n_second AS DECIMAL(38,0)) * 1000000"
            " DIV (t1 + t2) AS BIGINT)"
        ).alias("pooled_ppm"),
    )
    terms = contrib.withColumn(
        "chi_term_e6",
        F.expr(
            "CAST(CASE WHEN pooled_ppm = 0 THEN 0"
            "          ELSE CAST(delta_ppm AS DECIMAL(38,0)) * delta_ppm"
            "               DIV pooled_ppm END AS BIGINT)"
        ),
    )
    w = Window.partitionBy()
    return terms.withColumn(
        "chi2_total_e6", F.sum("chi_term_e6").over(w).cast("long")
    )


@query(
    "events_cusum_changepoint",
    oracle="""
    WITH b AS (
      SELECT date_trunc('hour', min(ts)) AS h0,
             date_trunc('hour', max(ts)) AS h1
      FROM events
    ), types AS (SELECT DISTINCT event_type FROM events),
    spine AS (
      SELECT event_type, g.h
      FROM types CROSS JOIN b,
           unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS g(h)
    ), cnt AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ), dense AS MATERIALIZED (
      SELECT s.event_type, s.h, COALESCE(c.n, 0) AS n
      FROM spine s LEFT JOIN cnt c
        ON s.event_type = c.event_type AND s.h = c.h
    ), ref AS MATERIALIZED (
      SELECT event_type, CAST(sum(n) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_hours,
             CAST(CAST(sum(n) AS HUGEINT) * 1000000 // count(*) AS BIGINT)
               AS ref_e6
      FROM dense GROUP BY 1
    ), run AS (
      SELECT d.event_type, d.h,
             CAST(sum(d.n * 1000000 - ref_e6) OVER (
               PARTITION BY d.event_type ORDER BY d.h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS s_e6
      FROM dense d JOIN ref USING (event_type)
    ), cus AS (
      SELECT event_type, h, s_e6,
             s_e6 - least(0, min(s_e6) OVER (
               PARTITION BY event_type ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             )) AS c_e6
      FROM run
    ), sel AS (
      SELECT event_type, h, c_e6,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY c_e6 DESC, h) AS rn
      FROM cus
    )
    SELECT s.event_type, r.total, r.n_hours, r.ref_e6,
           CAST(s.c_e6 AS BIGINT) AS max_cusum_e6, s.h AS peak_hour
    FROM sel s JOIN ref r USING (event_type)
    WHERE s.rn = 1
    """,
)
def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection per event type: the sequential
    max(0, C+x) recursion in its CLOSED FORM C_h = S_h − min(0,
    min_{j≤h} S_j) — a running sum minus a running min, both plain
    window frames, so the "inherently sequential" detector becomes a
    two-window plan. Deviations are hourly count − mean hourly count
    in exact e6 units over a DENSE hour spine (missing hours count as
    full negative deviations — skipping them would blind the detector
    to outages). Output: each type's maximum upward CUSUM excursion
    and the earliest hour it peaks (the changepoint estimate).

    Plan: one hash-aggregate to (type, hour) rows, the spine is a
    sequence() explode over the 2-value bounds broadcast, and every
    window runs per type over the AGGREGATED hourly relation (bounded
    by span-hours — never a raw-row window)."""
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(b)).select(
        "event_type",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    cnt = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    dense = spine.join(cnt, ["event_type", "h"], "left").select(
        "event_type", "h", F.coalesce("n", F.lit(0)).alias("n")
    )
    ref = dense.groupBy("event_type").agg(
        F.sum("n").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.expr(
            "CAST(CAST(sum(n) AS DECIMAL(38,0)) * 1000000"
            " DIV count(*) AS BIGINT)"
        ).alias("ref_e6"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = dense.join(F.broadcast(ref), "event_type").select(
        "event_type",
        "h",
        F.sum(F.col("n") * 1_000_000 - F.col("ref_e6"))
        .over(w)
        .cast("long")
        .alias("s_e6"),
    )
    cus = run.select(
        "event_type",
        "h",
        (
            F.col("s_e6")
            - F.least(F.lit(0).cast("long"), F.min("s_e6").over(w))
        ).alias("c_e6"),
    )
    ws = Window.partitionBy("event_type").orderBy(F.desc("c_e6"), "h")
    sel = cus.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") == 1
    )
    return sel.join(F.broadcast(ref), "event_type").select(
        "event_type",
        "total",
        "n_hours",
        "ref_e6",
        F.col("c_e6").cast("long").alias("max_cusum_e6"),
        F.col("h").alias("peak_hour"),
    )


@query(
    "robust_theil_sen_trend",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT event_type,
             CAST(date_diff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', ts)) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), nd AS MATERIALIZED (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM daily
      GROUP BY 1
    ), slopes AS MATERIALIZED (
      SELECT a.event_type,
             (1000000 * (b.y - a.y)) // (b.x - a.x) AS slope_e6
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.x < b.x
    ), sr AS (
      SELECT event_type, slope_e6,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY slope_e6) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS n_pairs
      FROM slopes
    ), med AS MATERIALIZED (
      SELECT event_type, n_pairs, slope_e6
      FROM sr WHERE rn = (n_pairs + 1) // 2
    ), resid AS (
      SELECT d.event_type,
             1000000 * d.y - m.slope_e6 * d.x AS r_e6
      FROM daily d JOIN med m ON d.event_type = m.event_type
    ), rr AS (
      SELECT event_type, r_e6,
             row_number() OVER (PARTITION BY event_type ORDER BY r_e6) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS nn
      FROM resid
    )
    SELECT m.event_type, n.n_days, m.n_pairs,
           CAST(m.slope_e6 AS BIGINT) AS slope_e6,
           CAST(rr.r_e6 AS BIGINT) AS intercept_e6
    FROM med m
    JOIN nd n ON n.event_type = m.event_type
    JOIN rr ON rr.event_type = m.event_type AND rr.rn = (rr.nn + 1) // 2
    ORDER BY m.event_type
    """,
)
def q_robust_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type — the breakdown-resistant
    counterpart of `events_daily_trend`'s OLS slope (Sen, JASA 1968):
    the slope is the LOWER MEDIAN of all pairwise daily slopes
    ⌊10⁶(y₂−y₁)/(x₂−x₁)⌋ (exact micro-units, truncation toward zero on
    both engines), and the intercept is the lower median of the daily
    residuals 10⁶y − slope·x. Up to ~29% of days can be corrupted
    (load spikes, outages) without moving the estimate.

    Plan: events aggregate to one row per (type, day) FIRST — the
    pairwise O(D²) slope join runs over the CALENDAR-bounded daily
    relation (D grows with elapsed days, not data volume), so at
    100 TB the cost is still the single scan + one hash-agg. Medians
    via partitioned rank windows over ≤D² rows per type."""
    ev = table(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(
                "CAST(datediff(date_trunc('day', ts),"
                " TIMESTAMP '1970-01-01') AS BIGINT)"
            ).alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    nd = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days")
    )
    a = daily.alias("a")
    b = daily.alias("b")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.x") < F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.expr("(1000000 * (b.y - a.y)) DIV (b.x - a.x)").alias("slope_e6"),
    )
    ws = Window.partitionBy("event_type").orderBy("slope_e6")
    wc = Window.partitionBy("event_type")
    med = (
        slopes.withColumn("rn", F.row_number().over(ws))
        .withColumn("n_pairs", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.expr("rn = (n_pairs + 1) DIV 2"))
        .select("event_type", "n_pairs", "slope_e6")
    )
    resid = daily.join(med, "event_type").select(
        "event_type",
        (F.lit(1_000_000) * F.col("y") - F.col("slope_e6") * F.col("x")).alias(
            "r_e6"
        ),
    )
    wr = Window.partitionBy("event_type").orderBy("r_e6")
    rmed = (
        resid.withColumn("rn", F.row_number().over(wr))
        .withColumn("nn", F.count(F.lit(1)).over(wc).cast("long"))
        .filter(F.expr("rn = (nn + 1) DIV 2"))
        .select("event_type", F.col("r_e6").alias("intercept_e6"))
    )
    return (
        med.join(nd, "event_type")
        .join(rmed, "event_type")
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.col("slope_e6").cast("long").alias("slope_e6"),
            F.col("intercept_e6").cast("long").alias("intercept_e6"),
        )
        .orderBy("event_type")
    )


#: Autocorrelation lags audited (days).
ACF_MAX_LAG = 7
#: Day-share scale: shares in 1e-5 units keep num^2 inside DECIMAL(38).
ACF_SHARE_SCALE = 100_000


@query(
    "events_autocorr_daily",
    oracle=f"""
    WITH b AS (
      SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
             CAST(date_trunc('day', max(ts)) AS DATE) AS d1,
             CAST(count(*) AS BIGINT) AS n_total
      FROM events
    ), cnt AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ), dense AS MATERIALIZED (
      SELECT g.d,
             CAST(COALESCE(c.n, 0) * {ACF_SHARE_SCALE} // b.n_total AS BIGINT)
               AS s
      FROM b, unnest(generate_series(b.d0, b.d1, INTERVAL '1 day')) AS u(ts_d),
           LATERAL (SELECT CAST(u.ts_d AS DATE) AS d) g
      LEFT JOIN cnt c ON c.d = g.d
    ), lags AS (SELECT k FROM generate_series(1, {ACF_MAX_LAG}) t(k)),
    pairs AS (
      SELECT l.k, x.s AS sx, y.s AS sy
      FROM lags l
      JOIN dense x ON TRUE
      JOIN dense y ON y.d = x.d + CAST(l.k AS INTEGER)
    ), agg AS MATERIALIZED (
      SELECT k,
             CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(sx) AS BIGINT) AS s_x,
             CAST(sum(sy) AS BIGINT) AS s_y,
             CAST(sum(CAST(sx AS HUGEINT) * sy) AS BIGINT) AS s_xy,
             CAST(sum(CAST(sx AS HUGEINT) * sx) AS BIGINT) AS s_xx,
             CAST(sum(CAST(sy AS HUGEINT) * sy) AS BIGINT) AS s_yy
      FROM pairs GROUP BY k
    ), stats AS (
      SELECT k, n_pairs,
             CAST(n_pairs AS HUGEINT) * s_xy - CAST(s_x AS HUGEINT) * s_y AS num,
             CAST(n_pairs AS HUGEINT) * s_xx - CAST(s_x AS HUGEINT) * s_x AS den_x,
             CAST(n_pairs AS HUGEINT) * s_yy - CAST(s_y AS HUGEINT) * s_y AS den_y
      FROM agg
    )
    SELECT CAST(k AS BIGINT) AS lag_days, n_pairs,
           CAST(num AS BIGINT) AS num,
           CAST(den_x AS BIGINT) AS den_x,
           CAST(den_y AS BIGINT) AS den_y,
           CAST(CASE WHEN den_x = 0 OR den_y = 0 THEN 0
                     ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)
                          * ((num * num // den_x) * 1000000 // den_y)
                END AS BIGINT) AS r2_signed_e6
    FROM stats
    """,
)
def q_events_autocorr_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of the daily event volume, k = 1..{ACF_MAX_LAG}
    — the seasonality detector (a weekly-cycled stream shows a lag-7
    peak) in EXACT integer arithmetic. Volumes enter as zero-filled
    day SHARES in 1e-5 units (bounded by {ACF_SHARE_SCALE}, so the
    Pearson cross-products stay inside DECIMAL(38)/HUGEINT at any
    corpus size; raw 10¹²-events-per-day counts would overflow num²).
    Instead of r (whose sqrt has no exact integer form) the audit
    reports SIGNED r²·10⁶ = sign(num)·((num²//den_x)·10⁶//den_y) plus
    the three raw moments, each division on a non-negative numerator
    (floor vs truncate agree), inner-first truncation order documented
    by the formula itself; Cauchy-Schwarz bounds num²//den_x ≤ den_y,
    so the scaled quotient is BIGINT-safe.

    Plan: one hash-agg to daily counts, a 1-row bounds/total
    aggregate whose date `sequence` explodes into the bounded daily
    spine (≤ days rows), a 7-way lag join over that spine relation,
    and a ≤{ACF_MAX_LAG}-row aggregate — the raw event scan happens
    exactly once."""
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("d0"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("d1"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    cnt = (
        ev.select(F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    spine = b.select(
        F.explode(F.sequence("d0", "d1")).alias("d"), "n_total"
    )
    dense = spine.join(cnt, "d", "left").select(
        "d",
        F.expr(
            f"CAST(coalesce(n, 0) * {ACF_SHARE_SCALE} DIV n_total AS BIGINT)"
        ).alias("s"),
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("k")
    )
    x = dense.alias("x")
    y = dense.alias("y")
    pairs = (
        x.crossJoin(F.broadcast(lags))
        .join(y, F.col("y.d") == F.expr("date_add(x.d, k)"))
        .select("k", F.col("x.s").alias("sx"), F.col("y.s").alias("sy"))
    )
    agg = pairs.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum("sx").cast("long").alias("s_x"),
        F.sum("sy").cast("long").alias("s_y"),
        F.expr("CAST(sum(CAST(sx AS DECIMAL(38,0)) * sy) AS BIGINT)").alias("s_xy"),
        F.expr("CAST(sum(CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)").alias("s_xx"),
        F.expr("CAST(sum(CAST(sy AS DECIMAL(38,0)) * sy) AS BIGINT)").alias("s_yy"),
    )
    stats = agg.select(
        "k",
        "n_pairs",
        F.expr(
            "CAST(n_pairs AS DECIMAL(38,0)) * s_xy"
            " - CAST(s_x AS DECIMAL(38,0)) * s_y"
        ).alias("num"),
        F.expr(
            "CAST(n_pairs AS DECIMAL(38,0)) * s_xx"
            " - CAST(s_x AS DECIMAL(38,0)) * s_x"
        ).alias("den_x"),
        F.expr(
            "CAST(n_pairs AS DECIMAL(38,0)) * s_yy"
            " - CAST(s_y AS DECIMAL(38,0)) * s_y"
        ).alias("den_y"),
    )
    return stats.select(
        F.col("k").cast("long").alias("lag_days"),
        "n_pairs",
        F.col("num").cast("long").alias("num"),
        F.col("den_x").cast("long").alias("den_x"),
        F.col("den_y").cast("long").alias("den_y"),
        F.expr(
            "CAST(CASE WHEN den_x = 0 OR den_y = 0 THEN 0"
            "          ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)"
            "               * ((num * num DIV den_x) * 1000000 DIV den_y)"
            "     END AS BIGINT)"
        ).alias("r2_signed_e6"),
    )


@query(
    "events_weekday_seasonality",
    oracle="""
    WITH b AS (
      SELECT CAST(date_trunc('day', min(ts)) AS DATE) AS d0,
             CAST(date_trunc('day', max(ts)) AS DATE) AS d1,
             CAST(count(*) AS BIGINT) AS n_total
      FROM events
    ), spine AS (
      SELECT CAST(isodow(CAST(u.ts_d AS DATE)) AS BIGINT) AS weekday
      FROM b, unnest(generate_series(b.d0, b.d1, INTERVAL '1 day')) AS u(ts_d)
    ), wd_days AS MATERIALIZED (
      SELECT weekday, CAST(count(*) AS BIGINT) AS n_days
      FROM spine GROUP BY weekday
    ), wd_ev AS MATERIALIZED (
      SELECT CAST(isodow(CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
               AS weekday,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(n_days) AS BIGINT) AS d_all FROM wd_days
    )
    SELECT d.weekday,
           COALESCE(e.n_events, 0) AS n_events,
           d.n_days,
           CAST(CAST(COALESCE(e.n_events, 0) AS HUGEINT) * t.d_all * 1000000
                // (CAST(b.n_total AS HUGEINT) * d.n_days) AS BIGINT)
             AS idx_ppm
    FROM wd_days d
    LEFT JOIN wd_ev e ON d.weekday = e.weekday
    CROSS JOIN tot t CROSS JOIN b
    """,
)
def q_events_weekday_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonal index: each ISO weekday's mean daily event
    volume as a ppm ratio to the overall daily mean —
    idx = (n_w · D_all) / (N_all · d_w) · 10⁶, exactly 10⁶ for a flat
    week, cross-multiplied so the only division is one truncating
    integer op. Weekday day-counts come from the zero-filled calendar
    spine (an absent weekday still divides by its day count), the
    companion readout to `events_autocorr_daily`'s lag-7 peak.

    Plan: one hash-agg of the raw scan to ≤7 weekday rows, a 1-row
    bounds aggregate whose date `sequence` explodes into the bounded
    day spine (≤ days rows, aggregated straight back to ≤7), and
    broadcast crosses of 1-row totals. ISO weekday (Mon=1) via
    Spark's `weekday()+1` ≡ DuckDB `isodow`."""
    ev = table(spark, sf_dir, "events")
    b = ev.agg(
        F.to_date(F.date_trunc("day", F.min("ts"))).alias("d0"),
        F.to_date(F.date_trunc("day", F.max("ts"))).alias("d1"),
        F.count(F.lit(1)).cast("long").alias("n_total"),
    )
    spine = b.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    wd_days = spine.groupBy(
        (F.weekday("d") + 1).cast("long").alias("weekday")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    wd_ev = ev.groupBy(
        (F.weekday(F.to_date(F.date_trunc("day", "ts"))) + 1)
        .cast("long")
        .alias("weekday")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    tot = wd_days.agg(F.sum("n_days").cast("long").alias("d_all"))
    return (
        wd_days.join(wd_ev, "weekday", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(b.select("n_total")))
        .select(
            "weekday",
            F.coalesce(F.col("n_events"), F.lit(0)).cast("long").alias("n_events"),
            "n_days",
            F.expr(
                "CAST(CAST(coalesce(n_events, 0) AS DECIMAL(38,0)) * d_all"
                " * 1000000 DIV (CAST(n_total AS DECIMAL(38,0)) * n_days)"
                " AS BIGINT)"
            ).alias("idx_ppm"),
        )
    )


@query(
    "price_qty_ols_trend",
    oracle="""
    WITH pts AS (
      SELECT l_returnflag,
             CAST(floor(l_quantity) AS BIGINT) AS x,
             CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) * 100)
                  AS BIGINT) AS y
      FROM lineitem
    ), m AS MATERIALIZED (
      SELECT l_returnflag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s_x,
             CAST(sum(y) AS BIGINT) AS s_y,
             CAST(sum(CAST(x AS HUGEINT) * y) AS BIGINT) AS s_xy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS s_xx
      FROM pts GROUP BY l_returnflag
    ), nd AS (
      SELECT l_returnflag, n, s_x, s_y, s_xy, s_xx,
             CAST(n AS HUGEINT) * s_xy - CAST(s_x AS HUGEINT) * s_y AS num,
             CAST(n AS HUGEINT) * s_xx - CAST(s_x AS HUGEINT) * s_x AS den
      FROM m
    )
    SELECT l_returnflag, n, s_x, s_y,
           CAST(num AS BIGINT) AS num,
           CAST(den AS BIGINT) AS den,
           CAST(CASE WHEN den = 0 THEN 0
                     ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)
                          * ((abs(num) // den) * 1000000
                             + (abs(num) % den) * 1000000 // den)
                END AS BIGINT) AS slope_e6
    FROM nd
    """,
)
def q_price_qty_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag least-squares slope of line price (floor cents)
    on quantity — the OLS complement to the outlier-robust
    `robust_theil_sen_trend`: comparing the two slopes is the standard
    influence check (a big gap = leverage points drive the fit). Exact
    integers end to end: slope·10⁶ expanded as
    (⌊|num|/den⌋·10⁶ + (|num| mod den)·10⁶/den) so no intermediate
    exceeds DECIMAL(38) even at 10¹²-row groups (a direct num·10⁶
    would overflow int128 there); abs+sign keeps every division
    non-negative; floor() pins the double→int conversions (DuckDB
    CAST rounds, Spark truncates — they agree only through floor).

    Plan: one hash-agg of the scan to |returnflag| moment rows; the
    slope arithmetic runs on those ≤3 rows."""
    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        "l_returnflag",
        F.floor("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("y"),
    )
    m = pts.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s_x"),
        F.sum("y").cast("long").alias("s_y"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS BIGINT)").alias(
            "s_xy"
        ),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS BIGINT)").alias(
            "s_xx"
        ),
    )
    nd = m.select(
        "l_returnflag",
        "n",
        "s_x",
        "s_y",
        "s_xy",
        "s_xx",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s_xy - CAST(s_x AS DECIMAL(38,0)) * s_y"
        ).alias("num"),
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * s_xx - CAST(s_x AS DECIMAL(38,0)) * s_x"
        ).alias("den"),
    )
    return nd.select(
        "l_returnflag",
        "n",
        "s_x",
        "s_y",
        F.col("num").cast("long").alias("num"),
        F.col("den").cast("long").alias("den"),
        F.expr(
            "CAST(CASE WHEN den = 0 THEN 0"
            "          ELSE (CASE WHEN num >= 0 THEN 1 ELSE -1 END)"
            "               * ((abs(num) DIV den) * 1000000"
            "                  + (abs(num) % den) * 1000000 DIV den)"
            "     END AS BIGINT)"
        ).alias("slope_e6"),
    )


# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B lift (Deng, Xu, Kohavi & Walker, WSDM'13).

#: Experiment cutoff: events strictly before this instant are the
#: pre-period covariate window; at/after is the experiment window.
CUPED_CUTOFF = "2024-01-16 00:00:00"


def _cuped_oracle() -> str:
    return f"""
    WITH per_user AS (
      SELECT user_id,
             {sql_hash_u32('CAST(user_id AS VARCHAR)', 'ab_')}
                 % 2 AS grp,
             CAST(sum(CASE WHEN ts <  TIMESTAMP '{CUPED_CUTOFF}'
                           THEN floor(CAST(value AS DECIMAL(18,2)) * 100)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(sum(CASE WHEN ts >= TIMESTAMP '{CUPED_CUTOFF}'
                           THEN floor(CAST(value AS DECIMAL(18,2)) * 100)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ), pooled AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s_x,
             CAST(sum(y) AS BIGINT) AS s_y,
             CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS s_xy,
             CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS s_xx,
             CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS s_yy
      FROM per_user
    ), arms AS (
      SELECT CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
             CAST(sum(CASE WHEN grp = 1 THEN y ELSE 0 END) AS BIGINT) AS sy_t,
             CAST(sum(CASE WHEN grp = 0 THEN y ELSE 0 END) AS BIGINT) AS sy_c,
             CAST(sum(CASE WHEN grp = 1 THEN x ELSE 0 END) AS BIGINT) AS sx_t,
             CAST(sum(CASE WHEN grp = 0 THEN x ELSE 0 END) AS BIGINT) AS sx_c
      FROM per_user
    ), nd AS (
      SELECT n_t, n_c, sy_t, sy_c,
             n * s_xy - CAST(s_x AS HUGEINT) * s_y AS cn,
             n * s_xx - CAST(s_x AS HUGEINT) * s_x AS vxn,
             n * s_yy - CAST(s_y AS HUGEINT) * s_y AS vyn,
             CAST(sy_t AS HUGEINT) * n_c - CAST(sy_c AS HUGEINT) * n_t AS dy,
             CAST(sx_t AS HUGEINT) * n_c - CAST(sx_c AS HUGEINT) * n_t AS dx
      FROM arms, pooled
    )
    SELECT n_t, n_c,
           CAST(CASE WHEN vxn = 0 THEN 0
                     ELSE (CASE WHEN cn >= 0 THEN 1 ELSE -1 END)
                          * ((abs(cn) // vxn) * 1000000
                             + (abs(cn) % vxn) * 1000000 // vxn)
                END AS BIGINT) AS theta_e6,
           CAST((CASE WHEN dy >= 0 THEN 1 ELSE -1 END)
                * ((abs(dy) // (CAST(n_t AS HUGEINT) * n_c)) * 100
                   + (abs(dy) % (CAST(n_t AS HUGEINT) * n_c)) * 100
                     // (CAST(n_t AS HUGEINT) * n_c)) AS BIGINT) AS raw_lift_c2,
           CAST((CASE WHEN vxn * dy - cn * dx >= 0 THEN 1 ELSE -1 END)
                * ((abs(vxn * dy - cn * dx) // (vxn * CAST(n_t AS HUGEINT) * n_c)) * 100
                   + (abs(vxn * dy - cn * dx) % (vxn * CAST(n_t AS HUGEINT) * n_c)) * 100
                     // (vxn * CAST(n_t AS HUGEINT) * n_c)) AS BIGINT) AS cuped_lift_c2,
           CAST(CASE WHEN vxn = 0 OR vyn = 0 OR abs(cn) // k = 0 THEN 0
                     ELSE ((abs(cn) // k) * (abs(cn) // k)) * 1000000
                          // ((vxn // k) * (vyn // k))
                END AS BIGINT) AS var_reduction_ppm
    FROM (SELECT *, 1 + greatest(abs(cn), vxn, vyn) // 1000000000 AS k FROM nd)
    """


@query("cuped_adjusted_lift", oracle=_cuped_oracle())
def q_cuped_adjusted_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B lift (Deng et al., WSDM'13): users
    hashed into treat/control arms, per-user revenue-cents in the
    pre-period (covariate x) and experiment period (metric y); theta =
    cov(x,y)/var(x) on the pooled users; the reported treatment effect
    is (mean_y_t - mean_y_c) - theta*(mean_x_t - mean_x_c), and the
    guaranteed variance reduction is rho^2 = cov^2/(var_x*var_y) —
    all exact integers: lifts in hundredths of a cent via the
    split-division expansion (|num| DIV den)*100 + (|num| mod den)*100
    DIV den on DECIMAL(38) moments, theta in micro-units, rho^2 in ppm
    via a pre-product scale reduction: cn, vxn, vyn are each divided
    by the SAME k = 1 + greatest(|cn|, vxn, vyn) DIV 10^9 before any
    product (Spark's DIV returns BIGINT, so reducing the moments FIRST
    is what keeps every quotient inside int64), making the ppm ratio
    EXACT when the moments are under 10^9 and deterministic with
    O(k/|cn|) relative error above — identical integers in both
    engines either way. In range up to moment sums of ~9*10^27;
    beyond that, rescale the metric unit (every reported statistic is
    scale-equivariant).

    Plan: ONE hash-agg of the event scan to per-user (x, y) rows keyed
    by user_id (map-side partials), then two 1-row aggregates (pooled
    moments, per-arm sums) broadcast-crossed for the closed-form
    arithmetic — no per-user theta adjustment pass is needed because
    the CUPED estimator is linear in the moment sums. The event scan
    prunes to (ts, user_id, value).

    Reference parity: extends the reference's count-per-key surface
    (SURVEY.md section 2.4) to the experiment-analysis statistic a
    product pipeline runs on the same event logs.
    """
    ev = table(spark, sf_dir, "events")
    cents = F.floor(F.col("value").cast("decimal(18,2)") * 100).cast("long")
    pre = F.col("ts") < F.lit(CUPED_CUTOFF).cast("timestamp")
    per_user = ev.groupBy("user_id").agg(
        F.sum(F.when(pre, cents).otherwise(F.lit(0))).cast("long").alias("x"),
        F.sum(F.when(~pre, cents).otherwise(F.lit(0))).cast("long").alias("y"),
    ).select(
        (
            hash_u32(F.col("user_id").cast("string"), "ab_")
            % 2
        ).alias("grp"),
        "x",
        "y",
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s_x"),
        F.sum("y").cast("long").alias("s_y"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))").alias("s_xy"),
        F.expr("CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0))").alias("s_xx"),
        F.expr("CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0))").alias("s_yy"),
    )
    arms = per_user.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("grp") == 1, F.col("y")).otherwise(0)).cast("long").alias("sy_t"),
        F.sum(F.when(F.col("grp") == 0, F.col("y")).otherwise(0)).cast("long").alias("sy_c"),
        F.sum(F.when(F.col("grp") == 1, F.col("x")).otherwise(0)).cast("long").alias("sx_t"),
        F.sum(F.when(F.col("grp") == 0, F.col("x")).otherwise(0)).cast("long").alias("sx_c"),
    )
    nd = arms.crossJoin(F.broadcast(pooled)).selectExpr(
        "n_t",
        "n_c",
        "CAST(n AS DECIMAL(38,0)) * s_xy - CAST(s_x AS DECIMAL(38,0)) * s_y AS cn",
        "CAST(n AS DECIMAL(38,0)) * s_xx - CAST(s_x AS DECIMAL(38,0)) * s_x AS vxn",
        "CAST(n AS DECIMAL(38,0)) * s_yy - CAST(s_y AS DECIMAL(38,0)) * s_y AS vyn",
        "CAST(sy_t AS DECIMAL(38,0)) * n_c - CAST(sy_c AS DECIMAL(38,0)) * n_t AS dy",
        "CAST(sx_t AS DECIMAL(38,0)) * n_c - CAST(sx_c AS DECIMAL(38,0)) * n_t AS dx",
    )
    nd = nd.withColumn(
        "k",
        F.expr("1 + greatest(abs(cn), vxn, vyn) DIV 1000000000"),
    )
    return nd.selectExpr(
        "n_t",
        "n_c",
        "CAST(CASE WHEN vxn = 0 THEN 0"
        "          ELSE (CASE WHEN cn >= 0 THEN 1 ELSE -1 END)"
        "               * ((abs(cn) DIV vxn) * 1000000"
        "                  + (abs(cn) % vxn) * 1000000 DIV vxn)"
        "     END AS BIGINT) AS theta_e6",
        "CAST((CASE WHEN dy >= 0 THEN 1 ELSE -1 END)"
        "     * ((abs(dy) DIV (CAST(n_t AS DECIMAL(38,0)) * n_c)) * 100"
        "        + (abs(dy) % (CAST(n_t AS DECIMAL(38,0)) * n_c)) * 100"
        "          DIV (CAST(n_t AS DECIMAL(38,0)) * n_c)) AS BIGINT) AS raw_lift_c2",
        "CAST((CASE WHEN vxn * dy - cn * dx >= 0 THEN 1 ELSE -1 END)"
        "     * ((abs(vxn * dy - cn * dx) DIV (vxn * CAST(n_t AS DECIMAL(38,0)) * n_c)) * 100"
        "        + (abs(vxn * dy - cn * dx) % (vxn * CAST(n_t AS DECIMAL(38,0)) * n_c)) * 100"
        "          DIV (vxn * CAST(n_t AS DECIMAL(38,0)) * n_c)) AS BIGINT) AS cuped_lift_c2",
        "CAST(CASE WHEN vxn = 0 OR vyn = 0 OR abs(cn) DIV k = 0 THEN 0"
        "          ELSE CAST((abs(cn) DIV k) * (abs(cn) DIV k) AS DECIMAL(38,0)) * 1000000"
        "               DIV (CAST(vxn DIV k AS DECIMAL(38,0)) * (vyn DIV k))"
        "     END AS BIGINT) AS var_reduction_ppm",
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov statistic in exact integers.


@query(
    "ks_statistic_returnflag",
    oracle="""
    WITH pts AS (
      SELECT CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS v,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS c1,
             CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS c2
      FROM lineitem WHERE l_returnflag IN ('R', 'A')
    ),
    per_v AS (
      SELECT v, CAST(sum(c1) AS BIGINT) AS c1, CAST(sum(c2) AS BIGINT) AS c2
      FROM pts GROUP BY v
    ),
    tot AS (
      SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
      FROM per_v
    ),
    cum AS (
      SELECT v,
             sum(c1) OVER (ORDER BY v) AS s1,
             sum(c2) OVER (ORDER BY v) AS s2
      FROM per_v
    ),
    d AS (
      SELECT v, abs(s1 * n2 - s2 * n1) AS dnum FROM cum, tot
    )
    SELECT (SELECT n1 FROM tot) AS n1,
           (SELECT n2 FROM tot) AS n2,
           CAST(max(dnum) AS BIGINT) AS ks_num,
           CAST(max(dnum) * 1000000 // ((SELECT n1 FROM tot) * (SELECT n2 FROM tot))
                AS BIGINT) AS ks_e6,
           CAST(-(max(struct_pack(a := dnum, b := -v)).b) AS BIGINT) AS at_value
    FROM d
    """,
)
def q_ks_statistic_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov statistic between the price
    distributions of returned ('R') and acknowledged ('A') line items:
    KS = max over x of |F1(x) - F2(x)|, computed as exact integers by
    cross-multiplying the cumulative counts (|S1*n2 - S2*n1|, so no
    float CDFs), reported with the achieving price (smallest on ties)
    and KS in micro-units.

    Plan: per-value counts for BOTH samples in ONE hash-agg (indicator
    columns, map-side partials), then the two running sums ride a
    single distributed prefix-sum (`global_cumsum`) by packing
    (c1 << 31) | c2 into one long — exact because each cumulative
    count stays under 2^31 (documented bound: samples < 2^31 rows;
    rescale to a coarser value grid beyond). dnum itself can reach
    n1*n2 < 2^62 — within int64 — but dnum*1e6 cannot, so ks_e6 runs
    the scaling in DECIMAL(38,0) (int128 headroom, matching the
    oracle's HUGEINT) before the final BIGINT narrowing; the quotient
    is <= 1e6 by construction. NO unpartitioned window
    anywhere: the prefix sum is the two-pass range-partitioned kind,
    and the final max is an ordinary aggregate.

    Reference parity: extends the reference's count-per-value surface
    (SURVEY.md section 2.4) to the standard distribution-drift test.
    """
    from distributed_mapreduce_spark.operators.partitioning import (
        global_cumsum,
    )

    li = table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "A")
    )
    per_v = (
        li.select(
            F.floor(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("v"),
            F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("c1"),
            F.when(F.col("l_returnflag") == "A", 1).otherwise(0).alias("c2"),
        )
        .groupBy("v")
        .agg(
            F.sum("c1").cast("long").alias("c1"),
            F.sum("c2").cast("long").alias("c2"),
        )
    )
    packed = per_v.select(
        "v", (F.col("c1") * F.lit(1 << 31) + F.col("c2")).alias("pk")
    )
    cum = global_cumsum(packed, [F.col("v")], "pk", cumsum_col="s")
    tot = per_v.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    d = cum.crossJoin(F.broadcast(tot)).select(
        "v",
        "n1",
        "n2",
        F.abs(
            F.shiftrightunsigned("s", 31) * F.col("n2")
            - F.col("s").bitwiseAND(F.lit((1 << 31) - 1)) * F.col("n1")
        ).alias("dnum"),
    )
    return d.agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max("dnum").cast("long").alias("ks_num"),
        F.expr(
            "CAST(CAST(max(dnum) AS DECIMAL(38,0)) * 1000000"
            " DIV (CAST(max(n1) AS DECIMAL(38,0)) * max(n2)) AS BIGINT)"
        ).alias("ks_e6"),
        (-F.max(F.struct(F.col("dnum").alias("a"), (-F.col("v")).alias("b"))).getField("b"))
        .cast("long")
        .alias("at_value"),
    )


# ---------------------------------------------------------------------------
# Trimmed and winsorized means (exact integer robust location).

#: Trim fraction per tail in basis points (500 = 5% each side).
TRIM_BP = 500


@query(
    "trimmed_mean_by_flag",
    oracle=f"""
    WITH pts AS (
      SELECT l_returnflag AS flag,
             CAST(floor(CAST(l_extendedprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS v
      FROM lineitem
    ),
    rk AS (
      SELECT flag, v,
             row_number() OVER (PARTITION BY flag ORDER BY v) AS rn,
             count(*) OVER (PARTITION BY flag) AS n
      FROM pts
    ),
    lim AS (
      SELECT flag, v, rn, n,
             (n * {TRIM_BP}) // 10000 AS k
      FROM rk
    )
    SELECT flag,
           CAST(min(n) AS BIGINT) AS n,
           CAST(min(k) AS BIGINT) AS k_trimmed_each_side,
           CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN v ELSE 0 END) * 100
                // (min(n) - 2 * min(k)) AS BIGINT) AS trimmed_mean_c2,
           CAST(sum(CASE WHEN rn <= k THEN 0
                         WHEN rn > n - k THEN 0
                         ELSE v END)
                + min(k) * (min(CASE WHEN rn = k + 1 THEN v END)
                            + min(CASE WHEN rn = n - k THEN v END)) AS BIGINT)
               AS winsor_sum,
           CAST((sum(CASE WHEN rn > k AND rn <= n - k THEN v ELSE 0 END)
                 + min(k) * (min(CASE WHEN rn = k + 1 THEN v END)
                             + min(CASE WHEN rn = n - k THEN v END))) * 100
                // min(n) AS BIGINT) AS winsor_mean_c2
    FROM lim GROUP BY flag
    """,
)
def q_trimmed_mean_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-returnflag trimmed mean (drop the lowest and highest
    {TRIM_BP} bp of prices) and winsorized mean (clamp those tails to
    the cut values) — the robust location pair, in exact hundredths of
    a cent: tail width k = floor(n * {TRIM_BP}/10000) per side, and
    the winsorized sum re-adds k copies of each boundary value instead
    of the dropped tails.

    Plan: per-group ranks ride the range-partitioned two-pass
    `global_rank` primitive ordered by (flag, v) — per-flag rank =
    global rank minus the flag's exclusive offset from the broadcast
    3-row per-flag count relation — so NO task ever holds a whole
    flag group's window state (the 3-value key would pin ~n/3 rows on
    one task at the 100 TB design point); then a single grouped
    aggregate computes both statistics — the boundary values are
    picked out of the same pass with rank-equality indicators, so no
    self-join and no second scan. Ties between equal prices get an
    arbitrary rank order, which cannot change the result: rank-range
    sums and boundary picks over equal values are permutation
    invariant.

    Sibling: `winsorized_price_stats` clips to INTERPOLATED [p05,p95]
    percentile bounds (the metrics-pipeline form); this one trims and
    winsorizes by exact RANK counts (the estimator-theory form, where
    exactly k order statistics leave each tail) and adds the trimmed
    mean the clip variant cannot produce.

    Reference parity: robust-statistics extension of the reference's
    aggregation surface (SURVEY.md section 2.4).
    """
    from distributed_mapreduce_spark.operators.partitioning import global_rank

    li = table(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("v"),
    )
    # Per-flag exclusive rank offsets from the tiny (3-row) per-flag
    # count relation: off(flag) = sum of counts of lexically-smaller
    # flags. Broadcast nested-loop over <=3 rows — constant build side.
    fc = pts.groupBy("flag").agg(F.count(F.lit(1)).cast("long").alias("n"))
    lower = F.broadcast(
        fc.select(F.col("flag").alias("_lf"), F.col("n").alias("_ln"))
    )
    offs = (
        fc.join(lower, F.col("_lf") < F.col("flag"), "left")
        .groupBy("flag", "n")
        .agg(F.coalesce(F.sum("_ln"), F.lit(0)).cast("long").alias("_off"))
    )
    gr = global_rank(pts, [F.col("flag"), F.col("v")], rank_col="_grn")
    rk = (
        gr.join(F.broadcast(offs), "flag")
        .select(
            "flag",
            "v",
            (F.col("_grn") - F.col("_off")).alias("rn"),
            "n",
        )
        .withColumn("k", F.expr(f"(n * {TRIM_BP}) DIV 10000"))
    )
    mid = F.when((F.col("rn") > F.col("k")) & (F.col("rn") <= F.col("n") - F.col("k")), F.col("v")).otherwise(F.lit(0))
    lo_b = F.min(F.when(F.col("rn") == F.col("k") + 1, F.col("v")))
    hi_b = F.min(F.when(F.col("rn") == F.col("n") - F.col("k"), F.col("v")))
    return rk.groupBy("flag").agg(
        F.min("n").cast("long").alias("n"),
        F.min("k").cast("long").alias("k_trimmed_each_side"),
        F.expr(
            f"CAST(sum(CASE WHEN rn > k AND rn <= n - k THEN v ELSE 0 END) * 100"
            f" DIV (min(n) - 2 * min(k)) AS BIGINT)"
        ).alias("trimmed_mean_c2"),
        (F.sum(mid) + F.min("k") * (lo_b + hi_b)).cast("long").alias("winsor_sum"),
        F.expr(
            "CAST((sum(CASE WHEN rn > k AND rn <= n - k THEN v ELSE 0 END)"
            " + min(k) * (min(CASE WHEN rn = k + 1 THEN v END)"
            "             + min(CASE WHEN rn = n - k THEN v END))) * 100"
            " DIV min(n) AS BIGINT)"
        ).alias("winsor_mean_c2"),
    )
