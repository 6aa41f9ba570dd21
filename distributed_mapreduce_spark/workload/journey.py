"""User/customer journey analytics — funnel conversion over `events`,
SCD-2 style status islands over `orders`, weekly retention cohorts.

These are the sequential-behavior shapes a product-analytics or
warehouse pipeline runs daily: each is a pure DataFrame plan (staged
conditional aggregates, gaps-and-islands windows, cohort joins) with
an exact DuckDB oracle.

Reference parity note: the reference has no sequential operators —
its closest shape is the juice-side per-key reduce
(`juice_wordcount.py`); the funnel generalizes that to per-key
*ordered* state, which Spark expresses with windows and staged
min-aggregates instead of imperative reducers.

Scale notes (100 TB):
- The funnel is one events scan and one user_id shuffle: chained
  per-user window mins share that partitioning, and the final per-user
  aggregate reuses it. A very hot user lands in one window task.
- Status islands use windows partitioned by custkey (bounded per-key
  state, streams through WindowExec).
- Retention joins the per-user cohort (one row per user) back to
  distinct user-weeks; both sides shuffle on user_id once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import hash_u32, sql_hash_u32
from distributed_mapreduce_spark.workload.registry import query, table

#: Ordered funnel stages over `events.event_type`.
FUNNEL_STAGES = ("view", "click", "purchase")


@query(
    "events_funnel",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t_view
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      GROUP BY e.user_id
    ), u AS (
      SELECT DISTINCT user_id FROM events
    )
    SELECT u.user_id, s1.t_view, s2.t_click, s3.t_purchase,
           CAST(CASE WHEN s3.user_id IS NOT NULL THEN 3
                     WHEN s2.user_id IS NOT NULL THEN 2
                     WHEN s1.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS stage_reached
    FROM u
    LEFT JOIN s1 ON u.user_id = s1.user_id
    LEFT JOIN s2 ON u.user_id = s2.user_id
    LEFT JOIN s3 ON u.user_id = s3.user_id
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered funnel (view → click → purchase): per user the
    earliest view, the earliest click AFTER that view, the earliest
    purchase AFTER that click, and the stage reached.

    Plan: one projected events scan and one user_id exchange. Each stage
    time is a per-user window min over the previous stage's window
    result (the Window nodes chain on the same partitioning — one sort,
    no extra shuffle), and the final per-user pick is a
    same-partitioning hash aggregate."""
    ev = table(spark, sf_dir, "events")
    view, click, purchase = FUNNEL_STAGES

    # The single scan replaced three filtered min-aggregates joined on
    # user_id plus a distinct-user spine (four events scans).
    # Measured (AB_RFM_FUNNEL_r13.json, cold min-of-3 paired): 0.475 vs
    # 0.743 s at 32 cores, 0.400 vs 0.502 at 8. At scale the trade is 3
    # fewer full scans against shuffling all rows once instead of the
    # ~60% the join shape moves (funnel types are 3 of 5 uniform) — net
    # fewer bytes touched. Caveat: a pathologically hot user serializes
    # into one window task, where the join shape's partial aggregates
    # would absorb it map-side (same per-user-window posture as
    # events_sessionize).
    w = Window.partitionBy("user_id")
    rows = ev.select("user_id", "event_type", "ts")
    rows = rows.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == view, F.col("ts"))).over(w),
    )
    rows = rows.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == click) & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    rows = rows.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == purchase)
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = rows.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    stage = (
        F.when(F.col("t_purchase").isNotNull(), 3)
        .when(F.col("t_click").isNotNull(), 2)
        .when(F.col("t_view").isNotNull(), 1)
        .otherwise(0)
    )
    return per_user.select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        stage.cast("int").alias("stage_reached"),
    )


@query(
    "scd2_status_islands",
    oracle="""
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER w IS NULL
                       OR lag(o_orderstatus) OVER w <> o_orderstatus
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), isl AS (
      SELECT o_custkey, o_orderstatus, o_orderdate,
             CAST(sum(chg) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
      FROM ordered
    )
    SELECT o_custkey, island_id, o_orderstatus AS status,
           min(o_orderdate) AS valid_from, max(o_orderdate) AS valid_to,
           count(*) AS n_orders
    FROM isl GROUP BY o_custkey, island_id, o_orderstatus
    """,
)
def q_scd2_status_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 style history build: collapse each customer's consecutive
    run of identical order statuses (ordered by orderdate, orderkey)
    into one [valid_from, valid_to] interval — the gaps-and-islands
    pattern (change flag via lag, island id via running sum).

    Plan: both windows partition by o_custkey with bounded per-key
    state; the final rollup re-aggregates on the same key."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderstatus").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("o_orderstatus")), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.sum(chg).over(run).cast("long").alias("island_id"),
    )
    return (
        isl.groupBy("o_custkey", "island_id", F.col("o_orderstatus").alias("status"))
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .select(
            "o_custkey", "island_id", "status", "valid_from", "valid_to", "n_orders"
        )
    )


@query(
    "retention_cohorts",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS ws FROM events
    ), cohort AS (
      SELECT user_id, min(ws) AS cohort_ws FROM uw GROUP BY user_id
    )
    SELECT CAST(cohort.cohort_ws AS TIMESTAMP) AS cohort_ws,
           CAST(date_diff('day', cohort.cohort_ws, uw.ws) / 7 AS BIGINT)
             AS week_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM uw JOIN cohort ON uw.user_id = cohort.user_id
    GROUP BY 1, 2
    """,
)
def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: users grouped by first-active week
    (cohort), counted in each later week they were active.

    Plan: distinct user-weeks (hash agg), per-user cohort (re-agg on
    user_id, same shuffle key), equi-join back on user_id, final small
    aggregate on (cohort, offset). DuckDB's date_trunc('week') returns
    DATE while Spark returns TIMESTAMP — the oracle casts (both engines
    truncate to Monday)."""
    ev = table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("ws")
    ).distinct()
    cohort = uw.groupBy("user_id").agg(F.min("ws").alias("cohort_ws"))
    joined = uw.join(cohort, "user_id")
    return (
        joined.select(
            "cohort_ws",
            (
                F.datediff(F.col("ws").cast("date"), F.col("cohort_ws").cast("date"))
                / 7
            )
            .cast("long")
            .alias("week_offset"),
        )
        .groupBy("cohort_ws", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "event_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), pairs AS (
      SELECT prev_type, event_type AS curr_type,
             CAST(count(*) AS BIGINT) AS n_transitions
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    )
    SELECT prev_type, curr_type, n_transitions,
           CAST(floor(n_transitions * 10000.0 /
                      sum(n_transitions) OVER (PARTITION BY prev_type))
                AS BIGINT) AS prob_bp
    FROM pairs
    """,
)
def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of user behavior: counts of
    consecutive event-type pairs per user timeline, with row-normalized
    transition probabilities in exact basis points.

    Plan: one lag window partitioned by user_id (bounded state), a hash
    aggregate to the |types|² matrix, and a normalizing window over the
    *aggregated* matrix rows (≤25 rows — the benign global-window
    class)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    pairs = seq.groupBy("prev_type", F.col("event_type").alias("curr_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wn = Window.partitionBy("prev_type")
    return pairs.select(
        "prev_type",
        "curr_type",
        "n_transitions",
        F.floor(
            F.col("n_transitions") * 10000.0 / F.sum("n_transitions").over(wn)
        )
        .cast("long")
        .alias("prob_bp"),
    )


@query(
    "ab_split_metrics",
    oracle=f"""
    WITH assigned AS (
      SELECT user_id, event_type, value,
             CASE WHEN {sql_hash_u32('CAST(user_id AS VARCHAR)', 'ab_')} % 2 = 0
                  THEN 'control' ELSE 'treatment' END AS arm
      FROM events
    )
    SELECT arm,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_purchases,
           CAST(floor(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                      * 10000.0 / count(*)) AS BIGINT) AS purchase_bp,
           CAST(CAST(sum(CASE WHEN event_type = 'purchase'
                              THEN CAST(value AS DECIMAL(18,6)) END)
                     AS DECIMAL(30,6)) AS VARCHAR) AS purchase_value
    FROM assigned GROUP BY arm
    """,
)
def q_ab_split_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic A/B experiment readout: users hash-assigned to
    arms (md5 gate — order-independent, re-derivable, the same property
    the sampling family relies on), per-arm exposure and conversion
    metrics, exact decimal purchase value surfaced as a pinned-scale
    string.

    Plan: a stateless projection assigns arms, one hash aggregate per
    arm; count(DISTINCT) rewrites to a two-level aggregate — no raw
    event ever leaves its partition unaggregated."""
    ev = table(spark, sf_dir, "events")
    arm = F.when(
        hash_u32(F.col("user_id").cast("string"), "ab_")
        % 2
        == 0,
        "control",
    ).otherwise("treatment")
    assigned = ev.select("user_id", "event_type", "value", arm.alias("arm"))
    is_p = F.when(F.col("event_type") == "purchase", 1).otherwise(0)
    return assigned.groupBy("arm").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(is_p).cast("long").alias("n_purchases"),
        F.floor(F.sum(is_p) * 10000.0 / F.count(F.lit(1))).cast("long").alias("purchase_bp"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,6)"))
        )
        .cast("decimal(30,6)")
        .cast("string")
        .alias("purchase_value"),
    )


@query(
    "funnel_latency_stats",
    oracle="""
    WITH s1 AS (
      SELECT user_id, min(ts) AS t_view FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click' AND e.ts > s1.t_view
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
      GROUP BY e.user_id
    ), lat AS (
      SELECT 'view_to_click' AS hop,
             date_diff('microsecond', s1.t_view, s2.t_click) AS us
      FROM s1 JOIN s2 ON s1.user_id = s2.user_id
      UNION ALL
      SELECT 'click_to_purchase',
             date_diff('microsecond', s2.t_click, s3.t_purchase)
      FROM s2 JOIN s3 ON s2.user_id = s3.user_id
    )
    SELECT hop, CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(us) AS BIGINT) AS min_us,
           quantile_cont(us, 0.5) AS median_us,
           quantile_cont(us, 0.9) AS p90_us,
           CAST(max(us) AS BIGINT) AS max_us
    FROM lat GROUP BY hop
    """,
)
def q_funnel_latency_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution per funnel hop: exact
    min/median/p90/max of the microsecond gap between consecutive
    completed stages (Spark `percentile` ≡ DuckDB `quantile_cont`,
    bit-identical interpolation over integer micros).

    Plan: reuses the funnel's staged min-aggregates (all shuffles on
    user_id), derives per-hop latencies with a same-key join, then one
    small aggregate per hop."""
    ev = table(spark, sf_dir, "events")
    view, click, purchase = FUNNEL_STAGES
    s1 = ev.filter(F.col("event_type") == view).groupBy("user_id").agg(
        F.min("ts").alias("t_view")
    )
    s2 = (
        ev.filter(F.col("event_type") == click)
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s3 = (
        ev.filter(F.col("event_type") == purchase)
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    hop1 = (
        s1.join(s2, "user_id")
        .select(
            F.lit("view_to_click").alias("hop"),
            (F.unix_micros("t_click") - F.unix_micros("t_view")).alias("us"),
        )
    )
    hop2 = (
        s2.join(s3, "user_id")
        .select(
            F.lit("click_to_purchase").alias("hop"),
            (F.unix_micros("t_purchase") - F.unix_micros("t_click")).alias("us"),
        )
    )
    return (
        hop1.unionAll(hop2)
        .groupBy("hop")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("us").cast("long").alias("min_us"),
            F.percentile("us", F.lit(0.5)).alias("median_us"),
            F.percentile("us", F.lit(0.9)).alias("p90_us"),
            F.max("us").cast("long").alias("max_us"),
        )
    )


@query(
    "ntile_spend_quartiles",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                       AS DECIMAL(30,4)) AS VARCHAR) AS total_spend,
             CAST(ntile(4) OVER (ORDER BY sum(CAST(o_totalprice AS DECIMAL(18,4))) DESC,
                                 o_custkey) AS INTEGER) AS quartile
      FROM orders GROUP BY o_custkey
    )
    SELECT quartile, CAST(count(*) AS BIGINT) AS n_customers,
           min(total_spend) AS lo_spend_str, max(total_spend) AS hi_spend_str
    FROM spend GROUP BY quartile
    """,
)
def q_ntile_spend_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend quartiles via ntile(4) over exact decimal spend
    (total order applied: spend desc, custkey), rolled up to quartile
    summaries. min/max of the pinned-scale spend STRINGS are reported —
    string comparison, engine-identical, sidesteps decimal-surface
    hashing entirely.

    Plan: per-customer aggregate first (shuffle on custkey); the
    customer relation SCALES with SF, so the quartile assignment does
    NOT use a global ntile window (single-task sort — the round-1
    anti-pattern). Instead `operators.partitioning.global_rank` gives a
    distributed rank (range shuffle + per-partition offsets) and the
    exact ntile bucketing formula is applied per-row: the first
    n mod 4 buckets take one extra row, matching ntile(4) bit-for-bit."""
    from distributed_mapreduce_spark.operators.partitioning import global_rank

    orders = table(spark, sf_dir, "orders")
    spend = orders.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("sp")
    )
    ranked = global_rank(
        spend, [F.col("sp").desc(), F.col("o_custkey").asc()], "rank", "total"
    )
    # ntile(k): sizes base+1 for the first extra=n%k buckets, base after.
    k = 4
    base = F.expr(f"total div {k}")
    extra = F.col("total") % k
    in_big = F.col("rank") <= (base + 1) * extra
    bucket = F.when(in_big, F.expr(f"(rank - 1) div (total div {k} + 1)")).otherwise(
        extra + F.expr(f"(rank - 1 - (total div {k} + 1) * (total % {k})) div (total div {k})")
    )
    q = ranked.select(
        F.col("sp").cast("decimal(30,4)").cast("string").alias("total_spend"),
        (bucket + 1).cast("int").alias("quartile"),
    )
    return q.groupBy("quartile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.min("total_spend").alias("lo_spend_str"),
        F.max("total_spend").alias("hi_spend_str"),
    )


@query(
    "events_debounce",
    oracle="""
    WITH seq AS (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    SELECT event_id, user_id, event_type, ts
    FROM seq
    WHERE prev_ts IS NULL
       OR date_diff('microsecond', prev_ts, ts) > 300000000
    """,
)
def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: drop an event when the same user emitted the same
    event type within the previous 5 minutes — the batch twin of
    streaming `dropDuplicatesWithinWatermark`-style redelivery
    suppression (keep the first of each burst, microsecond-exact gap).

    Plan: one lag window partitioned by (user_id, event_type) —
    bounded per-key state, shuffle on the dedup key only."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev)
    return (
        ev.select("event_id", "user_id", "event_type", "ts", prev.alias("prev_ts"), gap_us.alias("g"))
        .filter(F.col("prev_ts").isNull() | (F.col("g") > 300_000_000))
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "top_event_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS e3,
             lag(event_type, 1) OVER w AS e2,
             lag(event_type, 2) OVER w AS e1
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS n_paths
    FROM seq WHERE e1 IS NOT NULL
    GROUP BY e1, e2, e3
    ORDER BY n_paths DESC, e1, e2, e3
    LIMIT 10
    """,
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step behavior paths (event-type trigrams along each
    user's timeline) — the path-analysis query behind "what do users do
    before purchasing".

    Plan: two lags in one window pass per user (bounded state), hash
    aggregate to the ≤|types|³ path table, TakeOrdered for the
    deterministic top-k (total order: count desc then path)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e3"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.lag("event_type", 2).over(w).alias("e1"),
    ).filter(F.col("e1").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "e1", "e2", "e3")
        .limit(10)
    )


_SCD2_ASOF_SQL = """
    WITH ordered AS (
      SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
             CASE WHEN lag(o_orderstatus) OVER w IS NULL
                       OR lag(o_orderstatus) OVER w <> o_orderstatus
                  THEN 1 ELSE 0 END AS chg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), isl AS (
      SELECT o_custkey, o_orderstatus, o_orderdate,
             CAST(sum(chg) OVER (PARTITION BY o_custkey
                                 ORDER BY o_orderdate, o_orderkey
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island_id
      FROM ordered
    ), dim AS (
      SELECT o_custkey AS custkey, island_id, o_orderstatus AS status,
             min(o_orderdate) AS valid_from
      FROM isl GROUP BY o_custkey, island_id, o_orderstatus
    ), fact AS (
      SELECT l.l_orderkey, l.l_linenumber, o.o_custkey AS custkey, l.l_shipdate
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), matched AS (
      SELECT l_orderkey, l_linenumber, status FROM (
        SELECT f.l_orderkey, f.l_linenumber, d.status,
               row_number() OVER (
                 PARTITION BY f.l_orderkey, f.l_linenumber
                 ORDER BY d.valid_from DESC, d.island_id DESC
               ) AS rn
        FROM fact f
        JOIN dim d ON d.custkey = f.custkey AND d.valid_from <= f.l_shipdate
      ) WHERE rn = 1
    )
    SELECT status AS status_at_ship,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM matched GROUP BY status
"""


@query("scd2_asof_status", oracle=_SCD2_ASOF_SQL)
def q_scd2_asof_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (as-of) join of a fact table to an SCD-2 dimension:
    each lineitem picks the customer's status interval in effect at
    its ship date (latest valid_from <= l_shipdate) — the canonical
    warehouse pattern for joining facts to slowly-changing dimensions,
    rolled up by matched status.

    Plan: the SCD-2 intervals reuse `scd2_status_islands`' bounded
    per-customer windows; the temporal match is a custkey equi-join
    (fan-out bounded by the customer's interval count) + a per-fact-row
    window keeping the latest applicable interval — no interval
    cross product, no global sort."""
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderstatus").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("o_orderstatus")), 1).otherwise(0)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    isl = orders.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        F.sum(chg).over(run).cast("long").alias("island_id"),
    )
    dim = (
        isl.groupBy("o_custkey", "island_id", "o_orderstatus")
        .agg(F.min("o_orderdate").alias("valid_from"))
        .select(
            F.col("o_custkey").alias("custkey"),
            "island_id",
            F.col("o_orderstatus").alias("status"),
            "valid_from",
        )
    )
    fact = li.join(
        orders.select("o_orderkey", "o_custkey"),
        li["l_orderkey"] == F.col("o_orderkey"),
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("o_custkey").alias("custkey"),
        "l_shipdate",
    )
    joined = fact.join(
        dim,
        (dim["custkey"] == fact["custkey"])
        & (F.col("valid_from") <= F.col("l_shipdate")),
    )
    wf = Window.partitionBy("l_orderkey", "l_linenumber").orderBy(
        F.col("valid_from").desc(), F.col("island_id").desc()
    )
    matched = (
        joined.withColumn("rn", F.row_number().over(wf))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_linenumber", "status")
    )
    return matched.groupBy(F.col("status").alias("status_at_ship")).agg(
        F.count(F.lit(1)).alias("n_lines")
    )


@query(
    "order_gap_stats",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             CAST(date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
                  AS BIGINT) AS gap_days
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(min(gap_days) AS BIGINT) AS min_gap,
           CAST(max(gap_days) AS BIGINT) AS max_gap,
           CAST(quantile_cont(gap_days, 0.5) AS DOUBLE) AS p50_gap,
           CAST(quantile_cont(gap_days, 0.9) AS DOUBLE) AS p90_gap
    FROM gaps WHERE gap_days IS NOT NULL
    """,
)
def q_order_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap distribution: days between a customer's
    consecutive orders (per-customer lag window — bounded key state),
    rolled into corpus-wide min/max/median/p90 — the
    repurchase-cadence readout behind churn models. Spark's exact
    `percentile` ≡ DuckDB `quantile_cont` bit-for-bit on integer-day
    gaps.

    Plan: one shuffle on custkey for the lag window, then a single
    global aggregate of tiny per-task partials (exact percentile
    collects the gap multiset per group — at 100 TB swap to
    approx_percentile, certified within 1% by the
    approx_percentile_prices pattern)."""
    orders = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).cast("long").alias("gap_days")
    ).filter(F.col("gap_days").isNotNull())
    return gaps.agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.min("gap_days").alias("min_gap"),
        F.max("gap_days").alias("max_gap"),
        F.expr("percentile(gap_days, 0.5)").cast("double").alias("p50_gap"),
        F.expr("percentile(gap_days, 0.9)").cast("double").alias("p90_gap"),
    )


#: CEP window: purchases within this many seconds of a click qualify.
CEP_WINDOW_S = 3600


@query(
    "funnel_with_exclusion",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_id AS click_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ), p AS (
      SELECT user_id, event_id AS purchase_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), pairs AS (
      SELECT c.user_id, c.click_id, p.purchase_id, c.c_ts, p.p_ts
      FROM c JOIN p ON c.user_id = p.user_id
       AND p.p_ts > c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL {CEP_WINDOW_S} SECONDS
    ), dirty AS (
      SELECT DISTINCT pr.click_id, pr.purchase_id
      FROM pairs pr
      JOIN events e ON e.user_id = pr.user_id
       AND e.event_type = 'error'
       AND e.ts > pr.c_ts AND e.ts < pr.p_ts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) - count(d.click_id) AS BIGINT) AS n_clean,
           CAST((count(*) - count(d.click_id)) * 10000 // count(*) AS BIGINT)
             AS clean_bp
    FROM pairs pr
    LEFT JOIN dirty d
      ON pr.click_id = d.click_id AND pr.purchase_id = d.purchase_id
    """,
)
def q_funnel_with_exclusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complex-event pattern with a NEGATIVE condition: click →
    purchase within {CEP_WINDOW_S}s for the same user, EXCLUDING pairs
    with an intervening error event — the "A then B within T, no C
    between" shape plain funnels can't express (MATCH_RECOGNIZE
    territory, built from joins).

    Plan: both the pair join and the exclusion probe are user-keyed
    equi-joins with a time-interval refinement (the
    `range_join_conversions` treatment — per-user fan-out bounded by
    events-per-user-per-hour, never a time cross product); the
    exclusion is a LEFT join against the DISTINCT dirty-pair set, so
    the anti-count is exact even with multiple errors inside one
    window."""
    ev = table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
    )
    pairs = c.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr(f"INTERVAL {CEP_WINDOW_S} SECONDS")),
    ).select("user_id", "click_id", "purchase_id", "c_ts", "p_ts")
    err = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts")
    )
    dirty = (
        pairs.join(
            err,
            (F.col("e_user") == F.col("user_id"))
            & (F.col("e_ts") > F.col("c_ts"))
            & (F.col("e_ts") < F.col("p_ts")),
        )
        .select("click_id", "purchase_id")
        .distinct()
        .withColumn("is_dirty", F.lit(1))
    )
    joined = pairs.join(dirty, ["click_id", "purchase_id"], "left")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        (F.count(F.lit(1)) - F.count("is_dirty")).cast("long").alias("n_clean"),
        F.expr("((count(1) - count(is_dirty)) * 10000) DIV count(1)")
        .cast("long")
        .alias("clean_bp"),
    )


@query(
    "sessions_peak_concurrency",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS session_id
      FROM ordered
    ), iv AS MATERIALIZED (
      SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
      FROM sess GROUP BY 1, 2
    ), pts AS (
      SELECT s AS ts, 1 AS delta, user_id, session_id FROM iv
      UNION ALL
      SELECT e + INTERVAL 1 MICROSECOND, -1, user_id, session_id FROM iv
    ), run AS MATERIALIZED (
      SELECT ts,
             sum(delta) OVER (ORDER BY ts, delta DESC, user_id, session_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS conc
      FROM pts
    )
    SELECT (SELECT CAST(max(conc) AS BIGINT) FROM run) AS peak_concurrency,
           (SELECT min(ts) FROM run
            WHERE conc = (SELECT max(conc) FROM run)) AS peak_ts,
           (SELECT CAST(count(*) AS BIGINT) FROM iv) AS n_sessions
    """,
)
def q_sessions_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous sessions (capacity-planning sweep-line):
    sessionized activity intervals become +1/-1 endpoint events, the
    running sum in global endpoint order is the live concurrency
    curve, and the output is its maximum with the earliest instant it
    is reached. Endpoint order puts +1 before -1 at equal timestamps
    (a session ending exactly when another starts counts as
    overlapping), with (user, session) tie-breaks making the order
    total.

    Plan (100 TB): sessionization is per-user windows (hash shuffle on
    user_id, bounded state); the sweep-line's global running sum is
    `operators.partitioning.global_cumsum` — range shuffle +
    per-partition prefix sums + broadcast offsets, never a
    single-task global window (the oracle's bare `OVER (ORDER BY)` is
    the semantics, not the plan); the final readout aggregates the
    curve's max over partition-local maxima.
    """
    from distributed_mapreduce_spark.operators.partitioning import global_cumsum

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    is_new = F.when(
        prev_ts.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    iv = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    # One explode, not a two-branch union: a UNION of two projections of
    # `iv` plans the ENTIRE sessionize chain (scan -> per-user windows ->
    # interval aggregate) once per branch — the r12 before-plan shows the
    # scan+Window+HashAggregate subtree twice. Exploding each interval
    # into its two endpoint rows computes the chain once (guide §2.4:
    # share, don't recompute).
    pts = iv.select(
        "user_id",
        "session_id",
        F.explode(
            F.array(
                F.struct(F.col("s").alias("ts"), F.lit(1).alias("delta")),
                F.struct(
                    F.timestamp_micros(F.unix_micros(F.col("e")) + 1).alias("ts"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("pt"),
    ).select(F.col("pt.ts").alias("ts"), F.col("pt.delta").alias("delta"), "user_id", "session_id")
    run = global_cumsum(
        pts,
        [F.col("ts"), F.col("delta").desc(), F.col("user_id"), F.col("session_id")],
        "delta",
        cumsum_col="conc",
    )
    # Single-pass readout: max(struct(conc, -micros)) is lexicographic —
    # highest concurrency, then EARLIEST instant reaching it — and each
    # session contributes exactly two endpoint rows, so n_sessions =
    # count/2. One aggregation consumes the curve once (an earlier cut
    # re-ran the whole cumsum pipeline for a second "argmax" join and
    # went super-linear at x100 in SCALING_r04).
    return run.agg(
        F.max(
            F.struct(
                F.col("conc").cast("long").alias("c"),
                (-F.unix_micros(F.col("ts"))).alias("nts"),
            )
        ).alias("m"),
        (F.count(F.lit(1)) / 2).cast("long").alias("n_sessions"),
    ).select(
        F.col("m.c").alias("peak_concurrency"),
        F.timestamp_micros(-F.col("m.nts")).alias("peak_ts"),
        "n_sessions",
    )


@query(
    "session_relative_features",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(row_number() OVER (PARTITION BY user_id, session_id
                                   ORDER BY ts, event_id) AS BIGINT)
             AS event_idx,
           CAST(date_diff('microsecond',
                min(ts) OVER (PARTITION BY user_id, session_id), ts)
             AS BIGINT) AS us_since_start
    FROM sess
    """,
)
def q_session_relative_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event within-session features — ordinal position and exact
    microseconds since session start — the positional encodings a
    sequence model over user journeys trains on (and the feature
    extraction step between sessionization and example packing).

    Plan: sessionization plus both features are windows over the SAME
    (user_id) / (user_id, session_id) hash partitioning — one shuffle,
    then bounded-state frames; no global window anywhere.
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    is_new = F.when(
        prev_ts.isNull() | (gap_us > 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    sess = ev.withColumn("is_new", is_new).withColumn(
        "session_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    ws = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    return sess.select(
        "event_id",
        "user_id",
        F.col("session_id").cast("long"),
        F.row_number().over(ws).cast("long").alias("event_idx"),
        (
            F.unix_micros(F.col("ts"))
            - F.unix_micros(F.min("ts").over(ws.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )))
        ).alias("us_since_start"),
    )


@query(
    "orders_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS custkey,
             date_diff('day', max(o_orderdate),
                       (SELECT max(o_orderdate) FROM orders)) AS recency_days,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                  AS BIGINT)) AS BIGINT) AS monetary_cents
      FROM orders GROUP BY 1
    ), scored AS (
      SELECT custkey, monetary_cents,
             (row_number() OVER (ORDER BY recency_days, custkey) - 1) * 4
               // count(*) OVER () + 1 AS r_q,
             (row_number() OVER (ORDER BY frequency DESC, custkey) - 1) * 4
               // count(*) OVER () + 1 AS f_q,
             (row_number() OVER (ORDER BY monetary_cents DESC, custkey) - 1)
               * 4 // count(*) OVER () + 1 AS m_q
      FROM cust
    )
    SELECT 'r' || r_q || 'f' || f_q || 'm' || m_q AS segment,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_cents) AS BIGINT) AS sum_spent_cents
    FROM scored GROUP BY 1
    """,
)
def q_orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation: per customer recency (days since
    last order, vs the corpus max date), frequency (order count) and
    monetary (exact cents), each quartiled 1-4 (1 = best: most recent
    / most frequent / highest spend), rolled up to segment sizes and
    spend mass — the classic marketing cohorting readout.

    Plan: one hash-agg to per-customer RFM; the three quartile
    ordinals come from `operators.partitioning.global_rank` (range
    shuffle + offsets, no single-task sort — the oracle's bare
    row_number windows are the semantics, not the plan) with the
    explicit floor((rank-1)*4/n)+1 bucket formula (NTILE's
    remainder-first sizing is engine-specific; this formula is not);
    ties break by custkey so the quartiling is total.
    """
    from distributed_mapreduce_spark.operators.partitioning import global_rank

    ords = table(spark, sf_dir, "orders")
    maxd = ords.agg(F.max("o_orderdate").alias("maxd")).withColumn(
        "j", F.lit(1)
    )
    cust = (
        ords.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(
                (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast(
                    "bigint"
                )
            )
            .cast("long")
            .alias("monetary_cents"),
        )
        .withColumn("j", F.lit(1))
        .join(F.broadcast(maxd), "j")
        .select(
            "custkey",
            F.datediff(F.col("maxd"), F.col("last_order")).alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )

    def quartile(df: DataFrame, order_exprs, out: str) -> DataFrame:
        ranked = global_rank(df, order_exprs, rank_col="_rk")
        return ranked.withColumn(
            out, F.expr("(_rk - 1) * 4 div total + 1")
        ).drop("_rk", "total")

    # Instead of chaining the three range shuffles over the
    # progressively wider customer relation (each quartile's output
    # is the next rank's input — 3 sequential barriers,
    # ~(4+5+6)-column shuffle rows), rank three INDEPENDENT narrow
    # projections (2-3 columns each; the branches share the
    # persisted `cust` scan and their jobs overlap), then recombine
    # with ONE tagged-union hash aggregate on custkey — map-side
    # combinable, no join exchanges. Measured
    # (AB_RFM_FUNNEL_r13.json, cold min-of-3 paired): tie at 32
    # cores (2.374 both arms), −27% at 8 (1.224 vs 1.680); strictly
    # fewer shuffled bytes and fewer cached relations either way.
    cust = cust.persist()
    branches = []
    for order_exprs, keep, out in (
        ([F.col("recency_days"), F.col("custkey")], ["recency_days"], "r_q"),
        ([F.col("frequency").desc(), F.col("custkey")], ["frequency"], "f_q"),
        (
            [F.col("monetary_cents").desc(), F.col("custkey")],
            ["monetary_cents"],
            "m_q",
        ),
    ):
        ranked = quartile(cust.select("custkey", *keep), order_exprs, out)
        branches.append(
            ranked.select(
                "custkey",
                F.when(F.lit(out == "r_q"), F.col(out)).alias("_r"),
                F.when(F.lit(out == "f_q"), F.col(out)).alias("_f"),
                F.when(F.lit(out == "m_q"), F.col(out)).alias("_m"),
                (
                    F.col("monetary_cents")
                    if out == "m_q"
                    else F.lit(None).cast("long")
                ).alias("_mc"),
            )
        )
    u = branches[0].unionAll(branches[1]).unionAll(branches[2])
    cust = u.groupBy("custkey").agg(
        F.max("_r").alias("r_q"),
        F.max("_f").alias("f_q"),
        F.max("_m").alias("m_q"),
        F.max("_mc").alias("monetary_cents"),
    )
    return (
        cust.select(
            F.concat(
                F.lit("r"), F.col("r_q"), F.lit("f"), F.col("f_q"),
                F.lit("m"), F.col("m_q"),
            ).alias("segment"),
            "monetary_cents",
        )
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_cents").cast("long").alias("sum_spent_cents"),
        )
    )


@query(
    "user_active_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ), isl AS (
      SELECT user_id, d,
             date_diff('day', DATE '1970-01-01', d)
             - row_number() OVER (PARTITION BY user_id ORDER BY d) AS grp
      FROM days
    ), runs AS (
      SELECT user_id, grp, count(*) AS len, min(d) AS streak_start
      FROM isl GROUP BY user_id, grp
    )
    SELECT user_id,
           count(*) AS n_streaks,
           CAST(sum(len) AS BIGINT) AS active_days,
           CAST(max(len) AS BIGINT) AS longest_streak,
           min(streak_start) AS first_active_day
    FROM runs GROUP BY user_id
    """,
)
def q_user_active_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-calendar-day activity streaks per user — the
    date-arithmetic flavor of gaps-and-islands (epoch-day minus
    row_number is constant within a consecutive run), complementing
    `scd2_status_islands`' change-flag flavor.

    Plan: distinct user-days first (collapses the raw table before any
    window), then a row_number window partitioned by user_id (bounded
    per-key state), then two hash aggregates on the same key — Spark
    reuses the user_id partitioning across all three stages."""
    ev = table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    isl = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("grp"),
    )
    runs = isl.groupBy("user_id", "grp").agg(
        F.count(F.lit(1)).cast("long").alias("len"),
        F.min("d").alias("streak_start"),
    )
    return runs.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.sum("len").cast("long").alias("active_days"),
        F.max("len").cast("long").alias("longest_streak"),
        F.min("streak_start").alias("first_active_day"),
    )


#: Position-based attribution: lookback window and credit splits (bp).
ATTR_LOOKBACK_H = 24
ATTR_FIRST_BP = 4000
ATTR_LAST_BP = 4000
ATTR_MID_BP = 2000


@query(
    "attribution_position_credit",
    oracle=f"""
    WITH touches AS (
      SELECT p.event_id AS purchase_id, c.event_id AS click_id,
             hour(c.ts) AS click_hour,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts, c.event_id) AS pos,
             count(*) OVER (PARTITION BY p.event_id) AS n
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT * FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id
       AND c.ts < p.ts
       AND c.ts >= p.ts - INTERVAL {ATTR_LOOKBACK_H} HOUR
    ), credited AS (
      SELECT click_hour,
             CASE
               WHEN n = 1 THEN 10000
               WHEN n = 2 THEN 5000
               WHEN pos = 1 THEN {ATTR_FIRST_BP}
               WHEN pos = n THEN {ATTR_LAST_BP}
               ELSE {ATTR_MID_BP} // (n - 2)
                    + CASE WHEN pos - 1 <= {ATTR_MID_BP} % (n - 2)
                           THEN 1 ELSE 0 END
             END AS credit_bp
      FROM touches
    )
    SELECT CAST(click_hour AS BIGINT) AS click_hour,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit_bp) AS BIGINT) AS credit_bp
    FROM credited GROUP BY 1
    """,
)
def q_attribution_position_credit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch position-based ("U-shaped") attribution: every
    purchase distributes 10 000 bp of credit over the user's clicks in
    the prior {ATTR_LOOKBACK_H} h — first touch {ATTR_FIRST_BP},
    last touch {ATTR_LAST_BP}, middles splitting {ATTR_MID_BP} with
    the integer remainder awarded to the EARLIEST middles (largest-
    remainder rule, so every purchase's credits sum to exactly 10 000
    with no float splits). Credit rolls up by click hour-of-day —
    "which hours earn conversions".

    Plan: purchases⋈clicks is a per-user range join (equi on user_id,
    AQE-planned, band-bounded by the lookback); position/count windows
    are keyed per purchase (bounded by touches-per-purchase); the
    rollup is a ≤24-row hash aggregate."""
    ev = table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    )
    touches = p.join(
        c,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("c_ts") < F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_LOOKBACK_H} HOURS")
        ),
    )
    wp = Window.partitionBy("purchase_id")
    wo = wp.orderBy("c_ts", "click_id")
    pos = touches.select(
        "purchase_id",
        F.hour("c_ts").alias("click_hour"),
        F.row_number().over(wo).alias("pos"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    mid = F.expr(
        f"{ATTR_MID_BP} div (n - 2)"
        f" + CASE WHEN pos - 1 <= {ATTR_MID_BP} % (n - 2) THEN 1 ELSE 0 END"
    )
    credited = pos.select(
        "click_hour",
        F.when(F.col("n") == 1, 10000)
        .when(F.col("n") == 2, 5000)
        .when(F.col("pos") == 1, ATTR_FIRST_BP)
        .when(F.col("pos") == F.col("n"), ATTR_LAST_BP)
        .otherwise(mid)
        .alias("credit_bp"),
    )
    return credited.groupBy(
        F.col("click_hour").cast("long").alias("click_hour")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.sum("credit_bp").cast("long").alias("credit_bp"),
    )


@query(
    "event_type_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER w AS prev1,
             lag(event_type, 2) OVER w AS prev2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), tri AS (
      SELECT prev2 AS t1, prev1 AS t2, event_type AS t3,
             CAST(count(*) AS BIGINT) AS n_occurrences
      FROM seq WHERE prev2 IS NOT NULL
      GROUP BY 1, 2, 3
    )
    SELECT t1, t2, t3, n_occurrences,
           CAST(floor(n_occurrences * 10000.0 /
                      sum(n_occurrences) OVER (PARTITION BY t1, t2))
                AS BIGINT) AS cond_prob_bp
    FROM tri
    """,
)
def q_event_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-order sequential patterns: counts of consecutive
    event-type TRIPLES per user timeline with the conditional
    P(t3 | t1,t2) in exact basis points — the order-2 Markov model that
    `event_transitions` (order 1) cannot express; comparing the two
    conditionals is the standard test for whether user behavior has
    memory beyond one step.

    Plan: the same single user-partitioned window produces both lags
    (one shuffle on user_id, bounded per-user state), a hash aggregate
    to ≤|types|³ rows, and the normalizing window runs over those
    aggregated matrix rows partitioned by the (t1, t2) prefix — never
    a global or raw-row window."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.lag("event_type").over(w).alias("prev1"),
        F.lag("event_type", 2).over(w).alias("prev2"),
    ).filter(F.col("prev2").isNotNull())
    tri = seq.groupBy(
        F.col("prev2").alias("t1"),
        F.col("prev1").alias("t2"),
        F.col("event_type").alias("t3"),
    ).agg(F.count(F.lit(1)).alias("n_occurrences"))
    wn = Window.partitionBy("t1", "t2")
    return tri.select(
        "t1",
        "t2",
        "t3",
        "n_occurrences",
        F.floor(
            F.col("n_occurrences") * 10000.0 / F.sum("n_occurrences").over(wn)
        )
        .cast("long")
        .alias("cond_prob_bp"),
    )


@query(
    "cohort_cumulative_ltv",
    oracle="""
    WITH om AS (
      SELECT o_custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
             CAST(floor(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS cents
      FROM orders
    ), cohort AS MATERIALIZED (
      SELECT o_custkey, min(m) AS cm FROM om GROUP BY o_custkey
    ), csize AS (
      SELECT cm, CAST(count(*) AS BIGINT) AS cohort_size
      FROM cohort GROUP BY cm
    ), per AS MATERIALIZED (
      SELECT c.cm AS cohort_month,
             (year(o.m) * 12 + month(o.m))
               - (year(c.cm) * 12 + month(c.cm)) AS month_offset,
             CAST(count(DISTINCT o.o_custkey) AS BIGINT) AS n_active,
             CAST(sum(o.cents) AS BIGINT) AS spend_cents
      FROM om o JOIN cohort c ON o.o_custkey = c.o_custkey
      GROUP BY 1, 2
    )
    SELECT p.cohort_month,
           CAST(p.month_offset AS BIGINT) AS month_offset,
           p.n_active, p.spend_cents,
           CAST(sum(p.spend_cents) OVER (PARTITION BY p.cohort_month
                                         ORDER BY p.month_offset) AS BIGINT)
             AS cum_spend_cents,
           s.cohort_size,
           CAST(sum(p.spend_cents) OVER (PARTITION BY p.cohort_month
                                         ORDER BY p.month_offset)
                // s.cohort_size AS BIGINT) AS ltv_per_cust_cents
    FROM per p JOIN csize s ON p.cohort_month = s.cm
    """,
)
def q_cohort_cumulative_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: customers grouped by first-order
    month, each cohort's spend accumulated across month offsets and
    normalized per cohort member — the LTV triangle that retention
    counts (`retention_cohorts`) cannot price. Exact to the cent:
    floor-cents spend, integer month offsets from (year*12+month)
    deltas (identical on both engines — no fractional months_between),
    one truncating division per output row.

    Plan: one hash-agg for cohorts (re-agg on the o_custkey shuffle
    key), equi-join back, aggregate to (cohort, offset) rows, and the
    running-sum window runs PARTITIONED BY cohort over those
    aggregated rows — never a raw-row or global window. Cohort sizes
    join on the ≤|months| relation."""
    orders = table(spark, sf_dir, "orders")
    om = orders.select(
        "o_custkey",
        F.to_date(F.date_trunc("month", "o_orderdate")).alias("m"),
        F.floor(F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("cents"),
    )
    cohort = om.groupBy("o_custkey").agg(F.min("m").alias("cm"))
    csize = cohort.groupBy("cm").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    per = (
        om.join(cohort, "o_custkey")
        .groupBy(
            F.col("cm").alias("cohort_month"),
            (
                (F.year("m") * 12 + F.month("m"))
                - (F.year("cm") * 12 + F.month("cm"))
            ).alias("month_offset"),
        )
        .agg(
            F.count_distinct("o_custkey").cast("long").alias("n_active"),
            F.sum("cents").cast("long").alias("spend_cents"),
        )
    )
    w = Window.partitionBy("cohort_month").orderBy("month_offset")
    return (
        per.join(
            csize.withColumnRenamed("cm", "cohort_month"), "cohort_month"
        )
        .select(
            "cohort_month",
            F.col("month_offset").cast("long").alias("month_offset"),
            "n_active",
            "spend_cents",
            F.sum("spend_cents").over(w).cast("long").alias("cum_spend_cents"),
            "cohort_size",
        )
        # integer DIV on the materialized cumulative (a float divide
        # would round past 2^53 cents)
        .withColumn(
            "ltv_per_cust_cents",
            F.expr("CAST(cum_spend_cents DIV cohort_size AS BIGINT)"),
        )
    )


#: Power-iteration rounds for the stationary distribution (unrolled
#: identically in the oracle; ppm truncation per term each round).
MARKOV_ITERS = 8


def _markov_round_sql(k: int) -> str:
    return f"""
    p{k + 1} AS MATERIALIZED (
      SELECT m.curr_type AS event_type,
             CAST(sum(p.pi_ppm * m.n_transitions // m.n_out) AS BIGINT)
               AS pi_ppm
      FROM p{k} p JOIN m ON p.event_type = m.prev_type
      GROUP BY m.curr_type
    )"""


@query(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    ), m AS MATERIALIZED (
      SELECT prev_type, event_type AS curr_type,
             CAST(count(*) AS BIGINT) AS n_transitions,
             CAST(sum(count(*)) OVER (PARTITION BY prev_type) AS BIGINT)
               AS n_out
      FROM seq WHERE prev_type IS NOT NULL
      GROUP BY 1, 2
    ), types AS (SELECT DISTINCT prev_type AS event_type FROM m),
    ntypes AS (SELECT CAST(count(*) AS BIGINT) AS k FROM types),
    p0 AS MATERIALIZED (
      SELECT event_type, CAST(1000000 // k AS BIGINT) AS pi_ppm
      FROM types CROSS JOIN ntypes
    ),{",".join(_markov_round_sql(k) for k in range(MARKOV_ITERS))},
    emp AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(*) * 1000000 // sum(count(*)) OVER () AS BIGINT)
               AS empirical_ppm
      FROM events GROUP BY event_type
    )
    SELECT p.event_type, p.pi_ppm AS stationary_ppm,
           e.empirical_ppm,
           CAST(abs(p.pi_ppm - e.empirical_ppm) AS BIGINT) AS delta_ppm
    FROM p{MARKOV_ITERS} p JOIN emp e USING (event_type)
    """,
)
def q_events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order behavior chain by
    {MARKOV_ITERS} exact power-iteration rounds over the
    `event_transitions` matrix (counts, not pre-truncated
    probabilities: each round's term is pi·n_ij // n_i, one truncation
    per term, identical in both engines), compared against the
    empirical long-run type frequency — the closing member of the
    Markov family (order-1 matrix → order-2 trigrams → fixed point),
    and delta_ppm is the model-fit readout: a chain that describes the
    stream well converges near the empirical mix.

    Plan: ONE raw-scan window builds the matrix (same shuffle as
    `event_transitions`); every iteration is a join of two bounded
    aggregates (≤|types| and ≤|types|² rows) — the heavy lifting
    happens once, the fixed point costs |types|-sized work per round.
    The normalizing window in `emp` runs over ≤|types| aggregated
    rows (bounded-window class)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    wn = Window.partitionBy("prev_type")
    m = (
        seq.groupBy("prev_type", F.col("event_type").alias("curr_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .withColumn(
            "n_out", F.sum("n_transitions").over(wn).cast("long")
        )
        .persist()
    )
    types = m.select(F.col("prev_type").alias("event_type")).distinct()
    ntypes = types.agg(F.count(F.lit(1)).cast("long").alias("k"))
    pi = types.crossJoin(F.broadcast(ntypes)).select(
        "event_type", F.expr("CAST(1000000 DIV k AS BIGINT)").alias("pi_ppm")
    )
    for _ in range(MARKOV_ITERS):
        pi = (
            pi.join(m, pi["event_type"] == m["prev_type"])
            .groupBy(F.col("curr_type").alias("event_type"))
            .agg(
                F.expr(
                    "CAST(sum(pi_ppm * n_transitions DIV n_out) AS BIGINT)"
                ).alias("pi_ppm")
            )
        )
    emp = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
        .select(
            "event_type",
            F.expr(
                "CAST(n_events * 1000000 DIV sum(n_events) OVER () AS BIGINT)"
            ).alias("empirical_ppm"),
        )
    )
    return (
        pi.join(emp, "event_type")
        .select(
            "event_type",
            F.col("pi_ppm").alias("stationary_ppm"),
            "empirical_ppm",
            F.abs(F.col("pi_ppm") - F.col("empirical_ppm"))
            .cast("long")
            .alias("delta_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy (train/test time split).

#: Time split for the next-event evaluation: transitions whose BOTH
#: endpoints precede the cutoff train the model; transitions whose
#: both endpoints follow it evaluate it (straddling pairs belong to
#: neither — no leakage in either direction).
MARKOV_EVAL_CUTOFF = "2024-01-16 00:00:00"


@query(
    "markov_next_event_accuracy",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
             ts < TIMESTAMP '{MARKOV_EVAL_CUTOFF}' AS is_train,
             lag(event_type) OVER w AS prev_type,
             lag(ts < TIMESTAMP '{MARKOV_EVAL_CUTOFF}') OVER w AS prev_train
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    train AS (
      SELECT prev_type, event_type AS next_type, CAST(count(*) AS BIGINT) AS cnt
      FROM seq WHERE prev_type IS NOT NULL AND is_train AND prev_train
      GROUP BY 1, 2
    ),
    pred AS (
      SELECT prev_type, next_type AS predicted FROM (
        SELECT prev_type, next_type,
               row_number() OVER (PARTITION BY prev_type
                                  ORDER BY cnt DESC, next_type) AS rn
        FROM train
      ) WHERE rn = 1
    ),
    test AS (
      SELECT prev_type, event_type AS next_type
      FROM seq
      WHERE prev_type IS NOT NULL AND NOT is_train AND NOT prev_train
    )
    SELECT t.prev_type,
           p.predicted,
           CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN t.next_type = p.predicted THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(sum(CASE WHEN t.next_type = p.predicted THEN 1 ELSE 0 END)
                * 10000 // count(*) AS BIGINT) AS acc_bp
    FROM test t JOIN pred p USING (prev_type)
    GROUP BY t.prev_type, p.predicted
    """,
)
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next-event prediction accuracy of the first-order Markov model
    under a leak-free time split: transition counts from pre-cutoff
    pairs train the argmax predictor (ties to the lexicographically
    smallest type), post-cutoff pairs evaluate it, straddling pairs are
    discarded from both sides. Per prior-event row: the prediction,
    test support, hits, and accuracy in exact basis points — the
    out-of-sample companion to `events_markov_stationary`'s in-sample
    fixed point.

    Plan: ONE per-user lag window (the same shape every sequence query
    here uses) tags each transition with both endpoints' periods; the
    train aggregate is |types|^2 rows, the argmax a |types|-bounded
    window, and the test join broadcasts the 5-row prediction table.

    Reference parity: sequence-model extension of the reference's
    count-per-key aggregation (SURVEY.md section 2.4).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    is_train = F.col("ts") < F.lit(MARKOV_EVAL_CUTOFF).cast("timestamp")
    seq = ev.select(
        "event_type",
        is_train.alias("is_train"),
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag(is_train).over(w).alias("prev_train"),
    ).filter(F.col("prev_type").isNotNull())
    train = (
        seq.filter(F.col("is_train") & F.col("prev_train"))
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    pw = Window.partitionBy("prev_type").orderBy(
        F.desc("cnt"), F.asc("next_type")
    )
    pred = (
        train.withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") == 1)
        .select("prev_type", F.col("next_type").alias("predicted"))
    )
    test = seq.filter(~F.col("is_train") & ~F.col("prev_train")).select(
        "prev_type", F.col("event_type").alias("next_type")
    )
    return (
        test.join(F.broadcast(pred), "prev_type")
        .groupBy("prev_type", "predicted")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(F.col("next_type") == F.col("predicted"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST(sum(CASE WHEN next_type = predicted THEN 1 ELSE 0 END)"
                " * 10000 DIV count(*) AS BIGINT)"
            ).alias("acc_bp"),
        )
    )


# ---------------------------------------------------------------------------
# Bot detection by inter-event gap regularity.

#: A user whose inter-event gap coefficient-of-variation-squared falls
#: below this many ppm (gaps nearly identical) is flagged as
#: automation; humans are bursty (CV^2 ~ 1e6 ppm for Poisson arrivals,
#: higher for heavy tails). Requires a minimum gap count so tiny
#: histories can't fire the flag.
BOT_CV2_PPM = 250_000
BOT_MIN_GAPS = 5


@query(
    "user_gap_regularity",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    gaps AS (SELECT user_id, gap_us FROM seq WHERE gap_us IS NOT NULL),
    st AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_gaps,
             CAST(sum(gap_us) AS BIGINT) AS s1,
             CAST(sum(CAST(gap_us AS HUGEINT) * gap_us) AS HUGEINT) AS s2
      FROM gaps GROUP BY user_id
    )
    SELECT user_id, n_gaps,
           CAST(s1 // n_gaps AS BIGINT) AS mean_gap_us,
           CAST(CASE WHEN s1 = 0 THEN 0
                ELSE (n_gaps * s2 - CAST(s1 AS HUGEINT) * s1) * 1000000
                     // (CAST(s1 AS HUGEINT) * s1) END AS BIGINT) AS cv2_ppm,
           (n_gaps >= {BOT_MIN_GAPS} AND s1 > 0
            AND (n_gaps * s2 - CAST(s1 AS HUGEINT) * s1) * 1000000
                // (CAST(s1 AS HUGEINT) * s1) < {BOT_CV2_PPM}) AS bot_flag
    FROM st
    """,
)
def q_user_gap_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation detection by inter-event timing regularity: per user
    the coefficient of variation SQUARED of inter-event gaps in exact
    ppm — cv^2 = var/mean^2 = (n*S2 - S1^2)/S1^2, all integer
    microsecond moments, no float variance. Near-zero cv^2 means
    metronome-regular requests (scripted clients); Poisson-bursty
    humans sit near 1e6 ppm. Flag fires only with >= {BOT_MIN_GAPS}
    gaps so short histories can't trip it.

    Plan: one per-user lag window (the sequence-query shape shared by
    the whole journey family), then a per-user moment aggregate —
    map-side combinable, one shuffle keyed by user. Bounds: gaps are
    microseconds < 2^42 per month; n*S2 stays inside int128 for any
    realistic per-user history (documented, HUGEINT/DECIMAL(38)).

    Reference parity: behavioral extension of the reference's
    per-machine counting (SURVEY.md section 2.4
    `agg_count_per_machine`).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    st = seq.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_us").cast("long").alias("s1"),
        F.expr(
            "CAST(sum(CAST(gap_us AS DECIMAL(38,0)) * gap_us) AS DECIMAL(38,0))"
        ).alias("s2"),
    )
    cv2 = F.expr(
        "CAST(CASE WHEN s1 = 0 THEN 0"
        "     ELSE (n_gaps * s2 - CAST(s1 AS DECIMAL(38,0)) * s1) * 1000000"
        "          DIV (CAST(s1 AS DECIMAL(38,0)) * s1) END AS BIGINT)"
    )
    return st.select(
        "user_id",
        "n_gaps",
        F.expr("CAST(s1 DIV n_gaps AS BIGINT)").alias("mean_gap_us"),
        cv2.alias("cv2_ppm"),
        (
            (F.col("n_gaps") >= BOT_MIN_GAPS)
            & (F.col("s1") > 0)
            & (cv2 < BOT_CV2_PPM)
        ).alias("bot_flag"),
    )


# ---------------------------------------------------------------------------
# Sessionization gap-threshold tuning table.

#: Candidate inactivity gaps (minutes) for the session cut.
SESSION_GAP_SWEEP_MIN = (5, 15, 30, 60)


@query(
    "sessionize_gap_sweep",
    oracle=f"""
    WITH seq AS (
      SELECT user_id,
             epoch_us(ts) - lag(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    users AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                     CAST(count(*) AS BIGINT) AS n_events
              FROM events),
    sweep AS (
      SELECT g.gap_min,
             CAST(sum(CASE WHEN s.gap_us > CAST(g.gap_min AS BIGINT) * 60000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts
      FROM seq s
      CROSS JOIN (VALUES {', '.join(f'({m})' for m in SESSION_GAP_SWEEP_MIN)})
           g(gap_min)
      WHERE s.gap_us IS NOT NULL
      GROUP BY g.gap_min
    )
    SELECT CAST(gap_min AS BIGINT) AS gap_min,
           CAST(n_cuts + n_users AS BIGINT) AS n_sessions,
           CAST(n_events * 1000000 // (n_cuts + n_users) AS BIGINT)
             AS events_per_session_e6
    FROM sweep CROSS JOIN users
    """,
)
def q_sessionize_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-gap tuning table: for each candidate inactivity
    threshold, the session count (cuts + one per active user — a cut
    is exactly one gap above the threshold, so NO re-sessionization
    per candidate is needed) and mean events per session in exact
    micro-units. The elbow of this table is how the sessionize
    threshold gets picked from data instead of folklore; the engine's
    actual sessionizers (`events_sessionize`, `sessionize_sql`,
    streaming `sessionized_counts`) consume the winner.

    Plan: ONE per-user lag window (shared sequence shape), then a
    |thresholds|-way literal explode into a 4-group aggregate —
    sweeping thresholds costs one pass total, not one pass each.

    Reference parity: parameter-tuning extension of the engine's
    sessionize family (SURVEY.md section 2.5 window surface).
    """
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    seq = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    users = ev.agg(
        F.count_distinct("user_id").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    sweep = (
        seq.select(
            "gap_us",
            F.explode(
                F.array(*[F.lit(m) for m in SESSION_GAP_SWEEP_MIN])
            ).alias("gap_min"),
        )
        .groupBy("gap_min")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_us") > F.col("gap_min").cast("long") * 60_000_000, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_cuts")
        )
    )
    return sweep.crossJoin(F.broadcast(users)).select(
        F.col("gap_min").cast("long").alias("gap_min"),
        (F.col("n_cuts") + F.col("n_users")).cast("long").alias("n_sessions"),
        F.expr(
            "CAST(n_events * 1000000 DIV (n_cuts + n_users) AS BIGINT)"
        ).alias("events_per_session_e6"),
    )
