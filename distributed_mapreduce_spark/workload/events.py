"""Event-stream workload over `events` — batch form of the streaming
semantics (tumbling windows, sessionization, JSON props extraction).

These are the oracle-checkable batch twins of the Structured Streaming
operators in :mod:`distributed_mapreduce_spark.streaming`: a tumbling
window aggregate over a static frame must equal the final state of the
same streaming aggregation after all data is ingested (Spark's
batch/streaming unification guarantee).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import hash_u32, sql_hash_u32
from distributed_mapreduce_spark.workload.registry import (
    query,
    table,
    wide_shuffle_parts,
)

SESSION_GAP_MIN = 30


@query(
    "events_tumbling",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS sum_value
    FROM events GROUP BY 1, 2
    """,
)
def q_events_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window per event_type: count + exact decimal sum.
    Streaming twin: the same hour-floor grouping on a drained stream —
    identical result on a closed input.

    The window start is derived with ``date_trunc('hour', ts)`` rather
    than ``F.window(ts, '1 hour').start`` (VERDICT r12 #1): the two are
    value-identical wherever they agree today (any whole-hour session
    zone, including the pinned-UTC sessions every local run uses), but
    ``date_trunc`` floors the wall-clock hour — the exact semantics of
    the oracle's ``time_bucket(INTERVAL '1 hour', ts)`` — in EVERY
    session timezone, while ``window`` floors the underlying epoch
    micros. Grouping by the scalar also drops the window-struct
    construction from the aggregate key (marginally cheaper)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("ws"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(30,6)").alias("sum_value"),
        )
        .select("ws", "event_type", "n_events", "sum_value")
    )


@query(
    "events_sessionize",
    oracle=f"""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '{SESSION_GAP_MIN} minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ), sess AS (
      SELECT user_id, ts, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM ordered
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, session_id
    """,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity gap): lag + running
    sum of session-start flags, then per-session rollup. Streaming twin:
    session_window / applyInPandasWithState."""
    ev = table(spark, sf_dir, "events")
    order = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(order)
    # Microsecond-exact gap (cast-to-long would truncate to seconds and
    # disagree with the oracle's exact interval comparison).
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(prev_ts)
    is_new = F.when(prev_ts.isNull() | (gap_us > SESSION_GAP_MIN * 60 * 1_000_000), 1).otherwise(0)
    running = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(is_new).over(running).alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    ).select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
    )


@query(
    "events_json_props",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           count(*) AS cnt
    FROM events GROUP BY event_type
    """,
)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract a typed field from the JSON `props` payload and
    aggregate — semi-structured column handling (exact integer sums)."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("k_sum"), F.count(F.lit(1)).alias("cnt")
    )


@query(
    "events_stateful_user_counts",
    oracle="SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id",
)
def q_events_stateful_user_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end Structured Streaming with CUSTOM state: land the
    events as a file-source stream, run the `applyInPandasWithState`
    cumulative per-user counter to completion (availableNow), and
    return the final per-user totals.

    The oracle is plain batch SQL — on a closed input the stream's
    final state MUST equal the batch aggregate (batch/stream
    unification), so the keyed state store, Arrow state iteration, and
    update-mode emission are all differentially checked, not just
    smoke-tested. The last emission per key wins (cumulative counts
    are monotone, hence `max`).
    """
    import tempfile

    from distributed_mapreduce_spark.streaming.events_stream import (
        read_events_stream,
        run_to_memory,
        stateful_user_counts,
    )

    work = tempfile.mkdtemp(prefix="events_stateful_")
    landing = f"{work}/landing"
    ev = table(spark, sf_dir, "events")
    ev.repartition(4).write.mode("overwrite").parquet(landing)

    stream = stateful_user_counts(read_events_stream(spark, landing))
    run_to_memory(stream, "events_stateful_user_counts_sink", output_mode="update")
    final = spark.table("events_stateful_user_counts_sink")
    return final.groupBy("user_id").agg(F.max("n_events").alias("n_events"))


@query(
    "events_sliding",
    oracle="""
    SELECT ws, event_type, count(*) AS n_events
    FROM (
      SELECT event_type, unnest([
        time_bucket(INTERVAL '30 minutes', ts),
        time_bucket(INTERVAL '30 minutes', ts) - INTERVAL 30 MINUTE
      ]) AS ws, ts
      FROM events
    )
    WHERE ts >= ws AND ts < ws + INTERVAL 60 MINUTE
    GROUP BY ws, event_type
    """,
)
def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide: every event lands in two
    overlapping windows (w/s = 2). The two candidate window starts are
    derived explicitly — the wall-clock 30-minute floor of ts and that
    minus 30 minutes — exactly the oracle's `time_bucket` unnest, and
    TZ-invariant the same way as the tumbling fix (r13, VERDICT r12 #1
    hardening: `F.window(ts, w, s)` floors epoch micros, divergent from
    `time_bucket` under a fractional-hour session zone; value-identical
    on whole-hour zones). Every event strictly belongs to both windows
    for w=2s, so no refilter is needed on this side."""
    ev = table(spark, sf_dir, "events")
    half = F.expr(
        "date_trunc('hour', ts)"
        " + make_interval(0, 0, 0, 0, 0, IF(minute(ts) >= 30, 30, 0), 0)"
    )
    return (
        ev.select(F.col("event_type"), half.alias("h"))
        .select(
            "event_type",
            F.explode(
                F.array(F.col("h"), F.expr("h - INTERVAL 30 MINUTES"))
            ).alias("ws"),
        )
        .groupBy("ws", "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("ws", "event_type", "n_events")
    )


#: Gaps-and-islands sessionization — identical SQL text on BOTH engines
#: (Spark SQL front-end on a temp view, DuckDB on the harness view).
_SESSIONIZE_SQL = """
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts, event_id,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM numbered GROUP BY user_id, session_id
    """


@query("sessionize_sql", oracle=_SESSIONIZE_SQL)
def q_sessionize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands sessionization as VERBATIM SQL (lag → new-session
    flag → running sum → group): the same text Spark SQL and DuckDB both
    execute — the declarative twin of `events_sessionize`'s DataFrame
    construction."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_SESSIONIZE_SQL)


@query(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key: the CDC/compaction primitive (last event
    wins). Deterministic via the (ts, event_id) total order —
    `dropDuplicates` can't express "latest", only "any". One shuffle
    on the key, per-partition sort, no global sort."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "ts", "event_type")
    )


@query(
    "busiest_hours_per_type",
    oracle="""
    SELECT event_type, ws, n_events, rnk FROM (
      SELECT event_type, ws, n_events,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY n_events DESC, ws) AS INTEGER) AS rnk
      FROM (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS ws,
               count(*) AS n_events
        FROM events GROUP BY 1, 2
      )
    ) WHERE rnk <= 3
    """,
)
def q_busiest_hours_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k groups within group: aggregate to (type, hour) counts, then
    rank hours within each type and keep the top 3 — the aggregate →
    window-over-aggregate composition (the window sees |groups| rows;
    the deterministic (count desc, window-start) order makes the cut
    exact)."""
    ev = table(spark, sf_dir, "events")
    # Hour bucket via date_trunc, not F.window — TZ-invariant wall-clock
    # floor matching the oracle's time_bucket (r13 hardening, same as
    # events_tumbling; value-identical on whole-hour session zones).
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("ws")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    w = Window.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), F.col("ws")
    )
    return (
        hourly.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("event_type", "ws", "n_events", "rnk")
    )


@query(
    "events_multi_rollup",
    oracle="""
    SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
           CASE WHEN GROUPING(date_trunc('hour', ts)) = 0
                THEN CAST(date_trunc('hour', ts) AS TIMESTAMP) END AS hour,
           CASE WHEN GROUPING(event_type) = 0 THEN event_type END AS event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS sum_value
    FROM events
    GROUP BY GROUPING SETS (
      (date_trunc('day', ts)),
      (date_trunc('day', ts), date_trunc('hour', ts)),
      (date_trunc('day', ts), date_trunc('hour', ts), event_type)
    )
    """,
)
def q_events_multi_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate shape: daily, hourly, and
    hourly-per-type rollups of the event stream in ONE pass via
    GROUPING SETS — the single-scan multi-resolution materialization a
    time-series store keeps incrementally. At 100 TB this beats three
    separate aggregations: one shuffle keyed on the finest grouping,
    coarser levels folded from the same exchange. NULL level columns
    are normalized through GROUPING() so rollup rows hash identically
    across engines."""
    ev = table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    hour = F.date_trunc("hour", F.col("ts"))
    df = ev.select(day.alias("day"), hour.alias("hour"), "event_type", "value")
    # GROUPING SETS is SQL-only surface in Spark; run it through the
    # session SQL front-end on a temp view (itself part of the tested
    # surface — see `sessionize_sql`).
    df.createOrReplaceTempView("_ev_rollup_in")
    return spark.sql(
        """
        SELECT day,
               CASE WHEN GROUPING(hour) = 0 THEN hour END AS hour,
               CASE WHEN GROUPING(event_type) = 0 THEN event_type END AS event_type,
               count(*) AS n_events,
               CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) AS sum_value
        FROM _ev_rollup_in
        GROUP BY GROUPING SETS ((day), (day, hour), (day, hour, event_type))
        """
    )


#: Per-class sampling rates in basis points (reproducible downsampling:
#: keep all rare classes, thin the torrent).
SAMPLE_BP = {"click": 2500, "view": 1000, "purchase": 10000, "signup": 10000, "error": 10000}


@query(
    "events_stratified_sample",
    oracle=f"""
    SELECT event_type, count(*) AS n_sampled
    FROM events
    WHERE {sql_hash_u32('CAST(event_id AS VARCHAR)', 'samp_')} % 10000
          < CASE event_type
              WHEN 'click' THEN {SAMPLE_BP["click"]}
              WHEN 'view' THEN {SAMPLE_BP["view"]}
              ELSE 10000 END
    GROUP BY event_type
    """,
)
def q_events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling — the reproducible-downsample
    every training pipeline needs (thin the hot classes, keep the rare
    ones). NOT `sampleBy`: rand(seed) depends on row/partition order,
    so reruns on different partitionings disagree. Hash-gating on a
    salted key (`md5('samp_' || event_id) % 10000 < class_bp`) is
    order-independent, engine-portable, and exactly re-derivable — the
    same row set forever, verified here by exact per-class counts."""
    ev = table(spark, sf_dir, "events")
    h = (
        hash_u32(F.col("event_id").cast("string"), "samp_")
        % 10000
    )
    bp = F.when(F.col("event_type") == "click", SAMPLE_BP["click"]).when(
        F.col("event_type") == "view", SAMPLE_BP["view"]
    ).otherwise(10000)
    return (
        ev.filter(h < bp)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@query(
    "events_gap_fill_locf",
    oracle="""
    SELECT event_id, user_id, ts,
           last_value(CASE WHEN event_type <> 'error' THEN value END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
    FROM events
    """,
)
def q_events_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward gap repair: readings taken
    during 'error' events are treated as missing and replaced by the
    user's most recent good reading (time-series sensor-repair shape).
    One window per user key — `last(ignorenulls)` over a running frame,
    the same bounded-state plan as the as-of join; rows before any good
    reading stay NULL."""
    ev = table(spark, sf_dir, "events")
    good = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.last(good, ignorenulls=True).over(w).alias("value_filled"),
    )


@query(
    "window_trailing_1h",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW
           ) AS DECIMAL(30,6)) AS VARCHAR) AS trail_1h_sum
    FROM events
    """,
)
def q_window_trailing_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based sliding aggregate via a RANGE window frame: per
    event, the exact decimal sum of the same user's values in the
    trailing hour (inclusive). RANGE frames treat equal timestamps as
    peers on both engines, so the result is order-insensitive even
    under ts collisions — no tiebreaker column needed.

    Plan: one window partitioned by user_id ordered by event time with
    a value-bounded frame — WindowExec keeps only the trailing-hour
    buffer per key (bounded state), the streaming-compatible shape.
    The decimal result is surfaced as a pinned-scale string (driver
    hash canonicalization, VERDICT r1 #1)."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("decimal(30,6)")
        .cast("string")
        .alias("trail_1h_sum"),
    )


#: Anomaly gate: trailing window length (hours) and minimum history.
ANOM_WIN, ANOM_MIN_N = 24, 8


@query(
    "events_hourly_anomaly",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type, h, cnt,
             CAST(count(*) OVER w AS BIGINT) AS n,
             CAST(coalesce(sum(cnt) OVER w, 0) AS BIGINT) AS s1,
             CAST(coalesce(sum(cnt * cnt) OVER w, 0) AS BIGINT) AS s2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {ANOM_WIN} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, h, cnt, n, s1, s2
    FROM s
    WHERE n >= {ANOM_MIN_N}
      -- widen BEFORE multiplying: dev^2 overflows BIGINT once hourly
      -- counts reach ~1e9 (100 TB territory)
      AND (CAST(n AS HUGEINT) * cnt - s1) * (CAST(n AS HUGEINT) * cnt - s1)
          > 9 * (CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
    """,
)
def q_events_hourly_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-count anomaly detection per event type: flag hours whose
    count deviates more than 3 trailing standard deviations from the
    previous {ANOM_WIN}-hour mean — computed ENTIRELY in integers via
    the cross-multiplied form (n·x − s1)² > 9(n·s2 − s1²), so no
    float mean/stddev ever exists and the oracle is exact (a float
    z-score would drift between engines).

    Plan: one hash aggregate to hourly grain (map-side partials), one
    bounded ROWS window per event_type over the tiny hourly relation —
    the raw events are never windowed."""
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-ANOM_WIN, -1)
    )
    s = hourly.select(
        "event_type",
        "h",
        "cnt",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).cast("long").alias("s1"),
        F.coalesce(F.sum(F.col("cnt") * F.col("cnt")).over(w), F.lit(0))
        .cast("long")
        .alias("s2"),
    )
    # Widen the OPERANDS before multiplying: dev^2 in 64-bit wraps
    # silently in Spark (DuckDB BIGINT raises) once hourly counts reach
    # ~1e9; the whole gate is evaluated in DECIMAL(38,0)/HUGEINT.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    dev = dec(F.col("n")) * dec(F.col("cnt")) - dec(F.col("s1"))
    var_n = dec(F.col("n")) * dec(F.col("s2")) - dec(F.col("s1")) * dec(F.col("s1"))
    return s.filter(
        (F.col("n") >= ANOM_MIN_N) & (dev * dev > F.lit(9).cast("decimal(38,0)") * var_n)
    )


@query(
    "cumulative_new_users",
    oracle="""
    WITH first_day AS (
      SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS d0
      FROM events GROUP BY user_id
    ), per_day AS (
      SELECT d0 AS day, CAST(count(*) AS BIGINT) AS n_new
      FROM first_day GROUP BY d0
    )
    SELECT day, n_new,
           CAST(sum(n_new) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_users
    FROM per_day
    """,
)
def q_cumulative_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-acquisition curve: per day, first-seen user count and the
    running cumulative total — the growth chart every event pipeline
    publishes. The running total uses the distributed `global_cumsum`
    prefix sum (`operators/partitioning.py`) over the aggregated day
    grain: tiny here, but the identical plan holds when the grain is
    (day × country × app) and the aggregate relation is itself large.

    Plan: per-user min (hash aggregate) → per-day count → distributed
    prefix sum (range shuffle + broadcast offsets; no unpartitioned
    window anywhere)."""
    from distributed_mapreduce_spark.operators.partitioning import global_cumsum

    ev = table(spark, sf_dir, "events")
    first_day = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0")
    )
    per_day = first_day.groupBy(F.col("d0").alias("day")).agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return global_cumsum(
        per_day, [F.col("day")], "n_new", cumsum_col="cum_users"
    ).select("day", "n_new", F.col("cum_users").cast("long"))


@query(
    "latest_event_per_user_agg",
    oracle="""
    SELECT user_id, event_id, ts, event_type FROM (
      SELECT user_id, event_id, ts, event_type,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_latest_event_per_user_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest-per-key WITHOUT a window, as pure HASH aggregates
    (r13, VERDICT r12 #5: the previous grouped ``max(struct)`` fell
    back to SortAggregate — a per-task sort of EVERY event row, the
    exact cost the aggregate strategy exists to avoid).

    The (ts, event_id) ordering is packed into one fixed-width
    DECIMAL(38,0): ``unix_micros(ts) * 10^11 + event_id`` — numeric
    order on the packed value IS lexicographic (ts, event_id) order
    because 0 <= event_id < 10^11 (sequential ids; the bound holds
    through 10^11 events) and ts is a positive epoch. A fixed-width
    buffer makes ``max`` hash-aggregatable, so the plan is:

      1. HashAggregate keyed (user_id, event_type): max(packed) — the
         map-side partial collapses each task to one row per (key,
         type) before the shuffle;
      2. a per-user window max over that |users x event_types|
         reduced relation (bounded: <= |event_types| rows per user)
         picks the winning type, then the packed value unpacks back to
         (ts, event_id) exactly (integer decimal arithmetic).

    Same answer as `latest_event_per_user` (identical oracle): packed
    order is a total order (event_id unique), so exactly one row per
    user survives the filter. SortAggregate count in the plan: 0
    (before: 2, one per partial/final — see plans/r13/)."""
    ev = table(spark, sf_dir, "events")
    packed = F.expr("CAST(unix_micros(ts) AS DECIMAL(38,0)) * 100000000000 + event_id")
    # Loud data contract: outside these bounds the packed order is no
    # longer (ts, event_id) order, so a violating row fails the query
    # instead of returning a wrong row. Evaluated inside the aggregate's
    # projection — no extra job. A null passes through as before.
    out_of_range = F.expr(
        "event_id < 0 OR event_id >= 100000000000 OR unix_micros(ts) < 0"
    )
    packed = F.when(
        out_of_range,
        F.raise_error(
            F.lit(
                "latest_event_per_user_agg: packing contract violated "
                "(needs 0 <= event_id < 10^11 and ts >= 1970-01-01)"
            )
        ),
    ).otherwise(packed)
    agg1 = ev.groupBy("user_id", "event_type").agg(F.max(packed).alias("p"))
    win = Window.partitionBy("user_id")
    best = agg1.withColumn("mp", F.max("p").over(win)).filter(
        F.col("p") == F.col("mp")
    )
    eid = F.expr("CAST(p % 100000000000 AS BIGINT)")
    ts_us = F.expr("CAST((p - (p % 100000000000)) / 100000000000 AS BIGINT)")
    return best.select(
        "user_id",
        eid.alias("event_id"),
        F.timestamp_micros(ts_us).alias("ts"),
        "event_type",
    )


@query(
    "events_daily_trend",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             CAST(date_diff('day', TIMESTAMP '1970-01-01',
                            date_trunc('day', ts)) AS BIGINT) AS x,
             CAST(count(*) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ), s AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(y) AS BIGINT) AS sy,
             CAST(sum(x * y) AS BIGINT) AS sxy,
             CAST(sum(x * x) AS BIGINT) AS sxx
      FROM daily GROUP BY event_type
    )
    , w AS (
      -- widen BEFORE multiplying: BIGINT n*sxy would raise in DuckDB
      -- (silently wrap in 64-bit engines) once daily sums are large
      SELECT event_type, n,
             CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy AS num,
             CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx AS den
      FROM s
    )
    SELECT event_type, n,
           CAST(num AS BIGINT) AS slope_num,
           CAST(den AS BIGINT) AS slope_den,
           CASE WHEN den = 0 THEN 'flat'
                WHEN num > 0 THEN 'up'
                WHEN num < 0 THEN 'down'
                ELSE 'flat' END AS direction
    FROM w
    """,
)
def q_events_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-drift detection per event type: the least-squares slope
    of daily counts over epoch-day index, surfaced as the EXACT
    integer fraction (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) plus its sign —
    no float regression, so the oracle matches bit-for-bit and the
    consumer divides (or compares against a threshold fraction) at
    whatever precision it wants.

    Plan: day-grain hash aggregate, then one tiny per-type roll-up of
    the five sufficient statistics — sufficient-statistics regression
    is a pure map-side-combinable aggregate at any scale."""
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_date(F.date_trunc("day", F.col("ts")).cast("date"))).cast("long").alias("x"),
    ).agg(F.count(F.lit(1)).alias("y"))
    s = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    # Widen the OPERANDS before multiplying (64-bit n*sxy wraps
    # silently in Spark, raises in DuckDB); only the published
    # slope_num/slope_den narrow back to BIGINT at the end.
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    num = dec(F.col("n")) * dec(F.col("sxy")) - dec(F.col("sx")) * dec(F.col("sy"))
    den = dec(F.col("n")) * dec(F.col("sxx")) - dec(F.col("sx")) * dec(F.col("sx"))
    return s.select(
        "event_type",
        "n",
        num.cast("long").alias("slope_num"),
        den.cast("long").alias("slope_den"),
        F.when(den == 0, "flat")
        .when(num > 0, "up")
        .when(num < 0, "down")
        .otherwise("flat")
        .alias("direction"),
    )


@query(
    "daily_spine_zero_fill",
    oracle="""
    WITH bounds AS (
      SELECT date_trunc('day', min(ts)) AS d0, date_trunc('day', max(ts)) AS d1
      FROM events
    ), spine AS (
      SELECT CAST(d AS TIMESTAMP) AS day
      FROM bounds, unnest(generate_series(bounds.d0, bounds.d1,
                                          INTERVAL 1 DAY)) AS g(d)
    ), daily AS (
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    )
    SELECT spine.day, coalesce(daily.n_events, 0) AS n_events,
           daily.n_events IS NULL AS was_gap
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
)
def q_daily_spine_zero_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense calendar spine with zero-fill: generate every day between
    the corpus's min and max timestamp and left-join the daily counts,
    flagging gap days — the other gap treatment next to
    `events_gap_fill_locf` (dashboards and trend models need dense
    series; a missing day must read as 0, not as absent).

    Plan: the spine comes from one 2-value aggregate exploded through
    `sequence()` (rows = days, never data-sized); the join is
    broadcast-left against the aggregated daily relation."""
    ev = table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.date_trunc("day", F.min("ts")).alias("d0"),
        F.date_trunc("day", F.max("ts")).alias("d1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("d0"), F.col("d1"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    daily = ev.groupBy(F.date_trunc("day", F.col("ts")).alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return spine.join(daily, "day", "left").select(
        "day",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        F.col("n_events").isNull().alias("was_gap"),
    )


_DAU_WAU_MAU_SQL = """
    SELECT CASE WHEN GROUPING(date_trunc('day', ts)) = 0 THEN 'day'
                WHEN GROUPING(date_trunc('week', ts)) = 0 THEN 'week'
                ELSE 'month' END AS grain,
           CAST(coalesce(date_trunc('day', ts), date_trunc('week', ts),
                         date_trunc('month', ts)) AS TIMESTAMP) AS bucket,
           CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
    FROM events
    GROUP BY GROUPING SETS (
      (date_trunc('day', ts)),
      (date_trunc('week', ts)),
      (date_trunc('month', ts))
    )
"""


@query("dau_wau_mau", oracle=_DAU_WAU_MAU_SQL)
def q_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU in ONE pass: distinct active users at day, week and
    month grain via GROUPING SETS — the engagement triple every
    product dashboard tracks, without three separate scans (Expand
    replicates each row once per grain; the distinct then
    de-duplicates per (grain, bucket, user) with map-side partials
    before the final count).

    The IDENTICAL SQL text runs on Spark and DuckDB (the verbatim-SQL
    certification pattern of `sessionize_sql` — GROUPING SETS,
    GROUPING() and date_trunc share semantics across both dialects),
    so this also differentially tests Spark's SQL front-end."""
    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_DAU_WAU_MAU_SQL)


@query(
    "export_manifest",
    oracle="""
    SELECT event_type AS partition_key,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(('0x' || substr(md5(
               CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR) || '|' ||
               CAST(epoch_us(ts) AS VARCHAR)
           ), 1, 8))::BIGINT) AS BIGINT) AS checksum
    FROM events GROUP BY event_type
    """,
)
def q_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-partition export manifest: row count + order-independent
    content checksum for every output partition — the handoff artifact
    a pipeline publishes next to its files so the consumer can verify
    each partition independently (the per-group form of
    `table_checksum`'s whole-table digest). Commutative md5-derived
    uint32 sum: identical on any engine, partitioning or row order."""
    ev = table(spark, sf_dir, "events")
    enc = F.concat_ws(
        "|",
        F.col("event_id").cast("string"),
        F.col("user_id").cast("string"),
        F.unix_micros(F.col("ts")).cast("string"),
    )
    h = hash_u32(enc)
    return ev.groupBy(F.col("event_type").alias("partition_key")).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(h).cast("long").alias("checksum"),
    )


@query(
    "events_ewma_trailing",
    oracle="""
    WITH fr AS (
      SELECT event_id, user_id,
             list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
               AS vals
      FROM events
    )
    SELECT event_id, user_id,
           CAST(floor(
             list_reduce(
               list_transform(generate_series(1, len(vals)),
                 i -> vals[i] * CAST(1 << (7 - (len(vals) - i)) AS DOUBLE)),
               (x, y) -> x + y)
             * 1000000 / (256 - (1 << (8 - len(vals))))
           ) AS BIGINT) AS ewma_micro
    FROM fr
    """,
)
def q_events_ewma_trailing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event exponentially weighted moving average (alpha = 1/2)
    of `value` over each user's trailing 8 events — the smoothed
    time-series signal behind rate anomaly detection, computed EXACTLY
    across engines.

    Exactness contract: the decay weights are powers of two, so each
    `value * 2^(7-lag)` is a pure IEEE exponent shift (no rounding);
    the fold runs over the identical frame-ordered sequence in both
    engines ((ts, event_id) is a total order), and the final
    scale-and-divide is one multiply + one divide before the floor —
    bit-identical, no float-drift caveats at any scale.

    Plan: one bounded-frame window per user (8-row state, streaming
    frame — no per-user materialization) + a within-row fold; shuffle
    is the single hash partition on user_id.

    NULL caveat: Spark's collect_list drops NULLs while DuckDB's
    list() keeps them; `value` is non-null in this data (asserted by
    dq_checks) — a nullable source would need an explicit IS NOT NULL
    gate on both sides before the frame.
    """
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-7, Window.currentRow)
    )
    return (
        ev.withColumn("vals", F.collect_list("value").over(w))
        .select(
            "event_id",
            "user_id",
            F.expr(
                "cast(floor("
                " aggregate(transform(sequence(1, size(vals)),"
                "   i -> vals[i-1] * cast(shiftleft(1, 7 - (size(vals) - i))"
                "        as double)),"
                "   cast(0.0 as double), (x, y) -> x + y)"
                " * 1000000 / (256 - shiftleft(1, 8 - size(vals)))"
                ") as bigint)"
            ).alias("ewma_micro"),
        )
    )


@query(
    "events_time_weighted_value",
    oracle="""
    WITH held AS (
      SELECT event_type,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v6,
             epoch_us(lead(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS w_micros
      FROM events
    )
    SELECT event_type,
           count(*) AS n_weighted,
           CAST(sum(w_micros) AS BIGINT) AS sum_w_micros,
           CAST(CASE WHEN sum(w_micros) = 0 THEN 0
                ELSE sum(CAST(v6 AS HUGEINT) * w_micros) // sum(w_micros)
                END AS BIGINT) AS twap_value_e6
    FROM held
    WHERE w_micros IS NOT NULL
    GROUP BY event_type
    """,
)
def q_events_time_weighted_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average of the value each user "holds" between
    events (TWAP): each event's value is weighted by the microseconds
    until that user's next event (last event per user carries no
    weight). Complements `events_ewma_trailing` (exponential decay)
    with the exact integral form a metering / billing pipeline uses.

    Exactness: value enters as DECIMAL(18,6) scaled to integer
    micro-units (the double->decimal cast both engines share), weights
    are integer microseconds from unix_micros, and the quotient is a
    DECIMAL(38,0)/HUGEINT floor division — no float accumulation
    anywhere, per the wide-arithmetic policy.

    Plan: one lead() window partitioned by user_id (bounded per-key
    state), then a hash aggregate on the small event_type domain with
    map-side partials."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    held = ev.select(
        "event_type",
        (F.col("value").cast("decimal(18,6)") * 1000000)
        .cast("long")
        .alias("v6"),
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("w_micros"),
    ).where(F.col("w_micros").isNotNull())
    agg = held.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_weighted"),
        F.sum("w_micros").cast("long").alias("sum_w_micros"),
        F.sum(F.col("v6").cast("decimal(38,0)") * F.col("w_micros")).alias(
            "_vw"
        ),
    )
    return agg.select(
        "event_type",
        "n_weighted",
        "sum_w_micros",
        F.when(F.col("sum_w_micros") == 0, F.lit(0))
        .otherwise(F.expr("CAST(_vw DIV sum_w_micros AS BIGINT)"))
        .cast("long")
        .alias("twap_value_e6"),
    )


#: Interpolation grid step: one hour in microseconds.
INTERP_HOUR_US = 3_600_000_000


@query(
    "events_gap_fill_interpolate",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             epoch_us(ts) AS us,
             CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS v_e6,
             lead(epoch_us(ts)) OVER w AS nxt_us,
             lead(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
               OVER w AS nxt_v_e6
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), gaps AS (
      SELECT *, us // {INTERP_HOUR_US} + 1 AS h0,
             (nxt_us - 1) // {INTERP_HOUR_US} AS h1
      FROM pts WHERE nxt_us IS NOT NULL AND nxt_us > us
    ), grid AS (
      SELECT user_id, us, v_e6, nxt_us, nxt_v_e6,
             h * {INTERP_HOUR_US} AS g_us
      FROM gaps, unnest(generate_series(h0, h1)) AS t(h)
      WHERE h0 <= h1
    )
    SELECT user_id, make_timestamp(g_us) AS ts,
           CAST((CAST(v_e6 AS HUGEINT) * (nxt_us - g_us)
                 + CAST(nxt_v_e6 AS HUGEINT) * (g_us - us))
                // (nxt_us - us) AS BIGINT) AS value_e6
    FROM grid
    """,
)
def q_events_gap_fill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation resampling: project every user's irregular
    event series onto the hourly grid, filling each grid instant
    strictly inside a gap with the time-weighted blend of the two
    surrounding readings — the interpolating complement of
    `events_gap_fill_locf` (step-function fill) for trend models that
    must not see staircase artifacts.

    Exactness: value in fixed micro-units via the DECIMAL(18,6) cast;
    the blend (v₀·(t₁−g) + v₁·(g−t₀)) ⫽ (t₁−t₀) is integer arithmetic
    widened to DECIMAL(38,0)/HUGEINT (day-long gaps × µs weights
    overflow BIGINT).

    Plan: one lead() window per user key, then a per-row sequence()
    explode — grid rows are generated exactly where they land, no
    spine join, no shuffle beyond the user window. Output is bounded
    by users × span-hours, independent of event density."""
    ev = table(spark, sf_dir, "events")
    # Input-scaled width for the per-user window exchange (x1000 slope
    # was 1.04 at the 32-part default, SCALING_r08 — 100M events sort
    # per 32 tasks spills): hash by user_id, which satisfies the
    # window's clustering requirement, so this wide exchange REPLACES
    # the window's default-width one. No-op below the default width.
    n_wide = wide_shuffle_parts(spark, sf_dir, table_name="events")
    if n_wide:
        ev = ev.repartition(n_wide, "user_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    v_e6 = F.expr("CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)")
    pts = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.unix_micros("ts").alias("us"),
            v_e6.alias("v_e6"),
        )
        .select(
            "user_id",
            "us",
            "v_e6",
            F.lead("us").over(w).alias("nxt_us"),
            F.lead("v_e6").over(w).alias("nxt_v_e6"),
        )
    )
    gaps = (
        pts.filter(F.col("nxt_us").isNotNull() & (F.col("nxt_us") > F.col("us")))
        .withColumn("h0", F.expr(f"us div {INTERP_HOUR_US} + 1"))
        .withColumn("h1", F.expr(f"(nxt_us - 1) div {INTERP_HOUR_US}"))
        .filter(F.col("h0") <= F.col("h1"))
    )
    grid = gaps.select(
        "user_id",
        "us",
        "v_e6",
        "nxt_us",
        "nxt_v_e6",
        F.explode(F.sequence("h0", "h1")).alias("h"),
    ).withColumn("g_us", F.col("h") * INTERP_HOUR_US)
    return grid.select(
        "user_id",
        F.timestamp_micros("g_us").alias("ts"),
        F.expr(
            "CAST((CAST(v_e6 AS DECIMAL(38,0)) * (nxt_us - g_us)"
            "      + CAST(nxt_v_e6 AS DECIMAL(38,0)) * (g_us - us))"
            " DIV (nxt_us - us) AS BIGINT)"
        ).alias("value_e6"),
    )


# ---------------------------------------------------------------------------
# Multiwindow multi-burn-rate SLO alerts (the SRE alerting classic).

#: SLO error budget: 5% error ratio (500 bp). Burn rate = observed
#: error ratio / budget, in exact basis points of budget (10000 bp =
#: burning exactly at budget). Alert fires when BOTH the short and the
#: long trailing window burn faster than the threshold — the
#: two-window form that suppresses blips (short-only) and stale pages
#: (long-only).
SLO_BUDGET_BP = 500
SLO_SHORT_H = 1
SLO_LONG_H = 6
SLO_BURN_X10 = 20  # threshold: 2.0x budget, in tenths


@query(
    "events_slo_burn_alerts",
    oracle=f"""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS h,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs
      FROM events GROUP BY 1
    ),
    win AS (
      SELECT h, n, errs,
             sum(n) OVER (ORDER BY h ROWS BETWEEN {SLO_SHORT_H - 1} PRECEDING
                          AND CURRENT ROW) AS n_s,
             sum(errs) OVER (ORDER BY h ROWS BETWEEN {SLO_SHORT_H - 1} PRECEDING
                             AND CURRENT ROW) AS e_s,
             sum(n) OVER (ORDER BY h ROWS BETWEEN {SLO_LONG_H - 1} PRECEDING
                          AND CURRENT ROW) AS n_l,
             sum(errs) OVER (ORDER BY h ROWS BETWEEN {SLO_LONG_H - 1} PRECEDING
                             AND CURRENT ROW) AS e_l
      FROM hourly
    )
    SELECT h, n, errs,
           CAST(e_s * 100000 // (n_s * {SLO_BUDGET_BP}) AS BIGINT) AS burn_short_x10,
           CAST(e_l * 100000 // (n_l * {SLO_BUDGET_BP}) AS BIGINT) AS burn_long_x10,
           (e_s * 100000 // (n_s * {SLO_BUDGET_BP}) >= {SLO_BURN_X10}
            AND e_l * 100000 // (n_l * {SLO_BUDGET_BP}) >= {SLO_BURN_X10}) AS alert
    FROM win
    """,
)
def q_events_slo_burn_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiwindow multi-burn-rate SLO alerting (the SRE workbook
    pattern): hourly error ratios against a {SLO_BUDGET_BP}-bp budget,
    burn rate over a {SLO_SHORT_H}h short and {SLO_LONG_H}h long
    trailing window in exact tenths-of-budget (e*1e5 DIV (n*budget)),
    alert = BOTH windows burning >= {SLO_BURN_X10 / 10}x budget —
    the AND is what kills blip pages (short-only spikes) and stale
    pages (long-only tails).

    Plan: one hourly hash-agg of the scan, then trailing-ROWS window
    sums over the BOUNDED hourly relation (one row per hour of the
    observation range — the input-bounded window class, same as the
    anomaly/seasonality family); per-row integer arithmetic after.

    Reference parity: alerting extension of the reference's
    grep-count surface (SURVEY.md section 2.4 `agg_global_count` over
    error lines).
    """
    ev = table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("errs"),
    )
    ws = Window.orderBy("h").rowsBetween(-(SLO_SHORT_H - 1), 0)
    wl = Window.orderBy("h").rowsBetween(-(SLO_LONG_H - 1), 0)
    win = hourly.select(
        "h",
        "n",
        "errs",
        F.sum("n").over(ws).alias("n_s"),
        F.sum("errs").over(ws).alias("e_s"),
        F.sum("n").over(wl).alias("n_l"),
        F.sum("errs").over(wl).alias("e_l"),
    )
    burn_s = F.expr(f"CAST(e_s * 100000 DIV (n_s * {SLO_BUDGET_BP}) AS BIGINT)")
    burn_l = F.expr(f"CAST(e_l * 100000 DIV (n_l * {SLO_BUDGET_BP}) AS BIGINT)")
    return win.select(
        "h",
        "n",
        "errs",
        burn_s.alias("burn_short_x10"),
        burn_l.alias("burn_long_x10"),
        ((burn_s >= SLO_BURN_X10) & (burn_l >= SLO_BURN_X10)).alias("alert"),
    )
