"""Semantic tests for the round-4 session-C operators (beyond the
differential harness): null-aware NOT IN three-valued semantics vs
Spark SQL's own NOT IN, streak reconstruction vs a Python brute force,
and the TWAP integral vs a per-user brute force."""

from __future__ import annotations

import datetime as dt
import decimal

from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import tokens
from distributed_mapreduce_spark.workload.events import (
    q_events_time_weighted_value,
)
from distributed_mapreduce_spark.workload.journey import q_user_active_streaks
from distributed_mapreduce_spark.workload.registry import table
from distributed_mapreduce_spark.workload.relational import (
    q_join_not_in_null_aware,
)


def test_not_in_matches_spark_sql_not_in(spark, sf_dir):
    """The decomposed plan must agree with Spark SQL's native NOT IN
    (which plans a NullAwareAntiJoin) on the identical predicate."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("_o")
    table(spark, sf_dir, "customer").createOrReplaceTempView("_c")
    native = {
        (r["o_orderstatus"], r["n_orders"])
        for r in spark.sql(
            """
            SELECT o_orderstatus, count(*) AS n_orders FROM _o
            WHERE nullif(o_custkey, 1) NOT IN
                  (SELECT c_custkey FROM _c WHERE c_mktsegment = 'BUILDING')
            GROUP BY o_orderstatus
            """
        ).collect()
    }
    ours = {
        (r["o_orderstatus"], r["n_orders"])
        for r in q_join_not_in_null_aware(spark, sf_dir).collect()
    }
    assert ours == native


def test_not_in_excludes_nullified_left_keys(spark, sf_dir):
    """Rows whose left key is NULLed (o_custkey = 1) are UNKNOWN under
    NOT IN with a non-empty inner set, so the qualifying total must be
    <= non-BUILDING-customer orders minus the custkey-1 orders. With an
    EMPTY inner set, three-valued logic flips: NOT IN over {} is TRUE
    for every row (including the NULLed ones), so the total must equal
    all orders — both branches of the semantics are encoded here."""
    cust = table(spark, sf_dir, "customer")
    n_building = cust.where(F.col("c_mktsegment") == "BUILDING").count()
    orders = table(spark, sf_dir, "orders")
    n_custkey1 = orders.where(F.col("o_custkey") == 1).count()
    total_ours = sum(
        r["n_orders"] for r in q_join_not_in_null_aware(spark, sf_dir).collect()
    )
    if n_building == 0:
        assert total_ours == orders.count()
    else:
        assert total_ours <= orders.count() - n_custkey1


def test_streaks_match_bruteforce_per_user(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    by_user: dict[int, set[dt.date]] = {}
    for r in ev.select("user_id", F.to_date("ts").alias("d")).collect():
        by_user.setdefault(r["user_id"], set()).add(r["d"])
    got = {r["user_id"]: r for r in q_user_active_streaks(spark, sf_dir).collect()}
    assert set(got) == set(by_user)
    for uid, days in by_user.items():
        ordered = sorted(days)
        runs, cur = [], 1
        for a, b in zip(ordered, ordered[1:]):
            if (b - a).days == 1:
                cur += 1
            else:
                runs.append(cur)
                cur = 1
        runs.append(cur)
        row = got[uid]
        assert row["active_days"] == len(days)
        assert row["n_streaks"] == len(runs)
        assert row["longest_streak"] == max(runs)
        assert row["first_active_day"] == ordered[0]


def test_pmi_lift_matches_bruteforce_for_one_pair(spark, sf_dir):
    from distributed_mapreduce_spark.workload.corpus import (
        q_collocation_pmi_lift,
    )

    docs = table(spark, sf_dir, "documents")
    tok_lists = [
        r["toks"] for r in docs.select(tokens(F.col("text")).alias("toks")).collect()
    ]
    uni: dict[str, int] = {}
    bi: dict[tuple, int] = {}
    for ts in tok_lists:
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
        for a, b in zip(ts, ts[1:]):
            bi[(a, b)] = bi.get((a, b), 0) + 1
    n_uni = sum(uni.values())
    n_bg = sum(bi.values())
    rows = q_collocation_pmi_lift(spark, sf_dir).collect()
    assert rows
    for r in rows[:20]:
        a, b = r["bigram"].split(" ")
        assert r["n_pair"] == bi[(a, b)]
        assert r["n_w1"] == uni[a] and r["n_w2"] == uni[b]
        expect = (bi[(a, b)] * n_uni * n_uni * 10000) // (uni[a] * uni[b] * n_bg)
        assert r["pmi_lift_bp"] == expect


def test_temperature_shares_damp_heads_boost_tails(spark, sf_dir):
    """alpha=0.5 must compress the share distribution: every source
    above the natural mean share is damped (boost < 1x), every source
    far below it is boosted, and temperature shares still sum to ~1."""
    from distributed_mapreduce_spark.workload.corpus import (
        q_mixture_temperature_shares,
    )

    rows = q_mixture_temperature_shares(spark, sf_dir).collect()
    assert rows
    mean_bp = 10000 // len(rows)
    assert abs(sum(r["temp_share_bp"] for r in rows) - 10000) <= len(rows)
    for r in rows:
        if r["raw_share_bp"] >= 2 * mean_bp:
            assert r["boost_x100"] <= 100
        if 0 < r["raw_share_bp"] <= mean_bp // 2:
            assert r["boost_x100"] >= 100
        import math

        assert r["n_tok"] >= 0
        expect_w = math.floor(math.sqrt(r["n_tok"]))
        # reconstruct sqrt weight from the published shares
        # (sqrt_w itself is not a column; check via monotonicity)
        assert expect_w * expect_w <= r["n_tok"]


def test_twap_matches_bruteforce(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", "event_type", "value", F.unix_micros("ts").alias("us"),
        "event_id",
    ).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    sums: dict[str, list[int]] = {}
    for evs in by_user.values():
        evs.sort(key=lambda r: (r["us"], r["event_id"]))
        for a, b in zip(evs, evs[1:]):
            w = b["us"] - a["us"]
            # Mirror the engines' double -> DECIMAL(18,6) cast, which
            # rounds half AWAY FROM ZERO — Python round() is banker's
            # (half-to-even) and would flake on exact .5 micro-units.
            v6 = int(
                decimal.Decimal(a["value"] * 1_000_000).quantize(
                    decimal.Decimal("1"), rounding=decimal.ROUND_HALF_UP
                )
            )
            s = sums.setdefault(a["event_type"], [0, 0, 0])
            s[0] += 1
            s[1] += w
            s[2] += v6 * w
    got = {r["event_type"]: r for r in q_events_time_weighted_value(spark, sf_dir).collect()}
    assert set(got) == set(sums)
    for et, (n, sw, svw) in sums.items():
        row = got[et]
        assert row["n_weighted"] == n
        assert row["sum_w_micros"] == sw
        assert row["twap_value_e6"] == svw // sw
