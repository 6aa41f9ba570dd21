"""Driver bench-artifact contract: the final stdout line of bench.py
must fit the driver's 2000-char tail window or BENCH_r{N}.json records
`parsed: null` (rounds 4-8 did). `compact_line` is the guarantee."""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def _fake_out(n_queries: int) -> dict:
    qs = {
        f"some_rather_long_query_name_{i:03d}": round(0.1 * (i + 1), 3)
        for i in range(n_queries)
    }
    return {
        "metric": "headline_queries_total",
        "value": round(sum(qs.values()), 3),
        "unit": "sec",
        "queries": qs,
        "sf": 0.1,
        "trials": 3,
        "idle_gate_met": True,
        "vs_duckdb": {
            "aggregate_ratio": 0.5,
            "median_ratio_heavy": 0.25,
            "n_heavy": 17,
            "n_spark_faster_heavy": 15,
            "per_query": {},
        },
    }


def test_compact_line_fits_tail_window():
    for n in (5, 50, 69, 200):
        c = bench.compact_line(_fake_out(n), "BENCH_SELF_rXX.json")
        s = json.dumps(c)
        assert len(s) <= 2000, (n, len(s))
        assert json.loads(s) == c


def test_compact_line_keeps_contract_fields_and_heaviest():
    out = _fake_out(200)
    c = bench.compact_line(out, "BENCH_SELF_rXX.json")
    for k in ("metric", "value", "unit", "queries", "sf"):
        assert k in c
    assert c["value"] == out["value"]  # total over ALL queries, not kept
    assert c["n_queries"] == 200
    assert c["queries_omitted"] == 200 - len(c["queries"])
    # heaviest-first retention: every kept query costs >= every dropped one
    kept = set(c["queries"])
    dropped_max = max(
        (v for k, v in out["queries"].items() if k not in kept), default=0.0
    )
    assert min(c["queries"].values()) >= dropped_max
    assert c["vs_duckdb_aggregate_ratio"] == 0.5


def test_compact_line_small_registry_keeps_everything():
    c = bench.compact_line(_fake_out(5), "BENCH_SELF_rXX.json")
    assert c["queries_omitted"] == 0
    assert len(c["queries"]) == 5


def test_anchor_totals_compare_one_query_set():
    # A 0.0 or null anchor entry must drop out of BOTH totals: before,
    # the Spark sum skipped falsy entries while the DuckDB sum kept
    # them, and a null raised in the sum.
    times = {"a": 2.0, "b": 3.0, "zero": 5.0, "null": 7.0, "unanchored": 11.0}
    anchor = {"a": 1.0, "b": 4.0, "zero": 0.0, "null": None, "not_timed": 9.0}
    got = bench.anchor_totals(times, anchor)
    assert got == {
        "n_compared": 2,
        "total_spark_sec": 5.0,
        "total_duckdb_sec": 5.0,
        "aggregate_ratio": 1.0,
    }
    assert bench.anchor_totals(times, {})["aggregate_ratio"] is None


def test_qtime_bare_trials_is_a_usage_error():
    import subprocess

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(root, "tools", "qtime.py"), "--trials"],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode != 0
    assert "requires a value" in proc.stderr
    assert "Traceback" not in proc.stderr
