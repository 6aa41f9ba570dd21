"""Registry-wide smoke: every registered query runs at sf0.001 with a
stable non-empty schema, and every oracle is syntactically runnable by
DuckDB. Full value-level differential checking lives in
tools/check_correctness.py (run per milestone; the driver re-runs it
at sf0.01)."""

from __future__ import annotations

import duckdb
import pytest

from distributed_mapreduce_spark.functions import sql_bp, sql_count_in, sql_tokens
from distributed_mapreduce_spark.workload import ORACLES, QUERIES

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

#: queries whose correct result may be empty on tiny inputs
MAY_BE_EMPTY = {"join_anti", "embedding_near_dup", "fuzzy_match_levenshtein"}


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs_and_schema_stable(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    assert df.columns, f"{name}: no columns"
    n = df.count()
    if name not in MAY_BE_EMPTY:
        assert n > 0, f"{name}: empty result"
    # column names match the oracle's projection
    if name in ORACLES:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        desc = con.execute(ORACLES[name]).description
        assert sorted(d[0] for d in desc) == sorted(df.columns), name


def test_every_query_has_oracle():
    assert set(ORACLES) == set(QUERIES)


def test_corpus_prep_telemetry_matches_oracle_case_sums(spark, sf_dir):
    """observe() per-stage counters must equal DuckDB-side CASE sums
    computed over the same stage predicates (VERDICT r01 #8)."""
    from distributed_mapreduce_spark.workload.registry import table
    from distributed_mapreduce_spark.workload.text import (
        STOPWORDS,
        _sql_scrub,
        build_corpus_prep,
    )

    df, obs = build_corpus_prep(table(spark, sf_dir, "documents"), with_telemetry=True)
    df.count()  # one action drives every Observation
    got_q = obs["quality_gate"].get
    got_d = obs["dedup_gate"].get

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_dir}/documents.parquet')"
    )
    want = con.execute(
        f"""
        WITH scrubbed AS (
          SELECT doc_id, {_sql_scrub('text')} AS text FROM documents
        ), scored AS (
          SELECT doc_id, text, len({sql_tokens('text')}) AS n_tokens,
                 {sql_bp(sql_count_in(sql_tokens('text'), STOPWORDS), f"len({sql_tokens('text')})")} AS stop_bp
          FROM scrubbed
        )
        SELECT count(*) AS rows_in,
               sum(CASE WHEN NOT (n_tokens >= 40 AND stop_bp >= 300) THEN 1 ELSE 0 END) AS dropped_quality,
               sum(CASE WHEN n_tokens >= 40 AND stop_bp >= 300 THEN 1 ELSE 0 END) AS rows_kept,
               (SELECT count(DISTINCT md5(text)) FROM scored
                WHERE n_tokens >= 40 AND stop_bp >= 300) AS rows_unique
        FROM scored
        """
    ).fetchone()
    assert got_q["rows_in"] == want[0]
    assert got_q["dropped_quality"] == want[1]
    assert got_q["rows_kept"] == want[2]
    assert got_d["rows_unique"] == want[3]


def test_hourly_anomaly_flags_are_3sigma(spark, sf_dir):
    """Every flagged hour satisfies the integer 3-sigma inequality and
    carries at least the minimum history."""
    from distributed_mapreduce_spark.workload.events import ANOM_MIN_N

    rows = QUERIES["events_hourly_anomaly"](spark, sf_dir).collect()
    for r in rows:
        assert r.n >= ANOM_MIN_N
        dev = r.n * r.cnt - r.s1
        assert dev * dev > 9 * (r.n * r.s2 - r.s1 * r.s1)


def test_readme_query_tally_matches_registry():
    """Doc-drift gate (VERDICT r03 #8): every 'NNN named queries' claim
    in README.md must equal the live registry size, and every query
    must carry a DuckDB oracle (the '/NNN, no rows-only entries'
    claim)."""
    import re
    from pathlib import Path

    from distributed_mapreduce_spark.workload import ORACLES, QUERIES

    readme = Path(__file__).resolve().parent.parent / "README.md"
    claims = [int(m) for m in re.findall(r"(\d+) named queries", readme.read_text())]
    assert claims, "README no longer states the query tally"
    assert all(c == len(QUERIES) for c in claims), (claims, len(QUERIES))
    assert set(ORACLES) == set(QUERIES)


def test_compaction_plan_group_sizes_bounded(spark, sf_dir):
    """Semantic invariant behind the oracle equality: every planned
    output file's total row count stays under target + one input file
    (the start-offset grouping rule's worst case), and groups cover
    all buckets contiguously."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload import QUERIES
    from distributed_mapreduce_spark.workload.versioning import (
        COMPACT_TARGET_ROWS,
    )

    rows = QUERIES["compaction_plan"](spark, sf_dir).collect()
    groups = defaultdict(list)
    for r in rows:
        groups[r["file_group"]].append(r)
    max_bucket = max(r["n_rows"] for r in rows)
    for g, members in groups.items():
        assert sum(r["n_rows"] for r in members) < COMPACT_TARGET_ROWS + max_bucket
    # contiguity: buckets in a group form one run in bucket order
    ordered = sorted(rows, key=lambda r: r["bucket"])
    seen_groups = [r["file_group"] for r in ordered]
    assert seen_groups == sorted(seen_groups)


def test_driver_contract_location_independent(tmp_path):
    """Regression lock for the addPyFile hardening: a DEFAULT
    SparkSession launched from a foreign cwd must still run a
    Python-boundary (mapInPandas) query — without shipping the package
    to workers this dies with ModuleNotFoundError in the Arrow worker,
    which is exactly how a grading harness run outside the repo would
    see it."""
    import subprocess
    import sys

    script = (
        "import sys; sys.path.insert(0, '/root/repo')\n"
        "from pyspark.sql import SparkSession\n"
        "spark = (SparkSession.builder.master('local[4]')\n"
        "         .appName('loc_indep').getOrCreate())\n"
        "import __spark_entry__ as E\n"
        "n = E.queries()['multimodal_features'](spark, '/root/testdata/sf0.001').count()\n"
        "assert n == 500, n\n"
        "print('LOC_INDEP_OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path),
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "LOC_INDEP_OK" in out.stdout, out.stderr[-2000:]


def test_latest_event_per_user_agg_packing_contract_is_loud(spark, sf_dir, tmp_path):
    """The (ts, event_id) DECIMAL packing only orders correctly for
    0 <= event_id < 10^11 and ts >= 1970: in-range data matches the
    oracle, and a single row outside either bound fails the query."""
    import datetime

    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.workload.events import (
        q_latest_event_per_user_agg,
    )

    got = sorted(
        tuple(r)
        for r in q_latest_event_per_user_agg(spark, sf_dir)
        .select("user_id", "event_id", F.unix_micros("ts"), "event_type")
        .collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{sf_dir}/events.parquet')"
    )
    want = sorted(
        con.execute(
            f"SELECT user_id, event_id, epoch_us(ts), event_type "
            f"FROM ({ORACLES['latest_event_per_user_agg']})"
        ).fetchall()
    )
    assert got and got == want

    ok_ts = datetime.datetime(2024, 1, 1)
    for i, (event_id, ts) in enumerate(
        [(10**11, ok_ts), (7, datetime.datetime(1960, 1, 1))]
    ):
        bad_dir = tmp_path / f"bad{i}"
        spark.createDataFrame(
            [(1, ok_ts, 1, "view"), (event_id, ts, 2, "click")],
            "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING",
        ).write.parquet(str(bad_dir / "events.parquet"))
        with pytest.raises(Exception, match="packing contract violated"):
            q_latest_event_per_user_agg(spark, str(bad_dir)).collect()
