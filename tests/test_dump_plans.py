"""`tools/dump_plans.normalize`: the counters and temp-dir suffixes a run
cannot fix are stripped, and nothing else is (no Spark needed)."""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from dump_plans import normalize  # noqa: E402

TMP = tempfile.gettempdir()


def test_normalize_strips_session_counters():
    lines = {
        "Output [2]: [o_orderkey#12L, cnt#345L]": "Output [2]: [o_orderkeyL, cntL]",
        "Arguments: hashpartitioning(k#7, 8), ENSURE_REQUIREMENTS, [plan_id=45]":
            "Arguments: hashpartitioning(k, 8), ENSURE_REQUIREMENTS, [plan_id=]",
        "Scan ExistingRDD MapPartitionsRDD[67] at localCheckpoint":
            "Scan ExistingRDD MapPartitionsRDD[] at localCheckpoint",
        "filter(split(text#3,  , -1), lambdafunction(NOT (lambda x_89 = ), lambda x_89, false))":
            "filter(split(text,  , -1), lambdafunction(NOT (lambda x = ), lambda x, false))",
        "transform(v, lambdafunction((lambda x_812L * lambda y_813L), lambda y_813L, false))":
            "transform(v, lambdafunction((lambda xL * lambda yL), lambda yL, false))",
    }
    for raw, want in lines.items():
        assert normalize(raw) == want


def test_normalize_strips_mkdtemp_suffixes():
    bucketed = f"Location: InMemoryFileIndex [file:{TMP}/bucketed_q_k3j9_2ab/orders]"
    landing = f"Location: InMemoryFileIndex [file:{TMP}/spark_graft_stream_landing_result_a1b2c3d4]"
    assert normalize(bucketed) == f"Location: InMemoryFileIndex [file:{TMP}/bucketed_q_/orders]"
    assert normalize(landing) == (
        f"Location: InMemoryFileIndex [file:{TMP}/spark_graft_stream_landing_result_]"
    )


def test_normalize_keeps_stable_paths_and_values():
    stable = [
        "Location: InMemoryFileIndex [file:/data/sf0.01/lineitem.parquet]",
        f"Location: InMemoryFileIndex [file:{TMP}/warehouse/l_shipdate=1998-01-01]",
        "Condition : (isnotnull(l_shipdate) AND (l_quantity < 24.00))",
        "(3) HashAggregate [codegen id : 2]",
    ]
    for line in stable:
        assert normalize(line) == line
