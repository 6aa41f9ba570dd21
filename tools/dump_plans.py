"""Dump each query's `.explain("formatted")` physical plan and its
oracle SQL to a directory.

Usage: python tools/dump_plans.py <out_dir> [query ...]

Writes <out_dir>/<query>.txt for each named query (default: every
registered query, in registration order): the normalized plan, then the
query's DuckDB oracle SQL verbatim, so one `diff -r` proves both plan
and oracle identity. Session-global counters are stripped: expression
IDs (`#123`), exchange plan ids (`plan_id=45`), RDD ids
(`MapPartitionsRDD[67]`), lambda-variable suffixes (`lambda x_89`) and
the random suffix `tempfile.mkdtemp` appends to a prefix
(`/tmp/bucketed_q_k3j9x2ab/`). Two dumps of the same code then diff
cleanly and two dumps taken at different commits differ only where a
plan or an oracle changed, up to what a run cannot fix: the order in
which AQE numbers query stages it materialized at build time.

    python tools/dump_plans.py /tmp/plans_a     # at commit A
    python tools/dump_plans.py /tmp/plans_b     # at commit B
    diff -r /tmp/plans_a /tmp/plans_b

The data directory is `SPARK_GRAFT_SF_DIR` (required; the harness tables
of TESTDATA.md, e.g. its sf0.01 directory). The cache is cleared between
queries, so a builder's persist never leaks into the next query's plan.
"""

from __future__ import annotations

import os
import re
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_COUNTERS = re.compile(r"#\d+|(?<=plan_id=)\d+|(?<=RDD\[)\d+(?=\])")
#: `lambda x_89` or, with a BIGINT type suffix, `lambda x_89L`.
_LAMBDA_VAR = re.compile(r"(lambda \w+?)_\d+(?=L?\b)")
#: `tempfile.mkdtemp(prefix=p)` names a directory `p` + 8 characters
#: from [a-z0-9_] under the temp root; the prefixes in use end in `_`.
_MKDTEMP = re.compile(
    "(" + re.escape(tempfile.gettempdir()) + r"/[\w.-]*?_)[a-z0-9_]{8}(?![\w.-])"
)


def normalize(plan: str) -> str:
    """The plan text with session-global counters and temp-dir suffixes
    stripped."""
    return _MKDTEMP.sub(r"\1", _LAMBDA_VAR.sub(r"\1", _COUNTERS.sub("", plan)))


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1].startswith("-"):
        print(__doc__.strip().splitlines()[3], file=sys.stderr)
        return 2
    out_dir, only = sys.argv[1], sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        print("set SPARK_GRAFT_SF_DIR to the data directory", file=sys.stderr)
        return 2

    from distributed_mapreduce_spark.plans import explain_str
    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import ORACLES, QUERIES

    unknown = [n for n in only if n not in QUERIES]
    if unknown:
        print(f"unknown queries: {' '.join(unknown)}", file=sys.stderr)
        return 2
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark("dump_plans", cpus=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    for name in only or list(QUERIES):
        try:
            plan = explain_str(QUERIES[name](spark, sf_dir))
        except Exception as e:
            plan = f"unplannable: {type(e).__name__}: {e}"
        spark.catalog.clearCache()
        path = os.path.join(out_dir, f"{name}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} @ {sf_dir} ==\n\n")
            f.write(normalize(plan))
            f.write(f"\n\n== {name} oracle ==\n\n")
            f.write(ORACLES.get(name, "(no oracle)"))
            f.write("\n")
        print(f"wrote {path}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
