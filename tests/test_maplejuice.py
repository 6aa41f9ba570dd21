"""MapleJuice surface: functional runners, executable shim, SELECT, and
the Engine facade's catalog verbs."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from distributed_mapreduce_spark.engine import Engine
from distributed_mapreduce_spark.maplejuice import (
    juice,
    juice_exe,
    maple,
    maple_exe,
    select_where,
)


def wordcount_maple(pdf: pd.DataFrame):
    for line in pdf["value"]:
        for w in str(line).split():
            yield (w, "1")


def sum_juice(key: str, pdf: pd.DataFrame) -> pd.DataFrame:
    return pd.DataFrame({"key": [key], "value": [str(len(pdf))]})


@pytest.fixture()
def lines(spark):
    return spark.createDataFrame(
        [("a b a",), ("b c",), ("a",)], ["value"]
    )


def test_maple_juice_wordcount(spark, lines):
    kv = maple(lines, wordcount_maple, num_maples=3)
    out = juice(kv, sum_juice, num_juices=2, partition="hash")
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_juice_range_partitioning_same_result(spark, lines):
    kv = maple(lines, wordcount_maple, num_maples=2)
    out = juice(kv, sum_juice, num_juices=2, partition="range")
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_exe_runners_pipe(spark, lines):
    # maple exe: awk emits (word, 1) per whitespace token;
    # juice exe: awk sums values per key (order within a partition).
    kv = maple_exe(lines, "awk '{for(i=1;i<=NF;i++) print $i \"\\t\" 1}'", num_maples=2)
    out = juice_exe(
        kv,
        "awk -F'\\t' '{s[$1]+=$2} END {for (k in s) print k \"\\t\" s[k]}'",
        num_juices=2,
    )
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_select_where_whole_line(spark):
    df = spark.createDataFrame([("Video", "Radio"), ("Radio", "Video")], ["a", "b"])
    got = select_where(df, "Video,Radio").collect()
    assert len(got) == 1 and got[0]["a"] == "Video"
    assert select_where(df, "Video,Radio").columns == ["a", "b"]  # no helper column leak


def test_engine_catalog_roundtrip(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "warehouse"))
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["k", "v"])
    eng.put(df, "t1")
    assert eng.store() == ["t1"]
    assert {tuple(r) for r in eng.get("t1").collect()} == {(1, "x"), (2, "y")}
    meta = eng.ls("t1")
    assert meta["name"] == "t1" and meta["bytes"] > 0
    assert set(eng.filetable()) == {"t1"}
    assert eng.delete("t1") is True
    assert eng.store() == []
    assert eng.delete("t1") is False


def test_engine_maple_juice_with_named_datasets(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.put(spark.createDataFrame([("a b",), ("a",)], ["value"]), "src")
    eng.maple("src", wordcount_maple, num_maples=2, intermediate="inter")
    out = eng.juice("inter", sum_juice, num_juices=2, dest="final", delete_input=True)
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == {"a": 2, "b": 1}
    assert eng.store() == ["final", "src"]  # intermediate deleted


def test_engine_grep_modes(spark, tmp_path):
    logs = tmp_path / "logs"
    logs.mkdir()
    (logs / "vm1.log").write_text("err x\nok\nerr y\n")
    (logs / "vm2.log").write_text("ok\nerr z\n")
    eng = Engine(spark, str(tmp_path / "wh"))
    glob = str(logs / "*.log")
    assert eng.grep(glob, "^err", "c").collect()[0]["cnt"] == 3
    per = {r["machine"]: r["cnt"] for r in eng.grep(glob, "^err", "m").collect()}
    assert per == {"vm1.log": 2, "vm2.log": 1}
    assert eng.grep(glob, "^err", "a").count() == 3


def test_engine_grep_modes_file_names_with_space(spark, tmp_path):
    # The machine id is the URI-encoded file name, as
    # input_file_name() gave it: "vm 1.log" reads "vm%201.log".
    logs = tmp_path / "my logs"
    logs.mkdir()
    (logs / "vm 1.log").write_text("err x\nok\nerr y\n")
    (logs / "vm 2.log").write_text("ok\nerr z\n")
    eng = Engine(spark, str(tmp_path / "wh"))
    glob = str(logs / "*.log")
    assert eng.grep(glob, "^err", "c").collect()[0]["cnt"] == 3
    per = {r["machine"]: r["cnt"] for r in eng.grep(glob, "^err", "m").collect()}
    assert per == {"vm%201.log": 2, "vm%202.log": 1}
    matched = sorted(tuple(r) for r in eng.grep(glob, "^err", "a").collect())
    assert matched == [
        ("vm%201.log", "err x"), ("vm%201.log", "err y"), ("vm%202.log", "err z"),
    ]


def test_parquet_put_stores_the_source_bytes(spark, tmp_path):
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src_file = str(tmp_path / "src.parquet")
    pq.write_table(pa.table({"k": [1, 2, 3], "v": ["a", None, "c"]}), src_file)
    src_dir = str(tmp_path / "src_dir")
    spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]).repartition(2).write.parquet(src_dir)
    eng = Engine(spark, str(tmp_path / "wh"))
    for name, src in (("from_file", src_file), ("from_dir", src_dir)):
        eng.put(src, name, "parquet")
        want = spark.read.parquet(src)
        got = eng.get(name)
        assert got.schema == want.schema
        assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
        stored = os.listdir(eng.ls(name)["path"])
        assert stored and all(f.endswith(".parquet") for f in stored)
    with open(src_file, "rb") as f, open(f"{eng.ls('from_file')['path']}/src.parquet", "rb") as g:
        assert f.read() == g.read()
    assert eng.store() == ["from_dir", "from_file"]


def test_nanos_parquet_put_raises_at_put(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_000_000_123], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), src)
    key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    eng = Engine(spark, str(tmp_path / "wh"))
    try:
        with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
            eng.put(src, "nanos")
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    assert eng.store() == []


def test_store_ignores_leftover_staging_dir(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "wh"))
    eng.put(spark.createDataFrame([(1,)], ["k"]), "t")
    (tmp_path / "wh" / ".put_t_abc123" / "data").mkdir(parents=True)
    assert eng.store() == ["t"]
    assert set(eng.filetable()) == {"t"}


def test_sink_merged_csv_single_file_roundtrip(spark, tmp_path):
    """conglomerate parity: exactly ONE csv part file, content intact."""
    import glob

    from distributed_mapreduce_spark.sources.sinks import sink_merged_csv, sink_parquet

    df = spark.createDataFrame(
        [("Video", 3, "60.00%"), ("Loop", 2, "40.00%")], ["detection", "cnt", "pct"]
    )
    out = str(tmp_path / "merged")
    sink_merged_csv(df, out)
    parts = glob.glob(f"{out}/part-*.csv")
    assert len(parts) == 1  # the reference's single-file contract
    back = spark.read.option("header", True).csv(out)
    assert {tuple(r) for r in back.collect()} == {
        ("Video", "3", "60.00%"),
        ("Loop", "2", "40.00%"),
    }

    # and the at-scale default keeps partitioning
    pq = str(tmp_path / "pq")
    sink_parquet(df, pq, partition_by=["detection"])
    import os
    assert any(d.startswith("detection=") for d in os.listdir(pq))


@pytest.mark.deepaudit
def test_cli_put_store_select_roundtrip(tmp_path):
    """End-user CLI smoke: put a CSV, list it, run a SELECT — in a
    subprocess, exactly as a user would (fresh JVM, no test session).
    deepaudit tier: three fresh-JVM subprocesses cost ~45 s; the
    in-session CLI roundtrip (test_cli_e2e) and the fresh-subprocess
    driver-contract test (test_workload) keep default coverage."""
    import csv
    import subprocess
    import sys

    src = tmp_path / "traffic_mini.csv"
    with open(src, "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["Detection_", "Interconne"])
        w.writerows([["Video", "Fiber"], ["Loop", "Radio"], ["Video", "Radio"]])

    wh = str(tmp_path / "wh")
    base = [sys.executable, "-m", "distributed_mapreduce_spark", "--warehouse", wh, "--cpus", "2"]
    env = {"PYTHONPATH": "/root/repo", "PATH": "/usr/bin:/bin", "HOME": "/root",
           "JAVA_HOME": __import__("os").environ.get("JAVA_HOME", "")}

    r = subprocess.run(base + ["put", str(src), "traffic"], capture_output=True, text=True, env=env, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]
    r = subprocess.run(base + ["store"], capture_output=True, text=True, env=env, timeout=240)
    assert r.returncode == 0 and "traffic" in r.stdout, r.stderr[-2000:]
    r = subprocess.run(base + ["select", "traffic", "Video,Radio"], capture_output=True, text=True, env=env, timeout=240)
    assert r.returncode == 0, r.stderr[-2000:]
    # Whole-line regex: only the row where Video is adjacent to Radio.
    assert "Video" in r.stdout and "Loop" not in r.stdout
