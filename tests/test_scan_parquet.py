"""`sources.readers.scan_parquet`: each path's schema is inferred once
and reused while the path's files and the inference confs are unchanged;
any change re-infers."""

from __future__ import annotations

import contextlib
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from distributed_mapreduce_spark.catalog import Catalog
from distributed_mapreduce_spark.sources import readers
from distributed_mapreduce_spark.sources.readers import scan_parquet
from distributed_mapreduce_spark.workload.registry import table

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def jobs_launched(spark, fn):
    """Run ``fn()``; return its result and the number of Spark jobs it
    launched (counted under a job group of its own)."""
    sc = spark.sparkContext
    group = f"scan-parquet-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def conf(spark, key, value):
    before = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_second_table_open_launches_no_job(spark, sf_dir):
    readers._SCHEMAS.pop(os.path.abspath(f"{sf_dir}/orders.parquet"), None)
    first, n_first = jobs_launched(spark, lambda: table(spark, sf_dir, "orders"))
    second, n_second = jobs_launched(spark, lambda: table(spark, sf_dir, "orders"))
    assert n_first >= 1  # the footer-reading inference job
    assert n_second == 0
    assert second.schema == first.schema


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert scan_parquet(spark, path).columns == ["a"]
    assert scan_parquet(spark, path).columns == ["a"]  # memo hit
    pq.write_table(pa.table({"b": ["x", "y", "z"]}), path)
    df = scan_parquet(spark, path)
    assert df.dtypes == [("b", "string")]
    assert rows(df) == [("x",), ("y",), ("z",)]


def test_nanos_conf_flip_reinfers(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    ts = pa.array([1_000_000_123, 2_000_000_456], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), path)
    with conf(spark, NANOS, "true"):
        assert scan_parquet(spark, path).dtypes == [("ts", "bigint")]
        assert scan_parquet(spark, path).dtypes == [("ts", "bigint")]
    with conf(spark, NANOS, "false"), pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        scan_parquet(spark, path)
    with conf(spark, NANOS, "true"):
        assert rows(scan_parquet(spark, path)) == [(1_000_000_123,), (2_000_000_456,)]


def test_catalog_put_overwrite_with_new_schema_is_seen_by_get(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "wh"))
    cat.put(spark.createDataFrame([(1, "x")], ["k", "v"]), "t")
    assert cat.get("t").columns == ["k", "v"]
    assert cat.get("t").columns == ["k", "v"]  # memo hit
    src = str(tmp_path / "new.parquet")
    pq.write_table(pa.table({"z": [1.5, 2.5]}), src)
    cat.put(src, "t")
    got = cat.get("t")
    assert got.dtypes == [("z", "double")]
    assert rows(got) == [(1.5,), (2.5,)]
    cat.put(spark.createDataFrame([("q",)], ["w"]), "t")
    assert rows(cat.get("t")) == [("q",)]


def test_partitioned_dataset_reads_like_an_uncached_read(spark, tmp_path):
    path = str(tmp_path / "parts")
    spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30)], ["k", "v", "p"]
    ).write.partitionBy("p").parquet(path)
    want = spark.read.parquet(path)
    scan_parquet(spark, path)
    got, n = jobs_launched(spark, lambda: scan_parquet(spark, path))
    assert n == 0
    assert got.schema == want.schema
    assert got.columns == ["k", "v", "p"]
    assert rows(got) == rows(want)


def test_glob_path_is_read_without_memo(spark, tmp_path):
    for i in range(2):
        pq.write_table(pa.table({"a": [i]}), str(tmp_path / f"part{i}.parquet"))
    pattern = str(tmp_path / "part*.parquet")
    assert rows(scan_parquet(spark, pattern)) == [(0,), (1,)]
    assert os.path.abspath(pattern) not in readers._SCHEMAS
