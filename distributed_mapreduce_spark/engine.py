"""Engine facade — the user-facing surface a reference user would
recognize: every REPL verb (README.md:25-56) as a method, backed by the
catalog, the MapleJuice runners, and the declarative operator library.

A reference user switching over maps their commands 1:1:

    put/get/delete/ls/store/filetable  -> Engine.put/... (catalog)
    maple exe n prefix src param       -> Engine.maple(name, fn, n)
    juice exe n prefix dest delete p   -> Engine.juice(prefix, fn, n,
                                          dest=..., partition=...)
    SELECT ALL FROM ds WHERE 'regex'   -> Engine.select(ds, regex)
    grep (MP1 client)                  -> Engine.grep(glob, regex, ...)

Membership verbs (join/leave/suspicion/lm/m) are cluster-runtime
concerns with no engine equivalent (SURVEY.md §2.12).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from distributed_mapreduce_spark import maplejuice as mj
from distributed_mapreduce_spark.catalog import Catalog
from distributed_mapreduce_spark.operators.aggregates import (
    agg_count_per_machine,
    agg_global_count,
)
from distributed_mapreduce_spark.operators.filters import grep_filter


class Engine:
    """One object = one 'cluster': a SparkSession + a warehouse."""

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.catalog = Catalog(spark, warehouse)

    # ---- catalog verbs --------------------------------------------------

    def put(self, source, name: str, fmt: str = "infer") -> None:
        self.catalog.put(source, name, fmt)

    def get(self, name: str) -> DataFrame:
        return self.catalog.get(name)

    def delete(self, name: str) -> bool:
        return self.catalog.delete(name)

    def ls(self, name: str) -> dict:
        return self.catalog.ls(name)

    def store(self) -> list[str]:
        return self.catalog.store()

    def filetable(self) -> dict:
        return self.catalog.filetable()

    # ---- MapleJuice -----------------------------------------------------

    def maple(
        self,
        src: str | DataFrame,
        fn: Callable[[pd.DataFrame], Iterator[tuple[str, str]]],
        num_maples: int | None = None,
        intermediate: str | None = None,
    ) -> DataFrame:
        """Map phase over a named dataset (or DataFrame). With
        `intermediate`, persist the KV output under that name — the
        reference's sdfs_intermediate_filename_prefix argument."""
        df = self.get(src) if isinstance(src, str) else src
        kv = mj.maple(df, fn, num_maples)
        if intermediate is not None:
            self.put(kv, intermediate)
            return self.get(intermediate)
        return kv

    def juice(
        self,
        src: str | DataFrame,
        fn: Callable[[str, pd.DataFrame], pd.DataFrame],
        num_juices: int | None = None,
        dest: str | None = None,
        partition: str = "hash",
        delete_input: bool = False,
        output_schema: str = mj.KV_SCHEMA,
    ) -> DataFrame:
        """Reduce phase over a KV dataset. `dest` stores the merged
        result as a named dataset (the reference's conglomerate+put,
        fileserver.py:598-635); `delete_input` mirrors the delete flag
        (fileserver.py:642-650).

        `delete_input=True` requires `dest`: without a materialized
        destination the returned DataFrame is a lazy plan that still
        reads the source parquet, so deleting it would leave the caller
        with a dangling result."""
        if delete_input and dest is None:
            raise ValueError(
                "juice(delete_input=True) requires dest: the lazy result "
                "still reads the input until it is materialized"
            )
        kv = self.get(src) if isinstance(src, str) else src
        out = mj.juice(kv, fn, num_juices, partition, output_schema)
        if dest is not None:
            self.put(out, dest)
            out = self.get(dest)
        if delete_input and isinstance(src, str):
            self.delete(src)
        return out

    def select(self, dataset: str, regex: str) -> DataFrame:
        """`SELECT ALL FROM <dataset> WHERE <regex>`
        (fileserver.py:1372-1382) — declarative, filter at the scan."""
        return mj.select_where(self.get(dataset), regex)

    # ---- distributed grep (MP1 surface, client/client.py) ---------------

    def grep(self, path_glob: str, regex: str, mode: str = "a") -> DataFrame:
        """`a`: matching lines; `c`: global count; `m`: count per file
        (machine), using the input file name as the machine id.

        The machine is the scan's `_metadata.file_name`, a deterministic
        column, so Catalyst pushes the regex filter below the projection
        and only matched lines carry a name (`input_file_name()` is
        nondeterministic and pinned the filter above it). The name is
        the URI-encoded last path segment, as `input_file_name()` gave:
        ``vm 1.log`` reads ``vm%201.log``."""
        from pyspark.sql import functions as F

        lines = self.spark.read.text(path_glob).withColumn(
            "machine", F.col("_metadata.file_name")
        )
        matched = grep_filter(lines, regex, "value")
        if mode == "a":
            return matched.select("machine", "value")
        if mode == "c":
            return agg_global_count(matched)
        if mode == "m":
            return agg_count_per_machine(matched, "machine")
        raise ValueError(f"mode must be a/c/m, got {mode!r}")
