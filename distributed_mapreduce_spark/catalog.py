"""Dataset catalog — the SDFS surface (SURVEY.md §2.1) re-expressed as
a thin registry over a parquet warehouse directory.

Reference verbs (README.md:25-38, REPL at fileserver.py:1234-1388):
``put local sdfs`` / ``get sdfs local`` / ``delete`` / ``ls`` /
``store`` / ``filetable``. Replication, replica placement, ack quorums
and re-replication on failure (fileserver.py:843-1058) are storage-layer
concerns in Spark (HDFS/object store) — no engine code, by design.

Datasets are immutable once put (the reference's files are too), so
reads need no locking; the reference's reader-writer scheduling
(fileserver.py:843-851) has no equivalent here.

What `put` stores: a local parquet file or parquet directory is stored
as its own bytes — the reference's `put` is an scp of the file — copied
into a dot-prefixed staging directory in the warehouse and renamed into
place, every file keeping (or gaining) its ``.parquet`` suffix. Its
schema is checked first, so a file Spark cannot read fails at `put`,
not at `get`. CSV, text and DataFrame sources are written by Spark as
parquet. `get` and the parquet check read through
`sources.readers.scan_parquet`, which infers each unchanged dataset's
schema only once.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

from distributed_mapreduce_spark.sources.readers import scan_parquet


def _spark_hidden(name: str) -> bool:
    """Spark's file listing skips these names (``_SUCCESS``, ``.crc``
    files, ``_temporary``) but keeps ``_``-prefixed partition dirs."""
    return name.startswith(".") or (name.startswith("_") and "=" not in name)


def _parquet_name(f: str) -> str:
    return f if f.endswith(".parquet") else f + ".parquet"


def _copy_parquet(source: str, dest: str) -> None:
    """Copy a parquet file, or the files Spark reads under a parquet
    directory tree, into the new directory ``dest``."""
    if not os.path.isdir(source):
        os.mkdir(dest)
        shutil.copyfile(source, os.path.join(dest, _parquet_name(os.path.basename(source))))
        return
    for root, dirs, files in os.walk(source):
        dirs[:] = [d for d in dirs if not _spark_hidden(d)]
        out = os.path.join(dest, os.path.relpath(root, source))
        os.makedirs(out, exist_ok=True)
        for f in files:
            if not _spark_hidden(f):
                shutil.copyfile(os.path.join(root, f), os.path.join(out, _parquet_name(f)))


class Catalog:
    """Named-dataset registry over a warehouse directory.

    One subdirectory per dataset, parquet inside. The directory listing
    IS the metadata (`filetable`): no driver-resident state to lose,
    and any number of sessions can share a warehouse.
    """

    def __init__(self, spark: SparkSession, warehouse: str):
        self.spark = spark
        self.warehouse = warehouse
        os.makedirs(warehouse, exist_ok=True)

    def _path(self, name: str) -> str:
        if "/" in name or name.startswith("."):
            raise ValueError(f"invalid dataset name: {name!r}")
        return os.path.join(self.warehouse, name)

    # -- put: register data under a name (REPL `put`, fileserver.py:1240-1242)

    def put(self, source: str | DataFrame, name: str, fmt: str = "infer") -> None:
        """Ingest a local file (csv/parquet/text lines) or a DataFrame
        as a named dataset. CSV ingests with header + all-string schema
        (the reference's untyped line model, SURVEY.md §1.2).

        A local parquet file or directory is stored as its bytes, with
        no Spark job beyond the (memoized) schema check; a parquet glob
        or URI is decoded and re-written by Spark."""
        dest = self._path(name)
        if isinstance(source, DataFrame):
            df = source
        else:
            if fmt == "infer":
                fmt = "csv" if source.endswith(".csv") else (
                    "parquet" if source.endswith(".parquet") else "text"
                )
            if fmt == "csv":
                df = self.spark.read.option("header", True).csv(source)
            elif fmt == "parquet":
                df = scan_parquet(self.spark, source)  # raises if unreadable
                if os.path.exists(source):
                    self._put_files(source, dest)
                    return
            else:
                df = self.spark.read.text(source)
        df.write.mode("overwrite").parquet(dest)

    def _put_files(self, source: str, dest: str) -> None:
        """Copy into a dot-prefixed staging dir (invisible to `store`),
        then rename into place; a replaced dataset leaves through the
        same staging dir."""
        staging = tempfile.mkdtemp(prefix=f".put_{os.path.basename(dest)}_", dir=self.warehouse)
        try:
            data = os.path.join(staging, "data")
            _copy_parquet(source, data)
            if os.path.isdir(dest):
                os.rename(dest, os.path.join(staging, "old"))
            os.rename(data, dest)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # -- get: materialize a named dataset (REPL `get`, fileserver.py:1244-1246)

    def get(self, name: str) -> DataFrame:
        return scan_parquet(self.spark, self._path(name))

    def get_to_local(self, name: str, local_path: str) -> None:
        """Export to one local CSV file (the reference's get writes one
        local file; single-file merge only at this terminal step).

        Executor-side write: `sink_merged_csv` coalesces to ONE task
        (no shuffle, upstream stages at full parallelism) which streams
        rows straight to a part file; the driver then renames that file
        into place. Driver memory never holds the dataset — the old
        `toPandas().to_csv` path materialized the whole export in the
        driver, the one full-dataset driver materialization left in the
        API layer (VERDICT r07 #7).

        Output format is pinned to the pandas `to_csv` dialect the API
        shipped with (ADVICE r08: the executor-side switch silently
        changed it): embedded quotes are doubled per RFC 4180
        (`escape='"'` — Spark's default is backslash-escaping),
        timestamps render as `yyyy-MM-dd HH:mm:ss` (not ISO-8601 with
        a `T`), and boolean columns are rendered `True`/`False` (not
        Spark's `true`/`false`) via an explicit cast below."""
        import glob
        import tempfile

        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from distributed_mapreduce_spark.sources.sinks import sink_merged_csv

        staging = tempfile.mkdtemp(
            prefix=f".get_{name}_", dir=os.path.dirname(os.path.abspath(local_path)) or "."
        )
        try:
            out_dir = os.path.join(staging, "csv")
            df = self.get(name)
            for f_ in df.schema.fields:
                if isinstance(f_.dataType, T.BooleanType):
                    df = df.withColumn(
                        f_.name,
                        F.when(F.col(f_.name), "True")
                        .when(~F.col(f_.name), "False"),
                    )
            sink_merged_csv(
                df,
                out_dir,
                options={
                    "escape": '"',
                    "timestampFormat": "yyyy-MM-dd HH:mm:ss",
                },
            )
            parts = glob.glob(os.path.join(out_dir, "part-*.csv"))
            if not parts:  # empty dataset: header-only file via the same sink
                parts = glob.glob(os.path.join(out_dir, "part-*"))
            if len(parts) != 1:
                raise RuntimeError(
                    f"expected exactly one part file in {out_dir}, got {parts}"
                )
            os.replace(parts[0], local_path)
        finally:
            shutil.rmtree(staging, ignore_errors=True)

    # -- delete (REPL `delete`, fileserver.py:1248-1250)

    def delete(self, name: str) -> bool:
        p = self._path(name)
        if os.path.isdir(p):
            shutil.rmtree(p)
            return True
        return False

    # -- listing verbs

    def ls(self, name: str) -> dict:
        """Dataset metadata (REPL `ls` showed replica hosts,
        fileserver.py:1252-1257 — degenerates to the storage path)."""
        p = self._path(name)
        if not os.path.isdir(p):
            return {}
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(p)
            for f in fs
        )
        return {"name": name, "path": p, "bytes": size}

    def store(self) -> list[str]:
        """All dataset names (REPL `store`, fileserver.py:1259-1264)."""
        return sorted(
            d for d in os.listdir(self.warehouse)
            if not d.startswith(".") and os.path.isdir(os.path.join(self.warehouse, d))
        )

    def filetable(self) -> dict[str, dict]:
        """Full name→metadata dump (REPL `filetable`, fileserver.py:1283-1284)."""
        return {n: self.ls(n) for n in self.store()}
