"""Scan operators (SURVEY.md §2.1).

The reference reads whole files line-by-line on a single leader
(partition_csv at file_server/fileserver.py:265-289 materializes every
row before splitting). Here every scan is a distributed, splittable
Spark read: filters and projections declared downstream reach the scan
(PushedFilters / ReadSchema in `.explain`), which is the difference
between reading 100 TB and reading the two columns you asked for.
"""

from __future__ import annotations

import os
import re
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def scan_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    schema: T.StructType | None = None,
    infer: bool = False,
) -> DataFrame:
    """Read a CSV dataset (reference: csv.reader at fileserver.py:265-289;
    header skip per hadoop/TrafficMapper.java:33-35 → `header=True`).

    Default is all-StringType (the reference's untyped line model,
    SURVEY.md §1.2): pass `schema` or `infer=True` for typed reads.
    `infer` costs an extra full pass — never use it on production-scale
    inputs; provide the schema.
    """
    reader = spark.read.option("header", header)
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", True)
    return reader.csv(path)


def scan_text(spark: SparkSession, path: str) -> DataFrame:
    """Read files as raw lines → DataFrame[value: string].

    Reference: bufio.Scanner loops (data/sql-juice.go:49-57,
    data/maple-exe.go:82-93). Serves the grep / whole-line-regex paths.
    """
    return spark.read.text(path)


def scan_prefix_glob(
    spark: SparkSession,
    directory: str,
    prefix: str,
    suffix: str = "",
    fmt: str = "text",
) -> DataFrame:
    """Select input files by name prefix (+ optional suffix).

    Reference: filepath.Walk + strings.HasPrefix
    (data/maple-exe.go:114-126, data/juice-exe.go:45-60). Spark path
    globs resolve on the driver against the file listing — no data read.
    """
    pattern = f"{directory}/{prefix}*{suffix}"
    if fmt == "text":
        return spark.read.text(pattern)
    if fmt == "csv":
        return spark.read.option("header", False).csv(pattern)
    if fmt == "parquet":
        return scan_parquet(spark, pattern)
    raise ValueError(f"unsupported format: {fmt}")


#: Reader confs that change what parquet schema inference returns. Each
#: memo slot records their values, so flipping one re-infers.
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)

#: One slot per absolute path: (file signature, inference confs,
#: inferred schema). A slot is replaced whole, never appended to, so
#: concurrent callers need no lock: a slot that loses a race is a
#: consistent triple that only misses.
_SCHEMAS: dict[str, tuple[tuple, tuple, T.StructType]] = {}

_URI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")
_GLOB_CHARS = frozenset("*?[]{}\\")


def _file_signature(path: str) -> tuple | None:
    """``(relpath, st_ino, st_size, st_mtime_ns)`` of the file at
    ``path``, or of every file under the directory, sorted. ``None``
    when no local signature can be taken: a glob, a URI, or a path
    that does not exist (or changes while it is being walked)."""
    if _URI.match(path) or not _GLOB_CHARS.isdisjoint(path):
        return None
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (("", st.st_ino, st.st_size, st.st_mtime_ns),)
        sig = []
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                s = os.stat(p)
                sig.append((os.path.relpath(p, path), s.st_ino, s.st_size, s.st_mtime_ns))
        return tuple(sorted(sig))
    except OSError:
        return None


def scan_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan — the engine's native storage format, and the
    package's one parquet read (registry tables, `Catalog.get/put`).

    A read without a schema makes Spark infer it, and inference reads
    the parquet footers in a Spark job of its own (~90 ms warm at
    sf0.1). The inferred schema is memoized per path together with the
    path's file signature (see `_file_signature`) and the reader confs
    that change inference (`_INFERENCE_CONFS`). While both match, the
    read passes the memoized schema and launches no job; the plan is
    the same as the inferring read's. Any rewrite, added or removed
    file, or conf flip misses, re-infers and replaces the slot — which
    is why this is not a temp view or a session-catalog table: those
    would also freeze the file listing and read a rewritten dataset
    stale. A path without a signature (a glob, a non-local URI) is
    read exactly as ``spark.read.parquet(path)``, with no memo.
    """
    sig = _file_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    confs = tuple(spark.conf.get(k, None) for k in _INFERENCE_CONFS)
    slot = _SCHEMAS.get(key)
    if slot is not None and slot[0] == sig and slot[1] == confs:
        return spark.read.schema(slot[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (sig, confs, df.schema)
    return df


def scan_parquet_evolving(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet directory whose files were written with DIFFERENT
    (evolving) schemas: `mergeSchema` unions the per-file schemas and
    null-fills columns absent from older files.

    Costs a footer read per file at planning time — fine for landing
    dirs, wasteful on huge static tables (there, declare the schema).
    """
    return spark.read.option("mergeSchema", True).parquet(path)


def scan_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
) -> DataFrame:
    """Read newline-delimited JSON (the interchange format LLM corpora
    actually ship in — one document object per line).

    JSONL is splittable exactly like the reference's line model (the
    record separator is the newline), so a 100 TB corpus parallelizes
    per input split with no coordination. ALWAYS pass `schema` at
    scale: without it Spark runs a full inference pass first, and
    schema drift across files silently widens columns. Malformed lines
    surface in `_corrupt_record` (PERMISSIVE default) instead of
    failing the job — filter or count them as a data-quality signal.
    CAVEAT: with an explicit `schema`, the `_corrupt_record` column
    only materializes if the schema itself includes a
    `StructField("_corrupt_record", StringType())`; otherwise corrupt
    lines silently become all-null rows (tests/test_operators.py
    `test_jsonl_corrupt_record_surface` shows the pattern).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def scan_orc(spark: SparkSession, path: str) -> DataFrame:
    """Columnar ORC scan (Spark-native reader — same predicate-pushdown
    / column-pruning surface as parquet; ORC is the other standard
    lakehouse file format, common in Hive-lineage warehouses). No
    DuckDB oracle exists for ORC, so parity is certified by the
    round-trip test (`tests/test_sources_formats.py`): parquet-read →
    orc-write → orc-read must be content-identical."""
    return spark.read.orc(path)
