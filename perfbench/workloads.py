"""The benchmark's workloads: which ops a pass runs, in what order, and
how each Engine op's output is checked.

A query op is one entry of the repo's query registry, timed from the
builder call to the last task of its action. The ``maplejuice_sdfs``
ops are the paper's own surface through ``Engine``: put, maple, juice,
the executable runners, select, grep, get, ls and delete.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import pandas as pd

from perfbench import loggen

#: Query workloads: op names in the repo's query registry.
QUERY_WORKLOADS: dict[str, tuple[str, ...]] = {
    # Per-op fixed costs dominate: builder, Catalyst, job launch and
    # tiny shuffles. A session, planning or scheduling change shows here.
    "relational_short": tuple(
        """flagship_pct agg_q1 group_count wordcount join_multiway topk
        select_regex events_tumbling events_funnel table_checksum""".split()
    ),
}

MAPLEJUICE = "maplejuice_sdfs"
WORKLOADS = (*QUERY_WORKLOADS, MAPLEJUICE)


def pass_order(ops: dict[str, tuple[str, ...]], seed: int, pass_idx: int) -> list[str]:
    """A seeded topological order of ``ops`` (name -> names it must
    follow): at each step one of the ready ops is drawn at random. The
    order is a function of the seed, the pass index and the op graph
    only."""
    rng = random.Random(f"{seed}/{pass_idx}")
    done: list[str] = []
    pending = sorted(ops)
    while pending:
        ready = [o for o in pending if all(d in done for d in ops[o])]
        if not ready:
            raise ValueError(f"cyclic op dependencies among {pending}")
        pick = rng.choice(ready)
        pending.remove(pick)
        done.append(pick)
    return done


# -- maplejuice_sdfs ---------------------------------------------------------

#: Datasets a pass stores in the warehouse; ``delete`` removes them all.
DATASETS = ("orders", "lineitem", "logs", "level_counts", "exe_kv", "exe_counts")

_PRODUCERS = ("put_orders", "put_lineitem", "put_logs", "juice", "juice_exe")
#: The ops of a ``maplejuice_sdfs`` pass and the ops each must follow.
MAPLEJUICE_AFTER: dict[str, tuple[str, ...]] = {
    "put_orders": (),
    "put_lineitem": (),
    "put_logs": (),
    "maple": ("put_logs",),
    "juice": ("maple",),
    "maple_exe": ("put_logs",),
    "juice_exe": ("maple_exe",),
    "select": ("put_logs",),
    "grep_c": (),
    "grep_m": (),
    "get_to_local": ("put_orders",),
    "filetable": _PRODUCERS,
    "delete": (*_PRODUCERS, "maple", "maple_exe", "select", "grep_c", "grep_m", "get_to_local", "filetable"),
}


def maple_alerts(pdf: pd.DataFrame) -> Iterator[tuple[str, str]]:
    """Maple: one ``(level, "1")`` pair per alert line (WARN and up)."""
    for line in pdf["value"]:
        level = line.split(" ", 2)[1]
        if level in loggen.ALERT_LEVELS:
            yield (level, "1")


def juice_count(key: str, pdf: pd.DataFrame) -> pd.DataFrame:
    """Juice: lines per key."""
    return pd.DataFrame({"key": [key], "value": [str(len(pdf))]})


def parquet_rows(path: str) -> int:
    """Row count of a parquet file or dataset directory, from footers."""
    import pyarrow.parquet as pq

    files = [path] if os.path.isfile(path) else [
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    ]
    return sum(pq.read_metadata(f).num_rows for f in files)


@dataclass
class EngineOp:
    """One Engine call: ``run`` is timed, ``check`` judges its result
    afterwards. ``layer`` names the span around the call."""

    layer: str
    run: Callable[[], object]
    check: Callable[[object], bool]


class MapleJuicePass:
    """The ops of one ``maplejuice_sdfs`` pass over one warehouse.

    ``record`` collects what the ops measured (rows, bytes, files) for
    the traced run's per-layer metrics; it is rebuilt every pass."""

    def __init__(self, engine, sf_dir: str, logs_dir: str, out_dir: str,
                 expected: loggen.Expected, partitions: int):
        self.engine = engine
        self.sf_dir = sf_dir
        self.logs_dir = logs_dir
        self.out_dir = out_dir
        self.exp = expected
        self.n = partitions
        self.source_rows = {t: parquet_rows(f"{sf_dir}/{t}.parquet") for t in ("orders", "lineitem")}
        self.input_bytes = expected.bytes + sum(
            os.path.getsize(f"{sf_dir}/{t}.parquet") for t in ("orders", "lineitem")
        )
        self.record: dict[str, float] = {}
        #: The DataFrame of the last select or grep, for its Catalyst phases.
        self.last_frame = None

    def ops(self) -> dict[str, EngineOp]:
        from distributed_mapreduce_spark import maplejuice as mj

        e, exp, n = self.engine, self.exp, self.n
        grep_glob = os.path.join(self.logs_dir, "*.log")
        csv_path = os.path.join(self.out_dir, "orders.csv")

        def put(source, name, fmt="infer"):
            return lambda: e.put(source, name, fmt)

        def stored(name, rows):
            def check(_):
                meta = e.ls(name)
                self.record["put_bytes"] = self.record.get("put_bytes", 0) + meta.get("bytes", 0)
                self.record["put_files"] = self.record.get("put_files", 0) + sum(
                    f.endswith(".parquet") for f in os.listdir(meta["path"])
                )
                return parquet_rows(meta["path"]) == rows
            return check

        def counts(name, want):
            return lambda _: {r["key"]: int(r["value"]) for r in e.get(name).collect()} == want

        def maple():
            e.maple("logs", maple_alerts, n, intermediate="kv")

        def kv_rows(_):
            rows = parquet_rows(e.ls("kv")["path"])
            self.record["kv_rows_per_input_row"] = rows / exp.lines
            return rows == sum(exp.alerts_per_level.values())

        def juice():
            e.juice("kv", juice_count, n, dest="level_counts", delete_input=True)

        def maple_exe():
            e.put(mj.maple_exe(e.get("logs"), loggen.MAPLE_AWK, n), "exe_kv")

        def juice_exe():
            e.put(mj.juice_exe(e.get("exe_kv"), loggen.JUICE_AWK, n), "exe_counts")

        def collect(df):
            self.last_frame = df
            return df.collect()

        def select():
            return collect(e.select("logs", loggen.SELECT_REGEX))

        def select_rows(rows):
            self.record["select_rows"] = len(rows)
            return len(rows) == exp.select_rows

        def grep_c():
            return collect(e.grep(grep_glob, loggen.GREP_COUNT_REGEX, "c"))

        def grep_c_ok(rows):
            self.record["grep_matched"] = self.record.get("grep_matched", 0) + rows[0]["cnt"]
            return rows[0]["cnt"] == exp.grep_count

        def grep_m():
            return collect(e.grep(grep_glob, loggen.GREP_MACHINE_REGEX, "m"))

        def grep_m_ok(rows):
            got = {r["machine"]: r["cnt"] for r in rows}
            self.record["grep_matched"] = self.record.get("grep_matched", 0) + sum(got.values())
            return got == exp.grep_per_machine

        def get_to_local():
            e.catalog.get_to_local("orders", csv_path)

        def csv_ok(_):
            with open(csv_path, "rb") as f:
                lines = sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b""))
            os.remove(csv_path)
            return lines == self.source_rows["orders"] + 1

        def filetable_ok(table):
            self.record["stored_bytes_ratio"] = sum(m["bytes"] for m in table.values()) / self.input_bytes
            return sorted(table) == sorted(DATASETS)

        def delete():
            return [e.delete(name) for name in DATASETS]

        def juice_ok(_):
            return counts("level_counts", exp.alerts_per_level)(_) and "kv" not in e.store()

        def exe_kv_ok(_):
            return parquet_rows(e.ls("exe_kv")["path"]) == sum(exp.errors_per_service.values())

        return {
            "put_orders": EngineOp("catalog.put", put(f"{self.sf_dir}/orders.parquet", "orders"),
                                   stored("orders", self.source_rows["orders"])),
            "put_lineitem": EngineOp("catalog.put", put(f"{self.sf_dir}/lineitem.parquet", "lineitem"),
                                     stored("lineitem", self.source_rows["lineitem"])),
            "put_logs": EngineOp("catalog.put", put(self.logs_dir, "logs", "text"), stored("logs", exp.lines)),
            "maple": EngineOp("maplejuice.maple", maple, kv_rows),
            "juice": EngineOp("maplejuice.juice", juice, juice_ok),
            "maple_exe": EngineOp("maplejuice.exe", maple_exe, exe_kv_ok),
            "juice_exe": EngineOp("maplejuice.exe", juice_exe, counts("exe_counts", exp.errors_per_service)),
            "select": EngineOp("engine.select", select, select_rows),
            "grep_c": EngineOp("engine.grep", grep_c, grep_c_ok),
            "grep_m": EngineOp("engine.grep", grep_m, grep_m_ok),
            "get_to_local": EngineOp("catalog.get_to_local", get_to_local, csv_ok),
            "filetable": EngineOp("catalog.filetable", e.filetable, filetable_ok),
            "delete": EngineOp("catalog.delete", delete, lambda r: all(r) and e.store() == []),
        }
