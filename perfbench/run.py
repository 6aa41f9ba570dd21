"""End-to-end, layer-by-layer benchmark of the engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload relational_short --seed 1 --seconds 30 --trace 0

One process runs one workload on ``local[n]`` with
``shuffle_partitions = n``, ``n = nproc // 2``, as a closed loop with one
client: each op is issued only after the previous op's result has landed.
The other half of the cores is left to what runs beside the tasks: the
Python client, py4j, Catalyst planning, and the JVM's JIT and GC threads.
On 4 vCPUs of a shared KVM host, relational_short ran as fast on
``local[2]`` as on ``local[4]`` and spread less across runs;
maplejuice_sdfs ran about 10% slower. An op is timed
from the call into the repo's public function to the last task of its
action (builder + planning + action). A pass runs every op of the
workload once, in an order drawn from the seed.

Set-up (``setup_s``) is the session, the package shipped to the Python
workers, the generated inputs and the warm-up passes. The first warm-up
pass collects every query result and compares it with its DuckDB
oracle; every Engine op's result is compared with the log generator's
own answer after the op, in every pass. Checks are never timed. The
timed passes then run until ``--seconds`` have passed.

End-to-end metrics (``--trace 0``) are wall times with two corrections
for the shared host they run on, whose load moved whole runs by 20-50%
(raw ``e2e_s`` spread 0.28 IQR/median over five seeds):

- Steal: the host's other guests take our vCPUs away for a share of the
  time (``steal`` in /proc/stat, 0.4-17% of vCPU time in those runs).
  It is read at the same moments as each op's clock, and
  ``metrics.net_of_steal`` takes the share of it that fell on the op's
  critical path off the op's time.
- Speed: cores shared with busy neighbours run slower even when ours.
  After every timed op, outside its timing and with Spark idle, the
  client takes the CPU time of a fixed piece of pure-Python work
  (``speed_probe``), and ``metrics.at_reference_speed`` rescales each
  metric by the run's median probe to a reference core speed.

Together they brought the spread of those five runs to 0.08. A change to
the program moves the corrected times as it moves the raw ones; the raw
times, the stolen seconds and the probe median are in the context line.

- ``setup_s``: process start to the first timed pass, checks excluded.
- ``e2e_s``: the wall time of one pass, as the sum over the workload's
  ops of each op's median latency in the timed passes. This reads
  steadier across runs than the median of whole-pass sums.

With ``--trace 1`` the timed passes alternate between untraced and
traced. Traced passes record spans around each call into a layer, run
each op's jobs under the job groups ``<op>:build`` and ``<op>:exec``,
and read Catalyst's phase times; Spark's task metrics per job group come
from an uncompressed event log. The per-layer metrics are medians over
the traced passes; ``trace.overhead_s`` is ``e2e_s`` of the traced
passes minus that of the untraced ones, both raw wall times like every
per-layer time. The traced run also reports the
latency statistics that spread too widely across runs to be gated:

- ``op_p50_s``: median over the workload's ops of each op's median
  latency, so it does not depend on how many passes fit the window.
- ``op_tail_s``: the highest percentile with ten samples beyond it,
  over the untraced ops of the first ``MIN_PASSES`` passes, so the
  percentile is the same in every run.

Both are also written to the context line of an untraced run.

The last line of standard output is the result JSON; the line before it
holds the run's context (nproc, task slots, load, versions, tail
percentile, raw times and probe median).
Scratch files live under ``.bench_build/`` in the checkout; the spans
of a traced run are written to ``.bench_build/traces/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import zipfile
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

from perfbench import loggen, metrics  # noqa: E402
from perfbench import workloads as wl  # noqa: E402
from perfbench.trace import Tracer, phase_ms, stage_metrics  # noqa: E402

#: sf0.1 is ~17 MB of parquet: it fits in memory and in the page cache.
SF_DIR = "/root/testdata/sf0.1"
BUILD = os.path.join(ROOT, ".bench_build")
#: Warm-up passes of the timed kind, from the measured cold-to-warm
#: curve (4 vCPUs, sf0.1): relational_short ran 14.9 s cold, then 6.6,
#: 5.4, 5.1, 5.0 s; maplejuice_sdfs ran 25.5 s cold, then 10.2, 9.6 s.
#: A query workload runs one more pass first, which collects and checks
#: every result, so it too has two passes behind it. The JVM keeps
#: speeding up for minutes after that (a 200 s run went from 4.8 to
#: 4.1 s a pass), so more warm-up would not reach a plateau; the timed
#: passes take the same point of that curve in every run, and one pass
#: keeps a whole run near 50 s.
WARMUP_PASSES = 1
#: Timed passes run until ``--seconds`` have passed, but at least this
#: many. ``op_tail_s`` is taken over the samples of exactly these first
#: passes, so its percentile is the same in every run.
MIN_PASSES = 3
#: Generated log input of ``maplejuice_sdfs``: ~17 MB, as much as the sf0.1 tables.
LOG_MACHINES, LOG_LINES = 8, 50_000


def stolen_s() -> float:
    """Seconds, summed over this VM's vCPUs, that the host has run other
    guests while one of ours had work (``steal`` in /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def clock() -> tuple[float, float]:
    """Wall clock and ``stolen_s``, read together."""
    return time.perf_counter(), stolen_s()


def speed_probe() -> float:
    """CPU seconds a fixed piece of pure-Python work takes: the speed of
    this core at this moment. CPU time leaves out steal."""
    t = time.thread_time()
    x = 0
    for i in range(100_000):
        x += i * i
    return time.thread_time() - t


def _no_span(name: str, op: str):
    return nullcontext()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def data_fingerprint(sf_dir: str, tables: list[str]) -> str:
    parts = []
    for t in tables:
        st = os.stat(f"{sf_dir}/{t}.parquet")
        parts.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    return ";".join(parts)


def rows_digest(rows: list[tuple], cols: list[str]) -> str:
    """Digest of the rows in the canonical form the correctness harness
    compares (columns by name, rows order-insensitive)."""
    from check_correctness import canonical

    return hashlib.sha256(repr(canonical(rows, cols)).encode()).hexdigest()


def oracle_answers(names: tuple[str, ...], sf_dir: str, work_dir: str) -> dict[str, dict]:
    """Each query's DuckDB oracle answer as (sorted columns, row count,
    digest). Answers are cached in ``.bench_build`` under a key of the
    oracle SQL and the data files' sizes and times, so only the first
    run in a checkout pays for DuckDB."""
    from check_correctness import TABLES

    from distributed_mapreduce_spark.workload import ORACLES

    path = os.path.join(BUILD, "oracles.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except FileNotFoundError:
        cache = {}
    fp = data_fingerprint(sf_dir, TABLES)
    con, changed = None, False
    for name in names:
        key = hashlib.sha256(f"{ORACLES[name]}\n{sf_dir}\n{fp}".encode()).hexdigest()
        if cache.get(name, {}).get("key") == key:
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            con.execute(f"SET temp_directory='{work_dir}/duckdb'")
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        res = con.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        rows = res.fetchall()
        cache[name] = {"key": key, "cols": sorted(cols), "rows": len(rows), "digest": rows_digest(rows, cols)}
        changed = True
    if con is not None:
        con.close()
    if changed:
        tmp = path + f".{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f, indent=1)
        os.replace(tmp, path)
    return {n: cache[n] for n in names}


class Bench:
    """One run of one workload: session, set-up, warm-up, timed passes,
    and the metrics of whichever mode ``--trace`` selects."""

    def __init__(self, args: argparse.Namespace, run_dir: str, t0: tuple[float, float]):
        self.args = args
        self.run_dir = run_dir
        #: ``clock()`` at process start.
        self.t0 = t0
        nproc = len(os.sched_getaffinity(0))
        self.cores = max(1, nproc // 2)
        self.trace = bool(args.trace)
        self.tracer = Tracer()
        self.span = _no_span
        self.attempted = 0
        self.failed = 0
        #: Op latencies of the untraced timed passes, in run order.
        self.samples: list[float] = []
        self.tail_samples: list[float] = []
        #: traced -> op name -> latencies in the timed passes.
        self.op_s: dict[bool, dict[str, list[float]]] = {False: {}, True: {}}
        #: op name -> untraced latencies net of steal.
        self.op_net_s: dict[str, list[float]] = {}
        #: Seconds stolen during the untraced timed ops.
        self.stolen = 0.0
        #: Summed op latencies of each timed pass.
        self.passes: list[float] = []
        #: ``speed_probe`` CPU times taken after each op of the timed passes.
        self.probes: list[float] = []
        self.records: dict[int, dict[str, float]] = {}
        self.check_s = 0.0
        self.context: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "nproc": nproc,
            "task_slots": self.cores,
            "load_start": os.getloadavg()[0],
            "load_per_pass": [],
            "warmup_passes": WARMUP_PASSES + (args.workload != wl.MAPLEJUICE),
            "sf_dir": SF_DIR,
        }

    # -- session ----------------------------------------------------------

    def start_session(self) -> None:
        """Start Spark with every scratch directory inside the run dir."""
        tmp, local = os.path.join(self.run_dir, "tmp"), os.path.join(self.run_dir, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        # Python workers import perfbench's maple/juice functions by module.
        os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        tempfile.tempdir = None
        conf = {
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
        }
        if self.trace:
            os.makedirs(os.path.join(self.run_dir, "events"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + os.path.join(self.run_dir, "events"),
            })
        t = time.perf_counter()
        from distributed_mapreduce_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cores, shuffle_partitions=self.cores, extra_conf=conf)
        self.sc = self.spark.sparkContext
        self.ship_package()
        self.get_spark_s = time.perf_counter() - t
        import pyspark

        self.context["spark_version"] = self.spark.version
        self.context["pyspark_version"] = pyspark.__version__

    def ship_package(self) -> None:
        """Ship the package to the Python workers as the registry does,
        but from inside the checkout: marking the context as shipped
        keeps the registry from writing its own zip to /tmp."""
        from distributed_mapreduce_spark.workload import registry

        zip_path = os.path.join(self.run_dir, "distributed_mapreduce_spark.zip")
        pkg = os.path.join(ROOT, "distributed_mapreduce_spark")
        with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as z:
            for dp, _, fs in os.walk(pkg):
                for f in fs:
                    if f.endswith(".py"):
                        full = os.path.join(dp, f)
                        z.write(full, os.path.relpath(full, ROOT))
        self.sc.addPyFile(zip_path)
        registry._SHIPPED.add(id(self.sc))

    def stop_session(self) -> None:
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- ops --------------------------------------------------------------

    def _add_phases(self, pass_idx: int, df) -> None:
        rec = self.records.setdefault(pass_idx, {})
        for k, v in phase_ms(df).items():
            rec[k] = rec.get(k, 0.0) + v

    def _group(self, group: str) -> None:
        if self.trace:
            self.sc.setJobGroup(group, group)

    def query_op(self, op_id: str, name: str, pass_idx: int, check: bool) -> tuple[float, float]:
        """Run one query op; returns its latency and the seconds stolen
        meanwhile."""
        from distributed_mapreduce_spark.workload import QUERIES

        span = self.span
        traced = span is not _no_span
        t, s = clock()
        with span("op", op_id):
            self._group(f"{op_id}:build")
            with span("workload.build", op_id):
                df = QUERIES[name](self.spark, SF_DIR)
            if traced:
                with span("spark.plan", op_id):
                    df._jdf.queryExecution().executedPlan()
            self._group(f"{op_id}:exec")
            with span("spark.exec", op_id):
                if check:
                    rows = df.collect()
                else:
                    df.write.format("noop").mode("overwrite").save()
        t1, s1 = clock()
        if traced:
            self._add_phases(pass_idx, df)
        if check:
            c = time.perf_counter()
            want = self.oracles[name]
            ok = (
                sorted(df.columns) == want["cols"]
                and len(rows) == want["rows"]
                and rows_digest([tuple(r) for r in rows], df.columns) == want["digest"]
            )
            del rows
            self.check_s += time.perf_counter() - c
            if not ok:
                raise AssertionError(f"{name}: result differs from its DuckDB oracle")
        return t1 - t, s1 - s

    def engine_op(self, op_id: str, name: str, pass_idx: int) -> tuple[float, float]:
        """Run one Engine op; returns its latency and the seconds stolen
        meanwhile."""
        op = self.engine_ops[name]
        span = self.span
        t, s = clock()
        with span("op", op_id):
            self._group(f"{op_id}:exec")
            with span(op.layer, op_id):
                out = op.run()
        t1, s1 = clock()
        if span is not _no_span and self.mj.last_frame is not None:
            self._add_phases(pass_idx, self.mj.last_frame)
        self.mj.last_frame = None
        c = time.perf_counter()
        self._group(f"{op_id}:check")
        ok = op.check(out)
        self.check_s += time.perf_counter() - c
        if not ok:
            raise AssertionError(f"{op_id}: result differs from the generator's answer")
        return t1 - t, s1 - s

    # -- passes -----------------------------------------------------------

    def prepare(self) -> None:
        if self.args.workload == wl.MAPLEJUICE:
            from distributed_mapreduce_spark.engine import Engine

            logs = os.path.join(self.run_dir, "logs")
            exp = loggen.generate(logs, self.args.seed, LOG_MACHINES, LOG_LINES)
            engine = Engine(self.spark, os.path.join(self.run_dir, "warehouse"))
            self.mj = wl.MapleJuicePass(engine, SF_DIR, logs, self.run_dir, exp, self.cores)
            self.engine_ops = self.mj.ops()
            self.graph = wl.MAPLEJUICE_AFTER
        else:
            names = wl.QUERY_WORKLOADS[self.args.workload]
            c = time.perf_counter()
            self.oracles = oracle_answers(names, SF_DIR, self.run_dir)
            self.check_s += time.perf_counter() - c
            self.graph = dict.fromkeys(names, ())

    def run_pass(self, pass_idx: int, traced: bool, check: bool) -> float:
        """One pass over every op in the seeded order; returns the sum
        of the op latencies (checks excluded)."""
        self.span = self.tracer.span if traced else _no_span
        total = 0.0
        if self.args.workload == wl.MAPLEJUICE:
            self.mj.record = self.records.setdefault(pass_idx, {})
        for name in wl.pass_order(self.graph, self.args.seed, pass_idx):
            op_id = f"{pass_idx}.{name}"
            self.attempted += 1
            try:
                if self.args.workload == wl.MAPLEJUICE:
                    dt, stolen = self.engine_op(op_id, name, pass_idx)
                else:
                    dt, stolen = self.query_op(op_id, name, pass_idx, check)
            except Exception:
                # A raised op or a wrong result counts as failed.
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
            else:
                total += dt
                if pass_idx >= 0:
                    self.op_s[traced].setdefault(name, []).append(dt)
                    if not traced:
                        self.samples.append(dt)
                        self.stolen += stolen
                        self.op_net_s.setdefault(name, []).append(metrics.net_of_steal(dt, stolen, self.cores))
            self.spark.catalog.clearCache()
            if pass_idx >= 0:
                self.probes.append(speed_probe())
        self.span = _no_span
        return total

    def run(self) -> dict:
        self.start_session()
        try:
            leaked, rss_mb, setup_s, setup_stolen = self.measure()
        finally:
            self.stop_session()
        e2e_s = metrics.pass_time(self.op_s[False])
        tail_s, tail_pct = metrics.tail(self.tail_samples)
        ops = {
            "op_p50_s": statistics.median(statistics.median(v) for v in self.op_s[False].values()),
            "op_tail_s": tail_s,
        }
        self.context.update(
            ops, e2e_raw_s=e2e_s, setup_raw_s=setup_s, e2e_stolen_s=self.stolen, setup_stolen_s=setup_stolen,
            probe_median_s=statistics.median(self.probes),
            tail_percentile=tail_pct, tail_samples=len(self.tail_samples),
        )
        if self.trace:
            return {**self.layer_metrics(e2e_s, leaked, rss_mb), **ops}
        return {
            "setup_s": metrics.at_reference_speed(
                metrics.net_of_steal(setup_s, setup_stolen, self.cores), self.probes),
            "e2e_s": metrics.at_reference_speed(metrics.pass_time(self.op_net_s), self.probes),
        }

    def measure(self) -> tuple[int, float, float, float]:
        """Set-up, warm-up and the timed passes; returns the RDDs left
        persisted, peak RSS, set-up time and the seconds stolen in it."""
        self.prepare()
        w = time.perf_counter()
        if self.args.workload != wl.MAPLEJUICE:
            self.run_pass(-1, traced=False, check=True)
        for k in range(WARMUP_PASSES):
            self.run_pass(-2 - k, traced=False, check=False)
        self.warmup_s = time.perf_counter() - w - self.check_s
        t, s = clock()
        setup_s = t - self.t0[0] - self.check_s
        setup_stolen = s - self.t0[1]

        start = time.perf_counter()
        k = 0
        while True:
            self.passes.append(self.run_pass(k, self.trace and k % 2 == 1, check=False))
            self.context["load_per_pass"].append(os.getloadavg()[0])
            k += 1
            if k == MIN_PASSES:
                self.tail_samples = list(self.samples)
            if k >= MIN_PASSES and time.perf_counter() - start >= self.args.seconds:
                break
        self.context.update(
            pass_s=self.passes, get_spark_s=self.get_spark_s, warmup_s=self.warmup_s, check_s=self.check_s,
            op_median_s={n: statistics.median(v) for n, v in sorted(self.op_s[False].items())},
        )
        rss_mb = (_vm_hwm_kb("self") + _vm_hwm_kb(self.spark._jvm.java.lang.ProcessHandle.current().pid())) / 1024
        leaked = self.sc._jsc.getPersistentRDDs().size()
        return leaked, rss_mb, setup_s, setup_stolen

    def layer_metrics(self, e2e_s: float, leaked: int, rss_mb: float) -> dict:
        events = os.path.join(self.run_dir, "events")
        (log,) = os.listdir(events)
        groups = stage_metrics(os.path.join(events, log))
        traced = list(range(1, len(self.passes), 2))
        layers = metrics.per_pass_layers(self.tracer.spans, groups, self.records, self.cores, traced)
        traced_e2e = metrics.pass_time(self.op_s[True])
        uncovered = self.tracer.uncovered_ops()
        if uncovered:
            print(f"spans leave ops uncovered beyond tolerance: {uncovered}", file=sys.stderr)
            self.failed += len(uncovered)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        self.tracer.dump(os.path.join(BUILD, "traces", f"{self.args.workload}-seed{self.args.seed}.json"))
        return {
            **layers,
            "session.get_spark_s": self.get_spark_s,
            "session.warmup_s": self.warmup_s,
            "session.peak_rss_mb": rss_mb,
            "workload.leaked_rdds": float(leaked),
            "trace.e2e_s": traced_e2e,
            "trace.overhead_s": traced_e2e - e2e_s,
        }


def declared_units(trace: bool) -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them for a run
    with or without tracing."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=wl.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _exit_on_term(signum, frame):
    # Raise SystemExit so the ``finally`` blocks stop Spark and remove
    # the run directory.
    sys.exit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    t0 = clock()
    signal.signal(signal.SIGTERM, _exit_on_term)
    args = parse_args(argv)
    if not os.path.isdir(SF_DIR):
        raise SystemExit(f"input data not found: {SF_DIR}")
    os.makedirs(BUILD, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=BUILD)
    units = declared_units(bool(args.trace))
    bench = Bench(args, run_dir, t0)
    try:
        values = bench.run()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if set(values) != set(units):
        raise RuntimeError(f"metrics differ from BENCHMARK.json: {sorted(set(values) ^ set(units))}")
    print(json.dumps({"context": bench.context}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
