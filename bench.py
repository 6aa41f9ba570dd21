"""Benchmark runner (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized with a `noop` write (full execution, no
driver-side row transfer) so the measurement is engine time, not
collect() serialization.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

#: Headline queries: the flagship parity pipeline plus one representative
#: per workload family (agg, join, window, text, dedup, ANN, events).
#: Rows whose builder EXECUTES the query (streaming drains): the bench
#: timer starts before the builder for these (see the timing-boundary
#: comment in the trial loop). None are currently in HEADLINE. Note:
#: since round 12 `stream_events_tumbling`'s builder also runs an
#: in-session batch-twin differential (self-diagnosis, VERDICT r11 #1)
#: costing ~0.2 s at sf0.1 — included here so any future timing of this
#: row is read as stream + differential, not stream alone.
MATERIALIZING = {"stream_events_tumbling"}

HEADLINE = [
    "flagship_pct",
    "agg_q1",
    "group_count",
    "wordcount",
    "join_multiway",
    "tpch_q3_shipping",
    "tpch_q5_region_volume",
    "topk",
    "window_running",
    "select_regex",
    "tpch_q18_large_orders",
    "dedup_minhash_pairs",
    "dedup_simhash",
    "ann_ivf",
    "ann_lsh",
    "events_tumbling",
    "events_sessionize",
    # round-2 additions (no round-1 baseline): layout, rollup, sampling,
    # sketches, scrub, integrity
    "zorder_assign",
    "events_multi_rollup",
    "events_stratified_sample",
    "approx_distinct_counts",
    "text_scrub_pii",
    "table_checksum",
    # round-2 second wave: corpus quality/vocab, graph, clustering,
    # journey, sketches
    "quality_repetition",
    "vocab_build",
    "graph_triangle_counts",
    "kmeans_assign",
    "events_funnel",
    "bloom_probe_stats",
    # round-3 additions: iterative fixed-point, corpus decontamination,
    # distributed prefix-sum packing, cross-doc passage index
    "pagerank_converge",
    "decontam_ngram_overlap",
    "text_packing",
    "dedup_repeated_passages",
    # round-4 additions: heavy-hitter skew pair (same oracle-certified
    # result, two physical strategies — the delta IS the measured skew
    # effect; see workload/skew_q.py and README "Skew")
    "skew_join_plain",
    "skew_join_salted",
    # round-4 second wave: tokenizer training, compressed-vector ANN,
    # sweep-line concurrency, first-occurrence novelty index
    "tokenizer_bpe_merges",
    "ann_pq_adc",
    "sessions_peak_concurrency",
    "text_ngram_novelty",
    # round-5 additions: ranked retrieval + hybrid fusion, leakage-free
    # encoding, grid interpolation, drift monitor
    "bm25_top_docs",
    "retrieval_rrf_fusion",
    "target_encode_loo",
    "events_gap_fill_interpolate",
    "events_drift_tv",
    # round-6 additions: exact-substring span dedup, learned quality
    # gate, positional phrase retrieval, radius similarity search
    "dedup_exact_substring_runs",
    "quality_model_logit",
    "retrieval_phrase_match",
    "ann_range_search",
    # late round-6 additions: DSIR importance resampling, the
    # exact-substring strip transformation, PRF two-pass retrieval
    "dsir_importance_weights",
    "dedup_exact_substring_strip",
    "retrieval_prf_expansion",
    # round-7 additions: truss peel + seed PPR (iterative graph),
    # denoised hard-negative mining (retrieval x embedding compose),
    # exact AUC (ranking eval), per-source cap, SemDeDup verdicts
    "graph_ktruss_peel",
    "graph_ppr_seed",
    "retrieval_hard_negatives",
    "auc_rank_audit",
    "corpus_domain_cap",
    "semdedup_keep_verdicts",
    # late round-7: perceptual image pairs, blocked record linkage
    "multimodal_phash_pairs",
    "er_fellegi_sunter",
    # round-7 closing wave: guaranteed-coverage fingerprinting, fuzzy
    # edit-distance dedup (q-gram pruned), grid DBSCAN, integer PCA
    # probe, distributed-prefix-sum KS drift test
    "dedup_winnowing_fingerprints",
    "dedup_edit_distance_pairs",
    "clustering_density_grid",
    "embedding_pca_power_probe",
    "ks_statistic_returnflag",
    # late round-7 second wave: band-scheme recall audit (runs both
    # dedup pair pipelines + compares), RAKE keyword extraction
    # (islands + word-graph join + top-k), ring partitioner (bucketed
    # successor join), Markov fixed point (windowed matrix + bounded
    # iteration)
    "dedup_lsh_recall_audit",
    "text_rake_keywords",
    "partition_consistent_ring",
    "events_markov_stationary",
    # round-8: the recall audit's production half (band candidates +
    # verify, no truth set) — the per-ingest-batch dedup path, now a
    # first-class scaling family (VERDICT r07 #4)
    "dedup_lsh_candidates",
]


#: Timed trials per query; the reported figure is the per-query MIN, so a
#: background burst inflates at most the trial it lands on, not the
#: artifact (round-2's recorded bench was ~1.35x ambient-load noise).
TRIALS = int(os.environ.get("SPARK_GRAFT_BENCH_TRIALS", "3"))
#: Idle gate (VERDICT r07 #8): timing only starts once the 1-minute
#: loadavg is below this. The round-7 worktree drift (42.5 s committed
#: at loadavg 0.5 vs 47.7 s re-run at 5.57) is exactly the noise this
#: formalizes away; the gate threshold and the observed loadavg are both
#: recorded in the artifact so a loaded-machine run is self-evidently
#: non-comparable.
LOAD_GUARD = float(os.environ.get("SPARK_GRAFT_BENCH_MAXLOAD", "1.0"))


def wait_for_quiet(max_wait_s: float = 600.0) -> float:
    """Idle gate: wait (bounded) for the 1-minute loadavg to drop below
    LOAD_GUARD before timing starts. Returns the loadavg observed when
    timing begins — if it is still above the gate after the bounded
    wait, timing proceeds but the artifact records idle_gate_met=false
    rather than silently publishing a non-comparable number."""
    deadline = time.monotonic() + max_wait_s
    load = os.getloadavg()[0]
    while load > LOAD_GUARD and time.monotonic() < deadline:
        time.sleep(5.0)
        load = os.getloadavg()[0]
    return load


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    from distributed_mapreduce_spark.session import get_spark
    from distributed_mapreduce_spark.workload import QUERIES

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=cpus)
    # The driver records only a 2 kB tail of stdout and parses the JSON
    # line out of it; WindowExec emits a WARN per whitelisted bounded
    # window (≤|types|-row normalizers) which nearly crowds the line
    # out (VERDICT r09 #5). The warnings are audited elsewhere: the
    # pytest window audit enforces that no UNBOUNDED relation flows
    # into a global window, with negative controls.
    spark.sparkContext.setLogLevel("ERROR")

    # Warm up the JVM/IO path once (not timed): tiny scan + shuffle.
    QUERIES["flagship_pct"](spark, sf_dir).write.format("noop").mode("overwrite").save()

    load_at_start = round(wait_for_quiet(), 2)

    times: dict[str, float] = {}
    for name in HEADLINE:
        best = float("inf")
        for _ in range(max(1, TRIALS)):
            # Round-8 methodology fix: queries that persist() an
            # intermediate (shingle table, Markov matrix, ranged rank
            # relations) must not ride a PREVIOUS invocation's cache —
            # Spark's CacheManager matches re-built identical plans, so
            # without this clear trial 2+ measured only the post-cache
            # stages (and the DuckDB anchor comparison would be unfair:
            # DuckDB re-executes from the base tables every run).
            # Intra-query persist within one trial is unaffected.
            spark.catalog.clearCache()
            # Timing boundary (ADVICE r10): MATERIALIZING rows execute
            # at build time (the streaming drain in
            # workload/streaming_q.py), so for those the timer starts
            # BEFORE the builder — otherwise their cost reads as ~0.
            # Every other row keeps the series' historical boundary
            # (timer around the write only): the iterative builders
            # run eager localCheckpoint() stages at build, and moving
            # the timer for them REDEFINES the metric mid-series
            # (measured +67% on the identical 69-query set, round 11)
            # — the build-time-checkpoint caveat is documented in the
            # artifact's `timing_note` instead.
            if name in MATERIALIZING:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, sf_dir)
            else:
                df = QUERIES[name](spark, sf_dir)
                t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
        times[name] = round(best, 3)

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "trials": TRIALS,
        "load_gate": LOAD_GUARD,
        "loadavg_at_start": load_at_start,
        "idle_gate_met": load_at_start <= LOAD_GUARD,
        "timing_note": (
            "per-query seconds time the noop write after plan build; "
            "iterative builders run eager localCheckpoint() stages at "
            "build which are NOT in these numbers (the series-long "
            "boundary) — their vs-DuckDB ratios compare post-checkpoint "
            "execution only; MATERIALIZING rows (streaming drains) time "
            "the builder too"
        ),
        # r07 and earlier benches let trial 2+ ride trial 1's DataFrame
        # cache for persist()-using queries; r08 clears between trials,
        # so per-query r07->r08 deltas on those queries reflect the
        # methodology fix, not regressions.
        "cache_policy": "clearCache() before every timed trial",
    }
    # Committed round artifacts folded into the bench line so the
    # driver's BENCH_r{N}.json carries them: the x1-vs-x10 scaling
    # slope (tools/scaling_bench.py), the full-registry sf0.01 cost
    # accounting (tools/check_correctness.py), and the external
    # DuckDB-oracle timing anchor (tools/duckdb_anchor.py).
    here = os.path.dirname(os.path.abspath(__file__))
    anchor_file = os.environ.get(
        "SPARK_GRAFT_ANCHOR_PATH", "DUCKDB_ANCHOR.json"
    )
    for key, fnames in (
        ("scaling", ("SCALING_r11.json", "SCALING_r10.json", "SCALING_r09.json")),
        ("registry_cost", ("REGISTRY_COST.json",)),
        ("duckdb_anchor", (anchor_file,)),
    ):
        p = next(
            (
                q
                for q in (os.path.join(here, f) for f in fnames)
                if os.path.exists(q)
            ),
            None,
        )
        if p:
            try:
                with open(p) as f:
                    out[key] = json.load(f)
            except (OSError, json.JSONDecodeError):
                pass
    # Engine-vs-engine ratio table (VERDICT r07 #1): Spark wall time /
    # DuckDB-oracle wall time per headline query, at matching sf. >2x
    # marks a tuning target; <1 means the distributed plan already beats
    # the single-node engine on one box.
    anchor = out.get("duckdb_anchor")
    if anchor and anchor.get("sf_dir", "").rstrip("/") == sf_dir.rstrip("/"):
        per_q = {}
        ratios = []
        # Headline queries the anchor did NOT time (rows-only oracles,
        # or quadratic-by-definition oracles excluded via
        # SPARK_GRAFT_ANCHOR_SKIP at big SF). They are absent from both
        # sides of every ratio below; carry the count so the headline
        # aggregate is visibly partial instead of silently complete
        # (ADVICE r09: a skipped slowest-DuckDB query would otherwise
        # inflate the sf1.0 ratio with no marker in the parsed line).
        n_skipped = sum(1 for n in times if not anchor["queries"].get(n))
        for name, spark_sec in times.items():
            d = anchor["queries"].get(name)
            if d:
                ratio = round(spark_sec / d, 3)
                per_q[name] = {
                    "spark_sec": spark_sec,
                    "duckdb_sec": d,
                    "ratio": ratio,
                }
                ratios.append(ratio)
        if ratios:
            ratios.sort()
            # Stratify by DuckDB cost: on a ~60 MB sf0.1 input DuckDB
            # answers small queries in single-digit milliseconds while
            # Spark pays a fixed ~0.2-0.9 s job-scheduling/shuffle
            # floor per query — those ratios measure the floor, not the
            # plan. The heavy subset (duckdb_sec >= 1 s, real work on
            # both engines) is the comparison that extrapolates to the
            # 100 TB design point; the aggregate total weights each
            # query by its true cost.
            heavy = {
                n: v for n, v in per_q.items() if v["duckdb_sec"] >= 1.0
            }
            hr = sorted(v["ratio"] for v in heavy.values())
            tot_s = round(sum(v["spark_sec"] for v in per_q.values()), 3)
            tot_d = round(sum(v["duckdb_sec"] for v in per_q.values()), 3)
            out["vs_duckdb"] = {
                "per_query": per_q,
                "n_compared": len(ratios),
                "n_skipped": n_skipped,
                "skipped": sorted(n for n in times if not anchor["queries"].get(n)),
                "median_ratio": ratios[len(ratios) // 2],
                "n_spark_faster": sum(1 for r in ratios if r < 1.0),
                "total_spark_sec": tot_s,
                "total_duckdb_sec": tot_d,
                "aggregate_ratio": round(tot_s / tot_d, 3) if tot_d else None,
                "n_heavy": len(heavy),
                "median_ratio_heavy": hr[len(hr) // 2] if hr else None,
                "n_spark_faster_heavy": sum(1 for r in hr if r < 1.0),
                "flagged_over_2x_heavy": sorted(
                    n for n, v in heavy.items() if v["ratio"] > 2.0
                ),
                "flagged_over_2x": sorted(
                    n for n, v in per_q.items() if v["ratio"] > 2.0
                ),
            }
    # Anchor hygiene (VERDICT r12 #3/#8): the r12 same-day anchor
    # refresh converted driver-box drift into an apparent Spark
    # improvement because the committed denominator changed mid-series.
    # The ratio is therefore ALSO computed against the PINNED r11-era
    # anchor (DUCKDB_ANCHOR_r11.json, extracted verbatim from the r11
    # tree and never refreshed) so both series are reproducible from
    # committed artifacts alone; DUCKDB_ANCHOR.json is not refreshed
    # this round.
    pinned = os.path.join(here, "DUCKDB_ANCHOR_r11.json")
    if os.path.exists(pinned):
        try:
            with open(pinned) as f:
                old_anchor = json.load(f)
        except (OSError, json.JSONDecodeError):
            old_anchor = None
        if old_anchor and old_anchor.get("sf_dir", "").rstrip("/") == sf_dir.rstrip("/"):
            out["vs_duckdb_r11_anchor"] = anchor_totals(times, old_anchor["queries"])
    # The driver's BENCH_r{N}.json keeps only a 2000-char tail of stdout
    # and parses a JSON line out of it: rounds 1-3 (line <= ~1 kB) have
    # `parsed` populated, rounds 4-8 (per-query table pushed the line
    # past 2 kB) have `parsed: null`. Persist the FULL result as a
    # committed artifact, then print a compact line guaranteed to fit
    # the driver's tail window as the only stdout output.
    self_path = os.environ.get(
        "SPARK_GRAFT_BENCH_SELF", os.path.join(here, "BENCH_SELF_r13.json")
    )
    try:
        with open(self_path, "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
    except OSError:
        pass
    print(json.dumps(compact_line(out, os.path.basename(self_path))))


def anchor_totals(times: dict[str, float], anchor: dict) -> dict:
    """Spark and DuckDB totals over ONE set of compared queries: those
    timed here whose anchor entry is a positive number. A 0.0 or null
    anchor entry is left out of both sums, so it can neither skew the
    ratio nor break the sum."""
    compared = [
        n
        for n in times
        if isinstance(anchor.get(n), (int, float)) and anchor[n] > 0
    ]
    tot_s = round(sum(times[n] for n in compared), 3)
    tot_d = round(sum(anchor[n] for n in compared), 3)
    return {
        "n_compared": len(compared),
        "total_spark_sec": tot_s,
        "total_duckdb_sec": tot_d,
        "aggregate_ratio": round(tot_s / tot_d, 3) if tot_d else None,
    }


def compact_line(out: dict, self_name: str, budget: int = 1800) -> dict:
    """Contract-shaped summary that serializes under `budget` bytes.

    Keeps `metric`/`value`/`unit`/`sf` and as many per-query timings as
    fit (heaviest first — those are the ones a reader compares across
    rounds); the dropped light queries are counted in
    `queries_omitted` and live in full in the committed self artifact.
    """
    vs = out.get("vs_duckdb") or {}
    compact = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "trials": out.get("trials"),
        "idle_gate_met": out.get("idle_gate_met"),
        "n_queries": len(out["queries"]),
        "full_artifact": self_name,
        "queries": {},
    }
    for k in (
        "aggregate_ratio",
        "median_ratio_heavy",
        "n_heavy",
        "n_spark_faster_heavy",
        "n_skipped",
    ):
        if k in vs:
            compact[f"vs_duckdb_{k}"] = vs[k]
    old = out.get("vs_duckdb_r11_anchor") or {}
    if old.get("aggregate_ratio") is not None:
        compact["vs_duckdb_r11_anchor_ratio"] = old["aggregate_ratio"]
    by_cost = sorted(out["queries"].items(), key=lambda kv: -kv[1])
    for name, sec in by_cost:
        compact["queries"][name] = sec
        if len(json.dumps(compact)) > budget - 40:
            del compact["queries"][name]
            break
    compact["queries_omitted"] = len(out["queries"]) - len(compact["queries"])
    return compact


if __name__ == "__main__":
    main()
