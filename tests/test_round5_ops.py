"""Semantic tests for the round-5 operators (beyond the differential
harness): BM25 against a Python brute force, RRF list-fusion
invariants, leave-one-out encoding leakage-freedom, entity-split
leakage audit, resource-allocation scoring vs brute force, and linear
interpolation boundary behavior."""

from __future__ import annotations

import pytest

import decimal
from collections import Counter, defaultdict

from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import tokens
from distributed_mapreduce_spark.workload.events import (
    INTERP_HOUR_US,
    q_events_gap_fill_interpolate,
)
from distributed_mapreduce_spark.workload.graph import (
    q_graph_resource_allocation,
)
from distributed_mapreduce_spark.workload.mlprep import (
    TE_PRICE_CUT,
    q_group_split_audit,
    q_target_encode_loo,
)
from distributed_mapreduce_spark.workload.registry import table
from distributed_mapreduce_spark.workload.retrieval import (
    BM25_QUERIES,
    BM25_TOP_K,
    q_bm25_top_docs,
    q_retrieval_rrf_fusion,
)


def _bm25_bruteforce(docs_tokens: dict[int, list[str]], terms: tuple[str, ...]):
    """Integer BM25 scores exactly as documented in retrieval.py."""
    n_docs = len(docs_tokens)
    total_len = sum(len(t) for t in docs_tokens.values())
    df = Counter()
    for toks in docs_tokens.values():
        for t in set(toks) & set(terms):
            df[t] += 1
    scores: dict[int, int] = defaultdict(int)
    for doc_id, toks in docs_tokens.items():
        dl = len(toks)
        tf = Counter(t for t in toks if t in terms)
        for t, f in tf.items():
            idf_e6 = (2 * (n_docs - df[t]) + 1) * 1_000_000 // (2 * df[t] + 1)
            num = idf_e6 * 22 * f * total_len * 1000
            den = 10 * f * total_len + 3 * total_len + 9 * dl * n_docs
            scores[doc_id] += num // den
    return scores


def test_bm25_matches_bruteforce(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = {
        r["doc_id"]: list(r["toks"])
        for r in docs.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ).collect()
    }
    got = defaultdict(dict)
    for r in q_bm25_top_docs(spark, sf_dir).collect():
        got[r["query_id"]][r["doc_id"]] = (r["score_e9"], r["rnk"])
    for qid, terms in BM25_QUERIES.items():
        scores = _bm25_bruteforce(toks, terms)
        expect = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
        expect = expect[:BM25_TOP_K]
        assert [(d, s) for d, (s, _) in sorted(
            got[qid].items(), key=lambda kv: kv[1][1]
        )] == [(d, s) for d, s in expect]


def test_bm25_rare_term_outscores_common(spark, sf_dir):
    """A doc matching only a rarer query term must outscore one
    matching only a more common term at equal tf and dl — the idf
    surrogate must preserve df ordering."""
    docs = table(spark, sf_dir, "documents")
    toks = {
        r["doc_id"]: list(r["toks"])
        for r in docs.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ).collect()
    }
    n_docs = len(toks)
    for terms in BM25_QUERIES.values():
        dfs = {
            t: sum(1 for tk in toks.values() if t in tk) for t in terms
        }
        idfs = {
            t: (2 * (n_docs - d) + 1) * 1_000_000 // (2 * d + 1)
            for t, d in dfs.items()
        }
        ordered = sorted(dfs, key=dfs.get)
        assert idfs[ordered[0]] >= idfs[ordered[-1]]


def test_rrf_fusion_invariants(spark, sf_dir):
    rows = q_retrieval_rrf_fusion(spark, sf_dir).collect()
    assert rows
    # ranks are 1..n without gaps, rrf decreasing with doc_id tiebreak
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    for a, b in zip(rows, rows[1:]):
        assert (a["rrf_e6"], -a["doc_id"]) >= (b["rrf_e6"], -b["doc_id"])
    for r in rows:
        expect = 0
        if r["lex_rnk"] is not None:
            expect += 1_000_000 // (60 + r["lex_rnk"])
        if r["sem_rnk"] is not None:
            expect += 1_000_000 // (60 + r["sem_rnk"])
        assert r["rrf_e6"] == expect
        assert r["lex_rnk"] is not None or r["sem_rnk"] is not None


def test_target_encode_loo_excludes_own_label(spark, sf_dir):
    orders = table(spark, sf_dir, "orders").collect()
    by_cat = defaultdict(list)
    for r in orders:
        by_cat[r["o_orderpriority"]].append(
            1 if r["o_totalprice"] > TE_PRICE_CUT else 0
        )
    got = {r["o_orderkey"]: r for r in q_target_encode_loo(spark, sf_dir).collect()}
    assert len(got) == len(orders)
    n_all = len(orders)
    sum_all = sum(sum(v) for v in by_cat.values())
    prior_bp = sum_all * 10000 // n_all
    for r in orders:
        cat, y = r["o_orderpriority"], 1 if r["o_totalprice"] > TE_PRICE_CUT else 0
        row = got[r["o_orderkey"]]
        assert row["y"] == y
        n, s = len(by_cat[cat]), sum(by_cat[cat])
        expect = (s - y) * 10000 // (n - 1) if n > 1 else prior_bp
        assert row["te_loo_bp"] == expect
    # leakage check: two rows of the same category with different labels
    # must get different encodings (the own-label subtraction is real)
    for cat, ys in by_cat.items():
        if 0 < sum(ys) < len(ys) and len(ys) > 1:
            rows_cat = [
                v for v in got.values() if v["cat"] == cat
            ]
            enc_by_y = {v["y"]: v["te_loo_bp"] for v in rows_cat}
            if 0 in enc_by_y and 1 in enc_by_y:
                assert enc_by_y[0] > enc_by_y[1]
            break


def test_group_split_no_leakage_and_full_coverage(spark, sf_dir):
    rows = q_group_split_audit(spark, sf_dir).collect()
    assert rows
    ev = table(spark, sf_dir, "events")
    assert sum(r["n_events"] for r in rows) == ev.count()
    for r in rows:
        assert r["leak_users"] == 0
        assert r["split"] in ("train", "val", "test")
    total_bp = sum(r["share_bp"] for r in rows)
    assert 10000 - len(rows) <= total_bp <= 10000


def test_resource_allocation_matches_bruteforce(spark, sf_dir):
    from distributed_mapreduce_spark.workload.graph import _edges

    edges = {(r["src"], r["dst"]) for r in _edges(spark, sf_dir).collect()}
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    scores = {}
    nodes = sorted(adj)
    for i, a in enumerate(nodes):
        for c in nodes[i + 1:]:
            common = adj[a] & adj[c]
            if common and (a, c) not in edges:
                scores[(a, c)] = (
                    len(common),
                    sum(1_000_000 // len(adj[b]) for b in common),
                )
    got = q_graph_resource_allocation(spark, sf_dir).collect()
    assert got
    expect = sorted(
        scores.items(), key=lambda kv: (-kv[1][1], kv[0][0], kv[0][1])
    )[: len(got)]
    assert [((r["a"], r["c"]), (r["n_common"], r["ra_e6"])) for r in got] == expect


def test_interpolation_endpoints_and_monotone_grid(spark, sf_dir):
    ev = table(spark, sf_dir, "events")
    rows = ev.select(
        "user_id", F.unix_micros("ts").alias("us"), "value", "event_id"
    ).collect()
    by_user = defaultdict(list)
    for r in rows:
        v6 = int(
            decimal.Decimal(r["value"]).scaleb(6).quantize(
                decimal.Decimal("1"), rounding=decimal.ROUND_HALF_UP
            )
        )
        by_user[r["user_id"]].append((r["us"], r["event_id"], v6))
    expect = defaultdict(dict)
    for uid, evs in by_user.items():
        evs.sort()
        for (us, _, v6), (nus, _, nv6) in zip(evs, evs[1:]):
            if nus <= us:
                continue
            h = us // INTERP_HOUR_US + 1
            while h * INTERP_HOUR_US < nus:
                g = h * INTERP_HOUR_US
                expect[uid][g] = (v6 * (nus - g) + nv6 * (g - us)) // (nus - us)
                h += 1
    got = defaultdict(dict)
    out = q_events_gap_fill_interpolate(spark, sf_dir).select(
        "user_id", F.unix_micros("ts").alias("g_us"), "value_e6"
    )
    for r in out.collect():
        got[r["user_id"]][r["g_us"]] = r["value_e6"]
    # same grid instants per user, exact interpolated values
    assert {u: set(g) for u, g in got.items()} == {
        u: set(g) for u, g in expect.items() if g
    }
    for uid, grid in expect.items():
        for g, v in grid.items():
            assert got[uid][g] == v


def test_drift_tv_matches_bruteforce(spark, sf_dir):
    from distributed_mapreduce_spark.workload.robust import q_events_drift_tv

    ev = table(spark, sf_dir, "events")
    rows = ev.select(F.unix_micros("ts").alias("us"), "event_type").collect()
    mid = (min(r["us"] for r in rows) + max(r["us"] for r in rows)) // 2
    first = Counter(r["event_type"] for r in rows if r["us"] <= mid)
    second = Counter(r["event_type"] for r in rows if r["us"] > mid)
    t1, t2 = sum(first.values()), sum(second.values())
    got = {r["event_type"]: r for r in q_events_drift_tv(spark, sf_dir).collect()}
    assert set(got) == set(first) | set(second)
    total = 0
    for et, r in got.items():
        assert r["n_first"] == first.get(et, 0)
        assert r["n_second"] == second.get(et, 0)
        expect = (
            abs(first.get(et, 0) * t2 - second.get(et, 0) * t1)
            * 1_000_000
            // (2 * t1 * t2)
        )
        assert r["tv_contrib_e6"] == expect
        total += expect
    assert all(r["tv_total_e6"] == total for r in got.values())
    # TV is a [0, 1] metric
    assert 0 <= total <= 1_000_000


def test_attribution_credit_conserved_per_purchase(spark, sf_dir):
    from distributed_mapreduce_spark.workload.journey import (
        ATTR_LOOKBACK_H,
        q_attribution_position_credit,
    )

    ev = table(spark, sf_dir, "events")
    rows = ev.select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("us")
    ).collect()
    clicks = [r for r in rows if r["event_type"] == "click"]
    purchases = [r for r in rows if r["event_type"] == "purchase"]
    lookback = ATTR_LOOKBACK_H * 3_600_000_000
    n_attributed = 0
    per_hour = Counter()
    touches_per_hour = Counter()
    for p in purchases:
        ts = [
            c
            for c in clicks
            if c["user_id"] == p["user_id"]
            and p["us"] - lookback <= c["us"] < p["us"]
        ]
        if not ts:
            continue
        n_attributed += 1
        ts.sort(key=lambda c: (c["us"], c["event_id"]))
        n = len(ts)
        for i, c in enumerate(ts):
            hour = (c["us"] // 3_600_000_000) % 24
            touches_per_hour[hour] += 1
            if n == 1:
                credit = 10000
            elif n == 2:
                credit = 5000
            elif i == 0 or i == n - 1:
                credit = 4000
            else:
                credit = 2000 // (n - 2) + (1 if i <= 2000 % (n - 2) else 0)
            per_hour[hour] += credit
    got = {
        r["click_hour"]: r
        for r in q_attribution_position_credit(spark, sf_dir).collect()
    }
    assert set(got) == set(per_hour)
    for h, r in got.items():
        assert r["credit_bp"] == per_hour[h]
        assert r["n_touches"] == touches_per_hour[h]
    # conservation: every attributed purchase hands out exactly 10000 bp
    assert sum(r["credit_bp"] for r in got.values()) == 10000 * n_attributed


def test_waterfill_caps_budget_tight_and_order_free(spark, sf_dir):
    from distributed_mapreduce_spark.workload.corpus import (
        WATERFILL_BUDGET_BP,
        q_mixture_waterfill_caps,
    )

    rows = q_mixture_waterfill_caps(spark, sf_dir).collect()
    assert rows
    total = sum(r["n_tok"] for r in rows)
    budget = total * WATERFILL_BUDGET_BP // 10000
    assert all(r["budget_tok"] == budget for r in rows)
    alloc = sum(r["alloc_tok"] for r in rows)
    assert alloc <= budget
    capped = [r for r in rows if r["capped"]]
    for r in rows:
        assert r["capped"] == (r["n_tok"] > r["cap_tok"])
        assert r["alloc_tok"] == min(r["n_tok"], r["cap_tok"])
    if capped:
        # raising the water level by 1 must overflow the budget —
        # the cap is tight, not merely feasible
        assert alloc + len(capped) > budget


def test_ann_ndcg_audit_matches_bruteforce(spark, sf_dir):
    import math

    from distributed_mapreduce_spark.workload.similarity import (
        N_QUERIES,
        NDCG_K,
        NDCG_W,
        q_ann_ndcg_audit,
    )

    emb = {
        r["vec_id"]: (list(r["embedding"]), r["label"])
        for r in table(spark, sf_dir, "embeddings").collect()
    }

    def cos_u(a, b):
        # identical IEEE op order to both engines' left fold
        dot = 0.0
        for x, y in zip(a, b):
            dot += float(x) * float(y)
        na = 0.0
        for x in a:
            na += float(x) * float(x)
        nb = 0.0
        for y in b:
            nb += float(y) * float(y)
        return math.floor(dot / (math.sqrt(na) * math.sqrt(nb)) * 1_000_000.0)

    got = {r["query_id"]: r for r in q_ann_ndcg_audit(spark, sf_dir).collect()}
    for qid in range(N_QUERIES):
        qv, cell = emb[qid]
        ranked = sorted(
            (
                (-cos_u(qv, v), nid)
                for nid, (v, _) in emb.items()
                if nid != qid
            ),
        )
        exact = [nid for _, nid in ranked[:NDCG_K]]
        in_cell = sorted(
            (
                (-cos_u(qv, v), nid)
                for nid, (v, lbl) in emb.items()
                if nid != qid and lbl == cell
            ),
        )
        approx = [nid for _, nid in in_cell[:NDCG_K]]
        dcg = sum(
            NDCG_W[i + 1] for i, nid in enumerate(approx) if nid in set(exact)
        )
        idcg = sum(NDCG_W[i + 1] for i in range(len(exact)))
        row = got[qid]
        assert row["dcg_e6"] == dcg
        assert row["idcg_e6"] == idcg
        assert row["n_relevant"] == len(set(approx) & set(exact))
        assert row["ndcg_bp"] == dcg * 10000 // idcg
        assert 0 <= row["ndcg_bp"] <= 10000


def test_coverage_greedy_matches_bruteforce(spark, sf_dir):
    from distributed_mapreduce_spark.workload.corpus import (
        COVER_ROUNDS,
        q_corpus_coverage_greedy,
    )

    docs = table(spark, sf_dir, "documents")
    rows = docs.select("source", tokens(F.col("text")).alias("toks")).collect()
    by_src = defaultdict(set)
    for r in rows:
        ts = list(r["toks"])
        by_src[r["source"]].update(
            f"{a} {b}" for a, b in zip(ts, ts[1:])
        )
    covered: set = set()
    picked = []
    expect = []
    for rnd in range(1, COVER_ROUNDS + 1):
        best = min(
            ((-len(by_src[s] - covered), s) for s in by_src if s not in picked),
        )
        gain, src = -best[0], best[1]
        picked.append(src)
        covered |= by_src[src]
        expect.append((rnd, src, gain, len(covered)))
    got = sorted(
        (r["round"], r["source"], r["gain"], r["covered_total"])
        for r in q_corpus_coverage_greedy(spark, sf_dir).collect()
    )
    assert got == expect
    # submodularity: marginal gains never increase along the greedy path
    gains = [g for _, _, g, _ in expect]
    assert gains == sorted(gains, reverse=True)


def test_cusum_closed_form_equals_recursion(spark, sf_dir):
    """The windowed closed form C_h = S_h - min(0, min_{j<=h} S_j) must
    equal the sequential max(0, C + x) recursion exactly."""
    import datetime as dt

    from distributed_mapreduce_spark.workload.robust import (
        q_events_cusum_changepoint,
    )

    ev = table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("h"),
    ).collect()
    counts = Counter((r["event_type"], r["h"]) for r in rows)
    hours = sorted({r["h"] for r in rows})
    h0, h1 = hours[0], hours[-1]
    spine = []
    h = h0
    while h <= h1:
        spine.append(h)
        h = h + dt.timedelta(hours=1)
    types = sorted({r["event_type"] for r in rows})
    got = {r["event_type"]: r for r in q_events_cusum_changepoint(spark, sf_dir).collect()}
    assert set(got) == set(types)
    for et in types:
        ns = [counts.get((et, h), 0) for h in spine]
        total = sum(ns)
        ref = total * 1_000_000 // len(spine)
        c = 0
        best = (-1, None)
        for h, n in zip(spine, ns):
            c = max(0, c + n * 1_000_000 - ref)
            if c > best[0]:
                best = (c, h)
        r = got[et]
        assert r["total"] == total
        assert r["n_hours"] == len(spine)
        assert r["ref_e6"] == ref
        assert r["max_cusum_e6"] == best[0]
        assert r["peak_hour"] == best[1]


def test_temporal_reachability_matches_bruteforce(spark, sf_dir):
    from distributed_mapreduce_spark.workload.graph import (
        EDGE_GATE_MOD,
        TEMPORAL_HOPS,
        TEMPORAL_SEED_MOD,
        q_graph_temporal_reachability,
    )

    li = (
        table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % EDGE_GATE_MOD == 0)
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.unix_micros("o_orderdate").alias("t")
    )
    parts_by_order = defaultdict(set)
    for r in li.collect():
        parts_by_order[r["l_orderkey"]].add(r["l_partkey"])
    t_by_order = {r["o_orderkey"]: r["t"] for r in orders.collect()}
    tedges = set()
    for ok, parts in parts_by_order.items():
        t = t_by_order[ok]
        for u in parts:
            for v in parts:
                if u != v:
                    tedges.add((u, v, t))
    out = defaultdict(list)
    for u, v, t in tedges:
        out[u].append((v, t))
    arr = {
        u: -1
        for u in {u for u, _, _ in tedges}
        if u % TEMPORAL_SEED_MOD == 0
    }
    for _ in range(TEMPORAL_HOPS):
        new = dict(arr)
        for node, a in arr.items():
            for v, t in out.get(node, ()):
                if t > a and (v not in new or t < new[v]):
                    new[v] = t
        # fold minima exactly like the per-round group-by
        for k, v in arr.items():
            new[k] = min(new[k], v) if k in new else v
        arr = new
    got = {
        r["node"]: r["arr_us"]
        for r in q_graph_temporal_reachability(spark, sf_dir).collect()
    }
    assert got == arr
    # time-respecting invariant: no non-seed arrival precedes a seed hop
    assert all(a == -1 or a > 0 for a in got.values())


@pytest.mark.deepaudit  # ~11 s full-corpus roundtrip; encode/decode queries are oracle-graded
def test_tokenizer_roundtrip_is_lossless(spark, sf_dir):
    from distributed_mapreduce_spark.workload.bpe import (
        q_tokenizer_roundtrip_audit,
        _train_merges,
    )

    rows = q_tokenizer_roundtrip_audit(spark, sf_dir).collect()
    assert rows
    assert all(r["n_roundtrip_violations"] == 0 for r in rows)
    # inventory sanity vs the trained word table
    _, words = _train_merges(spark, sf_dir)
    wt = {r["word"]: (r["freq"], list(r["syms"])) for r in words.collect()}
    usage = Counter()
    n_words = defaultdict(set)
    for w, (f, syms) in wt.items():
        assert "".join(syms) == w
        for s in syms:
            usage[s] += f
            n_words[s].add(w)
    got = {r["symbol"]: r for r in rows}
    assert set(got) == set(usage)
    for s, r in got.items():
        assert r["usage"] == usage[s]
        assert r["n_words"] == len(n_words[s])
        assert r["sym_len"] == len(s)


def test_combined_decontam_verdict_is_union_of_gates(spark, sf_dir):
    from distributed_mapreduce_spark.workload.corpus import (
        q_decontam_combined_verdict,
        q_decontam_ngram_overlap,
    )
    from distributed_mapreduce_spark.workload.similarity import (
        q_decontam_semantic_overlap,
    )

    ng = {
        r["doc_id"]: r["n_shared"]
        for r in q_decontam_ngram_overlap(spark, sf_dir).collect()
        if r["contaminated"]
    }
    sem = {
        r["vec_id"]: r["max_cos_u"]
        for r in q_decontam_semantic_overlap(spark, sf_dir).collect()
    }
    got = {r["doc_id"]: r for r in q_decontam_combined_verdict(spark, sf_dir).collect()}
    assert set(got) == set(ng) | set(sem)
    for d, r in got.items():
        assert r["ngram_hit"] == (d in ng)
        assert r["semantic_hit"] == (d in sem)
        assert r["n_shared"] == ng.get(d)
        assert r["max_cos_u"] == sem.get(d)
        expect = (
            "both" if d in ng and d in sem
            else "ngram_only" if d in ng
            else "semantic_only"
        )
        assert r["verdict"] == expect


def test_int8_quant_audit_error_bound(spark, sf_dir):
    """Quantization error must respect the grid bound: for a 255-step
    grid over [min, max], every absolute error < span/255 + 1 µ-unit
    (the +1 from the two integer floors)."""
    from distributed_mapreduce_spark.workload.similarity import (
        q_embedding_int8_quant_audit,
    )

    rows = q_embedding_int8_quant_audit(spark, sf_dir).collect()
    assert rows
    dims = {r["dim"] for r in rows}
    assert dims == set(range(1, len(dims) + 1))
    for r in rows:
        span = r["max_u"] - r["min_u"]
        assert r["min_u"] <= r["max_u"]
        bound = span // 255 + (1 if span % 255 else 0) + 1
        assert 0 <= r["mean_abs_err_u"] <= r["max_err_u"] <= bound


def test_bm25_adaptive_persist_branches_agree(spark, sf_dir, monkeypatch):
    """r13 (VERDICT r12 #7): the adaptive corpus-persist decision must
    (a) pick the no-persist branch below the byte threshold and the
    persist branch above it, and (b) produce IDENTICAL rows either way
    — the persist is a plan property, never a result property."""
    from distributed_mapreduce_spark.plans import explain_str
    from distributed_mapreduce_spark.workload import retrieval
    from distributed_mapreduce_spark.workload.registry import table as _table
    from distributed_mapreduce_spark.workload.retrieval import (
        _bm25_persist_corpus,
        q_bm25_top_docs,
    )

    docs = _table(spark, sf_dir, "documents")
    # sf0.001 documents are a few kB — far below the 256 MiB default
    assert _bm25_persist_corpus(docs) is False
    plain = q_bm25_top_docs(spark, sf_dir)
    assert "InMemoryTableScan" not in explain_str(plain)
    base = sorted(map(tuple, plain.collect()))

    monkeypatch.setattr(retrieval, "BM25_PERSIST_BYTES", 1)
    assert _bm25_persist_corpus(docs) is True
    try:
        cached_df = q_bm25_top_docs(spark, sf_dir)
        assert "InMemoryTableScan" in explain_str(cached_df)
        cached = sorted(map(tuple, cached_df.collect()))
    finally:
        spark.catalog.clearCache()
    assert base == cached
