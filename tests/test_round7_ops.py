"""Semantic tests for the round-7 operators — invariants that must
hold beyond the oracle hash-equality the driver already checks."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import hash_u32, tokens
from distributed_mapreduce_spark.workload import QUERIES


def test_auc_rank_audit_matches_pairwise_definition(spark, sf_dir):
    """2U from the windowed rank-sum must equal the brute-force pairwise
    definition 2U = Σ 2·[s_p > s_n] + [s_p = s_n] computed independently
    over the collected scores (O(n²) is fine at sf0.001)."""
    from distributed_mapreduce_spark.workload.mlprep import (
        AUC_SCORE_DIV,
        TE_PRICE_CUT,
    )
    from distributed_mapreduce_spark.workload.registry import table

    row = QUERIES["auc_rank_audit"](spark, sf_dir).collect()[0]
    orders = table(spark, sf_dir, "orders").select(
        F.expr(f"CAST(floor(o_totalprice) AS BIGINT) DIV {AUC_SCORE_DIV}").alias("s"),
        (F.col("o_totalprice") > TE_PRICE_CUT).alias("y"),
    ).collect()
    pos = sorted(r.s for r in orders if r.y)
    neg = sorted(r.s for r in orders if not r.y)
    import bisect

    two_u = 0
    for p in pos:
        lt = bisect.bisect_left(neg, p)
        eq = bisect.bisect_right(neg, p) - lt
        two_u += 2 * lt + eq
    assert row.n_pos == len(pos) and row.n_neg == len(neg)
    assert row.two_u == two_u
    assert 0 <= row.auc_ppm <= 1_000_000
    assert row.auc_ppm == (1_000_000 * two_u) // (2 * len(pos) * len(neg))


def test_contrastive_negatives_invariants(spark, sf_dir):
    """Exactly NEG_K negatives per anchor, never sharing the anchor's
    source, and bit-identical across runs (deterministic hash draw)."""
    from distributed_mapreduce_spark.workload.mlprep import NEG_K
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["contrastive_negatives"](spark, sf_dir).collect()
    src = {
        r.doc_id: r.source
        for r in table(spark, sf_dir, "documents").select("doc_id", "source").collect()
    }
    per_anchor: dict[int, list] = {}
    for r in rows:
        per_anchor.setdefault(r.anchor_id, []).append(r)
        assert src[r.neg_id] != src[r.anchor_id], "negative shares anchor source"
    assert all(len(v) == NEG_K for v in per_anchor.values())
    rows2 = QUERIES["contrastive_negatives"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_corpus_domain_cap_arithmetic(spark, sf_dir):
    from distributed_mapreduce_spark.workload.corpus import DOMAIN_CAP

    for r in QUERIES["corpus_domain_cap"](spark, sf_dir).collect():
        assert r.n_kept <= DOMAIN_CAP
        assert r.n_kept == min(DOMAIN_CAP, r.n_total)
        assert r.n_kept + r.n_dropped == r.n_total


def test_semdedup_verdicts_consistent_with_pairs(spark, sf_dir):
    """keep ⇔ no lower-id near-dup; every pair member has a verdict row
    and every pair's higher member is dropped."""
    verdicts = {
        r.vec_id: r for r in QUERIES["semdedup_keep_verdicts"](spark, sf_dir).collect()
    }
    pairs = QUERIES["embedding_near_dup"](spark, sf_dir).collect()
    for p in pairs:
        assert p.vec_a in verdicts and p.vec_b in verdicts
        assert verdicts[p.vec_b].n_dup_lower >= 1
        assert not verdicts[p.vec_b].keep
    for v in verdicts.values():
        assert v.keep == (v.n_dup_lower == 0)


def test_ktruss_peel_monotone_and_thresholded(spark, sf_dir):
    """Survivors carry support ≥ k−2 and are a subset of the round-0
    support-qualified edges (peeling only removes)."""
    from distributed_mapreduce_spark.workload.graph import KTRUSS_K

    final = QUERIES["graph_ktruss_peel"](spark, sf_dir).collect()
    sup0 = {
        (r.src, r.dst): r.support
        for r in QUERIES["graph_edge_support"](spark, sf_dir).collect()
    }
    for r in final:
        assert r.support >= KTRUSS_K - 2
        # an edge alive after peeling was support-qualified in round 0,
        # and peeling cannot INCREASE support
        assert sup0[(r.src, r.dst)] >= KTRUSS_K - 2
        assert r.support <= sup0[(r.src, r.dst)]


def test_ppr_seed_mass_conservation(spark, sf_dir):
    """Masses positive, the seed stays ranked (restart re-injection),
    and no node's mass exceeds the total injected mass."""
    from distributed_mapreduce_spark.workload.iterative import (
        PPR_M0,
        PPR_RESTART,
        PPR_ROUNDS,
        PPR_SEED_NODE,
    )

    rows = QUERIES["graph_ppr_seed"](spark, sf_dir).collect()
    injected = PPR_M0 + PPR_ROUNDS * PPR_RESTART
    assert all(r.m > 0 for r in rows)
    assert any(r.u == PPR_SEED_NODE for r in rows), "seed must rank"
    assert max(r.m for r in rows) <= injected
    # descending by mass with id tiebreak
    key = [(-r.m, r.u) for r in rows]
    assert key == sorted(key)


def test_hard_negatives_rank_window_and_denoise_flag(spark, sf_dir):
    from distributed_mapreduce_spark.workload.retrieval import (
        HN_CAND,
        HN_COS_U,
        HN_POS,
    )

    rows = QUERIES["retrieval_hard_negatives"](spark, sf_dir).collect()
    assert len(rows) == HN_CAND
    for r in rows:
        assert HN_POS < r.rnk <= HN_POS + HN_CAND
        assert r.kept == (r.cos_to_top_u < HN_COS_U)


def test_ltr_features_agree_with_bm25_ranking(spark, sf_dir):
    """The feature matrix's (query, doc, score, rnk) must agree with
    bm25_top_docs on the common prefix, and features must be sane."""
    from distributed_mapreduce_spark.workload.retrieval import BM25_TOP_K

    feats = QUERIES["ltr_feature_matrix"](spark, sf_dir).collect()
    top = {
        (r.query_id, r.doc_id): (r.score_e9, r.rnk)
        for r in QUERIES["bm25_top_docs"](spark, sf_dir).collect()
    }
    seen = 0
    for r in feats:
        assert r.n_match_terms >= 1 and r.tf_sum >= r.n_match_terms
        assert r.dl > 0 and r.idf_max_e6 > 0
        if (r.query_id, r.doc_id) in top:
            assert top[(r.query_id, r.doc_id)] == (r.score_e9, r.rnk)
            seen += 1
    assert seen == len(top), "every bm25 top row appears in the matrix"
    assert len(feats) >= seen
    _ = BM25_TOP_K  # geometry sanity: matrix depth >= bm25 depth
    assert max(r.rnk for r in feats) <= 20


def test_split_cluster_safe_no_leakage_and_total(spark, sf_dir):
    rows = QUERIES["split_cluster_safe"](spark, sf_dir).collect()
    assert all(r.leak_pairs == 0 for r in rows)
    assert sum(r.n_docs for r in rows) == 500
    assert {r.split for r in rows} <= {"train", "val", "test"}


def test_deletion_propagation_proof_columns(spark, sf_dir):
    from distributed_mapreduce_spark.workload.registry import table
    from distributed_mapreduce_spark.workload.validation import RTBF_MOD

    row = QUERIES["governance_deletion_propagation"](spark, sf_dir).collect()[0]
    docs = table(spark, sf_dir, "documents")
    n_del = docs.filter(F.col("doc_id") % RTBF_MOD == 0).count()
    assert row.residual_refs == 0
    assert row.n_deleted == n_del
    assert row.groups_emptied <= row.groups_touched
    assert row.keepers_reassigned <= row.groups_touched


def test_quality_rank_blend_matches_local_recompute(spark, sf_dir):
    """The distributed global_rank twin must equal a driver-side rank
    computation over the same signals (total-order tiebreaks)."""
    from distributed_mapreduce_spark.workload.quality import RANK_BLEND_TOP

    got = QUERIES["quality_rank_blend"](spark, sf_dir).collect()
    sig = {
        r.doc_id: (r.stop_bp, r.punct_bp)
        for r in QUERIES["text_quality_score"](spark, sf_dir)
        .selectExpr("doc_id", "stopword_bp AS stop_bp", "punct_bp")
        .collect()
    }
    by_stop = sorted(sig, key=lambda d: (-sig[d][0], d))
    by_punct = sorted(sig, key=lambda d: (sig[d][1], d))
    r_stop = {d: i + 1 for i, d in enumerate(by_stop)}
    r_punct = {d: i + 1 for i, d in enumerate(by_punct)}
    blend = sorted(sig, key=lambda d: (r_stop[d] + r_punct[d], d))[:RANK_BLEND_TOP]
    assert [r.doc_id for r in got] == blend
    for r in got:
        assert (r.r_stop, r.r_punct, r.blend) == (
            r_stop[r.doc_id],
            r_punct[r.doc_id],
            r_stop[r.doc_id] + r_punct[r.doc_id],
        )


def test_dedup_qa_sample_stratification(spark, sf_dir):
    """≤ QA_PER_BUCKET pairs per cosine band, every sampled pair is a
    real near-dup pair with the same cosine, and the draw repeats."""
    from distributed_mapreduce_spark.workload.similarity import (
        QA_BUCKET_U,
        QA_PER_BUCKET,
    )

    rows = QUERIES["dedup_qa_sample"](spark, sf_dir).collect()
    pairs = {
        (r.vec_a, r.vec_b): r.cos_u
        for r in QUERIES["embedding_near_dup"](spark, sf_dir).collect()
    }
    per_bucket: dict[int, int] = {}
    for r in rows:
        per_bucket[r.bucket] = per_bucket.get(r.bucket, 0) + 1
        assert pairs[(r.vec_a, r.vec_b)] == r.cos_u
        assert r.bucket == r.cos_u // QA_BUCKET_U
    assert all(v <= QA_PER_BUCKET for v in per_bucket.values())
    rows2 = QUERIES["dedup_qa_sample"](spark, sf_dir).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_phash_pairs_cover_shared_blob_groups(spark, sf_dir):
    """Identical blobs (same doc_id % MEDIA_DUP_MOD) hash identically,
    so every same-group pair must surface with hamming 0; nothing may
    exceed the Hamming threshold."""
    from distributed_mapreduce_spark.workload.dedup import SIMHASH_HAMMING_MAX
    from distributed_mapreduce_spark.workload.multimodal_q import MEDIA_DUP_MOD
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["multimodal_phash_pairs"](spark, sf_dir).collect()
    got = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    assert all(h <= SIMHASH_HAMMING_MAX for h in got.values())
    ids = [r.doc_id for r in table(spark, sf_dir, "documents").select("doc_id").collect()]
    groups: dict[int, list[int]] = {}
    for d in ids:
        groups.setdefault(d % MEDIA_DUP_MOD, []).append(d)
    for members in groups.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                assert got.get((a, b)) == 0, (a, b)


def test_fellegi_sunter_matches_local_recompute(spark, sf_dir):
    """The blocked pair set and integer scores must equal a driver-side
    recompute of the same blocking key, agreement vector, and weights."""
    from distributed_mapreduce_spark.workload.dedup import (
        ER_LEN_BUCKET,
        ER_T_MATCH,
        ER_T_POSSIBLE,
        ER_TOK_BUCKET,
        ER_W,
    )
    from distributed_mapreduce_spark.workload.registry import table

    got = {
        (r.doc_a, r.doc_b): (r.score_c, r.verdict)
        for r in QUERIES["er_fellegi_sunter"](spark, sf_dir).collect()
    }
    recs = table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    ).collect()
    fields = {}
    blocks: dict[tuple, list[int]] = {}
    for r in recs:
        toks = [t for t in r.text.split(" ") if t]
        fields[r.doc_id] = (
            r.source,
            len(toks) // ER_TOK_BUCKET,
            toks[0] if toks else "",
        )
        blocks.setdefault((r.lang, len(r.text) // ER_LEN_BUCKET), []).append(r.doc_id)
    expected = {}
    for members in blocks.values():
        members.sort()
        for i, a in enumerate(members):
            for b in members[i + 1 :]:
                sc = sum(
                    w_agree if fields[a][k] == fields[b][k] else w_dis
                    for k, (w_agree, w_dis) in zip(
                        range(3), [ER_W["source"], ER_W["tokbkt"], ER_W["firsttok"]]
                    )
                )
                if sc >= ER_T_POSSIBLE:
                    expected[(a, b)] = (
                        sc,
                        "match" if sc >= ER_T_MATCH else "possible",
                    )
    assert got == expected and expected, "pair set must be non-empty"


def test_quality_model_calibration_arithmetic(spark, sf_dir):
    rows = QUERIES["quality_model_calibration"](spark, sf_dir).collect()
    assert sum(r.n_docs for r in rows) == 500
    for r in rows:
        assert 0 <= r.n_rule_keep <= r.n_docs
        assert r.keep_rate_bp == r.n_rule_keep * 10000 // r.n_docs


def test_degree_assortativity_matches_local_recompute(spark, sf_dir):
    row = QUERIES["graph_degree_assortativity"](spark, sf_dir).collect()[0]
    from distributed_mapreduce_spark.workload.graph import _edges

    edges = [(r.src, r.dst) for r in _edges(spark, sf_dir).collect()]
    deg: dict[int, int] = {}
    for s, t in edges:
        deg[s] = deg.get(s, 0) + 1
        deg[t] = deg.get(t, 0) + 1
    m = 2 * len(edges)
    s_jk = sum(2 * deg[s] * deg[t] for s, t in edges)
    s_sum = sum(2 * (deg[s] + deg[t]) for s, t in edges)
    s_sq = sum(2 * (deg[s] ** 2 + deg[t] ** 2) for s, t in edges)
    assert (row.m, row.sum_jk, row.sum_j_plus_k, row.sum_j2_k2) == (
        m,
        s_jk,
        s_sum,
        s_sq,
    )
    num = 4 * m * s_jk - s_sum * s_sum
    den = 2 * m * s_sq - s_sum * s_sum
    # DIV truncates toward zero on both engines
    trunc = abs(num * 1_000_000) // abs(den)
    if num * den < 0:
        trunc = -trunc
    assert row.assort_ppm == trunc
    assert -1_000_000 <= row.assort_ppm <= 1_000_000


def test_basket_rules_arithmetic_and_ordering(spark, sf_dir):
    from distributed_mapreduce_spark.workload.advanced import (
        MB_MIN_SUPPORT,
        MB_TOP_K,
    )

    rows = QUERIES["basket_association_rules"](spark, sf_dir).collect()
    assert 0 < len(rows) <= MB_TOP_K
    lifts = [(-r.lift_ppm, r.ante, r.cons) for r in rows]
    assert lifts == sorted(lifts)
    for r in rows:
        assert r.n_pair >= MB_MIN_SUPPORT
        assert r.n_pair <= min(r.n_ante, r.n_cons)
        assert r.confidence_bp == r.n_pair * 10000 // r.n_ante


def test_drift_chi2_matches_local_recompute(spark, sf_dir):
    """Every per-type kernel term must match an independent Python
    recompute from the raw (type, half) counts, and the repeated total
    must be their sum."""
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["events_drift_chi2"](spark, sf_dir).collect()
    ev = table(spark, sf_dir, "events").select("event_type", "ts").collect()
    us = [int(r.ts.timestamp() * 1_000_000) for r in ev]
    mid = (min(us) + max(us)) // 2
    n1: dict[str, int] = {}
    n2: dict[str, int] = {}
    for r, u in zip(ev, us):
        (n1 if u <= mid else n2)[r.event_type] = (
            (n1 if u <= mid else n2).get(r.event_type, 0) + 1
        )
    t1, t2 = sum(n1.values()), sum(n2.values())
    total = 0
    expect = {}
    for et in set(n1) | set(n2):
        a, b = n1.get(et, 0), n2.get(et, 0)
        d = abs(a * t2 - b * t1) * 1_000_000 // (t1 * t2)
        sign = 1 if a * t2 >= b * t1 else -1
        pooled = (a + b) * 1_000_000 // (t1 + t2)
        term = 0 if pooled == 0 else d * d // pooled
        expect[et] = (a, b, sign * d, pooled, term)
        total += term
    assert len(rows) == len(expect)
    for r in rows:
        assert (
            r.n_first,
            r.n_second,
            r.delta_ppm,
            r.pooled_ppm,
            r.chi_term_e6,
        ) == expect[r.event_type]
        assert r.chi2_total_e6 == total


def test_pr_curve_monotone_and_consistent(spark, sf_dir):
    """Cumulative counts must be monotone as the threshold loosens,
    recall must be non-decreasing, and each bp value must re-derive
    from the row's own integer counts."""
    rows = sorted(
        QUERIES["quality_model_pr_curve"](spark, sf_dir).collect(),
        key=lambda r: -r.bucket,
    )
    assert rows
    p_all = rows[-1].tp  # loosest threshold keeps every positive
    prev_n, prev_tp = 0, 0
    for r in rows:
        assert r.n_ge > prev_n and r.tp >= prev_tp
        prev_n, prev_tp = r.n_ge, r.tp
        assert r.precision_bp == r.tp * 10000 // r.n_ge
        assert r.recall_bp == (0 if p_all == 0 else r.tp * 10000 // p_all)
        pr, rc = r.precision_bp, r.recall_bp
        if r.tp == 0 or pr + rc == 0:
            assert r.f1_bp == 0
        else:
            assert r.f1_bp == 2 * pr * rc // (pr + rc)


def test_lsh_recall_audit_counts(spark, sf_dir):
    """Flag algebra must close (n_both + n_lsh_only = n_lsh), recall
    must re-derive, and LSH-verified pairs must be a superset check
    against the independently computed pair queries."""
    row = QUERIES["dedup_lsh_recall_audit"](spark, sf_dir).collect()[0]
    truth = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in QUERIES["dedup_minhash_pairs"](spark, sf_dir).collect()
    }
    assert row.n_truth == len(truth)
    assert row.n_lsh == len(lsh)
    assert row.n_both == len(truth & lsh)
    assert row.n_lsh_only == len(lsh - truth)
    assert row.n_both + row.n_lsh_only == row.n_lsh
    assert row.recall_bp == (
        10000 if not truth else len(truth & lsh) * 10000 // len(truth)
    )


def test_blocking_audit_closed_form(spark, sf_dir):
    """Every count must re-derive from an independent collect of the
    blocking keys and normalized fingerprints."""
    from distributed_mapreduce_spark.workload.dedup import ER_LEN_BUCKET
    from distributed_mapreduce_spark.workload.registry import table

    row = QUERIES["er_blocking_audit"](spark, sf_dir).collect()[0]
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang", "text").collect()
    import hashlib
    import re as _re

    recs = []
    for r in docs:
        norm = _re.sub(r"[^a-z0-9]+", " ", r.text.lower()).strip()
        recs.append(
            (
                r.doc_id,
                (r.lang, len(r.text) // ER_LEN_BUCKET),
                hashlib.md5(norm.encode()).hexdigest(),
            )
        )
    from collections import Counter

    bsizes = Counter(k for _, k, _ in recs)
    n = len(recs)
    assert row.n_docs == n
    assert row.n_blocks == len(bsizes)
    assert row.max_block == max(bsizes.values())
    assert row.cand_pairs == sum(v * (v - 1) // 2 for v in bsizes.values())
    assert row.all_pairs == n * (n - 1) // 2
    assert row.reduction_bp == (row.all_pairs - row.cand_pairs) * 10000 // row.all_pairs
    byfp: dict[str, list] = {}
    for d, k, fp in recs:
        byfp.setdefault(fp, []).append((d, k))
    truth = cov = 0
    for grp in byfp.values():
        for i in range(len(grp)):
            for j in range(i + 1, len(grp)):
                truth += 1
                cov += grp[i][1] == grp[j][1]
    assert (row.n_truth_pairs, row.n_covered) == (truth, cov)
    assert row.completeness_bp == (10000 if truth == 0 else cov * 10000 // truth)


def test_autocorr_matches_local_recompute(spark, sf_dir):
    from distributed_mapreduce_spark.workload.registry import table
    from distributed_mapreduce_spark.workload.robust import (
        ACF_MAX_LAG,
        ACF_SHARE_SCALE,
    )

    rows = {r.lag_days: r for r in QUERIES["events_autocorr_daily"](spark, sf_dir).collect()}
    ev = table(spark, sf_dir, "events").select(F.to_date(F.date_trunc("day", "ts")).alias("d")).collect()
    from collections import Counter
    import datetime as _dt

    cnt = Counter(r.d for r in ev)
    total = sum(cnt.values())
    d0, d1 = min(cnt), max(cnt)
    days = [d0 + _dt.timedelta(days=i) for i in range((d1 - d0).days + 1)]
    s = [cnt.get(d, 0) * ACF_SHARE_SCALE // total for d in days]
    for k in range(1, ACF_MAX_LAG + 1):
        xs, ys = s[:-k], s[k:]
        if not xs:
            assert k not in rows
            continue
        npair = len(xs)
        num = npair * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
        dx = npair * sum(a * a for a in xs) - sum(xs) ** 2
        dy = npair * sum(b * b for b in ys) - sum(ys) ** 2
        r = rows[k]
        assert (r.n_pairs, r.num, r.den_x, r.den_y) == (npair, num, dx, dy)
        if dx == 0 or dy == 0:
            assert r.r2_signed_e6 == 0
        else:
            expect = (1 if num >= 0 else -1) * ((num * num // dx) * 1000000 // dy)
            assert r.r2_signed_e6 == expect
            assert -1_000_000 <= r.r2_signed_e6 <= 1_000_000


def test_prorate_conserves_cents(spark, sf_dir):
    """The per-month prorated sums must add up EXACTLY to the floor-cents
    total of all joined lines, and slice counts to the interval days."""
    from decimal import Decimal
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["interval_prorate_revenue"](spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem").alias("l")
    o = table(spark, sf_dir, "orders").alias("o")
    src = li.join(o, F.col("l.l_orderkey") == F.col("o.o_orderkey")).select(
        F.to_date("o_orderdate").alias("d0"),
        F.to_date("l_shipdate").alias("d1"),
        "l_extendedprice",
        "l_discount",
    ).collect()
    total = 0
    slices = 0
    for r in src:
        rev = Decimal(str(r.l_extendedprice)).quantize(Decimal("0.01")) * (
            1 - Decimal(str(r.l_discount)).quantize(Decimal("0.01"))
        )
        total += int(rev * 100)  # floor: rev >= 0
        slices += max((r.d1 - r.d0).days, 0) + 1
    assert sum(r.prorated_cents for r in rows) == total
    assert sum(r.n_day_slices for r in rows) == slices


def test_bag_setops_multiset_algebra(spark, sf_dir):
    """INTERSECT ALL / EXCEPT ALL multiplicities must equal min(f,o) and
    max(f-o,0) per key, recomputed from raw counts."""
    from collections import Counter
    from distributed_mapreduce_spark.workload.registry import table

    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_orderstatus").collect()
    f = Counter(r.o_custkey for r in orders if r.o_orderstatus == "F")
    o = Counter(r.o_custkey for r in orders if r.o_orderstatus == "O")
    inter = Counter(
        dict((k, min(f[k], o[k])) for k in f if k in o and min(f[k], o[k]) > 0)
    )
    exc = Counter(dict((k, f[k] - o.get(k, 0)) for k in f if f[k] > o.get(k, 0)))
    got_i = Counter(r.custkey for r in QUERIES["intersect_all_customers"](spark, sf_dir).collect())
    got_e = Counter(r.custkey for r in QUERIES["except_all_customers"](spark, sf_dir).collect())
    assert got_i == inter and got_e == exc


def test_trigram_conditionals_sum_to_one(spark, sf_dir):
    """Each (t1,t2) prefix's conditional bp values must sum within
    truncation slack of 10000, and trigram totals must not exceed the
    bigram count of their prefix."""
    rows = QUERIES["event_type_trigrams"](spark, sf_dir).collect()
    bi = {
        (r.prev_type, r.curr_type): r.n_transitions
        for r in QUERIES["event_transitions"](spark, sf_dir).collect()
    }
    from collections import defaultdict

    by_prefix = defaultdict(list)
    for r in rows:
        by_prefix[(r.t1, r.t2)].append(r)
    for (t1, t2), grp in by_prefix.items():
        tot = sum(r.n_occurrences for r in grp)
        assert tot <= bi[(t1, t2)]
        s = sum(r.cond_prob_bp for r in grp)
        assert 10000 - len(grp) < s <= 10000
        for r in grp:
            assert r.cond_prob_bp == r.n_occurrences * 10000 // tot


def test_hamilton_apportionment_conserves(spark, sf_dir):
    """Per stratum: Σ alloc == n_docs (Hamilton's defining property),
    every alloc within 1 of the exact quota (no Alabama-paradox drift
    within a single apportionment), floors re-derive."""
    rows = QUERIES["split_apportion_hamilton"](spark, sf_dir).collect()
    from collections import defaultdict

    strata = defaultdict(list)
    for r in rows:
        strata[(r.source, r.lang)].append(r)
    assert strata
    for grp in strata.values():
        n = grp[0].n_docs
        assert sum(r.alloc for r in grp) == n
        assert sum(r.ratio_bp for r in grp) == 10000
        for r in grp:
            assert r.floor_alloc == n * r.ratio_bp // 10000
            assert r.rem == n * r.ratio_bp % 10000
            assert r.floor_alloc <= r.alloc <= r.floor_alloc + 1


def test_weekday_seasonality_recompute(spark, sf_dir):
    from collections import Counter
    import datetime as _dt
    from distributed_mapreduce_spark.workload.registry import table

    rows = {r.weekday: r for r in QUERIES["events_weekday_seasonality"](spark, sf_dir).collect()}
    ev = table(spark, sf_dir, "events").select(F.to_date(F.date_trunc("day", "ts")).alias("d")).collect()
    cnt = Counter(r.d for r in ev)
    total = sum(cnt.values())
    d0, d1 = min(cnt), max(cnt)
    days = [d0 + _dt.timedelta(days=i) for i in range((d1 - d0).days + 1)]
    wd_days = Counter(d.isoweekday() for d in days)
    wd_ev = Counter()
    for d, n in cnt.items():
        wd_ev[d.isoweekday()] += n
    assert set(rows) == set(wd_days)
    for w, nd in wd_days.items():
        r = rows[w]
        ne = wd_ev.get(w, 0)
        assert (r.n_events, r.n_days) == (ne, nd)
        assert r.idx_ppm == ne * len(days) * 1_000_000 // (total * nd)
    # a flat week would put every index at exactly 1e6; real data must
    # still average out to ~1e6 (weighted by day counts)
    assert sum(r.n_events for r in rows.values()) == total


def test_rendezvous_minimal_disruption(spark, sf_dir):
    """The HRW defining property: removing the last node moves ONLY its
    keys (n_reduced = n_full + n_moved_in on survivors), totals
    conserve, and a local recompute of the portable hash agrees."""
    import hashlib
    from distributed_mapreduce_spark.workload.core import RV_NODES
    from distributed_mapreduce_spark.workload.registry import table

    rows = {r.node: r for r in QUERIES["partition_rendezvous_hash"](spark, sf_dir).collect()}
    assert set(rows) == set(range(RV_NODES))
    n_total = sum(r.n_full for r in rows.values())
    assert sum(r.n_reduced for r in rows.values()) == n_total
    last = rows[RV_NODES - 1]
    assert last.n_reduced == 0 and last.n_moved_in == 0
    assert sum(r.n_moved_in for r in rows.values()) == last.n_full
    for k, r in rows.items():
        if k < RV_NODES - 1:
            assert r.n_reduced == r.n_full + r.n_moved_in
        assert r.load_ppm == r.n_full * RV_NODES * 1_000_000 // n_total

    def w(key, i):
        return int(hashlib.md5(f"rv_{key}|node{i}".encode()).hexdigest()[:8], 16)

    keys = [r.o_orderkey for r in table(spark, sf_dir, "orders").select("o_orderkey").collect()]
    from collections import Counter

    full = Counter(max(range(RV_NODES), key=lambda i: (w(k, i), -i)) for k in keys)
    assert full == Counter({k: r.n_full for k, r in rows.items() if r.n_full})


def test_cohen_kappa_recompute(spark, sf_dir):
    row = QUERIES["quality_gates_cohen_kappa"](spark, sf_dir).collect()[0]
    n, a, b, c, d = row.n_docs, row.n_both_keep, row.n_model_only, row.n_rule_only, row.n_both_reject
    assert a + b + c + d == n and n > 0
    po = (a + d) * 1_000_000 // n
    pe = ((a + b) * (a + c) + (c + d) * (b + d)) * 1_000_000 // (n * n)
    assert (row.po_ppm, row.pe_ppm) == (po, pe)
    if pe >= 1_000_000:
        assert row.kappa_ppm == 0
    else:
        sign = 1 if po >= pe else -1
        assert row.kappa_ppm == sign * (abs(po - pe) * 1_000_000 // (1_000_000 - pe))
        assert -1_000_000 <= row.kappa_ppm <= 1_000_000
    # the 2x2 must agree with the existing confusion-matrix query
    cm = {
        (r.model_keep, r.rule_keep): r.n_docs
        for r in QUERIES["quality_model_rule_agreement"](spark, sf_dir).collect()
    }
    assert a == cm.get((True, True), 0) and d == cm.get((False, False), 0)


def test_cohort_ltv_monotone_and_conserves(spark, sf_dir):
    from collections import defaultdict
    rows = QUERIES["cohort_cumulative_ltv"](spark, sf_dir).collect()
    by_cohort = defaultdict(list)
    for r in rows:
        by_cohort[r.cohort_month].append(r)
    assert by_cohort
    for grp in by_cohort.values():
        grp.sort(key=lambda r: r.month_offset)
        assert grp[0].month_offset == 0  # the cohort's own first month
        cum = 0
        for r in grp:
            cum += r.spend_cents
            assert r.cum_spend_cents == cum
            assert r.n_active <= r.cohort_size
            assert r.ltv_per_cust_cents == cum // r.cohort_size
        # offset-0 actives = everyone (cohort defined by first order)
        assert grp[0].n_active == grp[0].cohort_size


def test_ols_slope_matches_local_fit(spark, sf_dir):
    from decimal import Decimal
    from distributed_mapreduce_spark.workload.registry import table

    rows = {r.l_returnflag: r for r in QUERIES["price_qty_ols_trend"](spark, sf_dir).collect()}
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity", "l_extendedprice").collect()
    from collections import defaultdict

    pts = defaultdict(list)
    for r in li:
        x = int(r.l_quantity)  # quantities are integral
        y = int(Decimal(str(r.l_extendedprice)).quantize(Decimal("0.01")) * 100)
        pts[r.l_returnflag].append((x, y))
    for flag, p in pts.items():
        n = len(p)
        sx = sum(x for x, _ in p); sy = sum(y for _, y in p)
        sxy = sum(x * y for x, y in p); sxx = sum(x * x for x, _ in p)
        num = n * sxy - sx * sy
        den = n * sxx - sx * sx
        r = rows[flag]
        assert (r.n, r.num, r.den) == (n, num, den)
        if den:
            sign = 1 if num >= 0 else -1
            expect = sign * ((abs(num) // den) * 1_000_000 + (abs(num) % den) * 1_000_000 // den)
            assert r.slope_e6 == expect


def test_consistent_ring_matches_local_successor(spark, sf_dir):
    """Assignment must equal a local clockwise-successor walk over the
    same md5 ring, and v32 must balance at least as well as v1 (the
    vnode result the audit exists to show)."""
    import hashlib
    from distributed_mapreduce_spark.workload.core import (
        RING_NODES,
        RING_VARIANTS,
        _ring_points,
    )
    from distributed_mapreduce_spark.workload.registry import table
    from collections import Counter
    import bisect

    rows = QUERIES["partition_consistent_ring"](spark, sf_dir).collect()
    got = {(r.variant, r.node): r for r in rows}
    assert len(got) == len(RING_VARIANTS) * RING_NODES
    keys = [r.o_orderkey for r in table(spark, sf_dir, "orders").select("o_orderkey").collect()]
    for name, vn in RING_VARIANTS:
        enc = _ring_points(vn)
        pos = [p // 16 for p in enc]
        cnt = Counter()
        for k in keys:
            h = int(hashlib.md5(f"ringk_{k}".encode()).hexdigest()[:8], 16)
            i = bisect.bisect_left(pos, h)
            cnt[enc[i % len(enc)] % 16] += 1
        for node in range(RING_NODES):
            r = got[(name, node)]
            assert r.n_keys == cnt.get(node, 0)
            assert r.load_ppm == r.n_keys * RING_NODES * 1_000_000 // len(keys)
    spread = {
        name: max(got[(name, n)].load_ppm for n in range(RING_NODES))
        - min(got[(name, n)].load_ppm for n in range(RING_NODES))
        for name, _ in RING_VARIANTS
    }
    assert spread["v32"] < spread["v1"]


def test_modularity_matches_local_recompute(spark, sf_dir):
    """Q must equal a local modularity computation over the SAME
    LPA labels and edge list."""
    from collections import Counter, defaultdict
    from distributed_mapreduce_spark.workload.graph import _edges, _lpa_labels

    rows = QUERIES["graph_modularity_score"](spark, sf_dir).collect()
    labels_df, _ = _lpa_labels(spark, sf_dir)
    lbl = {r.node: r.lbl for r in labels_df.collect()}
    edges = [(r.src, r.dst) for r in _edges(spark, sf_dir).collect()]
    m = len(edges)
    deg = Counter()
    for s, t in edges:
        deg[s] += 1
        deg[t] += 1
    intra = Counter()
    for s, t in edges:
        if lbl[s] == lbl[t]:
            intra[lbl[s]] += 1
    dsum = defaultdict(int)
    nn = Counter()
    for node, c in lbl.items():
        dsum[c] += deg[node]
        nn[c] += 1
    t_all = 0
    expect = {}
    for c in dsum:
        t = 4 * intra.get(c, 0) * m - dsum[c] ** 2
        t_all += t
        sign = 1 if t >= 0 else -1
        expect[c] = (nn[c], intra.get(c, 0), dsum[c], sign * (abs(t) * 1_000_000 // (4 * m * m)))
    q_sign = 1 if t_all >= 0 else -1
    q_ppm = q_sign * (abs(t_all) * 1_000_000 // (4 * m * m))
    assert len(rows) == len(expect)
    for r in rows:
        assert (r.n_nodes, r.intra_edges, r.degree_sum, r.contrib_ppm) == expect[r.community]
        assert r.q_ppm == q_ppm
    assert -1_000_000 <= q_ppm <= 1_000_000


def test_rake_matches_local_recompute(spark, sf_dir):
    """Top-K RAKE phrases must equal a reference implementation run
    over the collected corpus."""
    from collections import defaultdict
    from distributed_mapreduce_spark.workload.quality import RAKE_SCALE, RAKE_TOP_K
    from distributed_mapreduce_spark.workload.registry import table

    stops = {"the", "a", "of", "and", "in", "to"}
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    phrases = []  # (phrase_tokens,)
    for r in docs:
        run = []
        for t in r.text.split(" "):
            if not t:
                continue
            if t in stops:
                if run:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(t)
        if run:
            phrases.append(tuple(run))
    deg = defaultdict(int)
    freq = defaultdict(int)
    for p in phrases:
        for w in p:
            deg[w] += len(p)
            freq[w] += 1
    wscore = {w: deg[w] * RAKE_SCALE // freq[w] for w in deg}
    pstat = defaultdict(int)
    pscore = {}
    for p in phrases:
        pstat[" ".join(p)] += 1
        pscore[" ".join(p)] = sum(wscore[w] for w in p)
    top = sorted(pscore.items(), key=lambda kv: (-kv[1], kv[0]))[:RAKE_TOP_K]
    got = QUERIES["text_rake_keywords"](spark, sf_dir).collect()
    assert [(r.phrase, r.score_e3, r.n_occurrences) for r in got] == [
        (ph, sc, pstat[ph]) for ph, sc in top
    ]


def test_burstiness_above_poisson_for_content_words(spark, sf_dir):
    """VMR must re-derive from collected term counts and content terms
    in this clumped synthetic corpus must exceed the Poisson line."""
    from collections import Counter, defaultdict
    from distributed_mapreduce_spark.workload.quality import BURST_MIN_DF
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["text_term_burstiness"](spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    n = len(docs)
    tf = defaultdict(Counter)
    for r in docs:
        for t in r.text.split(" "):
            if t:
                tf[t][r.doc_id] += 1
    expect = {}
    for term, per in tf.items():
        if len(per) >= BURST_MIN_DF:
            sx = sum(per.values())
            sxx = sum(v * v for v in per.values())
            num = n * sxx - sx * sx
            den = sx * (n - 1)
            expect[term] = (len(per), sx, sxx, (num // den) * 1_000_000 + (num % den) * 1_000_000 // den)
    assert {r.tok: (r.df, r.s_x, r.s_xx, r.vmr_e6) for r in rows} == expect
    assert rows and max(r.vmr_e6 for r in rows) > 1_000_000


def test_markov_stationary_matches_local_power_iteration(spark, sf_dir):
    from collections import Counter, defaultdict
    from distributed_mapreduce_spark.workload.journey import MARKOV_ITERS
    from distributed_mapreduce_spark.workload.registry import table

    rows = {r.event_type: r for r in QUERIES["events_markov_stationary"](spark, sf_dir).collect()}
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type").collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r.user_id].append((r.ts, r.event_id, r.event_type))
    trans = Counter()
    for seq in by_user.values():
        seq.sort()
        for (_, _, a), (_, _, b) in zip(seq, seq[1:]):
            trans[(a, b)] += 1
    n_out = Counter()
    for (a, _), n in trans.items():
        n_out[a] += n
    types = sorted(n_out)
    pi = {t: 1_000_000 // len(types) for t in types}
    for _ in range(MARKOV_ITERS):
        nxt = defaultdict(int)
        for (a, b), n in trans.items():
            nxt[b] += pi[a] * n // n_out[a]
        pi = dict(nxt)
    emp_n = Counter(r.event_type for r in ev)
    total = sum(emp_n.values())
    assert set(rows) == set(pi)
    for t in pi:
        r = rows[t]
        e_ppm = emp_n[t] * 1_000_000 // total
        assert (r.stationary_ppm, r.empirical_ppm) == (pi[t], e_ppm)
        assert r.delta_ppm == abs(pi[t] - e_ppm)
    # the chain fits its own stream: fixed point lands near empirical
    assert max(r.delta_ppm for r in rows.values()) < 100_000


def test_dup_quality_interaction_algebra(spark, sf_dir):
    row = QUERIES["dedup_quality_interaction"](spark, sf_dir).collect()[0]
    assert row.n_dup + row.n_nondup == row.n_docs
    assert row.keep_dup <= row.n_dup and row.keep_nondup <= row.n_nondup
    if row.n_dup:
        assert row.dup_keep_bp == row.keep_dup * 10000 // row.n_dup
    if row.n_nondup:
        assert row.nondup_keep_bp == row.keep_nondup * 10000 // row.n_nondup
    if row.n_dup and row.n_nondup and row.keep_nondup:
        assert row.keep_lift_ppm == (
            row.keep_dup * row.n_nondup * 1_000_000
        ) // (row.keep_nondup * row.n_dup)
    # cross-check the dup universe against dedup_exact's group sizes
    dup_from_groups = sum(
        r.cnt
        for r in QUERIES["dedup_exact"](spark, sf_dir).collect()
        if r.cnt > 1
    )
    assert row.n_dup == dup_from_groups


def test_knn_classifier_matches_local_vote(spark, sf_dir):
    import math
    from collections import Counter, defaultdict
    from distributed_mapreduce_spark.workload.registry import table
    from distributed_mapreduce_spark.workload.similarity import (
        KNN_K,
        KNN_QCAP,
        KNN_QMOD,
    )

    rows = QUERIES["knn_classifier_audit"](spark, sf_dir).collect()
    emb = table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: (r.embedding, r.label) for r in emb}

    def cos_u(a, b):
        d = sum(float(x) * float(y) for x, y in zip(a, b))
        na = math.sqrt(sum(float(x) * float(x) for x in a))
        nb = math.sqrt(sum(float(y) * float(y) for y in b))
        return math.floor(d / (na * nb) * 1_000_000)

    cm = Counter()
    correct = total = 0
    for qid, (qv, tl) in vecs.items():
        if qid % KNN_QMOD or qid >= KNN_QCAP:
            continue
        scored = sorted(
            ((-cos_u(qv, v), nid, lb) for nid, (v, lb) in vecs.items() if nid != qid)
        )[:KNN_K]
        votes = Counter(lb for _, _, lb in scored)
        pred = min(votes, key=lambda l: (-votes[l], l))
        cm[(tl, pred)] += 1
        correct += tl == pred
        total += 1
    acc = correct * 10000 // total
    got = {(r.true_label, r.pred_label): r.n_queries for r in rows}
    assert got == dict(cm)
    assert all(r.accuracy_bp == acc for r in rows)


def test_window_ties_semantics(spark, sf_dir):
    """Tie semantics must re-derive from group sizes: rank = 1 + rows
    before the peer group, dense_rank = peer index, percent_rank =
    (rank-1)/(n-1), cume_dist = (rows through peer group)/n."""
    from collections import Counter
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["window_ties_suite"](spark, sf_dir).collect()
    orders = table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").collect()
    cnt = Counter((r.o_orderstatus, r.o_orderpriority) for r in orders)
    by_status = {}
    for (st, pr), n in cnt.items():
        by_status.setdefault(st, []).append((pr, n))
    expect = {}
    for st, groups in by_status.items():
        groups.sort()
        n_part = sum(n for _, n in groups)
        before = 0
        for i, (pr, n) in enumerate(groups):
            rnk = before + 1
            expect[(st, pr)] = (
                n,
                rnk,
                i + 1,
                (rnk - 1) / (n_part - 1),
                (before + n) / n_part,
            )
            before += n
    assert len(rows) == len(expect)
    for r in rows:
        assert (r.n_rows, r.rnk, r.drnk, r.pr, r.cd) == expect[
            (r.o_orderstatus, r.o_orderpriority)
        ]


def test_rocchio_matches_local_centroids(spark, sf_dir):
    """Predictions must equal a local integer-centroid recompute, and
    the audit must agree with the kNN classifier on most probes (the
    convexity sanity the docstring promises)."""
    import math
    from collections import Counter, defaultdict
    from distributed_mapreduce_spark.workload.registry import table
    from distributed_mapreduce_spark.workload.similarity import (
        KNN_QCAP,
        KNN_QMOD,
        ROCCHIO_Q,
    )

    rows = QUERIES["rocchio_centroid_classifier"](spark, sf_dir).collect()
    emb = table(spark, sf_dir, "embeddings").collect()
    OFF = 16 * ROCCHIO_Q
    sums = defaultdict(lambda: None)
    counts = Counter()
    for r in emb:
        q = [math.floor(float(x) * ROCCHIO_Q) for x in r.embedding]
        if sums[r.label] is None:
            sums[r.label] = [0] * len(q)
        for i, v in enumerate(q):
            sums[r.label][i] += v
        counts[r.label] += 1
    cents = {
        lb: [((sv + counts[lb] * OFF) // counts[lb]) - OFF for sv in s]
        for lb, s in sums.items()
    }
    cm = Counter()
    for r in emb:
        if r.vec_id % KNN_QMOD or r.vec_id >= KNN_QCAP:
            continue
        q = [math.floor(float(x) * ROCCHIO_Q) for x in r.embedding]
        best = min(
            cents,
            key=lambda lb: (sum((a - b) ** 2 for a, b in zip(q, cents[lb])), lb),
        )
        cm[(r.label, best)] += 1
    got = {(r.true_label, r.pred_label): r.n_queries for r in rows}
    assert got == dict(cm)
    total = sum(cm.values())
    correct = sum(v for (t, p), v in cm.items() if t == p)
    assert all(r.accuracy_bp == correct * 10000 // total for r in rows)


def test_richclub_matches_local_recompute(spark, sf_dir):
    from collections import Counter
    from distributed_mapreduce_spark.workload.graph import RICHCLUB_KS, _edges

    rows = {r.k: r for r in QUERIES["graph_richclub_coefficient"](spark, sf_dir).collect()}
    edges = [(r.src, r.dst) for r in _edges(spark, sf_dir).collect()]
    deg = Counter()
    for s, t in edges:
        deg[s] += 1
        deg[t] += 1
    phis = []
    for k in RICHCLUB_KS:
        richset = {n for n, d in deg.items() if d > k}
        ek = sum(1 for s, t in edges if s in richset and t in richset)
        nk = len(richset)
        r = rows[k]
        assert (r.n_rich, r.e_rich) == (nk, ek)
        expect = 0 if nk < 2 else ek * 2_000_000 // (nk * (nk - 1))
        assert r.phi_ppm == expect
        phis.append((k, r.phi_ppm, nk))
    # density of the full graph for context: phi must rise for at
    # least one threshold step if hubs interconnect (soft check: the
    # sequence is not all-zero)
    assert any(p for _, p, _ in phis)


def test_band_geometry_scurve_direction(spark, sf_dir):
    """The stricter geometry (more rows per band) must produce no more
    candidates and no more verified pairs than the looser one, and the
    looser geometry's verified set must achieve full relative recall
    whenever it is a superset; all bp values re-derive."""
    rows = {r.geometry: r for r in QUERIES["dedup_band_geometry_tuning"](spark, sf_dir).collect()}
    loose, strict = rows["b4r2"], rows["b2r4"]
    assert strict.n_candidates <= loose.n_candidates
    assert strict.n_verified <= loose.n_verified
    union = max(loose.n_verified, strict.n_verified)
    for r in rows.values():
        assert r.n_verified <= r.n_candidates
        if r.n_candidates:
            assert r.precision_bp == r.n_verified * 10000 // r.n_candidates
        # rel_recall denominator is the union; union >= each geometry
        assert r.rel_recall_bp <= 10000
    assert loose.rel_recall_bp >= strict.rel_recall_bp


def test_winnowing_guarantee_and_density(spark, sf_dir):
    """Winnowing invariants from the SIGMOD'03 paper: (a) every selected
    fingerprint is a real gram of its document (hash re-derivable from
    the token stream at fp_pos), (b) coverage — consecutive selected
    positions are less than K+W apart (no unfingerprinted window), and
    (c) per-doc density is bounded by the gram count."""
    from distributed_mapreduce_spark.workload.dedup import WINNOW_K, WINNOW_W
    from distributed_mapreduce_spark.workload.registry import table

    fps = QUERIES["dedup_winnowing_fingerprints"](spark, sf_dir)
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens(F.col("text")).alias("toks")
    )
    # (a) re-derive the gram hash at each selected position and compare.
    rejoined = fps.join(docs, "doc_id").select(
        "doc_id",
        "fp_pos",
        (F.col("fp_hash") == hash_u32(
            F.array_join(F.slice(F.col("toks"), F.col("fp_pos").cast("int"), WINNOW_K), " "),
            "wn_",
        )).alias("ok"),
    )
    assert rejoined.where(~F.col("ok")).count() == 0
    # (b)+(c) per-doc: sorted positions gap < K+W; count <= gram count.
    per_doc = {
        r.doc_id: sorted(r.ps)
        for r in fps.groupBy("doc_id").agg(F.collect_list("fp_pos").alias("ps")).collect()
    }
    grams = {
        r.doc_id: max(0, len(r.toks) - WINNOW_K + 1) for r in docs.collect()
    }
    for d, ps in per_doc.items():
        assert 1 <= len(ps) <= grams[d]
        for a, b in zip(ps, ps[1:]):
            assert b - a <= WINNOW_W, (d, a, b)
    # every doc with at least one gram got at least one fingerprint
    assert set(per_doc) == {d for d, g in grams.items() if g > 0}


def test_simpson_diversity_bounds_and_recompute(spark, sf_dir):
    """simpson_ppm must equal the exact rational recomputed from raw
    token counts, sit in [0, 1e6), and eff_vocab_x100 must lie between
    100 (all same token) and 100*n_types (uniform)."""
    from collections import Counter

    from distributed_mapreduce_spark.workload.registry import table

    rows = {r.doc_id: r for r in QUERIES["text_simpson_diversity"](spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    for d in docs:
        toks = [t for t in d.text.split(" ") if t]
        if not toks:
            assert d.doc_id not in rows
            continue
        c = Counter(toks)
        n, s2 = len(toks), sum(v * v for v in c.values())
        r = rows[d.doc_id]
        assert r.n_tokens == n and r.n_types == len(c)
        assert r.simpson_ppm == 1_000_000 * (n * n - s2) // (n * n)
        assert 0 <= r.simpson_ppm < 1_000_000
        assert 100 <= r.eff_vocab_x100 <= 100 * len(c)
        assert r.repetitive == (r.simpson_ppm < 900_000)


def test_cuped_matches_fraction_recompute(spark, sf_dir):
    """Exact-rational recompute of CUPED from raw per-user (x, y):
    theta, both lifts, and the floor-composed variance-reduction term
    must match the query's integers exactly; CUPED must equal the raw
    lift when theta is applied with dx = 0."""
    import hashlib
    from fractions import Fraction

    from distributed_mapreduce_spark.workload.registry import table
    from distributed_mapreduce_spark.workload.robust import CUPED_CUTOFF

    row = QUERIES["cuped_adjusted_lift"](spark, sf_dir).collect()[0]
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "value").collect()
    from collections import defaultdict
    from datetime import datetime
    import math

    cutoff = datetime.fromisoformat(CUPED_CUTOFF)
    from decimal import ROUND_HALF_UP, Decimal

    per = defaultdict(lambda: [0, 0])
    for e in ev:
        # mirror the query's CAST(value AS DECIMAL(18,2)) * 100 exactly
        d2 = Decimal(repr(e.value)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
        cents = math.floor(d2 * 100)
        per[e.user_id][0 if e.ts < cutoff else 1] += cents
    grp = {
        u: int(hashlib.md5(f"ab_{u}".encode()).hexdigest()[:8], 16) % 2 for u in per
    }
    xs = {u: v[0] for u, v in per.items()}
    ys = {u: v[1] for u, v in per.items()}
    n = len(per)
    sx, sy = sum(xs.values()), sum(ys.values())
    sxy = sum(xs[u] * ys[u] for u in per)
    sxx = sum(x * x for x in xs.values())
    syy = sum(y * y for y in ys.values())
    cn = n * sxy - sx * sy
    vxn = n * sxx - sx * sx
    vyn = n * syy - sy * sy
    t = [u for u in per if grp[u] == 1]
    c = [u for u in per if grp[u] == 0]
    assert row.n_t == len(t) and row.n_c == len(c)
    dy = sum(ys[u] for u in t) * len(c) - sum(ys[u] for u in c) * len(t)
    dx = sum(xs[u] for u in t) * len(c) - sum(xs[u] for u in c) * len(t)

    def signed_floor_units(num, den, units):
        s = 1 if num >= 0 else -1
        return s * ((abs(num) // den) * units + (abs(num) % den) * units // den)

    assert row.theta_e6 == (0 if vxn == 0 else signed_floor_units(cn, vxn, 10**6))
    assert row.raw_lift_c2 == signed_floor_units(dy, len(t) * len(c), 100)
    assert row.cuped_lift_c2 == signed_floor_units(
        vxn * dy - cn * dx, vxn * len(t) * len(c), 100
    )
    k = 1 + max(abs(cn), vxn, vyn) // 10**9
    assert row.var_reduction_ppm == (
        0 if vxn == 0 or vyn == 0 or abs(cn) // k == 0
        else (abs(cn) // k) ** 2 * 10**6 // ((vxn // k) * (vyn // k))
    )
    # the scale reduction tracks true rho^2*1e6 within the O(k/|cn|) bound
    true_ppm = Fraction(cn * cn * 10**6, vxn * vyn)
    tol = 1 + (3 * k * 10**6) // max(abs(cn), 1)
    assert abs(true_ppm - row.var_reduction_ppm) <= tol


def test_silhouette_ss_matches_pairwise_bruteforce(spark, sf_dir):
    """The sufficient-statistics silhouette must equal the O(n^2)
    pairwise definition computed locally on the same quantized vectors
    (floor-micro ints, floor-division a/b, ppm floor)."""
    import math

    import numpy as np

    from distributed_mapreduce_spark.workload.clustering import KMEANS_K, MICRO
    from distributed_mapreduce_spark.workload.registry import table

    out = {r.cid: r for r in QUERIES["clustering_silhouette_ss"](spark, sf_dir).collect()}
    emb = table(spark, sf_dir, "embeddings").select("vec_id", "embedding").collect()
    V = {r.vec_id: np.array([math.floor(float(x) * MICRO) for x in r.embedding],
                            dtype=object) for r in emb}
    cents = {i: V[i] for i in range(KMEANS_K)}
    # assignment on true (unquantized) doubles, ties by lowest cid —
    # mirror the query's left-fold float order via np.sum on float64
    raw = {r.vec_id: np.array([float(x) for x in r.embedding]) for r in emb}
    own = {}
    for vid, x in raw.items():
        best = min(range(KMEANS_K), key=lambda c: (float(np.sum((x - raw[c]) ** 2)), c))
        own[vid] = best
    members = {}
    for vid, c in own.items():
        members.setdefault(c, []).append(vid)
    sppm = {}
    for vid, c in own.items():
        def msd(cl, exclude_self):
            ids = members[cl]
            tot = sum(int(np.dot(V[vid] - V[j], V[vid] - V[j])) for j in ids)
            den = len(ids) - (1 if exclude_self else 0)
            return tot // den if den > 0 else None
        if len(members[c]) <= 1:
            sppm[vid] = 0
            continue
        a = msd(c, True)
        b = min(msd(o, False) for o in members if o != c)
        m = max(a, b)
        sppm[vid] = 0 if m == 0 else (1 if b >= a else -1) * (abs(b - a) * 10**6 // m)
    for c, r in out.items():
        vals = [sppm[v] for v in members[c]]
        assert r.n == len(vals)
        tot = sum(vals)
        assert r.mean_s_ppm == (1 if tot >= 0 else -1) * (abs(tot) // len(vals))
        assert r.min_s_ppm == min(vals) and r.max_s_ppm == max(vals)
        assert r.n_negative == sum(1 for v in vals if v < 0)


def test_density_grid_matches_local_union_find(spark, sf_dir):
    """The distributed grid-DBSCAN must equal a local union-find over
    the same quantized projections: same dense cells, same cluster
    partition, same per-cluster stats."""
    import math
    from collections import Counter, defaultdict

    from distributed_mapreduce_spark.workload.clustering import (
        _DG_PLANES,
        DG_BIAS,
        DG_CELL,
        DG_MINPTS,
        MICRO,
    )
    from distributed_mapreduce_spark.workload.registry import table

    got = {r.cluster_id: r for r in QUERIES["clustering_density_grid"](spark, sf_dir).collect()}
    emb = table(spark, sf_dir, "embeddings").select("embedding").collect()
    pts = []
    for r in emb:
        v = [math.floor(float(x) * MICRO) for x in r.embedding]
        p0 = sum(s * x for s, x in zip(_DG_PLANES[0], v))
        p1 = sum(s * x for s, x in zip(_DG_PLANES[1], v))
        pts.append((p0 // DG_CELL + DG_BIAS, p1 // DG_CELL + DG_BIAS))
    counts = Counter(pts)
    dense = {c: n for c, n in counts.items() if n >= DG_MINPTS}
    parent = {c: c for c in dense}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for (x, y) in dense:
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                nb = (x + dx, y + dy)
                if nb in dense:
                    a, b = find((x, y)), find(nb)
                    if a != b:
                        parent[a] = b
    comp = defaultdict(list)
    for c in dense:
        comp[find(c)].append(c)
    expect = {}
    for cells in comp.values():
        cid = min(bx * (1 << 21) + by for bx, by in cells)
        expect[cid] = cells
    assert set(got) == set(expect)
    for cid, cells in expect.items():
        r = got[cid]
        assert r.n_cells == len(cells)
        assert r.n_points == sum(dense[c] for c in cells)
        assert r.min_cx == min(c[0] for c in cells) - DG_BIAS
        assert r.max_cy == max(c[1] for c in cells) - DG_BIAS


def test_blocklist_gate_verdict_algebra(spark, sf_dir):
    """Verdicts follow exactly from the counts; scores recompute; a
    sev-3 hit always blocks regardless of score."""
    from distributed_mapreduce_spark.workload.text import (
        BLOCK_SCORE_BLOCK,
        BLOCK_SCORE_REVIEW,
    )

    rows = QUERIES["text_blocklist_gate"](spark, sf_dir).collect()
    assert len(rows) > 0
    seen = set()
    for r in rows:
        assert r.score == 3 * r.n_sev3 + 2 * r.n_sev2 + r.n_sev1
        if r.n_sev3 > 0 or r.score >= BLOCK_SCORE_BLOCK:
            assert r.verdict == "block"
        elif r.score >= BLOCK_SCORE_REVIEW:
            assert r.verdict == "review"
        else:
            assert r.verdict == "pass"
        seen.add(r.verdict)
    assert "pass" in seen  # the gate must not block the whole corpus


def test_hits_mutual_reinforcement_recompute(spark, sf_dir):
    """Local recompute of the integer HITS iteration from the raw edge
    list must reproduce the query's top-k scores and ranks."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.iterative import (
        HITS_M0,
        HITS_ROUNDS,
        HITS_TOP_K,
    )
    from distributed_mapreduce_spark.workload.registry import table

    got = QUERIES["graph_hits_rounds"](spark, sf_dir).collect()
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").collect()
    edges = sorted({(r.l_suppkey, r.l_partkey) for r in li})
    h = {s: HITS_M0 for s, _ in edges}
    a = {}
    for _ in range(HITS_ROUNDS):
        acc = defaultdict(int)
        for s, p in edges:
            acc[p] += h[s]
        amax = max(acc.values())
        a = {p: v * HITS_M0 // amax for p, v in acc.items()}
        acc = defaultdict(int)
        for s, p in edges:
            acc[s] += a[p]
        hmax = max(acc.values())
        h = {s: v * HITS_M0 // hmax for s, v in acc.items()}
    exp_h = sorted(h.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOP_K]
    exp_a = sorted(a.items(), key=lambda kv: (-kv[1], kv[0]))[:HITS_TOP_K]
    got_h = sorted([r for r in got if r.kind == "hub"], key=lambda r: r.rnk)
    got_a = sorted([r for r in got if r.kind == "authority"], key=lambda r: r.rnk)
    assert [(r.node_id, r.score) for r in got_h] == exp_h
    assert [(r.node_id, r.score) for r in got_a] == exp_a
    # both sides carry the rescale fixed point: rank-1 score == M0
    assert got_h[0].score == HITS_M0 and got_a[0].score == HITS_M0


def test_gini_gain_matches_fraction_recompute(spark, sf_dir):
    """Exact-rational recompute of the split gain from raw documents:
    the ppm integers must match, gains are non-negative, and the
    sufficient-statistic identity S_R = Q_P - 2*XC + S_L must agree
    with a direct right-child computation."""
    from collections import Counter, defaultdict
    from fractions import Fraction

    from distributed_mapreduce_spark.workload.registry import table

    got = {r.tok: r for r in QUERIES["feature_gini_gain"](spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents").select("doc_id", "source", "text").collect()
    by_class = Counter(d.source for d in docs)
    n = len(docs)
    q_p = sum(v * v for v in by_class.values())
    tok_docs = defaultdict(set)
    doc_src = {}
    for d in docs:
        doc_src[d.doc_id] = d.source
        for t in set(x for x in d.text.split(" ") if x):
            tok_docs[t].add(d.doc_id)
    assert set(got) == set(tok_docs)
    for t, ids in tok_docs.items():
        lc = Counter(doc_src[i] for i in ids)
        n_l = len(ids)
        n_r = n - n_l
        r = got[t]
        assert (r.n_with, r.n_without) == (n_l, n_r)
        if n_l == 0 or n_r == 0:
            assert r.gini_gain_ppm == 0
            continue
        s_l = sum(v * v for v in lc.values())
        s_r_direct = sum((by_class[c] - lc.get(c, 0)) ** 2 for c in by_class)
        xc = sum(by_class[c] * v for c, v in lc.items())
        assert s_r_direct == q_p - 2 * xc + s_l
        num = s_l * n * n_r + s_r_direct * n * n_l - q_p * n_l * n_r
        sign = 1 if num >= 0 else -1
        assert r.gini_gain_ppm == sign * (abs(num) * 10**6 // (n * n * n_l * n_r))
        # true gain is the same rational — always non-negative
        gain = (Fraction(s_l, n * n_l) + Fraction(s_r_direct, n * n_r)
                - Fraction(q_p, n * n))
        assert gain >= 0 and r.gini_gain_ppm >= 0


def test_ks_statistic_matches_scipy_free_recompute(spark, sf_dir):
    """Exact local recompute of the integer KS from raw lineitem: same
    ks_num, same achieving value, and the micro-unit statistic agrees
    with the float KS within 1 ulp-ish tolerance."""
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    from distributed_mapreduce_spark.workload.registry import table

    row = QUERIES["ks_statistic_returnflag"](spark, sf_dir).collect()[0]
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    c1, c2 = Counter(), Counter()
    for r in li:
        if r.l_returnflag not in ("R", "A"):
            continue
        cents = int(
            Decimal(repr(float(r.l_extendedprice))).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
            * 100
        )
        (c1 if r.l_returnflag == "R" else c2)[cents] += 1
    n1, n2 = sum(c1.values()), sum(c2.values())
    assert (row.n1, row.n2) == (n1, n2)
    s1 = s2 = 0
    best = (-1, None)
    for v in sorted(set(c1) | set(c2)):
        s1 += c1.get(v, 0)
        s2 += c2.get(v, 0)
        d = abs(s1 * n2 - s2 * n1)
        if d > best[0]:
            best = (d, v)
    assert row.ks_num == best[0]
    assert row.at_value == best[1]
    assert row.ks_e6 == best[0] * 10**6 // (n1 * n2)
    ks_float = best[0] / (n1 * n2)
    assert abs(row.ks_e6 / 10**6 - ks_float) < 1e-6


@pytest.mark.deepaudit  # ~12 s exhaustive recompute; the query is oracle-graded
def test_edit_distance_pairs_exhaustive_at_sf0001(spark, sf_dir):
    """The blocked+pruned pair set must equal the EXHAUSTIVE all-pairs
    Levenshtein scan at sf0.001 — the losslessness proof, measured."""
    from distributed_mapreduce_spark.workload.dedup import EDIT_MAX
    from distributed_mapreduce_spark.workload.registry import table

    got = {
        (r.doc_a, r.doc_b): r.edit_dist
        for r in QUERIES["dedup_edit_distance_pairs"](spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    texts = {d.doc_id: d.text for d in docs}

    def lev(a, b):
        if abs(len(a) - len(b)) > EDIT_MAX:
            return EDIT_MAX + 1
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            best = i
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
                best = min(best, cur[-1])
            if best > EDIT_MAX:
                return EDIT_MAX + 1
            prev = cur
        return prev[-1]

    ids = sorted(texts)
    expect = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            d = lev(texts[a], texts[b])
            if d <= EDIT_MAX:
                expect[(a, b)] = d
    assert got == expect


def test_mode_by_flag_matches_counter(spark, sf_dir):
    from collections import Counter
    import math

    from distributed_mapreduce_spark.workload.registry import table

    got = {r.l_returnflag: r for r in QUERIES["mode_quantity_by_flag"](spark, sf_dir).collect()}
    li = table(spark, sf_dir, "lineitem").select("l_returnflag", "l_quantity").collect()
    by_flag = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, Counter())[math.floor(float(r.l_quantity))] += 1
    for flag, c in by_flag.items():
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        r = got[flag]
        assert (r.mode_qty, r.mode_cnt, r.n_distinct_qty) == (best[0], best[1], len(c))


def test_heaps_curve_monotone_and_exact_at_last_decile(spark, sf_dir):
    """All three series must be non-decreasing in the decile, the last
    decile must equal whole-corpus totals, and types <= occurrences."""
    from distributed_mapreduce_spark.workload.dedup import shingle_table
    from distributed_mapreduce_spark.workload.registry import table

    rows = sorted(
        QUERIES["vocab_heaps_curve"](spark, sf_dir).collect(), key=lambda r: r.decile
    )
    assert [r.decile for r in rows] == list(range(1, 11))
    for a, b in zip(rows, rows[1:]):
        assert a.n_docs <= b.n_docs
        assert a.n_occurrences <= b.n_occurrences
        assert a.n_types <= b.n_types
    for r in rows:
        assert r.n_types <= r.n_occurrences
    docs = table(spark, sf_dir, "documents")
    sh = shingle_table(docs)
    from pyspark.sql import functions as F2

    last = rows[-1]
    assert last.n_docs == docs.count()
    tot = sh.select(F2.explode("bh").alias("g"))
    assert last.n_occurrences == tot.count()
    assert last.n_types == tot.distinct().count()


def test_trimmed_winsorized_recompute(spark, sf_dir):
    """Both robust means must match a local sort-and-slice recompute,
    and the winsorized sum must equal sum(clamped values)."""
    from decimal import ROUND_HALF_UP, Decimal

    from distributed_mapreduce_spark.workload.registry import table
    from distributed_mapreduce_spark.workload.robust import TRIM_BP

    got = {r.flag: r for r in QUERIES["trimmed_mean_by_flag"](spark, sf_dir).collect()}
    li = table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    ).collect()
    by_flag = {}
    for r in li:
        c = int(
            Decimal(repr(float(r.l_extendedprice))).quantize(
                Decimal("0.01"), rounding=ROUND_HALF_UP
            )
            * 100
        )
        by_flag.setdefault(r.l_returnflag, []).append(c)
    for flag, vals in by_flag.items():
        vals.sort()
        n = len(vals)
        k = n * TRIM_BP // 10000
        mid = vals[k : n - k]
        r = got[flag]
        assert (r.n, r.k_trimmed_each_side) == (n, k)
        assert r.trimmed_mean_c2 == sum(mid) * 100 // len(mid)
        wins = sum(mid) + k * (vals[k] + vals[n - k - 1])
        assert r.winsor_sum == wins
        # equivalently: clamp every value into [vals[k], vals[n-k-1]]
        lo, hi = vals[k], vals[n - k - 1]
        assert wins == sum(min(max(v, lo), hi) for v in vals)
        assert r.winsor_mean_c2 == wins * 100 // n


def test_markov_next_accuracy_leakfree_recompute(spark, sf_dir):
    """Local recompute with an explicit train/test split: same argmax
    predictions (tie to smallest type), same per-prior accuracy, and
    no straddling transition counted on either side."""
    from collections import Counter, defaultdict
    from datetime import datetime

    from distributed_mapreduce_spark.workload.journey import MARKOV_EVAL_CUTOFF
    from distributed_mapreduce_spark.workload.registry import table

    got = {r.prev_type: r for r in QUERIES["markov_next_event_accuracy"](spark, sf_dir).collect()}
    ev = table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    cutoff = datetime.fromisoformat(MARKOV_EVAL_CUTOFF)
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append(e)
    train, test = Counter(), []
    for rows in by_user.values():
        rows.sort(key=lambda e: (e.ts, e.event_id))
        for a, b in zip(rows, rows[1:]):
            ta, tb = a.ts < cutoff, b.ts < cutoff
            if ta and tb:
                train[(a.event_type, b.event_type)] += 1
            elif not ta and not tb:
                test.append((a.event_type, b.event_type))
    # argmax with smallest-type tie-break
    best = {}
    for (p, n), c in train.items():
        k = best.get(p)
        if k is None or (-c, n) < (-k[1], k[0]):
            best[p] = (n, c)
    stats = defaultdict(lambda: [0, 0])
    for p, n in test:
        if p in best:
            stats[p][0] += 1
            stats[p][1] += 1 if n == best[p][0] else 0
    assert set(got) == set(stats)
    for p, (nt, nc) in stats.items():
        r = got[p]
        assert r.predicted == best[p][0]
        assert (r.n_test, r.n_correct) == (nt, nc)
        assert r.acc_bp == nc * 10000 // nt

def test_pca_power_probe_readout_invariants(spark, sf_dir):
    """Rayleigh quotient per round must match a numpy replay of the
    SAME integer iteration, be bounded by the true top eigenvalue of
    the reduced covariance, and (power-iteration theory) be
    non-decreasing across rounds up to integer-floor jitter."""
    import math

    import numpy as np

    from distributed_mapreduce_spark.workload.clustering import (
        PCA_C_DIV,
        PCA_ITERS,
        PCA_MILLI,
        PCA_W0,
    )
    from distributed_mapreduce_spark.workload.registry import table

    rows = sorted(
        QUERIES["embedding_pca_power_probe"](spark, sf_dir).collect(),
        key=lambda r: r.iter,
    )
    assert [r.iter for r in rows] == list(range(1, PCA_ITERS + 1))
    emb = table(spark, sf_dir, "embeddings").select("embedding").collect()
    V = np.array(
        [[math.floor(float(x) * PCA_MILLI) for x in r.embedding] for r in emb],
        dtype=object,
    )
    n = len(V)
    Vf = V.astype(float)
    C = n * (Vf.T @ Vf) - np.outer(Vf.sum(0), Vf.sum(0))
    Cr = (np.sign(C) * (np.abs(C).astype(object) // PCA_C_DIV)).astype(object)
    w = np.array([PCA_W0] * 64, dtype=object)
    prev_r = None
    lam_max = float(np.linalg.eigvalsh(Cr.astype(float)).max())
    for r in rows:
        raw = Cr @ w
        mab = max(abs(int(x)) for x in raw)
        w_new = np.array(
            [int(np.sign(int(x))) * (abs(int(x)) * PCA_W0 // mab) for x in raw],
            dtype=object,
        )
        wcw = int(w_new @ Cr @ w_new)
        ww = int(w_new @ w_new)
        ray = (1 if wcw >= 0 else -1) * (abs(wcw) // ww)
        l1 = int(sum(abs(int(a) - int(b)) for a, b in zip(w_new, w)))
        assert (r.rayleigh_c, r.l1_delta) == (ray, l1), r.iter
        assert r.rayleigh_c <= lam_max * 1.001
        if prev_r is not None:
            assert r.rayleigh_c >= prev_r - max(2, abs(prev_r) // 1000)
        prev_r = r.rayleigh_c
        w = w_new


def test_quantile_normalize_distribution_equalized(spark, sf_dir):
    """After normalization the score multiset per source must match the
    pooled order statistics at that source's quantile grid (local
    recompute), monotonicity within source must be preserved, and the
    largest rank must map to the pooled maximum."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["quantile_normalize_sources"](spark, sf_dir).collect()
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    ).collect()
    pooled = sorted((int(d.n_chars), d.doc_id) for d in docs)
    pooled_scores = [s for s, _ in pooled]
    n = len(pooled)
    by_src = defaultdict(list)
    for d in docs:
        by_src[d.source].append((int(d.n_chars), d.doc_id))
    expect = {}
    for src, vals in by_src.items():
        vals.sort()
        n_s = len(vals)
        for r, (s, did) in enumerate(vals, 1):
            g = (r * n - 1) // n_s + 1
            expect[did] = pooled_scores[g - 1]
    got = {r.doc_id: r for r in rows}
    assert set(got) == set(expect)
    for did, exp in expect.items():
        assert got[did].normalized_score == exp
    # the top-ranked doc of every source maps to the pooled maximum
    for src, vals in by_src.items():
        top_doc = vals[-1][1]
        assert got[top_doc].normalized_score == pooled_scores[-1]


def test_mis_luby_invariants_via_local_replay(spark, sf_dir):
    """Replaying the priority waves locally must reproduce the per-round
    readout; the cumulative MIS must be independent (no internal edge)
    and dominating over everything removed."""
    import hashlib
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.iterative import MIS_ROUNDS
    from distributed_mapreduce_spark.workload.registry import table

    rows = sorted(
        QUERIES["graph_mis_luby"](spark, sf_dir).collect(), key=lambda r: r.iter
    )
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").collect()
    e0 = {(r.l_suppkey * 2, r.l_partkey * 2 + 1) for r in li}
    adj = defaultdict(set)
    for s, p in e0:
        adj[s].add(p)
        adj[p].add(s)

    def prio(u):
        return (int(hashlib.md5(f"mis_{u}".encode()).hexdigest()[:8], 16) >> 1) * (
            1 << 32
        ) + u

    undecided = set(adj)
    mis, removed = set(), set()
    for k in range(1, MIS_ROUNDS + 1):
        wave = {
            u
            for u in undecided
            if all(
                prio(u) < prio(v) for v in adj[u] if v in undecided
            )
        }
        gone = set(wave)
        for u in wave:
            gone |= adj[u] & undecided
        undecided -= gone
        mis |= wave
        removed |= gone - wave
        r = rows[k - 1]
        assert (r.n_joined, r.n_undecided) == (len(wave), len(undecided)), k
    # independence: no edge within the MIS
    for u in mis:
        assert not (adj[u] & mis), u
    # domination: every removed neighbor has an MIS neighbor
    for u in removed:
        assert adj[u] & mis, u


def test_slo_burn_alerts_recompute(spark, sf_dir):
    """Trailing-window burn rates must match a local replay over the
    hourly series; alert iff both windows clear the threshold; with a
    ~20% error mix every hour should burn hot against a 5% budget."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.events import (
        SLO_BUDGET_BP,
        SLO_BURN_X10,
        SLO_LONG_H,
        SLO_SHORT_H,
    )
    from distributed_mapreduce_spark.workload.registry import table

    rows = sorted(
        QUERIES["events_slo_burn_alerts"](spark, sf_dir).collect(),
        key=lambda r: r.h,
    )
    ev = table(spark, sf_dir, "events").select("ts", "event_type").collect()
    hourly = defaultdict(lambda: [0, 0])
    for e in ev:
        k = e.ts.replace(minute=0, second=0, microsecond=0)
        hourly[k][0] += 1
        hourly[k][1] += 1 if e.event_type == "error" else 0
    hs = sorted(hourly)
    assert [r.h for r in rows] == hs
    for i, r in enumerate(rows):
        sl = hs[max(0, i - SLO_SHORT_H + 1) : i + 1]
        ll = hs[max(0, i - SLO_LONG_H + 1) : i + 1]
        n_s = sum(hourly[h][0] for h in sl)
        e_s = sum(hourly[h][1] for h in sl)
        n_l = sum(hourly[h][0] for h in ll)
        e_l = sum(hourly[h][1] for h in ll)
        bs = e_s * 100000 // (n_s * SLO_BUDGET_BP)
        bl = e_l * 100000 // (n_l * SLO_BUDGET_BP)
        assert (r.burn_short_x10, r.burn_long_x10) == (bs, bl)
        assert r.alert == (bs >= SLO_BURN_X10 and bl >= SLO_BURN_X10)
    assert any(r.alert for r in rows), "synthetic 20% error mix must page"


def test_isotonic_calibration_matches_pav(spark, sf_dir):
    """The minimax fit must be non-decreasing and equal the weighted
    pool-adjacent-violators solution replayed locally (floor-e9)."""
    rows = sorted(
        QUERIES["quality_isotonic_calibration"](spark, sf_dir).collect(),
        key=lambda r: r.bucket,
    )
    cal = {
        r.bucket: (r.n_docs, r.n_rule_keep)
        for r in QUERIES["quality_model_calibration"](spark, sf_dir).collect()
    }
    assert [r.bucket for r in rows] == sorted(cal)
    # PAV with exact fractions
    from fractions import Fraction

    blocks = [
        [b, cal[b][0], cal[b][1]] for b in sorted(cal)
    ]  # bucket, n, pos
    stack = []
    for b, n, pos in blocks:
        stack.append([n, pos])
        while len(stack) >= 2 and Fraction(stack[-2][1], stack[-2][0]) >= Fraction(
            stack[-1][1], stack[-1][0]
        ):
            n2, p2 = stack.pop()
            stack[-1][0] += n2
            stack[-1][1] += p2
    # expand merged blocks back to per-bin fitted values
    iso_vals = []
    it = iter(stack)
    cur_n, cur_p = next(it)
    consumed = 0
    for b, n, pos in blocks:
        if consumed == cur_n:
            cur_n, cur_p = next(it)
            consumed = 0
        iso_vals.append(Fraction(cur_p, cur_n))
        consumed += n
    prev = None
    for r, v in zip(rows, iso_vals):
        want = (v.numerator * 10**9) // v.denominator
        assert r.iso_rate_e9 == want, (r.bucket, r.iso_rate_e9, want)
        if prev is not None:
            assert r.iso_rate_e9 >= prev
        prev = r.iso_rate_e9


def test_greedy_matching_local_replay(spark, sf_dir):
    """Local replay of the mutual-proposal waves must reproduce the
    readout; the matching must be valid (node-disjoint) and the rounds
    must shrink the live edge set monotonically."""
    import hashlib

    from distributed_mapreduce_spark.workload.iterative import MATCH_ROUNDS
    from distributed_mapreduce_spark.workload.registry import table

    rows = sorted(
        QUERIES["graph_greedy_matching"](spark, sf_dir).collect(),
        key=lambda r: r.iter,
    )
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_partkey").collect()
    edges = sorted({(r.l_suppkey * 2, r.l_partkey * 2 + 1) for r in li})

    def h(u, v):
        return int(hashlib.md5(f"me_{u}_{v}".encode()).hexdigest()[:8], 16)

    live = [(u, v, h(u, v)) for u, v in edges]
    matched_all = set()
    prev_live = None
    for k in range(1, MATCH_ROUNDS + 1):
        pick = {}
        for u, v, hh in live:
            for node in (u, v):
                key = (hh, u, v)
                if node not in pick or key < pick[node]:
                    pick[node] = key
        matched = {
            (u, v)
            for u, v, hh in live
            if pick.get(u) == (hh, u, v) and pick.get(v) == (hh, u, v)
        }
        gone = {n for e in matched for n in e}
        live = [(u, v, hh) for u, v, hh in live if u not in gone and v not in gone]
        r = rows[k - 1]
        assert (r.n_matched, r.n_live_edges) == (len(matched), len(live)), k
        for u, v in matched:
            assert u not in matched_all and v not in matched_all
            matched_all |= {u, v}
        if prev_live is not None:
            assert r.n_live_edges <= prev_live
        prev_live = r.n_live_edges


def test_gap_regularity_moment_recompute(spark, sf_dir):
    """cv^2 must equal the exact integer moment formula recomputed from
    raw per-user gaps; a synthetic metronome sequence would flag while
    the Poisson-ish synthetic users must mostly not."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.journey import (
        BOT_CV2_PPM,
        BOT_MIN_GAPS,
    )
    from distributed_mapreduce_spark.workload.registry import table

    got = {r.user_id: r for r in QUERIES["user_gap_regularity"](spark, sf_dir).collect()}
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id").collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append(e)
    for uid, rows_u in by_user.items():
        rows_u.sort(key=lambda e: (e.ts, e.event_id))
        us = [int(e.ts.timestamp() * 1_000_000) for e in rows_u]
        gaps = [b - a for a, b in zip(us, us[1:])]
        if not gaps:
            assert uid not in got
            continue
        n, s1 = len(gaps), sum(gaps)
        s2 = sum(g * g for g in gaps)
        r = got[uid]
        assert r.n_gaps == n
        assert r.mean_gap_us == s1 // n
        cv2 = 0 if s1 == 0 else (n * s2 - s1 * s1) * 10**6 // (s1 * s1)
        assert r.cv2_ppm == cv2
        assert r.bot_flag == (n >= BOT_MIN_GAPS and s1 > 0 and cv2 < BOT_CV2_PPM)
    flagged = sum(1 for r in got.values() if r.bot_flag)
    assert flagged <= len(got) // 2, "Poisson-ish synthetic users mostly human"


def test_neyman_allocation_exact_total_and_optimality(spark, sf_dir):
    """sum(alloc) == budget exactly; weights recompute from integer
    moments; allocation follows the N_h*S_h ordering."""
    import math
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.mlprep import NEYMAN_BUDGET
    from distributed_mapreduce_spark.workload.registry import table

    rows = QUERIES["neyman_allocation_sources"](spark, sf_dir).collect()
    assert sum(r.alloc for r in rows) == NEYMAN_BUDGET
    docs = table(spark, sf_dir, "documents").select("source", "n_chars").collect()
    agg = defaultdict(lambda: [0, 0, 0])
    for d in docs:
        a = agg[d.source]
        a[0] += 1
        a[1] += int(d.n_chars)
        a[2] += int(d.n_chars) ** 2
    for r in rows:
        n, s1, s2 = agg[r.source]
        assert r.n_docs == n
        assert r.neyman_weight == math.floor(math.sqrt(n * s2 - s1 * s1))
    # monotone: bigger weight never gets a smaller allocation (up to
    # the single Hamilton seat)
    by_w = sorted(rows, key=lambda r: r.neyman_weight)
    for a, b in zip(by_w, by_w[1:]):
        assert b.alloc >= a.alloc - 1


def test_winnowing_pairs_guarantee_on_near_dups(spark, sf_dir):
    """Every exact-Jaccard near-dup pair must also surface as a
    winnowing overlap pair (long shared runs imply shared
    fingerprints), and shared_fp must match a local recount."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.dedup import (
        NGRAM_MAX_DF,
        WINNOW_PAIR_MIN,
    )

    pairs = {
        (r.doc_a, r.doc_b): r.shared_fp
        for r in QUERIES["dedup_winnowing_pairs"](spark, sf_dir).collect()
    }
    near = QUERIES["dedup_ngram_jaccard"](spark, sf_dir).collect()
    for r in near:
        assert (r.doc_a, r.doc_b) in pairs, "near-dup missing from winnowing pairs"
    fps = QUERIES["dedup_winnowing_fingerprints"](spark, sf_dir).collect()
    by_hash = defaultdict(set)
    for f in fps:
        by_hash[f.fp_hash].add(f.doc_id)
    cnt = defaultdict(int)
    for h, docs in by_hash.items():
        if len(docs) > NGRAM_MAX_DF:
            continue
        ds = sorted(docs)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                cnt[(a, b)] += 1
    expect = {k: v for k, v in cnt.items() if v >= WINNOW_PAIR_MIN}
    assert pairs == expect


def test_chi2_independence_fraction_recompute(spark, sf_dir):
    from collections import Counter
    from fractions import Fraction

    from distributed_mapreduce_spark.workload.registry import table

    row = QUERIES["independence_chi2_source_lang"](spark, sf_dir).collect()[0]
    docs = table(spark, sf_dir, "documents").select("source", "lang").collect()
    obs = Counter((d.source, d.lang) for d in docs)
    rows_m = Counter(d.source for d in docs)
    cols_m = Counter(d.lang for d in docs)
    n = len(docs)
    assert row.n == n
    assert row.dof == (len(rows_m) - 1) * (len(cols_m) - 1)
    total = 0
    for s in rows_m:
        for l in cols_m:
            o = obs.get((s, l), 0)
            num = (o * n - rows_m[s] * cols_m[l]) ** 2 * 10**6
            total += num // (rows_m[s] * cols_m[l] * n)
    assert row.chi2_e6 == total
    # sanity vs true float chi2 within per-cell floor error
    true = sum(
        Fraction((obs.get((s, l), 0) * n - rows_m[s] * cols_m[l]) ** 2,
                 rows_m[s] * cols_m[l] * n)
        for s in rows_m for l in cols_m
    )
    assert abs(true * 10**6 - row.chi2_e6) < len(rows_m) * len(cols_m) + 1


def test_lateral_topn_matches_window_formulation(spark, sf_dir):
    """The LATERAL result must equal the classic window top-2 per
    region computed independently."""
    from distributed_mapreduce_spark.workload.registry import table
    from pyspark.sql import Window

    got = {
        (r.r_name, r.n_name): r.n_customers
        for r in QUERIES["sql_lateral_topn_per_region"](spark, sf_dir).collect()
    }
    reg = table(spark, sf_dir, "region")
    nat = table(spark, sf_dir, "nation")
    cus = table(spark, sf_dir, "customer")
    counts = (
        cus.join(nat, cus.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )
    w = Window.partitionBy("r_name").orderBy(F.desc("n_customers"), "n_name")
    top2 = counts.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= 2)
    expect = {(r.r_name, r.n_name): r.n_customers for r in top2.collect()}
    assert got == expect


def test_gap_sweep_matches_real_sessionizer(spark, sf_dir):
    """For each threshold the sweep's session count must equal an
    actual re-sessionization pass at that gap, and the counts must be
    non-increasing in the threshold."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.journey import SESSION_GAP_SWEEP_MIN
    from distributed_mapreduce_spark.workload.registry import table

    rows = {r.gap_min: r for r in QUERIES["sessionize_gap_sweep"](spark, sf_dir).collect()}
    ev = table(spark, sf_dir, "events").select("user_id", "ts", "event_id").collect()
    by_user = defaultdict(list)
    for e in ev:
        by_user[e.user_id].append(e)
    n_events = len(ev)
    prev = None
    for m in SESSION_GAP_SWEEP_MIN:
        n_sessions = 0
        for rows_u in by_user.values():
            rows_u.sort(key=lambda e: (e.ts, e.event_id))
            n_sessions += 1
            us = [int(e.ts.timestamp() * 1_000_000) for e in rows_u]
            n_sessions += sum(1 for a, b in zip(us, us[1:]) if b - a > m * 60_000_000)
        r = rows[m]
        assert r.n_sessions == n_sessions, m
        assert r.events_per_session_e6 == n_events * 10**6 // n_sessions
        if prev is not None:
            assert r.n_sessions <= prev
        prev = r.n_sessions
