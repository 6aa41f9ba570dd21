"""Round-6 operator semantics: positional phrase retrieval, ANN range
search, model quality gate interplay (oracle equality is covered by
tools/check_correctness.py; these pin the semantic invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import tokens
from distributed_mapreduce_spark.workload import QUERIES
from distributed_mapreduce_spark.workload.registry import table


def test_phrase_match_occurrences_verified_against_text(spark, sf_dir):
    """Every reported match must be a real adjacent-token occurrence:
    re-verify n_matches for each doc by counting the phrase in the
    doc's own token stream driver-side."""
    rows = QUERIES["retrieval_phrase_match"](spark, sf_dir).collect()
    assert rows, "most frequent trigram must match somewhere"
    phrases = {r.phrase for r in rows}
    assert len(phrases) == 1
    w = next(iter(phrases)).split(" ")
    assert len(w) == 3
    docs = {
        r.doc_id: r.text
        for r in table(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isin([r.doc_id for r in rows]))
        .collect()
    }
    for r in rows:
        toks = [t for t in docs[r.doc_id].split(" ") if t]
        occ = [
            i
            for i in range(len(toks) - 2)
            if toks[i : i + 3] == w
        ]
        assert len(occ) == r.n_matches
        assert occ[0] == r.first_pos


def test_range_search_is_exactly_the_thresholded_bruteforce(spark, sf_dir):
    """Range search must agree with the brute-force scorer: every pair
    at/above the radius appears, none below, no self-pairs."""
    from distributed_mapreduce_spark.workload.similarity import (
        N_QUERIES,
        RANGE_COS_U,
    )

    df = QUERIES["ann_range_search"](spark, sf_dir)
    assert df.filter(f"cos_u < {RANGE_COS_U}").count() == 0
    assert df.filter("query_id = neighbor_id").count() == 0
    assert df.filter(f"query_id >= {N_QUERIES}").count() == 0
    # completeness: per-query row counts match an independent Spark
    # formulation (cross join + having)
    from distributed_mapreduce_spark.workload.similarity import cosine_u

    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    expect = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", cosine_u(F.col("qv"), F.col("embedding")).alias("c"))
        .filter(F.col("c") >= RANGE_COS_U)
        .groupBy("qid")
        .count()
        .collect()
    )
    got = {r.query_id: r["count"] for r in df.groupBy("query_id").count().collect()}
    assert {r.qid: r["count"] for r in expect} == got


def test_lm_fluency_is_bounded_and_covers_multi_token_docs(spark, sf_dir):
    df = QUERIES["quality_lm_fluency"](spark, sf_dir)
    assert df.filter("fluency_bp < 0 OR fluency_bp > 10000").count() == 0

    n_multi = (
        table(spark, sf_dir, "documents")
        .filter(F.size(tokens(F.col("text"))) >= 2)
        .count()
    )
    assert df.count() == n_multi


def test_kfold_assignment_is_entity_disjoint_and_complete(spark, sf_dir):
    from distributed_mapreduce_spark.workload.mlprep import KFOLD_K

    rows = QUERIES["mlprep_kfold_assign"](spark, sf_dir).collect()
    assert {r.fold for r in rows} <= set(range(KFOLD_K))
    assert all(r.leak_custs == 0 for r in rows)
    assert sum(r.n_rows for r in rows) == table(spark, sf_dir, "orders").count()
    assert all(0 <= r.pos_rate_bp <= 10000 for r in rows)


def test_mmr_first_pick_is_argmax_and_set_is_distinct(spark, sf_dir):
    from distributed_mapreduce_spark.workload.similarity import (
        MMR_K,
        MMR_LAM_NUM,
        MMR_QUERY_VEC,
    )

    rows = sorted(
        QUERIES["similarity_mmr_select"](spark, sf_dir).collect(),
        key=lambda r: r.sel_rank,
    )
    assert [r.sel_rank for r in rows] == list(range(1, MMR_K + 1))
    ids = [r.doc_id for r in rows]
    assert len(set(ids)) == MMR_K and MMR_QUERY_VEC not in ids
    # rank 1 is the pure-relevance argmax: its weighted score is
    # lam*rel with no diversity penalty, and no later pick beats it
    assert rows[0].mmr_w10_u == MMR_LAM_NUM * rows[0].rel_u
    assert all(r.mmr_w10_u <= rows[0].mmr_w10_u for r in rows[1:])


def test_license_propagation_covers_corpus_and_is_monotone(spark, sf_dir):
    df = QUERIES["dedup_cluster_license_propagation"](spark, sf_dir)
    rows = df.collect()
    n_docs = table(spark, sf_dir, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert r.cluster_restricted == (r.n_restricted > 0)
        assert 0 <= r.n_restricted <= r.n_docs
        assert r.keep_doc >= r.cluster_id or r.n_docs == 1


def test_truncation_recall_bounded_and_full_dim_is_perfect(spark, sf_dir):
    from distributed_mapreduce_spark.workload.similarity import N_QUERIES

    rows = QUERIES["embedding_truncation_recall"](spark, sf_dir).collect()
    assert len(rows) == N_QUERIES
    for r in rows:
        assert 0 <= r.n_overlap <= 5
        assert r.recall_bp == r.n_overlap * 2000


def test_multimodal_phash_matches_python_dhash_and_errors(spark, sf_dir):
    import hashlib

    df = QUERIES["multimodal_phash"](spark, sf_dir)
    sample = {r.doc_id: r.phash for r in df.filter("doc_id < 5").collect()}
    for doc_id, ph in sample.items():
        h = hashlib.md5(str(doc_id).encode()).hexdigest()
        # attach_fake_media reverses the HEX STRING (char-level), not bytes
        blob = bytes.fromhex(h + h[::-1] + h + h[::-1])
        expect = 0
        for i in range(63):
            if blob[i] > blob[i + 1]:
                expect |= 1 << i
        assert ph == expect
    assert df.filter("decode_error IS NOT NULL").count() == 0
    # error-row channel: a short payload must yield a null hash + reason
    from distributed_mapreduce_spark.multimodal import perceptual_hash

    bad = spark.createDataFrame([(1, bytes([7])), (2, None)], "doc_id long, media binary")
    got = {r.doc_id: (r.phash, r.decode_error) for r in perceptual_hash(bad).collect()}
    assert got[1] == (None, "undecodable: payload too short")
    assert got[2] == (None, "undecodable: null payload")


def test_ldiversity_audit_consistency(spark, sf_dir):
    r = QUERIES["ldiversity_audit"](spark, sf_dir).collect()[0]
    assert r.n_rows == table(spark, sf_dir, "customer").count()
    assert 1 <= r.min_l <= 3
    assert 0 <= r.weak_groups <= r.n_groups
    assert (r.weak_groups == 0) == (r.weak_rows == 0)


def test_dsir_weights_cover_corpus_and_mean_identity(spark, sf_dir):
    """Every document scores exactly once; the per-gram mean is the
    truncating integer quotient; gram counts match the unigram+bigram
    arithmetic of the doc's own token stream."""
    rows = QUERIES["dsir_importance_weights"](spark, sf_dir).collect()
    docs = {r.doc_id: r.text for r in table(spark, sf_dir, "documents").collect()}
    assert {r.doc_id for r in rows} == set(docs) and len(rows) == len(docs)
    for r in rows:
        toks = [t for t in docs[r.doc_id].split(" ") if t]
        assert r.n_grams == len(toks) + max(0, len(toks) - 1)
        if r.n_grams == 0:
            assert (r.weight_sum, r.weight_pg_ppm, r.dsir_keep) == (0, 0, False)
        else:
            assert r.weight_pg_ppm == r.weight_sum // r.n_grams
            assert r.dsir_keep == (r.weight_pg_ppm >= 1_000_000)


def test_dsir_retention_tilts_toward_target_sources(spark, sf_dir):
    """The resampling gate must prefer the target domain: the
    gram-weighted mean importance of the target sources exceeds every
    non-target source's mean, and per-source keep counts agree with the
    per-doc verdicts."""
    from distributed_mapreduce_spark.workload.importance import IR_TARGET_SOURCES

    ret = {r.source: r for r in QUERIES["dsir_retention_by_source"](spark, sf_dir).collect()}
    tgt_means = [ret[s].mean_w_ppm for s in IR_TARGET_SOURCES]
    rest_means = [r.mean_w_ppm for s, r in ret.items() if s not in IR_TARGET_SOURCES]
    assert min(tgt_means) > max(rest_means)
    assert all(r.mean_w_ppm >= 1_000_000 for s, r in ret.items() if s in IR_TARGET_SOURCES)
    per_doc = (
        QUERIES["dsir_importance_weights"](spark, sf_dir)
        .join(table(spark, sf_dir, "documents").select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.sum(F.col("dsir_keep").cast("long")).alias("k"))
        .collect()
    )
    for r in per_doc:
        assert ret[r.source].n_keep == r.k


def test_exact_substring_strip_keeps_one_canonical_occurrence(spark, sf_dir):
    """Lee et al. semantics end-to-end: token accounting is exact, a doc
    only loses tokens if it contains a duplicated window, and EVERY
    duplicated window string still occurs somewhere in the cleaned
    corpus (its canonical occurrence survives contiguously)."""
    from collections import Counter

    from distributed_mapreduce_spark.workload.corpus import ES_K

    rows = QUERIES["dedup_exact_substring_strip"](spark, sf_dir).collect()
    orig = {
        r.doc_id: [t for t in r.text.split(" ") if t]
        for r in table(spark, sf_dir, "documents").collect()
    }
    cnt = Counter()
    for toks in orig.values():
        for i in range(len(toks) - ES_K + 1):
            cnt[" ".join(toks[i : i + ES_K])] += 1
    dup = {g for g, c in cnt.items() if c > 1}
    assert dup, "corpus must contain duplicated windows for the test to bite"
    clean_grams = set()
    for r in rows:
        ct = [t for t in r.clean_text.split(" ") if t]
        assert len(ct) == r.n_kept
        assert r.n_kept + r.n_removed == r.n_tokens == len(orig[r.doc_id])
        for i in range(len(ct) - ES_K + 1):
            clean_grams.add(" ".join(ct[i : i + ES_K]))
        if r.n_removed:
            toks = orig[r.doc_id]
            assert any(
                " ".join(toks[i : i + ES_K]) in dup
                for i in range(len(toks) - ES_K + 1)
            )
    assert sum(r.n_removed for r in rows) > 0, "strip must actually remove"
    assert [g for g in dup if g not in clean_grams] == []


def test_prf_expansion_terms_and_reranking(spark, sf_dir):
    """RM1 expansion: exactly PRF_EXP_K fresh terms per query (no
    originals, no stopwords), ranked by descending integer mass with
    term tie-break; the second pass genuinely re-ranks; every returned
    doc contains at least one expanded-query term."""
    from distributed_mapreduce_spark.workload.retrieval import (
        BM25_QUERIES,
        PRF_EXP_K,
    )
    from distributed_mapreduce_spark.workload.text import STOPWORDS

    by_q: dict[int, list] = {}
    for r in QUERIES["retrieval_prf_terms"](spark, sf_dir).collect():
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(BM25_QUERIES)
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.exp_rank)
        assert [r.exp_rank for r in rows] == list(range(1, PRF_EXP_K + 1))
        keys = [(-r.w_e6, r.term) for r in rows]
        assert keys == sorted(keys)
        for r in rows:
            assert r.term not in BM25_QUERIES[qid]
            assert r.term not in STOPWORDS
    base = {
        (r.query_id, r.rnk): r.doc_id
        for r in QUERIES["bm25_top_docs"](spark, sf_dir).collect()
    }
    prf_rows = QUERIES["retrieval_prf_expansion"](spark, sf_dir).collect()
    prf = {(r.query_id, r.rnk): r.doc_id for r in prf_rows}
    assert set(base) == set(prf)
    assert any(base[k] != prf[k] for k in base)
    docs = {
        r.doc_id: {t for t in r.text.split(" ") if t}
        for r in table(spark, sf_dir, "documents").collect()
    }
    expset = {
        qid: set(BM25_QUERIES[qid]) | {r.term for r in by_q[qid]}
        for qid in by_q
    }
    for r in prf_rows:
        assert docs[r.doc_id] & expset[r.query_id]


def test_kmv_sketch_matches_driver_recomputation(spark, sf_dir):
    """Recompute one source's KMV sketch driver-side from raw text
    (same md5-u32 hash) and check h_k / n_kmv / estimator; sketch
    estimates must sit within the theoretical error regime; the
    intersection audit's internals must be mutually consistent."""
    import hashlib

    from distributed_mapreduce_spark.workload.sketches import KMV_K

    rows = {r.source: r for r in QUERIES["kmv_distinct_by_source"](spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents").collect()
    hashes: dict[str, set[int]] = {}
    for d in docs:
        s = hashes.setdefault(d.source, set())
        toks = [t for t in d.text.split(" ") if t]
        for i in range(len(toks) - 1):
            g = toks[i] + " " + toks[i + 1]
            s.add(int(hashlib.md5(("kv_" + g).encode()).hexdigest()[:8], 16))
    assert set(rows) == set(hashes)
    saturated = 0
    for src, r in rows.items():
        hs = sorted(hashes[src])
        kmv = hs[:KMV_K]
        assert r.n_distinct == len(hs)
        assert r.n_kmv == len(kmv) and r.h_k == kmv[-1]
        expect = len(hs) if len(kmv) < KMV_K else ((KMV_K - 1) * 4294967296) // (kmv[-1] + 1)
        assert r.est_distinct == expect
        assert r.err_bp == abs(expect - len(hs)) * 10000 // len(hs)
        assert r.err_bp <= 5000  # ~12.7% RSE regime; 50% is a safe gate
        saturated += r.n_kmv == KMV_K
    assert saturated == len(rows), "estimator must leave its exact n<K regime"
    audit = QUERIES["kmv_set_ops_audit"](spark, sf_dir).collect()[0]
    assert audit.exact_inter > 0 and audit.exact_union >= audit.exact_inter
    n_x = min(KMV_K, audit.exact_union)
    assert audit.est_inter == audit.matched * audit.est_union // n_x
    assert 0 <= audit.matched <= n_x
    assert abs(audit.est_inter - audit.exact_inter) * 2 <= audit.exact_inter


def test_tcloseness_audit_matches_pure_python_recompute(spark, sf_dir):
    """Recompute the exact integer TV audit driver-side from raw rows:
    truncated ppm shares over the dense 3-band grid, TV = sum|.|//2,
    then the same summary — must match the distributed result field
    for field."""
    from collections import Counter

    from distributed_mapreduce_spark.workload.validation import TCLOSE_T_PPM

    r = QUERIES["tcloseness_audit"](spark, sf_dir).collect()[0]
    cust = table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    band = lambda b: "neg" if b < 0 else ("mid" if b < 5000 else "high")
    by_group, by_band = Counter(), Counter()
    for c in cust:
        by_group[(c.c_nationkey, c.c_mktsegment, band(c.c_acctbal))] += 1
        by_band[band(c.c_acctbal)] += 1
    n = len(cust)
    groups = {(k[0], k[1]) for k in by_group}
    glob_ppm = {s: (1_000_000 * by_band[s]) // n for s in ("neg", "mid", "high")}
    max_tv, far_groups, far_rows = 0, 0, 0
    for g in groups:
        grp_n = sum(by_group[(g[0], g[1], s)] for s in ("neg", "mid", "high"))
        tv = (
            sum(
                abs(
                    (1_000_000 * by_group[(g[0], g[1], s)]) // grp_n
                    - glob_ppm[s]
                )
                for s in ("neg", "mid", "high")
            )
            // 2
        )
        max_tv = max(max_tv, tv)
        if tv > TCLOSE_T_PPM:
            far_groups += 1
            far_rows += grp_n
    assert (r.n_groups, r.n_rows) == (len(groups), n)
    assert r.max_tv_ppm == max_tv
    assert (r.far_groups, r.far_rows) == (far_groups, far_rows)


def test_cdc_chunks_match_pure_python_recompute(spark, sf_dir):
    """Recompute content-defined chunking driver-side: same boundary
    rule (md5-u32 of each 8-gram % 64 == 0), same first-occurrence
    ranking, same per-source summary."""
    import hashlib
    from collections import defaultdict

    rows = {r.source: r for r in QUERIES["dedup_cdc_chunks"](spark, sf_dir).collect()}
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    ).collect()

    def u32(s):
        return int(hashlib.md5(("cdck_" + s).encode()).hexdigest()[:8], 16)

    first_seen = {}
    per_source = defaultdict(lambda: [0, 0, 0, 0, 0])
    for d in sorted(docs, key=lambda d: d.doc_id):
        t, n = d.text, len(d.text)
        bounds = [i for i in range(8, n) if u32(t[i - 8 : i]) % 64 == 0]
        pl = [0] + bounds + [n]
        for j in range(1, len(pl)):
            chunk = t[pl[j - 1] : pl[j]]
            cid = hashlib.md5(("cdcid_" + chunk).encode()).hexdigest()
            s = per_source[d.source]
            s[0] += 1
            s[3] += len(chunk)
            if cid not in first_seen:
                first_seen[cid] = True
                s[1] += 1
            else:
                s[2] += 1
                s[4] += len(chunk)
    assert set(rows) == set(per_source)
    for src, (n_chunks, n_kept, dup_i, total_c, saved) in per_source.items():
        r = rows[src]
        assert (
            r.n_chunks, r.n_kept, r.dup_instances, r.total_chars, r.chars_saved
        ) == (n_chunks, n_kept, dup_i, total_c, saved), src
    # chunking must actually split: some doc has >1 chunk
    assert sum(v[0] for v in per_source.values()) > len(docs)


def test_query_likelihood_semantics(spark, sf_dir):
    """Pin the LM-retrieval invariants: every (query, doc) result doc
    contains >=1 query term; scores equal the pure-python dense-grid
    recompute for the top doc of each query; ranks are 1..k dense."""
    import hashlib

    from distributed_mapreduce_spark.workload.retrieval import (
        BM25_QUERIES,
        QL_MU,
        QL_TOP_K,
    )

    rows = QUERIES["retrieval_query_likelihood"](spark, sf_dir).collect()
    docs = {
        r.doc_id: [t for t in r.text.split(" ") if t]
        for r in table(spark, sf_dir, "documents").collect()
    }
    total_len = sum(len(v) for v in docs.values())
    all_terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    cf = {
        t: sum(toks.count(t) for toks in docs.values()) for t in all_terms
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(BM25_QUERIES)
    for qid, rs in by_q.items():
        assert sorted(x.rnk for x in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= QL_TOP_K
        for x in rs:
            toks = docs[x.doc_id]
            assert any(t in toks for t in BM25_QUERIES[qid])
            expect = sum(
                (10**9 * (toks.count(t) * total_len + QL_MU * cf[t]))
                // (total_len * (len(toks) + QL_MU))
                for t in BM25_QUERIES[qid]
            )
            assert x.score_e9 == expect, (qid, x.doc_id)


def test_jaccard_linkpred_matches_adjacency_recompute(spark, sf_dir):
    """Rebuild the co-occurrence graph driver-side and verify every
    reported pair: non-adjacent, exact common/union counts, truncated
    ppm score, and that no non-reported pair beats the reported
    minimum (top-k completeness)."""
    from collections import defaultdict

    from distributed_mapreduce_spark.workload.graph import (
        JACC_TOP_K,
        _edges,
    )

    rows = QUERIES["graph_jaccard_linkpred"](spark, sf_dir).collect()
    edges = {(r.src, r.dst) for r in _edges(spark, sf_dir).collect()}
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
        adj[d].add(s)
    assert rows and len(rows) <= JACC_TOP_K
    for r in rows:
        assert (r.a, r.c) not in edges and r.a < r.c
        common = len(adj[r.a] & adj[r.c])
        assert r.n_common == common > 0
        assert r.jaccard_ppm == (1_000_000 * common) // (
            len(adj[r.a] | adj[r.c])
        )
    # completeness: every candidate pair not in the result scores <= min
    reported = {(r.a, r.c) for r in rows}
    if len(rows) == JACC_TOP_K:
        floor_key = min((r.jaccard_ppm, -r.a, -r.c) for r in rows)
        for b in adj:
            nb = sorted(adj[b])
            for i in range(len(nb)):
                for j in range(i + 1, len(nb)):
                    a, c = nb[i], nb[j]
                    if (a, c) in reported or (a, c) in edges:
                        continue
                    ppm = (1_000_000 * len(adj[a] & adj[c])) // len(
                        adj[a] | adj[c]
                    )
                    assert (ppm, -a, -c) <= floor_key, (a, c, ppm)


def test_feature_hashing_audit_invariants(spark, sf_dir):
    """Counting identities of the hashing-trick audit: buckets bound
    the vocab, collisions+singletons partition the vocab, cancelled
    mass is even and only arises in collided buckets."""
    from distributed_mapreduce_spark.workload.mlprep import FH_DIM

    r = QUERIES["mlprep_feature_hashing"](spark, sf_dir).collect()[0]
    assert 0 < r.n_used_buckets <= min(FH_DIM, r.n_distinct_tokens)
    assert r.max_bucket_tokens >= -(-r.n_distinct_tokens // FH_DIM)
    singles = r.n_distinct_tokens - r.colliding_tokens
    assert 0 <= singles <= r.n_used_buckets
    # cancellation happens only through sign pairing: parity is even
    assert r.cancelled_mass % 2 == 0
    assert 0 <= r.cancelled_mass <= r.total_count
    # exact recompute driver-side
    import hashlib
    from collections import Counter

    cnt = Counter()
    for row in table(spark, sf_dir, "documents").select("text").collect():
        cnt.update(t for t in row.text.split(" ") if t)
    assert r.n_distinct_tokens == len(cnt)
    assert r.total_count == sum(cnt.values())

    def u32(seed, s):
        return int(hashlib.md5((seed + s).encode()).hexdigest()[:8], 16)

    bt, bs = Counter(), Counter()
    for t, c in cnt.items():
        b = u32("fh_", t) % FH_DIM
        bt[b] += 1
        bs[b] += c if u32("fs_", t) % 2 == 0 else -c
    assert r.n_used_buckets == len(bt)
    assert r.max_bucket_tokens == max(bt.values())
    assert r.colliding_tokens == sum(v for v in bt.values() if v > 1)
    assert r.cancelled_mass == r.total_count - sum(
        abs(v) for v in bs.values()
    )


def test_class_weights_balance_identity(spark, sf_dir):
    """Σ cnt·weight ≈ total·1e6 (exact up to per-class truncation) and
    minority classes get strictly larger weights."""
    rows = QUERIES["mlprep_class_weights"](spark, sf_dir).collect()
    total = sum(r.cnt for r in rows)
    k = len(rows)
    for r in rows:
        assert r.weight_ppm == (1_000_000 * total) // (k * r.cnt)
    wsum = sum(r.cnt * r.weight_ppm for r in rows)
    assert total * 1_000_000 - k * total <= wsum <= total * 1_000_000
    by_cnt = sorted(rows, key=lambda r: r.cnt)
    for lo, hi in zip(by_cnt, by_cnt[1:]):
        assert lo.weight_ppm >= hi.weight_ppm


def test_theil_sen_matches_pure_python_recompute(spark, sf_dir):
    """Lower-median pairwise-slope recompute per event type, including
    truncation-toward-zero division on negative slopes."""
    from collections import Counter

    rows = {r.event_type: r for r in QUERIES["robust_theil_sen_trend"](spark, sf_dir).collect()}
    ev = table(spark, sf_dir, "events").selectExpr(
        "event_type",
        "CAST(datediff(date_trunc('day', ts), TIMESTAMP '1970-01-01') AS BIGINT) AS x",
    ).collect()
    daily = Counter((e.event_type, e.x) for e in ev)
    types = {t for t, _ in daily}
    assert set(rows) == types

    def tdiv(a, b):
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    for t in types:
        pts = sorted((x, c) for (tt, x), c in daily.items() if tt == t)
        slopes = sorted(
            tdiv(1_000_000 * (y2 - y1), x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
        )
        n_pairs = len(slopes)
        slope = slopes[(n_pairs + 1) // 2 - 1]
        resid = sorted(1_000_000 * y - slope * x for x, y in pts)
        inter = resid[(len(resid) + 1) // 2 - 1]
        r = rows[t]
        assert (r.n_days, r.n_pairs, r.slope_e6, r.intercept_e6) == (
            len(pts), n_pairs, slope, inter,
        ), t


def test_benford_audit_identities(spark, sf_dir):
    """Expected shares are the exact public constants summing to 1e6;
    observed counts re-derived from the raw column."""
    from collections import Counter

    from distributed_mapreduce_spark.workload.validation import BENFORD_PPM

    assert sum(BENFORD_PPM.values()) == 1_000_000
    rows = QUERIES["dq_benford_audit"](spark, sf_dir).collect()
    assert [r.digit for r in rows] == list(range(1, 10))
    prices = [
        int(r.o_totalprice)
        for r in table(spark, sf_dir, "orders").select("o_totalprice").collect()
    ]
    cnt = Counter(int(str(p)[0]) for p in prices)
    n = len(prices)
    for r in rows:
        assert r.n_obs == cnt.get(r.digit, 0)
        assert r.exp_ppm == BENFORD_PPM[r.digit]
        assert r.obs_ppm == (1_000_000 * r.n_obs) // n
        assert r.dev_ppm == abs(r.obs_ppm - r.exp_ppm)


def test_recursive_hierarchy_rollup_subtree_identity(spark, sf_dir):
    """Digit-tree semantics recomputed driver-side: each reported
    ancestor's (n_parts, total_dollars) equals the sum over all parts
    whose decimal-prefix chain passes through it (self included)."""
    import math
    from collections import defaultdict

    rows = {r.ancestor: r for r in QUERIES["sql_recursive_hierarchy_rollup"](spark, sf_dir).collect()}
    parts = table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice"
    ).collect()
    agg = defaultdict(lambda: [0, 0])
    for p in parts:
        k, d = p.p_partkey, int(math.floor(p.p_retailprice))
        while True:
            agg[k][0] += 1
            agg[k][1] += d
            if k == 0:
                break
            k //= 10
    expect = {
        a: v for a, v in agg.items() if a < 1000 and v[0] >= 2
    }
    assert set(rows) == set(expect)
    for a, (n, tot) in expect.items():
        assert (rows[a].n_parts, rows[a].total_dollars) == (n, tot), a


def test_quantile_grid_sketch_error_bounded_and_exact_side_correct(spark, sf_dir):
    """The grid estimate must sit exactly one bin above the true
    percentile (upper-edge estimator): 1 <= err_cents <= 128*100, the
    estimate is a multiple of the bin width, and the exact side equals
    a driver-side sorted-rank recomputation."""
    from distributed_mapreduce_spark.workload.sketches import QGRID_PCTS, QGRID_W

    rows = {r.pct: r for r in QUERIES["quantile_grid_sketch_audit"](spark, sf_dir).collect()}
    assert set(rows) == set(QGRID_PCTS)

    prices = sorted(
        r.p
        for r in table(spark, sf_dir, "lineitem")
        .select(F.col("l_extendedprice").alias("p"))
        .collect()
    )
    n = len(prices)
    for pct, r in rows.items():
        exact = prices[-(-pct * n // 100) - 1]  # ceil(pct*n/100), 1-based
        assert r.exact_price == exact
        assert r.est_price % QGRID_W == 0
        assert 1 <= r.err_cents <= QGRID_W * 100
        assert r.est_price - QGRID_W <= r.exact_price < r.est_price


def test_bitext_margin_mining_matches_driver_recompute(spark, sf_dir):
    """Re-derive the full mutual-NN + additive-margin result driver-side
    (same left-fold dot order, same integer math) and compare sets."""
    import math

    from distributed_mapreduce_spark.workload.similarity import (
        BITEXT_K,
        BITEXT_MARGIN_MIN_U,
        BITEXT_SAMPLE_MOD,
    )

    emb = {
        r.vec_id: r.embedding for r in table(spark, sf_dir, "embeddings").collect()
    }
    lang = {r.doc_id: r.lang for r in table(spark, sf_dir, "documents").collect()}
    a_ids = sorted(
        i for i in emb if lang.get(i) == "en" and i % BITEXT_SAMPLE_MOD == 0
    )
    b_ids = sorted(i for i in emb if lang.get(i) == "zh")
    assert a_ids and b_ids

    def fold_dot(x, y):
        acc = 0.0
        for xi, yi in zip(x, y):
            acc += float(xi) * float(yi)
        return acc

    def cos_u(x, y):
        return math.floor(
            fold_dot(x, y)
            / (math.sqrt(fold_dot(x, x)) * math.sqrt(fold_dot(y, y)))
            * 1_000_000.0
        )

    s = {(ai, bi): cos_u(emb[ai], emb[bi]) for ai in a_ids for bi in b_ids}
    topa = {
        ai: sorted(b_ids, key=lambda bi: (-s[(ai, bi)], bi))[:BITEXT_K]
        for ai in a_ids
    }
    topb = {
        bi: sorted(a_ids, key=lambda ai: (-s[(ai, bi)], ai))[:BITEXT_K]
        for bi in b_ids
    }

    def tdiv(x, y):
        q = abs(x) // abs(y)
        return q if (x >= 0) == (y >= 0) else -q

    expected = set()
    for ai in a_ids:
        bi = topa[ai][0]
        if topb[bi][0] != ai:
            continue
        suma = sum(s[(ai, z)] for z in topa[ai])
        sumb = sum(s[(z, bi)] for z in topb[bi])
        margin = s[(ai, bi)] - tdiv(suma + sumb, len(topa[ai]) + len(topb[bi]))
        if margin >= BITEXT_MARGIN_MIN_U:
            expected.add((ai, bi, s[(ai, bi)], margin))

    got = {
        (r.en_id, r.zh_id, r.cos_u, r.margin_e6)
        for r in QUERIES["bitext_margin_mining"](spark, sf_dir).collect()
    }
    assert got == expected and got


def test_rank_correlation_matches_driver_recompute(spark, sf_dir):
    """Recompute Spearman rho driver-side from the two scored relations
    (same deterministic tie-break) and compare every output column."""
    from distributed_mapreduce_spark.workload.retrieval import (
        BM25_QUERIES,
        _bm25_scored,
        _ql_scored,
    )

    bm = _bm25_scored(spark, sf_dir, BM25_QUERIES).collect()
    ql = _ql_scored(spark, sf_dir).collect()

    def ranks(rows):
        out = {}
        byq = {}
        for r in rows:
            byq.setdefault(r.query_id, []).append((-r.score_e9, r.doc_id))
        for qid, lst in byq.items():
            for i, (_, doc) in enumerate(sorted(lst), start=1):
                out[(qid, doc)] = i
        return out

    rb, rq = ranks(bm), ranks(ql)
    assert set(rb) == set(rq), "rankers must score the same candidate set"
    expected = {}
    for qid in {q for q, _ in rb}:
        ds = [rb[k] - rq[k] for k in rb if k[0] == qid]
        n = len(ds)
        sd2 = sum(d * d for d in ds)
        rho = 1_000_000 if n < 2 else 1_000_000 - 6_000_000 * sd2 // (
            n * (n - 1) * (n + 1)
        )
        expected[qid] = (n, sd2, rho)

    got = {
        r.query_id: (r.n_candidates, r.sum_d2, r.rho_e6)
        for r in QUERIES["retrieval_rank_correlation"](spark, sf_dir).collect()
    }
    assert got == expected
    for n, sd2, rho in got.values():
        assert -1_000_000 <= rho <= 1_000_000


def test_dp_noisy_counts_mechanism(spark, sf_dir):
    """Noise must be the hash-seeded two-sided geometric: recompute it
    from md5 driver-side; true counts must match a direct recount."""
    import hashlib

    rows = QUERIES["dp_noisy_counts"](spark, sf_dir).collect()
    truth = {
        (r.source, r.lang): r.n
        for r in table(spark, sf_dir, "documents")
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r.source, r.lang) for r in rows} == set(truth)

    def geom(tag, key):
        h = int(hashlib.md5((tag + key).encode()).hexdigest()[:8], 16)
        return bin(h ^ (h + 1)).count("1") - 1

    for r in rows:
        key = f"{r.source}|{r.lang}"
        want = geom("dpA_", key) - geom("dpB_", key)
        assert r.true_n == truth[(r.source, r.lang)]
        assert r.noise == want
        assert r.noisy_n == r.true_n + r.noise


def test_minhash_estimate_audit_bounds_and_verified_subset(spark, sf_dir):
    """est_bp must be n_match/k exactly; every >=0.7-verified LSH pair
    must appear among audited candidates with exact_bp >= 7000."""
    audit = {
        (r.doc_a, r.doc_b): r
        for r in QUERIES["dedup_minhash_estimate_audit"](spark, sf_dir).collect()
    }
    assert audit
    for r in audit.values():
        assert 0 <= r.n_match <= 8
        assert r.est_bp == r.n_match * 10000 // 8
        assert r.err_bp == r.est_bp - r.exact_bp
        assert 0 <= r.exact_bp <= 10000
    verified = QUERIES["dedup_minhash_pairs"](spark, sf_dir).collect()
    for v in verified:
        a = audit[(v.doc_a, v.doc_b)]
        assert a.exact_bp >= 7000


def test_edge_support_matches_adjacency_recompute(spark, sf_dir):
    """support(u,v) must equal |N(u) ∩ N(v)| for every reported edge,
    every triangle-edge must be reported, and the support total must
    be 3x the triangle count implied by graph_triangle_counts."""
    from distributed_mapreduce_spark.workload.graph import _edges

    edges = {(r.src, r.dst) for r in _edges(spark, sf_dir).collect()}
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)

    got = {
        (r.src, r.dst): r.support
        for r in QUERIES["graph_edge_support"](spark, sf_dir).collect()
    }
    assert got
    for (s, d), sup in got.items():
        assert (s, d) in edges
        assert sup == len(adj[s] & adj[d])
    for s, d in edges:
        common = len(adj[s] & adj[d])
        if common:
            assert got.get((s, d)) == common

    node_tris = QUERIES["graph_triangle_counts"](spark, sf_dir).collect()
    assert sum(got.values()) == sum(r.n_triangles for r in node_tris)


def test_subsample_variance_matches_driver_recompute(spark, sf_dir):
    """Full hash-seeded replication recomputed driver-side; grand mean
    must sandwich the full mean within the replica spread."""
    import hashlib

    from distributed_mapreduce_spark.workload.validation import SUBSAMPLE_B

    docs = [
        (r.doc_id, r.n_chars)
        for r in table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    ]
    means = []
    for b in range(SUBSAMPLE_B):
        sel = [
            nc
            for did, nc in docs
            if int(hashlib.md5(f"bs{b}_{did}".encode()).hexdigest()[:8], 16) % 2 == 0
        ]
        means.append(sum(sel) * 1_000_000 // len(sel))
    B = len(means)
    sm, sm2 = sum(means), sum(m * m for m in means)
    row = QUERIES["subsample_variance_audit"](spark, sf_dir).collect()[0]
    assert row.n_replicas == B == SUBSAMPLE_B
    assert row.grand_mean_e6 == sm // B
    assert row.var_between_e12 == (B * sm2 - sm * sm) // (B * (B - 1))
    assert row.n_docs == len(docs)
    assert row.full_mean_e6 == sum(nc for _, nc in docs) * 1_000_000 // len(docs)
    spread = max(means) - min(means)
    assert abs(row.grand_mean_e6 - row.full_mean_e6) <= max(spread, 1)
