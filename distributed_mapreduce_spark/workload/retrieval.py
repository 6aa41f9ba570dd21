"""Ranked retrieval over `documents` — BM25 scoring and hybrid
lexical+semantic fusion (reciprocal-rank fusion).

This family extends the reference's grep/SELECT surface
(`/root/reference/file_server/fileserver.py` regex SELECT: boolean
match only, no ranking) to scored retrieval — the operation a
training-data pipeline runs to pull topical subsets out of a 100 TB
corpus and to mine hybrid (keyword ∪ embedding) candidates.

Exactness policy (repo-wide): no float ever reaches the comparator.

- BM25's tf-saturation term is *exactly rational* for k1 = 6/5 and
  b = 3/4: tf·(k1+1) / (tf + k1(1−b) + k1·b·dl/avgdl) with
  avgdl = total_len/n_docs becomes, after multiplying through by
  10·total_len,  22·tf·total_len / (10·tf·total_len + 3·total_len
  + 9·dl·n_docs) — all integers.
- The idf factor ln((N−df+½)/(df+½)) is replaced by the integer
  surrogate  idf_e6 = ⌊(2(N−df)+1)·10⁶ / (2df+1)⌋ — the argument of
  the log, doubled to clear the halves. Monotone in the true idf, so
  per-term ranking is preserved (same device as `tfidf_top_terms`,
  `workload/quality.py`); documented as a surrogate, not BM25's exact
  log weighting.
- Per-term score = ⌊idf_e6 · 22·tf·total_len·1000 / denom⌋ summed per
  (query, doc) — sums of integers, bit-identical on both engines.
  Overflow headroom: idf_e6 ≤ ~2N·10⁶/3; the product is
  ≤ ~1.5·10⁹·N·tf·total_len·10³ — inside DECIMAL(38,0)/HUGEINT for
  N·tf·total_len ≲ 10²⁵ (e.g. 10¹⁰ docs × 10¹³ total tokens with
  tf ≤ 10²), with the df ≥ 1 guarantee keeping the divisor positive.

Scale shape (100 TB):
- The scored relation is unbounded (most docs match ≥1 query term), so
  the per-query top-k is a **salted two-stage window**: stage 1 ranks
  within (query, salt) — {TOPK_SALTS} independent partitions — and
  keeps k; stage 2 ranks the ≤ salts·k survivors per query. Exact (any
  global top-k row is top-k within its salt) and never materializes a
  single-partition window over raw rows.
- tf is one exploded hash-aggregate with the query-term filter pushed
  BELOW the explode (`array_intersect` before the unnest); df and idf
  live on the tiny term relation; doc lengths join on doc_id
  (equi-shuffle); totals attach as a 1-row broadcast.
- RRF fuses two ≤pool-row ranked lists — the final window runs over
  ≤ 2·pool rows by construction (bounded-window class).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import (
    hash_u32,
    ngrams,
    sql_hash_u32,
    sql_ngrams,
    sql_tokens,
    tokens,
)
from distributed_mapreduce_spark.workload.registry import query, table
from distributed_mapreduce_spark.workload.similarity import (
    _sql_cos_u,
    cosine_u,
)
from distributed_mapreduce_spark.workload.text import STOPWORDS

#: Fixed keyword queries (terms from the harness vocabulary).
BM25_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("spark", "join", "hash"),
    1: ("window", "vector", "scan"),
}
BM25_TOP_K = 10
#: Salt fan-out of the two-stage top-k (stage-2 input ≤ salts·k rows).
TOPK_SALTS = 8
#: Documents parquet size above which BM25 persists its doc-grain
#: relation (rationale in `_bm25_relations`).
BM25_PERSIST_BYTES = 256 << 20

#: Reciprocal-rank fusion: pool depth per ranked list, the standard
#: k=60 damping constant, fused cutoff, and the anchor query.
RRF_POOL = 50
RRF_K = 60
RRF_TOP = 10
RRF_QUERY_ID = 0
RRF_QVEC_ID = 0


def _salt(col: Column, tag: str, mod: int) -> Column:
    """md5-derived deterministic salt — portable across engines
    (canonical hash: `functions/hashing.py:hash_u32`)."""
    return hash_u32(col.cast("string"), tag) % mod


def _sql_salt(col: str, tag: str, mod: int) -> str:
    return f"({sql_hash_u32(f'CAST({col} AS VARCHAR)', tag)} % {mod})"


def _two_stage_topk(
    scored: DataFrame, part_cols: list[str], order_cols: list[Column], k: int,
    salt_tag: str,
) -> DataFrame:
    """Exact distributed top-k per `part_cols` group: per-salt top-k,
    then top-k over the ≤ TOPK_SALTS·k survivors. Adds `rnk`."""
    salted = scored.withColumn(
        "_salt", _salt(F.col("doc_id"), salt_tag, TOPK_SALTS)
    )
    w1 = Window.partitionBy(*(part_cols + ["_salt"])).orderBy(*order_cols)
    w2 = Window.partitionBy(*part_cols).orderBy(*order_cols)
    return (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .drop("_salt", "_r1")
    )


def _bm25_persist_corpus(docs: DataFrame) -> bool:
    """Adaptive persist decision for the BM25 doc-grain relation:
    persist iff the corpus parquet bytes (driver-side file metadata — no
    job) reach ``BM25_PERSIST_BYTES``. Rationale in `_bm25_relations`."""
    import os

    total = 0
    for uri in docs.inputFiles():
        path = uri[7:] if uri.startswith("file://") else uri
        try:
            total += os.path.getsize(path)
        except OSError:
            return False  # non-local source: stay conservative
        if total >= BM25_PERSIST_BYTES:
            return True
    return total >= BM25_PERSIST_BYTES


def _bm25_relations(
    spark: SparkSession,
    sf_dir: str,
    queries: dict[int, tuple[str, ...]],
    divisors: dict[tuple[int, str], int] | None = None,
) -> dict[str, DataFrame]:
    """The BM25 building-block relations — q (query terms + gdiv),
    dl (doc lengths), tot (1-row totals), tf (term-filtered per-doc
    frequencies), idf (per-term integer surrogate) — exposed as ONE
    implementation so the scorer (`_bm25_scored`) and the feature
    export (`ltr_feature_matrix`) can never drift apart."""
    docs = table(spark, sf_dir, "documents")
    terms = sorted({t for ts in queries.values() for t in ts})
    q = spark.createDataFrame(
        [
            (qid, t, int((divisors or {}).get((qid, t), 1)))
            for qid, ts in sorted(queries.items())
            for t in ts
        ],
        "query_id INT, term STRING, gdiv INT",
    )
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    # Adaptive corpus persist (r13, VERDICT r12 #7). ABOVE the byte
    # threshold, ONE doc-grain relation carries everything downstream
    # needs from the corpus — dl plus the per-matched-term counts,
    # computed BEFORE the explode — and every other relation (dl, tot,
    # tf, df/idf) derives from it, so persisting that one narrow
    # relation (rows = n_docs, bytes ∝ matches, ~1e-3 of the corpus)
    # collapses the whole BM25 family to a SINGLE tokenize pass.
    # BELOW the threshold nothing is cached and the r12 fused
    # explode-then-count shape stands (see the else-branch comment for
    # the paired measurement that keeps it).
    #
    # Why adaptive: the r12 constant-off switch was measured a LOSS at
    # sf0.1 (paired A/B: hard_negatives 1.19->1.42 s, prf 1.21->1.36 —
    # the cache write breaks the fused tokenize->explode->join->
    # partial-agg codegen pipeline and a 0.6 MB corpus pass is cheaper
    # than any cache), but at scale the repeated tokenize passes (3
    # per scored action, 4 for ltr) dominate the tiny cache write.
    # Decision: persist when the documents parquet exceeds
    # BM25_PERSIST_BYTES (256 MiB).
    if _bm25_persist_corpus(docs):
        docterms = tokd.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.transform(
                F.array_intersect("toks", F.array(*[F.lit(t) for t in terms])),
                lambda t: F.struct(
                    t.alias("term"),
                    F.size(F.filter("toks", lambda x: x == t))
                    .cast("long")
                    .alias("tf"),
                ),
            ).alias("mtf"),
        ).persist()
        dl = docterms.select("doc_id", "dl")
        tot = docterms.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_len"),
        )
        tf = docterms.select(
            "doc_id", "dl", F.explode("mtf").alias("m")
        ).select(
            "doc_id", F.col("m.term").alias("term"), F.col("m.tf").alias("tf"), "dl"
        )
    else:
        # Below threshold the r12 fused shape stands: explode the
        # matched terms with `toks` riding along and count per exploded
        # row — measured FASTER than materializing the (term, tf)
        # struct array per doc (paired worktree A/B on
        # retrieval_prf_expansion at sf0.1: 1.28/1.34 s fused vs
        # 1.52/1.72 s struct-array mins). The struct-array shape only
        # pays for itself when the single cached tokenize pass replaces
        # repeated corpus scans — i.e. exactly the persist branch.
        dl = tokd.select("doc_id", F.size("toks").cast("long").alias("dl"))
        tot = dl.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("total_len"),
        )
        tf = tokd.select(
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode(
                F.array_intersect("toks", F.array(*[F.lit(t) for t in terms]))
            ).alias("term"),
            F.col("toks"),
        ).select(
            "doc_id",
            "term",
            F.size(F.filter("toks", lambda x: x == F.col("term")))
            .cast("long")
            .alias("tf"),
            "dl",
        )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    idf = df.crossJoin(F.broadcast(tot)).select(
        "term",
        "df",
        F.expr(
            "CAST((CAST(2 AS DECIMAL(38,0)) * (n_docs - df) + 1) * 1000000"
            " DIV (2 * df + 1) AS BIGINT)"
        ).alias("idf_e6"),
    )
    return {"q": q, "dl": dl, "tot": tot, "tf": tf, "idf": idf}


def _bm25_scored(
    spark: SparkSession,
    sf_dir: str,
    queries: dict[int, tuple[str, ...]],
    divisors: dict[tuple[int, str], int] | None = None,
) -> DataFrame:
    """(query_id, doc_id, score_e9) for every doc matching ≥1 term.

    `divisors` optionally down-weights individual (query, term) pairs:
    that term's integer score is further truncated by `DIV gdiv`
    (PRF expansion terms use {PRF_GDIV}; original terms stay at 1)."""
    r = _bm25_relations(spark, sf_dir, queries, divisors)
    return (
        # `dl` comes inline on the tf rows (one tokenize pass) — no
        # doc-grain dl join; see _bm25_relations.
        r["tf"]
        .join(F.broadcast(r["idf"]), "term")
        .join(F.broadcast(r["q"]), "term")
        .crossJoin(F.broadcast(r["tot"]))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                "CAST(CAST(idf_e6 AS DECIMAL(38,0)) * 22 * tf * total_len * 1000"
                " DIV (CAST(10 AS DECIMAL(38,0)) * tf * total_len"
                "      + 3 * total_len + 9 * dl * n_docs) DIV gdiv AS BIGINT)"
            ).alias("term_score_e9"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("term_score_e9").cast("long").alias("score_e9"))
    )


def _bm25_scored_sql(queries: dict[int, tuple[str, ...]]) -> str:
    """CTE chain ending in scored(query_id, doc_id, score_e9)."""
    values = ", ".join(
        f"({qid}, '{t}')" for qid, ts in sorted(queries.items()) for t in ts
    )
    terms = ", ".join(
        f"'{t}'" for t in sorted({t for ts in queries.values() for t in ts})
    )
    return f"""
    q(query_id, term) AS (VALUES {values}),
    tokd AS MATERIALIZED (SELECT doc_id, {sql_tokens('text')} AS toks FROM documents),
    dl AS MATERIALIZED (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tokd),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
    tf AS MATERIALIZED (
      SELECT doc_id, tok AS term,
             CAST(len(list_filter(toks, x -> x = tok)) AS BIGINT) AS tf
      FROM tokd, unnest(list_intersect(toks, [{terms}])) AS u(tok)
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    idf AS (
      SELECT term, df,
             CAST((CAST(2 AS HUGEINT) * (n_docs - df) + 1) * 1000000
                  // (2 * df + 1) AS BIGINT) AS idf_e6
      FROM df CROSS JOIN tot
    ),
    scored AS (
      SELECT q.query_id, tf.doc_id,
             CAST(sum(
               CAST(idf.idf_e6 AS HUGEINT) * 22 * tf.tf * total_len * 1000
               // (CAST(10 AS HUGEINT) * tf.tf * total_len
                   + 3 * total_len + 9 * dl.dl * n_docs)
             ) AS BIGINT) AS score_e9
      FROM tf
      JOIN idf ON tf.term = idf.term
      JOIN q ON tf.term = q.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN tot
      GROUP BY 1, 2
    )"""


def _sql_two_stage_topk(scored: str, part: str, k: int, salt_tag: str) -> str:
    """CTE chain `s1`,`s2` mirroring `_two_stage_topk` over `{scored}`;
    `part` is '' (global) or 'query_id,' column prefix."""
    pby1 = f"{part} _salt".replace(",", ", ") if part else "_salt"
    pby2 = part.rstrip(",") if part else None
    over2 = (
        f"PARTITION BY {pby2} ORDER BY score_e9 DESC, doc_id"
        if pby2
        else "ORDER BY score_e9 DESC, doc_id"
    )
    return f"""
    salted AS (
      SELECT *, {_sql_salt('doc_id', salt_tag, TOPK_SALTS)} AS _salt
      FROM {scored}
    ),
    s1 AS (
      SELECT *, row_number() OVER (PARTITION BY {pby1}
                                   ORDER BY score_e9 DESC, doc_id) AS r1
      FROM salted
    ),
    s2 AS MATERIALIZED (
      SELECT * EXCLUDE (r1, _salt),
             CAST(row_number() OVER ({over2}) AS INTEGER) AS rnk
      FROM s1 WHERE r1 <= {k}
    )"""


@query(
    "bm25_top_docs",
    oracle=f"""
    WITH {_bm25_scored_sql(BM25_QUERIES)},
    {_sql_two_stage_topk('scored', 'query_id,', BM25_TOP_K, 'tk')}
    SELECT query_id, doc_id, score_e9, rnk
    FROM s2 WHERE rnk <= {BM25_TOP_K}
    """,
)
def q_bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{BM25_TOP_K} documents per keyword query under integer-exact
    BM25 (k1=6/5, b=3/4; idf surrogate — module docstring). The per-
    query top-k is the salted two-stage window: exact, and never a
    single-partition pass over the unbounded scored relation."""
    scored = _bm25_scored(spark, sf_dir, BM25_QUERIES)
    top = _two_stage_topk(
        scored,
        ["query_id"],
        [F.col("score_e9").desc(), F.col("doc_id")],
        BM25_TOP_K,
        "tk",
    )
    return top.select("query_id", "doc_id", "score_e9", "rnk")


@query(
    "retrieval_rrf_fusion",
    oracle=f"""
    WITH {_bm25_scored_sql({RRF_QUERY_ID: BM25_QUERIES[RRF_QUERY_ID]})},
    {_sql_two_stage_topk('scored', '', RRF_POOL, 'tk')},
    lex AS (SELECT doc_id, rnk FROM s2 WHERE rnk <= {RRF_POOL}),
    qv AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {RRF_QVEC_ID}),
    sem_scored AS (
      SELECT e.vec_id AS doc_id,
             {_sql_cos_u('e.embedding', 'qv.qv')} AS score_e9
      FROM embeddings e CROSS JOIN qv
    ),
    sem_salted AS (
      SELECT *, {_sql_salt('doc_id', 'sk', TOPK_SALTS)} AS _salt
      FROM sem_scored
    ),
    t1 AS (
      SELECT *, row_number() OVER (PARTITION BY _salt
                                   ORDER BY score_e9 DESC, doc_id) AS r1
      FROM sem_salted
    ),
    sem AS (
      SELECT doc_id,
             CAST(row_number() OVER (ORDER BY score_e9 DESC, doc_id)
                  AS INTEGER) AS rnk
      FROM t1 WHERE r1 <= {RRF_POOL}
      QUALIFY rnk <= {RRF_POOL}
    ),
    fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             l.rnk AS lex_rnk, s.rnk AS sem_rnk,
             CAST(COALESCE(1000000 // ({RRF_K} + l.rnk), 0)
                  + COALESCE(1000000 // ({RRF_K} + s.rnk), 0) AS BIGINT) AS rrf_e6
      FROM lex l FULL JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, lex_rnk, sem_rnk, rrf_e6, rnk FROM (
      SELECT *, CAST(row_number() OVER (ORDER BY rrf_e6 DESC, doc_id)
                     AS INTEGER) AS rnk
      FROM fused
    ) WHERE rnk <= {RRF_TOP}
    """,
)
def q_retrieval_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: fuse the BM25 ranking for query
    {BM25_QUERIES[RRF_QUERY_ID]} with the embedding-cosine ranking
    around vector {RRF_QVEC_ID} by reciprocal-rank fusion
    (Cormack et al., SIGIR'09): rrf = Σ 1/(60+rank), in exact
    micro-units ⌊10⁶/(60+rank)⌋ per list.

    Plan: each ranked list is pooled to {RRF_POOL} rows by the salted
    two-stage top-k (the semantic side streams all vectors past one
    broadcast query vector — linear scan, no pairwise blowup); the
    full-outer fusion and final window touch ≤ 2·{RRF_POOL} rows."""
    scored = _bm25_scored(
        spark, sf_dir, {RRF_QUERY_ID: BM25_QUERIES[RRF_QUERY_ID]}
    )
    lex = (
        _two_stage_topk(
            scored,
            [],
            [F.col("score_e9").desc(), F.col("doc_id")],
            RRF_POOL,
            "tk",
        )
        .select("doc_id", F.col("rnk").alias("lex_rnk"))
    )
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == RRF_QVEC_ID).select(
        F.col("embedding").alias("qv")
    )
    sem_scored = emb.crossJoin(F.broadcast(qv)).select(
        F.col("vec_id").alias("doc_id"),
        cosine_u(F.col("embedding"), F.col("qv")).alias("score_e9"),
    )
    sem = (
        _two_stage_topk(
            sem_scored,
            [],
            [F.col("score_e9").desc(), F.col("doc_id")],
            RRF_POOL,
            "sk",
        )
        .select("doc_id", F.col("rnk").alias("sem_rnk"))
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        "lex_rnk",
        "sem_rnk",
        (
            F.coalesce(F.expr(f"1000000 div ({RRF_K} + lex_rnk)"), F.lit(0))
            + F.coalesce(F.expr(f"1000000 div ({RRF_K} + sem_rnk)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_e6"),
    )
    w = Window.orderBy(F.col("rrf_e6").desc(), F.col("doc_id"))
    return (
        fused.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= RRF_TOP)
        .select("doc_id", "lex_rnk", "sem_rnk", "rrf_e6", "rnk")
    )


# --- positional phrase retrieval --------------------------------------------

#: Phrase length for positional phrase match.
PHRASE_N = 3


_PHRASE_SQL = """
    WITH tk AS MATERIALIZED (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM (SELECT doc_id, {toks} AS toks FROM documents)
    ), g AS (
      SELECT unnest(grams) AS gram
      FROM (SELECT {ngrams} AS grams
            FROM (SELECT {toks} AS toks FROM documents))
    ), top AS (
      SELECT gram FROM (
        SELECT gram, count(*) AS c FROM g GROUP BY gram
        ORDER BY c DESC, gram LIMIT 1
      )
    ), p AS (
      SELECT string_split(gram, ' ')[1] AS w1,
             string_split(gram, ' ')[2] AS w2,
             string_split(gram, ' ')[3] AS w3,
             gram AS phrase
      FROM top
    )
    SELECT t1.doc_id, p.phrase,
           CAST(count(*) AS BIGINT) AS n_matches,
           CAST(min(t1.pos) AS BIGINT) AS first_pos
    FROM tk t1
    JOIN p ON t1.tok = p.w1
    JOIN tk t2 ON t2.doc_id = t1.doc_id AND t2.pos = t1.pos + 1
              AND t2.tok = p.w2
    JOIN tk t3 ON t3.doc_id = t1.doc_id AND t3.pos = t1.pos + 2
              AND t3.tok = p.w3
    GROUP BY t1.doc_id, p.phrase
"""


@query(
    "retrieval_phrase_match",
    oracle=_PHRASE_SQL.format(
        toks=sql_tokens("text"), ngrams=sql_ngrams("toks", PHRASE_N)
    ),
)
def q_retrieval_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase retrieval through a positional inverted index — the
    operation BM25 term scoring cannot express (term adjacency). The
    phrase itself is selected IN-PLAN (the corpus's most frequent
    {PHRASE_N}-gram, ties by gram text), so the query is
    scale-self-contained instead of depending on a literal that only
    matches one corpus.

    Plan (anchor alignment): the positional index (doc_id, pos, tok)
    is built by ONE posexplode pass; the phrase relation is a 1-row
    aggregate argmax (TakeOrdered over the gram counts) unpivoted to
    PHRASE_N (term, offset) rows that BROADCAST-join the index, so
    only the postings of the phrase's own terms survive the scan.
    Each surviving posting votes for the alignment anchor
    `start = pos - offset`; a start with all PHRASE_N distinct
    offsets present is exactly an adjacency match (tok[start+i] =
    w_i for every i). One shuffle on (doc_id, start) replaces the
    two chained positional equi-joins of the textbook intersection —
    at 100 TB the shuffled volume is the union of the phrase terms'
    postings (selectivity |postings|/|tokens|), and the tokenizer
    runs once instead of once per term leg."""
    docs = table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("__toks"))
    toks = tokd.select(
        "doc_id", F.posexplode(F.col("__toks")).alias("pos", "tok")
    )
    # token array materialized (tokd) so ngrams' ~5 references don't
    # each re-run the tokenizer inside its non-codegen HOF lambdas
    grams = tokd.select(
        F.explode(ngrams(F.col("__toks"), PHRASE_N)).alias("gram")
    )
    top = (
        grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("gram"))
        .limit(1)
    )
    terms = top.select(
        F.col("gram").alias("phrase"),
        F.posexplode(F.split(F.col("gram"), " ")).alias("off", "w"),
    )
    aligned = toks.join(F.broadcast(terms), F.col("tok") == F.col("w")).select(
        "doc_id", "phrase", (F.col("pos") - F.col("off")).alias("start"), "off"
    )
    # count_distinct (not count): a term repeated inside the phrase
    # lets one posting vote for several offsets at different starts,
    # and a start is a match only when every offset 0..N-1 is present
    starts = (
        aligned.groupBy("doc_id", "phrase", "start")
        .agg(F.count_distinct("off").alias("noff"))
        .filter(F.col("noff") == PHRASE_N)
    )
    return starts.groupBy("doc_id", "phrase").agg(
        F.count(F.lit(1)).alias("n_matches"),
        F.min("start").cast("long").alias("first_pos"),
    )


# --- pseudo-relevance feedback (RM1-style query expansion) ------------------

#: Feedback depth (docs per query whose language model feeds expansion).
PRF_FB_K = 5
#: Expansion terms appended per query.
PRF_EXP_K = 3
#: Integer down-weight divisor for expansion-term BM25 scores (γ = 1/2).
PRF_GDIV = 2

_SQL_STOP_LIST = ", ".join(f"'{s}'" for s in STOPWORDS)

#: Shared oracle prelude: pass-1 BM25 + top-PRF_FB_K feedback docs +
#: RM1 candidate weights + top-PRF_EXP_K expansion pick. `q`/`tokd`/
#: `dl`/`tot` come from `_bm25_scored_sql`; `s1`/`s2` from the fb
#: top-k instance.
_SQL_PRF_PRELUDE = f"""
    WITH {{scored}},
    {{fb_topk}},
    fb AS (SELECT query_id, doc_id FROM s2 WHERE rnk <= {PRF_FB_K}),
    cd AS MATERIALIZED (
      SELECT f.query_id, u.tok AS term, t.doc_id,
             CAST(len(t.toks) AS BIGINT) AS dl
      FROM fb f JOIN tokd t ON f.doc_id = t.doc_id, unnest(t.toks) AS u(tok)
    ), ctf AS (
      SELECT query_id, term, doc_id, dl, CAST(count(*) AS BIGINT) AS tf
      FROM cd GROUP BY 1, 2, 3, 4
    ), cw AS MATERIALIZED (
      SELECT query_id, term,
             CAST(sum(tf * 1000000 // dl) AS BIGINT) AS w_e6
      FROM ctf GROUP BY 1, 2
    ), cexp AS MATERIALIZED (
      SELECT query_id, term, w_e6,
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY w_e6 DESC, term) AS INTEGER)
               AS exp_rank
      FROM cw
      WHERE NOT EXISTS (SELECT 1 FROM q
                        WHERE q.query_id = cw.query_id AND q.term = cw.term)
        AND term NOT IN ({_SQL_STOP_LIST})
    )
"""


def _prf_prelude_sql() -> str:
    return _SQL_PRF_PRELUDE.format(
        scored=_bm25_scored_sql(BM25_QUERIES).lstrip(),
        fb_topk=_sql_two_stage_topk("scored", "query_id,", PRF_FB_K, "pf"),
    )


def _prf_exp_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, term, w_e6, exp_rank ≤ {PRF_EXP_K}): the RM1-style
    expansion pick. Candidate weight is the integer relevance-model
    mass w_e6 = Σ_{{d ∈ feedback}} tf(t,d)·10⁶ DIV dl(d) — no log, no
    df pass over the corpus; original query terms and stopwords are
    excluded; ties break on the term string. The candidate relation is
    bounded by the feedback docs' vocabulary (≤ {PRF_FB_K}·dl rows per
    query), so the ranking window is a partitioned pass over a
    LIMIT-bounded relation."""
    docs = table(spark, sf_dir, "documents")
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    fb = _two_stage_topk(
        _bm25_scored(spark, sf_dir, BM25_QUERIES),
        ["query_id"],
        [F.col("score_e9").desc(), F.col("doc_id")],
        PRF_FB_K,
        "pf",
    ).select("query_id", "doc_id")
    cand = (
        tokd.join(fb, "doc_id")
        .select(
            "query_id",
            "doc_id",
            F.size("toks").cast("long").alias("dl"),
            F.explode("toks").alias("term"),
        )
        .groupBy("query_id", "doc_id", "dl", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .select(
            "query_id",
            "term",
            F.expr("CAST(tf * 1000000 DIV dl AS BIGINT)").alias("p_e6"),
        )
        .groupBy("query_id", "term")
        .agg(F.sum("p_e6").cast("long").alias("w_e6"))
    )
    orig = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(BM25_QUERIES.items()) for t in ts],
        "query_id INT, term STRING",
    )
    cand = cand.join(orig, ["query_id", "term"], "left_anti").filter(
        ~F.col("term").isin(*STOPWORDS)
    )
    w = Window.partitionBy("query_id").orderBy(F.col("w_e6").desc(), F.col("term"))
    return cand.withColumn("exp_rank", F.row_number().over(w)).filter(
        F.col("exp_rank") <= PRF_EXP_K
    )


@query(
    "retrieval_prf_terms",
    oracle=_SQL_PRF_PRELUDE.replace("{scored}", "PLACEHOLDER")  # built below
)
def q_retrieval_prf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The expansion terms themselves: per query the top-{PRF_EXP_K}
    RM1 candidates with their integer relevance-model mass — the
    auditable intermediate the second retrieval pass consumes (and the
    cross-engine certificate that lets `retrieval_prf_expansion`
    inline the collected pick as literals)."""
    return _prf_exp_df(spark, sf_dir).select(
        "query_id", "exp_rank", "term", "w_e6"
    )


@query(
    "retrieval_prf_expansion",
    oracle="PLACEHOLDER",  # built below
)
def q_retrieval_prf_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass pseudo-relevance-feedback retrieval: BM25 → top-
    {PRF_FB_K} feedback docs → RM1 expansion pick ({PRF_EXP_K} terms,
    `retrieval_prf_terms`) → second BM25 pass over original + expansion
    terms with expansion scores integer-down-weighted by DIV {PRF_GDIV}
    → salted two-stage top-{BM25_TOP_K}.

    The expansion pick is collected (≤ {PRF_EXP_K}·|queries| rows — the
    documented bounded-collect class, same as the BPE one-argmax-per-
    round loop) and inlined as literals into the second pass, keeping
    the pass-2 token filter BELOW the explode exactly like pass 1; the
    DuckDB oracle derives the same pick fully in-SQL, so the
    differential check certifies the two formulations agree."""
    exp = _prf_exp_df(spark, sf_dir).select("query_id", "term").collect()
    q2 = {qid: list(ts) for qid, ts in BM25_QUERIES.items()}
    div: dict[tuple[int, str], int] = {}
    for r in exp:
        q2[r.query_id].append(r.term)
        div[(r.query_id, r.term)] = PRF_GDIV
    scored = _bm25_scored(
        spark, sf_dir, {k: tuple(v) for k, v in q2.items()}, divisors=div
    )
    top = _two_stage_topk(
        scored,
        ["query_id"],
        [F.col("score_e9").desc(), F.col("doc_id")],
        BM25_TOP_K,
        "pk",
    )
    return top.select("query_id", "doc_id", "score_e9", "rnk")


# Build the two PRF oracles (placeholders above keep the decorator
# call-order simple; the registry holds the final strings).
from distributed_mapreduce_spark.workload.registry import ORACLES as _ORACLES  # noqa: E402

_ORACLES["retrieval_prf_terms"] = (
    _prf_prelude_sql()
    + f"""
    SELECT query_id, exp_rank, term, w_e6 FROM cexp
    WHERE exp_rank <= {PRF_EXP_K}
    """
)

_ORACLES["retrieval_prf_expansion"] = (
    _prf_prelude_sql()
    + f"""
    , q2 AS (
      SELECT query_id, term, 1 AS gdiv FROM q
      UNION ALL
      SELECT query_id, term, {PRF_GDIV} AS gdiv FROM cexp
      WHERE exp_rank <= {PRF_EXP_K}
    ), t2 AS (SELECT list(DISTINCT term) AS tl FROM q2),
    tf2 AS MATERIALIZED (
      SELECT doc_id, tok AS term,
             CAST(len(list_filter(toks, x -> x = tok)) AS BIGINT) AS tf
      FROM tokd CROSS JOIN t2, unnest(list_intersect(toks, t2.tl)) AS u(tok)
    ),
    df2 AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf2 GROUP BY 1),
    idf2 AS (
      SELECT term, df,
             CAST((CAST(2 AS HUGEINT) * (n_docs - df) + 1) * 1000000
                  // (2 * df + 1) AS BIGINT) AS idf_e6
      FROM df2 CROSS JOIN tot
    ),
    scored2 AS (
      SELECT q2.query_id, tf2.doc_id,
             CAST(sum(
               CAST(idf2.idf_e6 AS HUGEINT) * 22 * tf2.tf * total_len * 1000
               // (CAST(10 AS HUGEINT) * tf2.tf * total_len
                   + 3 * total_len + 9 * dl.dl * n_docs)
               // q2.gdiv
             ) AS BIGINT) AS score_e9
      FROM tf2
      JOIN idf2 ON tf2.term = idf2.term
      JOIN q2 ON tf2.term = q2.term
      JOIN dl ON tf2.doc_id = dl.doc_id
      CROSS JOIN tot
      GROUP BY 1, 2
    ),
    salted2 AS (
      SELECT *, {_sql_salt('doc_id', 'pk', TOPK_SALTS)} AS _salt FROM scored2
    ),
    p1 AS (
      SELECT *, row_number() OVER (PARTITION BY query_id, _salt
                                   ORDER BY score_e9 DESC, doc_id) AS r1
      FROM salted2
    ),
    p2 AS (
      SELECT * EXCLUDE (r1, _salt),
             CAST(row_number() OVER (PARTITION BY query_id
                                     ORDER BY score_e9 DESC, doc_id)
                  AS INTEGER) AS rnk
      FROM p1 WHERE r1 <= {BM25_TOP_K}
    )
    SELECT query_id, doc_id, score_e9, rnk FROM p2 WHERE rnk <= {BM25_TOP_K}
    """
)


#: Dirichlet-smoothing pseudo-count for query-likelihood retrieval.
QL_MU = 2000
QL_TOP_K = 10


def _ql_sql() -> str:
    """CTE chain ending in scored(query_id, doc_id, score_e9) for the
    linearized Dirichlet query-likelihood model over BM25_QUERIES."""
    values = ", ".join(
        f"({qid}, '{t}')"
        for qid, ts in sorted(BM25_QUERIES.items())
        for t in ts
    )
    terms = ", ".join(
        f"'{t}'" for t in sorted({t for ts in BM25_QUERIES.values() for t in ts})
    )
    return f"""
    q(query_id, term) AS (VALUES {values}),
    tokd AS MATERIALIZED (
      SELECT doc_id, {sql_tokens('text')} AS toks FROM documents
    ),
    dl AS MATERIALIZED (
      SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM tokd
    ),
    tot AS (SELECT CAST(sum(dl) AS BIGINT) AS total_len FROM dl),
    tf AS MATERIALIZED (
      SELECT doc_id, tok AS term,
             CAST(len(list_filter(toks, x -> x = tok)) AS BIGINT) AS tf
      FROM tokd, unnest(list_intersect(toks, [{terms}])) AS u(tok)
    ),
    cf AS MATERIALIZED (
      SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
    ),
    cand AS (
      SELECT DISTINCT q.query_id, tf.doc_id FROM tf JOIN q USING (term)
    ),
    grid AS (
      SELECT c.query_id, c.doc_id, q.term
      FROM cand c JOIN q ON q.query_id = c.query_id
    ),
    scored AS (
      SELECT g.query_id, g.doc_id,
             CAST(sum(
               CAST(1000000000 AS HUGEINT)
               * (coalesce(tf.tf, 0) * total_len + {QL_MU} * cf.cf)
               // (CAST(total_len AS HUGEINT) * (dl.dl + {QL_MU}))
             ) AS BIGINT) AS score_e9
      FROM grid g
      LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term
      JOIN cf ON cf.term = g.term
      JOIN dl ON dl.doc_id = g.doc_id
      CROSS JOIN tot
      GROUP BY 1, 2
    )"""


@query(
    "retrieval_query_likelihood",
    oracle=f"""
    WITH {_ql_sql()},
    {_sql_two_stage_topk('scored', 'query_id,', QL_TOP_K, 'ql')}
    SELECT query_id, doc_id, score_e9, rnk
    FROM s2 WHERE rnk <= {QL_TOP_K}
    """,
)
def q_retrieval_query_likelihood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-likelihood retrieval with Dirichlet smoothing (Zhai &
    Lafferty, SIGIR'01) — the language-modeling counterpart to
    `bm25_top_docs`, scoring p(t|d) = (tf + mu*p(t|C)) / (dl + mu) with
    mu={QL_MU} and collection model p(t|C) = cf/total_len. Exactness: the
    per-term smoothed probability is the truncated integer
    (1e9*(tf*total_len + mu*cf)) DIV (total_len*(dl+mu)), and the doc
    score is the SUM of per-term e9 probabilities — a documented
    linearization (the true model multiplies/log-sums; each per-term
    factor is preserved exactly, so single-term rankings are identical
    and multi-term ranking is the arithmetic- rather than geometric-mean
    blend). Zero-tf terms still contribute their smoothing mass, which
    depends on dl — so candidates (docs matching >=1 term) are scored
    over the DENSE (candidate x query-term) grid.

    Plan: same skeleton as BM25 — tf via array_intersect BELOW the
    explode, cf on the tiny term relation, the dense grid built by
    joining candidates against the broadcast |q|-row term list, doc
    lengths equi-joined, totals broadcast, then the salted two-stage
    top-{QL_TOP_K}. The only unbounded relations ever shuffled are tf and
    the grid (<= |matches| * |terms| rows)."""
    scored = _ql_scored(spark, sf_dir)
    top = _two_stage_topk(
        scored,
        ["query_id"],
        [F.col("score_e9").desc(), F.col("doc_id")],
        QL_TOP_K,
        "ql",
    )
    return top.select("query_id", "doc_id", "score_e9", "rnk")


def _ql_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, doc_id, score_e9) under the linearized Dirichlet QL
    model — the scored relation `retrieval_query_likelihood` ranks
    (factored out so rank-agreement audits can reuse it)."""
    docs = table(spark, sf_dir, "documents")
    terms = sorted({t for ts in BM25_QUERIES.values() for t in ts})
    q = spark.createDataFrame(
        [(qid, t) for qid, ts in sorted(BM25_QUERIES.items()) for t in ts],
        "query_id INT, term STRING",
    )
    tokd = docs.select("doc_id", tokens(F.col("text")).alias("toks"))
    dl = tokd.select("doc_id", F.size("toks").cast("long").alias("dl"))
    tot = dl.agg(F.sum("dl").cast("long").alias("total_len"))
    tf = tokd.select(
        "doc_id",
        F.explode(
            F.array_intersect("toks", F.array(*[F.lit(t) for t in terms]))
        ).alias("term"),
        F.col("toks"),
    ).select(
        "doc_id",
        "term",
        F.size(F.filter("toks", lambda x: x == F.col("term")))
        .cast("long")
        .alias("tf"),
    )
    cf = tf.groupBy("term").agg(F.sum("tf").cast("long").alias("cf"))
    cand = tf.join(F.broadcast(q), "term").select("query_id", "doc_id").distinct()
    grid = cand.join(F.broadcast(q), "query_id")
    scored = (
        grid.join(tf, ["doc_id", "term"], "left")
        .join(F.broadcast(cf), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(tot))
        .select(
            "query_id",
            "doc_id",
            F.expr(
                f"CAST(CAST(1000000000 AS DECIMAL(38,0))"
                f" * (coalesce(tf, 0) * total_len + {QL_MU} * cf)"
                f" DIV (CAST(total_len AS DECIMAL(38,0)) * (dl + {QL_MU}))"
                " AS BIGINT)"
            ).alias("p_e9"),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("p_e9").cast("long").alias("score_e9"))
    )
    return scored


def _rankcorr_sql() -> str:
    """Oracle for `retrieval_rank_correlation`: the BM25 prelude comes
    from `_bm25_scored_sql` (final CTE renamed scored_bm); the QL side
    re-states `_ql_sql`'s cf/cand/grid/scored CTEs verbatim against the
    SHARED q/tokd/dl/tot/tf prelude (their definitions are identical in
    both rankers — the differential check pins this copy to the Spark
    helpers, so drift in either ranker breaks this audit loudly)."""
    bm = _bm25_scored_sql(BM25_QUERIES).replace("scored AS (", "scored_bm AS (")
    return f"""
    WITH {bm},
    cf AS MATERIALIZED (
      SELECT term, CAST(sum(tf) AS BIGINT) AS cf FROM tf GROUP BY 1
    ),
    cand AS (
      SELECT DISTINCT q.query_id, tf.doc_id FROM tf JOIN q USING (term)
    ),
    grid AS (
      SELECT c.query_id, c.doc_id, q.term
      FROM cand c JOIN q ON q.query_id = c.query_id
    ),
    scored_ql AS MATERIALIZED (
      SELECT g.query_id, g.doc_id,
             CAST(sum(
               CAST(1000000000 AS HUGEINT)
               * (coalesce(tf.tf, 0) * total_len + {QL_MU} * cf.cf)
               // (CAST(total_len AS HUGEINT) * (dl.dl + {QL_MU}))
             ) AS BIGINT) AS score_e9
      FROM grid g
      LEFT JOIN tf ON tf.doc_id = g.doc_id AND tf.term = g.term
      JOIN cf ON cf.term = g.term
      JOIN dl ON dl.doc_id = g.doc_id
      CROSS JOIN tot
      GROUP BY 1, 2
    ),
    rb AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_e9 DESC, doc_id) AS r
      FROM scored_bm
    ),
    rq AS (
      SELECT query_id, doc_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY score_e9 DESC, doc_id) AS r
      FROM scored_ql
    ),
    j AS (
      SELECT rb.query_id, CAST(rb.r - rq.r AS BIGINT) AS d
      FROM rb JOIN rq ON rb.query_id = rq.query_id AND rb.doc_id = rq.doc_id
    )
    SELECT CAST(query_id AS INTEGER) AS query_id,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(d * d) AS BIGINT) AS sum_d2,
           CAST(CASE WHEN count(*) < 2 THEN 1000000
                ELSE 1000000 - CAST(6000000 AS HUGEINT) * sum(d * d)
                     // (CAST(count(*) AS HUGEINT)
                         * (count(*) - 1) * (count(*) + 1)) END
                AS BIGINT) AS rho_e6
    FROM j GROUP BY 1
    """


@query("retrieval_rank_correlation", oracle=_rankcorr_sql())
def q_retrieval_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranker-agreement audit: per-query Spearman rho between the BM25
    and Dirichlet-QL rankings over their SHARED candidate set (both
    rankers score exactly the docs matching >=1 query term, so the two
    rankings are permutations of the same items). Ranks are
    deterministic row_numbers (score DESC, doc_id) — the documented
    tie-broken variant, so rho is integer-exact:
    rho_e6 = 1e6 - 6e6 * sum(d^2) DIV (n(n-1)(n+1)).

    This is the system-comparison harness an IR stack runs before
    swapping rankers: rho ~ 1e6 means the cheaper ranker can serve as
    a first stage; low rho means the fusion (`retrieval_rrf_fusion`)
    actually adds diversity.

    Plan: both scored relations reuse the ranker helpers (one shared
    tf pass each); ranks are windows PARTITIONED by query_id; the
    join is (query_id, doc_id) equi; the final agg is one row per
    query. Spearman (not Kendall) keeps the audit O(n log n) — no
    all-pairs concordance blowup at 100 TB."""
    bm = _bm25_scored(spark, sf_dir, BM25_QUERIES)
    ql = _ql_scored(spark, sf_dir)
    w = Window.partitionBy("query_id").orderBy(F.col("score_e9").desc(), F.col("doc_id"))
    rb = bm.select("query_id", "doc_id", F.row_number().over(w).alias("rb"))
    rq = ql.select("query_id", "doc_id", F.row_number().over(w).alias("rq"))
    j = rb.join(rq, ["query_id", "doc_id"]).select(
        "query_id", (F.col("rb") - F.col("rq")).cast("long").alias("d")
    )
    return (
        j.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)")).alias("_sd2"),
        )
        .select(
            "query_id",
            "n_candidates",
            F.col("_sd2").cast("long").alias("sum_d2"),
            F.expr(
                "CAST(CASE WHEN n_candidates < 2 THEN 1000000"
                " ELSE 1000000 - CAST(6000000 AS DECIMAL(38,0)) * _sd2"
                " DIV (CAST(n_candidates AS DECIMAL(38,0))"
                "      * (n_candidates - 1) * (n_candidates + 1)) END AS BIGINT)"
            ).alias("rho_e6"),
        )
    )


#: Hard-negative mining geometry: BM25 pseudo-positives (top HN_POS),
#: hard-negative candidates at ranks HN_POS+1..HN_POS+HN_CAND, denoised
#: by dropping candidates semantically near the rank-1 document
#: (false negatives — the RocketQA observation that the best BM25
#: "negatives" are often unlabeled positives).
HN_POS = 3
HN_CAND = 10
HN_COS_U = 300_000
HN_QUERY_ID = 0


@query(
    "retrieval_hard_negatives",
    oracle=f"""
    WITH {_bm25_scored_sql({HN_QUERY_ID: BM25_QUERIES[HN_QUERY_ID]})},
    {_sql_two_stage_topk('scored', 'query_id,', HN_POS + HN_CAND, 'hn')},
    top1 AS (
      SELECT e.embedding AS top_emb FROM s2
      JOIN embeddings e ON e.vec_id = s2.doc_id
      WHERE s2.rnk = 1
    )
    SELECT s2.doc_id, s2.score_e9, s2.rnk,
           {_sql_cos_u('e.embedding', 'top1.top_emb')} AS cos_to_top_u,
           {_sql_cos_u('e.embedding', 'top1.top_emb')} < {HN_COS_U} AS kept
    FROM s2
    JOIN embeddings e ON e.vec_id = s2.doc_id
    CROSS JOIN top1
    WHERE s2.rnk > {HN_POS} AND s2.rnk <= {HN_POS + HN_CAND}
    """,
)
def q_retrieval_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denoised hard-negative mining for retriever training (the DPR /
    RocketQA recipe): BM25 ranks the corpus for the query, the top
    {HN_POS} are treated as pseudo-positives, ranks {HN_POS + 1}..
    {HN_POS + HN_CAND} become hard-negative candidates, and each
    candidate is DENOISED against the rank-1 document's embedding —
    a candidate whose cosine reaches {HN_COS_U} µ is flagged as a
    likely false negative (semantically the same content the ranker
    just called relevant) and dropped from the training set
    (`kept = false`, emitted so the mining yield is auditable).

    Plan: BM25 scoring reuses `_bm25_scored` (term-filtered explode,
    broadcast idf/query relations); the candidate cut is the salted
    two-stage top-k; the denoise join touches ≤{HN_POS + HN_CAND}
    rows against the 1-row broadcast rank-1 embedding. At 100 TB the
    corpus passes once through scoring — everything after is
    bounded by the candidate pool."""
    scored = _bm25_scored(spark, sf_dir, {HN_QUERY_ID: BM25_QUERIES[HN_QUERY_ID]})
    top = _two_stage_topk(
        scored,
        ["query_id"],
        [F.col("score_e9").desc(), F.col("doc_id")],
        HN_POS + HN_CAND,
        "hn",
    )
    emb = table(spark, sf_dir, "embeddings")
    top1 = (
        top.filter(F.col("rnk") == 1)
        .join(emb, top["doc_id"] == emb["vec_id"])
        .select(F.col("embedding").alias("top_emb"))
    )
    negs = (
        top.filter(F.col("rnk") > HN_POS)
        .join(emb, top["doc_id"] == emb["vec_id"])
        .crossJoin(F.broadcast(top1))
        .select(
            "doc_id",
            "score_e9",
            "rnk",
            cosine_u(F.col("embedding"), F.col("top_emb")).alias("cos_to_top_u"),
            (
                cosine_u(F.col("embedding"), F.col("top_emb")) < HN_COS_U
            ).alias("kept"),
        )
    )
    return negs


#: LTR export depth: feature rows per query.
LTR_TOP_K = 20


@query(
    "ltr_feature_matrix",
    oracle=f"""
    WITH {_bm25_scored_sql(BM25_QUERIES)},
    {_sql_two_stage_topk('scored', 'query_id,', LTR_TOP_K, 'ltr')},
    feats AS (
      SELECT q.query_id, tf.doc_id,
             CAST(count(*) AS BIGINT) AS n_match_terms,
             CAST(sum(tf.tf) AS BIGINT) AS tf_sum,
             CAST(max(idf.idf_e6) AS BIGINT) AS idf_max_e6
      FROM tf
      JOIN q ON tf.term = q.term
      JOIN idf ON tf.term = idf.term
      GROUP BY 1, 2
    )
    SELECT s2.query_id, s2.doc_id, s2.score_e9, s2.rnk,
           f.n_match_terms, f.tf_sum, f.idf_max_e6, dl.dl
    FROM s2
    JOIN feats f ON f.query_id = s2.query_id AND f.doc_id = s2.doc_id
    JOIN dl ON dl.doc_id = s2.doc_id
    WHERE s2.rnk <= {LTR_TOP_K}
    """,
)
def q_ltr_feature_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-to-rank feature export: one row per (query, candidate)
    pair in the BM25 top-{LTR_TOP_K}, carrying the classic LTR feature
    block — BM25 score, matched-term count, total term frequency, max
    term idf, document length — the table a ranker (LambdaMART-style)
    trains on. Deterministic integers end-to-end, so the exported
    matrix is reproducible run-over-run.

    Plan: one scoring pass (`_bm25_scored`'s term-filtered explode);
    per-(query, doc) features are a second aggregate over the SAME tf
    relation (`_bm25_relations` — one implementation, so the feature
    block can never drift from the score it joins); the export joins
    features only against the ≤queries·{LTR_TOP_K} two-stage top-k
    survivors, never the full scored relation."""
    r = _bm25_relations(spark, sf_dir, BM25_QUERIES)
    feats = (
        r["tf"]
        .join(F.broadcast(r["q"]), "term")
        .join(F.broadcast(r["idf"]), "term")
        .groupBy("query_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_match_terms"),
            F.sum("tf").cast("long").alias("tf_sum"),
            F.max("idf_e6").cast("long").alias("idf_max_e6"),
            # dl is constant per doc and rides the tf rows — exporting
            # it from the same aggregate drops the old doc-grain dl join
            # (one more full tokenize pass the r12 before-plan paid).
            F.min("dl").cast("long").alias("dl"),
        )
    )
    scored = _bm25_scored(spark, sf_dir, BM25_QUERIES)
    top = _two_stage_topk(
        scored,
        ["query_id"],
        [F.col("score_e9").desc(), F.col("doc_id")],
        LTR_TOP_K,
        "ltr",
    )
    return (
        top.join(feats, ["query_id", "doc_id"])
        .select(
            "query_id",
            "doc_id",
            "score_e9",
            "rnk",
            "n_match_terms",
            "tf_sum",
            "idf_max_e6",
            "dl",
        )
    )
