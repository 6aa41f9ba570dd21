"""DSIR-style importance resampling over the `documents` corpus.

Data Selection via Importance Resampling (Xie et al. 2023, public) picks
pretraining documents whose hashed-n-gram feature distribution looks
like a trusted *target* corpus: estimate bag-of-hashed-ngram unigram
models for target and raw distributions, weight each document by the
per-gram likelihood ratio, and resample by weight. This module is the
Spark-first, integer-exact rendition:

- **Feature space**: unigrams + bigrams hashed into ``IR_DIM`` buckets
  (the paper's hashed n-gram features; hashing keeps the model a
  fixed-width relation no matter the vocabulary).
- **Target distribution**: documents from ``IR_TARGET_SOURCES`` (the
  "trusted domain" stand-in — at 100 TB this is Wikipedia/books; the
  technique is source-agnostic).
- **Integer surrogate for the log-likelihood-ratio** (this repo's
  bm25/tfidf policy — no in-engine ``log``/``ln``, libm vs Java ulp
  divergence): the per-bucket weight is the add-one-smoothed likelihood
  *ratio* in ppm,
  ``lambda_ppm = 1e6 * (t_g+1) * (C+D) // ((c_g+1) * (T+D))``,
  which is per-gram monotone in the true ratio (log is monotone), so
  per-gram selection order is preserved; the document score sums
  per-occurrence ratios instead of log-ratios — documented surrogate,
  exact in both engines.

Scale posture (100 TB): the exploded gram relation shuffles ONCE into
per-(doc, bucket) partial counts (map-side combine); the model is a
``IR_DIM``-row relation (bounded — two integers per bucket) that
broadcasts back onto the per-doc counts; totals are a 1-row aggregate
broadcast onto the model. Nothing driver-side, nothing all-pairs. Wide
arithmetic stays in DECIMAL(38,0) on the 256-row model relation only:
with C ≈ 2.5e13 grams (100 TB) the product 1e6·(t+1)·(C+D) ≈ 6e32 <
1e38. The per-doc sum is BIGINT-safe: lambda_ppm ≤ 1e6·(C+D)/(T+D), so
with a target share ≥ 0.1% of the corpus the per-doc score is ≤
n_grams · 1e9 ≤ ~1e15 for million-token documents.

Reference parity: the reference engine has no data-selection surface at
all (SURVEY.md §2.10 ends at scalar functions); this family is part of
the training-data-pipeline extension the engine exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
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

#: Hashed-feature dimensionality of both unigram models.
IR_DIM = 256
#: Hash seed namespace (keeps buckets independent of other families).
IR_SEED = "ir_"
#: The trusted target domain: docs from these sources define p_target.
IR_TARGET_SOURCES = ("src0", "src1", "src2", "src3")
#: Keep documents whose mean per-gram ratio clears neutral (1e6 ppm =
#: "exactly as target-like as the corpus average").
IR_KEEP_MIN_PPM = 1_000_000

_SQL_TARGET_IN = "(" + ", ".join(f"'{s}'" for s in IR_TARGET_SOURCES) + ")"


def _grams(col) -> F.Column:
    """Unigrams + bigrams of a text column (the DSIR feature space)."""
    toks = tokens(col)
    return F.concat(toks, ngrams(toks, 2))


def _sql_grams(c: str) -> str:
    toks = sql_tokens(c)
    return f"list_concat({toks}, {sql_ngrams(toks, 2)})"


#: Shared oracle prelude: exploded bucket rows, the two bucket models,
#: their totals, the ppm ratio table, per-doc bucket counts, per-doc
#: scores. Every multi-referenced CTE is MATERIALIZED (DuckDB inlines
#: CTEs per reference otherwise — the round-5 lesson).
_SQL_IR_CORE = f"""
    WITH ex AS MATERIALIZED (
      SELECT doc_id, source,
             {sql_hash_u32('g', IR_SEED)} % {IR_DIM} AS b
      FROM (SELECT doc_id, source, unnest({_sql_grams('text')}) AS g
            FROM documents)
    ), bt AS MATERIALIZED (
      SELECT b,
             COUNT(*)::BIGINT AS c_g,
             SUM(CASE WHEN source IN {_SQL_TARGET_IN} THEN 1 ELSE 0 END)::BIGINT AS t_g
      FROM ex GROUP BY b
    ), tot AS MATERIALIZED (
      SELECT SUM(c_g)::BIGINT AS c_all, SUM(t_g)::BIGINT AS t_all FROM bt
    ), lam AS MATERIALIZED (
      SELECT b,
             CAST((1000000::HUGEINT * (t_g + 1) * (c_all + {IR_DIM}))
                  // ((c_g + 1)::HUGEINT * (t_all + {IR_DIM})) AS BIGINT) AS l_ppm
      FROM bt, tot
    ), dc AS MATERIALIZED (
      SELECT doc_id, b, COUNT(*)::BIGINT AS n FROM ex GROUP BY doc_id, b
    ), pd AS MATERIALIZED (
      SELECT dc.doc_id,
             SUM(dc.n)::BIGINT AS n_grams,
             CAST(SUM(dc.n::HUGEINT * lam.l_ppm) AS BIGINT) AS weight_sum
      FROM dc JOIN lam USING (b) GROUP BY dc.doc_id
    ), scored AS MATERIALIZED (
      SELECT d.doc_id, d.source,
             COALESCE(pd.n_grams, 0) AS n_grams,
             COALESCE(pd.weight_sum, 0) AS weight_sum,
             CAST(CASE WHEN COALESCE(pd.n_grams, 0) = 0 THEN 0
                       ELSE pd.weight_sum // pd.n_grams END AS BIGINT) AS weight_pg_ppm
      FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id
    )
"""


def _ex_df(docs: DataFrame) -> DataFrame:
    """(doc_id, source, b): one row per gram occurrence, bucketed.

    The token array is materialized in its own projection first:
    `_grams` references it ~6x (concat + ngrams' element_at/size
    refs, some inside non-codegen HOF lambdas), so an inlined
    tokenizer expression would re-run per reference — measured ~4x
    whole-query cost on `dsir_importance_weights`."""
    return (
        docs.select("doc_id", "source", tokens(F.col("text")).alias("__toks"))
        .select(
            "doc_id",
            "source",
            F.explode(
                F.concat(F.col("__toks"), ngrams(F.col("__toks"), 2))
            ).alias("g"),
        )
        .select(
            "doc_id",
            "source",
            (hash_u32(F.col("g"), IR_SEED) % IR_DIM).alias("b"),
        )
    )


def _bt_df(ex: DataFrame) -> DataFrame:
    """(b, c_g, t_g): the two bucket unigram models — ≤{IR_DIM} rows."""
    is_t = F.when(F.col("source").isin(*IR_TARGET_SOURCES), 1).otherwise(0)
    return ex.groupBy("b").agg(
        F.count(F.lit(1)).cast("long").alias("c_g"),
        F.sum(is_t).cast("long").alias("t_g"),
    )


def _lam_df(bt: DataFrame) -> DataFrame:
    """(b, l_ppm): the smoothed likelihood-ratio table.

    {IR_DIM}-row model × 1-row totals: both sides bounded, broadcast
    BNLJ; the DECIMAL(38,0) product stays confined to these rows."""
    tot = bt.agg(
        F.sum("c_g").cast("long").alias("c_all"),
        F.sum("t_g").cast("long").alias("t_all"),
    )
    return bt.crossJoin(F.broadcast(tot)).select(
        "b",
        F.expr(
            f"CAST((CAST(1000000 AS DECIMAL(38,0)) * (t_g + 1) * (c_all + {IR_DIM}))"
            f" DIV (CAST(c_g + 1 AS DECIMAL(38,0)) * (t_all + {IR_DIM})) AS BIGINT)"
        ).alias("l_ppm"),
    )


def train_dsir_model(spark: SparkSession, sf_dir: str) -> dict[int, int]:
    """Freeze the batch model for online gating: collect the bucket
    counts (≤{IR_DIM} rows — the broadcast-variable shape, NOT a corpus
    collect) and compute every bucket's λ_ppm in exact integer
    arithmetic (Python `//` on non-negative ints truncates identically
    to Spark `DIV`/DuckDB `//`), including the add-one default for
    buckets unseen in training, so the returned table is total over
    [0, {IR_DIM})."""
    docs = table(spark, sf_dir, "documents")
    rows = _bt_df(_ex_df(docs)).collect()
    c_all = sum(r.c_g for r in rows)
    t_all = sum(r.t_g for r in rows)
    by_b = {r.b: (r.c_g, r.t_g) for r in rows}
    return {
        b: (1_000_000 * (t + 1) * (c_all + IR_DIM))
        // ((c + 1) * (t_all + IR_DIM))
        for b in range(IR_DIM)
        for c, t in (by_b.get(b, (0, 0)),)
    }


def _scored_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, n_grams, weight_sum, weight_pg_ppm): the DSIR
    importance score of every document."""
    docs = table(spark, sf_dir, "documents")
    ex = _ex_df(docs)
    lam = _lam_df(_bt_df(ex))
    dc = ex.groupBy("doc_id", "b").agg(F.count(F.lit(1)).cast("long").alias("n"))
    pd_ = (
        dc.join(F.broadcast(lam), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_grams"),
            F.sum(F.col("n") * F.col("l_ppm")).cast("long").alias("weight_sum"),
        )
    )
    return (
        docs.select("doc_id", "source")
        .join(pd_, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce(F.col("weight_sum"), F.lit(0)).cast("long").alias("weight_sum"),
            F.expr(
                "CAST(CASE WHEN coalesce(n_grams, 0) = 0 THEN 0"
                "     ELSE weight_sum DIV n_grams END AS BIGINT)"
            ).alias("weight_pg_ppm"),
        )
    )


@query(
    "dsir_importance_weights",
    oracle=_SQL_IR_CORE
    + f"""
    SELECT doc_id, n_grams, weight_sum, weight_pg_ppm,
           (n_grams > 0 AND weight_pg_ppm >= {IR_KEEP_MIN_PPM}) AS dsir_keep
    FROM scored
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight: the sum over gram
    occurrences of the bucket's add-one-smoothed target/corpus
    likelihood ratio (ppm), plus its per-gram mean and the keep verdict
    at the neutral {IR_KEEP_MIN_PPM} ppm bar. See the module docstring
    for the integer-surrogate rationale and the 100 TB plan shape."""
    s = _scored_df(spark, sf_dir)
    return s.select(
        "doc_id",
        "n_grams",
        "weight_sum",
        "weight_pg_ppm",
        (
            (F.col("n_grams") > 0)
            & (F.col("weight_pg_ppm") >= F.lit(IR_KEEP_MIN_PPM))
        ).alias("dsir_keep"),
    )


@query(
    "dsir_retention_by_source",
    oracle=_SQL_IR_CORE
    + f"""
    SELECT source,
           COUNT(*)::BIGINT AS n_docs,
           SUM(CASE WHEN n_grams > 0 AND weight_pg_ppm >= {IR_KEEP_MIN_PPM}
                    THEN 1 ELSE 0 END)::BIGINT AS n_keep,
           CAST(SUM(CASE WHEN n_grams > 0 AND weight_pg_ppm >= {IR_KEEP_MIN_PPM}
                    THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT) AS keep_bp,
           CAST(CASE WHEN SUM(n_grams) = 0 THEN 0
                     ELSE SUM(weight_sum::HUGEINT) // SUM(n_grams) END
                AS BIGINT) AS mean_w_ppm
    FROM scored GROUP BY source
    """,
)
def q_dsir_retention_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection audit: per source, how many documents the DSIR gate
    keeps (count + basis points) and the gram-weighted mean importance
    (ppm). Target sources should retain more and score above 1e6 ppm —
    the resampling tilt made visible. ≤|sources| output rows; one
    aggregate over the scored relation."""
    s = _scored_df(spark, sf_dir)
    keep1 = F.when(
        (F.col("n_grams") > 0) & (F.col("weight_pg_ppm") >= IR_KEEP_MIN_PPM), 1
    ).otherwise(0)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(keep1).cast("long").alias("n_keep"),
        F.expr(
            f"CAST(SUM(CASE WHEN n_grams > 0 AND weight_pg_ppm >= {IR_KEEP_MIN_PPM}"
            "      THEN 1 ELSE 0 END) * 10000 DIV COUNT(*) AS BIGINT)"
        ).alias("keep_bp"),
        F.expr(
            "CAST(CASE WHEN SUM(n_grams) = 0 THEN 0"
            "     ELSE SUM(CAST(weight_sum AS DECIMAL(38,0))) DIV SUM(n_grams) END"
            " AS BIGINT)"
        ).alias("mean_w_ppm"),
    )
