"""Feature-engineering / dataset-preparation operators with built-in
leakage discipline — the transforms that sit between a raw corpus and
a training run.

Two classic leakage traps, each solved in-plan:

- `target_encode_loo`: categorical target encoding computed
  leave-one-out — each row's own label is subtracted from its
  category's aggregate before the rate is formed, so the encoded
  feature never contains the row's own target (the standard remedy for
  target-encoding leakage, cf. the CatBoost ordered-statistics
  argument, Prokhorenkova et al., NeurIPS'18).
- `group_split_audit`: train/val/test assignment hashed at the ENTITY
  level (user), never the row level, so all rows of one user land in
  one split — and the query *proves* it, publishing the count of
  users straddling splits (0 by construction) as an output column
  instead of leaving the invariant to documentation.

Reference parity note: the reference has no ML-prep surface (its
pipeline ends at SQL-style filter/join/aggregate,
`/root/reference/file_server/fileserver.py`); this family extends the
same shuffle-aggregate skeleton to the training-data contracts.

Exactness: rates in integer basis points (sum−y)·10⁴ ⫽ (n−1); split
hashing on md5-derived buckets — both bit-identical across engines.

Scale shape (100 TB):
- Target encoding: one hash-aggregate to ≤|categories| rows,
  broadcast back over the fact scan — no second shuffle of facts, no
  window.
- Group split: md5(user) bucket is a pure row expression; the audit is
  one aggregate over (user, split) pairs — distinct-combine bounded by
  |users|·3.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import (
    hash_u32,
    sql_hash_u32,
    sql_tokens,
    tokens,
)
from distributed_mapreduce_spark.workload.registry import query, table

#: Binary target: "big order" — totalprice above this cut.
TE_PRICE_CUT = 150_000.0

#: Split geometry: md5 bucket of 100 → train <90, val <95, else test.
SPLIT_BUCKETS = 100
SPLIT_TRAIN_LT = 90
SPLIT_VAL_LT = 95


@query(
    "target_encode_loo",
    oracle=f"""
    WITH lab AS MATERIALIZED (
      SELECT o_orderkey, o_orderpriority AS cat,
             CASE WHEN o_totalprice > {TE_PRICE_CUT} THEN 1 ELSE 0 END AS y
      FROM orders
    ), agg AS (
      SELECT cat, CAST(count(*) AS BIGINT) AS n_cat,
             CAST(sum(y) AS BIGINT) AS sum_cat
      FROM lab GROUP BY cat
    ), prior AS (
      SELECT CAST(CAST(sum(sum_cat) AS HUGEINT) * 10000
                  // sum(n_cat) AS BIGINT) AS prior_bp
      FROM agg
    )
    SELECT o_orderkey, cat, CAST(y AS BIGINT) AS y,
           CASE WHEN n_cat > 1
                THEN CAST(CAST(sum_cat - y AS HUGEINT) * 10000
                          // (n_cat - 1) AS BIGINT)
                ELSE prior_bp END AS te_loo_bp
    FROM lab JOIN agg USING (cat) CROSS JOIN prior
    """,
)
def q_target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against the
    "big order" label (o_totalprice > {TE_PRICE_CUT}): each row gets
    (sum_cat − y_row)·10⁴ ⫽ (n_cat − 1) basis points; singleton
    categories fall back to the global prior rate.

    Plan: one scan → hash-aggregate to 5 category rows (map-side
    partials), broadcast join back over a second scan plus a 1-row
    prior broadcast — the facts shuffle zero times."""
    lab = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").alias("cat"),
        F.when(F.col("o_totalprice") > TE_PRICE_CUT, 1)
        .otherwise(0)
        .alias("y"),
    )
    agg = lab.groupBy("cat").agg(
        F.count(F.lit(1)).cast("long").alias("n_cat"),
        F.sum("y").cast("long").alias("sum_cat"),
    )
    prior = agg.agg(
        F.expr(
            "CAST(CAST(sum(sum_cat) AS DECIMAL(38,0)) * 10000"
            " DIV sum(n_cat) AS BIGINT)"
        ).alias("prior_bp")
    )
    return (
        lab.join(F.broadcast(agg), "cat")
        .crossJoin(F.broadcast(prior))
        .select(
            "o_orderkey",
            "cat",
            F.col("y").cast("long").alias("y"),
            F.when(
                F.col("n_cat") > 1,
                F.expr(
                    "CAST(CAST(sum_cat - y AS DECIMAL(38,0)) * 10000"
                    " DIV (n_cat - 1) AS BIGINT)"
                ),
            )
            .otherwise(F.col("prior_bp"))
            .alias("te_loo_bp"),
        )
    )


@query(
    "group_split_audit",
    oracle=f"""
    WITH assigned AS MATERIALIZED (
      SELECT user_id, event_id,
             CASE
               WHEN {sql_hash_u32("CAST(user_id AS VARCHAR)", "gs")}
                    % {SPLIT_BUCKETS} < {SPLIT_TRAIN_LT} THEN 'train'
               WHEN {sql_hash_u32("CAST(user_id AS VARCHAR)", "gs")}
                    % {SPLIT_BUCKETS} < {SPLIT_VAL_LT} THEN 'val'
               ELSE 'test'
             END AS split
      FROM events
    ), per_split AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_events,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
      FROM assigned GROUP BY split
    ), tot AS (
      SELECT CAST(sum(n_events) AS BIGINT) AS n_total FROM per_split
    ), leak AS (
      SELECT CAST(count(*) AS BIGINT) AS leak_users FROM (
        SELECT user_id FROM assigned GROUP BY user_id
        HAVING count(DISTINCT split) > 1
      )
    )
    SELECT split, n_events, n_users,
           CAST(CAST(n_events AS HUGEINT) * 10000 // n_total AS BIGINT)
             AS share_bp,
           leak_users
    FROM per_split CROSS JOIN tot CROSS JOIN leak
    """,
)
def q_group_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-level (user-hashed) train/val/test assignment over
    events, with the leakage audit in the result: `leak_users` counts
    users whose rows landed in more than one split — provably 0 when
    the split key is the entity hash, and the first column to go red
    if someone "fixes" it to a row hash.

    Plan: split is a pure md5 row expression (no shuffle); per-split
    stats are one hash-aggregate with a distinct-user combine; the
    audit aggregates (user, split) pairs — bounded by |users|·3."""
    bucket = hash_u32(F.col("user_id").cast("string"), "gs") % SPLIT_BUCKETS
    assigned = table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
        .alias("split"),
    )
    per_split = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )
    tot = per_split.agg(F.sum("n_events").cast("long").alias("n_total"))
    leak = (
        assigned.groupBy("user_id")
        .agg(F.countDistinct("split").alias("n_splits"))
        .filter(F.col("n_splits") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("leak_users"))
    )
    return (
        per_split.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(leak))
        .select(
            "split",
            "n_events",
            "n_users",
            F.expr(
                "CAST(CAST(n_events AS DECIMAL(38,0)) * 10000"
                " DIV n_total AS BIGINT)"
            ).alias("share_bp"),
            "leak_users",
        )
    )


#: Cross-validation fold count.
KFOLD_K = 5


@query(
    "mlprep_kfold_assign",
    oracle=f"""
    WITH assigned AS MATERIALIZED (
      SELECT o_orderkey, o_custkey,
             CAST({sql_hash_u32("CAST(o_custkey AS VARCHAR)", "kf")}
                  % {KFOLD_K} AS INTEGER) AS fold,
             CASE WHEN o_totalprice > {TE_PRICE_CUT} THEN 1 ELSE 0 END AS y
      FROM orders
    ), per_fold AS (
      SELECT fold, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_custs,
             CAST(CAST(sum(y) AS HUGEINT) * 10000 // count(*) AS BIGINT)
               AS pos_rate_bp
      FROM assigned GROUP BY fold
    ), leak AS (
      SELECT CAST(count(*) AS BIGINT) AS leak_custs FROM (
        SELECT o_custkey FROM assigned GROUP BY o_custkey
        HAVING count(DISTINCT fold) > 1
      )
    )
    SELECT fold, n_rows, n_custs, pos_rate_bp, leak_custs
    FROM per_fold CROSS JOIN leak
    """,
)
def q_mlprep_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold cross-validation assignment ({KFOLD_K} folds, keyed on
    the CUSTOMER hash so every customer's orders stay in one fold —
    grouped CV, the leakage-safe variant) with the balance audit a
    modeling pipeline reviews before training: per-fold row/entity
    counts and the positive-target rate in basis points (fold rates
    should agree within noise — a skewed fold means the entity hash
    correlates with the target). `leak_custs` is the in-result proof
    of entity disjointness (provably 0 for an entity-hash fold key).

    Plan: fold is a pure md5 row expression; one hash aggregate with a
    distinct-entity combine; the leakage audit aggregates ≤ |customers|
    (customer, fold) pairs; the 1-row audit relation attaches by
    broadcast. Same scale posture as `group_split_audit`."""
    bucket = hash_u32(F.col("o_custkey").cast("string"), "kf") % KFOLD_K
    assigned = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        bucket.cast("int").alias("fold"),
        F.when(F.col("o_totalprice") > TE_PRICE_CUT, 1).otherwise(0).alias("y"),
    )
    per_fold = assigned.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct("o_custkey").cast("long").alias("n_custs"),
        F.expr(
            "CAST(CAST(sum(y) AS DECIMAL(38,0)) * 10000 DIV count(1) AS BIGINT)"
        ).alias("pos_rate_bp"),
    )
    leak = (
        assigned.groupBy("o_custkey")
        .agg(F.countDistinct("fold").alias("n_folds"))
        .filter(F.col("n_folds") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("leak_custs"))
    )
    return per_fold.crossJoin(F.broadcast(leak)).select(
        "fold", "n_rows", "n_custs", "pos_rate_bp", "leak_custs"
    )


#: Hashing-trick dimensionality (buckets) for the featurizer audit.
FH_DIM = 1024


@query(
    "mlprep_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT u.tok AS token
      FROM documents,
           unnest({sql_tokens('text')}) AS u(tok)
    ), tc AS MATERIALIZED (
      SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1
    ), hashed AS MATERIALIZED (
      SELECT token, cnt,
             {sql_hash_u32('token', 'fh_')} % {FH_DIM} AS bucket,
             CASE WHEN ({sql_hash_u32('token', 'fs_')} % 2) = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM tc
    ), buckets AS MATERIALIZED (
      SELECT bucket,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(cnt) AS BIGINT) AS total_cnt,
             CAST(abs(sum(sgn * cnt)) AS BIGINT) AS abs_signed
      FROM hashed GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM tc) AS BIGINT) AS n_distinct_tokens,
           CAST(count(*) AS BIGINT) AS n_used_buckets,
           CAST(max(n_tokens) AS BIGINT) AS max_bucket_tokens,
           CAST((SELECT coalesce(sum(n_tokens), 0) FROM buckets
                 WHERE n_tokens > 1) AS BIGINT) AS colliding_tokens,
           CAST(sum(total_cnt) AS BIGINT) AS total_count,
           CAST(sum(total_cnt) - sum(abs_signed) AS BIGINT)
             AS cancelled_mass
    FROM buckets
    """,
)
def q_mlprep_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization audit (Weinberger et al., ICML'09):
    map every corpus token into {FH_DIM} hashed buckets with a second
    independent sign hash, then report the statistics that tell you
    whether the chosen dimensionality is safe — distinct vocabulary vs
    used buckets, the worst bucket's token pile-up, how many tokens
    share a bucket with another token (collision exposure), and the
    signed-sum `cancelled_mass`: total count minus Σ_b|Σ_t sgn·cnt|,
    exactly the mass the ± sign trick cancels inside collided buckets
    (the Weinberger argument for why collisions stay unbiased).

    Plan: one token explode → hash-agg to the ≤|vocab| term relation;
    bucket/sign are pure row expressions over that tiny relation; the
    bucket aggregate is ≤{FH_DIM} rows and the summary is one row. At
    100 TB only the first aggregate touches corpus-scale data — the
    map-side combine does the heavy lifting."""
    toks = table(spark, sf_dir, "documents").select(
        F.explode(
            tokens(F.col("text"))
        ).alias("token")
    )
    tc = toks.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    hashed = tc.select(
        "token",
        "cnt",
        (hash_u32(F.col("token"), "fh_") % FH_DIM).alias("bucket"),
        F.when(hash_u32(F.col("token"), "fs_") % 2 == 0, 1)
        .otherwise(-1)
        .alias("sgn"),
    )
    buckets = hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum("cnt").cast("long").alias("total_cnt"),
        F.abs(F.sum(F.col("sgn") * F.col("cnt"))).cast("long").alias(
            "abs_signed"
        ),
    )
    nvocab = tc.agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_tokens")
    )
    colliding = buckets.filter(F.col("n_tokens") > 1).agg(
        F.coalesce(F.sum("n_tokens"), F.lit(0))
        .cast("long")
        .alias("colliding_tokens")
    )
    summary = buckets.agg(
        F.count(F.lit(1)).cast("long").alias("n_used_buckets"),
        F.max("n_tokens").cast("long").alias("max_bucket_tokens"),
        F.sum("total_cnt").cast("long").alias("total_count"),
        (F.sum("total_cnt") - F.sum("abs_signed"))
        .cast("long")
        .alias("cancelled_mass"),
    )
    return (
        nvocab.crossJoin(F.broadcast(summary))
        .crossJoin(F.broadcast(colliding))
        .select(
            "n_distinct_tokens",
            "n_used_buckets",
            "max_bucket_tokens",
            "colliding_tokens",
            "total_count",
            "cancelled_mass",
        )
    )


@query(
    "mlprep_class_weights",
    oracle="""
    WITH c AS (
      SELECT label, CAST(count(*) AS BIGINT) AS cnt
      FROM embeddings GROUP BY 1
    ), t AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS total,
             CAST(count(*) AS BIGINT) AS n_classes
      FROM c
    )
    SELECT c.label, c.cnt,
           CAST((1000000 * t.total) // (t.n_classes * c.cnt) AS BIGINT)
             AS weight_ppm
    FROM c CROSS JOIN t
    ORDER BY c.label
    """,
)
def q_mlprep_class_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced class weights for a skewed label column — the
    sklearn-style `n / (k * n_c)` inverse-frequency weight every
    imbalanced classifier run computes first, in exact truncated ppm.

    Plan: one hash-agg to ≤|classes| rows, a 1-row total broadcast
    back over it. Nothing at corpus scale after the scan."""
    c = (
        table(spark, sf_dir, "embeddings")
        .groupBy("label")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    t = c.agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "label",
            "cnt",
            F.expr(
                "CAST((1000000 * total) DIV (n_classes * cnt) AS BIGINT)"
            ).alias("weight_ppm"),
        )
        .orderBy("label")
    )


#: AUC audit: coarse integer model score (heavy ties exercise the
#: midrank half of the Mann-Whitney statistic).
AUC_SCORE_DIV = 50_000


@query(
    "auc_rank_audit",
    oracle=f"""
    WITH lab AS MATERIALIZED (
      SELECT CAST(floor(o_totalprice) AS BIGINT) // {AUC_SCORE_DIV} AS s,
             CASE WHEN o_totalprice > {TE_PRICE_CUT} THEN 1 ELSE 0 END AS y
      FROM orders
    ), per AS (
      SELECT s, CAST(sum(y) AS BIGINT) AS np,
             CAST(count(*) - sum(y) AS BIGINT) AS nn
      FROM lab GROUP BY s
    ), cum AS (
      SELECT s, np, nn,
             COALESCE(sum(nn) OVER (ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below
      FROM per
    ), agg AS (
      SELECT CAST(sum(np) AS BIGINT) AS n_pos,
             CAST(sum(nn) AS BIGINT) AS n_neg,
             sum(CAST(np AS HUGEINT) * (2 * below) + CAST(np AS HUGEINT) * nn)
               AS two_u
      FROM cum
    )
    SELECT n_pos, n_neg, CAST(two_u AS BIGINT) AS two_u,
           CAST(two_u * 1000000 // (2 * CAST(n_pos AS HUGEINT) * n_neg)
                AS BIGINT) AS auc_ppm
    FROM agg
    """,
)
def q_auc_rank_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of a coarse integer model score against the
    "big order" label, via the Mann-Whitney rank-sum identity
    AUC = (#concordant + ½·#tied) / (n_pos·n_neg) — the evaluation
    every trained quality/contamination classifier gets before its
    scores gate a corpus. Everything is integer: per-score positive/
    negative counts, a running below-count, and
    2U = Σ_s np(s)·(2·neg_below(s) + nn(s)), reported with
    auc_ppm = ⌊10⁶·2U / (2·n_pos·n_neg)⌋.

    Plan: one hash-aggregate to ≤|distinct scores| rows (map-side
    partials over the scan), then a global running window over that
    bounded aggregate (scores are price DIV {AUC_SCORE_DIV} — the
    group count is bounded by the price range, not the row count) and
    a 1-row fold. The INTERNAL products and auc_ppm are
    DECIMAL(38,0)/HUGEINT-safe to n ~ 10¹² rows (np·below ≤ n² =
    10²⁴, ×10⁶ = 10³⁰ < 10³⁸); the emitted `two_u` AUDIT column is a
    BIGINT and overflows past n ≈ 4·10⁹ — at that scale read
    `auc_ppm` (always ≤ 10⁶) and drop `two_u`, whose only purpose is
    the harness's independent pairwise recount. The ties path is
    exercised for real: {AUC_SCORE_DIV}-unit buckets put thousands of
    orders on each score."""
    lab = table(spark, sf_dir, "orders").select(
        F.expr(f"CAST(floor(o_totalprice) AS BIGINT) DIV {AUC_SCORE_DIV}").alias("s"),
        F.when(F.col("o_totalprice") > TE_PRICE_CUT, 1).otherwise(0).alias("y"),
    )
    from pyspark.sql import Window

    per = lab.groupBy("s").agg(
        F.sum("y").cast("long").alias("np"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("nn"),
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.withColumn("below", F.coalesce(F.sum("nn").over(w), F.lit(0)))
    agg = cum.agg(
        F.sum("np").cast("long").alias("n_pos"),
        F.sum("nn").cast("long").alias("n_neg"),
        F.expr(
            "sum(CAST(np AS DECIMAL(38,0)) * (2 * below)"
            " + CAST(np AS DECIMAL(38,0)) * nn)"
        ).alias("two_u_w"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        F.col("two_u_w").cast("long").alias("two_u"),
        F.expr(
            "CAST(two_u_w * 1000000"
            " DIV (2 * CAST(n_pos AS DECIMAL(38,0)) * n_neg) AS BIGINT)"
        ).alias("auc_ppm"),
    )


#: Contrastive sampling geometry: anchors are a deterministic residue
#: gate; each anchor draws the K hash-smallest negatives from documents
#: of OTHER sources (in-batch negatives must never share the anchor's
#: source, the standard false-negative guard).
NEG_ANCHOR_MOD = 101
NEG_K = 4


@query(
    "contrastive_negatives",
    oracle=f"""
    WITH anch AS MATERIALIZED (
      SELECT doc_id AS anchor_id, source AS a_source FROM documents
      WHERE doc_id % {NEG_ANCHOR_MOD} = 0
    ), scored AS (
      SELECT a.anchor_id, d.doc_id AS neg_id,
             {sql_hash_u32("CAST(a.anchor_id AS VARCHAR) || '_' || CAST(d.doc_id AS VARCHAR)", "neg")} AS h
      FROM anch a JOIN documents d ON d.source <> a.a_source
    )
    SELECT anchor_id, neg_id, h, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY anchor_id
                                   ORDER BY h, neg_id) AS rnk
      FROM scored
    ) WHERE rnk <= {NEG_K}
    """,
)
def q_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor document draws the {NEG_K} hash-smallest negatives from
    documents of a DIFFERENT source (hash = md5-u32 of
    "anchor_docid", so the draw is a reproducible pseudo-random sample
    — reruns and backfills pick identical negatives, and no RNG state
    crosses engines).

    Plan: the anchor set (a residue gate, |docs|/{NEG_ANCHOR_MOD})
    broadcasts over the corpus scan — the ann_bruteforce shape; the
    per-anchor top-{NEG_K} is a window partitioned BY ANCHOR, never
    global. At 100 TB anchors are a training batch (thousands), the
    candidate pool streams once."""
    docs = table(spark, sf_dir, "documents")
    anch = docs.filter(F.col("doc_id") % NEG_ANCHOR_MOD == 0).select(
        F.col("doc_id").alias("anchor_id"), F.col("source").alias("a_source")
    )
    from pyspark.sql import Window

    scored = docs.join(
        F.broadcast(anch), F.col("source") != F.col("a_source")
    ).select(
        "anchor_id",
        F.col("doc_id").alias("neg_id"),
        hash_u32(
            F.concat_ws("_", F.col("anchor_id"), F.col("doc_id")), "neg"
        ).alias("h"),
    )
    w = Window.partitionBy("anchor_id").orderBy("h", "neg_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= NEG_K)
        .select("anchor_id", "neg_id", "h", "rnk")
    )


def _split_case_sql(key: str) -> str:
    """train/val/test CASE over the md5 bucket of `key` (same geometry
    as `group_split_audit`)."""
    h = sql_hash_u32(f"CAST({key} AS VARCHAR)", "cs")
    return f"""CASE
      WHEN {h} % {SPLIT_BUCKETS} < {SPLIT_TRAIN_LT} THEN 'train'
      WHEN {h} % {SPLIT_BUCKETS} < {SPLIT_VAL_LT} THEN 'val'
      ELSE 'test' END"""


def _split_cluster_safe_oracle() -> str:
    from distributed_mapreduce_spark.workload.dedup import (
        _SQL_VERIFY_TAIL,
        _sql_minhash_pairs,
    )

    base = _sql_minhash_pairs().replace("WITH bh", "WITH RECURSIVE bh", 1)
    return (
        base
        + f", verified AS MATERIALIZED ({_SQL_VERIFY_TAIL})"
        + f"""
    , edges AS (
      SELECT doc_a AS s, doc_b AS t FROM verified
      UNION
      SELECT doc_b AS s, doc_a AS t FROM verified
    ), reach(s, t) AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    ), labels AS (
      SELECT s AS doc_id, least(s, min(t)) AS cluster_id
      FROM reach GROUP BY s
    ), assigned AS MATERIALIZED (
      SELECT d.doc_id,
             COALESCE(l.cluster_id, d.doc_id) AS cluster_id,
             {_split_case_sql("COALESCE(l.cluster_id, d.doc_id)")} AS split
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ), leak AS (
      SELECT CAST(count(*) AS BIGINT) AS leak_pairs
      FROM verified v
      JOIN assigned a ON a.doc_id = v.doc_a
      JOIN assigned b ON b.doc_id = v.doc_b
      WHERE a.split <> b.split
    ), per AS (
      SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(DISTINCT cluster_id) AS BIGINT) AS n_clusters
      FROM assigned GROUP BY split
    )
    SELECT split, n_docs, n_clusters, leak_pairs
    FROM per CROSS JOIN leak
    """
    )


@query("split_cluster_safe", oracle=_split_cluster_safe_oracle())
def q_split_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: the split bucket is hashed
    at the DEDUP-CLUSTER level (MinHash-LSH verified pairs → connected
    components; singletons are their own cluster), so near-duplicate
    documents can never straddle train and eval — the contamination
    mode a row-hashed split silently permits (Lee et al., 2022 measure
    exactly this train/test near-dup leakage). The audit column proves
    it: `leak_pairs` counts verified near-dup pairs whose endpoints
    land in different splits — 0 by construction, published as output
    instead of trusted.

    Plan: pair generation is the banded LSH self-join (bounded per
    band key); clustering is the Pregel min-label loop with
    `localCheckpoint`; assignment is a LEFT join of the corpus against
    the ≤|paired docs| label relation (AQE broadcasts it) plus a pure
    hash expression; the audit is one join of the tiny verified-pair
    set against the assignment. Nothing quadratic, nothing global."""
    from distributed_mapreduce_spark.workload.dedup import (
        _verify_pairs,
        connected_components,
        minhash_candidate_pairs,
        shingle_table,
    )

    docs = table(spark, sf_dir, "documents")
    sh = shingle_table(docs)
    pairs = _verify_pairs(sh, minhash_candidate_pairs(sh)).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(pairs)
    bucket = hash_u32(F.col("cluster_id").cast("string"), "cs") % SPLIT_BUCKETS
    assigned = (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias("cluster_id"),
        )
        .withColumn(
            "split",
            F.when(bucket < SPLIT_TRAIN_LT, "train")
            .when(bucket < SPLIT_VAL_LT, "val")
            .otherwise("test"),
        )
    )
    a = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    b = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    # count(when(...)) never returns NULL — on a pair-free corpus the
    # oracle's count(*) is 0, and sum(when/otherwise) over zero rows
    # would be NULL and hash-mismatch
    leak = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.count(F.when(F.col("split_a") != F.col("split_b"), F.lit(1)))
            .cast("long")
            .alias("leak_pairs")
        )
    )
    per = assigned.groupBy("split").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
    )
    return per.crossJoin(F.broadcast(leak))


#: Hamilton-apportionment split ratios in basis points (sum = 10000).
APPORTION_BP = (("train", 8000), ("val", 1000), ("test", 1000))


@query(
    "split_apportion_hamilton",
    oracle=f"""
    WITH strata AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source, lang
    ), quota AS (
      SELECT s.source, s.lang, s.n_docs, r.split, r.ratio_bp,
             CAST(s.n_docs * r.ratio_bp // 10000 AS BIGINT) AS floor_alloc,
             CAST(s.n_docs * r.ratio_bp % 10000 AS BIGINT) AS rem
      FROM strata s
      CROSS JOIN (VALUES {", ".join(f"('{n}', {b})" for n, b in APPORTION_BP)})
             r(split, ratio_bp)
    ), ranked AS (
      SELECT *,
             CAST(row_number() OVER (PARTITION BY source, lang
                                     ORDER BY rem DESC, split) AS BIGINT)
               AS rnk,
             CAST(sum(rem) OVER (PARTITION BY source, lang) // 10000
                  AS BIGINT) AS deficit
      FROM quota
    )
    SELECT source, lang, split, n_docs, ratio_bp, floor_alloc, rem,
           CAST(floor_alloc + CASE WHEN rnk <= deficit THEN 1 ELSE 0 END
                AS BIGINT) AS alloc
    FROM ranked
    """,
)
def q_split_apportion_hamilton(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer split quotas per stratum by Hamilton's
    largest-remainder apportionment: each (source, lang) stratum's
    doc count is divided over the {'/'.join(n for n, _ in APPORTION_BP)}
    splits so that Σ alloc = n_docs EXACTLY — floors of the exact
    bp quotas first, then the stratum's leftover seats (Σ remainders /
    10⁴, an integer because Σ ratio_bp = 10⁴) go one each to the
    largest remainders (ties broken by split name — deterministic).
    This is the quota table a stratified splitter must hit; the
    hash-based assigners (`text_split_assign`, `mlprep_kfold_assign`)
    only approximate ratios, and the delta IS the audit.

    Plan: one hash-agg to |source × lang| strata, a ×{len(APPORTION_BP)}
    literal explode, and windows partitioned BY STRATUM over those
    {len(APPORTION_BP)} rows — nothing global, nothing raw-row."""
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    strata = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    splits = F.array(
        *[
            F.struct(F.lit(n).alias("split"), F.lit(b).alias("ratio_bp"))
            for n, b in APPORTION_BP
        ]
    )
    quota = strata.select(
        "source",
        "lang",
        "n_docs",
        F.explode(splits).alias("r"),
    ).select(
        "source",
        "lang",
        "n_docs",
        F.col("r.split").alias("split"),
        F.col("r.ratio_bp").cast("long").alias("ratio_bp"),
        F.expr("CAST(n_docs * r.ratio_bp DIV 10000 AS BIGINT)").alias(
            "floor_alloc"
        ),
        F.expr("CAST(n_docs * r.ratio_bp % 10000 AS BIGINT)").alias("rem"),
    )
    ws = Window.partitionBy("source", "lang")
    ranked = quota.select(
        "*",
        F.row_number()
        .over(ws.orderBy(F.col("rem").desc(), "split"))
        .cast("long")
        .alias("rnk"),
        F.expr(
            "CAST(sum(rem) OVER (PARTITION BY source, lang) DIV 10000"
            " AS BIGINT)"
        ).alias("deficit"),
    )
    return ranked.select(
        "source",
        "lang",
        "split",
        "n_docs",
        "ratio_bp",
        "floor_alloc",
        "rem",
        (
            F.col("floor_alloc")
            + F.when(F.col("rnk") <= F.col("deficit"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )


# ---------------------------------------------------------------------------
# Gini-gain feature ranking (exact-rational decision-tree split scores).

@query(
    "feature_gini_gain",
    oracle=f"""
    WITH pres AS MATERIALIZED (
      SELECT DISTINCT doc_id, source, unnest(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    parent AS MATERIALIZED (
      SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_c
      FROM documents GROUP BY source
    ),
    tot AS MATERIALIZED (
      SELECT CAST(sum(n_c) AS BIGINT) AS n,
             CAST(sum(n_c * n_c) AS BIGINT) AS q_p
      FROM parent
    ),
    lft AS (
      SELECT tok, source, CAST(count(*) AS BIGINT) AS n_lc
      FROM pres GROUP BY tok, source
    ),
    per_tok AS (
      SELECT l.tok,
             CAST(sum(l.n_lc) AS BIGINT) AS n_l,
             CAST(sum(l.n_lc * l.n_lc) AS BIGINT) AS s_l,
             CAST(sum(p.n_c * l.n_lc) AS BIGINT) AS xc
      FROM lft l JOIN parent p ON l.source = p.source
      GROUP BY l.tok
    )
    SELECT tok,
           n_l AS n_with,
           CAST(n - n_l AS BIGINT) AS n_without,
           CAST(CASE WHEN n_l = 0 OR n_l = n THEN 0
                ELSE (CASE WHEN CAST(s_l AS HUGEINT) * n * (n - n_l)
                                + CAST(q_p - 2 * xc + s_l AS HUGEINT) * n * n_l
                                >= CAST(q_p AS HUGEINT) * n_l * (n - n_l)
                           THEN 1 ELSE -1 END)
                     * (abs(CAST(s_l AS HUGEINT) * n * (n - n_l)
                            + CAST(q_p - 2 * xc + s_l AS HUGEINT) * n * n_l
                            - CAST(q_p AS HUGEINT) * n_l * (n - n_l)) * 1000000
                        // (CAST(n AS HUGEINT) * n * n_l * (n - n_l)))
                END AS BIGINT) AS gini_gain_ppm
    FROM per_tok CROSS JOIN tot
    """,
)
def q_feature_gini_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-gain feature ranking: for every vocabulary token, the exact
    decision-tree split score for predicting `source` from token
    presence — gain = Gini(parent) - weighted Gini(children), which
    reduces over sufficient statistics to
    (S_L*n*n_R + S_R*n*n_L - S_P*n_L*n_R) / (n^2*n_L*n_R) with
    S_X = sum over classes of member-count^2, so the whole ranking is
    exact integer arithmetic in ppm (signed split-division). The
    right-child statistic never needs an outer join: S_R = Q_P - 2*XC
    + S_L with XC = sum(n_c * n_Lc) over classes present on the left.

    Plan: one distinct (doc, token, source) explode -> (token, source)
    hash-agg -> (token) re-agg against the broadcast 20-row class
    table and 1-row totals; per-token arithmetic is a projection.
    Scales as one shuffle over the presence relation; the class table
    is the legitimate broadcast (label cardinality, not data size).

    Reference parity: no counterpart; the feature-selection companion
    to the kNN/Rocchio/logit classifier audits in this family.
    """
    docs = table(spark, sf_dir, "documents")
    pres = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(
                tokens(F.col("text"))
            )
        ).alias("tok"),
    ).distinct()
    parent = docs.groupBy("source").agg(
        F.count_distinct(F.col("doc_id")).cast("long").alias("n_c")
    )
    tot = parent.agg(
        F.sum("n_c").cast("long").alias("n"),
        F.sum(F.col("n_c") * F.col("n_c")).cast("long").alias("q_p"),
    )
    lft = pres.groupBy("tok", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_lc")
    )
    per_tok = (
        lft.join(F.broadcast(parent), "source")
        .groupBy("tok")
        .agg(
            F.sum("n_lc").cast("long").alias("n_l"),
            F.sum(F.col("n_lc") * F.col("n_lc")).cast("long").alias("s_l"),
            F.sum(F.col("n_c") * F.col("n_lc")).cast("long").alias("xc"),
        )
    )
    return per_tok.crossJoin(F.broadcast(tot)).selectExpr(
        "tok",
        "n_l AS n_with",
        "CAST(n - n_l AS BIGINT) AS n_without",
        "CAST(CASE WHEN n_l = 0 OR n_l = n THEN 0"
        "     ELSE (CASE WHEN CAST(s_l AS DECIMAL(38,0)) * n * (n - n_l)"
        "                     + CAST(q_p - 2 * xc + s_l AS DECIMAL(38,0)) * n * n_l"
        "                     >= CAST(q_p AS DECIMAL(38,0)) * n_l * (n - n_l)"
        "                THEN 1 ELSE -1 END)"
        "          * (abs(CAST(s_l AS DECIMAL(38,0)) * n * (n - n_l)"
        "                 + CAST(q_p - 2 * xc + s_l AS DECIMAL(38,0)) * n * n_l"
        "                 - CAST(q_p AS DECIMAL(38,0)) * n_l * (n - n_l)) * 1000000"
        "             DIV (CAST(n AS DECIMAL(38,0)) * n * n_l * (n - n_l)))"
        " END AS BIGINT) AS gini_gain_ppm",
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (rank-based batch-effect removal).


@query(
    "quantile_normalize_sources",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source, CAST(n_chars AS BIGINT) AS score FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, score,
             row_number() OVER (PARTITION BY source
                                ORDER BY score, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS n_s
      FROM scored
    ),
    pooled AS (
      SELECT score AS pooled_score,
             row_number() OVER (ORDER BY score, doc_id) AS g
      FROM scored
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored),
    tgt AS (
      SELECT doc_id, source, score,
             ((r * n - 1) // n_s) + 1 AS g
      FROM ranked CROSS JOIN tot
    )
    SELECT t.doc_id, t.source,
           t.score AS raw_score,
           CAST(p.pooled_score AS BIGINT) AS normalized_score
    FROM tgt t JOIN pooled p USING (g)
    """,
)
def q_quantile_normalize_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document score across sources
    (the rank-based batch-effect removal used when per-source scoring
    scales drift): each document's score is replaced by the POOLED
    corpus order statistic at its within-source quantile — target
    pooled rank g = floor((r*N - 1)/n_s) + 1, the exact integer form
    of ceil(r*N/n_s) that maps rank n_s to exactly N. After
    normalization every source has (up to rounding) the same score
    distribution, so a single corpus-wide threshold means the same
    thing in every source.

    Plan: per-source ranks from a window partitioned by the bounded
    source key; the POOLED ranks come from the distributed two-pass
    `global_rank` primitive (range shuffle + per-partition offsets),
    never an unpartitioned window; the final step is one equi-join on
    the target rank. Everything integer-exact; ties broken (score,
    doc_id) identically in both engines.

    Reference parity: no counterpart; the cross-source calibration
    step between `text_quality_score` and the corpus-wide gates.
    """
    from distributed_mapreduce_spark.operators.partitioning import global_rank
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("score")
    )
    sw = Window.partitionBy("source").orderBy("score", "doc_id")
    ranked = scored.select(
        "doc_id",
        "source",
        "score",
        F.row_number().over(sw).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_s"),
    )
    pooled = global_rank(
        scored.select("score", "doc_id"),
        [F.col("score"), F.col("doc_id")],
        rank_col="g",
        total_col="n",
    ).select(F.col("score").alias("pooled_score"), "g", "n")
    tot = pooled.agg(F.max("n").alias("n"))
    tgt = ranked.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "score",
        (F.expr("(r * n - 1) DIV n_s") + 1).alias("g"),
    )
    return tgt.join(pooled.select("pooled_score", "g"), "g").select(
        "doc_id",
        "source",
        F.col("score").alias("raw_score"),
        F.col("pooled_score").cast("long").alias("normalized_score"),
    )


# ---------------------------------------------------------------------------
# Neyman optimal stratified-sample allocation.

#: Total sample budget to allocate across sources.
NEYMAN_BUDGET = 1_000


@query(
    "neyman_allocation_sources",
    oracle=f"""
    WITH st AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(count(*) AS HUGEINT)
               * sum(CAST(n_chars AS HUGEINT) * n_chars)
               - CAST(sum(n_chars) AS HUGEINT) * sum(n_chars) AS vnum
      FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source, n_docs,
             CAST(floor(sqrt(CAST(vnum AS DOUBLE))) AS BIGINT) AS w
      FROM st
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM wts),
    quota AS (
      SELECT source, n_docs, w,
             CAST({NEYMAN_BUDGET} * w // tw AS BIGINT) AS fl,
             CAST({NEYMAN_BUDGET} * w % tw AS BIGINT) AS rem
      FROM wts CROSS JOIN tot
    ),
    seats AS (
      SELECT CAST({NEYMAN_BUDGET} - sum(fl) AS BIGINT) AS extra FROM quota
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM quota
    )
    SELECT source, n_docs, w AS neyman_weight,
           CAST(fl + CASE WHEN rk <= (SELECT extra FROM seats)
                          THEN 1 ELSE 0 END AS BIGINT) AS alloc
    FROM ranked
    """,
)
def q_neyman_allocation_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal stratified-sample allocation: each source's share
    of a {NEYMAN_BUDGET}-doc budget proportional to N_h * S_h — which
    for the integer variance NUMERATOR V_h = N*sum(x^2) - (sum x)^2 is
    exactly floor(sqrt(V_h)) (N_h*S_h = sqrt(V_h)/1), so the weight
    needs ONE portable operation beyond integer moments: IEEE-754 sqrt
    is correctly rounded, hence floor(sqrt(bigint)) is deterministic
    and identical in both engines. Exact-total rounding by Hamilton's
    largest remainder (ties by source name), reusing the apportionment
    contract of `split_apportion_hamilton`: sum(alloc) == budget
    EXACTLY — minimum-variance sampling under a fixed label budget,
    the design that beats proportional allocation when strata have
    unequal spread.

    Plan: one moment hash-agg to |sources| rows; everything after runs
    on that bounded relation (window over 20 rows).

    Reference parity: sampling-design extension of the reference's
    count-per-key aggregation (SURVEY.md section 2.4).
    """
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    st = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(count(*) AS DECIMAL(38,0))"
            " * sum(CAST(n_chars AS DECIMAL(38,0)) * n_chars)"
            " - CAST(sum(n_chars) AS DECIMAL(38,0)) * sum(n_chars)"
        ).alias("vnum"),
    )
    wts = st.select(
        "source",
        "n_docs",
        F.floor(F.sqrt(F.col("vnum").cast("double"))).cast("long").alias("w"),
    )
    tot = wts.agg(F.sum("w").cast("long").alias("tw"))
    quota = wts.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "w",
        F.expr(f"CAST({NEYMAN_BUDGET} * w DIV tw AS BIGINT)").alias("fl"),
        F.expr(f"CAST({NEYMAN_BUDGET} * w % tw AS BIGINT)").alias("rem"),
    )
    seats = quota.agg(
        (F.lit(NEYMAN_BUDGET) - F.sum("fl")).cast("long").alias("extra")
    )
    ranked = quota.withColumn(
        "rk", F.row_number().over(Window.orderBy(F.desc("rem"), "source"))
    )
    return ranked.crossJoin(F.broadcast(seats)).select(
        "source",
        "n_docs",
        F.col("w").alias("neyman_weight"),
        (
            F.col("fl")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc"),
    )
