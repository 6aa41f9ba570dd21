"""Similarity search over `embeddings` (array<float> vectors).

Brute-force cosine top-k is the correctness baseline; the IVF-style
variant restricts search to the query's coarse cell (the `label` column
stands in for a k-means assignment — same plan shape as a trained
quantizer: cluster-id equi-join instead of cross join).

Determinism: scores are computed with an explicit left fold in double
precision (Spark `aggregate` ≡ DuckDB `list_reduce`; identical IEEE
operation order ⇒ bit-identical doubles in both engines), then reported
as micro-units `floor(cos * 1e6)` so no float ever reaches the
comparator.

Scale shape: queries are broadcast (small side), candidates stream
through a broadcast-nested-loop or cell equi-join; per-row scoring is
JVM-side codegen over primitive arrays. For 100 TB of vectors the IVF
cell join is the path: shuffle keyed on cell id, top-k via per-partition
window, never a global sort.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from distributed_mapreduce_spark.functions import hash_u32, sql_hash_u32
from distributed_mapreduce_spark.workload.registry import query, table

#: Brute-force query set: vec_id < N_QUERIES.
N_QUERIES = 8
TOP_K = 5
#: Near-dup cosine threshold in micro-units. The harness embeddings are
#: random-ish (intra-cell cosine tops out near 0.47), so the threshold
#: sits at the top ~0.1% of intra-cell pairs — high enough to mean
#: "unusually similar", low enough that the differential check compares
#: real rows instead of an always-empty set. A production pipeline with
#: genuinely duplicated content would raise this toward 0.9.
NEAR_DUP_COS_U = 350_000

#: Harness embedding dimensionality (all SFs ship 64-d vectors).
EMB_DIM = 64


def dot(a: Column, b: Column) -> Column:
    """Deterministic double dot-product: widen to double, left fold.

    Measured negative result (round 9, don't retry): unrolling this
    fold into a flat 64-term multiply-add chain of getItem()s — the
    identical IEEE sequence, bit-identical values, certified by the
    differential suite — made the pair-heavy queries 3.5x SLOWER end
    to end (semdedup 2.2s -> 7.3s, near-dup 2.0s -> 6.9s at sf0.1)
    even though an isolated pair-join micro-benchmark showed parity
    (0.04s both ways). The fold is not the bottleneck at harness
    scales; the giant expression trees blow up Catalyst
    analysis/codegen instead (1 MB+ task binaries, per-trial plan
    rebuild cost). Keep the fold."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine_u(a: Column, b: Column) -> Column:
    """floor(cosine * 1e6) as BIGINT — engine-portable score."""
    return F.floor(dot(a, b) / (norm(a) * norm(b)) * 1_000_000.0).cast("long")


def _sql_dot(a: str, b: str) -> str:
    # list_reduce is a left fold starting at the first element; Spark's
    # aggregate starts at 0.0 — IEEE 0.0 + x == x, so both folds produce
    # the identical operation sequence.
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (x, y) -> x + y)"
    )


def _sql_cos_u(a: str, b: str) -> str:
    return (
        f"CAST(floor({_sql_dot(a, b)} / (sqrt({_sql_dot(a, a)}) * sqrt({_sql_dot(b, b)}))"
        f" * 1000000.0) AS BIGINT)"
    )


def topk_per_query(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k by (score desc, neighbor id) — a per-partition
    window, not a global sort."""
    w = Window.partitionBy("query_id").orderBy(F.col("cos_u").desc(), F.col("neighbor_id"))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


@query(
    "ann_bruteforce",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'e.embedding')} AS cos_u
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the query set over the full
    vector table — the exact-answer baseline every ANN variant is
    measured against."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
        )
    )
    return topk_per_query(scored, TOP_K).select("query_id", "neighbor_id", "cos_u", "rnk")


@query(
    "ann_ivf",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS cell, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'e.embedding')} AS cos_u
      FROM q JOIN embeddings e ON e.label = q.cell AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse cell (`label` as the
    quantizer assignment). Turns the cross join into a cell equi-join —
    the shuffle is keyed on cell id and each task scans one cell. This
    is the 100 TB path: cost scales with cell size, not corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        emb.join(
            F.broadcast(q),
            (F.col("label") == F.col("cell")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
        )
    )
    return topk_per_query(scored, TOP_K).select("query_id", "neighbor_id", "cos_u", "rnk")


#: Per-cell pair-generation guard: a blocking cell larger than this is
#: deterministically sub-banded (md5(vec_id) % ceil(m/cap)) before the
#: self-join, bounding any one join key at O(cap²) candidate pairs —
#: the embedding twin of dedup's NGRAM_MAX_DF skew guard. 1024 is far
#: above every harness cell (max 218 at sf0.1), so results are
#: unchanged until a cell is genuinely hot.
EMBED_CELL_CAP = 1024


def near_dup_pairs_cell_capped(emb: DataFrame, cap: int = EMBED_CELL_CAP) -> DataFrame:
    """(vec_a, vec_b, cos_u) near-dup candidate pairs blocked by `label`
    cell, with hot cells sub-banded so no single key explodes
    quadratically. The sub-band id is engine-portable arithmetic
    (md5-derived uint32 mod ceil(cell/cap)) — oracle-exact on both
    sides. Sub-banding trades recall for boundedness exactly like
    NGRAM_MAX_DF: cross-band pairs inside a hot cell are not produced."""
    # Per-cell sizes via a broadcast-joined aggregate, NOT a window:
    # Window.partitionBy(label) exchanges the whole (vec_id, label,
    # embedding) payload by label before counting, and the self-join
    # below then re-exchanges by (label, sub) — two full shuffles of
    # the vector column. The count relation is |cells| rows (tiny by
    # construction — cells are the blocking unit), so broadcasting it
    # back removes the first payload shuffle entirely; at 100 TB the
    # embedding column never moves until the (label, sub) join keys
    # exist. Same ceil(count/cap) values, oracle unchanged.
    cell_sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("_cn"))
    nsub = ((F.col("_cn") + F.lit(cap - 1)) / F.lit(cap)).cast("long")
    h = hash_u32(F.col("vec_id").cast("string"))
    # Per-VECTOR norm, computed once on the n-row relation instead of
    # inside every pair's cosine (3x fewer folds on the O(m²/cells)
    # pair relation). norm() here is the identical double fold the
    # inline cosine would run, so cos_u is bit-identical to
    # `cosine_u(a, b)` — the oracle keeps the inline form and the
    # differential check certifies the equivalence.
    sub = emb.join(F.broadcast(cell_sizes), "label").select(
        "vec_id",
        "label",
        "embedding",
        (h % nsub).cast("int").alias("sub"),
        norm(F.col("embedding")).alias("nrm"),
    )
    # EXPLICIT repartition on the join key: AQE's byte-based partition
    # coalescing sees a few hundred KB of shuffled vectors and folds
    # the exchange to ONE partition — but this stage's cost is not its
    # input bytes, it is the O(cell²) pair fan-out computed FROM them
    # (measured: the whole pair+cosine stage ran as a single 2.7 s
    # task at sf0.1). A user repartition is exempt from AQE
    # coalescing, keys the exchange exactly like the join wants it
    # (one exchange, reused by both aliases), and restores per-cell
    # parallelism; at corpus scale the byte heuristic is right again,
    # but keying by (label, sub) is what we want there too.
    parts = int(emb.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    sub = sub.repartition(parts, "label", "sub")
    # No cache: a persist measured flat-to-negative (semdedup 1.16 vs 1.21 s).
    a = sub.alias("a")
    b = sub.alias("b")
    pairs = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.sub") == F.col("b.sub"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    scored = pairs.select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        F.floor(
            dot(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.nrm") * F.col("b.nrm"))
            * 1_000_000.0
        )
        .cast("long")
        .alias("cos_u"),
    )
    return scored.filter(F.col("cos_u") >= NEAR_DUP_COS_U)


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH c AS (
      SELECT vec_id, label, embedding,
             {sql_hash_u32('CAST(vec_id AS VARCHAR)')}
               % ((count(*) OVER (PARTITION BY label) + {EMBED_CELL_CAP - 1}) // {EMBED_CELL_CAP}) AS sub
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {_sql_cos_u('a.embedding', 'b.embedding')} AS cos_u
    FROM c a
    JOIN c b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
    WHERE {_sql_cos_u('a.embedding', 'b.embedding')} >= {NEAR_DUP_COS_U}
    """,
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by coarse cell so
    the candidate set is per-cell O(m²) instead of corpus-wide O(n²) —
    the embedding analogue of LSH banding — with hot cells sub-banded
    at EMBED_CELL_CAP (VERDICT r01 #6: an uncapped cell is a single-key
    quadratic blowout). The oracle applies the identical sub-banding."""
    return near_dup_pairs_cell_capped(table(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Random-hyperplane LSH (the bucketed ANN alternative to IVF): bucket id
# = sign bits of dot(v, r_j) for deterministic ±1 hyperplanes r_j. The
# planes are module-level constants derived from md5, embedded as
# literal arrays on BOTH engines, so the bucketing (double fold + sign
# test, identical IEEE op order) is differentially exact.
# ---------------------------------------------------------------------------

#: Hyperplane count → 2^RP_PLANES buckets.
RP_PLANES = 4


def _rp_sign(j: int, i: int) -> int:
    import hashlib

    return 1 if int(hashlib.md5(f"rp_{j}_{i}".encode()).hexdigest()[0], 16) < 8 else -1


_PLANES = [[_rp_sign(j, i) for i in range(EMB_DIM)] for j in range(RP_PLANES)]


def lsh_bucket(v: Column) -> Column:
    """Sign-bit bucket id of a vector under the fixed hyperplanes."""
    acc = F.lit(0)
    for j, plane in enumerate(_PLANES):
        arr = F.array(*[F.lit(float(s)) for s in plane])
        acc = acc + F.when(dot(v, arr) > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc.cast("int")


def _sql_lsh_bucket(v: str) -> str:
    parts = []
    for j, plane in enumerate(_PLANES):
        lst = "[" + ", ".join(f"{float(s):.1f}" for s in plane) + "]"
        parts.append(f"CASE WHEN {_sql_dot(v, lst)} > 0 THEN {1 << j} ELSE 0 END")
    return "CAST(" + " + ".join(parts) + " AS INTEGER)"


@query(
    "ann_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_sql_lsh_bucket('embedding')} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, bucket, embedding AS qv FROM b WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'e.embedding')} AS cos_u
      FROM q JOIN b e ON e.bucket = q.bucket AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: random-hyperplane sign bits put cosine-close
    vectors in the same bucket; each query scores only its bucket.

    Same plan skeleton as `ann_ivf` (bucket equi-join, per-query window
    top-k) but the bucketing is computed from the vectors themselves —
    no trained quantizer needed. At 100 TB: 2^k buckets shard the
    corpus; recall tunes with k and multi-probe (flip one bit per
    probe), all still equi-joins.
    """
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket"))
    q = b.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("qbucket"),
        F.col("embedding").alias("qv"),
    )
    scored = (
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("qbucket")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
        )
    )
    return topk_per_query(scored, TOP_K).select("query_id", "neighbor_id", "cos_u", "rnk")


@query(
    "ann_bruteforce_pandas",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'e.embedding')} AS cos_u
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_ann_bruteforce_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN via a VECTORIZED Pandas UDF — the Arrow-batched
    alternative to the JVM fold scorer (`ann_bruteforce`), with the SAME
    oracle: numpy accumulates dimension-by-dimension in float64, which
    reproduces the left fold's IEEE operation order exactly (a plain
    np.dot would use pairwise/SIMD summation and drift in the last ulp).

    Plan shape: the tiny query set rides into every task as a plain
    closure (at real scale: a broadcast variable); each Arrow batch of
    vectors is scored against all queries in C speed; top-k stays a
    Spark window. This is the pattern for scoring logic too complex for
    Catalyst expressions.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    emb = table(spark, sf_dir, "embeddings")
    qrows = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_vecs = np.array([r["embedding"] for r in qrows], dtype=np.float64)

    def fold_dot(E: np.ndarray, v: np.ndarray) -> np.ndarray:
        acc = np.zeros(E.shape[0], dtype=np.float64)
        for i in range(E.shape[1]):
            acc += E[:, i] * v[i]
        return acc

    def fold_sq(E: np.ndarray) -> np.ndarray:
        acc = np.zeros(E.shape[0], dtype=np.float64)
        for i in range(E.shape[1]):
            acc += E[:, i] * E[:, i]
        return acc

    q_norms = np.sqrt([float(fold_dot(v[None, :], v)[0]) for v in q_vecs])

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            E = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            norms = np.sqrt(fold_sq(E))
            out = {"query_id": [], "neighbor_id": [], "cos_u": []}
            for qi, qv, qn in zip(q_ids, q_vecs, q_norms):
                mask = ids != qi
                cos = fold_dot(E[mask], qv) / (norms[mask] * qn)
                out["query_id"].extend([qi] * int(mask.sum()))
                out["neighbor_id"].extend(ids[mask])
                out["cos_u"].extend(np.floor(cos * 1_000_000.0).astype(np.int64))
            yield pd.DataFrame(out)

    scored = emb.select("vec_id", "embedding").mapInPandas(
        score, schema="query_id long, neighbor_id long, cos_u long"
    )
    return topk_per_query(scored, TOP_K).select("query_id", "neighbor_id", "cos_u", "rnk")


def _sql_probe_list(bucket_expr: str) -> str:
    flips = ", ".join(f"xor({bucket_expr}, {1 << j})" for j in range(RP_PLANES))
    return f"[{bucket_expr}, {flips}]"


@query(
    "ann_lsh_multiprobe",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, embedding, {_sql_lsh_bucket('embedding')} AS bucket
      FROM embeddings
    ), q AS (
      SELECT vec_id AS query_id, embedding AS qv,
             unnest({_sql_probe_list(_sql_lsh_bucket('embedding'))}) AS probe
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
      SELECT DISTINCT q.query_id, e.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'e.embedding')} AS cos_u
      FROM q JOIN b e ON e.bucket = q.probe AND e.vec_id <> q.query_id
    )
    SELECT query_id, neighbor_id, cos_u, rnk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_u DESC, neighbor_id) AS rnk
      FROM scored
    ) WHERE rnk <= {TOP_K}
    """,
)
def q_ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN: each query searches its own bucket plus the
    RP_PLANES buckets one sign-bit away (the buckets a borderline
    vector most likely fell into) — ~(1+k)× the probes for sharply
    better recall, still pure equi-joins. The standard recall/cost
    dial for LSH at scale."""
    emb = table(spark, sf_dir, "embeddings")
    b = emb.select("vec_id", "embedding", lsh_bucket(F.col("embedding")).alias("bucket"))
    probes = F.array(
        F.col("qbucket"),
        *[F.col("qbucket").bitwiseXOR(F.lit(1 << j)) for j in range(RP_PLANES)],
    )
    q = (
        b.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("bucket").alias("qbucket"),
            F.col("embedding").alias("qv"),
        )
        .select("query_id", "qv", F.explode(probes).alias("probe"))
    )
    scored = (
        b.join(
            F.broadcast(q),
            (F.col("bucket") == F.col("probe")) & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
        )
        .distinct()
    )
    return topk_per_query(scored, TOP_K).select("query_id", "neighbor_id", "cos_u", "rnk")


@query(
    "embedding_normalize",
    oracle=f"""
    SELECT vec_id,
           array_to_string(
             list_transform(
               CASE WHEN {_sql_dot('embedding', 'embedding')} = 0
                    THEN list_transform(embedding, x -> CAST(x AS DOUBLE))
                    ELSE list_transform(embedding,
                           x -> CAST(x AS DOUBLE) / sqrt({_sql_dot('embedding', 'embedding')}))
               END,
               x -> CAST(CAST(floor(x * 1000000.0) AS BIGINT) AS VARCHAR)),
             ',') AS unit_u,
           CAST(floor(sqrt({_sql_dot('embedding', 'embedding')}) * 1000000.0) AS BIGINT) AS norm_u
    FROM embeddings
    """,
)
def q_embedding_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-normalize the embedding column (the prep step before cosine =
    dot shortcuts and before LSH/IVF bucketing on unit vectors). Pure
    higher-order array expressions — the norm is the same explicit left
    fold as every other dot product in this module, so the doubles are
    bit-identical across engines; zero vectors pass through unchanged.

    Surface: the unit vector is reported as a comma-joined string of
    per-component micro-units (floor(x*1e6) as BIGINT) rather than a raw
    array<double> — the driver's pandas canonicalizer hashes scalar
    cells only (r2 verdict #1), and the components are bit-identical
    doubles in both engines so the integer scaling is exact."""
    emb = table(spark, sf_dir, "embeddings")
    nrm2 = dot(F.col("embedding"), F.col("embedding"))
    unit = F.when(
        nrm2 == 0, F.transform(F.col("embedding"), lambda x: x.cast("double"))
    ).otherwise(F.transform(F.col("embedding"), lambda x: x.cast("double") / F.sqrt(nrm2)))
    unit_u = F.concat_ws(
        ",", F.transform(unit, lambda x: F.floor(x * 1_000_000.0).cast("long").cast("string"))
    )
    return emb.select(
        "vec_id",
        unit_u.alias("unit_u"),
        F.floor(F.sqrt(nrm2) * 1000000.0).cast("long").alias("norm_u"),
    )


_RECALL_SQL = f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS cell, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_sql_cos_u('q.qv', 'e.embedding')} DESC, e.vec_id) AS rnk
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
      ) WHERE rnk <= {TOP_K}
    ), ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (PARTITION BY q.query_id
                 ORDER BY {_sql_cos_u('q.qv', 'e.embedding')} DESC, e.vec_id) AS rnk
        FROM q JOIN embeddings e
          ON e.label = q.cell AND e.vec_id <> q.query_id
      ) WHERE rnk <= {TOP_K}
    ), hits AS (
      SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_hits
      FROM bf JOIN ivf USING (query_id, neighbor_id)
      GROUP BY bf.query_id
    )
    SELECT qq.query_id,
           coalesce(h.n_hits, 0) AS n_hits,
           CAST(coalesce(h.n_hits, 0) * 10000 // {TOP_K} AS BIGINT) AS recall_bp
    FROM (SELECT DISTINCT query_id FROM bf) qq
    LEFT JOIN hits h ON qq.query_id = h.query_id
"""


@query("ann_recall_audit", oracle=_RECALL_SQL)
def q_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{TOP_K} of the IVF probe against the brute-force exact
    answer, per query, in basis points — the certification every
    approximate index needs before it replaces the exact path (same
    pattern as `approx_distinct_counts`' in-query error bound: the
    driver's exact-match harness ends up verifying an approximate
    operator's quality metric).

    Plan: both rankings reuse their production plans (broadcast query
    set; cell equi-join for IVF), the intersection is an equi-join on
    (query_id, neighbor_id), and the per-query roll-up is a tiny
    aggregate — measuring recall costs one extra join over running the
    two searches."""
    bf = q_ann_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    ivf = q_ann_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    hits = (
        bf.join(ivf, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    base = bf.select("query_id").distinct()
    return base.join(hits, "query_id", "left").select(
        "query_id",
        F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
        F.expr(f"(coalesce(n_hits, 0) * 10000) DIV {TOP_K}")
        .cast("long")
        .alias("recall_bp"),
    )


@query(
    "embedding_dim_stats",
    oracle="""
    SELECT CAST(dim AS INTEGER) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(vm) AS BIGINT) AS sum_micro,
           CAST(min(vm) AS BIGINT) AS min_micro,
           CAST(max(vm) AS BIGINT) AS max_micro,
           CAST(floor(CAST(sum(vm) AS DOUBLE) / count(*)) AS BIGINT) AS mean_micro
    FROM (
      SELECT i AS dim,
             CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS vm
      FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)
    )
    GROUP BY dim
    """,
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding statistics (count, sum/min/max/mean in
    floor-micros) — the feature-normalization prep audit (centering,
    whitening, detecting dead or saturated dimensions) a vector
    pipeline runs before indexing. Exact integer surfaces throughout.

    Plan: posexplode fan-out (dims× per row) with map-side partial
    aggregation; the shuffle carries one partial per (task, dim) —
    constant in corpus size."""
    emb = table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("dim0", "val")).select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.floor(F.col("val").cast("double") * 1_000_000).cast("long").alias("vm"),
    )
    return ex.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("vm").cast("long").alias("sum_micro"),
        F.min("vm").alias("min_micro"),
        F.max("vm").alias("max_micro"),
        F.floor(F.sum("vm").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("mean_micro"),
    )


#: Johnson-Lindenstrauss target dimension (64 -> 16, scale 1/sqrt(16)).
JL_DIM = 16

def _jl_sign(j: int, i: int) -> int:
    import hashlib

    return (
        1
        if int(hashlib.md5(f"jl_{j}_{i}".encode()).hexdigest()[0], 16) < 8
        else -1
    )


_JL_PLANES = [[_jl_sign(j, i) for i in range(EMB_DIM)] for j in range(JL_DIM)]


def _jl_project(v: Column) -> Column:
    """Deterministic +-1 JL projection: component j = dot(v, plane_j)/4
    (sqrt(16) = 4 — exact IEEE scaling by a power of two)."""
    return F.array(
        *[
            (dot(v, F.array(*[F.lit(float(s)) for s in plane])) / F.lit(4.0))
            for plane in _JL_PLANES
        ]
    )


def _sql_jl_project(v: str) -> str:
    comps = []
    for plane in _JL_PLANES:
        lst = "[" + ", ".join(f"{float(s):.1f}" for s in plane) + "]"
        comps.append(f"({_sql_dot(v, lst)} / 4.0)")
    return "[" + ", ".join(comps) + "]"


def _sql_sqd(a: str, b: str) -> str:
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) * "
        f"(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def _sqd(a: Column, b: Column) -> Column:
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


@query(
    "embedding_random_projection",
    oracle=f"""
    SELECT vec_id, {_sql_jl_project('embedding')} AS proj
    FROM embeddings WHERE vec_id < 64
    """,
)
def q_embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction: project 64-dim
    embeddings to {JL_DIM} dims through a fixed +-1 sign matrix scaled
    by 1/sqrt(k) — the cheap, data-independent compression that keeps
    pairwise distances within (1 +- eps) and shrinks a 100 TB embedding
    store 4x before any ANN indexing (`jl_distance_audit` measures the
    distortion it actually delivers on this corpus).

    Exactness: each component is the same left-fold dot product as the
    ANN family, scaled by a power of two — the output doubles are
    bit-identical across engines (surfaced here for a 64-vector
    sample; the transform itself is a stateless per-row projection at
    any scale, zero shuffle).
    """
    emb = table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 64)
    return emb.select("vec_id", _jl_project(F.col("embedding")).alias("proj"))


@query(
    "jl_distance_audit",
    oracle=f"""
    WITH p AS MATERIALIZED (
      SELECT vec_id, embedding, {_sql_jl_project('embedding')} AS proj
      FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(floor({_sql_sqd('a.embedding', 'b.embedding')} * 1000000.0)
               AS BIGINT) AS d2_orig_micro,
             CAST(floor({_sql_sqd('a.proj', 'b.proj')} * 1000000.0)
               AS BIGINT) AS d2_proj_micro
      FROM p a JOIN p b ON b.vec_id = a.vec_id + 1
    )
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(min(d2_proj_micro * 10000 // d2_orig_micro) AS BIGINT)
             AS min_ratio_bp,
           CAST(max(d2_proj_micro * 10000 // d2_orig_micro) AS BIGINT)
             AS max_ratio_bp,
           CAST(sum(d2_proj_micro * 10000 // d2_orig_micro) // count(*)
             AS BIGINT) AS mean_ratio_bp
    FROM pairs WHERE d2_orig_micro > 0
    """,
)
def q_jl_distance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distortion audit of the JL projection: squared-distance ratio
    (projected/original, basis points) over consecutive-id vector
    pairs — min/max/mean certify the (1 +- eps) contract empirically,
    the same approximate-op-certified-by-exact-harness methodology as
    `ann_recall_audit`.

    Plan: one projection pass, one self equi-join on vec_id+1 (no
    cross join — the audit sample is linear in the corpus), integer
    ratio aggregation.
    """
    emb = table(spark, sf_dir, "embeddings")
    p = emb.select(
        "vec_id", "embedding", _jl_project(F.col("embedding")).alias("proj")
    )
    a = p.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("ea"),
        F.col("proj").alias("pa"),
    )
    b = p.select(
        (F.col("vec_id") - 1).alias("a_id"),
        F.col("embedding").alias("eb"),
        F.col("proj").alias("pb"),
    )
    pairs = a.join(b, "a_id").select(
        F.floor(_sqd(F.col("ea"), F.col("eb")) * 1000000.0)
        .cast("long")
        .alias("d2_orig_micro"),
        F.floor(_sqd(F.col("pa"), F.col("pb")) * 1000000.0)
        .cast("long")
        .alias("d2_proj_micro"),
    ).filter(F.col("d2_orig_micro") > 0)
    ratio = F.expr("d2_proj_micro * 10000 div d2_orig_micro")
    return pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.min(ratio).alias("min_ratio_bp"),
        F.max(ratio).alias("max_ratio_bp"),
        F.expr(
            "sum(d2_proj_micro * 10000 div d2_orig_micro) div count(*)"
        ).alias("mean_ratio_bp"),
    )


@query(
    "embedding_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE c AS (
      SELECT vec_id, label, embedding,
             {sql_hash_u32('CAST(vec_id AS VARCHAR)')}
               % ((count(*) OVER (PARTITION BY label) + {EMBED_CELL_CAP - 1}) // {EMBED_CELL_CAP}) AS sub
      FROM embeddings
    ), verified AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM c a
      JOIN c b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE {_sql_cos_u('a.embedding', 'b.embedding')} >= {NEAR_DUP_COS_U}
    ), edges AS (
      SELECT vec_a AS s, vec_b AS t FROM verified
      UNION
      SELECT vec_b AS s, vec_a AS t FROM verified
    ), reach(s, t) AS (
      SELECT s, t FROM edges
      UNION
      SELECT r.s, e.t FROM reach r JOIN edges e ON r.t = e.s
    )
    SELECT s AS doc_id, least(s, min(t)) AS cluster_id
    FROM reach GROUP BY s
    """,
)
def q_embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup end-to-end: embedding-cosine near-dup pairs
    (cell-blocked, capped — `embedding_near_dup`) fed into the same
    Pregel min-label connected-components loop the MinHash clusters
    use — the "semantically same content, different words" grouping
    that fingerprint dedup cannot see, with cluster id = lowest member
    (the canonical keeper). The composition a modern training-data
    pipeline runs AFTER fingerprint dedup.

    Plan: pair generation is the capped cell self-join (never corpus
    x corpus); clustering is pointer-jumping min-label (O(log
    diameter) rounds) with `localCheckpoint` lineage truncation; the
    recursive-CTE oracle is the exact transitive closure of the
    identical edge set.

    Pointer jumping rather than plain propagation since round 10: the
    sf1.0 certification caught plain min-label exhausting its 25-round
    budget on this graph and returning silently wrong labels — the
    replicated embedding corpus chains near-dups ACROSS replicas into
    a >25-diameter component, the exact adversarial shape the doubling
    variant exists for (and plain propagation now raises instead of
    returning unconverged labels).
    """
    from distributed_mapreduce_spark.workload.dedup import (
        connected_components_pointer_jump,
    )

    pairs = near_dup_pairs_cell_capped(table(spark, sf_dir, "embeddings"))
    return connected_components_pointer_jump(
        pairs.select(
            F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b")
        )
    )


#: Semantic-decontamination threshold (micro-cosine). Calibrated like
#: NEAR_DUP_COS_U: the harness vectors are random-ish, so 0.30 sits in
#: the top ~1% of eval-vs-corpus cosines — low enough that the
#: differential check compares real rows. A production pipeline with
#: genuine paraphrased contamination would raise this toward 0.85+.
DECON_SEM_COS_U = 300_000


@query(
    "decontam_semantic_overlap",
    oracle=f"""
    WITH ev AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % 97 = 0
    ), corpus AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % 97 <> 0
    ), hits AS (
      SELECT c.vec_id,
             {_sql_cos_u('c.embedding', 'ev.embedding')} AS cos_u
      FROM corpus c CROSS JOIN ev
    )
    SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
           CAST(max(cos_u) AS BIGINT) AS max_cos_u
    FROM hits WHERE cos_u >= {DECON_SEM_COS_U}
    GROUP BY vec_id
    """,
)
def q_decontam_semantic_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC eval-set decontamination: the embedding-space twin of
    `decontam_ngram_overlap` (`workload/corpus.py`) — corpus vectors
    whose cosine to ANY eval-set vector (same deterministic
    doc_id %% 97 gate) reaches {DECON_SEM_COS_U} µ-cos are flagged with
    their hit count and worst overlap. Catches paraphrased benchmark
    contamination that exact n-gram matching cannot see; n-gram
    decontam catches verbatim overlap below the embedding threshold —
    pipelines run both.

    Plan: the eval side is tiny by construction (~1% gate standing in
    for a benchmark suite) and broadcasts; corpus vectors stream past
    it in one scan — linear in corpus size, no shuffle of the corpus,
    aggregation keyed on the already-partitioned vec_id."""
    emb = table(spark, sf_dir, "embeddings")
    ev = emb.filter(F.col("vec_id") % 97 == 0).select(
        F.col("embedding").alias("ev_emb")
    )
    corpus = emb.filter(F.col("vec_id") % 97 != 0)
    hits = corpus.crossJoin(F.broadcast(ev)).select(
        "vec_id",
        cosine_u(F.col("embedding"), F.col("ev_emb")).alias("cos_u"),
    )
    return (
        hits.filter(F.col("cos_u") >= DECON_SEM_COS_U)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
            F.max("cos_u").cast("long").alias("max_cos_u"),
        )
    )


#: nDCG audit depth and integer discount weights ⌊10⁶/log₂(i+1)⌋.
#: The weights are PYTHON-computed constants inlined identically into
#: the Spark plan and the SQL oracle — the logarithm never runs inside
#: either engine, so the repo-wide "no float reaches the comparator"
#: policy holds even for a log-discounted metric.
NDCG_K = 10
#: Audited literals of ⌊10⁶/log₂(i+1)⌋ for i in 1..10 — hardcoded
#: (not computed via math.log2 at import time) so the query definition
#: is platform-independent: libm results are not guaranteed ulp-identical
#: across platforms, and a 1-µ-unit drift would change persisted
#: artifacts even though in-process differentials could not see it.
NDCG_W = {
    1: 1_000_000,
    2: 630_929,
    3: 500_000,
    4: 430_676,
    5: 386_852,
    6: 356_207,
    7: 333_333,
    8: 315_464,
    9: 301_029,
    10: 289_064,
}
assert len(NDCG_W) == NDCG_K

def _ndcg_case_sql(col: str) -> str:
    return (
        f"CASE {col} "
        + " ".join(f"WHEN {i} THEN {w}" for i, w in NDCG_W.items())
        + " END"
    )


@query(
    "ann_ndcg_audit",
    oracle=f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS query_id, label AS cell, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), exact AS MATERIALIZED (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_cos_u('q.qv', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
      ) WHERE rnk <= {NDCG_K}
    ), approx AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_cos_u('q.qv', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e
          ON e.label = q.cell AND e.vec_id <> q.query_id
      ) WHERE rnk <= {NDCG_K}
    ), gains AS (
      SELECT a.query_id,
             CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL
                           THEN {_ndcg_case_sql('a.rnk')} ELSE 0 END) AS BIGINT)
               AS dcg_e6,
             CAST(sum(CASE WHEN x.neighbor_id IS NOT NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_relevant
      FROM approx a
      LEFT JOIN exact x
        ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
      GROUP BY a.query_id
    ), ideal AS (
      SELECT query_id, CAST(sum({_ndcg_case_sql('rnk')}) AS BIGINT) AS idcg_e6
      FROM exact GROUP BY query_id
    )
    SELECT g.query_id, g.n_relevant, g.dcg_e6, i.idcg_e6,
           CAST(CAST(g.dcg_e6 AS HUGEINT) * 10000 // i.idcg_e6 AS BIGINT)
             AS ndcg_bp
    FROM gains g JOIN ideal i ON g.query_id = i.query_id
    """,
)
def q_ann_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-quality certification of the IVF-ANN path: nDCG@{NDCG_K}
    of the cell-restricted ranking against the exact brute-force
    ranking (binary relevance = membership in the exact top-{NDCG_K}).
    Extends `ann_recall_audit` (set overlap) with POSITION-aware
    quality: an ANN list that finds the right neighbors in the wrong
    order now loses score.

    Plan: both rankings are per-query windows over their candidate
    sets (broadcast query side; the approximate side only ever scans
    the query's cell — the 100 TB path), relevance is one equi-join of
    two ≤ queries·k relations, and the discount weights are inlined
    integer literals — no log evaluated in-engine."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("qv"),
    )
    exact = topk_per_query(
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
        ),
        NDCG_K,
    ).select("query_id", "neighbor_id", "rnk")
    approx = topk_per_query(
        emb.join(
            F.broadcast(q),
            (F.col("label") == F.col("cell"))
            & (F.col("vec_id") != F.col("query_id")),
        ).select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
        ),
        NDCG_K,
    ).select("query_id", "neighbor_id", "rnk")
    w_expr = F.expr(
        "CASE rnk "
        + " ".join(f"WHEN {i} THEN {w}" for i, w in NDCG_W.items())
        + " END"
    )
    hit = exact.select(
        F.col("query_id").alias("x_qid"),
        F.col("neighbor_id").alias("x_nid"),
    )
    gains = (
        approx.join(
            hit,
            (F.col("query_id") == F.col("x_qid"))
            & (F.col("neighbor_id") == F.col("x_nid")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("x_nid").isNotNull(), w_expr).otherwise(0)
            )
            .cast("long")
            .alias("dcg_e6"),
            F.sum(F.when(F.col("x_nid").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_relevant"),
        )
    )
    ideal = exact.groupBy("query_id").agg(
        F.sum(w_expr).cast("long").alias("idcg_e6")
    )
    return (
        gains.join(ideal, "query_id")
        .select(
            "query_id",
            "n_relevant",
            "dcg_e6",
            "idcg_e6",
            F.expr(
                "CAST(CAST(dcg_e6 AS DECIMAL(38,0)) * 10000"
                " DIV idcg_e6 AS BIGINT)"
            ).alias("ndcg_bp"),
        )
    )


@query(
    "embedding_int8_quant_audit",
    oracle="""
    WITH ev AS MATERIALIZED (
      SELECT i, CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT) AS v_u
      FROM embeddings,
           unnest(generate_series(1, len(embedding))) AS t(i)
    ), rng AS MATERIALIZED (
      SELECT i, CAST(min(v_u) AS BIGINT) AS min_u,
             CAST(max(v_u) AS BIGINT) AS max_u
      FROM ev GROUP BY i
    ), coded AS (
      SELECT ev.i, ev.v_u, rng.min_u, rng.max_u,
             CASE WHEN rng.max_u = rng.min_u THEN 0
                  ELSE CAST((ev.v_u - rng.min_u) * 255
                            // (rng.max_u - rng.min_u) AS BIGINT)
             END AS code
      FROM ev JOIN rng USING (i)
    ), err AS (
      SELECT i, min_u, max_u,
             abs(v_u - (min_u + code * (max_u - min_u) // 255)) AS e
      FROM coded
    )
    SELECT CAST(i AS INTEGER) AS dim, min_u, max_u,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(e) // count(*) AS BIGINT) AS mean_abs_err_u,
           CAST(max(e) AS BIGINT) AS max_err_u
    FROM err GROUP BY i, min_u, max_u
    """,
)
def q_embedding_int8_quant_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization audit: per dimension, quantize every
    value to the 0..255 code grid over the dimension's observed
    [min, max] range and report the exact reconstruction error — the
    accuracy/size trade a serving stack verifies before shipping
    int8 vectors (4× smaller than float32). All arithmetic in integer
    micro-units: v_u = ⌊v·10⁶⌋ (floor toward −∞, identical on both
    engines), code = (v_u−min_u)·255 ⫽ span (non-negative numerator,
    so truncation ≡ floor), dequant on the same grid — mean/max
    absolute error per dimension with no float comparison anywhere.
    Degenerate constant dimensions (span 0) code to 0 with zero error.

    Plan: one posexplode pass to (dim, value) pairs, a ≤|dims|-row
    min/max aggregate joined back (broadcast by size), and a ≤|dims|-
    row error aggregate — two linear passes, state bounded by the
    dimension count, the exact shape a 100 TB vector corpus needs."""
    emb = table(spark, sf_dir, "embeddings")
    ev = emb.select(
        F.posexplode("embedding").alias("pos", "v")
    ).select(
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("v").cast("double") * 1_000_000.0)
        .cast("long")
        .alias("v_u"),
    )
    rng = ev.groupBy("i").agg(
        F.min("v_u").cast("long").alias("min_u"),
        F.max("v_u").cast("long").alias("max_u"),
    )
    coded = ev.join(F.broadcast(rng), "i").select(
        "i",
        "v_u",
        "min_u",
        "max_u",
        F.when(F.col("max_u") == F.col("min_u"), F.lit(0).cast("long"))
        .otherwise(
            F.expr("CAST((v_u - min_u) * 255 DIV (max_u - min_u) AS BIGINT)")
        )
        .alias("code"),
    )
    err = coded.select(
        "i",
        "min_u",
        "max_u",
        F.expr("abs(v_u - (min_u + code * (max_u - min_u) DIV 255))").alias("e"),
    )
    return err.groupBy(
        F.col("i").cast("int").alias("dim"), "min_u", "max_u"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr("CAST(sum(e) DIV count(*) AS BIGINT)").alias("mean_abs_err_u"),
        F.max("e").cast("long").alias("max_err_u"),
    )


#: Radius (cosine micro-units) for range search: ~the top 0.05% of
#: query-corpus cosines in the harness embedding space, so the result
#: set is small-but-real at every SF.
RANGE_COS_U = 250_000


@query(
    "ann_range_search",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    )
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {_sql_cos_u('q.qv', 'e.embedding')} AS cos_u
    FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    WHERE {_sql_cos_u('q.qv', 'e.embedding')} >= {RANGE_COS_U}
    """,
)
def q_ann_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) similarity search: ALL neighbors within a cosine
    threshold of each query — the other half of the ANN API surface
    (top-k answers "the best k", range search answers "everything this
    similar", the primitive behind near-dup blocking and density
    estimation).

    Plan: broadcast the bounded query set, stream the corpus through
    one JVM-codegen cosine fold per (query, vector) pair, filter on the
    integer threshold — no shuffle at all after the scan (the output
    IS the filtered stream; no window, no sort). At 100 TB the
    broadcast-queries × corpus-stream shape is exactly how a scoring
    pass over a sharded vector store runs; the IVF-cell variant of the
    same predicate is `embedding_near_dup`'s cell-blocked join."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    return (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
        )
        .filter(F.col("cos_u") >= RANGE_COS_U)
    )


# --- MMR diversified selection ----------------------------------------------

#: MMR pool size, selection count, and relevance/diversity trade-off
#: λ = MMR_LAM_NUM/MMR_LAM_DEN (0.7 — the common default).
MMR_POOL = 20
MMR_K = 5
MMR_LAM_NUM, MMR_LAM_DEN = 7, 10
MMR_QUERY_VEC = 0


def _mmr_sql() -> str:
    """Unrolled {MMR_K}-round greedy MMR in DuckDB CTEs (each round:
    anti-join selected, max-sim-to-selected, argmax of the weighted
    integer score 7·rel − 3·maxsim, ties by doc_id)."""
    q = f"(SELECT embedding FROM embeddings WHERE vec_id = {MMR_QUERY_VEC})"
    head = f"""
    WITH pool AS MATERIALIZED (
      SELECT vec_id AS doc_id, embedding AS v,
             {_sql_cos_u(q, 'embedding')} AS rel_u
      FROM embeddings WHERE vec_id <> {MMR_QUERY_VEC}
      ORDER BY rel_u DESC, vec_id LIMIT {MMR_POOL}
    ), sim AS MATERIALIZED (
      SELECT a.doc_id AS da, b.doc_id AS db, {_sql_cos_u('a.v', 'b.v')} AS s
      FROM pool a JOIN pool b ON a.doc_id <> b.doc_id
    ), s1 AS MATERIALIZED (
      SELECT doc_id, rel_u,
             CAST({MMR_LAM_NUM} * rel_u AS BIGINT) AS mmr_w{MMR_LAM_DEN}_u,
             1 AS sel_rank
      FROM pool ORDER BY rel_u DESC, doc_id LIMIT 1
    )"""
    parts = [head]
    prev_sels = "SELECT doc_id FROM s1"
    for i in range(2, MMR_K + 1):
        parts.append(f""", c{i} AS (
      SELECT p.doc_id, p.rel_u, max(sim.s) AS maxsim
      FROM pool p JOIN sim ON sim.da = p.doc_id
                          AND sim.db IN ({prev_sels})
      WHERE p.doc_id NOT IN ({prev_sels})
      GROUP BY p.doc_id, p.rel_u
    ), s{i} AS MATERIALIZED (
      SELECT doc_id, rel_u,
             CAST({MMR_LAM_NUM} * rel_u
                  - {MMR_LAM_DEN - MMR_LAM_NUM} * maxsim AS BIGINT)
               AS mmr_w{MMR_LAM_DEN}_u,
             {i} AS sel_rank
      FROM c{i}
      ORDER BY {MMR_LAM_NUM} * rel_u
               - {MMR_LAM_DEN - MMR_LAM_NUM} * maxsim DESC, doc_id
      LIMIT 1
    )""")
        prev_sels += f" UNION ALL SELECT doc_id FROM s{i}"
    union = " UNION ALL ".join(
        f"SELECT doc_id, rel_u, mmr_w{MMR_LAM_DEN}_u, sel_rank FROM s{i}"
        for i in range(1, MMR_K + 1)
    )
    return "".join(parts) + "\n    " + union


@query("similarity_mmr_select", oracle=_mmr_sql())
def q_similarity_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: greedily pick {MMR_K} results from
    the top-{MMR_POOL} cosine pool, each round maximizing
    λ·relevance − (1−λ)·max-similarity-to-already-selected (λ = 0.7)
    — the standard diversified-retrieval re-rank, used in data
    pipelines to pick varied exemplars instead of {MMR_K} near-copies.
    The score column is the exact integer 7·rel_u − 3·maxsim_u (scale
    ×10 — monotone in MMR, no division).

    Plan: pool selection is TakeOrderedAndProject over the scored
    stream (distributed top-k, no global sort); everything after runs
    on LIMIT-bounded relations (pool {MMR_POOL} rows, sim ≤
    {MMR_POOL}² rows), so the {MMR_K}-round greedy unrolls as pure
    DataFrame ops — anti-join, max-aggregate, 1-row TakeOrdered per
    round — with NO driver collect and no unbounded window. At 100 TB
    only the pool stage touches the corpus.

    The pool/sim caches are deliberately NOT unpersisted here (contrast
    `graph_resource_allocation`, which uncaches its sizing relation):
    the returned plan references them in every greedy round, so they
    must live until the caller evaluates, and they are LIMIT-bounded
    (≤ {MMR_POOL} + {MMR_POOL}² rows) — repeated constructions dedupe
    to the same CacheManager entry by plan equality, so session cache
    growth is bounded by the handful of distinct sf_dirs used."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == MMR_QUERY_VEC).select(
        F.col("embedding").alias("qv")
    )
    pool = (
        emb.filter(F.col("vec_id") != MMR_QUERY_VEC)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").alias("v"),
            cosine_u(F.col("qv"), F.col("embedding")).alias("rel_u"),
        )
        .orderBy(F.col("rel_u").desc(), F.col("doc_id"))
        .limit(MMR_POOL)
        .cache()
    )
    a, b = pool.alias("a"), pool.alias("b")
    sim = (
        a.join(b, F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("da"),
            F.col("b.doc_id").alias("db"),
            cosine_u(F.col("a.v"), F.col("b.v")).alias("s"),
        )
        .cache()
    )
    lam, dam = MMR_LAM_NUM, MMR_LAM_DEN - MMR_LAM_NUM
    score_col = f"mmr_w{MMR_LAM_DEN}_u"
    # Each greedy round is localCheckpoint'd (1 row): `out` is referenced
    # TWICE per round (anti-join + selected-set join), so the unrolled
    # plan doubled per round — ~2^MMR_K copies of the early rounds to
    # plan and execute (measured 4.6-8.7 s per run at sf0.01, almost all
    # Catalyst planning + duplicated tiny jobs). Checkpointing cuts the
    # lineage to one 1-row RDD per round — the same pattern as the
    # PageRank/Markov fixed-point builders.
    sel = (
        pool.orderBy(F.col("rel_u").desc(), F.col("doc_id"))
        .limit(1)
        .select(
            "doc_id",
            "rel_u",
            (F.lit(lam) * F.col("rel_u")).cast("long").alias(score_col),
            F.lit(1).alias("sel_rank"),
        )
        .localCheckpoint()
    )
    out = sel
    for i in range(2, MMR_K + 1):
        chosen = out.select("doc_id")
        cand = (
            pool.join(chosen.withColumnRenamed("doc_id", "dc"), F.col("doc_id") == F.col("dc"), "left_anti")
            .join(sim, F.col("da") == F.col("doc_id"))
            .join(
                chosen.withColumnRenamed("doc_id", "dsel"),
                F.col("db") == F.col("dsel"),
            )
            .groupBy("doc_id", "rel_u")
            .agg(F.max("s").alias("maxsim"))
        )
        nxt = (
            cand.withColumn(
                score_col,
                (F.lit(lam) * F.col("rel_u") - F.lit(dam) * F.col("maxsim")).cast(
                    "long"
                ),
            )
            .orderBy(F.col(score_col).desc(), F.col("doc_id"))
            .limit(1)
            .select("doc_id", "rel_u", score_col, F.lit(i).alias("sel_rank"))
            .localCheckpoint()
        )
        out = out.unionAll(nxt)
    return out


#: Matryoshka-style truncation width (first dims of the 64-dim vector).
TRUNC_D = 16


@query(
    "embedding_truncation_recall",
    oracle=f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding AS qv
      FROM embeddings WHERE vec_id < {N_QUERIES}
    ), full_rk AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_cos_u('q.qv', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
      ) WHERE rnk <= {TOP_K}
    ), trunc_rk AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.query_id, e.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {_sql_cos_u(f'(q.qv)[1:{TRUNC_D}]', f'(e.embedding)[1:{TRUNC_D}]')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id <> q.query_id
      ) WHERE rnk <= {TOP_K}
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_overlap,
           CAST(count(t.neighbor_id) * 10000 // {TOP_K} AS BIGINT) AS recall_bp
    FROM full_rk f LEFT JOIN trunc_rk t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def q_embedding_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation audit: recall@{TOP_K} of searching with
    only the first {TRUNC_D} of 64 dimensions against the full-vector
    ground truth, per query — the measurement that decides whether a
    pipeline can shard/route on cheap truncated vectors (4× less
    bandwidth and memory) and re-rank with full vectors. Same in-plan
    audit pattern as `ann_recall_audit` (IVF) and
    `embedding_int8_quant_audit` (quantization); this one isolates the
    DIMENSION axis.

    Plan: both ranked lists are per-query windows over the
    broadcast-queries × corpus scored stream; the truncated fold is a
    {TRUNC_D}-element slice of the same 2-column projection (Catalyst
    plans one scan per ranked list — both pruned to vec_id+embedding);
    overlap is one equi-join of two ≤ {N_QUERIES}·{TOP_K}-row
    relations."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine_u(F.col("qv"), F.col("embedding")).alias("full_u"),
        cosine_u(
            F.slice(F.col("qv"), 1, TRUNC_D), F.slice(F.col("embedding"), 1, TRUNC_D)
        ).alias("trunc_u"),
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("full_u").desc(), F.col("neighbor_id")
    )
    wt = Window.partitionBy("query_id").orderBy(
        F.col("trunc_u").desc(), F.col("neighbor_id")
    )
    full_rk = (
        scored.withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= TOP_K)
        .select("query_id", "neighbor_id")
    )
    trunc_rk = (
        scored.withColumn("rnk", F.row_number().over(wt))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            F.col("query_id").alias("tq"), F.col("neighbor_id").alias("tn")
        )
    )
    joined = full_rk.join(
        trunc_rk,
        (F.col("tq") == F.col("query_id")) & (F.col("tn") == F.col("neighbor_id")),
        "left",
    )
    overlap = F.count(F.col("tn"))
    return joined.groupBy("query_id").agg(
        overlap.cast("long").alias("n_overlap"),
        F.expr(f"CAST(count(tn) * 10000 DIV {TOP_K} AS BIGINT)").alias("recall_bp"),
    )


# ---------------------------------------------------------------------------
# Bitext mining: mutual-nearest-neighbour pairs with additive margin.
# ---------------------------------------------------------------------------

#: Query-batch sample on the `en` side: doc_id % BITEXT_SAMPLE_MOD == 0.
BITEXT_SAMPLE_MOD = 8
#: Neighbourhood size for the margin normalizer.
BITEXT_K = 4
#: Keep pairs whose additive margin (micro-units) clears this floor.
BITEXT_MARGIN_MIN_U = 25_000


def _bitext_sql() -> str:
    return f"""
    WITH a AS MATERIALIZED (
      SELECT e.vec_id AS en_id, e.embedding AS av
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang = 'en' AND e.vec_id % {BITEXT_SAMPLE_MOD} = 0
    ), b AS MATERIALIZED (
      SELECT e.vec_id AS zh_id, e.embedding AS bv
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
      WHERE d.lang = 'zh'
    ), s AS MATERIALIZED (
      SELECT a.en_id, b.zh_id, {_sql_cos_u('a.av', 'b.bv')} AS cos_u
      FROM a, b
    ), ak AS MATERIALIZED (
      SELECT en_id,
             CAST(sum(cos_u) AS BIGINT) AS sumk_a,
             CAST(count(*) AS BIGINT) AS ka,
             CAST(max(CASE WHEN rnk = 1 THEN zh_id END) AS BIGINT) AS best_zh,
             CAST(max(CASE WHEN rnk = 1 THEN cos_u END) AS BIGINT) AS best_cos
      FROM (SELECT *, row_number() OVER (PARTITION BY en_id
                                         ORDER BY cos_u DESC, zh_id) AS rnk
            FROM s)
      WHERE rnk <= {BITEXT_K}
      GROUP BY en_id
    ), bk AS MATERIALIZED (
      SELECT zh_id,
             CAST(sum(cos_u) AS BIGINT) AS sumk_b,
             CAST(count(*) AS BIGINT) AS kb,
             CAST(max(CASE WHEN rnk = 1 THEN en_id END) AS BIGINT) AS best_en
      FROM (SELECT *, row_number() OVER (PARTITION BY zh_id
                                         ORDER BY cos_u DESC, en_id) AS rnk
            FROM s)
      WHERE rnk <= {BITEXT_K}
      GROUP BY zh_id
    )
    SELECT ak.en_id, ak.best_zh AS zh_id, ak.best_cos AS cos_u,
           CAST(ak.best_cos
                - (ak.sumk_a + bk.sumk_b) // (ak.ka + bk.kb)
                AS BIGINT) AS margin_e6
    FROM ak JOIN bk ON bk.zh_id = ak.best_zh AND bk.best_en = ak.en_id
    WHERE ak.best_cos - (ak.sumk_a + bk.sumk_b) // (ak.ka + bk.kb)
          >= {BITEXT_MARGIN_MIN_U}
    """


@query("bitext_margin_mining", oracle=_bitext_sql())
def q_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext (translation-pair) mining over the embedding space — the
    LASER/CCMatrix shape: candidate (en, zh) pairs are MUTUAL nearest
    neighbours, scored by the ADDITIVE margin cos(x,y) minus the mean
    of the two local top-K neighbourhoods (Artetxe & Schwenk's margin
    criterion; the additive variant keeps every term in integer
    micro-units — no ratio, so no float division to diverge on).

    The en side is a deterministic query batch (doc_id % 8 == 0); the
    zh side is the full candidate pool. Mutuality = each is the
    other's rank-1 neighbour; margin normalizer = mean cos over the
    UNION of the two top-K lists (exact integer `DIV`, denominator =
    actual list sizes, so short neighbourhoods at tiny SF stay exact).

    Plan: the query batch is broadcast into the scoring join (no
    shuffle grows with the pool side); both top-K passes are windows
    PARTITIONED by doc id; the mutual join touches two <=|A|+|B|-row
    aggregates. At 100 TB the pool side scales out by partition and
    the batch stays a broadcast — the same IVF-cell equi-join used by
    `ann_ivf` slots in front of this scoring when the pool no longer
    fits a per-batch broadcast sweep."""
    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    joined = emb.join(docs, emb.vec_id == docs.doc_id)
    a = joined.filter(
        (F.col("lang") == "en") & (F.col("vec_id") % BITEXT_SAMPLE_MOD == 0)
    ).select(F.col("vec_id").alias("en_id"), F.col("embedding").alias("av"))
    b = joined.filter(F.col("lang") == "zh").select(
        F.col("vec_id").alias("zh_id"), F.col("embedding").alias("bv")
    )
    s = b.join(F.broadcast(a)).select(
        "en_id", "zh_id", cosine_u(F.col("av"), F.col("bv")).alias("cos_u")
    )

    wa = Window.partitionBy("en_id").orderBy(F.col("cos_u").desc(), F.col("zh_id"))
    ak = (
        s.withColumn("rnk", F.row_number().over(wa))
        .filter(F.col("rnk") <= BITEXT_K)
        .groupBy("en_id")
        .agg(
            F.sum("cos_u").cast("long").alias("sumk_a"),
            F.count(F.lit(1)).cast("long").alias("ka"),
            F.max(F.when(F.col("rnk") == 1, F.col("zh_id")))
            .cast("long")
            .alias("best_zh"),
            F.max(F.when(F.col("rnk") == 1, F.col("cos_u")))
            .cast("long")
            .alias("best_cos"),
        )
    )
    wb = Window.partitionBy("zh_id").orderBy(F.col("cos_u").desc(), F.col("en_id"))
    bk = (
        s.withColumn("rnk", F.row_number().over(wb))
        .filter(F.col("rnk") <= BITEXT_K)
        .groupBy("zh_id")
        .agg(
            F.sum("cos_u").cast("long").alias("sumk_b"),
            F.count(F.lit(1)).cast("long").alias("kb"),
            F.max(F.when(F.col("rnk") == 1, F.col("en_id")))
            .cast("long")
            .alias("best_en"),
        )
    )
    margin = F.expr("best_cos - (sumk_a + sumk_b) DIV (ka + kb)").cast("long")
    return (
        ak.join(
            bk,
            (bk.zh_id == ak.best_zh) & (bk.best_en == ak.en_id),
        )
        .withColumn("margin_e6", margin)
        .filter(F.col("margin_e6") >= BITEXT_MARGIN_MIN_U)
        .select(
            "en_id",
            F.col("best_zh").alias("zh_id"),
            F.col("best_cos").alias("cos_u"),
            "margin_e6",
        )
    )


@query(
    "semdedup_keep_verdicts",
    oracle=f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, label, embedding,
             {sql_hash_u32('CAST(vec_id AS VARCHAR)')}
               % ((count(*) OVER (PARTITION BY label) + {EMBED_CELL_CAP - 1}) // {EMBED_CELL_CAP}) AS sub
      FROM embeddings
    ), pairs AS MATERIALIZED (
      SELECT a.vec_id AS lo, b.vec_id AS hi,
             {_sql_cos_u('a.embedding', 'b.embedding')} AS cos_u
      FROM c a
      JOIN c b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE {_sql_cos_u('a.embedding', 'b.embedding')} >= {NEAR_DUP_COS_U}
    ), members AS (
      SELECT lo AS vec_id FROM pairs UNION SELECT hi FROM pairs
    )
    SELECT m.vec_id,
           CAST(count(p.lo) AS BIGINT) AS n_dup_lower,
           CAST(COALESCE(max(p.cos_u), 0) AS BIGINT) AS max_cos_u_lower,
           count(p.lo) = 0 AS keep
    FROM members m
    LEFT JOIN pairs p ON p.hi = m.vec_id
    GROUP BY m.vec_id
    """,
)
def q_semdedup_keep_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style greedy keep/drop verdicts (Abbas et al., 2023,
    arXiv:2303.09540): within each quantizer cell, a document is
    DROPPED when its cosine to any LOWER-ID document of the same cell
    exceeds the near-dup threshold — i.e. each semantic-duplicate
    group keeps exactly its lowest-id member, the paper's
    "keep one random representative per cluster-dup group" rule made
    deterministic. Verdicts are emitted for every doc that appears in
    at least one near-dup pair (docs in no pair are trivially kept).

    Relation to `embedding_dedup_clusters`: that query materializes
    the full transitive clusters; this one is the per-doc keep gate a
    pipeline actually applies (no transitive closure needed — the
    greedy rule is a pure pair aggregate, one round, no iteration).

    Plan: the capped cell self-join from `embedding_near_dup`
    generates candidate pairs (never corpus x corpus); each pair then
    explodes into its two member rows (the hi side carrying the
    duplicate evidence, the lo side carrying none) and ONE
    hash-aggregate keyed by vec_id produces every verdict. The pair
    relation — the expensive part, it carries the cosine fold — is
    computed exactly once and shuffled exactly once; the previous
    members-distinct + left-join formulation recomputed it twice and
    paid three shuffles (the round-8 DuckDB anchor flagged this row as
    the only heavy query over 2x the oracle engine; this rewrite is
    the fix). ≤2·|pairs| intermediate rows, same as before."""
    pairs = near_dup_pairs_cell_capped(table(spark, sf_dir, "embeddings")).select(
        F.col("vec_a").alias("lo"), F.col("vec_b").alias("hi"), "cos_u"
    )
    sides = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lo").alias("vec_id"),
                    F.lit(0).alias("is_hi"),
                    F.lit(0).cast("long").alias("cos_u"),
                ),
                F.struct(
                    F.col("hi").alias("vec_id"),
                    F.lit(1).alias("is_hi"),
                    F.col("cos_u").alias("cos_u"),
                ),
            )
        ).alias("s")
    ).select("s.*")
    return sides.groupBy("vec_id").agg(
        F.sum("is_hi").cast("long").alias("n_dup_lower"),
        F.coalesce(
            F.max(F.when(F.col("is_hi") == 1, F.col("cos_u"))), F.lit(0)
        )
        .cast("long")
        .alias("max_cos_u_lower"),
        (F.sum("is_hi") == 0).alias("keep"),
    )


#: QA-sample stratification: cosine-decile bucket width (µ-units) and
#: pairs drawn per bucket.
QA_BUCKET_U = 25_000
QA_PER_BUCKET = 2


#: Canonical portable hash for the QA draw — same single-source idiom
#: as every other oracle (never re-inline first-8-hex-of-md5).
_QA_HASH_SQL = sql_hash_u32(
    "CAST(vec_a AS VARCHAR) || '_' || CAST(vec_b AS VARCHAR)", "qa"
)


@query(
    "dedup_qa_sample",
    oracle=f"""
    WITH c AS MATERIALIZED (
      SELECT vec_id, label, embedding,
             {sql_hash_u32('CAST(vec_id AS VARCHAR)')}
               % ((count(*) OVER (PARTITION BY label) + {EMBED_CELL_CAP - 1}) // {EMBED_CELL_CAP}) AS sub
      FROM embeddings
    ), pairs AS MATERIALIZED (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_sql_cos_u('a.embedding', 'b.embedding')} AS cos_u
      FROM c a
      JOIN c b ON a.label = b.label AND a.sub = b.sub AND a.vec_id < b.vec_id
      WHERE {_sql_cos_u('a.embedding', 'b.embedding')} >= {NEAR_DUP_COS_U}
    ), strat AS (
      SELECT vec_a, vec_b, cos_u,
             cos_u // {QA_BUCKET_U} AS bucket,
             {_QA_HASH_SQL} AS h
      FROM pairs
    )
    SELECT bucket, vec_a, vec_b, cos_u, rn FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY bucket
                                        ORDER BY h, vec_a, vec_b) AS INTEGER) AS rn
      FROM strat
    ) WHERE rn <= {QA_PER_BUCKET}
    """,
)
def q_dedup_qa_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified audit sample of near-duplicate pairs for human QA:
    candidate pairs are bucketed by cosine band ({QA_BUCKET_U} µ wide)
    and each band contributes its {QA_PER_BUCKET} hash-smallest pairs
    — the reviewer sees the whole similarity spectrum (borderline
    bands are where threshold errors live) instead of a top-k that
    only samples the easy high-cosine end. The hash draw makes the
    sample reproducible run-over-run — re-audits see the same pairs.

    Plan: pair generation is the capped cell self-join
    (`embedding_near_dup`); stratification adds one integer division
    and a window PARTITIONED BY BUCKET (≤ 1e6/{QA_BUCKET_U} groups,
    each cut to {QA_PER_BUCKET} rows). Output is ≤ 40·{QA_PER_BUCKET}
    rows no matter the corpus size."""
    pairs = near_dup_pairs_cell_capped(table(spark, sf_dir, "embeddings"))

    strat = pairs.select(
        "vec_a",
        "vec_b",
        "cos_u",
        F.expr(f"cos_u DIV {QA_BUCKET_U}").alias("bucket"),
        hash_u32(
            F.concat_ws("_", F.col("vec_a"), F.col("vec_b")), "qa"
        ).alias("h"),
    )
    w = Window.partitionBy("bucket").orderBy("h", "vec_a", "vec_b")
    return (
        strat.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= QA_PER_BUCKET)
        .select("bucket", "vec_a", "vec_b", "cos_u", "rn")
    )


#: kNN-classifier audit: deterministic bounded query draw (residue
#: gate + absolute cap keeps the broadcast fixed-size at any corpus).
KNN_QMOD = 7
KNN_QCAP = 1000
#: Neighbors voting per query.
KNN_K = 5


@query(
    "knn_classifier_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS qv, label AS true_label
      FROM embeddings
      WHERE vec_id % {KNN_QMOD} = 0 AND vec_id < {KNN_QCAP}
    ), scored AS (
      SELECT q.query_id, q.true_label, e.label AS nb_label,
             e.vec_id AS neighbor_id,
             {_sql_cos_u('q.qv', 'e.embedding')} AS cos_u
      FROM q JOIN embeddings e ON e.vec_id <> q.query_id
    ), topk AS MATERIALIZED (
      SELECT query_id, true_label, nb_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos_u DESC, neighbor_id) AS rnk
        FROM scored
      ) WHERE rnk <= {KNN_K}
    ), votes AS (
      SELECT query_id, true_label, nb_label,
             CAST(count(*) AS BIGINT) AS cnt
      FROM topk GROUP BY 1, 2, 3
    ), pred AS MATERIALIZED (
      SELECT query_id, true_label, nb_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cnt DESC, nb_label) AS vr
        FROM votes
      ) WHERE vr = 1
    ), cm AS (
      SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_queries
      FROM pred GROUP BY 1, 2
    )
    SELECT true_label, pred_label, n_queries,
           CAST(sum(CASE WHEN true_label = pred_label THEN n_queries
                         ELSE 0 END) OVER () * 10000
                // sum(n_queries) OVER () AS BIGINT) AS accuracy_bp
    FROM cm
    """,
)
def q_knn_classifier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN majority-vote classification of the embedding label — the
    cluster-coherence audit behind every "label your corpus by nearest
    neighbors" workflow: a held-out query's {KNN_K} nearest vectors
    vote (plurality, ties to the smallest label) and the confusion
    matrix plus global accuracy say whether the embedding space
    actually separates the labels ANN-side ops assume it does (IVF
    probes, SemDeDup cells, contrastive sampling all lean on it).

    Plan: the query draw is residue-gated AND absolutely capped
    ({KNN_QCAP}), so the broadcast stays fixed-size at any corpus; the
    scan side is one pass with the salted per-query top-k window
    (partitioned by query — bounded); votes and the confusion are
    ≤|Q|·{KNN_K} and ≤|labels|² aggregates; the accuracy window runs
    over the aggregated confusion rows (bounded-window class)."""
    emb = table(spark, sf_dir, "embeddings")
    q = emb.filter(
        (F.col("vec_id") % KNN_QMOD == 0) & (F.col("vec_id") < KNN_QCAP)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qv"),
        F.col("label").alias("true_label"),
    )
    scored = emb.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        "true_label",
        F.col("label").alias("nb_label"),
        F.col("vec_id").alias("neighbor_id"),
        cosine_u(F.col("qv"), F.col("embedding")).alias("cos_u"),
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cos_u").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= KNN_K)
        .select("query_id", "true_label", "nb_label")
    )
    votes = topk.groupBy("query_id", "true_label", "nb_label").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.col("cnt").desc(), F.col("nb_label")
    )
    pred = (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select("query_id", "true_label", F.col("nb_label").alias("pred_label"))
    )
    cm = pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    return cm.select(
        "true_label",
        "pred_label",
        "n_queries",
        F.expr(
            "CAST(sum(CASE WHEN true_label = pred_label THEN n_queries"
            "              ELSE 0 END) OVER () * 10000"
            "     DIV sum(n_queries) OVER () AS BIGINT)"
        ).alias("accuracy_bp"),
    )


#: Rocchio centroid quantization scale (embedding components in µ-units
#: so centroids and distances are exact integers).
ROCCHIO_Q = 1_000_000


@query(
    "rocchio_centroid_classifier",
    oracle=f"""
    WITH qv AS (
      SELECT vec_id, label,
             list_transform(embedding,
                            x -> CAST(floor(CAST(x AS DOUBLE) * {ROCCHIO_Q})
                                      AS BIGINT)) AS q
      FROM embeddings
    ), dims AS (
      SELECT vec_id, label, unnest(q) AS qx,
             generate_subscripts(q, 1) AS dim
      FROM qv
    ), cent AS MATERIALIZED (
      -- floor-division via a positive shift: components are >= -16
      -- after quantization, so qx + 16e6 >= 0 keeps the single
      -- division on a non-negative numerator (DuckDB // floors,
      -- Spark DIV truncates — they agree only there), and the shift
      -- cancels exactly because n * 16e6 is divisible by n
      SELECT label AS c_label, dim,
             CAST(sum(qx + {16 * ROCCHIO_Q}) // count(*)
                  - {16 * ROCCHIO_Q} AS BIGINT) AS c
      FROM dims GROUP BY label, dim
    ), probe AS (
      SELECT vec_id, label AS true_label, dim, qx
      FROM dims
      WHERE vec_id % {KNN_QMOD} = 0 AND vec_id < {KNN_QCAP}
    ), dist AS (
      SELECT p.vec_id, p.true_label, c.c_label,
             CAST(sum((p.qx - c.c) * (p.qx - c.c)) AS BIGINT) AS d2
      FROM probe p JOIN cent c ON p.dim = c.dim
      GROUP BY 1, 2, 3
    ), pred AS MATERIALIZED (
      SELECT vec_id, true_label, c_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d2, c_label) AS rn
        FROM dist
      ) WHERE rn = 1
    ), cm AS (
      SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n_queries
      FROM pred GROUP BY 1, 2
    )
    SELECT true_label, pred_label, n_queries,
           CAST(sum(CASE WHEN true_label = pred_label THEN n_queries
                         ELSE 0 END) OVER () * 10000
                // sum(n_queries) OVER () AS BIGINT) AS accuracy_bp
    FROM cm
    """,
)
def q_rocchio_centroid_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid (Rocchio) classification of the embedding label
    — the O(|labels|) companion to `knn_classifier_audit`'s O(n)
    vote: per-label centroids in EXACT integer µ-units (floor-quantized
    components, truncating integer mean — float means would be
    partitioning-order-dependent), held-out probes assigned to the
    argmin squared-distance centroid (ties to the smallest label).
    Agreement between the two classifiers is the standard check that
    the label clusters are convex enough for centroid shortcuts (IVF
    coarse quantizers are exactly nearest-centroid assignment).

    Plan: the centroid build is the 100 TB-shaped stage — one
    (label, dim) hash-agg with map-side partials over the exploded
    components (sums ≤ 10¹²·10⁶ stay in BIGINT); probes are the same
    residue-gated, absolutely-capped draw as the kNN audit; the
    distance join fans each probe component out by ≤|labels| via the
    bounded centroid relation, and every window runs per-probe or over
    the aggregated confusion (bounded-window class)."""
    emb = table(spark, sf_dir, "embeddings")
    qv = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * ROCCHIO_Q).cast("long"),
        ).alias("q"),
    )
    dims = qv.select(
        "vec_id", "label", F.posexplode("q").alias("dim0", "qx")
    ).select("vec_id", "label", (F.col("dim0") + 1).alias("dim"), "qx")
    # shifted floor-division — see the oracle comment: DIV truncates
    # toward zero while the oracle's // floors, so the numerator must
    # stay non-negative for the two to agree on negative-mean dims
    cent = dims.groupBy(F.col("label").alias("c_label"), "dim").agg(
        F.expr(
            f"CAST(sum(qx + {16 * ROCCHIO_Q}) DIV count(*)"
            f" - {16 * ROCCHIO_Q} AS BIGINT)"
        ).alias("c")
    )
    probe = dims.filter(
        (F.col("vec_id") % KNN_QMOD == 0) & (F.col("vec_id") < KNN_QCAP)
    ).select("vec_id", F.col("label").alias("true_label"), "dim", "qx")
    dist = (
        probe.join(cent, "dim")
        .groupBy("vec_id", "true_label", "c_label")
        .agg(
            F.sum((F.col("qx") - F.col("c")) * (F.col("qx") - F.col("c")))
            .cast("long")
            .alias("d2")
        )
    )
    wv = Window.partitionBy("vec_id").orderBy("d2", "c_label")
    pred = (
        dist.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    cm = pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_queries")
    )
    return cm.select(
        "true_label",
        "pred_label",
        "n_queries",
        F.expr(
            "CAST(sum(CASE WHEN true_label = pred_label THEN n_queries"
            "              ELSE 0 END) OVER () * 10000"
            "     DIV sum(n_queries) OVER () AS BIGINT)"
        ).alias("accuracy_bp"),
    )
