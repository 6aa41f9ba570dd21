"""Distributed probabilistic-filter construction with an exact oracle:
a Bloom filter built as a relational aggregate, then probed and scored
against ground truth in-plan.

The portable-hash trick from the dedup family (md5-derived uint32,
`workload/dedup.py`) makes the filter bit-for-bit reproducible on both
engines, so even this "probabilistic" structure is differentially
testable: same keys → same bit positions → same words → same
false-positive set.

Words are 32 bits wide (not 64) because DuckDB raises on `1::BIGINT
<< 63` (overflow) while Spark wraps — 32-bit masks keep every shift
well inside BIGINT range on both engines.

Scale notes (100 TB):
- The build is explode(K positions) → groupBy(word) → bit_or: shuffle
  carries (word, partial mask) pairs — at most BLOOM_BITS/32 rows
  survive per partition regardless of input size (map-side bit_or
  partials), so the filter materializes in O(filter size), not O(keys).
- The probe is an equi-join on word index against the tiny filter
  relation (broadcast by size), then an all-bits-set per-key check —
  the exact shape a join-pruning bloom pushdown uses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
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

#: Filter geometry: 1024 bits as 32 × 32-bit words; 3 hash functions.
BLOOM_BITS = 1024
WORD_BITS = 32
BLOOM_K = 3

#: Build-side membership predicate: customers in nations 0..4.
MEMBER_NATION_LT = 5


def _pos(key: Column, j: int) -> Column:
    """j-th bit position of a key: md5-derived uint32 % BLOOM_BITS."""
    return hash_u32(key.cast("string"), f"bl{j}_") % BLOOM_BITS


def _sql_pos(key: str, j: int) -> str:
    return (
        f"({sql_hash_u32(f'CAST({key} AS VARCHAR)', f'bl{j}_')}"
        f" % {BLOOM_BITS})"
    )


_BUILD_SQL = f"""
    SELECT CAST(p // {WORD_BITS} AS BIGINT) AS word_idx,
           CAST(bit_or(CAST(1 AS BIGINT) << CAST(p % {WORD_BITS} AS INTEGER))
                AS BIGINT) AS bits
    FROM (
      SELECT unnest([{', '.join(_sql_pos('c_custkey', j) for j in range(BLOOM_K))}]) AS p
      FROM customer WHERE c_nationkey < {MEMBER_NATION_LT}
    )
    GROUP BY 1
"""


def _bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") < MEMBER_NATION_LT
    )
    key = F.col("c_custkey")
    pos = cust.select(
        F.explode(F.array(*[_pos(key, j) for j in range(BLOOM_K)])).alias("p")
    )
    return (
        pos.select(
            (F.col("p") / WORD_BITS).cast("long").alias("word_idx"),
            # F.shiftleft only accepts a literal shift amount; expr()
            # reaches the variable-shift form of the same JVM function.
            F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT))").alias("m"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("m").cast("long").alias("bits"))
    )


def _bloom_verdicts(filt: DataFrame, probes: DataFrame) -> DataFrame:
    """(key, maybe) verdict per probe key: all K bit positions set in
    the filter relation. Shared by the probe-scoring query and the
    join-pruning query."""
    key = F.col("key")
    expanded = probes.select(
        "key", F.explode(F.array(*[_pos(key, j) for j in range(BLOOM_K)])).alias("p")
    )
    mask = F.expr(f"shiftleft(CAST(1 AS BIGINT), CAST(p % {WORD_BITS} AS INT))")
    hits = (
        expanded.withColumn("word_idx", (F.col("p") / WORD_BITS).cast("long"))
        .join(F.broadcast(filt), "word_idx", "left")
        .select(
            "key",
            F.when(
                F.col("bits").isNotNull() & ((F.col("bits").bitwiseAND(mask)) == mask), 1
            )
            .otherwise(0)
            .alias("hit"),
        )
    )
    return hits.groupBy("key").agg(
        F.when(F.sum("hit") == BLOOM_K, 1).otherwise(0).alias("maybe")
    )


@query("bloom_build", oracle=_BUILD_SQL)
def q_bloom_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a {BLOOM_BITS}-bit Bloom filter of the member-customer key
    set as a relational aggregate: K={BLOOM_K} portable hash positions
    per key, exploded and bit_or-folded into {BLOOM_BITS // WORD_BITS}
    words. Deterministic hashes make the filter itself oracle-exact."""
    return _bloom_build(spark, sf_dir)


@query(
    "bloom_probe_stats",
    oracle=f"""
    WITH filt AS ({_BUILD_SQL}),
    probes AS (SELECT DISTINCT o_custkey AS key FROM orders),
    expanded AS (
      SELECT key, u.j,
             CASE u.j {' '.join(f"WHEN {j} THEN {_sql_pos('key', j)}" for j in range(BLOOM_K))} END AS p
      FROM probes, unnest(generate_series(0, {BLOOM_K - 1})) AS u(j)
    ),
    hits AS (
      SELECT e.key,
             CASE WHEN f.bits IS NOT NULL
                       AND (f.bits & (CAST(1 AS BIGINT) << CAST(e.p % {WORD_BITS} AS INTEGER)))
                           = (CAST(1 AS BIGINT) << CAST(e.p % {WORD_BITS} AS INTEGER))
                  THEN 1 ELSE 0 END AS hit
      FROM expanded e LEFT JOIN filt f ON e.p // {WORD_BITS} = f.word_idx
    ),
    verdicts AS (
      SELECT key, CASE WHEN sum(hit) = {BLOOM_K} THEN 1 ELSE 0 END AS maybe
      FROM hits GROUP BY key
    ),
    truth AS (
      SELECT v.key, v.maybe,
             CASE WHEN c.c_nationkey < {MEMBER_NATION_LT} THEN 1 ELSE 0 END AS is_member
      FROM verdicts v JOIN customer c ON v.key = c.c_custkey
    )
    SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(maybe) AS BIGINT) AS n_maybe,
           CAST(sum(is_member) AS BIGINT) AS n_true,
           CAST(sum(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_pos,
           CAST(sum(CASE WHEN maybe = 0 AND is_member = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_false_neg,
           CAST(floor(sum(CASE WHEN maybe = 1 AND is_member = 0 THEN 1 ELSE 0 END)
                      * 10000.0
                      / nullif(count(*) - sum(is_member), 0)) AS BIGINT) AS fp_bp
    FROM truth
    """,
)
def q_bloom_probe_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe every distinct order customer key against the built filter
    and score it against exact ground truth in the same plan: probe
    count, maybe-count, true members, false positives (rate in bp) and
    false negatives (provably 0 — asserted by the oracle match).

    Plan: probes explode to K (key, position) rows, equi-join the
    {BLOOM_BITS // WORD_BITS}-word filter (broadcast by size), reduce
    to an all-bits-set verdict per key, join truth, aggregate once."""
    filt = _bloom_build(spark, sf_dir)
    probes = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("key")
    ).distinct()
    verdicts = _bloom_verdicts(filt, probes)
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        F.when(F.col("c_nationkey") < MEMBER_NATION_LT, 1).otherwise(0).alias("is_member"),
    )
    truth = verdicts.join(cust, "key")
    fp = F.sum(F.when((F.col("maybe") == 1) & (F.col("is_member") == 0), 1).otherwise(0))
    return truth.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("maybe").cast("long").alias("n_maybe"),
        F.sum("is_member").cast("long").alias("n_true"),
        fp.cast("long").alias("n_false_pos"),
        F.sum(F.when((F.col("maybe") == 0) & (F.col("is_member") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_false_neg"),
        F.floor(
            fp * 10000.0
            / F.nullif(F.count(F.lit(1)) - F.sum("is_member"), F.lit(0))
        )
        .cast("long")
        .alias("fp_bp"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

#: CMS geometry: 3 rows x 1024 counters.
CMS_D = 3
CMS_W = 1024

#: Heavy hitters reported (exact top terms by frequency).
CMS_TOPK = 20


def _cms_bucket(term: Column, j: int) -> Column:
    """Row-j counter index of a term (portable md5-u32 % CMS_W)."""
    return hash_u32(term, f"cm{j}_") % CMS_W


def _sql_cms_bucket(expr: str, j: int) -> str:
    return f"({sql_hash_u32(expr, f'cm{j}_')} % {CMS_W})"


_CMS_SQL = f"""
    WITH toks AS (
      SELECT unnest({sql_tokens('text')}) AS term FROM documents
    ), n AS (
      SELECT CAST(count(*) AS BIGINT) AS total FROM toks
    ), exact AS (
      SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt FROM toks
      GROUP BY term ORDER BY exact_cnt DESC, term LIMIT {CMS_TOPK}
    ), cnt AS (
      SELECT j, b, CAST(count(*) AS BIGINT) AS c FROM (
        {' UNION ALL '.join(
            f"SELECT {j} AS j, {_sql_cms_bucket('term', j)} AS b FROM toks"
            for j in range(CMS_D)
        )}
      ) GROUP BY j, b
    ), probe AS (
      SELECT e.term, e.exact_cnt, p.j,
             CASE p.j {' '.join(
                f"WHEN {j} THEN {_sql_cms_bucket('e.term', j)}"
                for j in range(CMS_D)
             )} END AS b
      FROM exact e, (SELECT unnest([{', '.join(str(j) for j in range(CMS_D))}]) AS j) p
    ), est AS (
      SELECT probe.term, probe.exact_cnt,
             CAST(min(c) AS BIGINT) AS cms_estimate
      FROM probe JOIN cnt USING (j, b) GROUP BY 1, 2
    )
    SELECT term, exact_cnt, cms_estimate,
           CAST(cms_estimate - exact_cnt AS BIGINT) AS overcount,
           CAST(cms_estimate - exact_cnt AS HUGEINT) * {CMS_W}
             <= 2 * CAST(n.total AS HUGEINT) AS within_bound
    FROM est, n
"""


@query("cms_heavy_hitters", oracle=_CMS_SQL)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy hitters, certified in-plan against exact
    counts (the `ann_recall_audit` methodology applied to the third
    sketch family next to Bloom and HLL): build a {CMS_D}x{CMS_W}
    counter grid over the token stream with portable md5-u32 row
    hashes, probe it for the exact top-{CMS_TOPK} terms, and report
    estimate, overcount (provably >= 0: CMS never undercounts), and
    whether each estimate sits inside the 2N/w Markov bound — every
    number exact and engine-portable, so the oracle checks the sketch
    bit-for-bit.

    Plan: counters are groupBy(row, bucket) counts — map-side
    combinable, at most {CMS_D}*{CMS_W} rows survive regardless of
    corpus size (the CMS compression guarantee, materialized
    relationally); the probe joins {CMS_TOPK}x{CMS_D} rows against
    that tiny relation. At 100 TB the counter table is still {CMS_D}x
    {CMS_W} rows — THE reason one uses a CMS."""
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tokens(F.col("text"))).alias(
            "term"
        )
    ).persist()

    total = toks.agg(F.count(F.lit(1)).cast("long").alias("total"))
    exact = (
        toks.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), F.asc("term"))
        .limit(CMS_TOPK)
    )
    counters = None
    for j in range(CMS_D):
        cj = (
            toks.select(_cms_bucket(F.col("term"), j).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
            .select(F.lit(j).alias("j"), "b", "c")
        )
        counters = cj if counters is None else counters.unionAll(cj)
    probes = exact.select(
        "term",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), _cms_bucket(F.col("term"), j).alias("b")
                    )
                    for j in range(CMS_D)
                ]
            )
        ).alias("p"),
    ).select("term", "exact_cnt", F.col("p.j").alias("j"), F.col("p.b").alias("b"))
    est = (
        probes.join(counters, ["j", "b"])
        .groupBy("term", "exact_cnt")
        .agg(F.min("c").cast("long").alias("cms_estimate"))
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    return est.crossJoin(total).select(
        "term",
        "exact_cnt",
        "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_cnt")).cast("long").alias("overcount"),
        (
            dec(F.col("cms_estimate") - F.col("exact_cnt")) * CMS_W
            <= F.lit(2).cast("decimal(38,0)") * dec(F.col("total"))
        ).alias("within_bound"),
    )


_PRUNED_JOIN_SQL = f"""
    WITH filt AS ({_BUILD_SQL}),
    keys AS (SELECT DISTINCT o_custkey AS key FROM orders),
    expanded AS (
      SELECT key, u.j,
             CASE u.j {' '.join(f"WHEN {j} THEN {_sql_pos('key', j)}" for j in range(BLOOM_K))} END AS p
      FROM keys, unnest(generate_series(0, {BLOOM_K - 1})) AS u(j)
    ),
    hits AS (
      SELECT e.key,
             CASE WHEN f.bits IS NOT NULL
                       AND (f.bits & (CAST(1 AS BIGINT) << CAST(e.p % {WORD_BITS} AS INTEGER)))
                           = (CAST(1 AS BIGINT) << CAST(e.p % {WORD_BITS} AS INTEGER))
                  THEN 1 ELSE 0 END AS hit
      FROM expanded e LEFT JOIN filt f ON e.p // {WORD_BITS} = f.word_idx
    ),
    passing AS (
      SELECT key FROM hits GROUP BY key HAVING sum(hit) = {BLOOM_K}
    ),
    pruned AS (
      SELECT o.o_custkey, o.o_totalprice FROM orders o
      JOIN passing ON o.o_custkey = passing.key
    ),
    joined AS (
      SELECT p.o_totalprice FROM pruned p
      JOIN customer c ON p.o_custkey = c.c_custkey
      WHERE c.c_nationkey < {MEMBER_NATION_LT}
    )
    SELECT
      (SELECT CAST(count(*) AS BIGINT) FROM joined) AS n_joined,
      (SELECT CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(30,2))
                   AS VARCHAR) FROM joined) AS revenue,
      (SELECT CAST(count(*) AS BIGINT) FROM orders) AS n_input,
      (SELECT CAST(count(*) AS BIGINT) FROM pruned) AS n_after_prune,
      ((SELECT count(*) FROM orders) - (SELECT count(*) FROM pruned)) * 10000
        // (SELECT count(*) FROM orders) AS pruned_bp
"""


@query("bloom_pruned_join", oracle=_PRUNED_JOIN_SQL)
def q_bloom_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime semi-join reduction: prune the FACT side (orders) with
    the member-customer Bloom filter BEFORE the join, then join exactly
    — the dynamic-filter / runtime-row-group-pruning pattern every
    warehouse uses to keep a selective dim⋈fact join from shuffling the
    whole fact table. Bloom false positives survive the prune and are
    eliminated by the exact join; false negatives cannot exist, so the
    final (count, decimal revenue) MUST equal the plain join's — which
    is exactly what the oracle asserts. `pruned_bp` records how much of
    the fact side the filter dropped pre-shuffle (the 100 TB win: only
    maybe-member rows ever enter the exchange).

    Plan: filter build is a {BLOOM_BITS // WORD_BITS}-row aggregate;
    the fact probe is an explode(K)-join against that broadcast
    relation + a per-key verdict; the surviving rows take the normal
    equi-join. At scale the verdict join is per DISTINCT key, not per
    row (done here via the keys relation), so probe cost follows key
    cardinality."""
    filt = _bloom_build(spark, sf_dir)
    orders = table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    keys = orders.select(F.col("o_custkey").alias("key")).distinct()
    passing = (
        _bloom_verdicts(filt, keys)
        .filter(F.col("maybe") == 1)
        .select(F.col("key").alias("o_custkey"))
    )
    pruned = orders.join(passing, "o_custkey", "left_semi")
    members = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < MEMBER_NATION_LT)
        .select(F.col("c_custkey").alias("o_custkey"))
    )
    joined = pruned.join(members, "o_custkey")

    agg_join = joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_joined"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(30,2)")
        .cast("string")
        .alias("revenue"),
    )
    agg_in = orders.agg(F.count(F.lit(1)).cast("long").alias("n_input"))
    agg_pruned = pruned.agg(
        F.count(F.lit(1)).cast("long").alias("n_after_prune")
    )
    return (
        agg_join.crossJoin(agg_in)
        .crossJoin(agg_pruned)
        .select(
            "n_joined",
            "revenue",
            "n_input",
            "n_after_prune",
            F.expr("((n_input - n_after_prune) * 10000) DIV n_input").alias(
                "pruned_bp"
            ),
        )
    )


#: Certification bound for the merged-HLL estimate (percent).
HLL_BOUND_PCT = 5


@query(
    "hll_merge_audit",
    oracle=f"""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_shards,
           true AS within_{HLL_BOUND_PCT}pct
    FROM events
    """,
)
def q_hll_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch architecture, certified: build one HLL sketch
    of user ids PER event-type shard (the per-partition partial a
    100 TB pipeline materializes incrementally), merge the shard
    sketches with `hll_union_agg` — never re-scanning raw data — and
    certify the merged estimate against the exact distinct count
    in-plan (|est − exact| ≤ {HLL_BOUND_PCT}% · exact; the sketch is
    deterministic for a given input, so the flag is stable). The
    oracle pins the exact count and asserts the bound held — the
    `ann_recall_audit` / `bloom_probe_stats` certification methodology
    applied to the third sketch family's MERGE operation (the property
    that lets yesterday's sketches absorb today's shard without
    touching history).

    Plan: per-shard sketch aggregate (map-side partials), one
    |shards|-row union-merge, one exact distinct for certification —
    at scale you drop the exact branch and keep the sketch path."""
    ev = table(spark, sf_dir, "events")
    shard_sketches = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = shard_sketches.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).cast("long").alias("est"),
        F.count(F.lit(1)).cast("long").alias("n_shards"),
    )
    exact = ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return exact.crossJoin(merged).select(
        "n_exact",
        "n_shards",
        (
            F.abs(F.col("est") - F.col("n_exact")) * 100
            <= F.lit(HLL_BOUND_PCT) * F.col("n_exact")
        ).alias(f"within_{HLL_BOUND_PCT}pct"),
    )


# --- KMV (k-minimum-values / theta) distinct sketches -----------------------
#
# The one set operation HLL cannot do is INTERSECTION; the KMV/theta
# sketch (Bar-Yossef et al.; Dasu/Johnson "Mining Database Structure")
# supports union AND intersection estimates from the k smallest hash
# values of a set. With the repo's portable md5-u32 hash the sketch is
# bit-reproducible on both engines, so even the estimates are exactly
# differential-checkable. Estimator (hashes uniform on [0, 2^32)):
# D-hat = (K-1) * 2^32 DIV (h_K + 1); sets with < K distinct hashes are
# estimated exactly by their count. All-integer; +1 guards h_K = 0 and
# matches the expected-gap correction on the discrete domain.
#
# Scale shape (100 TB): the distinct-(source, hash) aggregate is the
# only corpus-wide shuffle; the k-smallest per group is the salted
# two-stage device (k smallest within (source, h % KMV_SALTS), then k
# smallest of the <= salts*k survivors) — never a single-partition pass
# over a group's full distinct set. The sketch relations themselves are
# <= K rows per group.

#: Sketch size (minimum hash values kept per set).
KMV_K = 64
#: Salt fan-out of the two-stage k-smallest.
KMV_SALTS = 8
#: The two sources whose sketches the set-operation audit combines.
KMV_SRC_A, KMV_SRC_B = "src0", "src1"

_KMV_EST = (
    f"CAST(CASE WHEN n_kmv < {KMV_K} THEN n_kmv"
    f" ELSE ({KMV_K - 1} * 4294967296) DIV (h_k + 1) END AS BIGINT)"
)
_SQL_KMV_EST = _KMV_EST.replace(" DIV ", " // ")

#: The sketched domain: bigram strings of the token stream (see
#: `_kmv_hashes` for why not unigrams).
_bigrams_sql = sql_ngrams("toks", 2)


def _kmv_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, h): the distinct BIGRAM-hash sets per source (bigrams,
    not unigrams — the harness vocabulary is only ~60 words, which
    would leave every sketch in its exact n<K regime; bigram
    cardinality ~700/source actually exercises the estimator)."""
    docs = table(spark, sf_dir, "documents")
    return (
        # token array materialized once per row: ngrams references it
        # ~5x inside non-codegen HOF lambdas
        docs.select("source", tokens(F.col("text")).alias("__toks"))
        .select(
            "source",
            F.explode(ngrams(F.col("__toks"), 2)).alias("g"),
        )
        .select("source", hash_u32(F.col("g"), "kv_").alias("h"))
        .distinct()
    )


def _k_smallest(df: DataFrame, part: list[str], k: int) -> DataFrame:
    """Salted two-stage k-smallest `h` per `part` group (exact)."""
    from pyspark.sql import Window

    s1 = Window.partitionBy(*(part + ["_s"])).orderBy("h")
    s2 = Window.partitionBy(*part).orderBy("h") if part else Window.orderBy("h")
    return (
        df.withColumn("_s", F.col("h") % KMV_SALTS)
        .withColumn("_r1", F.row_number().over(s1))
        .filter(F.col("_r1") <= k)
        .withColumn("_r2", F.row_number().over(s2))
        .filter(F.col("_r2") <= k)
        .drop("_s", "_r1", "_r2")
    )


_SQL_KMV_PER_SOURCE = f"""
    hs AS MATERIALIZED (
      SELECT DISTINCT source,
             {sql_hash_u32('tok', 'kv_')} AS h
      FROM (SELECT source, unnest({_bigrams_sql}) AS tok
            FROM (SELECT source,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS toks
                  FROM documents))
    ), s1 AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source, h % {KMV_SALTS}
                                ORDER BY h) AS r1
      FROM hs
    ), s2 AS (
      SELECT source, h,
             row_number() OVER (PARTITION BY source ORDER BY h) AS r2
      FROM s1 WHERE r1 <= {KMV_K}
    ), sk AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_kmv,
             CAST(max(h) AS BIGINT) AS h_k
      FROM s2 WHERE r2 <= {KMV_K} GROUP BY source
    ), ex AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_distinct FROM hs
      GROUP BY source
    )
"""


@query(
    "kmv_distinct_by_source",
    oracle=f"""
    WITH {_SQL_KMV_PER_SOURCE}
    SELECT sk.source, ex.n_distinct, sk.n_kmv, sk.h_k,
           {_SQL_KMV_EST} AS est_distinct,
           CAST(abs({_SQL_KMV_EST} - ex.n_distinct) * 10000
                // ex.n_distinct AS BIGINT) AS err_bp
    FROM sk JOIN ex USING (source)
    """,
)
def q_kmv_distinct_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KMV distinct-token estimate, certified against the
    exact distinct count in the same plan (the HLL-audit pattern, but
    with a mergeable-AND-intersectable sketch). ≤|sources| rows."""
    hs = _kmv_hashes(spark, sf_dir)
    sk = (
        _k_smallest(hs, ["source"], KMV_K)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kmv"),
            F.max("h").cast("long").alias("h_k"),
        )
    )
    ex = hs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct")
    )
    est = F.expr(_KMV_EST)
    return (
        sk.join(ex, "source")
        .select(
            "source",
            "n_distinct",
            "n_kmv",
            "h_k",
            est.alias("est_distinct"),
            F.expr(
                f"CAST(abs({_KMV_EST} - n_distinct) * 10000"
                " DIV n_distinct AS BIGINT)"
            ).alias("err_bp"),
        )
    )


@query(
    "kmv_set_ops_audit",
    oracle=f"""
    WITH hs0 AS MATERIALIZED (
      SELECT DISTINCT source,
             {sql_hash_u32('tok', 'kv_')} AS h
      FROM (SELECT source, unnest({_bigrams_sql}) AS tok
            FROM (SELECT source,
                         list_filter(string_split(text, ' '),
                                     x -> x <> '') AS toks
                  FROM documents))
      WHERE source IN ('{KMV_SRC_A}', '{KMV_SRC_B}')
    ), ua AS MATERIALIZED (SELECT DISTINCT h FROM hs0),
    u1 AS (
      SELECT h, row_number() OVER (PARTITION BY h % {KMV_SALTS}
                                   ORDER BY h) AS r1
      FROM ua
    ), u2 AS MATERIALIZED (
      SELECT h, row_number() OVER (ORDER BY h) AS r2
      FROM u1 WHERE r1 <= {KMV_K}
    ), x AS MATERIALIZED (SELECT h FROM u2 WHERE r2 <= {KMV_K}),
    usk AS (
      SELECT CAST(count(*) AS BIGINT) AS n_kmv,
             CAST(max(h) AS BIGINT) AS h_k
      FROM x
    ),
    a AS MATERIALIZED (SELECT h FROM hs0 WHERE source = '{KMV_SRC_A}'),
    b AS MATERIALIZED (SELECT h FROM hs0 WHERE source = '{KMV_SRC_B}'),
    m AS (
      SELECT CAST(count(*) AS BIGINT) AS matched
      FROM x
      WHERE EXISTS (SELECT 1 FROM a WHERE a.h = x.h)
        AND EXISTS (SELECT 1 FROM b WHERE b.h = x.h)
    ),
    exact AS (
      SELECT CAST((SELECT count(*) FROM ua) AS BIGINT) AS exact_union,
             CAST((SELECT count(*) FROM a
                   WHERE EXISTS (SELECT 1 FROM b WHERE b.h = a.h))
                  AS BIGINT) AS exact_inter
    )
    SELECT {_SQL_KMV_EST} AS est_union,
           exact_union,
           CAST(abs({_SQL_KMV_EST} - exact_union) * 10000
                // exact_union AS BIGINT) AS union_err_bp,
           matched,
           CAST(CASE WHEN n_kmv = 0 THEN 0
                     ELSE matched * {_SQL_KMV_EST} // n_kmv END
                AS BIGINT) AS est_inter,
           exact_inter
    FROM usk, m, exact
    """,
)
def q_kmv_set_ops_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union AND intersection estimates from KMV sketches of two
    sources' token sets, certified against the exact counts in-plan:
    the union estimate comes from the k-minimum of the combined set;
    the intersection estimate is the theta-sketch rule
    est_inter = |X ∩ A ∩ B| · est_union DIV |X| over the union sketch X.
    1-row output; the only unbounded work is the distinct-hash
    aggregate and two semi-joins against ≤K-row sketch relations."""
    hs0 = _kmv_hashes(spark, sf_dir).filter(
        F.col("source").isin(KMV_SRC_A, KMV_SRC_B)
    )
    ua = hs0.select("h").distinct()
    x = _k_smallest(ua, [], KMV_K)
    usk = x.agg(
        F.count(F.lit(1)).cast("long").alias("n_kmv"),
        F.max("h").cast("long").alias("h_k"),
    )
    a = hs0.filter(F.col("source") == KMV_SRC_A).select("h")
    b = hs0.filter(F.col("source") == KMV_SRC_B).select("h")
    m = (
        x.join(a, "h", "left_semi")
        .join(b, "h", "left_semi")
        .agg(F.count(F.lit(1)).cast("long").alias("matched"))
    )
    exact = (
        ua.agg(F.count(F.lit(1)).cast("long").alias("exact_union"))
        .crossJoin(
            F.broadcast(
                a.join(b, "h", "left_semi").agg(
                    F.count(F.lit(1)).cast("long").alias("exact_inter")
                )
            )
        )
    )
    est = F.expr(_KMV_EST)
    return (
        usk.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(exact))
        .select(
            est.alias("est_union"),
            "exact_union",
            F.expr(
                f"CAST(abs({_KMV_EST} - exact_union) * 10000"
                " DIV exact_union AS BIGINT)"
            ).alias("union_err_bp"),
            "matched",
            F.expr(
                f"CAST(CASE WHEN n_kmv = 0 THEN 0"
                f"     ELSE matched * {_KMV_EST} DIV n_kmv END AS BIGINT)"
            ).alias("est_inter"),
            "exact_inter",
        )
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-grid quantile sketch with an in-plan error audit.
# ---------------------------------------------------------------------------

#: Grid geometry: power-of-two bin width over a fixed, data-independent
#: domain [0, QGRID_BINS * QGRID_W). Dividing an IEEE double by a power
#: of two is EXACT (pure exponent shift), so `floor(p / 128.0)` is
#: bit-identical on every engine — the whole "probabilistic" structure
#: stays differentially testable, like the Bloom filter above.
QGRID_W = 128
QGRID_BINS = 1024

#: Percentiles audited (lower empirical quantile, rank = ceil(p*N/100)).
QGRID_PCTS = (50, 90, 99)


@query(
    "quantile_grid_sketch_audit",
    oracle=f"""
    WITH b AS MATERIALIZED (
      SELECT CAST(floor(l_extendedprice / {QGRID_W}.0) AS BIGINT) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ), c AS MATERIALIZED (
      SELECT bin, cnt,
             CAST(sum(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
             CAST(sum(cnt) OVER () AS BIGINT) AS total
      FROM b
    ), p AS (SELECT unnest([{', '.join(str(x) for x in QGRID_PCTS)}]) AS pct),
    est AS MATERIALIZED (
      SELECT p.pct, (c.bin + 1) * {QGRID_W} AS est_price
      FROM p JOIN c ON c.cum * 100 >= p.pct * c.total
                   AND (c.cum - c.cnt) * 100 < p.pct * c.total
    ), r AS MATERIALIZED (
      SELECT l_extendedprice AS price,
             row_number() OVER (ORDER BY l_extendedprice, l_orderkey,
                                l_linenumber, l_partkey, l_quantity,
                                l_shipdate) AS rk,
             count(*) OVER () AS total
      FROM lineitem
    ), ex AS (
      SELECT p.pct, r.price AS exact_price
      FROM p JOIN r ON r.rk * 100 >= p.pct * r.total
                   AND (r.rk - 1) * 100 < p.pct * r.total
    )
    SELECT CAST(est.pct AS BIGINT) AS pct,
           CAST(est.est_price AS BIGINT) AS est_price,
           ex.exact_price AS exact_price,
           CAST(est.est_price * 100
                - CAST(floor(ex.exact_price * 100) AS BIGINT)
                AS BIGINT) AS err_cents
    FROM est JOIN ex ON est.pct = ex.pct
    """,
)
def q_quantile_grid_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable fixed-grid quantile sketch (the histogram-sketch shape
    behind t-digest/KLL deployments when the value domain is known a
    priori), audited in-plan against the exact percentile.

    Sketch build: bin = floor(price / 128) over a FIXED domain — a
    groupBy(bin).count() whose merge operator is plain `sum`, so
    per-partition / per-day sketches combine associatively (the whole
    point of a sketch at 100 TB: one ≤1024-row state per shard, no raw
    re-scan to combine). Estimate for percentile p = upper edge of the
    first bin whose cumulative count reaches ceil(p*N/100); the integer
    cross-multiplied form `cum*100 >= pct*total` avoids any division.
    The audit joins the exact rank-`ceil(p*N/100)` value (distributed
    `global_rank` — range shuffle + offsets, no single-task sort) and
    reports the error in cents, bounded by construction to one bin
    width (1 <= err_cents <= {QGRID_W}*100 — asserted in tests).

    Engine-portability: bin width 128 = 2^7, and dividing an IEEE-754
    double by a power of two only decrements the exponent, so the bin
    assignment is exact and identical on Spark and DuckDB (no decimal
    rounding, no libm).

    Plan: one scan -> hash-agg to <=1024 bins; cumulative windows run
    over the AGGREGATED relation (bounded-window class, auto-detected
    by plans.checks); the exact side reuses the `global_rank` range
    shuffle. The pct fan-out is a 3-element explode on bounded rows.
    """
    from distributed_mapreduce_spark.operators.partitioning import global_rank
    from pyspark.sql import Window

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_extendedprice").alias("p"),
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        "l_quantity",
        "l_shipdate",
    )
    pcts = F.explode(F.array(*[F.lit(x) for x in QGRID_PCTS])).alias("pct")

    bins = li.groupBy(
        F.floor(F.col("p") / F.lit(float(QGRID_W))).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    cums = bins.select(
        "bin",
        "cnt",
        F.sum("cnt").over(w_cum).cast("long").alias("cum"),
        F.sum("cnt").over(w_all).cast("long").alias("total"),
    )
    est = (
        cums.select("bin", "cnt", "cum", "total", pcts)
        .filter(
            (F.col("cum") * 100 >= F.col("pct") * F.col("total"))
            & ((F.col("cum") - F.col("cnt")) * 100 < F.col("pct") * F.col("total"))
        )
        .select(
            F.col("pct").cast("long").alias("pct"),
            ((F.col("bin") + 1) * QGRID_W).cast("long").alias("est_price"),
        )
    )

    ranked = global_rank(
        li,
        [
            F.col("p"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
            F.col("l_partkey"),
            F.col("l_quantity"),
            F.col("l_shipdate"),
        ],
    )
    ex = (
        ranked.select(F.col("p").alias("exact_price"), "rank", "total", pcts)
        .filter(
            (F.col("rank") * 100 >= F.col("pct") * F.col("total"))
            & ((F.col("rank") - 1) * 100 < F.col("pct") * F.col("total"))
        )
        .select(F.col("pct").cast("long").alias("pct"), "exact_price")
    )

    return est.join(ex, "pct").select(
        "pct",
        "est_price",
        "exact_price",
        (
            F.col("est_price") * 100
            - F.floor(F.col("exact_price") * 100).cast("long")
        )
        .cast("long")
        .alias("err_cents"),
    )
