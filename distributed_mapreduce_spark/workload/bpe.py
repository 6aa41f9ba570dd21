"""Distributed BPE tokenizer-merge training over `documents`.

Byte-pair-encoding merge learning is the canonical tokenizer-training
step of an LLM data pipeline: aggregate the corpus to a word-frequency
table, then repeatedly (1) count adjacent symbol pairs weighted by word
frequency, (2) pick the most frequent pair, (3) merge that pair inside
every word, leftmost-non-overlapping.

Reference parity note: the reference engine (Ky-Lee-375
Distributed_MapReduce) has no tokenizer surface; its closest primitive
is the maple/juice wordcount pair (`maple_wordcount.py` /
`juice_wordcount.py`), which is exactly stage 0 here (tokenize →
aggregate to word counts). The merge loop is the extension a
training-data engine needs on top.

Scale notes (100 TB):
- The ONLY corpus-sized stage is tokenize → word-frequency hash-agg
  (map-side partials; identical shape to `wordcount`). Everything
  after operates on the aggregated word table, which follows Heaps'
  law (sublinear in corpus size) — this is how production BPE trainers
  (e.g. HuggingFace tokenizers) structure the computation too.
- Per merge round: pair counting is explode → hash-agg over the word
  table (distinct-pair bounded); the argmax is a 1-row collect (same
  driver-scalar pattern as the k-means / PageRank loops); the merge
  application is a pure within-row `aggregate` fold — zero shuffle.
- The fold implements leftmost-non-overlapping greedy merging; its
  equivalence to the positional/window formulation the oracle uses is
  property-tested in `tests/test_bpe.py`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from distributed_mapreduce_spark.functions import sql_tokens, tokens
from distributed_mapreduce_spark.workload.registry import query, table

#: Number of merge rounds learned (and unrolled in the oracle CTE).
BPE_N_MERGES = 6

#: Minimum corpus frequency for a word to enter the training table.
BPE_MIN_FREQ = 3


def _char_syms() -> F.Column:
    """Initial symbol array: one single-character symbol per position
    (explicit substring, so Spark and DuckDB agree byte-for-byte)."""
    return F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))")


def _pair_structs() -> F.Column:
    """Adjacent symbol pairs of ``syms`` as structs (0-based bracket
    indexing; guarded because ``sequence(1, 0)`` DESCENDS in Spark)."""
    return F.expr(
        "case when size(syms) >= 2 then "
        "transform(sequence(1, size(syms)-1), "
        "          i -> struct(syms[i-1] as a, syms[i] as b)) "
        "else cast(array() as array<struct<a:string,b:string>>) end"
    )


def _merge_fold(a: str, b: str) -> F.Column:
    """Leftmost-non-overlapping merge of the pair (a, b) inside
    ``syms`` as a within-row `aggregate` fold (zero shuffle).

    Invariant making the fold equal to greedy positional merging: a
    merged token ``a||b`` can never itself equal ``a`` (symbols are
    non-empty), so a token produced this round is never re-merged as
    the LEFT side within the same round.
    """
    la, lb = F.lit(a), F.lit(b)

    def step(acc, s):
        last = F.element_at(acc, -1)
        hit = (F.size(acc) > 0) & (last == la) & (s == lb)
        return F.when(
            hit,
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.concat(last, s)),
            ),
        ).otherwise(F.concat(acc, F.array(s)))

    return F.aggregate(F.col("syms"), F.array().cast("array<string>"), step)


def _word_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus → word-frequency table with initial char symbols. The
    only stage that scales with corpus size (hash-agg, map-side
    partials)."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .where(F.col("freq") >= BPE_MIN_FREQ)
        .withColumn("syms", _char_syms())
    )


def _train_merges(
    spark: SparkSession, sf_dir: str
) -> tuple[list[tuple[int, str, str, int]], DataFrame]:
    """Run the merge loop; returns (learned merges, final word table).

    Per round the collect is exactly ONE row (the argmax pair) — the
    same driver-scalar pattern as `kmeans_lloyd_converge` /
    `pagerank_converge`; all heavy lifting stays in DataFrame ops.
    """
    words = _word_table(spark, sf_dir).persist()
    merges: list[tuple[int, str, str, int]] = []
    retired = [words]
    for rank in range(1, BPE_N_MERGES + 1):
        best = (
            words.select("freq", F.explode(_pair_structs()).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not best:
            break
        a, b, cnt = best[0]["a"], best[0]["b"], int(best[0]["cnt"])
        merges.append((rank, a, b, cnt))
        words = words.withColumn("syms", _merge_fold(a, b)).persist()
        retired.append(words)
    for df in retired[:-1]:
        df.unpersist()
    return merges, words


def _oracle_round(k: int) -> str:
    """One unrolled merge round as oracle CTEs: pair count → argmax →
    positional greedy merge via window functions (islands of
    consecutive matches keep every other position — the a==b overlap
    case), rebuild symbol lists."""
    return f"""
    pairs{k} AS MATERIALIZED (
      SELECT syms[i] AS a, syms[i+1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
      FROM words{k}, unnest(generate_series(1, len(syms)-1)) AS t(i)
      WHERE len(syms) >= 2
      GROUP BY 1, 2
    ), best{k} AS MATERIALIZED (
      SELECT a, b, cnt FROM pairs{k} ORDER BY cnt DESC, a, b LIMIT 1
    ), match{k} AS MATERIALIZED (
      SELECT w.word, t.i AS pos
      FROM words{k} w, best{k} bst,
           unnest(generate_series(1, len(w.syms)-1)) AS t(i)
      WHERE len(w.syms) >= 2 AND w.syms[t.i] = bst.a AND w.syms[t.i+1] = bst.b
    ), isl{k} AS MATERIALIZED (
      SELECT word, pos,
             pos - row_number() OVER (PARTITION BY word ORDER BY pos) AS isl
      FROM match{k}
    ), act{k} AS MATERIALIZED (
      SELECT word, pos FROM (
        SELECT word, pos,
               pos - min(pos) OVER (PARTITION BY word, isl) AS off
        FROM isl{k}
      ) WHERE off % 2 = 0
    ), syms{k} AS MATERIALIZED (
      SELECT w.word, w.freq, t.i AS pos, w.syms[t.i] AS sym
      FROM words{k} w, unnest(generate_series(1, len(w.syms))) AS t(i)
    ), kept{k} AS MATERIALIZED (
      SELECT s.word, s.freq, s.pos,
             CASE WHEN a1.pos IS NOT NULL
                  THEN s.sym || (SELECT b FROM best{k})
                  ELSE s.sym END AS sym
      FROM syms{k} s
      LEFT JOIN act{k} a1 ON s.word = a1.word AND s.pos = a1.pos
      LEFT JOIN act{k} a2 ON s.word = a2.word AND s.pos = a2.pos + 1
      WHERE a2.pos IS NULL
    ), words{k + 1} AS MATERIALIZED (
      SELECT word, freq, list(sym ORDER BY pos) AS syms
      FROM kept{k} GROUP BY word, freq
    )"""


def _oracle_prelude() -> str:
    """Shared CTE chain: word table + all unrolled merge rounds."""
    rounds = ",".join(_oracle_round(k) for k in range(BPE_N_MERGES))
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT unnest({sql_tokens("text")}) AS word FROM documents
    ), w0 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS freq
      FROM tok GROUP BY 1 HAVING count(*) >= {BPE_MIN_FREQ}
    ), words0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(generate_series(1, len(word)),
                            i -> substr(word, i, 1)) AS syms
      FROM w0
    ),{rounds}"""


_MERGES_SELECT = " UNION ALL ".join(
    f"SELECT {k + 1} AS merge_rank, a AS lhs, b AS rhs, a || b AS merged, "
    f"cnt AS pair_count FROM best{k}"
    for k in range(BPE_N_MERGES)
)


@query(
    "tokenizer_bpe_merges",
    oracle=_oracle_prelude()
    + f"""
    SELECT CAST(merge_rank AS INTEGER) AS merge_rank, lhs, rhs, merged,
           pair_count
    FROM ({_MERGES_SELECT})
    """,
)
def q_tokenizer_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first `BPE_N_MERGES` BPE merges from the corpus: the
    merge table (rank, lhs, rhs, merged, weighted pair count) that a
    tokenizer trainer would persist.

    Ties on pair count break by (lhs, rhs) ascending in both engines so
    the learned sequence is deterministic.
    """
    merges, words = _train_merges(spark, sf_dir)
    words.unpersist()
    schema = StructType(
        [
            StructField("merge_rank", IntegerType(), False),
            StructField("lhs", StringType(), False),
            StructField("rhs", StringType(), False),
            StructField("merged", StringType(), False),
            StructField("pair_count", LongType(), False),
        ]
    )
    rows = [(r, a, b, a + b, c) for (r, a, b, c) in merges]
    return spark.createDataFrame(rows, schema)


@query(
    "tokenizer_bpe_encode",
    oracle=_oracle_prelude()
    + f""",
    vocab AS (
      SELECT word, CAST(len(syms) AS BIGINT) AS n_syms
      FROM words{BPE_N_MERGES}
    ), doc_tok AS MATERIALIZED (
      SELECT doc_id, unnest({sql_tokens("text")}) AS word FROM documents
    )
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(len(d.word)) AS BIGINT) AS n_chars,
           CAST(sum(coalesce(v.n_syms, len(d.word))) AS BIGINT)
             AS n_bpe_tokens
    FROM doc_tok d LEFT JOIN vocab v ON d.word = v.word
    GROUP BY d.doc_id
    """,
)
def q_tokenizer_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the learned merges: per doc, the
    whitespace-token count, raw character count, and the BPE symbol
    count (unseen / below-threshold words fall back to char-level — one
    symbol per character, the standard OOV treatment).

    Plan: train once (word-table loop above), derive the vocab →
    symbol-length map, then one explode + equi-join + hash-agg over the
    corpus. The vocab join side follows Heaps' law, so broadcast is
    left to AQE rather than forced (same policy as `vocab_encode`).
    """
    merges, words = _train_merges(spark, sf_dir)
    vocab = words.select("word", F.size("syms").cast("long").alias("n_syms"))
    docs = table(spark, sf_dir, "documents")
    out = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
        .join(vocab, "word", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.length("word")).cast("long").alias("n_chars"),
            F.sum(
                F.coalesce(F.col("n_syms"), F.length("word").cast("long"))
            ).alias("n_bpe_tokens"),
        )
    )
    return out


@query(
    "tokenizer_roundtrip_audit",
    oracle=_oracle_prelude()
    + f""",
    chk AS MATERIALIZED (
      SELECT word, freq, syms,
             CASE WHEN list_reduce(syms, (x, y) -> x || y) = word
                  THEN 0 ELSE 1 END AS bad
      FROM words{BPE_N_MERGES}
    ), viol AS (
      SELECT CAST(sum(bad) AS BIGINT) AS n_roundtrip_violations FROM chk
    ), per AS (
      SELECT sym AS symbol,
             CAST(count(DISTINCT word) AS BIGINT) AS n_words,
             CAST(sum(freq) AS BIGINT) AS usage
      FROM chk, unnest(syms) AS u(sym)
      GROUP BY sym
    )
    SELECT symbol, CAST(length(symbol) AS BIGINT) AS sym_len,
           n_words, usage, n_roundtrip_violations
    FROM per CROSS JOIN viol
    """,
)
def q_tokenizer_roundtrip_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Losslessness proof + subword inventory of the trained BPE
    tokenizer: (1) for every vocabulary word, concatenating its merged
    symbols must reproduce the word exactly — the round-trip violation
    count is an output column (0 by the merge fold's construction, and
    the first column to go red if a merge ever drops or duplicates a
    character); (2) the learned symbol inventory with per-symbol
    length, word coverage, and corpus-frequency-weighted usage — the
    table a tokenizer release ships as its vocab report.

    Plan: both facets read the already-trained word table (Heaps-law
    sized, never the raw corpus): one within-row concat check + 1-row
    aggregate broadcast, one explode → hash-agg over the word table.
    The fold order of the concat (left fold ≡ concat_ws) is identical
    on both engines, so the audit itself is differentially certified.
    """
    merges, words = _train_merges(spark, sf_dir)
    chk = words.select(
        "word",
        "freq",
        "syms",
        F.when(F.concat_ws("", F.col("syms")) == F.col("word"), 0)
        .otherwise(1)
        .alias("bad"),
    )
    viol = chk.agg(
        F.sum("bad").cast("long").alias("n_roundtrip_violations")
    )
    per = (
        chk.select("word", "freq", F.explode("syms").alias("symbol"))
        .groupBy("symbol")
        .agg(
            F.countDistinct("word").cast("long").alias("n_words"),
            F.sum("freq").cast("long").alias("usage"),
        )
    )
    return per.crossJoin(F.broadcast(viol)).select(
        "symbol",
        F.length("symbol").cast("long").alias("sym_len"),
        "n_words",
        "usage",
        "n_roundtrip_violations",
    )
