"""Structured Streaming over the `documents` table shape — streaming
near-duplicate suppression for a continuously-landing corpus.

Twin certification (same methodology as
:mod:`distributed_mapreduce_spark.streaming.events_stream`): on a
closed input the final per-key state of the streaming dedup equals the
batch `dedup_exact` answer — asserted in tests/test_streaming.py with
an availableNow trigger and maxFilesPerTrigger=1 so the state truly
carries across micro-batches.

Scale shape: state is partitioned by the content hash exactly like a
shuffle — one (keep_id, cnt) row per distinct document body, never the
text itself. Documents carry no event time, so the state here is
unbounded by design (a dedup horizon is a policy choice: bound it by
keying on (hash, ingest-day) or by a TTL timeout when the corpus
contract allows re-admitting old content).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from distributed_mapreduce_spark.functions import bp, count_in, hash_u32, ngrams, tokens

#: documents schema (matches /root/testdata/sf*/documents.parquet).
DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def read_documents_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over a landing directory of documents parquet.
    `max_files_per_trigger` throttles files per micro-batch (tests use 1
    to force multi-batch state carry-over)."""
    r = spark.readStream.schema(DOCS_SCHEMA)
    if max_files_per_trigger is not None:
        r = r.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return r.parquet(directory)


def dedup_docs_stream(docs: DataFrame) -> DataFrame:
    """Streaming exact dedup: keyed state per content hash carrying
    (canonical keep_id = min doc_id seen, duplicate count) across
    micro-batches via `applyInPandasWithState` — the streaming twin of
    the batch `dedup_exact` query (`workload/dedup.py`), emitting one
    updated (fp, keep_id, cnt) row per touched key per batch (update
    mode — never a full state dump).

    Grouping on the 128-bit md5 instead of the text keeps both the
    shuffle and the state store tiny regardless of document size, same
    as the batch plan."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupStateTimeout

    out_schema = "fp string, keep_id bigint, cnt bigint"
    state_schema = "keep_id bigint, cnt bigint"

    def fn(key, pdfs, state):
        keep, cnt = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                keep = m if keep is None else min(keep, m)
                cnt += len(pdf)
        state.update((keep, cnt))
        yield pd.DataFrame({"fp": [key[0]], "keep_id": [keep], "cnt": [cnt]})

    fps = docs.select(F.md5(F.col("text")).alias("fp"), "doc_id")
    return fps.groupBy("fp").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def lsh_band_keys(docs: DataFrame) -> DataFrame:
    """Stateless projection doc → (doc_id, band, h0..h{rows-1}): hashed
    shingles → minhash signature → per-band keys, exploded. Exactly the
    band construction of the batch `minhash_candidate_pairs`
    (`workload/dedup.py`) — same hash family, same constants — so the
    streaming and batch candidate sets are comparable term-for-term.
    Composes with batch and streaming inputs alike (no state, no
    shuffle)."""
    from distributed_mapreduce_spark.workload.dedup import (
        MH_A,
        MH_B,
        MH_PRIME,
        MINHASH_BANDS,
        MINHASH_ROWS,
        shingles,
    )

    bh = F.array_distinct(
        F.transform(shingles(F.col("text")), lambda s: hash_u32(s, "mh_"))
    )
    base = F.col("bh")

    def affine(j):
        return lambda x: (F.lit(MH_A[j]) * x + F.lit(MH_B[j])) % F.lit(MH_PRIME)

    k = MINHASH_BANDS * MINHASH_ROWS
    sig = [
        F.coalesce(F.array_min(F.transform(base, affine(j))), F.lit(2**62))
        for j in range(k)
    ]
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                *[
                    sig[b * MINHASH_ROWS + r].alias(f"h{r}")
                    for r in range(MINHASH_ROWS)
                ],
            )
            for b in range(MINHASH_BANDS)
        ]
    )
    return (
        docs.select("doc_id", bh.alias("bh"))
        .select("doc_id", F.explode(bands).alias("bk"))
        .select("doc_id", "bk.*")
    )


def lsh_candidates_stream(docs: DataFrame) -> DataFrame:
    """Streaming MinHash-LSH near-duplicate candidates: keyed state per
    band bucket holds the doc_ids seen so far; each arriving doc emits
    a candidate pair against every doc already in its bucket — the
    streaming twin of the batch band-bucket self-join
    (`minhash_candidate_pairs`), certified equal on a closed corpus in
    tests/test_streaming.py.

    Scale shape: state is partitioned by the band key like a shuffle;
    per-bucket state is the bucket's doc_id list — the same skew
    exposure as the batch self-join's largest bucket, with the same
    remedy (cap or sub-band oversized buckets; production also ages
    out old ids with a TTL when the dedup horizon allows)."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupStateTimeout

    from distributed_mapreduce_spark.workload.dedup import MINHASH_ROWS

    key_cols = ["band"] + [f"h{r}" for r in range(MINHASH_ROWS)]
    out_schema = "doc_a bigint, doc_b bigint"
    state_schema = "ids array<bigint>"

    def fn(key, pdfs, state):
        (ids,) = state.get if state.exists else ([],)
        ids = list(ids)
        out_a: list[int] = []
        out_b: list[int] = []
        for pdf in pdfs:
            for doc in pdf["doc_id"].astype("int64"):
                d = int(doc)
                for prev in ids:
                    lo, hi = (prev, d) if prev < d else (d, prev)
                    if lo != hi:
                        out_a.append(lo)
                        out_b.append(hi)
                ids.append(d)
        state.update((ids,))
        yield pd.DataFrame({"doc_a": out_a, "doc_b": out_b}, dtype="int64")

    return lsh_band_keys(docs).groupBy(*key_cols).applyInPandasWithState(
        fn, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def corpus_prep_stream(docs: DataFrame) -> DataFrame:
    """Streaming twin of the batch corpus-prep flagship
    (`workload/text.py::build_corpus_prep`): PII scrub → quality
    filter (stateless — identical expressions to the batch plan) →
    exact dedup via content-hash keyed state carrying the canonical
    (min) doc_id. Emits one (fp, keep_id) update per touched key per
    micro-batch; a closed input's final state equals the batch
    `deduped` relation, so per-split counts computed from it match
    `pipeline_corpus_prep` exactly (certified in
    tests/test_streaming.py).

    Streaming cannot chain the dedup agg into a second split-count
    shuffle in one query (two stateful aggs) — the split roll-up runs
    over the emitted state downstream, the standard two-stage pattern
    for multi-agg streaming pipelines."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupStateTimeout

    from distributed_mapreduce_spark.workload.text import STOPWORDS, scrub_pii

    toks = tokens(F.col("text"))
    scrubbed = docs.select("doc_id", scrub_pii(F.col("text")).alias("text"))
    kept = scrubbed.select(
        "doc_id",
        "text",
        F.size(toks).alias("n_tokens"),
        bp(count_in(toks, STOPWORDS), F.size(toks)).alias("stop_bp"),
    ).filter((F.col("n_tokens") >= 40) & (F.col("stop_bp") >= 300))

    out_schema = "fp string, keep_id bigint"
    state_schema = "keep_id bigint"

    def fn(key, pdfs, state):
        (keep,) = state.get if state.exists else (None,)
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["doc_id"].min())
                keep = m if keep is None else min(keep, m)
        state.update((keep,))
        yield pd.DataFrame({"fp": [key[0]], "keep_id": [keep]})

    fps = kept.select(F.md5(F.col("text")).alias("fp"), "doc_id")
    return fps.groupBy("fp").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def dsir_gate_stream(docs: DataFrame, lam_by_bucket: dict[int, int]) -> DataFrame:
    """Online DSIR gating against a FROZEN model — the production shape
    of `workload/importance.py`: the λ table is trained offline
    (`train_dsir_model`, a ≤IR_DIM-row collect) and inlined here as a
    literal array (a broadcast variable at scale), so scoring incoming
    documents is one stateless columnar fold per row. Append-mode
    streaming with no state store, no watermark, no shuffle — the gate
    keeps up with any ingest rate the scan itself sustains.

    Emits (doc_id, n_grams, weight_sum, weight_pg_ppm, dsir_keep) with
    the batch query's exact integer semantics; certified bit-equal to
    `dsir_importance_weights` on a closed corpus in
    tests/test_streaming.py."""
    from distributed_mapreduce_spark.workload.importance import (
        IR_DIM,
        IR_KEEP_MIN_PPM,
        IR_SEED,
    )

    if sorted(lam_by_bucket) != list(range(IR_DIM)):
        raise ValueError(f"model must be total over [0, {IR_DIM})")
    warr = F.array(*[F.lit(int(lam_by_bucket[b])) for b in range(IR_DIM)])
    # gram array materialized once per row: the aggregate fold and
    # size() would otherwise each re-inline the tokenizer expression
    grams = F.col("__grams")
    weight = F.aggregate(
        grams,
        F.lit(0).cast("long"),
        lambda acc, g: acc
        + F.element_at(
            warr, (hash_u32(g, IR_SEED) % IR_DIM + 1).cast("int")
        ).cast("long"),
    )
    scored = docs.select(
        "doc_id", tokens(F.col("text")).alias("__toks")
    ).select(
        "doc_id",
        F.concat(
            F.col("__toks"), ngrams(F.col("__toks"), 2)
        ).alias("__grams"),
    ).select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        weight.alias("weight_sum"),
    )
    per_gram = F.expr(
        "CAST(CASE WHEN n_grams = 0 THEN 0"
        "     ELSE weight_sum DIV n_grams END AS BIGINT)"
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "weight_sum",
        per_gram.alias("weight_pg_ppm"),
        ((F.col("n_grams") > 0) & (per_gram >= F.lit(IR_KEEP_MIN_PPM))).alias(
            "dsir_keep"
        ),
    )


def kmv_sketch_stream(docs: DataFrame) -> DataFrame:
    """Streaming KMV/theta distinct sketch per source — the mergeable-
    sketch shape that makes KMV the streaming structure of choice: the
    keyed state is just the K smallest bigram hashes seen so far (an
    `array<bigint>` of ≤ KMV_K values), merged per micro-batch in
    O(batch + K); the distinct estimate is recomputed from state on
    every emit. Certified in tests/test_streaming.py: the final state
    on a closed corpus equals the batch `kmv_distinct_by_source` sketch
    (n_kmv, h_k, est_distinct) bit-for-bit.

    Note the state carries NO exact distinct count — that is the point
    of the sketch (bounded state regardless of cardinality), and why
    the emitted rows have no `n_distinct`/`err_bp` columns: ground
    truth is a batch-side audit, not streaming state."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupStateTimeout

    from distributed_mapreduce_spark.workload.sketches import KMV_K

    out_schema = "source string, n_kmv bigint, h_k bigint, est_distinct bigint"
    state_schema = "mins array<bigint>"

    def fn(key, pdfs, state):
        (mins,) = state.get if state.exists else ([],)
        s = set(int(x) for x in mins)
        for pdf in pdfs:
            for h in pdf["h"]:
                s.add(int(h))
        if not s:
            # invoked with only empty chunks and no prior state: nothing
            # to sketch yet and nothing worth storing
            yield pd.DataFrame(
                columns=["source", "n_kmv", "h_k", "est_distinct"]
            )
            return
        mins = sorted(s)[:KMV_K]
        state.update((mins,))
        h_k = mins[-1]
        est = (
            len(mins)
            if len(mins) < KMV_K
            else ((KMV_K - 1) * 4294967296) // (h_k + 1)
        )
        yield pd.DataFrame(
            {
                "source": [key[0]],
                "n_kmv": [len(mins)],
                "h_k": [h_k],
                "est_distinct": [est],
            }
        )

    hs = (
        # token array materialized once per row (mirrors the batch twin)
        docs.select("source", tokens(F.col("text")).alias("__toks"))
        .select(
            "source",
            F.explode(ngrams(F.col("__toks"), 2)).alias("g"),
        )
        .select("source", hash_u32(F.col("g"), "kv_").alias("h"))
    )
    return hs.groupBy("source").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def cms_sketch_stream(docs: DataFrame) -> DataFrame:
    """Streaming count-min sketch: keyed state is ONE bigint counter
    per touched (row, bucket) grid cell — the additive-merge property
    that makes CMS the canonical streaming frequency structure (state
    merges across micro-batches by plain addition, and across
    partitions/streams by cell-wise addition). Emits the updated cell
    count per touched cell per batch (update mode). Certified in
    tests/test_streaming.py: the final per-cell state on a closed
    corpus equals the batch counter grid of `cms_heavy_hitters`
    (`workload/sketches.py`) bit-for-bit.

    State is bounded by the grid geometry (≤ CMS_D·CMS_W cells) no
    matter how many distinct terms stream past — the same compression
    guarantee the batch plan documents."""
    import pandas as pd  # local: keep module import light
    from pyspark.sql.streaming.state import GroupStateTimeout

    from distributed_mapreduce_spark.workload.sketches import CMS_D, _cms_bucket

    out_schema = "j integer, b bigint, c bigint"
    state_schema = "c bigint"

    def fn(key, pdfs, state):
        (c,) = state.get if state.exists else (0,)
        add = 0
        for pdf in pdfs:
            add += int(pdf["n"].sum())
        c = int(c) + add
        state.update((c,))
        yield pd.DataFrame({"j": [key[0]], "b": [key[1]], "c": [c]})

    toks = docs.select(
        F.explode(tokens(F.col("text"))).alias(
            "term"
        )
    )
    rows: DataFrame | None = None
    for j in range(CMS_D):
        r = toks.select(
            F.lit(j).cast("int").alias("j"),
            _cms_bucket(F.col("term"), j).alias("b"),
            F.lit(1).cast("long").alias("n"),
        )
        rows = r if rows is None else rows.unionAll(r)
    return rows.groupBy("j", "b").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
