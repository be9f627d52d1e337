"""Extension queries: the training-data-pipeline operator families
(quality, near-duplicate pairs, sampling and packing, text analysis,
similarity search) over the driver's ``documents`` and ``embeddings``
tables, plus a batch event debounce over ``events``.

Approximate/scale-path operators that are inherently not SQL-oracle
material (SRP-ANN) are registered without an oracle — the driver then
records a rows-only check and pytest asserts recall against the exact
baseline (tests/test_extensions.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from msstreamingstack_spark.functions.text import (
    char_trigrams_sql,
    distinct_token_ratio_sql,
    dup_ngram_fraction_sql,
    hash48_sql,
    langid_pred,
    langid_pred_sql,
    token_count,
    token_count_sql,
)
from msstreamingstack_spark.operators.dedup import (
    minhash_lsh_pairs,
    minhash_lsh_sql,
    ngram_jaccard_pairs,
    ngram_jaccard_sql,
)
from msstreamingstack_spark.operators.similarity import (
    COS_ROUND,
    brute_force_topk,
    brute_force_topk_sql,
    cosine_sql,
    quantize_int8_sql,
    quantized_rescore_sql,
    srp_ann_sql,
    srp_ann_topk,
)
from msstreamingstack_spark.queries import register
from msstreamingstack_spark.sources.tables import load_table, spread

N_QUERY_VECS = 10


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@register(
    "similarity_topk_cosine",
    brute_force_topk_sql(k=5, n_queries=N_QUERY_VECS),
    tags=("extension", "similarity"),
    doc="Brute-force cosine top-5 for the first 10 query vectors — the "
    "exact ANN baseline; query side broadcast, dot product via "
    "zip_with/aggregate fold (JVM, no UDF).",
)
def q_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return brute_force_topk(emb, queries, k=5)


@register(
    "similarity_ann_srp",
    srp_ann_sql(k=5, n_queries=N_QUERY_VECS),
    tags=("extension", "similarity", "ann"),
    doc="Sign-random-projection ANN top-5 (8-table × 4-plane bucket "
    "LSH, exact cosine within candidates). Approximate vs brute force "
    "(recall asserted in tests/test_extensions.py) yet fully "
    "deterministic — md5-derived planes inline into the DuckDB oracle, "
    "so even the LSH stage is hash-checked bit-for-bit, like "
    "dedup_minhash_lsh.",
)
def q_similarity_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return srp_ann_topk(emb, queries, k=5)


@register(
    "similarity_ann_quantized",
    quantized_rescore_sql(k=5, shortlist_factor=4, n_queries=N_QUERY_VECS),
    tags=("extension", "similarity", "ann", "quantization"),
    doc="Quantized-scan ANN top-5: corpus pass reads int8 codes only "
    "(4× smaller than float32 — the 100 TB scan stays in executor "
    "memory), one numpy matmul per Arrow batch keeping a running "
    "per-partition top-M; exact float cosine re-ranks the 4k-per-query "
    "shortlist. Deterministic (rounded scores, id tiebreaks) ⇒ "
    "SQL-oracle-checked; recall bound additionally asserted in tests.",
)
def q_similarity_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.similarity import (
        quantized_rescore_topk,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS)
    return quantized_rescore_topk(emb, queries, k=5)


@register(
    "embedding_norm_stats",
    """
WITH n AS (
  SELECT label,
         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                               CAST(embedding AS DOUBLE[]))) AS nrm
  FROM embeddings
)
SELECT label, COUNT(*) AS n_vecs,
       MIN(nrm) AS min_norm, MAX(nrm) AS max_norm,
       CAST(SUM(CAST(nrm AS DECIMAL(25,12))) AS DOUBLE) / COUNT(*) AS avg_norm
FROM n GROUP BY label
""",
    tags=("extension", "similarity", "agg"),
    doc="Per-label L2-norm statistics over the embedding column — "
    "vector math (zip_with/aggregate) feeding a grouped aggregate with "
    "the decimal-exact mean pattern.",
)
def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.similarity import norm

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    nrm = norm(F.col("embedding")).alias("nrm")
    return (
        emb.select("label", nrm)
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
            (
                F.sum(F.col("nrm").cast("decimal(25,12)")).cast("double")
                / F.count("*")
            ).alias("avg_norm"),
        )
    )


@register(
    "repetition_quality",
    f"""
SELECT doc_id,
       {distinct_token_ratio_sql('text')} AS distinct_tok_ratio,
       {dup_ngram_fraction_sql('text', 2)} AS dup_bigram_frac,
       {dup_ngram_fraction_sql('text', 3)} AS dup_trigram_frac,
       {distinct_token_ratio_sql('text')} >= 0.3
         AND {dup_ngram_fraction_sql('text', 3)} <= 0.5 AS passes_quality
FROM documents
""",
    tags=("extension", "text", "quality"),
    doc="Gopher-style repetition signals: distinct-token ratio and "
    "duplicate bi/tri-gram fractions with a composite quality gate — "
    "all per-row expressions inside the scan stage, no shuffle.",
)
def q_repetition_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.functions.text import (
        distinct_token_ratio,
        dup_ngram_fraction,
    )

    d = spread(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    dtr = distinct_token_ratio(text)
    tri = dup_ngram_fraction(text, 3)
    return d.select(
        "doc_id",
        dtr.alias("distinct_tok_ratio"),
        dup_ngram_fraction(text, 2).alias("dup_bigram_frac"),
        tri.alias("dup_trigram_frac"),
        ((dtr >= 0.3) & (tri <= 0.5)).alias("passes_quality"),
    )


# ---------------------------------------------------------------------------
# Near-duplicate pairs
# ---------------------------------------------------------------------------
JACCARD_T = 0.8


@register(
    "dedup_ngram_jaccard",
    ngram_jaccard_sql(JACCARD_T),
    tags=("extension", "dedup"),
    doc="Exact near-dup pairs by word-3-gram jaccard ≥ 0.8 via a "
    "shingle-hash inverted-index self-join (only 48-bit longs shuffle).",
)
def q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(spread(load_table(spark, sf_dir, "documents")), JACCARD_T)


@register(
    "dedup_minhash_lsh",
    minhash_lsh_sql(JACCARD_T),
    tags=("extension", "dedup", "lsh"),
    doc="MinHash(16)+banded LSH(8×2) candidates, verified with exact "
    "jaccard ≥ 0.8. Deterministic fixed-permutation hashing makes even "
    "the LSH stage oracle-checkable bit-for-bit.",
)
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(spread(load_table(spark, sf_dir, "documents")), JACCARD_T)


# ---------------------------------------------------------------------------
# Deterministic splits & corpus mixing — the two bookkeeping operators
# every training-data pipeline needs around the cleaning/dedup stages.
# Both are pure JVM expression maps (md5 -> bucket) + one small
# aggregate: no shuffle on the wide data, no RNG, stable under
# retries/speculation and across runs — which is exactly why hash
# splits beat rand() splits at 100 TB (a re-run or a late retry must
# not reassign rows). Beyond-reference extension (SURVEY.md §2.5).
# ---------------------------------------------------------------------------
SPLIT_BUCKET_SQL = (
    "TRY_CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)"
    " % 10000"
)


@register(
    "hash_split_assign",
    f"""
WITH b AS (
  SELECT doc_id, n_chars, {SPLIT_BUCKET_SQL} AS bucket FROM documents
),
s AS (
  SELECT CASE WHEN bucket < 9000 THEN 'train'
              WHEN bucket < 9500 THEN 'val'
              ELSE 'test' END AS split,
         n_chars
  FROM b
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(25,6))) AS DOUBLE) AS total_chars
FROM s GROUP BY split
""",
    tags=("extension", "pipeline", "split"),
    doc="Deterministic 90/5/5 train/val/test assignment from an md5 "
    "bucket of the document id (Spark conv(hex,16,10) == DuckDB "
    "0x-cast, checked bit-exact). One narrow map + a 3-group "
    "aggregate; assignment is a pure function of the id, so adding "
    "data never reshuffles existing rows between splits.",
)
def q_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    split = (
        F.when(bucket < 9000, "train").when(bucket < 9500, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_chars"),
        )
    )


@register(
    "mix_weighted_sources",
    f"""
WITH b AS (
  SELECT doc_id, source, {SPLIT_BUCKET_SQL} AS bucket FROM documents
),
w AS (
  SELECT source, bucket,
         CASE WHEN source IN ('src0','src1','src2') THEN 10000
              WHEN source IN ('src3','src4','src5','src6') THEN 5000
              ELSE 2000 END AS keep_below
  FROM b
)
SELECT source, COUNT(*) AS n_total,
       COUNT(*) FILTER (WHERE bucket < keep_below) AS n_kept
FROM w GROUP BY source
""",
    tags=("extension", "pipeline", "sampling"),
    doc="Weighted corpus mixing by deterministic hash thresholding: "
    "high-quality sources kept at 100%%, mid at 50%%, the tail at "
    "20%% — the down-sampling step that hits a target pretraining "
    "mixture without materializing an intermediate shuffle or RNG "
    "state. Kept-set membership is stable across runs and "
    "incremental loads; per-source keep rates are data, not code "
    "(join a rates dim in production).",
)
def q_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    keep_below = (
        F.when(F.col("source").isin("src0", "src1", "src2"), 10000)
        .when(F.col("source").isin("src3", "src4", "src5", "src6"), 5000)
        .otherwise(2000)
    )
    return (
        d.select("source", bucket.alias("bucket"), keep_below.alias("keep_below"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_total"),
            F.count(F.when(F.col("bucket") < F.col("keep_below"), 1)).alias(
                "n_kept"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Composite: the end-to-end pretraining-corpus pipeline in ONE plan.
# clean -> language gate -> quality gate -> exact dedup -> split ->
# per-split stats; every stage is the registered operator's exact
# expression (shared constants/SQL twins), so the composition is
# oracle-checkable end to end. At scale this whole chain is one scan,
# one window shuffle (dedup digest), one split aggregate — filters
# run inside the scan stage BEFORE the shuffle, so the dedup window
# only pays for surviving rows.
# ---------------------------------------------------------------------------
@register(
    "pipeline_pretrain_corpus",
    f"""
WITH scored AS (
  SELECT doc_id, text,
         {langid_pred_sql('text')} AS lang_pred,
         {token_count_sql('text')} AS n_tokens,
         {distinct_token_ratio_sql('text')} AS dtr,
         {dup_ngram_fraction_sql('text', 3)} AS tri_frac
  FROM documents
),
gated AS (
  SELECT * FROM scored
  WHERE lang_pred = 'en' AND n_tokens BETWEEN 10 AND 10000
    AND dtr >= 0.3 AND tri_frac <= 0.5
),
deduped AS (
  SELECT * FROM (
    SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id
    FROM gated
  ) WHERE doc_id = keep_id
),
split AS (
  SELECT CASE WHEN {SPLIT_BUCKET_SQL} < 9000 THEN 'train'
              WHEN {SPLIT_BUCKET_SQL} < 9500 THEN 'val'
              ELSE 'test' END AS split,
         n_tokens
  FROM deduped
)
SELECT split, COUNT(*) AS n_docs,
       CAST(SUM(CAST(n_tokens AS DECIMAL(25,6))) AS DOUBLE) AS total_tokens
FROM split GROUP BY split
""",
    tags=("extension", "pipeline", "composite"),
    doc="The full training-data pipeline as one declarative plan: "
    "language-ID gate + Gopher-style quality gate + token-length "
    "bounds (all per-row expressions, fused into the scan stage), "
    "exact content dedup (one digest-window shuffle over survivors "
    "only), deterministic hash split, per-split token accounting. "
    "Composes the registered operators' exact expressions, so the "
    "whole chain hash-matches the DuckDB oracle.",
)
def q_pipeline_pretrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from msstreamingstack_spark.functions.text import (
        distinct_token_ratio,
        dup_ngram_fraction,
    )

    d = spread(load_table(spark, sf_dir, "documents"))
    text = F.col("text")
    scored = d.select(
        "doc_id",
        "text",
        langid_pred(text).alias("lang_pred"),
        token_count(text).alias("n_tokens"),
        distinct_token_ratio(text).alias("dtr"),
        dup_ngram_fraction(text, 3).alias("tri_frac"),
    )
    gated = scored.filter(
        (F.col("lang_pred") == "en")
        & F.col("n_tokens").between(10, 10000)
        & (F.col("dtr") >= 0.3)
        & (F.col("tri_frac") <= 0.5)
    )
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    deduped = gated.withColumn("keep_id", F.min("doc_id").over(w)).filter(
        F.col("doc_id") == F.col("keep_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % 10000
    )
    split = (
        F.when(bucket < 9000, "train").when(bucket < 9500, "val").otherwise("test")
    )
    return (
        deduped.select(split.alias("split"), "n_tokens")
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("decimal(25,6)"))
            .cast("double")
            .alias("total_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Sequence packing: assign documents to fixed-token-budget training
# chunks. Packing is per-source shard (PARTITION BY source) — a global
# cumulative sum would funnel every row through one partition, which
# is exactly the shape that cannot exist at 100 TB; per-shard packing
# keeps the window parallel across sources and matches how training
# shards are actually built. Greedy boundary rule: a doc starts a new
# chunk when the running total before it crosses a capacity multiple.
# ---------------------------------------------------------------------------
PACK_CAPACITY = 2048


@register(
    "pack_sequences_greedy",
    f"""
WITH toks AS (
  SELECT doc_id, source, {token_count_sql('text')} AS n_tokens
  FROM documents
),
packed AS (
  SELECT source, n_tokens,
         CAST(FLOOR((SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n_tokens) / {PACK_CAPACITY}) AS BIGINT) AS chunk_idx
  FROM toks
)
SELECT source, chunk_idx, COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS chunk_tokens
FROM packed
GROUP BY source, chunk_idx
""",
    tags=("extension", "pipeline", "packing"),
    doc=f"Greedy sequence packing into {PACK_CAPACITY}-token training "
    "chunks: running token total per source shard (deterministic "
    "doc_id order), chunk index = pre-document total div capacity, "
    "then per-chunk fill stats. One window shuffle on source. The "
    "per-chunk token sum may overshoot capacity by at most one document "
    "(greedy semantics, documents not split).",
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = toks.withColumn(
        "chunk_idx",
        F.floor(
            (F.sum("n_tokens").over(w) - F.col("n_tokens")) / PACK_CAPACITY
        ).cast("bigint"),
    )
    return packed.groupBy("source", "chunk_idx").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("chunk_tokens"),
    )


# ---------------------------------------------------------------------------
# Fixed-block packing — the GPT-style concat-and-chunk twin of
# pack_sequences_greedy: the per-shard token stream (one EOD token
# appended per doc) is sliced into EXACT BLOCK_TOKENS windows, so a
# document may straddle a block boundary; each block reports how many
# documents touch it, how many start in it, and its fill.
# ---------------------------------------------------------------------------
BLOCK_TOKENS = 512


@register(
    "pack_blocks_fixed",
    f"""
WITH toks AS (
  SELECT doc_id, source, {token_count_sql('text')} + 1 AS n_tokens
  FROM documents
),
spans AS (
  SELECT source, doc_id, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS fin
  FROM toks
),
blocks AS (
  SELECT source, doc_id, n_tokens, fin - n_tokens AS st, fin,
         unnest(generate_series((fin - n_tokens) // {BLOCK_TOKENS},
                                (fin - 1) // {BLOCK_TOKENS})) AS block_id
  FROM spans
)
SELECT source, block_id,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN st // {BLOCK_TOKENS} = block_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_starts,
       CAST(SUM(LEAST(fin, (block_id + 1) * {BLOCK_TOKENS})
                - GREATEST(st, block_id * {BLOCK_TOKENS})) AS BIGINT)
         AS block_tokens
FROM blocks
GROUP BY source, block_id
""",
    tags=("extension", "pipeline", "packing"),
    doc=f"Concat-and-chunk packing: per source shard, documents are "
    "concatenated in deterministic doc_id order (one EOD token "
    f"appended each) and the token stream is sliced into exact "
    f"{BLOCK_TOKENS}-token training blocks — documents STRADDLE "
    "boundaries (every block is full), unlike pack_sequences_greedy "
    "where documents stay whole and chunks under/overfill. Per block: "
    "documents touching it, documents starting in it, and fill "
    "(= capacity except each shard's last block). The doc span "
    "[cumsum - n, cumsum) explodes to its covered block ids via "
    "sequence() — fan-out bounded by n_tokens/block + 1 per doc. One "
    "window shuffle per source shard (never a global cumsum — the "
    "single-partition shape that cannot exist at 100 TB) plus one "
    "keyed re-aggregation.",
)
def q_pack_blocks_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    toks = d.select(
        "doc_id",
        "source",
        (token_count(F.col("text")) + 1).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = toks.withColumn("fin", F.sum("n_tokens").over(w)).withColumn(
        "st", F.col("fin") - F.col("n_tokens")
    )
    blocks = spans.withColumn(
        "block_id",
        F.explode(
            F.sequence(
                F.expr(f"st div {BLOCK_TOKENS}"),
                F.expr(f"(fin - 1) div {BLOCK_TOKENS}"),
            )
        ),
    )
    cap = F.lit(BLOCK_TOKENS).cast("long")
    return blocks.groupBy("source", "block_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(
            F.when(F.expr(f"st div {BLOCK_TOKENS}") == F.col("block_id"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_starts"),
        F.sum(
            F.least(F.col("fin"), (F.col("block_id") + 1) * cap)
            - F.greatest(F.col("st"), F.col("block_id") * cap)
        )
        .cast("long")
        .alias("block_tokens"),
    )


# ---------------------------------------------------------------------------
# Stratified sampling, shard assignment — the remaining bookkeeping
# operators a pretraining corpus build needs before shard write-out.
# Both are pure narrow expression maps plus at most one keyed window
# shuffle, so they compose into the scan stage of a larger pipeline at
# 100 TB.
# ---------------------------------------------------------------------------
RESERVOIR_K = 50
RESERVOIR_PREFILTER = 40  # keep hash%100 < 40 before the exact window


@register(
    "sample_reservoir_stratified",
    f"""
WITH h AS (
  SELECT lang, doc_id,
         {hash48_sql("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
  WHERE {hash48_sql("CAST(doc_id AS VARCHAR)")} % 100 < {RESERVOIR_PREFILTER}
),
r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id)
           AS sample_rank
  FROM h
)
SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= {RESERVOIR_K}
""",
    tags=("extension", "pipeline", "sampling"),
    doc=f"Deterministic reservoir-style sample of {RESERVOIR_K} docs "
    "per language stratum: rank by a 48-bit id hash inside each "
    "stratum, keep the lowest-hash k — equivalent to a uniform "
    "without-replacement sample that is stable across runs, retries "
    "and incremental loads (a new row only enters the reservoir by "
    "displacing the current max hash). The hash prefilter discards "
    f"~{100 - RESERVOIR_PREFILTER}%% of rows BEFORE the per-stratum "
    "window shuffle.",
)
def q_sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from msstreamingstack_spark.functions.text import hash48

    d = load_table(spark, sf_dir, "documents")
    h = hash48(F.col("doc_id").cast("string"))
    cand = d.select("lang", "doc_id", h.alias("h")).filter(
        (F.col("h") % 100) < RESERVOIR_PREFILTER
    )
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        cand.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= RESERVOIR_K)
        .select("lang", "doc_id", "sample_rank")
    )


N_SHARDS = 8


@register(
    "shuffle_shard_assign",
    f"""
WITH h AS (
  SELECT doc_id, n_chars,
         {hash48_sql("CAST(doc_id AS VARCHAR)")} AS h
  FROM documents
)
SELECT doc_id,
       h % {N_SHARDS} AS shard,
       ROW_NUMBER() OVER (PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id)
         AS pos
FROM h
""",
    tags=("extension", "pipeline", "sharding"),
    doc=f"Deterministic global shuffle into {N_SHARDS} training "
    "shards: shard = id-hash mod N, within-shard position = rank by "
    "the same hash — a seedless Fisher-Yates stand-in whose order is "
    "a pure function of the ids, so retries/speculative tasks and "
    "re-runs produce byte-identical shards. At scale this is "
    "repartition(N, shard) + sortWithinPartitions(h): one shuffle, "
    "then a streaming write of ordered shard files.",
)
def q_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from msstreamingstack_spark.functions.text import hash48

    d = load_table(spark, sf_dir, "documents")
    h = hash48(F.col("doc_id").cast("string"))
    w = Window.partitionBy("shard").orderBy("h", "doc_id")
    return (
        d.select("doc_id", h.alias("h"))
        .withColumn("shard", F.col("h") % N_SHARDS)
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


@register(
    "quality_chartrigram_df",
    f"""
WITH tri AS (
  SELECT doc_id, unnest({char_trigrams_sql('text')}) AS t FROM documents
),
freq AS (SELECT t, COUNT(*) AS cnt FROM tri GROUP BY t)
SELECT tri.doc_id,
       COUNT(*) AS n_trigrams,
       round(CAST(SUM(freq.cnt) AS DOUBLE) / COUNT(*), 9) AS avg_tri_df
FROM tri JOIN freq ON tri.t = freq.t
GROUP BY tri.doc_id
""",
    tags=("extension", "text", "quality"),
    doc="CCNet-style statistical quality score without a language "
    "model: per-doc mean corpus frequency of its char trigrams "
    "(garbled/rare text scores low, fluent text high). All-integer "
    "aggregation until one final division ⇒ exact cross-engine. Two "
    "shuffles (corpus freq table, per-doc agg); the freq table is "
    "EXPLICITLY broadcast — char-trigram cardinality is alphabet-"
    "bounded (~|charset|^3 distinct keys regardless of corpus size), "
    "so it is broadcastable at ANY scale, and leaving it to AQE let "
    "the exploded trigram relation re-shuffle (2.93x scale ratio at "
    "4x data before the fix).",
)
def q_quality_chartrigram_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.functions.text import char_trigrams

    d = spread(load_table(spark, sf_dir, "documents"))
    # round 5 plan (same algebra, same hash): fold the explode to
    # per-(doc, trigram) COUNTS first — Σc·cnt / Σc ≡ the occurrence-
    # row mean the oracle states, on the same exact integers. The
    # corpus-freq table re-aggregates the (doc, t) counts instead of a
    # SECOND trigram explosion (the old plan exploded every document
    # twice and joined at occurrence granularity — the worst 16×
    # scaler in the round 5 16× run at 4.53×), and the broadcast join + final agg
    # now move |distinct (doc, t)| rows, not |occurrences|.
    from msstreamingstack_spark.caching import rotating_persist

    tri_c = rotating_persist(
        d.select("doc_id", F.explode(char_trigrams(F.col("text"))).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("c")),
        # referenced twice (freq build + join side) and the two
        # subtrees do NOT exchange-reuse; persisting the folded counts
        # (≪ occurrence rows, the doc_shingle_hashes discipline) keeps
        # the explode single-pass; slot-rotated so repeated
        # invocations hold ONE cache entry, not one per call
        "quality_chartrigram_df.tri_c",
    )
    # populate before freq forks under a broadcast: the broadcast
    # subtree builds eagerly and would re-run the trigram explode
    # against the unpopulated cache (A/B +13% at sf0.1; the round-8
    # span-scrub lesson, plans/notes.md)
    tri_c.count()
    freq = tri_c.groupBy("t").agg(F.sum("c").alias("cnt"))
    return (
        tri_c.join(F.broadcast(freq), "t")
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_trigrams"),
            F.round(
                F.sum(F.col("c") * F.col("cnt")).cast("double") / F.sum("c"),
                9,
            ).alias("avg_tri_df"),
        )
    )


@register(
    "quality_char_entropy",
    """
WITH chars AS (
  SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
),
freq AS (SELECT doc_id, ch, COUNT(*) AS c FROM chars GROUP BY doc_id, ch),
wp AS (
  SELECT doc_id,
         CAST(c AS DOUBLE) / CAST(SUM(c) OVER (PARTITION BY doc_id) AS DOUBLE)
           AS p
  FROM freq
)
SELECT doc_id,
       CAST(SUM(CAST(round(-p * log2(p), 9) AS DECIMAL(28,9))) AS DOUBLE)
         AS char_entropy
FROM wp GROUP BY doc_id
""",
    tags=("extension", "text", "quality", "entropy"),
    doc="Per-document Shannon entropy over the character distribution "
    "— the cheapest perplexity proxy a corpus filter has: binary "
    "junk, base64 blobs and key-mash score far from natural text "
    "(English prose ≈ 4.0-4.4 bits/char). Distributed as "
    "explode → (doc, char) count → per-doc fold, the token-counting "
    "shuffle shape. Cross-engine determinism: each -p·log2(p) term is "
    "rounded to 9 decimals FIRST, then summed exactly in DECIMAL "
    "(float sum order differs between engines; decimal addition of "
    "identically-rounded terms is order-free).",
)
def q_quality_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    chars = d.select(
        "doc_id", F.explode(F.split(F.col("text"), "")).alias("ch")
    ).filter(F.col("ch") != "")  # split-by-empty yields a trailing ""
    freq = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    p = F.col("c") / F.sum("c").over(Window.partitionBy("doc_id"))
    term = F.round(-p * F.log2(p), 9).cast("decimal(28,9)")
    return (
        freq.select("doc_id", term.alias("t"))
        .groupBy("doc_id")
        .agg(F.sum("t").cast("double").alias("char_entropy"))
    )


# Shared by quality_bigram_lm and the quality-weighted budget sampler
# (identical text on both engines is the no-drift guarantee).
#
# LEAVE-ONE-OUT + Laplace: the naive self-trained estimator
# P(w2|w1) = c12/c1 rates a document of globally-UNIQUE bigrams as
# perfectly predictable (its own occurrences are the only support:
# c12 = c1 ⇒ P = 1 ⇒ 0 bits — gibberish would score BEST). Each
# doc's own counts are therefore subtracted from the numerator and
# denominator (e12 = c12 − c, e1 = c1 − d1c) and the estimate is
# Laplace-smoothed over the second-word vocabulary:
# P = (e12 + 1)/(e1 + V). Unsupported bigrams now cost ≈ log2(V)
# bits; text echoed across the corpus stays cheap. All inputs are
# exact BIGINTs, so the doubles agree bit-for-bit cross-engine.
BIGRAM_LM_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(t[1:len(t)-1]) AS w1,
         unnest(t[2:len(t)]) AS w2
  FROM t WHERE len(t) >= 2
),
dbc AS (SELECT doc_id, w1, w2, COUNT(*) AS c FROM bi GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, SUM(c) AS c12 FROM dbc GROUP BY 1, 2),
c1 AS (SELECT w1, SUM(c12) AS c1 FROM c12 GROUP BY 1),
d1 AS (SELECT doc_id, w1, SUM(c) AS d1c FROM dbc GROUP BY 1, 2),
v AS (SELECT COUNT(DISTINCT w2) AS vsz FROM dbc)
SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams,
       round(CAST(SUM(CAST(round(
           -log2(CAST(c12 - c + 1 AS DOUBLE)
                 / CAST(c1 - d1c + vsz AS DOUBLE)) * c, 9)
         AS DECIMAL(28,9))) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 9)
         AS bits_per_bigram
FROM dbc JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
     JOIN d1 USING (doc_id, w1) CROSS JOIN v
GROUP BY doc_id
"""


def bigram_lm_scores(d: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, bits_per_bigram) — the Spark twin of
    BIGRAM_LM_SQL (leave-one-out + Laplace; see the constant's comment
    and q_quality_bigram_lm's docstring for the plan rationale)."""
    from msstreamingstack_spark.caching import rotating_persist
    from msstreamingstack_spark.functions.text import doc_bigram_counts

    from pyspark.sql import Window

    # chartrigram discipline: referenced by the LM build, the per-doc
    # counts AND the scoring join; slot-rotated so repeat invocations
    # (and token_budget_quality_sample, which calls through here)
    # replace the cache instead of stacking entries
    dbc = rotating_persist(doc_bigram_counts(d), "bigram_lm_scores.dbc")
    # populate before the broadcast freq-table subtrees fork off the
    # cache (A/B +10% at sf0.1; round-8 broadcast-race lesson)
    dbc.count()
    # LM count tables as WINDOW passes instead of re-joining dbc on
    # three different keys (the round-6 plan: 3 aggregate shuffles + 3
    # join shuffles of the bigram fan-out — measured 4.4-8.3 s at
    # sf0.1 and the dominant variance source of the ensemble score).
    # c12 (count of the bigram corpus-wide) and c1 (count of the
    # left-word) SHARE one partitionBy(w1) exchange: the RANGE
    # current-row frame over ORDER BY w2 sums exactly the (w1, w2)
    # peer group, the unbounded frame sums the whole w1 partition.
    # d1c (the doc's own occurrences of w1) is one more exchange on
    # (doc_id, w1), then the per-doc fold — 3 exchanges end-to-end,
    # measured 2.5x faster and flat across repeats. Counts are exact
    # integers, so the values (and the DuckDB oracle) are unchanged.
    w_doc_w1 = Window.partitionBy("doc_id", "w1")
    # scalar |vocab(w2)| broadcast into every row (explicit-broadcast
    # scalar total — the house crossJoin discipline)
    vsz = dbc.agg(F.countDistinct("w2").alias("vsz"))
    w_w1 = Window.partitionBy("w1")
    w_w1w2 = (
        Window.partitionBy("w1")
        .orderBy("w2")
        .rangeBetween(Window.currentRow, Window.currentRow)
    )
    scored = (
        dbc.withColumn("c12", F.sum("c").over(w_w1w2))
        .withColumn("c1", F.sum("c").over(w_w1))
        .withColumn("d1c", F.sum("c").over(w_doc_w1))
        .crossJoin(F.broadcast(vsz))
    )
    term = F.round(
        -F.log2(
            (F.col("c12") - F.col("c") + F.lit(1)).cast("double")
            / (F.col("c1") - F.col("d1c") + F.col("vsz")).cast("double")
        )
        * F.col("c"),
        9,
    ).cast("decimal(28,9)")
    return scored.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_bigrams"),
        F.round(
            F.sum(term).cast("double") / F.sum("c").cast("double"), 9
        ).alias("bits_per_bigram"),
    )


@register(
    "quality_bigram_lm",
    BIGRAM_LM_SQL,
    tags=("extension", "text", "quality", "lm"),
    doc="Corpus-trained bigram-LM cross-entropy per document — the "
    "perplexity-style quality filter (CCNet's wiki-LM score) without "
    "an external model: LEAVE-ONE-OUT Laplace estimate "
    "P(w2|w1) = (c12 − own + 1)/(c1 − own + V) from the corpus "
    "itself, score = mean -log2 P over the doc's bigram occurrences "
    "(low = text echoed across the corpus, high = junk/outlier "
    "vocabulary; without LOO a doc of globally-unique bigrams is its "
    "own only support and would score a perfect 0 bits). "
    "Plan: ONE bigram explode (aligned arrays_zip slices, no HOF "
    "lambda) folded to per-(doc, bigram) counts; the LM count tables "
    "re-aggregate the fold (never a second explode); occurrence terms "
    "round-then-DECIMAL-sum so the float fold is order-free "
    "cross-engine. Joins stay keyed on the bigram — the LM table is "
    "NOT broadcast because bigram vocabulary, unlike char trigrams, "
    "is corpus-sized at 100 TB.",
)
def q_quality_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bigram_lm_scores(spread(load_table(spark, sf_dir, "documents")))


def _ensemble_oracle() -> str:
    from msstreamingstack_spark.queries import REGISTRY

    ent = REGISTRY["quality_char_entropy"].oracle
    rep = REGISTRY["repetition_quality"].oracle
    lm = REGISTRY["quality_bigram_lm"].oracle

    def zterm(x, mu, sd, null_ok=False):
        guard = f"{x} IS NOT NULL AND {sd} > 0" if null_ok else f"{sd} > 0"
        return f"(CASE WHEN {guard} THEN ({x} - {mu}) / {sd} ELSE 0.0 END)"

    return f"""
WITH sig AS (
  SELECT r.doc_id, e.char_entropy, l.bits_per_bigram, r.distinct_tok_ratio
  FROM ({rep}) r
  JOIN ({ent}) e ON r.doc_id = e.doc_id
  LEFT JOIN ({lm}) l ON r.doc_id = l.doc_id
),
m AS (
  SELECT
    CAST(SUM(CAST(char_entropy AS DECIMAL(28,9))) AS DOUBLE)
      / COUNT(char_entropy) AS mu_e,
    CAST(SUM(CAST(char_entropy * char_entropy AS DECIMAL(38,18))) AS DOUBLE)
      / COUNT(char_entropy) AS m2_e,
    CAST(SUM(CAST(bits_per_bigram AS DECIMAL(28,9))) AS DOUBLE)
      / COUNT(bits_per_bigram) AS mu_l,
    CAST(SUM(CAST(bits_per_bigram * bits_per_bigram AS DECIMAL(38,18))) AS DOUBLE)
      / COUNT(bits_per_bigram) AS m2_l,
    CAST(SUM(CAST(distinct_tok_ratio AS DECIMAL(28,9))) AS DOUBLE)
      / COUNT(distinct_tok_ratio) AS mu_r,
    CAST(SUM(CAST(distinct_tok_ratio * distinct_tok_ratio AS DECIMAL(38,18))) AS DOUBLE)
      / COUNT(distinct_tok_ratio) AS m2_r
  FROM sig
),
sd AS (
  SELECT mu_e, sqrt(greatest(m2_e - mu_e * mu_e, 0.0)) AS sd_e,
         mu_l, sqrt(greatest(m2_l - mu_l * mu_l, 0.0)) AS sd_l,
         mu_r, sqrt(greatest(m2_r - mu_r * mu_r, 0.0)) AS sd_r
  FROM m
),
z AS (
  SELECT doc_id, char_entropy, bits_per_bigram, distinct_tok_ratio,
         round({zterm('char_entropy', 'mu_e', 'sd_e')}
               - {zterm('bits_per_bigram', 'mu_l', 'sd_l', null_ok=True)}
               + {zterm('distinct_tok_ratio', 'mu_r', 'sd_r')}, 9) AS qscore
  FROM sig CROSS JOIN sd
)
SELECT doc_id, char_entropy, bits_per_bigram, distinct_tok_ratio, qscore,
       CAST(ntile(10) OVER (ORDER BY qscore DESC, doc_id) AS BIGINT)
         AS quality_decile
FROM z
"""


@register(
    "quality_ensemble_score",
    _ensemble_oracle(),
    tags=("extension", "text", "quality", "pipeline", "lm"),
    doc="Composite quality classifier: z-score three independent "
    "oracled signals over the corpus — char entropy (up = natural "
    "text), bigram-LM cross-entropy (down = fluent), distinct-token "
    "ratio (up = non-repetitive) — and sum them into one qscore with "
    "a decile assignment, the standard shape of a pretraining "
    "quality-bucketing stage (CCNet-style ensembling without an "
    "external model). Cross-engine exactness: corpus moments go "
    "through exact DECIMAL sums (means and second moments), so "
    "mu/sd are identical doubles and every z is the same IEEE "
    "expression on both engines; docs too short for an LM score "
    "contribute z=0 instead of poisoning the composite. The decile "
    "ntile is a global sort over one row per doc — fine for the "
    "bucket-assignment OUTPUT; at 100 TB swap it for "
    "approx-quantile thresholds if the per-doc frame itself is the "
    "product.",
)
def q_quality_ensemble_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.caching import rotating_persist

    # the three-signal subtree feeds BOTH the corpus-moment aggregate
    # and the per-doc z-score frame — persist it once (rotating slot)
    # or the whole bigram-LM/entropy/repetition pipeline runs twice
    sig = rotating_persist(
        q_repetition_quality(spark, sf_dir)
        .select("doc_id", "distinct_tok_ratio")
        .join(q_quality_char_entropy(spark, sf_dir), "doc_id")
        .join(
            q_quality_bigram_lm(spark, sf_dir).select(
                "doc_id", "bits_per_bigram"
            ),
            "doc_id",
            "left",
        ),
        "quality_ensemble_score.sig",
    )

    def m2(c):
        return (
            F.sum((F.col(c) * F.col(c)).cast("decimal(38,18)")).cast("double")
            / F.count(c)
        )

    def mu(c):
        return (
            F.sum(F.col(c).cast("decimal(28,9)")).cast("double") / F.count(c)
        )

    moments = sig.agg(
        mu("char_entropy").alias("mu_e"),
        m2("char_entropy").alias("m2_e"),
        mu("bits_per_bigram").alias("mu_l"),
        m2("bits_per_bigram").alias("m2_l"),
        mu("distinct_tok_ratio").alias("mu_r"),
        m2("distinct_tok_ratio").alias("m2_r"),
    ).select(
        "mu_e",
        F.sqrt(F.greatest(F.col("m2_e") - F.col("mu_e") * F.col("mu_e"), F.lit(0.0))).alias("sd_e"),
        "mu_l",
        F.sqrt(F.greatest(F.col("m2_l") - F.col("mu_l") * F.col("mu_l"), F.lit(0.0))).alias("sd_l"),
        "mu_r",
        F.sqrt(F.greatest(F.col("m2_r") - F.col("mu_r") * F.col("mu_r"), F.lit(0.0))).alias("sd_r"),
    )

    def z(c, mu_c, sd_c, null_ok=False):
        guard = F.col(sd_c) > 0
        if null_ok:
            guard = F.col(c).isNotNull() & guard
        return F.when(
            guard, (F.col(c) - F.col(mu_c)) / F.col(sd_c)
        ).otherwise(F.lit(0.0))

    scored = sig.crossJoin(F.broadcast(moments)).withColumn(
        "qscore",
        F.round(
            z("char_entropy", "mu_e", "sd_e")
            - z("bits_per_bigram", "mu_l", "sd_l", null_ok=True)
            + z("distinct_tok_ratio", "mu_r", "sd_r"),
            9,
        ),
    )
    w = Window.orderBy(F.col("qscore").desc(), F.col("doc_id").asc())
    return scored.select(
        "doc_id",
        "char_entropy",
        "bits_per_bigram",
        "distinct_tok_ratio",
        "qscore",
        F.ntile(10).over(w).cast("long").alias("quality_decile"),
    )


QUALITY_BUDGET_PER_SOURCE = 2000


@register(
    "token_budget_quality_sample",
    f"""
WITH q AS ({BIGRAM_LM_SQL}),
t AS (
  SELECT d.doc_id, d.source, {token_count_sql('d.text')} AS n_tokens,
         q.bits_per_bigram
  FROM documents d JOIN q ON q.doc_id = d.doc_id
),
c AS (
  SELECT doc_id, source, n_tokens, bits_per_bigram,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY bits_per_bigram ASC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, bits_per_bigram, cum_tokens
FROM c WHERE cum_tokens <= {QUALITY_BUDGET_PER_SOURCE}
""",
    tags=("extension", "pipeline", "sampling", "lm"),
    doc="Quality-weighted token-budget curation — the composition the "
    "plain token_budget_sample (largest-first) lacks: per source, "
    f"spend a {QUALITY_BUDGET_PER_SOURCE}-token budget on the most "
    "FLUENT documents first (lowest bigram-LM cross-entropy, tie → "
    "id), the 'budget to the best data' corpus-mixing policy. The "
    "LM score and the running-sum window are both existing oracled "
    "kernels; ordering on the score is exact cross-engine because "
    "the score doubles are themselves bit-identical (driver-proven "
    "by quality_bigram_lm). One extra shuffle over the plain "
    "sampler (the score join).",
)
def q_token_budget_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    ).join(
        bigram_lm_scores(d).select("doc_id", "bits_per_bigram"),
        "doc_id",
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("bits_per_bigram").asc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.filter(
        F.col("cum_tokens") <= QUALITY_BUDGET_PER_SOURCE
    ).select("doc_id", "source", "n_tokens", "bits_per_bigram", "cum_tokens")


@register(
    "embedding_quantize_int8",
    quantize_int8_sql(),
    tags=("extension", "embedding", "quantization"),
    doc="Per-vector int8 min-max quantization with reconstruction "
    "error (max |err|, MSE). Scale rationale: int8 codes are 4× "
    "smaller than float32 — the ANN candidate scan over a 100 TB "
    "embedding corpus runs on codes in memory, exact re-rank reads "
    "only the shortlist's floats. Pure per-row array expressions: "
    "narrow, no shuffle, codegen inside the scan stage.",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.similarity import quantize_int8_stats

    return quantize_int8_stats(spread(load_table(spark, sf_dir, "embeddings")))


TOKEN_BUDGET_PER_SOURCE = 2000


@register(
    "token_budget_sample",
    f"""
WITH t AS (
  SELECT doc_id, source, {token_count_sql('text')} AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(SUM(n_tokens) OVER (PARTITION BY source
                             ORDER BY n_tokens DESC, doc_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM t
)
SELECT doc_id, source, n_tokens, cum_tokens
FROM c WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
""",
    tags=("extension", "pipeline", "sampling"),
    doc=f"Token-budget subsampling: per source, keep the largest docs "
    f"(ties by id) until a {TOKEN_BUDGET_PER_SOURCE}-token budget is "
    "hit — the deterministic form of 'mix K tokens per domain' corpus "
    "curation. One shuffle (window by source). Integer sort keys only, "
    "so ordering is exact cross-engine.",
)
def q_token_budget_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = spread(load_table(spark, sf_dir, "documents"))
    t = d.select(
        "doc_id", "source", token_count(F.col("text")).alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_tokens").desc(), F.col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return cum.filter(
        F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE
    ).select("doc_id", "source", "n_tokens", "cum_tokens")


# ---------------------------------------------------------------------------
# Hard-negative mining (contrastive-training data prep)
# ---------------------------------------------------------------------------
def _hard_negatives_sql(k: int, n_queries: int) -> str:
    from msstreamingstack_spark.operators.similarity import (
        COS_ROUND,
        cosine_sql,
    )

    cos = cosine_sql("q.embedding", "c.embedding")
    return f"""
WITH scored AS (
  SELECT q.vec_id AS query_id, q.label AS query_label,
         c.vec_id AS negative_id,
         round({cos}, {COS_ROUND}) AS cos
  FROM embeddings q JOIN embeddings c
    ON q.label <> c.label
  WHERE q.vec_id < {n_queries}
)
SELECT query_id, query_label, negative_id, cos, CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
            ORDER BY cos DESC, negative_id) AS rank
  FROM scored)
WHERE rank <= {k}
"""


@register(
    "mine_hard_negatives",
    _hard_negatives_sql(5, N_QUERY_VECS),
    tags=("extension", "similarity", "pipeline", "contrastive"),
    doc="Hard-negative mining for contrastive training (the DPR/SimCSE "
    "data-prep step): for each query vector, the top-5 most-similar "
    "corpus vectors carrying a DIFFERENT label — the negatives that "
    "actually teach a metric model, vs random negatives that are "
    "trivially far. Exact kernel here (query side broadcast, label "
    "inequality as the join predicate, rounded-cosine rank window); "
    "at 100 TB the same label-aware shortlist comes from the IVF/SRP "
    "candidate generators (similarity_ann_*) with the label filter "
    "pushed into the candidate join — this query pins the semantics "
    "those scale paths must reproduce. Deterministic ties on "
    "negative_id; fully DuckDB-oracled.",
)
def q_mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.similarity import COS_ROUND, cosine

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    q = F.broadcast(
        emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("query_label"),
            F.col("embedding").alias("qv"),
        )
    )
    c = emb.select(
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("neg_label"),
        F.col("embedding").alias("cv"),
    )
    scored = (
        q.join(c, F.col("query_label") != F.col("neg_label"))
        .withColumn("cos", F.round(cosine(F.col("qv"), F.col("cv")), COS_ROUND))
        .select("query_id", "query_label", "negative_id", "cos")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("negative_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "query_label", "negative_id", "cos", "rank")
    )


def _hard_negatives_ann_sql() -> str:
    from msstreamingstack_spark.operators.similarity import (
        hard_negatives_ann_sql,
    )

    return hard_negatives_ann_sql(n_queries=N_QUERY_VECS)


@register(
    "mine_hard_negatives_ann",
    _hard_negatives_ann_sql(),
    tags=("extension", "similarity", "pipeline", "contrastive", "ann", "ivf"),
    doc="mine_hard_negatives on the SCALE path its doc promised (r8 "
    "verdict task #5): candidates come from the pinned-IVF probe "
    "kernel (nprobe cells per query, broadcast probe join) with the "
    "label-inequality filter pushed into the candidate join — "
    "same-label vectors never reach the cosine stage, and the corpus "
    "pays ~nprobe/K of a full scan instead of |Q| x N. Identical "
    "output schema and tie discipline as the exact kernel; recall vs "
    "the exact top-5 is property-bounded in tests. Fully "
    "DuckDB-oracled (the pinned quantizer is literal-exact cross-"
    "engine), unlike typical ANN surfaces that settle for rows-only.",
)
def q_mine_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.similarity import (
        hard_negatives_ann_pinned,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    return hard_negatives_ann_pinned(
        emb, emb.filter(F.col("vec_id") < N_QUERY_VECS)
    )


# ---------------------------------------------------------------------------
# Event debounce (batch analogue of dropDuplicatesWithinWatermark)
# ---------------------------------------------------------------------------
DEBOUNCE_GAP_SEC = 300


@register(
    "dedup_events_debounce",
    f"""
WITH ev AS (SELECT event_id, user_id, event_type,
                   epoch_ns(ts)//1000000000 AS ts_sec FROM events),
g AS (
  SELECT event_id, user_id, event_type, ts_sec,
         CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id, event_type
                                     ORDER BY ts_sec, event_id) IS NULL
                OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id, event_type
                                              ORDER BY ts_sec, event_id)
                   > {DEBOUNCE_GAP_SEC}
              THEN 1 ELSE 0 END AS is_head
  FROM ev
),
s AS (
  SELECT *, SUM(is_head) OVER (PARTITION BY user_id, event_type
                               ORDER BY ts_sec, event_id
                               ROWS UNBOUNDED PRECEDING) AS grp
  FROM g
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, event_type, grp
                            ORDER BY ts_sec, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY user_id, event_type, grp) AS n_collapsed
  FROM s
)
SELECT event_id, user_id, event_type, ts_sec,
       CAST(n_collapsed AS BIGINT) AS n_collapsed
FROM r WHERE rn = 1
""",
    tags=("extension", "dedup", "events", "debounce", "window"),
    doc=f"Gap-based event debounce — the BATCH analogue of the "
    "streaming `dropDuplicatesWithinWatermark` path "
    "(streaming/watermark.py): within each (user, event_type) key, "
    f"bursts whose inter-event gap never exceeds {DEBOUNCE_GAP_SEC}s "
    "collapse to their first event, carrying how many rows they "
    "absorbed — the duplicate-click/retry-storm suppressor a telemetry "
    "pipeline runs before aggregation. Same machinery as "
    "sessionization (ONE window shuffle on the key; gap-indicator "
    "running sum forms the debounce group, rank-1 row survives); "
    "chains with sub-gap spacing collapse regardless of total span — "
    "gap semantics, not fixed-window, exactly like the streaming "
    "twin's state eviction. Integer epoch seconds end-to-end: no "
    "float surface in the hash at all.",
)
def q_dedup_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.sources.tables import events_with_time

    ev = events_with_time(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "ts_sec"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts_sec", "event_id")
    prev = F.lag("ts_sec").over(w)
    is_head = (
        prev.isNull() | ((F.col("ts_sec") - prev) > DEBOUNCE_GAP_SEC)
    ).cast("long")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s = ev.withColumn("grp", F.sum(is_head).over(run))
    wg = Window.partitionBy("user_id", "event_type", "grp")
    r = s.withColumn(
        "rn", F.row_number().over(wg.orderBy("ts_sec", "event_id"))
    ).withColumn("n_collapsed", F.count("*").over(wg))
    return r.filter(F.col("rn") == 1).select(
        "event_id",
        "user_id",
        "event_type",
        "ts_sec",
        F.col("n_collapsed").cast("long").alias("n_collapsed"),
    )


# ---------------------------------------------------------------------------
# DSIR importance weights (data selection via importance resampling)
# ---------------------------------------------------------------------------
# Hashed n-gram importance weights (Xie et al. 2023, "Data Selection
# for Language Models via Importance Resampling"): score every raw
# document by how much more likely its hashed-unigram profile is under
# the TARGET distribution (here: the English slice) than under the raw
# corpus — log w(d) = Σ_b c_b(d) · log( p̂_t(b) / p̂_r(b) ) with
# Laplace-smoothed bucket probabilities. The bucket table is O(B)
# regardless of corpus size — that's the whole trick at 100 TB: the
# "language model" ships as a broadcastable B-row table, and scoring
# is one explode → per-(doc,bucket) fold → broadcast join.
DSIR_BUCKETS = 32
DSIR_SQL = f"""
WITH w AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
  FROM documents
),
f AS (
  SELECT doc_id, lang,
         TRY_CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT)
           % {DSIR_BUCKETS} AS b,
         COUNT(*) AS c
  FROM w GROUP BY 1, 2, 3
),
raw AS (SELECT b, SUM(c) AS cr FROM f GROUP BY b),
tgt AS (SELECT b, SUM(c) AS ct FROM f WHERE lang = 'en' GROUP BY b),
nt AS (SELECT SUM(c) AS n_t FROM f WHERE lang = 'en'),
nr AS (SELECT SUM(c) AS n_r FROM f)
SELECT doc_id,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(CAST(round(
           c * log2(CAST((COALESCE(ct, 0) + 1) * (n_r + {DSIR_BUCKETS}) AS DOUBLE)
                    / CAST((cr + 1) * (n_t + {DSIR_BUCKETS}) AS DOUBLE)), 9)
         AS DECIMAL(28,9))) AS DOUBLE) AS dsir_logratio
FROM f JOIN raw USING (b) LEFT JOIN tgt USING (b)
     CROSS JOIN nt CROSS JOIN nr
GROUP BY doc_id
"""


@register(
    "dsir_importance_weights",
    DSIR_SQL,
    tags=("extension", "pipeline", "quality", "sampling", "dsir"),
    doc="DSIR importance weights (Xie et al. 2023): per-document "
    "log-importance of the target (English-slice) hashed-unigram "
    "distribution over the raw corpus distribution, Laplace-smoothed "
    "— the data-selection score a pipeline feeds into importance "
    "resampling (emitted with n_tokens so consumers normalize per "
    "token themselves). Plan: ONE word explode folded to "
    "per-(doc, bucket) counts; the target/raw bucket tables are "
    "B-row aggregates of that SAME fold (never a second explode) and "
    "join back BROADCAST (B=32 here; B=10k in the paper — still "
    "broadcastable at any corpus size), the corpus totals are "
    "explicit-broadcast scalars. Cross-engine determinism: bucket = "
    "md5-derived integer (conv == 0x-cast, bit-exact), probability "
    "ratios are exact-integer products cast to DOUBLE once, and each "
    "occurrence term is round-then-DECIMAL-summed, so the per-doc fold "
    "is order-free. The ref engine has no corpus surface (SURVEY.md "
    "§2.5 ABSENT) — north-star extension.",
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.caching import rotating_persist

    d = spread(load_table(spark, sf_dir, "documents"))
    words = d.select(
        "doc_id", "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("word")), 1, 8), 16, 10).cast("bigint")
        % DSIR_BUCKETS
    )
    # eager: f feeds FOUR broadcast subtrees (raw/tgt totals + the two
    # scalar counts); lazy population races per broadcast build (round
    # 10 A/B: 4.0 s lazy vs 2.5 s eager single-shot)
    f = rotating_persist(
        words.groupBy("doc_id", "lang", bucket.alias("b")).agg(
            F.count("*").alias("c")
        ),
        "dsir_importance_weights.f",
        eager=True,
    )
    raw = f.groupBy("b").agg(F.sum("c").alias("cr"))
    tgt = f.filter(F.col("lang") == "en").groupBy("b").agg(
        F.sum("c").alias("ct")
    )
    n_t = f.filter(F.col("lang") == "en").agg(F.sum("c").alias("n_t"))
    n_r = f.agg(F.sum("c").alias("n_r"))
    num = (
        (F.coalesce(F.col("ct"), F.lit(0)) + 1)
        * (F.col("n_r") + F.lit(DSIR_BUCKETS))
    ).cast("double")
    den = ((F.col("cr") + 1) * (F.col("n_t") + F.lit(DSIR_BUCKETS))).cast(
        "double"
    )
    term = F.round(F.col("c") * F.log2(num / den), 9).cast("decimal(28,9)")
    return (
        f.join(F.broadcast(raw), "b")
        .join(F.broadcast(tgt), "b", "left")
        .crossJoin(F.broadcast(n_t))
        .crossJoin(F.broadcast(n_r))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            # total log-importance as the exact DECIMAL fold cast to
            # double once — NOT divided per-token here, because a final
            # double divide + round can land on a half-ulp rounding
            # boundary and split the engines in the 9th decimal;
            # consumers normalize by n_tokens themselves
            F.sum(term).cast("double").alias("dsir_logratio"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch (mergeable frequency sketch, fully deterministic)
# ---------------------------------------------------------------------------
CMS_WIDTH = 64
CMS_DEPTH = 4


def _cms_bucket_sql(expr: str, depth: int) -> str:
    # independent rows via salted md5: the engine's bucket hash, one
    # salt per sketch row
    from msstreamingstack_spark.streaming.heavy_hitters import bucket_hash_sql

    return bucket_hash_sql(f"'r{depth}:' || {expr}", CMS_WIDTH)


@register(
    "sketch_countmin_user_events",
    f"""
WITH ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
rows_ AS (
  {" UNION ALL ".join(
      f"SELECT {d} AS d, {_cms_bucket_sql('k', d)} AS b, COUNT(*) AS c "
      f"FROM ev GROUP BY 2"
      for d in range(CMS_DEPTH)
  )}
),
truth AS (
  SELECT k, COUNT(*) AS true_count FROM ev GROUP BY k
  ORDER BY true_count DESC, k LIMIT 20
),
est AS (
  SELECT t.k, t.true_count,
         MIN(r.c) AS cms_est
  FROM truth t
  JOIN rows_ r
    ON r.b = CASE r.d
       {" ".join(
           f"WHEN {d} THEN {_cms_bucket_sql('t.k', d)}"
           for d in range(CMS_DEPTH)
       )} END
  GROUP BY t.k, t.true_count
)
SELECT k AS user_key, true_count, CAST(cms_est AS BIGINT) AS cms_est
FROM est
""",
    tags=("extension", "approx", "sketch", "countmin"),
    doc="Count-min sketch over event user keys (Cormode & "
    "Muthukrishnan 2005) — the third mergeable-sketch family next to "
    "HLL distinct and the quantile sketch, and unlike both it is "
    "FULLY oracled: the sketch is d×w integer counters built from "
    "salted md5 row hashes (deterministic cross-engine, the engine's "
    "bucket-hash idiom), so both engines materialize identical "
    "counter tables. The query reports the true top-20 keys with "
    "their point estimates (min over rows); the CMS overestimate "
    "guarantee est ≥ true is pytest-pinned with the ε·N error bound. "
    "Plan: d passes folded to (d, bucket) partial counts — d·w rows "
    "TOTAL state regardless of stream length (mergeable by addition; "
    "the streaming heavy-hitters store is the tracking counterpart). "
    "Ref has no sketch surface (SURVEY.md §2.5 ABSENT) — north-star "
    "extension.",
)
def q_sketch_countmin_user_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from msstreamingstack_spark.caching import rotating_persist
    from msstreamingstack_spark.streaming.heavy_hitters import bucket_hash

    ev = rotating_persist(
        spread(load_table(spark, sf_dir, "events")).select(
            F.col("user_id").cast("string").alias("k")
        ),
        "sketch_countmin.ev",
    )
    # populate before the per-row sketch subtrees fork off the cache
    # (A/B +9% at sf0.1; round-8 broadcast-race lesson)
    ev.count()

    def row_bucket(col, d):
        return bucket_hash(F.concat(F.lit(f"r{d}:"), col), CMS_WIDTH)

    # r11 (guide §2.3): ONE pass over the cached key frame computes
    # all d row-buckets per key and folds them in one map-combined
    # (d, b) aggregate — the union-of-d-scans form re-scanned the
    # cache (and re-dispatched a scan stage) once per depth for the
    # same total hash work. Output rows are identical (d, b, c).
    rows = (
        ev.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).alias("d"),
                            row_bucket(F.col("k"), d).alias("b"),
                        )
                        for d in range(CMS_DEPTH)
                    ]
                )
            ).alias("db")
        )
        .groupBy(F.col("db.d").alias("d"), F.col("db.b").alias("b"))
        .agg(F.count("*").alias("c"))
    )
    truth = (
        ev.groupBy("k")
        .agg(F.count("*").alias("true_count"))
        .orderBy(F.col("true_count").desc(), F.col("k").asc())
        .limit(20)
    )
    probes = truth
    for d in range(CMS_DEPTH):
        probes = probes.withColumn(
            f"b{d}", row_bucket(F.col("k"), d)
        )
    est = (
        probes.join(
            F.broadcast(rows),
            F.expr(
                "b = CASE d "
                + " ".join(f"WHEN {d} THEN b{d}" for d in range(CMS_DEPTH))
                + " END"
            ),
        )
        .groupBy("k", "true_count")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    return est.select(
        F.col("k").alias("user_key"), "true_count", "cms_est"
    )


# ---------------------------------------------------------------------------
# Gopher-style rule filter (integer rule algebra, no division anywhere)
# ---------------------------------------------------------------------------
GOPHER_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)
_STOP_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)


@register(
    "quality_gopher_rules",
    f"""
WITH w AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
),
f AS (SELECT doc_id, word, COUNT(*) AS c FROM w GROUP BY 1, 2),
a AS (
  SELECT doc_id,
         CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(SUM(c * length(word)) AS BIGINT) AS sum_word_len,
         CAST(SUM(CASE WHEN regexp_matches(word, '[a-zA-Z]')
                       THEN c ELSE 0 END) AS BIGINT) AS n_alpha_words,
         CAST(SUM(CASE WHEN word IN ({_STOP_SQL}) THEN 1 ELSE 0 END)
              AS BIGINT) AS n_stopwords,
         CAST(MAX(c) AS BIGINT) AS top_word_count
  FROM f GROUP BY doc_id
)
SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_stopwords,
       top_word_count,
       n_words BETWEEN 10 AND 100000 AS pass_word_count,
       3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
         AS pass_mean_word_len,
       5 * n_alpha_words >= 4 * n_words AS pass_alpha_ratio,
       n_stopwords >= 1 AS pass_stopwords,
       5 * top_word_count <= n_words AS pass_repetition,
       (n_words BETWEEN 10 AND 100000)
         AND 3 * n_words <= sum_word_len AND sum_word_len <= 10 * n_words
         AND 5 * n_alpha_words >= 4 * n_words
         AND n_stopwords >= 1
         AND 5 * top_word_count <= n_words AS gopher_pass
FROM a
""",
    tags=("extension", "pipeline", "quality", "gopher", "rules"),
    doc="Gopher-style quality rule filter (Rae et al. 2021 §A1.1 "
    "adapted to the fixture): per-doc word count bounds, mean word "
    "length in [3,10], ≥80% alphabetic words, ≥1 stopword, top-word "
    "share ≤20% — each emitted as its own boolean plus the composite "
    "gate. Every rule is INTEGER algebra (3n ≤ Σlen, 5·top ≤ n …), "
    "never a rounded division — divisions of exact integers can land "
    "on rounding half-boundary ties that split the engines (the "
    "PageRank lesson, plans/notes.md); consumers derive display "
    "ratios themselves. Plan: ONE word explode folded to per-(doc, "
    "word) type counts, then a per-doc fold — the token-counting "
    "shuffle shape, all JVM. Rules the fixture can't exercise "
    "(symbol ratio, bullet lines — the word-soup has no punctuation "
    "or newlines) are omitted rather than trivially-true. Ref has no "
    "corpus surface (SURVEY.md §2.5 ABSENT) — north-star extension.",
)
def q_quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = spread(load_table(spark, sf_dir, "documents"))
    f = (
        d.select(
            "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    a = f.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.sum(F.col("c") * F.length("word")).cast("long").alias(
            "sum_word_len"
        ),
        F.sum(
            F.when(F.col("word").rlike("[a-zA-Z]"), F.col("c")).otherwise(0)
        )
        .cast("long")
        .alias("n_alpha_words"),
        F.sum(
            F.when(F.col("word").isin(*GOPHER_STOPWORDS), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_stopwords"),
        F.max("c").cast("long").alias("top_word_count"),
    )
    n, sl = F.col("n_words"), F.col("sum_word_len")
    p_wc = n.between(10, 100000)
    p_len = (3 * n <= sl) & (sl <= 10 * n)
    p_alpha = 5 * F.col("n_alpha_words") >= 4 * n
    p_stop = F.col("n_stopwords") >= 1
    p_rep = 5 * F.col("top_word_count") <= n
    return a.select(
        "doc_id",
        "n_words",
        "sum_word_len",
        "n_alpha_words",
        "n_stopwords",
        "top_word_count",
        p_wc.alias("pass_word_count"),
        p_len.alias("pass_mean_word_len"),
        p_alpha.alias("pass_alpha_ratio"),
        p_stop.alias("pass_stopwords"),
        p_rep.alias("pass_repetition"),
        (p_wc & p_len & p_alpha & p_stop & p_rep).alias("gopher_pass"),
    )


# ---------------------------------------------------------------------------
# Retrieval scoring (BM25) — the ranking function a data-curation /
# RAG pipeline runs over the corpus it just cleaned and deduped.
# ---------------------------------------------------------------------------
# Fixed query-term set mixing common terms ('stream' df≈888-doc-scale,
# 'window') with a rare one ('dup', df≈26 at sf0.01) so the idf
# weighting is actually exercised, not a constant factor.
BM25_TERMS = ("stream", "window", "dup")
BM25_K1 = 1.2
BM25_B = 0.75


@register(
    "retrieval_bm25_topk",
    f"""
WITH words AS (
  SELECT d.doc_id, u.word
  FROM documents d, UNNEST(string_split(d.text, ' ')) AS u(word)
  WHERE u.word <> ''
), wc AS (
  SELECT doc_id, word, COUNT(*) AS tf FROM words GROUP BY doc_id, word
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM wc GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, word, tf FROM wc
  WHERE word IN {BM25_TERMS!r}
), idf AS (
  SELECT word, COUNT(*) AS df FROM tf GROUP BY word
)
SELECT t.doc_id,
       CAST(SUM(CAST(round(
         ln((s.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0)
         * (t.tf * {BM25_K1 + 1.0})
         / (t.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * l.dl / s.avgdl)),
         9) AS DECIMAL(28,9))) AS DOUBLE) AS bm25,
       COUNT(*) AS n_terms_matched
FROM tf t
JOIN idf f USING (word)
JOIN dl l USING (doc_id)
CROSS JOIN stats s
GROUP BY t.doc_id
ORDER BY bm25 DESC, t.doc_id ASC
LIMIT 20
""",
    tags=("extension", "text", "retrieval", "topk"),
    doc="BM25 top-k document retrieval for a fixed query-term set "
    "(Robertson/Sparck-Jones idf, k1=1.2 b=0.75). The corpus-sized "
    "inputs never shuffle: per-doc length dl is a PER-ROW projection "
    "(count of non-empty split tokens == the tf-table row sum the "
    "oracle states, exactly — docs with zero words drop from dl/stats "
    "in both forms), and the query-term tf fold filters to the "
    "|terms| matching occurrences BEFORE its only exchange. The "
    "3-row df table and the (n_docs, avgdl) scalar are broadcast. "
    "Per-term scores round to 9 decimals then sum in DECIMAL so the "
    "fold is order-free vs the oracle; top-20 is tie-broken by "
    "doc_id. At 100 TB nothing vocabulary- or token-sized crosses an "
    "exchange — only query-term postings do.",
)
def q_retrieval_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dl = docs.select(
        "doc_id",
        F.expr("size(filter(split(text, ' '), w -> w != ''))")
        .cast("long")
        .alias("dl"),
    ).filter(F.col("dl") > 0)
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    words = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    tf = (
        words.filter(F.col("word").isin(*BM25_TERMS))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    idf_df = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(idf_df), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term_score = F.round(
        idf
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (
                F.lit(1.0 - BM25_B)
                + F.lit(BM25_B) * F.col("dl") / F.col("avgdl")
            )
        ),
        9,
    ).cast("decimal(28,9)")
    return (
        scored.groupBy("doc_id")
        .agg(
            F.sum(term_score).cast("double").alias("bm25"),
            F.count("*").alias("n_terms_matched"),
        )
        .orderBy(F.col("bm25").desc(), F.col("doc_id").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Per-source quality calibration — the cross-source comparability fix:
# raw quality scores are not comparable between a forum crawl and an
# encyclopedia, so each source is converted to its own percentile
# scale before one global keep-gate is applied.
# ---------------------------------------------------------------------------
CALIB_KEEP_PCT = 0.7


@register(
    "quality_source_calibrated",
    f"""
WITH s AS (
  SELECT doc_id, source,
         {distinct_token_ratio_sql('text')} AS score
  FROM documents
)
SELECT doc_id, source,
       round(score, 9) AS score,
       round(percent_rank() OVER (PARTITION BY source
                                  ORDER BY score, doc_id), 9) AS pct_rank,
       CAST(CASE WHEN percent_rank() OVER (PARTITION BY source
                                           ORDER BY score, doc_id)
                      >= {CALIB_KEEP_PCT}
            THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM s
""",
    tags=("extension", "text", "quality", "window"),
    doc="Per-source quality calibration: the distinct-token-ratio "
    "signal is converted to a percent_rank WITHIN each source, then "
    f"one global gate (top {int((1 - CALIB_KEEP_PCT) * 100)}% of each "
    "source) is applied — quantile normalization, the standard fix "
    "for raw quality scores not being comparable across sources with "
    "different base styles. A raw global threshold would keep almost "
    "everything from the cleanest source and almost nothing from the "
    "noisiest; the calibrated gate keeps the same FRACTION of every "
    "source. One window shuffle partitioned by source — parallel "
    "ACROSS sources, one task per source WITHIN; percent_rank is pure "
    "integer-rank arithmetic (rank-1)/(n-1), bit-identical "
    "cross-engine; the doc_id tiebreak makes the ordering total so "
    "ranks are deterministic.",
)
def q_quality_source_calibrated(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.functions.text import distinct_token_ratio

    d = spread(load_table(spark, sf_dir, "documents"))
    s = d.select(
        "doc_id",
        "source",
        distinct_token_ratio(F.col("text")).alias("score"),
    )
    w = Window.partitionBy("source").orderBy("score", "doc_id")
    pr = F.percent_rank().over(w)
    return s.select(
        "doc_id",
        "source",
        F.round(F.col("score"), 9).alias("score"),
        F.round(pr, 9).alias("pct_rank"),
        F.when(pr >= CALIB_KEEP_PCT, 1).otherwise(0).cast("long").alias("keep"),
    )


# ---------------------------------------------------------------------------
# Label-outlier mining — per-label centroid, then the vectors LEAST
# aligned with their own label's centroid: the standard first-pass
# mislabel / noisy-annotation detector over an embedded dataset.
# ---------------------------------------------------------------------------
LABEL_OUTLIER_K = 5


@register(
    "embedding_label_outliers",
    f"""
WITH pe AS (
  SELECT label, vec_id,
         unnest(list_transform(range(len(embedding)),
                i -> struct_pack(pos := i,
                     val := CAST(embedding[i + 1] AS DOUBLE)))) AS u
  FROM embeddings
),
pe2 AS (SELECT label, vec_id, u.pos AS pos, u.val AS val FROM pe),
cd AS (
  SELECT label, pos,
         CAST(SUM(CAST(val AS DECIMAL(38,12))) AS DOUBLE) AS s,
         COUNT(*) AS cnt
  FROM pe2 GROUP BY 1, 2
),
cent AS (
  SELECT label, list(s / cnt ORDER BY pos) AS centroid FROM cd
  GROUP BY label
),
scored AS (
  SELECT e.label, e.vec_id,
         round({cosine_sql("e.embedding", "c.centroid")}, {COS_ROUND})
           AS cos_centroid
  FROM embeddings e JOIN cent c ON e.label = c.label
),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY label
                               ORDER BY cos_centroid, vec_id) AS rn
  FROM scored
)
SELECT label, vec_id, cos_centroid, rn FROM r WHERE rn <= {LABEL_OUTLIER_K}
""",
    tags=("extension", "embedding", "quality", "outlier"),
    doc="Mislabel mining: per label an exact centroid (per-dimension "
    "DECIMAL-summed mean over the posexploded vectors — float sums "
    "are order-dependent, decimal sums are not), then every vector's "
    f"cosine to its OWN label centroid (the registry's established "
    "sequential-fold dot + round-9 discipline), bottom-"
    f"{LABEL_OUTLIER_K} per label = the annotation-noise review "
    "queue. This is the cheap first pass every labeled-embedding "
    "pipeline runs before training a classifier head: a vector "
    "anti-aligned with its label's mass is either mislabeled or an "
    "ambiguous example worth auditing. 100 TB: the posexplode fan-"
    "out is x-dims but collapses map-side into the (label, dim) "
    "centroid frame — labels x dims rows total, broadcast back; the "
    "scoring pass is embarrassingly parallel with NO shuffle beyond "
    "the bounded per-label bottom-K rank (topk_per_key_salted is the "
    "hot-label knob, same (cos, vec_id) total order). Extension "
    "(SURVEY.md SS2.5: no similarity surface in the reference).",
)
def q_embedding_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from msstreamingstack_spark.operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    pe = emb.select(
        "label",
        "vec_id",
        F.posexplode("embedding").alias("pos", "val"),
    )
    cd = pe.groupBy("label", "pos").agg(
        F.sum(F.col("val").cast("double").cast("decimal(38,12)"))
        .cast("double")
        .alias("s"),
        F.count("*").alias("cnt"),
    )
    cent = (
        cd.select(
            "label",
            F.struct(
                F.col("pos"), (F.col("s") / F.col("cnt")).alias("m")
            ).alias("pm"),
        )
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list("pm")),
                lambda x: x.getField("m"),
            ).alias("centroid")
        )
    )
    scored = emb.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        F.round(
            cosine(F.col("embedding"), F.col("centroid")), COS_ROUND
        ).alias("cos_centroid"),
    )
    wL = Window.partitionBy("label").orderBy("cos_centroid", "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(wL))
        .filter(F.col("rn") <= LABEL_OUTLIER_K)
        .select("label", "vec_id", "cos_centroid", "rn")
    )
