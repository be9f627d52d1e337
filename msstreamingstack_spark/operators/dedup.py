"""Deduplication operators for large-scale training-data pipelines.

Four tiers, all deterministic and (except where noted) oracle-checkable:

1. exact        — md5-groupBy; one shuffle on the digest.
2. ngram-jaccard— exact set similarity on word-shingles via a
                  shingle-inverted-index self-join (the verify kernel).
3. minhash-LSH  — scale path: fixed-permutation MinHash signatures,
                  banded bucketing; candidates verified with exact
                  jaccard. At 100 TB the shingle join only runs on
                  LSH candidates (tiny) instead of all pairs.
4. simhash      — 48-bit weighted simhash + hamming-distance pairs.

Hashing is the cross-engine 48-bit md5 prefix (functions/text.py), so
the DuckDB oracle reproduces signatures bit-for-bit — no RNG anywhere.

Scale notes: the all-pairs stages (simhash pair scan, jaccard on
candidates) are written candidate-first: banding bounds the pair set,
and the shingle explode carries only (doc_id, shingle-hash) longs, not
text. Skewed mega-shingles (boilerplate) would need a document-
frequency cap — standard trick, left as a filter hook.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from msstreamingstack_spark.functions.text import (
    MOD_HASH,
    hash48,
    hash48_sql,
    hash60,
    hash60_sql,
    shingles,
    shingles_sql,
)

NUM_HASHES = 16
BAND_SIZE = 2  # 8 bands × 2 rows
SIMHASH_BITS = 48

# Fixed odd multipliers/offsets for the minhash permutation family
# h_i(x) = (A[i]*x + B[i]) mod (2^61-1); generated from an LCG-style
# recurrence so both engines share literal constants.
_MULT = 6364136223846793005
_INC = 1442695040888963407
MINHASH_A = tuple(((_MULT * (i + 1)) % 16381) | 1 for i in range(NUM_HASHES))
MINHASH_B = tuple((_INC * (i + 1)) % MOD_HASH for i in range(NUM_HASHES))


def _perm(i: int, h: Column) -> Column:
    return (h * MINHASH_A[i] + MINHASH_B[i]) % MOD_HASH


def _perm_sql(i: int, h_sql: str) -> str:
    return f"(({h_sql}) * {MINHASH_A[i]} + {MINHASH_B[i]}) % {MOD_HASH}"


# ---------------------------------------------------------------------------
# 1. Exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Canonical id per content-hash group = min doc id; rows flagged
    as duplicates when not canonical. A window over the digest
    partition → single shuffle, no join."""
    digest = F.md5(F.col(text_col).cast("binary"))
    hashed = docs.withColumn("content_md5", digest)
    w = Window.partitionBy("content_md5")
    return (
        hashed.withColumn("keep_id", F.min(id_col).over(w))
        .withColumn("is_dup", F.col(id_col) != F.col("keep_id"))
        .select(id_col, "content_md5", "keep_id", "is_dup")
    )


EXACT_DEDUP_SQL = """
SELECT doc_id, md5(text) AS content_md5,
       MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep_id,
       doc_id <> MIN(doc_id) OVER (PARTITION BY md5(text)) AS is_dup
FROM documents
"""


# ---------------------------------------------------------------------------
# Shared shingle explode
# ---------------------------------------------------------------------------
def doc_shingle_hashes(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    persist: bool = True,
    slot: str | None = None,
    eager: bool = False,
) -> DataFrame:
    """(doc_id, h) — 48-bit shingle hashes, unique per doc WITHOUT a
    distinct shuffle: ``shingles()`` already applies ``array_distinct``
    per document, so (doc_id, h) can only repeat via a 48-bit collision
    between two distinct shingles of the SAME doc (~n²/2⁴⁹ ≈ 1e-10 per
    doc). The DuckDB oracle twin drops its DISTINCT too and both
    engines share the md5-derived hash, so even a collision stays
    bit-identical cross-engine. Dropping the explicit distinct removes
    a full shuffle of the exploded table — the largest intermediate in
    the dedup family. Only longs leave the scan stage; the text column
    is pruned immediately after.

    Persisted by default (MEMORY_AND_DISK): every dedup kernel reads
    this table 3-6× per action (signatures, sizes, both verify-join
    sides) and without a persist each read re-runs the shingle
    explosion over the full text — the single most expensive subtree
    in the dedup family. The cached form is two longs per shingle,
    orders of magnitude smaller than the text it came from; at
    cluster scale MEMORY_AND_DISK spills, which still beats
    re-shingling 100 TB several times. Callers doing a single pass
    can opt out with ``persist=False``; registry call sites pass a
    ``slot`` so repeat invocations rotate ONE cache entry per site
    (msstreamingstack_spark.caching) instead of leaking one per call.
    """
    from pyspark.storagelevel import StorageLevel

    sh = docs.select(
        id_col, F.explode(shingles(F.col(text_col))).alias("sh")
    ).select(id_col, hash48(F.col("sh")).alias("h"))
    if not persist:
        return sh
    if slot is not None:
        from msstreamingstack_spark.caching import rotating_persist

        sh = rotating_persist(sh, slot)
        if eager:
            # populate the cache before the caller forks it under
            # broadcast subtrees: broadcasts build eagerly and RACE an
            # unpopulated cache, each recomputing the shingle explode
            # from lineage (plans/notes.md round 8). Opt-in per call
            # site — the extra action costs ~0.2 s, so only sites with
            # a MEASURED duplication win pass eager=True
            # (minhash_lsh 6.6->3.4 s, dfcapped 9.0->6.3 s at sf0.1;
            # ngram_jaccard and decontaminate_minhash measured -4/-6%
            # and stay lazy).
            sh.count()
        return sh
    return sh.persist(StorageLevel.MEMORY_AND_DISK)


def doc_shingle_hashes_sql(doc_rel: str = "documents") -> str:
    # no DISTINCT: mirrors doc_shingle_hashes — per-doc uniqueness comes
    # from the array_distinct inside shingles_sql
    return f"""
SELECT doc_id, {hash48_sql('sh')} AS h
FROM (SELECT doc_id, unnest({shingles_sql('text')}) AS sh FROM {doc_rel})
"""


# Size gate for the candidate-id pre-filter of the verify fold (guide
# §3.2, r11 verdict task #6). Below it the bench-scale answer stands
# (the r11 probe measured the filter's extra jobs LOSING at sf0.1;
# re-measured r12 on the array-form verify: off 0.76 vs on 0.89 s);
# above it the corpus-sized array fold is the cost and dropping
# non-candidate docs BEFORE the groupBy pays (16x: 1.34 vs 1.22 s;
# 64x: 1.99 vs 1.07 s — round 12 64× run, parity True at every
# scale). PySpark has no DataFrame Bloom builder, so the filter is
# the guide's sanctioned approximation: a broadcast LEFT SEMI join on
# the distinct candidate doc ids (exact, zero false positives).
# Catalyst sh estimates: sf0.1 ~0.17 MB (off), 16x ~3.2 MB (on),
# 64x ~12.9 MB (on) — 1 MiB sits in the measured crossover gap.
VERIFY_PREFILTER_MIN_BYTES = int(
    __import__("os").environ.get(
        "SPARK_GRAFT_VERIFY_PREFILTER_MIN_BYTES", str(1 << 20)
    )
)


def _jaccard_on_pairs(
    sh: DataFrame,
    pairs: DataFrame,
    prefilter: bool | None = None,
    pairs_slot: str = "jaccard_verify.pairs",
) -> DataFrame:
    """Exact jaccard for a given (d1, d2) candidate set, from the
    shingle-hash table: fold each doc's hashes into ONE array row,
    attach both docs' arrays to the candidate pair, |∩| =
    size(array_intersect), |∪| = n1 + n2 − |∩|.

    r11 (guide §2.3/§2.4): this replaces the old two-sided shingle
    join (pairs ⋈ sh on d1, ⋈ sh on (d2,h), groupBy(d1,d2), then TWO
    more sizes joins — 6 exchanges, two of them moving the full
    shingle table) with 3 exchanges of the per-doc array frame; the
    candidate fan-out rows never hit an exchange. Exactness: (doc, h)
    is duplicate-free BY CONSTRUCTION up to same-doc 48-bit collisions
    (see doc_shingle_hashes — ~1e-10 per doc; pinned absent on the
    fixture corpus at every SF by tests/test_extensions.py), so the
    per-doc array is a set and size(array_intersect) IS the join
    count. Interleaved best-of-3 A/B at sf0.1 on the LSH kernel:
    2.41-2.58 s → 1.74-1.93 s, output repr-exact.

    Contract notes (ADVICE r11):
    - Unlike the old inner-join form, zero-intersection candidate
      pairs are EMITTED here with jaccard = 0.0 (the old form silently
      dropped them). Every current caller filters jaccard >= t with
      t >= 0.5, so declared outputs are identical; a future caller
      passing t = 0.0 or consuming rows directly would see the new
      rows — filter n_inter > 0 there if the old contract matters.
    - Memory bound: the per-pair row carries BOTH docs' full
      shingle-hash arrays, so row width is O(shingles per doc) —
      bounded by document length (3-gram shingles ⇒ ≤ token count per
      doc), NOT by corpus size; and a hub doc's array is duplicated
      once per candidate pair it appears in. For a long-doc regime
      (arrays of millions of elements × high candidate fan-out) the
      old join-count form (pairs ⋈ sh on d1 ⋈ sh on (d2, h) →
      groupBy(d1, d2).count()) remains the fallback shape — streams
      instead of buffering, at the cost of 3 more exchanges.

    ``prefilter`` (auto by Catalyst size estimate of ``sh`` vs
    VERIFY_PREFILTER_MIN_BYTES): at corpus scale only a small fraction
    of docs appear in any candidate pair, yet the array fold above
    aggregates EVERY doc's shingles. The pre-filter persists the
    candidate set (it feeds both the id build and the attach joins —
    broadcast builds race a lazy cache, the r8/r10 lesson), distincts
    the candidate doc ids, and broadcast-semi-joins them onto ``sh``
    BEFORE the fold — the §3.2 Bloom shape (exact here: ids are
    broadcast verbatim, zero false positives). OFF at bench SFs by
    the size gate: the extra persist + distinct jobs measurably lose
    when the shingle table is small (r11: 2.41 → 4.47 s at sf0.1)."""
    if prefilter is None:
        prefilter = _plan_size_bytes(sh) >= VERIFY_PREFILTER_MIN_BYTES
    if prefilter:
        from msstreamingstack_spark.caching import rotating_persist

        pairs = rotating_persist(pairs, pairs_slot, eager=True)
        ids = pairs.select(
            F.explode(F.array(F.col("d1"), F.col("d2"))).alias("doc_id")
        ).distinct()
        sh = sh.join(F.broadcast(ids), "doc_id", "leftsemi")
    arrs = sh.groupBy("doc_id").agg(
        F.collect_list("h").alias("hs"), F.count("*").alias("n")
    )
    a1 = arrs.select(
        F.col("doc_id").alias("d1"), F.col("hs").alias("h1"),
        F.col("n").alias("n1"),
    )
    a2 = arrs.select(
        F.col("doc_id").alias("d2"), F.col("hs").alias("h2"),
        F.col("n").alias("n2"),
    )
    # shuffle_hash pins: at small SF AQE broadcasts the array table
    # (legitimately <10MB there), but then the attach stage can't be
    # skew-split and plan latency is erratic; shuffled hash on the key
    # keeps it partitioned — the only plan shape that exists at 100 TB,
    # and the stable one locally.
    return (
        pairs.join(a1.hint("shuffle_hash"), "d1")
        .join(a2.hint("shuffle_hash"), "d2")
        .withColumn(
            "n_inter",
            F.size(F.array_intersect("h1", "h2")).cast("long"),
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
        .drop("h1", "h2")
    )


# ---------------------------------------------------------------------------
# 2. Exact n-gram jaccard (all pairs sharing ≥1 shingle)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Direct-intersection form: one shingle self-join feeds the
    (d1, d2) count aggregate straight away — no materialized candidate
    set, no second pass over the shingle table. |∩| from the join,
    |∪| = n1 + n2 − |∩| from per-doc sizes."""
    sh = doc_shingle_hashes(docs, slot="ngram_jaccard.sh")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # shuffle_hash: see _jaccard_on_pairs — keep pair generation
    # partitioned by h (broadcast pair-gen can't skew-split and does
    # not exist as an option at scale)
    inter = (
        sh.select(F.col("doc_id").alias("d1"), "h")
        .join(sh.select(F.col("doc_id").alias("d2"), "h").hint("shuffle_hash"), "h")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select("d1", "d2", "jaccard")


def ngram_jaccard_sql(threshold: float = 0.8) -> str:
    return f"""
WITH sh AS ({doc_shingle_hashes_sql()}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= {threshold}
"""


# ---------------------------------------------------------------------------
# 3. MinHash + banded LSH, candidates verified with exact jaccard
# ---------------------------------------------------------------------------
def minhash_signatures(sh: DataFrame) -> DataFrame:
    """One row per doc with mh_0..mh_{NUM_HASHES-1} — a single groupBy
    with NUM_HASHES min-aggregates (map-side combined)."""
    return sh.groupBy("doc_id").agg(
        *[F.min(_perm(i, F.col("h"))).alias(f"mh_{i}") for i in range(NUM_HASHES)]
    )


def _band_buckets(sig: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Explode a signature row into its (band, key) LSH bucket rows —
    the shared candidate generator for the self-join (dedup) and the
    cross-corpus (decontamination) paths."""
    n_bands = NUM_HASHES // BAND_SIZE
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "_",
                    *[F.col(f"mh_{b * BAND_SIZE + j}") for j in range(BAND_SIZE)],
                ).alias("key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(id_col, F.explode(bands).alias("bk")).select(
        id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _band_key_sql(b: int) -> str:
    """DuckDB twin of the band key in :func:`_band_buckets` — the
    '_'-joined casts of ALL ``BAND_SIZE`` signature columns of band
    ``b``, generated from the same constant so changing ``BAND_SIZE``
    can never desynchronize oracle and builder."""
    return " || '_' || ".join(
        f"CAST(mh_{b * BAND_SIZE + j} AS VARCHAR)" for j in range(BAND_SIZE)
    )


def minhash_cross_pairs(
    docs: DataFrame,
    eval_pred,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy cross-corpus decontamination: banded-minhash candidates
    restricted to (train, eval) pairs — train docs that share an LSH
    band bucket with any held-out eval doc, verified with exact
    jaccard ≥ ``threshold``. The looser default threshold (0.5 vs the
    dedup family's 0.8) is deliberate: contamination screening wants
    paraphrase-level overlap, not just near-identity.

    Same scale shape as :func:`minhash_lsh_pairs` — bucket equi-join,
    never all-pairs — but the join is train×eval instead of a
    self-join, so candidate volume is bounded by the (small) eval
    side's bucket occupancy. ``eval_pred`` is an unbound Column
    predicate over ``doc_id``."""
    sh = doc_shingle_hashes(
        docs, text_col=text_col, id_col=id_col, slot="minhash_cross.sh"
    )
    buckets = _band_buckets(minhash_signatures(sh), id_col)
    train_b = buckets.filter(~eval_pred)
    eval_b = buckets.filter(eval_pred)
    cand = (
        train_b.alias("x")
        .join(eval_b.alias("y").hint("shuffle_hash"), ["band", "key"])
        .select(
            F.col(f"x.{id_col}").alias("d1"), F.col(f"y.{id_col}").alias("d2")
        )
        .distinct()
    )
    return (
        _jaccard_on_pairs(sh, cand, pairs_slot="minhash_cross.verify_pairs")
        .filter(F.col("jaccard") >= threshold)
        .select(
            F.col("d1").alias("train_id"),
            F.col("d2").alias("eval_id"),
            "jaccard",
        )
    )


def minhash_cross_sql(mod: int, rem: int, threshold: float = 0.5) -> str:
    """DuckDB twin of :func:`minhash_cross_pairs` for the eval split
    ``doc_id % mod = rem``."""
    mh_cols = ",\n         ".join(
        f"MIN({_perm_sql(i, 'h')}) AS mh_{i}" for i in range(NUM_HASHES)
    )
    n_bands = NUM_HASHES // BAND_SIZE
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=_band_key_sql(b)
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({doc_shingle_hashes_sql()}),
sig AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
  FROM buckets x JOIN buckets y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id % {mod} <> {rem} AND y.doc_id % {mod} = {rem}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_inter
  FROM cand c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.d1 AS train_id, i.d2 AS eval_id,
       CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.d1 JOIN sizes sb ON sb.doc_id = i.d2
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= {threshold}
"""


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Banded-LSH candidate generation + exact-jaccard verification.
    Bands explode to (band_idx, band_key) and bucket-join — the
    scalable alternative to an all-pairs signature comparison."""
    sh = doc_shingle_hashes(
        docs,
        slot="minhash.sh",
        eager=True,  # 6.6 -> 3.4 s at sf0.1: the signature and
        # sizes subtrees otherwise re-shingled under broadcasts
    )
    buckets = _band_buckets(minhash_signatures(sh))
    cand = (
        buckets.alias("x")
        .join(buckets.alias("y").hint("shuffle_hash"), ["band", "key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("d1"), F.col("y.doc_id").alias("d2")
        )
        .distinct()
    )
    out = _jaccard_on_pairs(sh, cand, pairs_slot="minhash.verify_pairs")
    return out.filter(F.col("jaccard") >= threshold).select("d1", "d2", "jaccard")


def minhash_lsh_sql(threshold: float = 0.8) -> str:
    n_bands = NUM_HASHES // BAND_SIZE
    mh_cols = ",\n         ".join(
        f"MIN({_perm_sql(i, 'h')}) AS mh_{i}" for i in range(NUM_HASHES)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {key} AS key FROM sig".format(
            b=b, key=_band_key_sql(b)
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh AS ({doc_shingle_hashes_sql()}),
sig AS (SELECT doc_id, {mh_cols} FROM sh GROUP BY doc_id),
buckets AS ({band_selects}),
cand AS (
  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
  FROM buckets x JOIN buckets y ON x.band = y.band AND x.key = y.key
  WHERE x.doc_id < y.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.d1, c.d2, COUNT(*) AS n_inter
  FROM cand c JOIN sh a ON a.doc_id = c.d1 JOIN sh b ON b.doc_id = c.d2 AND b.h = a.h
  GROUP BY 1, 2
)
SELECT i.d1, i.d2,
       CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.d1 JOIN sizes sb ON sb.doc_id = i.d2
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= {threshold}
"""


# ---------------------------------------------------------------------------
# 4. SimHash
# ---------------------------------------------------------------------------
def simhash_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """48-bit weighted simhash (full width of the cross-engine hash48;
    wider fingerprints make band keys selective — see simhash_pairs):
    token weight = occurrence count; bit b
    set when the weighted sum of ±1 votes from token-hash bit b is
    positive. One explode + ONE map-combined groupBy (SIMHASH_BITS = 48
    conditional sums): summing ±1 per token OCCURRENCE equals summing
    ±cnt per token TYPE exactly (integer arithmetic), so the
    (doc, tok) count pre-aggregation — a full exchange of the exploded
    token table — is unnecessary. The hash is computed per occurrence
    instead of per type; that per-row work is cheaper than the removed
    shuffle (measured)."""
    return _simhash_table_bits(docs, SIMHASH_BITS, hash48, text_col, id_col)


def _simhash_table_bits(
    docs: DataFrame, bits: int, hash_fn, text_col: str, id_col: str
) -> DataFrame:
    """Shared vote fold for any fingerprint width (48-bit declared
    kernel, 60-bit wide twin)."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).select(id_col, hash_fn(F.col("tok")).alias("h"))
    votes = toks.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("h").bitwiseAND(F.lit(1 << b)) != 0, F.lit(1))
                .otherwise(F.lit(-1))
            ).alias(f"s_{b}")
            for b in range(bits)
        ]
    )
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"s_{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return votes.select(id_col, sim.cast("long").alias("simhash"))


def _simhash_table_bits_sql(bits: int, hash_sql_fn, doc_rel: str) -> str:
    votes = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN cnt ELSE -cnt END) AS s_{b}"
        for b in range(bits)
    )
    packed = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, tok, COUNT(*) AS cnt, {hash_sql_fn('tok')} AS h
  FROM (SELECT doc_id, unnest(string_split(text, chr(32))) AS tok FROM {doc_rel})
  GROUP BY doc_id, tok
),
votes AS (SELECT doc_id, {votes} FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({packed} AS BIGINT) AS simhash FROM votes
"""


def simhash_table_sql(doc_rel: str = "documents") -> str:
    return _simhash_table_bits_sql(SIMHASH_BITS, hash48_sql, doc_rel)


SIMHASH_BANDS = 8  # small-corpus layout: t-subsets over 8 6-bit bands
# Large-corpus layout for max_hamming <= 6: 4-subsets of 10 bands —
# C(10,4)=210 keys of 18-20 bits. See simhash_pairs.
SIMHASH_WIDE_NB = 10
SIMHASH_WIDE_T = 4
# Generator dispatch: past this Catalyst-estimated size of the docs
# input the selective (10,4) layout beats the cheap (8,2) one (the
# quadratic collision term overtakes the linear replication term).
# Measured (round 12 64× run, interleaved same-session best-of):
# sf0.1 (~0.6 MB): (8,2) 1.09 vs (10,4) 1.8-2.0 s — narrow wins;
# 16x (~9 MB): 6.7 vs 8.5 s — narrow still wins; 64x (~45 MB): 87.8
# vs 58.9 s — wide wins. Crossover sits between 16x and 64x docs
# bytes, hence 12 MiB. Both plans are bit-identical (pinned by
# tests/test_r12_rewrites.py) so the gate can only change cost,
# never output.
SIMHASH_SELECTIVE_MIN_BYTES = int(
    __import__("os").environ.get(
        "SPARK_GRAFT_SIMHASH_SELECTIVE_MIN_BYTES", str(12 << 20)
    )
)


def _simhash_band_layout(
    nb: int, bits: int = SIMHASH_BITS
) -> tuple[list[int], list[int]]:
    """Split a ``bits``-wide fingerprint into ``nb`` contiguous bands
    as evenly as possible (the first ``bits mod nb`` bands are one bit
    wider). Returns (widths, bit offsets)."""
    base = bits // nb
    wide = bits - base * nb
    widths = [base + 1] * wide + [base] * (nb - wide)
    offs = [sum(widths[:i]) for i in range(nb)]
    return widths, offs


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's estimated size of a plan — no job, purely stats."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 0


def simhash_pairs(
    docs: DataFrame, max_hamming: int = 6, wide_keys: bool | None = None
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance — banded bucket-join,
    NO all-pairs stage (same output as the cartesian form; the DuckDB
    oracle keeps the all-pairs spec).

    Candidate generation (Manku/Jain/Sarma multi-index, WWW'07 §3,
    adapted to 48 bits; generalized r12): split the fingerprint into
    ``nb`` bands; hamming ≤ h flips bits in at most h bands, leaving
    ≥ nb−h bands bit-identical — so for any t ≤ nb−h at least one of
    the C(nb,t) band t-SUBSETS matches exactly, and keying each doc on
    all C(nb,t) (subset_id, concatenated band bits) buckets is an
    exact-superset candidate generator at ANY (nb, t). The popcount
    verify then makes the output identical regardless of layout — the
    layout is purely a cost knob:
      random candidates ≈ C(N,2) · Σ_subsets P(key collision)
      bucket rows (linear term) = N · C(nb,t)
    Two layouts are carried and size-dispatched (``wide_keys``; auto =
    Catalyst size estimate of ``docs`` vs SIMHASH_SELECTIVE_MIN_BYTES):
      - (nb=8, t=2): 28 12-bit keys — cheapest below the crossover,
        where the linear term dominates (sf0.1: 0.73 vs 1.82 s).
      - (nb=10, t=4): 210 18-20-bit keys — the r11 verdict's 64×
        scale-killer was the (8,2) collision tail (round 11 64× ratio
        33.3; 4.22e9 join emissions measured at 64× — 12× the uniform
        estimate because template-skewed band values make hot
        buckets); (10,4) measured 84→56 s at 64×, emissions cut ~3×.
        t is maximal for the guarantee at nb=10 (t ≤ nb−6); pushing
        further ((12,6): 924 keys) loses to the linear explode term
        (11.3 s at sf0.1) — measured, not worth it at any scale here.
      Fingerprint PRE-COLLAPSE (dedup identical fingerprints before
      the join) was probed and rejected: the 64× corpus has 317,320
      distinct fingerprints over 320k docs (max group 3), so the tail
      is between DISTINCT fingerprints and collapsing buys ~nothing.

    Emit-once (r12, replaces the final ``distinct``): a candidate pair
    is kept only in its CANONICAL bucket — the lexicographically first
    subset whose bands are all clean in x⊕y. Per emission that is one
    XOR, an nb-bit dirty-band mask, and a literal-array predecessor-
    mask lookup, all JVM expressions evaluated only on rows that
    already passed the popcount filter; every qualifying pair then
    appears EXACTLY once and the distinct's exchange disappears
    (sf0.1: 0.87 → 0.73 s).

    For max_hamming == 7 the same machinery runs at (nb=8, t=1);
    > 7 over 48 bits is not bucketable and raises.

    Scale: explode is C(nb,t) longs/doc; the join shuffles on the
    bucket key; the verify popcount + emit-once predicate are JVM
    expressions — no Python, and nothing downstream of the join
    shuffles more than the true pair set.
    """
    st = simhash_table(docs)

    if max_hamming <= 6:
        if wide_keys is None:
            wide_keys = _plan_size_bytes(docs) >= SIMHASH_SELECTIVE_MIN_BYTES
        nb, t = (
            (SIMHASH_WIDE_NB, SIMHASH_WIDE_T) if wide_keys
            else (SIMHASH_BANDS, 2)
        )
    elif max_hamming <= SIMHASH_BANDS - 1:
        nb, t = SIMHASH_BANDS, 1
    else:
        raise ValueError(
            f"max_hamming={max_hamming} not bucketable over {SIMHASH_BITS} bits"
        )
    return _banded_hamming_pairs(st, SIMHASH_BITS, nb, t, max_hamming)


def _banded_hamming_pairs(
    st: DataFrame, bits: int, nb: int, t: int, max_hamming: int
) -> DataFrame:
    """The shared (nb, t) band-subset candidate generator + popcount
    verify + emit-once over any fingerprint width. Requires
    max_hamming <= nb - t (the pigeonhole guarantee)."""
    import itertools

    assert max_hamming <= nb - t, (max_hamming, nb, t)
    widths, offs = _simhash_band_layout(nb, bits)
    combos = list(itertools.combinations(range(nb), t))
    band_cols = [
        F.shiftright(F.col("simhash"), offs[i])
        .bitwiseAND(F.lit((1 << widths[i]) - 1))
        .alias(f"b_{i}")
        for i in range(nb)
    ]

    def sub_key(sub: tuple[int, ...]) -> Column:
        k = None
        for i in sub:
            b = F.col(f"b_{i}")
            k = b if k is None else k * F.lit(1 << widths[i]) + b
        return k

    buckets = st.select("doc_id", "simhash", *band_cols).select(
        "doc_id",
        "simhash",
        F.posexplode(F.array(*[sub_key(s) for s in combos])).alias("bp", "k"),
    )

    # verify + emit-once INSIDE the join stage: popcount first (cheap,
    # kills the collision mass), then the canonical-bucket predicate on
    # the survivors. dirty = nb-bit mask of bands touched by x⊕y; a
    # subset s is canonical iff every band below max(s) and outside s
    # is dirty (else a lexicographically smaller clean subset exists).
    z = F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))
    hamming = F.bit_count(z).cast("int")
    dirty = None
    for i in range(nb):
        band_mask = ((1 << widths[i]) - 1) << offs[i]
        bit = (
            F.when(z.bitwiseAND(F.lit(band_mask)) != 0, F.lit(1 << i))
            .otherwise(F.lit(0))
        )
        dirty = bit if dirty is None else dirty + bit
    pred_masks = []
    for s in combos:
        pm = 0
        for j in range(max(s)):
            if j not in s:
                pm |= 1 << j
        pred_masks.append(pm)
    pred = F.element_at(
        F.array(*[F.lit(p) for p in pred_masks]), F.col("bp") + 1
    )
    canonical = pred.bitwiseAND(F.bitwise_not(dirty)) == 0

    return (
        buckets.alias("x")
        .join(buckets.alias("y").hint("shuffle_hash"), ["bp", "k"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .filter((hamming <= max_hamming) & canonical)
        .select(
            F.col("x.doc_id").alias("d1"),
            F.col("y.doc_id").alias("d2"),
            hamming.alias("hamming"),
        )
    )


def simhash_pairs_sql(max_hamming: int = 6) -> str:
    return f"""
WITH st AS ({simhash_table_sql()})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM st a JOIN st b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# 4b. Wide-fingerprint simhash twin — the 100 TB deployment path
# ---------------------------------------------------------------------------
SIMHASH_BITS_WIDE = 60  # widest md5 prefix both engines read as BIGINT


def simhash_table_wide(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """60-bit weighted simhash — identical vote fold to
    :func:`simhash_table`, over :func:`hash60`."""
    return _simhash_table_bits(
        docs, SIMHASH_BITS_WIDE, hash60, text_col, id_col
    )


def simhash_table_wide_sql(doc_rel: str = "documents") -> str:
    return _simhash_table_bits_sql(SIMHASH_BITS_WIDE, hash60_sql, doc_rel)


def simhash_pairs_wide(docs: DataFrame, max_hamming: int = 6) -> DataFrame:
    """The r11-verdict deployment twin of :func:`simhash_pairs`: a
    60-bit fingerprint with the (10,4) band-subset generator —
    hamming ≤ 6 over 60 bits is a DIFFERENT (stricter) near-dup
    predicate than over 48, hence a separate declared query with its
    own all-pairs oracle rather than an in-place change.

    Why it exists: at 48 bits the declared kernel's collision tail is
    irreducible past ~10^5 docs (round 12 64× run: 58.9 s at 64× after the
    r12 generator work — the hot-bucket enumeration of a 48-bit key
    space on a template-heavy corpus). Width is the remaining knob:
    24-bit subset keys cut the random-collision rate ~2 orders of
    magnitude and the stricter bar cuts the true-pair mass ~30×
    (240,751 vs 7,846,439 pairs at 64×). Measured (prototype,
    interleaved session): base 2.17 s / 16× 9.58 / 64× 33.08 —
    16×→64× step 3.45 for 4× data, inside the linear-kernel ≤4 gate
    that the 48-bit kernel fails (6.9). No size dispatch: this IS the
    large-corpus form; small corpora should use the declared kernel.
    """
    if max_hamming > SIMHASH_WIDE_NB - SIMHASH_WIDE_T:
        raise ValueError(
            f"max_hamming={max_hamming} breaks the (10,4) guarantee"
        )
    from msstreamingstack_spark.caching import rotating_persist

    # Persist the fingerprint table (two longs per doc). Besides the
    # usual reuse (both bucket sides), this is a CODEGEN barrier: fused
    # with the band projection + 210-key explode, the 60-aggregate vote
    # fold lands in one generated stage that cold sessions execute in a
    # permanently slow mode (measured 6.4-6.7 s steady at sf0.1 from a
    # cold session vs 1.7-2.0 s with the barrier; the 48-bit kernel's
    # 48-agg stage does not trip this). The cache boundary splits the
    # stages deterministically.
    st = rotating_persist(simhash_table_wide(docs), "simhash_wide.st")
    return _banded_hamming_pairs(
        st, SIMHASH_BITS_WIDE, SIMHASH_WIDE_NB, SIMHASH_WIDE_T, max_hamming
    )


def simhash_pairs_wide_sql(max_hamming: int = 6) -> str:
    return f"""
WITH st AS ({simhash_table_wide_sql()})
SELECT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM st a JOIN st b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


# ---------------------------------------------------------------------------
# 2b. df-capped jaccard: boilerplate-skew hardening for pair generation
# ---------------------------------------------------------------------------
DEFAULT_DF_CAP = 100


def dfcapped_shingle_hashes(
    docs: DataFrame, df_cap: int = DEFAULT_DF_CAP
) -> DataFrame:
    """Shingle table with mega-shingles removed: any shingle occurring
    in more than ``df_cap`` documents (header/footer boilerplate,
    license blocks) is dropped from the similarity universe.

    This is THE skew fix for shingle-join dedup at corpus scale: the
    pair-join on ``h`` emits O(df²) rows per shingle, so one shingle
    shared by 1M boilerplate pages alone produces 10^12 candidate
    pairs. Capping df bounds every shingle's contribution at df_cap²
    while barely touching recall — a shingle present in >df_cap docs
    carries ~no similarity signal (its IDF is ~0). The df aggregate
    and the filter-join are both partitioned on ``h``, the same key
    the pair join shuffles on, so AQE reuses the exchange.
    """
    from msstreamingstack_spark.caching import rotating_persist

    sh = doc_shingle_hashes(docs, slot="dfcapped_jaccard.sh", eager=True)
    # eager=True measured 9.0 -> 6.3 s at sf0.1: the df-count and
    # join-back subtrees otherwise re-ran the shingle explode when
    # AQE broadcast the sizes joins before the cache populated
    keep = (
        sh.groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("h")
    )
    # r11 (guide §5): the capped table feeds THREE consumers in
    # dfcapped_jaccard_pairs (sizes + both inter join sides) — without
    # its own persist each consumer re-ran the df aggregate + filter
    # join over the cached raw shingles (interleaved A/B below). The
    # cached frame is two longs per KEPT shingle, strictly smaller
    # than the raw table one slot up.
    return rotating_persist(
        sh.join(keep.hint("shuffle_hash"), "h").select("doc_id", "h"),
        "dfcapped_jaccard.capped",
        eager=True,
    )


def dfcapped_shingle_hashes_sql(
    df_cap: int = DEFAULT_DF_CAP, doc_rel: str = "documents"
) -> str:
    return f"""
SELECT doc_id, h FROM ({doc_shingle_hashes_sql(doc_rel)})
WHERE h IN (SELECT h FROM ({doc_shingle_hashes_sql(doc_rel)})
            GROUP BY h HAVING COUNT(*) <= {df_cap})
"""


def dfcapped_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.8,
    df_cap: int = DEFAULT_DF_CAP,
) -> DataFrame:
    """ngram_jaccard_pairs over the df-capped shingle universe —
    identical downstream algebra (|∩| from the h-join, |∪| from
    per-doc kept-shingle counts), with jaccard defined over
    informative shingles only."""
    sh = dfcapped_shingle_hashes(docs, df_cap)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    inter = (
        sh.select(F.col("doc_id").alias("d1"), "h")
        .join(sh.select(F.col("doc_id").alias("d2"), "h").hint("shuffle_hash"), "h")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1")), "d1")
        .join(sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2")), "d2")
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("n1") + F.col("n2") - F.col("n_inter")).cast("double"),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select("d1", "d2", "jaccard")


def dfcapped_jaccard_sql(
    threshold: float = 0.8, df_cap: int = DEFAULT_DF_CAP
) -> str:
    return f"""
WITH sh AS ({dfcapped_shingle_hashes_sql(df_cap)}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = d1 JOIN sizes sb ON sb.doc_id = d2
WHERE CAST(n_inter AS DOUBLE) / CAST(sa.n + sb.n - n_inter AS DOUBLE) >= {threshold}
"""


# ---------------------------------------------------------------------------
# 6. Benchmark decontamination (train-vs-eval n-gram overlap)
# ---------------------------------------------------------------------------
# Standard pretraining hygiene (reference has no analogue; extension
# like §2.5's aggregates): flag training documents whose shingle sets
# overlap an evaluation/benchmark set. Overlap is computed on the
# 48-bit shingle hashes, so the eval side collapses to a distinct-hash
# set — at 100 TB the eval set is a handful of benchmarks (tiny) and is
# BROADCAST; the train side pays one broadcast semi-join plus a
# per-doc count, both map-side-combinable. No all-pairs stage at all.
DECONTAM_FRAC_T = 0.30


def eval_overlap_stats(
    docs: DataFrame,
    eval_pred: Column,
    frac_threshold: float = DECONTAM_FRAC_T,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-TRAIN-doc overlap with the eval shingle universe.

    Output: (doc_id, n_shingles, n_overlap, overlap_frac, contaminated)
    for every doc NOT matching ``eval_pred``; docs too short to shingle
    get (0, 0, 0.0, 0).
    """
    sh = doc_shingle_hashes(
        docs, text_col=text_col, id_col=id_col, slot="decontaminate.sh"
    )
    eval_ids = docs.filter(eval_pred).select(id_col)
    eval_h = (
        sh.join(F.broadcast(eval_ids), id_col)
        .select("h")
        .distinct()
        .withColumn("_ev", F.lit(1))
    )
    train_sh = sh.join(F.broadcast(eval_ids), id_col, "left_anti")
    # ONE pass over the corpus-sized train shingle table: the overlap
    # marker rides a broadcast LEFT join, so n_shingles (all rows) and
    # n_overlap (marker non-null) fold in a single map-combined
    # aggregate — the old shape exchanged train_sh twice (two groupBys)
    # and joined back per doc twice (r11 session-3 A/B: 1.11 -> 1.03 s
    # at sf0.1; structural at scale, train_sh is corpus-sized).
    # CORRECTNESS DEPENDENCY (ADVICE r11): this single-pass count pair
    # is exact only because eval_h is .distinct() on h — the left join
    # is then row-preserving (<=1 match per train row), so count(*)
    # counts train shingles and count(_ev) counts matched ones.
    # Removing that distinct would fan out BOTH counts.
    per = (
        train_sh.join(F.broadcast(eval_h), "h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_ev").alias("n_overlap"),
        )
    )
    frac = F.round(
        F.col("n_overlap").cast("double") / F.col("n_shingles").cast("double"), 9
    )
    return (
        docs.filter(~eval_pred)
        .select(id_col)
        .join(per, id_col, "left")
        .withColumn("n_shingles", F.coalesce("n_shingles", F.lit(0)))
        .withColumn("n_overlap", F.coalesce("n_overlap", F.lit(0)))
        .withColumn(
            "overlap_frac",
            F.when(F.col("n_shingles") > 0, frac).otherwise(F.lit(0.0)),
        )
        .withColumn(
            "contaminated",
            (F.col("overlap_frac") >= frac_threshold).cast("long"),
        )
    )


def eval_overlap_sql(
    eval_pred_sql: str,
    frac_threshold: float = DECONTAM_FRAC_T,
    doc_rel: str = "documents",
) -> str:
    """DuckDB twin of eval_overlap_stats; ``eval_pred_sql`` is a
    boolean expression over the document row (alias ``d``)."""
    return f"""
WITH sh AS ({doc_shingle_hashes_sql(doc_rel)}),
ev_ids AS (SELECT doc_id FROM {doc_rel} d WHERE {eval_pred_sql}),
ev_h AS (SELECT DISTINCT h FROM sh WHERE doc_id IN (SELECT doc_id FROM ev_ids)),
train_sh AS (SELECT * FROM sh WHERE doc_id NOT IN (SELECT doc_id FROM ev_ids)),
n_sh AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train_sh GROUP BY doc_id),
ov AS (
  SELECT doc_id, COUNT(*) AS n_overlap
  FROM train_sh WHERE h IN (SELECT h FROM ev_h) GROUP BY doc_id
)
SELECT d.doc_id,
       COALESCE(n_sh.n_shingles, 0) AS n_shingles,
       COALESCE(ov.n_overlap, 0) AS n_overlap,
       CASE WHEN COALESCE(n_sh.n_shingles, 0) > 0
            THEN round(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
                       / CAST(n_sh.n_shingles AS DOUBLE), 9)
            ELSE 0.0 END AS overlap_frac,
       CAST(CASE WHEN COALESCE(n_sh.n_shingles, 0) > 0
            THEN round(CAST(COALESCE(ov.n_overlap, 0) AS DOUBLE)
                       / CAST(n_sh.n_shingles AS DOUBLE), 9)
            ELSE 0.0 END >= {frac_threshold} AS BIGINT) AS contaminated
FROM {doc_rel} d
LEFT JOIN n_sh ON n_sh.doc_id = d.doc_id
LEFT JOIN ov ON ov.doc_id = d.doc_id
WHERE NOT ({eval_pred_sql})
"""


# ---------------------------------------------------------------------------
# Verbatim n-gram decontamination (GPT-3 appendix-C style 13-grams)
# ---------------------------------------------------------------------------
# Third decontamination mode next to eval_overlap_stats (aggregate
# shingle-overlap fraction) and minhash_cross_pairs (paraphrase-level
# fuzzy match): flag a train document when ANY full n-gram of the
# held-out set appears verbatim, and report WHERE — which is what lets
# a pipeline excise the leaked span instead of dropping the document.
NGRAM13_N = 13


def positional_ngram_hashes(
    docs: DataFrame,
    n: int = NGRAM13_N,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, pos, h) — 48-bit hash of EVERY word n-gram with its 1-based
    start position (NOT distinct, NOT persisted: unlike the shingle
    table this is single-pass in both consumers, and positions make
    rows per-doc unique anyway). Docs shorter than ``n`` words yield
    no rows; callers restore them with a left join. Only (long, long,
    long) leaves the scan stage — the gram strings never shuffle."""
    toks = F.split(F.col(text_col), " ")

    def build(t: Column) -> Column:
        k = F.size(t)
        grams = F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + j) for j in range(n)]
            ),
        )
        return F.when(k >= n, grams).otherwise(
            F.array().cast("array<string>")
        )

    from msstreamingstack_spark.functions.text import _bind

    return docs.select(
        id_col, F.posexplode(_bind(toks, build)).alias("pos0", "gram")
    ).select(
        id_col,
        (F.col("pos0") + 1).cast("long").alias("pos"),
        hash48(F.col("gram")).alias("h"),
    )


def _positional_ngram_cte(doc_rel: str, n: int) -> str:
    """DuckDB CTE body for positional_ngram_hashes: ``w`` (token
    lists) and ``g`` (doc_id, pos, h). range(1, len-(n-2)) is empty
    for short docs, so no length guard is needed."""
    gram = " || chr(32) || ".join(
        f"ws[CAST(i AS INTEGER)+{j}]" for j in range(n)
    )
    return f"""
w AS (SELECT doc_id, string_split(text, chr(32)) AS ws FROM {doc_rel}),
g AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos,
         TRY_CAST('0x' || substr(md5({gram}), 1, 12) AS BIGINT) AS h
  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - {n - 2})) AS i) u
)"""


def ngram_contamination(
    docs: DataFrame,
    eval_pred: Column,
    n: int = NGRAM13_N,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-train-doc verbatim n-gram collision report against the eval
    side's n-gram universe: (doc_id, n_ngrams, n_hits, first_hit,
    last_hit, contaminated), all integers, zero defaults for docs too
    short to carry an n-gram.

    Scale shape: the eval set is tiny next to the corpus (benchmarks
    vs 100 TB), so its distinct gram hashes BROADCAST; the train side
    is ONE pass — gram explode (map-local), broadcast left join,
    per-doc agg — a single shuffle, and only long triples move. The
    hit positions ride along for free, which is what the span-scrub
    twin consumes.
    """
    ev = (
        positional_ngram_hashes(
            docs.filter(eval_pred), n, text_col, id_col
        )
        .select("h")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = docs.filter(~eval_pred)
    g = positional_ngram_hashes(train, n, text_col, id_col)
    hit_pos = F.when(F.col("hit") == 1, F.col("pos"))
    agg = (
        g.join(F.broadcast(ev), "h", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_ngrams"),
            F.count("hit").alias("n_hits"),
            F.coalesce(F.min(hit_pos), F.lit(0).cast("long")).alias(
                "first_hit"
            ),
            F.coalesce(
                F.max(hit_pos + (n - 1)), F.lit(0).cast("long")
            ).alias("last_hit"),
        )
    )
    return (
        train.select(id_col)
        .join(agg, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_ngrams", F.lit(0).cast("long")).alias("n_ngrams"),
            F.coalesce("n_hits", F.lit(0).cast("long")).alias("n_hits"),
            F.coalesce("first_hit", F.lit(0).cast("long")).alias("first_hit"),
            F.coalesce("last_hit", F.lit(0).cast("long")).alias("last_hit"),
            (F.coalesce("n_hits", F.lit(0).cast("long")) > 0)
            .cast("long")
            .alias("contaminated"),
        )
    )


def ngram_contamination_sql(
    eval_pred_sql: str, n: int = NGRAM13_N, doc_rel: str = "documents"
) -> str:
    """DuckDB twin of ngram_contamination; ``eval_pred_sql`` is a
    boolean over the document row (alias ``d`` / bare columns)."""
    return f"""
WITH {_positional_ngram_cte(doc_rel, n)},
ev AS (SELECT DISTINCT h FROM g JOIN {doc_rel} d USING (doc_id)
       WHERE {eval_pred_sql}),
tg AS (
  SELECT g.doc_id, g.pos,
         CASE WHEN ev.h IS NOT NULL THEN 1 ELSE NULL END AS hit
  FROM g LEFT JOIN ev USING (h)
  JOIN {doc_rel} d USING (doc_id) WHERE NOT ({eval_pred_sql})
),
agg AS (
  SELECT doc_id, COUNT(*) AS n_ngrams, COUNT(hit) AS n_hits,
         COALESCE(MIN(CASE WHEN hit = 1 THEN pos END), 0) AS first_hit,
         COALESCE(MAX(CASE WHEN hit = 1 THEN pos + {n - 1} END), 0)
           AS last_hit
  FROM tg GROUP BY doc_id)
SELECT d.doc_id,
       COALESCE(n_ngrams, 0) AS n_ngrams,
       COALESCE(n_hits, 0) AS n_hits,
       COALESCE(first_hit, 0) AS first_hit,
       COALESCE(last_hit, 0) AS last_hit,
       CAST(CASE WHEN COALESCE(n_hits, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
         AS contaminated
FROM {doc_rel} d LEFT JOIN agg USING (doc_id)
WHERE NOT ({eval_pred_sql})
"""


def ngram_span_scrub(
    docs: DataFrame,
    eval_pred: Column,
    n: int = NGRAM13_N,
    text_col: str = "text",
    id_col: str = "doc_id",
    slot: str = "decontam13.hits",
) -> DataFrame:
    """Surgical decontamination: excise every eval-colliding n-gram
    span from the train corpus instead of dropping whole documents
    (the PaLM/Llama refinement of GPT-3's doc-level removal). Output
    is the REWRITTEN corpus: (doc_id, n_words, n_spans, n_removed,
    clean_text) for every train doc — untouched docs pass their text
    through, fully-covered docs come back empty.

    Overlapping/adjacent hit spans [pos, pos+n-1] are unioned with the
    classic islands pass (running max-end window, new island when a
    span starts past prev_max_end+1). Every stage past the hit join
    runs on the HITS relation, whose size is bounded by the eval
    side's gram universe — NOT the corpus: the islands window
    partitions by doc_id with ≤ doc-length rows per partition (no
    skew hazard at any corpus size), and only the dirty docs — rare
    by construction — pay the posexplode/rebuild; the clean 99.9%
    pass through as an anti-join projection. ``hits`` is slot-persisted
    (tiny) so the span/dirty/rebuild consumers never re-shingle the
    corpus."""
    from msstreamingstack_spark.caching import rotating_persist

    train = docs.filter(~eval_pred)
    ev = (
        positional_ngram_hashes(
            docs.filter(eval_pred), n, text_col, id_col
        )
        .select("h")
        .distinct()
    )
    g = positional_ngram_hashes(train, n, text_col, id_col)
    hits = rotating_persist(
        g.join(F.broadcast(ev), "h").select(
            id_col,
            F.col("pos").alias("s"),
            (F.col("pos") + (n - 1)).alias("e"),
        ),
        slot,
    )
    # populate the cache NOW: three downstream branches read hits and
    # two of them are broadcast subtrees, which Spark builds eagerly
    # before the main stages — left lazy, each broadcast re-ran the
    # full train-side gram explode instead of reading the cache
    # (measured at 16x: scaled run 31.9 s -> 8.6 s for this one line)
    hits.count()
    w = Window.partitionBy(id_col).orderBy("s")
    pmax = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    isl = (
        hits.withColumn("pmax", pmax)
        .withColumn(
            "new_isl",
            F.when(
                F.col("pmax").isNull() | (F.col("s") > F.col("pmax") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "island",
            F.sum("new_isl").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    spans = isl.groupBy(id_col, "island").agg(
        F.min("s").alias("s"), F.max("e").alias("e")
    )
    dirty = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("n_removed"),
    )
    dirty_docs = train.join(
        spans.select(id_col).distinct(), id_col, "left_semi"
    )
    words = dirty_docs.select(
        id_col, F.posexplode(F.split(F.col(text_col), " ")).alias("p0", "word")
    ).select(id_col, (F.col("p0") + 1).cast("long").alias("p"), "word")
    sp = spans.select(
        F.col(id_col).alias("__sid"), "s", "e"
    )
    kept = words.join(
        F.broadcast(sp),
        (words[id_col] == sp["__sid"])
        & (F.col("p") >= F.col("s"))
        & (F.col("p") <= F.col("e")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("p", "word"))),
                lambda x: x["word"],
            ),
        ).alias("__clean")
    )
    return (
        train.select(
            id_col,
            F.col(text_col).alias("__text"),
            F.size(F.split(F.col(text_col), " ")).cast("long").alias(
                "n_words"
            ),
        )
        .join(dirty, id_col, "left")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_words",
            F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
            F.coalesce("n_removed", F.lit(0).cast("long")).alias(
                "n_removed"
            ),
            F.when(F.col("n_spans").isNull(), F.col("__text"))
            .otherwise(F.coalesce("__clean", F.lit("")))
            .alias("clean_text"),
        )
    )


def ngram_span_scrub_sql(
    eval_pred_sql: str, n: int = NGRAM13_N, doc_rel: str = "documents"
) -> str:
    """DuckDB twin of ngram_span_scrub (same islands algebra)."""
    return f"""
WITH {_positional_ngram_cte(doc_rel, n)},
ev AS (SELECT DISTINCT h FROM g JOIN {doc_rel} d USING (doc_id)
       WHERE {eval_pred_sql}),
iv AS (
  SELECT g.doc_id, g.pos AS s, g.pos + {n - 1} AS e
  FROM g JOIN ev USING (h)
  JOIN {doc_rel} d USING (doc_id) WHERE NOT ({eval_pred_sql})
),
m AS (SELECT doc_id, s, e,
        MAX(e) OVER (PARTITION BY doc_id ORDER BY s
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS pmax
      FROM iv),
isl AS (SELECT doc_id, s, e,
          SUM(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s ROWS UNBOUNDED PRECEDING)
            AS island
        FROM m),
spans AS (SELECT doc_id, island, MIN(s) AS s, MAX(e) AS e
          FROM isl GROUP BY doc_id, island),
dirty AS (SELECT doc_id, COUNT(*) AS n_spans,
                 CAST(SUM(e - s + 1) AS BIGINT) AS n_removed
          FROM spans GROUP BY doc_id),
keepw AS (
  SELECT w.doc_id, u.p, w.ws[CAST(u.p AS INTEGER)] AS word
  FROM w JOIN dirty USING (doc_id),
       LATERAL (SELECT unnest(range(1, len(w.ws) + 1)) AS p) u
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = w.doc_id AND u.p BETWEEN s.s AND s.e)
),
rebuilt AS (SELECT doc_id, string_agg(word, chr(32) ORDER BY p)
              AS clean_text
            FROM keepw GROUP BY doc_id)
SELECT d.doc_id,
       CAST(len(string_split(d.text, chr(32))) AS BIGINT) AS n_words,
       COALESCE(dirty.n_spans, 0) AS n_spans,
       COALESCE(dirty.n_removed, 0) AS n_removed,
       CASE WHEN dirty.doc_id IS NULL THEN d.text
            ELSE COALESCE(rebuilt.clean_text, '') END AS clean_text
FROM {doc_rel} d LEFT JOIN dirty USING (doc_id)
LEFT JOIN rebuilt USING (doc_id)
WHERE NOT ({eval_pred_sql})
"""
