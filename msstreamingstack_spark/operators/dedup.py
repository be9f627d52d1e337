"""Near-duplicate operators over word-shingle hashes.

Two tiers, both deterministic:

1. ngram-jaccard — exact set similarity on word-3-gram shingles via a
                   shingle-inverted-index self-join. No query uses it:
                   it is the exact reference the LSH tier's recall is
                   tested against.
2. minhash-LSH   — scale path: fixed-permutation MinHash signatures,
                   banded bucketing; candidates verified with exact
                   jaccard. At 100 TB the verify only runs on LSH
                   candidates (tiny) instead of all pairs. It backs
                   ``corpus_duplication_rate``.

Both read one shared shingle-hash table (``doc_shingle_hashes``), which
``lang_shingle_overlap`` also uses. Hashing is the cross-engine 48-bit
md5 prefix (functions/text.py), so the DuckDB oracle reproduces
signatures bit-for-bit — no RNG anywhere."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from msstreamingstack_spark.functions.text import (
    MOD_HASH,
    hash48,
    hash48_sql,
    shingles,
    shingles_sql,
)

NUM_HASHES = 16
BAND_SIZE = 2  # 8 bands × 2 rows

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
# Shared shingle explode
# ---------------------------------------------------------------------------
def doc_shingle_hashes(
    docs: DataFrame, slot: str | None = None, eager: bool = False
) -> DataFrame:
    """(doc_id, h) — 48-bit shingle hashes of ``docs.text``, unique per
    doc WITHOUT a distinct shuffle: ``shingles()`` already applies
    ``array_distinct`` per document, so (doc_id, h) can only repeat via
    a 48-bit collision between two distinct shingles of the SAME doc
    (~n²/2⁴⁹ ≈ 1e-10 per doc). The DuckDB oracle twin drops its
    DISTINCT too and both engines share the md5-derived hash, so even a
    collision stays bit-identical cross-engine. Dropping the explicit
    distinct removes a full shuffle of the exploded table — the largest
    intermediate of every shingle kernel. Only longs leave the scan
    stage; the text column is pruned immediately after.

    With a ``slot`` the table is persisted through
    msstreamingstack_spark.caching's ``rotating_persist``, so repeat
    invocations rotate ONE cache entry per call site instead of leaking
    one per call. The LSH kernel reads the table several times per
    action (signatures, the verify fold) and without a persist each
    read re-runs the shingle explosion over the full text. The cached
    form is two longs per shingle, orders of magnitude smaller than the
    text it came from. Without a slot the table is returned unpersisted.
    """
    sh = docs.select(
        "doc_id", F.explode(shingles(F.col("text"))).alias("sh")
    ).select("doc_id", hash48(F.col("sh")).alias("h"))
    if slot is None:
        return sh
    from msstreamingstack_spark.caching import rotating_persist

    sh = rotating_persist(sh, slot)
    if eager:
        # populate the cache before the caller forks it under
        # broadcast subtrees: broadcasts build eagerly and RACE an
        # unpopulated cache, each recomputing the shingle explode
        # from lineage (plans/notes.md round 8). Opt-in per call
        # site — the extra action costs ~0.2 s, so only sites with
        # a MEASURED duplication win pass eager=True
        # (minhash_lsh 6.6->3.4 s at sf0.1).
        sh.count()
    return sh


def doc_shingle_hashes_sql() -> str:
    # no DISTINCT: mirrors doc_shingle_hashes — per-doc uniqueness comes
    # from the array_distinct inside shingles_sql
    return f"""
SELECT doc_id, {hash48_sql('sh')} AS h
FROM (SELECT doc_id, unnest({shingles_sql('text')}) AS sh FROM documents)
"""


def _jaccard_on_pairs(sh: DataFrame, pairs: DataFrame) -> DataFrame:
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
      dropped them). The caller, minhash_lsh_pairs, filters
      jaccard >= threshold with threshold > 0, so its output is
      identical; a caller passing threshold 0.0 or consuming rows
      directly would see the new rows — filter n_inter > 0 there if
      the old contract matters.
    - Memory bound: the per-pair row carries BOTH docs' full
      shingle-hash arrays, so row width is O(shingles per doc) —
      bounded by document length (3-gram shingles ⇒ ≤ token count per
      doc), NOT by corpus size; and a hub doc's array is duplicated
      once per candidate pair it appears in. For a long-doc regime
      (arrays of millions of elements × high candidate fan-out) the
      old join-count form (pairs ⋈ sh on d1 ⋈ sh on (d2, h) →
      groupBy(d1, d2).count()) remains the fallback shape — streams
      instead of buffering, at the cost of 3 more exchanges."""
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
# 1. Exact n-gram jaccard (all pairs sharing ≥1 shingle)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.8) -> DataFrame:
    """Exact all-pairs near-dup pairs, and the reference for the LSH
    tier's recall. Direct-intersection form: one shingle self-join feeds the (d1, d2) count aggregate
    straight away — no materialized candidate set, no second pass over
    the shingle table. |∩| from the join, |∪| = n1 + n2 − |∩| from
    per-doc sizes."""
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


# ---------------------------------------------------------------------------
# 2. MinHash + banded LSH, candidates verified with exact jaccard
# ---------------------------------------------------------------------------
def minhash_signatures(sh: DataFrame) -> DataFrame:
    """One row per doc with mh_0..mh_{NUM_HASHES-1} — a single groupBy
    with NUM_HASHES min-aggregates (map-side combined)."""
    return sh.groupBy("doc_id").agg(
        *[F.min(_perm(i, F.col("h"))).alias(f"mh_{i}") for i in range(NUM_HASHES)]
    )


def _band_buckets(sig: DataFrame) -> DataFrame:
    """Explode a signature row into its (band, key) LSH bucket rows —
    the candidate generator of :func:`minhash_lsh_pairs`."""
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
    return sig.select("doc_id", F.explode(bands).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key")
    )


def _band_key_sql(b: int) -> str:
    """DuckDB twin of the band key in :func:`_band_buckets` — the
    '_'-joined casts of ALL ``BAND_SIZE`` signature columns of band
    ``b``, generated from the same constant so changing ``BAND_SIZE``
    can never desynchronize oracle and builder."""
    return " || '_' || ".join(
        f"CAST(mh_{b * BAND_SIZE + j} AS VARCHAR)" for j in range(BAND_SIZE)
    )


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
    out = _jaccard_on_pairs(sh, cand)
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
