"""Text-analysis expression library (training-data-pipeline extension
surface): tokenization, quality scoring, language-ID heuristic,
fingerprinting, and the deterministic hashing primitives shared by the
dedup operators.

Everything is built-in-expression based (JVM side, codegen-friendly —
no Python UDFs in the hot path), and every builder has a SQL twin
generated from the SAME constants so the DuckDB oracle cannot drift.

Hash determinism: both engines agree on ``md5(utf8)``; a 48-bit prefix
of the hex digest parsed as an integer gives a cross-engine 'hash to
int' primitive (Spark ``conv(hex,16,10)``, DuckDB ``'0x'||hex`` cast).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

TOKEN_RE = r"\S+"

# Tiny per-language stopword profiles for the n-gram/stopword language
# heuristic. Precedence order breaks score ties deterministically.
LANG_PROFILES: tuple[tuple[str, tuple[str, ...]], ...] = (
    ("en", ("the", "a", "of", "and", "is")),
    ("es", ("el", "la", "de", "que", "y")),
    ("de", ("der", "die", "das", "und", "ist")),
    ("fr", ("le", "la", "de", "et", "est")),
    ("zh", ("de5", "shi4", "le5", "zai4", "he2")),
)

MOD_HASH = (1 << 61) - 1  # Mersenne prime for minhash permutations


# ---------------------------------------------------------------------------
# Tokenization / counting
# ---------------------------------------------------------------------------
def token_count(text: Column, pattern: str = TOKEN_RE) -> Column:
    return F.size(F.regexp_extract_all(text, F.lit(pattern), 0))


def token_count_sql(text_sql: str, pattern: str = TOKEN_RE) -> str:
    return f"length(regexp_extract_all({text_sql}, '{pattern}'))"


def tokens(text: Column) -> Column:
    """Whitespace-token array (single-space corpus convention)."""
    return F.split(text, " ")


def tokens_sql(text_sql: str) -> str:
    return f"string_split({text_sql}, chr(32))"


def profile_score_sql(text_sql: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{s}'" for s in words)
    return (
        f"length(list_filter({tokens_sql(text_sql)}, "
        f"x -> list_contains([{lst}], x)))"
    )


def _bind(value: Column, body) -> Column:
    """Let-binding for expression trees: evaluate ``value`` ONCE per
    row and reference it as a lambda variable inside ``body``.

    Why this exists: higher-order functions and when-chains duplicate
    outer subtrees (every occurrence gets fresh lambda exprIds, so
    neither codegen CSE nor interpreted subexpression elimination can
    merge them) — a fold over K alternatives that mentions a
    ``split(text)`` K² times really splits the text K² times per row.
    ``transform(array(value), v -> body(v))[1]`` makes the engine
    evaluate ``value`` once and share it, the expression-level
    equivalent of a WITH clause."""
    return F.element_at(F.transform(F.array(value), body), 1)


def langid_pred(text: Column) -> Column:
    """Argmax of profile scores; ties resolved by profile order (the
    greatest-so-far comparison is strict, so earlier profiles win).

    The token array and the score vector are let-bound (`_bind`) so
    the text is split exactly once per row and each profile score is
    computed exactly once — the naive when-fold re-derived both
    O(profiles²) times."""

    def _contains(words: tuple[str, ...]):
        prof = F.array(*[F.lit(s) for s in words])
        return lambda x: F.array_contains(prof, x)

    def scores_from(toks: Column) -> Column:
        return F.array(
            *[
                F.size(F.filter(toks, _contains(words)))
                for _, words in LANG_PROFILES
            ]
        )

    def argmax(s: Column) -> Column:
        best_lang = F.lit(LANG_PROFILES[0][0])
        best_score = F.element_at(s, 1)
        for i, (lang, _) in enumerate(LANG_PROFILES[1:], start=2):
            si = F.element_at(s, i)
            better = si > best_score
            best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(better, si).otherwise(best_score)
        return best_lang

    return _bind(tokens(text), lambda toks: _bind(scores_from(toks), argmax))


def langid_pred_sql(text_sql: str) -> str:
    # mirrors the strict-greater fold above via GREATEST over earlier profiles
    scores = {
        lang: profile_score_sql(text_sql, words) for lang, words in LANG_PROFILES
    }
    langs = [lang for lang, _ in LANG_PROFILES]
    arms = []
    for i, lang in enumerate(langs[:-1]):
        later = [scores[lg] for lg in langs[i + 1 :]]
        earlier = [scores[lg] for lg in langs[:i]]
        cond = " AND ".join(
            [f"{scores[lang]} >= {s}" for s in later]
            + [f"{scores[lang]} > {s}" for s in earlier]
        )
        arms.append(f"WHEN {cond} THEN '{lang}'")
    return "CASE " + " ".join(arms) + f" ELSE '{langs[-1]}' END"


# ---------------------------------------------------------------------------
# Hashing / fingerprints
# ---------------------------------------------------------------------------
def hash48(col: Column) -> Column:
    """Deterministic cross-engine 48-bit integer hash of a string."""
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 12), 16, 10).cast("long")


def hash48_sql(col_sql: str) -> str:
    return f"TRY_CAST('0x' || substr(md5({col_sql}), 1, 12) AS BIGINT)"


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles. Empty array when fewer than n
    tokens (guards Spark's descending-sequence pitfall).

    The token array is let-bound (`_bind`): referencing ``toks``
    directly inside the per-gram lambda would re-run ``split(text)``
    n times PER GRAM (HOF bodies re-evaluate captured subtrees each
    element) — ~600 splits/row on a 200-token doc. Bound, it is one
    split/row; this subtree sits under every shingle-hash explode
    (operators/dedup.py), so all of them inherit the fix."""

    def build(toks: Column) -> Column:
        k = F.size(toks)
        grams = F.transform(
            F.sequence(F.lit(1), k - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j) for j in range(n)]
            ),
        )
        return F.when(k >= n, F.array_distinct(grams)).otherwise(
            F.array().cast("array<string>")
        )

    return _bind(tokens(text), build)


def shingles_sql(text_sql: str, n: int = 3) -> str:
    toks = tokens_sql(text_sql)
    parts = " || chr(32) || ".join(f"t[i+{j}]" for j in range(n))
    return (
        f"list_distinct(list_transform(range(1, len({toks}) - {n - 2}), "
        f"i -> {parts}))"
    ).replace("t[", f"{toks}[")


def char_trigrams(text: Column) -> Column:
    """All character 3-grams (with repeats — frequency-weighted, unlike
    the distinct word shingles). Empty array below 3 chars."""
    return F.when(
        F.length(text) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(text) - 2),
            lambda i: text.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def char_trigrams_sql(text_sql: str) -> str:
    # DuckDB range(a, b) is empty when b <= a — the <3-char guard is free
    return (
        f"list_transform(range(1, length({text_sql}) - 1), "
        f"i -> substr({text_sql}, CAST(i AS INTEGER), 3))"
    )


# ---------------------------------------------------------------------------
# Quality signals: repetition
# ---------------------------------------------------------------------------
def distinct_token_ratio(text: Column) -> Column:
    """|unique tokens| / |tokens| — low values flag degenerate
    repetition (gopher-style quality signal)."""
    toks = tokens(text)
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast(
        "double"
    )


def distinct_token_ratio_sql(text_sql: str) -> str:
    t = tokens_sql(text_sql)
    return (
        f"CAST(len(list_distinct({t})) AS DOUBLE) / CAST(len({t}) AS DOUBLE)"
    )


def dup_ngram_fraction(text: Column, n: int = 3) -> Column:
    """1 − |distinct n-grams| / |n-grams| — fraction of repeated word
    n-grams (0 when fewer than n tokens). Entirely per-row expressions:
    no explode, no shuffle."""
    toks = tokens(text)
    total = F.size(toks) - (n - 1)
    distinct = F.size(shingles(text, n))
    return F.when(
        total > 0,
        F.lit(1.0) - distinct.cast("double") / total.cast("double"),
    ).otherwise(F.lit(0.0))


def dup_ngram_fraction_sql(text_sql: str, n: int = 3) -> str:
    t = tokens_sql(text_sql)
    total = f"(len({t}) - {n - 1})"
    distinct = f"len({shingles_sql(text_sql, n)})"
    return (
        f"CASE WHEN {total} > 0 THEN 1.0 - CAST({distinct} AS DOUBLE) / "
        f"CAST({total} AS DOUBLE) ELSE 0.0 END"
    )


def doc_bigram_counts(docs):
    """(doc_id, w1, w2, c) — per-document bigram TYPE counts. One explode
    via aligned ``arrays_zip(slice, slice)`` (native array functions —
    no interpreted HOF lambda), folded immediately to type counts so
    downstream joins move |distinct (doc, bigram)| rows, never
    occurrences. Used by the corpus bigram-LM quality score
    (queries_extensions.bigram_lm_scores). Docs with fewer than 2
    tokens yield no rows."""
    toks = F.split(F.col("text"), " ")
    d2 = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    return (
        d2.select(
            "doc_id",
            F.explode(
                F.expr(
                    "arrays_zip(slice(t, 1, size(t) - 1), "
                    "slice(t, 2, size(t) - 1))"
                )
            ).alias("bg"),
        )
        .select(
            "doc_id",
            F.col("bg").getField("0").alias("w1"),
            F.col("bg").getField("1").alias("w2"),
        )
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count("*").alias("c"))
    )
