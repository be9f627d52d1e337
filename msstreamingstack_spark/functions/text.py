"""Text-analysis expression library (training-data-pipeline extension
surface): tokenization, word shingles and the deterministic hashing
primitives shared by the dedup operators.

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
