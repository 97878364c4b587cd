"""The engine's word vocabulary: the whitespace tokenizer every text
query splits on, and the hashed word-n-gram window over its tokens.

The reference DAG splits each text line into words (dag-knlp.py:102,
273); here a word is a maximal run of non-whitespace in the trimmed,
lowercased text, so an empty or all-blank text yields one empty token
`[""]`. The DuckDB oracles spell the same rule
`string_split_regex(trim(lower(text)), '\\s+')`.

A word-n-gram is hashed as one `xxhash64` over its n tokens, so posting
lists and signatures carry 8-byte keys instead of gram strings. The
window runs over 1-based start positions `1 .. size(toks) - (n-1)`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def words(col: str | Column) -> Column:
    """array<string>: the whitespace tokens of `col`."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def words_sql(col: str) -> str:
    """`words` spelled in Spark SQL, for SQL-text function bodies."""
    return rf"split(trim(lower({col})), '\\s+')"


def _ngram_hash_sql(n: int) -> str:
    offsets = ["i"] + [f"i + {k}" for k in range(1, n)]
    return "xxhash64(" + ", ".join(f"element_at(toks, {o})" for o in offsets) + ")"


def ngram_hash_array(n: int) -> Column:
    """array<bigint>: the hashed word-n-grams of the `toks` column, one
    per window start, in order (duplicates kept)."""
    return F.expr(f"transform(sequence(1, size(toks) - {n - 1}), i -> {_ngram_hash_sql(n)})")


def ngram_hash_rows(
    docs: DataFrame, n: int, *keys: str | Column, text: str | Column = "text", out: str = "gh"
) -> DataFrame:
    """(*keys, out): one row per word-n-gram window of each document
    with at least n tokens, duplicates kept — callers dedup as they
    need. The explode runs over the cheap index sequence, not over a
    hash array: Catalyst collapses a preceding projection into
    Generate, so an inlined array-building expression would be
    re-evaluated per output row (~60× the work; the MinHash band
    builder measured 20× slower at sf0.1)."""
    toks = docs.select(*keys, words(text).alias("toks"))
    names = toks.columns[:-1]
    return (
        toks.filter(F.size("toks") >= n)
        .select(
            *names,
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - F.lit(n - 1))).alias("i"),
        )
        .select(*names, F.expr(_ngram_hash_sql(n)).alias(out))
    )
