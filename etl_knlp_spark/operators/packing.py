"""Sequence packing for training-data pipelines (SURVEY.md §2.12
extension): greedily pack documents into fixed-token-budget training
sequences — the step between a cleaned corpus and a dataloader, where
short documents are concatenated up to the context length so no
sequence slot is wasted.

Greedy first-fit-in-order packing is inherently sequential per group
(the bin a document lands in depends on the running remainder — a
stateful scan SQL windows can't express because the accumulator
resets), so this is a legitimate `applyInPandas` kernel, not a
UDF-where-SQL-would-do. The registry entry is rows-only by design;
tests pin the packing invariants instead (budget respected, order
preserved, every doc packed exactly once).

100 TB notes: one shuffle, keyed by the pack group (lang here — in a
real pipeline, (lang, shard) to bound group size). Each kernel call
sees one group's (doc_id, n_tokens) pairs — two longs per doc, NOT
the text — so even a billion-doc group is a few GB of Arrow batch.
Token counts are computed engine-side (codegen split) before the
kernel; the text column never reaches Python.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query

DEFAULT_BUDGET = 256


def _pack_group(pdf: pd.DataFrame, budget: int) -> pd.DataFrame:
    """Greedy in-order packer for one group: walk docs in doc_id order,
    open a new sequence whenever adding the next doc would exceed the
    budget. A single doc larger than the budget gets its own sequence
    (truncation is the dataloader's call, not the packer's)."""
    pdf = pdf.sort_values("doc_id", kind="mergesort").reset_index(drop=True)
    seq_ids, seq_id, used = [], 0, 0
    for n in pdf["n_tokens"]:
        if used > 0 and used + n > budget:
            seq_id += 1
            used = 0
        used += int(n)
        seq_ids.append(seq_id)
    out = pdf[["doc_id", "lang", "n_tokens"]].copy()
    out["seq_id"] = seq_ids
    return out


def pack_sequences(docs: DataFrame, budget: int = DEFAULT_BUDGET) -> DataFrame:
    """Pack each language's documents (doc_id order) into sequences of
    at most ``budget`` whitespace tokens. Output: one row per doc with
    its (lang, seq_id) assignment and token count."""
    toks = words("text")
    slim = docs.select(
        "doc_id", "lang", F.size(toks).cast("long").alias("n_tokens")
    )
    return (
        slim.groupBy("lang")
        .applyInPandas(
            lambda pdf: _pack_group(pdf, budget),
            schema="doc_id long, lang string, n_tokens long, seq_id long",
        )
    )


@query(
    "pack_sequences",
    oracle=f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens
      FROM documents
    ), ordered AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM toks
    ), walk(lang, rn, doc_id, n_tokens, seq_id, used) AS (
      SELECT lang, rn, doc_id, n_tokens, 0::BIGINT, n_tokens
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.lang, o.rn, o.doc_id, o.n_tokens,
             CASE WHEN w.used > 0 AND w.used + o.n_tokens > {DEFAULT_BUDGET}
                  THEN w.seq_id + 1 ELSE w.seq_id END,
             CASE WHEN w.used > 0 AND w.used + o.n_tokens > {DEFAULT_BUDGET}
                  THEN o.n_tokens ELSE w.used + o.n_tokens END
      FROM walk w JOIN ordered o ON o.lang = w.lang AND o.rn = w.rn + 1
    )
    SELECT doc_id, lang, n_tokens, seq_id FROM walk
    """,
)
def pack_sequences_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: pack `documents` per language at the default
    budget. Upgraded from rows-only in round 5: the running-reset
    accumulator has no WINDOW formulation, but it IS expressible as a
    sequential recursion — the DuckDB oracle walks each language's
    doc_id order through a recursive CTE carrying (seq_id, used),
    stepping every language in parallel per recursion level, and
    reproduces the greedy first-fit assignment exactly. (The Spark
    side stays `applyInPandas`: a per-row recursive walk is an
    oracle-sized tool, not a 100 TB plan.) Invariants additionally
    pinned in tests/test_packing.py."""
    return pack_sequences(load_table(spark, sf_dir, "documents"))


@query(
    "length_bucket_batches",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens
      FROM documents
    ), bucketed AS (
      SELECT doc_id, n_tokens, n_tokens // 32 AS bucket FROM toks
    )
    SELECT doc_id, n_tokens, bucket,
           CAST((row_number() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 16
                AS BIGINT) AS batch_id
    FROM bucketed
    """,
)
def length_bucket_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assignment: docs grouped into width-32
    token-length buckets, then numbered into fixed-size (16) training
    batches within each bucket — the standard padding-waste
    minimization for sequence training (batchmates differ by <32
    tokens, so pad-to-longest wastes <32/seq instead of
    pad-to-global-max). The window partitions by bucket: each bucket
    sorts independently, no global sort. Deterministic: batch order
    is doc_id order within bucket (swap in a hash of doc_id for an
    order-decorrelated but still reproducible shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words("text")).cast("bigint")
    bucketed = docs.select(
        "doc_id", n_tok.alias("n_tokens"), (n_tok / 32).cast("bigint").alias("bucket")
    )
    w = Window.partitionBy("bucket").orderBy("doc_id")
    return bucketed.select(
        "doc_id",
        "n_tokens",
        "bucket",
        ((F.row_number().over(w) - 1) / 16).cast("bigint").alias("batch_id"),
    )
