"""Corpus-preparation pipeline composition: the LLM-data operators
chained the way a production pre-training pipeline runs them, with the
per-stage survival funnel every such pipeline publishes.

The reference's pipeline is parse → stage → load → dimension → DQ
(plans/pipeline.py mirrors it end to end; dag-knlp.py:281-447 is the
DAG). This module is the extended-engine counterpart: documents flow
clean → quality-filter → exact-dedup → sequence-packing, each stage
an operator that is ALSO individually registered and oracled
(filter_notnull / doc_quality_filter / dedup_exact / pack_sequences
families). Composing them in one plan is the usability proof: a user
runs the whole prep as one lazy DataFrame program, and Catalyst sees
a single plan per stage count (no materialization between stages
unless the user asks).

100 TB notes: the funnel is four scans' worth of work, not four
pipelines — clean and quality are zero-shuffle scan-projects fused
into whatever consumes them; dedup shuffles 32-byte digests; packing
shuffles (doc_id, lang, n_tokens) triples only. Counts are scalar
aggregates unioned at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..operators.packing import DEFAULT_BUDGET, pack_sequences
from ..registry import query


def clean_docs(docs: DataFrame, min_tokens: int = 5) -> DataFrame:
    """Stage 1 — drop null/degenerate docs (README.md:15's "NA rows
    are removed" plus a minimum-length floor)."""
    return docs.filter(
        F.col("text").isNotNull() & (F.size(words("text")) >= min_tokens)
    )


def quality_filter(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Stage 2 — heuristic quality gate (same signal family as
    `doc_quality_filter`: length saturation + stopword density)."""
    n_tok = F.size(words("text"))
    n_stop = F.size(F.filter(words("text"), lambda x: x.isin("the", "a")))
    quality = (
        F.least(F.col("n_chars") / 500.0, F.lit(1.0)) * 0.5
        + F.least(n_stop * 5.0 / n_tok, F.lit(1.0)) * 0.5
    )
    return docs.filter(quality >= threshold)


def dedup_survivors(docs: DataFrame) -> DataFrame:
    """Stage 3 — keep the minimum doc_id per exact-text fingerprint
    (same digest + survivor rule as `dedup_exact`)."""
    normalized = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    fp = docs.withColumn("fp", F.md5(normalized))
    from pyspark.sql import Window

    w = Window.partitionBy("fp")
    return (
        fp.withColumn("min_id", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("min_id"))
        .drop("fp", "min_id")
    )


@query(
    "corpus_funnel",
    oracle=f"""
    WITH RECURSIVE raw AS (
      SELECT doc_id, lang, text, n_chars FROM documents
    ), clean AS (
      SELECT * FROM raw
      WHERE text IS NOT NULL
        AND len(string_split_regex(trim(lower(text)), '\\s+')) >= 5
    ), qual AS (
      SELECT * FROM (
        SELECT *,
               LEAST(n_chars / 500.0, 1.0) * 0.5
               + LEAST(len(list_filter(
                     string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x IN ('the', 'a'))) * 5.0
                   / len(string_split_regex(trim(lower(text)), '\\s+')),
                   1.0) * 0.5 AS q
        FROM clean
      ) WHERE q >= 0.5
    ), surv AS (
      SELECT doc_id, lang, text FROM (
        SELECT *,
               MIN(doc_id) OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text),
                                                      '\\s+', ' ', 'g')))
               ) AS min_id
        FROM qual
      ) WHERE doc_id = min_id
    ), ordered AS (
      SELECT doc_id, lang,
             len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT
               AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM surv
    ), walk(lang, rn, seq_id, used) AS (
      SELECT lang, rn, 0::BIGINT, n_tokens
      FROM ordered WHERE rn = 1
      UNION ALL
      SELECT o.lang, o.rn,
             CASE WHEN w.used > 0 AND w.used + o.n_tokens > {DEFAULT_BUDGET}
                  THEN w.seq_id + 1 ELSE w.seq_id END,
             CASE WHEN w.used > 0 AND w.used + o.n_tokens > {DEFAULT_BUDGET}
                  THEN o.n_tokens ELSE w.used + o.n_tokens END
      FROM walk w JOIN ordered o ON o.lang = w.lang AND o.rn = w.rn + 1
    )
    SELECT 'raw' AS stage, COUNT(*)::BIGINT AS n FROM raw
    UNION ALL SELECT 'clean', COUNT(*)::BIGINT FROM clean
    UNION ALL SELECT 'quality', COUNT(*)::BIGINT FROM qual
    UNION ALL SELECT 'dedup', COUNT(*)::BIGINT FROM surv
    UNION ALL SELECT 'packed', COUNT(*)::BIGINT
      FROM (SELECT DISTINCT lang, seq_id FROM walk)
    """,
)
def corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-prep pipeline end to end with its survival funnel:
    raw → clean → quality → exact-dedup → packed sequences, one row
    per stage with the surviving count. The DuckDB oracle replays
    every stage — including the greedy packing walk as a recursive
    CTE — so the whole COMPOSITION is hash-verified, not just the
    stages in isolation."""
    docs = load_table(spark, sf_dir, "documents")
    raw = docs.select("doc_id", "lang", "text", "n_chars")
    clean = clean_docs(raw)
    qual = quality_filter(clean)
    surv = dedup_survivors(qual)
    packed = pack_sequences(surv).select("lang", "seq_id").distinct()

    def stage(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"), F.count(F.lit(1)).cast("bigint").alias("n")
        )

    return (
        stage("raw", raw)
        .unionAll(stage("clean", clean))
        .unionAll(stage("quality", qual))
        .unionAll(stage("dedup", surv))
        .unionAll(stage("packed", packed))
    )
