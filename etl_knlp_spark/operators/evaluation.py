"""Model/classifier evaluation operators (round-5 verdict #5).

The curation analog of the reference's data-quality checks
(dag-knlp.py:243-279): where the reference gates a load on count>=1
and max-length<=13, a training-data pipeline gates its *classifiers*
— language-ID, quality scoring, perplexity filtering — on evaluation
tables. `langid_confusion` (text.py) contributed the confusion
matrix; this module adds the per-class precision/recall/F1 summary
and the threshold-sweep (operating-characteristic) tables used to
pick filter cutoffs against a token budget.

Scale shape shared by all three: one partial-aggregated pass over the
corpus down to a bounded table (|classes|² cells, 21 score buckets),
then all ratio/cumulative math happens on that tiny table — windows
and joins never see row-level data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query
from .analysis import _PPLX_ORACLE, lm_perplexity_filter, quality_scored
from .text import _LANGID_ORACLE, langid_udf

_PRF_ORACLE = f"""
    WITH pred AS ({_LANGID_ORACLE}
    ), cells AS (
      SELECT lang AS gold, lang_pred AS pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ), g AS (
      SELECT gold AS cls, CAST(SUM(n) AS BIGINT) AS n_gold FROM cells GROUP BY 1
    ), p AS (
      SELECT pred AS cls, CAST(SUM(n) AS BIGINT) AS n_pred FROM cells GROUP BY 1
    ), d AS (
      SELECT gold AS cls, CAST(SUM(n) AS BIGINT) AS tp
      FROM cells WHERE gold = pred GROUP BY 1
    ), j AS (
      SELECT COALESCE(g.cls, p.cls) AS cls,
             COALESCE(n_gold, 0) AS n_gold,
             COALESCE(n_pred, 0) AS n_pred
      FROM g FULL OUTER JOIN p ON g.cls = p.cls
    ), full_j AS (
      SELECT j.cls, j.n_gold, j.n_pred, COALESCE(d.tp, 0) AS tp
      FROM j LEFT JOIN d ON j.cls = d.cls
    )
    SELECT cls, n_gold, n_pred, tp,
           FLOOR(CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred ELSE 0 END
                 * 1000000 + 0.5) / 1000000.0 AS prec,
           FLOOR(CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold ELSE 0 END
                 * 1000000 + 0.5) / 1000000.0 AS rec,
           FLOOR(CASE WHEN (CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred ELSE 0 END)
                         + (CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold ELSE 0 END) > 0
                      THEN 2 * (CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred ELSE 0 END)
                             * (CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold ELSE 0 END)
                           / ((CASE WHEN n_pred > 0 THEN tp * 1.0 / n_pred ELSE 0 END)
                              + (CASE WHEN n_gold > 0 THEN tp * 1.0 / n_gold ELSE 0 END))
                      ELSE 0 END * 1000000 + 0.5) / 1000000.0 AS f1
    FROM full_j
    """


@query("eval_prf_summary", oracle=_PRF_ORACLE)
def eval_prf_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 of the language-ID kernel against
    the gold `lang` label — the summary row a model card quotes, and
    the second member of the evaluation family after the confusion
    matrix (`langid_confusion`). Classes are the UNION of gold and
    predicted labels, so a class the model invents (or never predicts)
    still gets a row; the undefined-ratio convention is the usual 0.

    The prediction runs through the REAL pandas-UDF kernel; the oracle
    re-derives it from the shared declarative mirror (`_LANGID_ORACLE`)
    and recomputes P/R/F1 relationally, so kernel drift and the ratio
    algebra both hash-gate. F1 is computed from the UNROUNDED ratios
    (identical double expressions in both engines), rounded last.

    Scale: one (gold, pred) partial-aggregated groupBy over the corpus
    — ≤ |langs|² cells shuffle; the three per-class pivots and joins
    run on the cell table. The cell table is localCheckpointed: it
    feeds three aggregation branches (n_gold / n_pred / tp), and
    without the checkpoint Catalyst re-runs the corpus scan AND the
    pandas-UDF prediction once per branch (the round-7 plan audit
    caught FOUR ArrowEvalPython nodes over three full scans — the
    expensive kernel ran 4× for one evaluation). Materialized once,
    the corpus is scanned once and every branch reads ≤|langs|² rows."""
    docs = load_table(spark, sf_dir, "documents")
    cells = (
        docs.select(
            F.col("lang").alias("gold"),
            langid_udf()(F.col("text")).alias("pred"),
        )
        .groupBy("gold", "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=False)
    )
    g = cells.groupBy(F.col("gold").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("n_gold")
    )
    p = cells.groupBy(F.col("pred").alias("cls")).agg(
        F.sum("n").cast("bigint").alias("n_pred")
    )
    d = (
        cells.filter(F.col("gold") == F.col("pred"))
        .groupBy(F.col("gold").alias("cls"))
        .agg(F.sum("n").cast("bigint").alias("tp"))
    )
    j = (
        g.join(p, "cls", "full_outer")
        .join(d, "cls", "left")
        .select(
            "cls",
            F.coalesce("n_gold", F.lit(0)).cast("bigint").alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") * 1.0 / F.col("n_pred")).otherwise(0.0)
    rec = F.when(F.col("n_gold") > 0, F.col("tp") * 1.0 / F.col("n_gold")).otherwise(0.0)
    f1 = F.when(prec + rec > 0, 2 * prec * rec / (prec + rec)).otherwise(0.0)

    # exact int-ratio compositions: floor-form rounding (r12; see
    # corpus_mixture_weights) — ROUND(x, 6) splits engines on
    # 7th-decimal-terminating halves, which tp/n ratios CAN land on
    def r6(c):
        return F.floor(c * 1000000 + 0.5) / 1000000.0

    return j.select(
        "cls",
        "n_gold",
        "n_pred",
        "tp",
        r6(prec).alias("prec"),
        r6(rec).alias("rec"),
        r6(f1).alias("f1"),
    )


# Threshold-sweep semantics note (both sweeps): membership at
# threshold k is defined through the BUCKET id (floor of the scaled
# score), not a fresh `score >= k*step` comparison — the bucketing is
# the single float boundary decision, evaluated by the identical
# expression in both engines, so the sweep is hash-exact without any
# epsilon games. floor(x*scale) >= k  ⇔  x*scale >= k for integer k.

_QUALITY_SWEEP_ORACLE = """
    WITH t AS (
      SELECT lang, n_chars,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), scored AS (
      SELECT LEAST(n_chars / 500.0, 1.0) * 0.5
             + LEAST(len(list_filter(toks, x -> x IN ('the', 'a'))) * 5.0 / len(toks), 1.0) * 0.5
               AS quality
      FROM t
    ), bucketed AS (
      SELECT CAST(LEAST(FLOOR(quality * 20), 20) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(FLOOR(quality * 1000000000 + 0.5) AS BIGINT)) AS q_u
      FROM scored GROUP BY 1
    ), grid AS (
      SELECT CAST(k AS BIGINT) AS k FROM generate_series(0, 20) AS gs(k)
    ), filled AS (
      SELECT grid.k, COALESCE(b2.n, 0) AS n, COALESCE(b2.q_u, 0) AS q_u
      FROM grid LEFT JOIN bucketed b2 ON grid.k = b2.b
    ), cum AS (
      SELECT k, n,
             SUM(n) OVER (ORDER BY k DESC ROWS UNBOUNDED PRECEDING) AS n_kept,
             SUM(q_u) OVER (ORDER BY k DESC ROWS UNBOUNDED PRECEDING)
               AS q_kept_u,
             SUM(n) OVER () AS n_total
      FROM filled
    )
    SELECT ROUND(k * 0.05, 2) AS thr,
           CAST(n_kept AS BIGINT) AS n_kept,
           FLOOR(n_kept * 1.0 / n_total * 1000000 + 0.5) / 1000000.0
             AS keep_rate,
           FLOOR(CASE WHEN n_kept > 0
                 THEN CAST(q_kept_u AS DOUBLE) / 1000000000.0 / n_kept END
                 * 1000000 + 0.5) / 1000000.0
             AS avg_quality_kept
    FROM cum
    """


@query("quality_threshold_sweep", oracle=_QUALITY_SWEEP_ORACLE)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-characteristic table for the document quality score
    (`doc_quality_filter`'s scoring core): for each threshold in a
    21-step grid over [0, 1], how many documents survive, what
    fraction of the corpus that is, and the mean quality of the kept
    set — the table a curation run reads to pick the cutoff that
    meets its token budget, instead of re-running the filter per
    candidate threshold.

    One corpus pass buckets every score into floor(quality·20)
    (21 buckets); the whole sweep is then a reverse-cumulative window
    over the 21-row bucket table — threshold k keeps exactly buckets
    ≥ k. Adding thresholds costs nothing corpus-side.

    Determinism (r11 review): the per-bucket quality mass accumulates
    as exact 1e-9-unit integers in DECIMAL(38,0) (buckets are
    fixed-cardinality groups growing with the corpus — the money-sum
    policy), not a shuffled double SUM whose combine-order ulp could
    flip avg_quality_kept's 6th decimal between layouts/engines. The
    1e-9 quantization is mirrored verbatim in the oracle, so both
    engines divide the same exact integer."""
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scored(docs)
    bucketed = scored.groupBy(
        F.least(F.floor(F.col("quality") * 20), F.lit(20))
        .cast("bigint")
        .alias("b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.floor(F.col("quality") * 1000000000 + 0.5).cast("decimal(38,0)")
        ).alias("q_u"),
    )
    grid = spark.range(0, 21).select(F.col("id").alias("k"))
    filled = grid.join(bucketed, grid.k == bucketed.b, "left").select(
        "k",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("q_u", F.lit(0).cast("decimal(38,0)")).alias("q_u"),
    )
    w_desc = Window.orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = filled.select(
        "k",
        F.sum("n").over(w_desc).alias("n_kept"),
        F.sum("q_u").over(w_desc).alias("q_kept_u"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    # exact ratios (int/int and exact-unit/1e9/int): floor-form
    # rounding (r12; see corpus_mixture_weights) — ROUND(x, 6) splits
    # engines on 7th-decimal-terminating halves of identical doubles.
    # The NULL row (n_kept = 0) stays NULL through floor arithmetic.
    return cum.select(
        F.round(F.col("k") * 0.05, 2).alias("thr"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        (
            F.floor(F.col("n_kept") * 1.0 / F.col("n_total") * 1000000 + 0.5)
            / 1000000.0
        ).alias("keep_rate"),
        (
            F.floor(
                F.when(
                    F.col("n_kept") > 0,
                    F.col("q_kept_u").cast("double")
                    / F.lit(1000000000.0)
                    / F.col("n_kept"),
                )
                * 1000000
                + 0.5
            )
            / 1000000.0
        ).alias("avg_quality_kept"),
    )


_PPLX_SWEEP_ORACLE = f"""
    WITH pplx AS ({_PPLX_ORACLE}
    ), bucketed AS (
      SELECT CAST(LEAST(GREATEST(FLOOR((avg_logp + 15.0) / 0.75), 0), 20) AS BIGINT) AS b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams
      FROM pplx GROUP BY 1
    ), grid AS (
      SELECT CAST(k AS BIGINT) AS k FROM generate_series(0, 20) AS gs(k)
    ), filled AS (
      SELECT grid.k, COALESCE(b2.n, 0) AS n, COALESCE(b2.n_bigrams, 0) AS n_bigrams
      FROM grid LEFT JOIN bucketed b2 ON grid.k = b2.b
    ), cum AS (
      SELECT k, n,
             SUM(n) OVER (ORDER BY k DESC ROWS UNBOUNDED PRECEDING) AS n_kept,
             SUM(n_bigrams) OVER (ORDER BY k DESC ROWS UNBOUNDED PRECEDING) AS bigrams_kept,
             SUM(n) OVER () AS n_total
      FROM filled
    )
    SELECT ROUND(-15.0 + k * 0.75, 2) AS thr,
           CAST(n_kept AS BIGINT) AS n_kept,
           FLOOR(n_kept * 1.0 / n_total * 1000000 + 0.5) / 1000000.0
             AS keep_rate,
           CAST(bigrams_kept AS BIGINT) AS bigrams_kept
    FROM cum
    """


@query("perplexity_threshold_sweep", oracle=_PPLX_SWEEP_ORACLE)
def perplexity_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold sweep for the bigram-LM perplexity filter
    (`lm_perplexity_filter`): for each cutoff on mean bigram log-prob
    (21 steps of 0.75 nat over [-15, 0] — scores below the range clamp
    into the lowest bucket), the surviving document count, corpus
    fraction, and surviving BIGRAM volume (the token-budget column: a
    perplexity cutoff is chosen by how much training data it leaves,
    not just how many documents). Reuses `lm_perplexity_filter`'s
    per-doc output verbatim — scores bucket on the already-ROUNDED
    avg_logp, so the only cross-engine float decision is one both
    engines have already hash-agreed on."""
    pplx = lm_perplexity_filter(spark, sf_dir)
    bucketed = pplx.groupBy(
        F.least(
            F.greatest(F.floor((F.col("avg_logp") + 15.0) / 0.75), F.lit(0)),
            F.lit(20),
        )
        .cast("bigint")
        .alias("b")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
    )
    grid = spark.range(0, 21).select(F.col("id").alias("k"))
    filled = grid.join(bucketed, grid.k == bucketed.b, "left").select(
        "k",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
    )
    w_desc = Window.orderBy(F.col("k").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = filled.select(
        "k",
        F.sum("n").over(w_desc).alias("n_kept"),
        F.sum("n_bigrams").over(w_desc).alias("bigrams_kept"),
        F.sum("n").over(w_all).alias("n_total"),
    )
    return cum.select(
        F.round(F.lit(-15.0) + F.col("k") * 0.75, 2).alias("thr"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        # exact int ratio: floor-form rounding (r12; see
        # corpus_mixture_weights) — ROUND(x, 6) splits engines on
        # 7th-decimal-terminating halves of identical doubles
        (
            F.floor(F.col("n_kept") * 1.0 / F.col("n_total") * 1000000 + 0.5)
            / 1000000.0
        ).alias("keep_rate"),
        F.col("bigrams_kept").cast("bigint").alias("bigrams_kept"),
    )


# NDCG@10 discount weights 1/log2(rank+1), materialized as full-repr
# double literals so BOTH engines parse the identical values and no
# libm log runs at eval time (the bm25 ln() is the only ULP-risky call
# in the retrieval stack; the EVAL stays literal-exact).
_NDCG_W = (
    "1.0, 0.6309297535714575, 0.5, 0.43067655807339306, "
    "0.38685280723454163, 0.3562071871080222, 0.3333333333333333, "
    "0.31546487678572877, 0.3010299956639812, 0.2890648263178879"
)
_NDCG_K1 = 1.2
_NDCG_B = 0.75
_NDCG_TERMS = ("vector", "hash", "stream")


@query(
    "ndcg_retrieval_eval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), dl AS (
      SELECT doc_id, len(t)::BIGINT AS dl FROM toks
    ), stats AS (
      SELECT AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      WHERE term IN {_NDCG_TERMS!r}
      GROUP BY 1, 2
    ), scored AS (
      SELECT tf.term, tf.doc_id,
             LEAST(tf.tf, 3) AS rel,
             FLOOR(tf.tf * ({_NDCG_K1} + 1.0)
                   / (tf.tf + {_NDCG_K1}
                      * (1.0 - {_NDCG_B} + {_NDCG_B} * dl.dl / stats.avgdl))
                   * 1000000 + 0.5) / 1000000.0 AS s
      FROM tf JOIN dl USING (doc_id) CROSS JOIN stats
    ), run AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY s DESC, doc_id) AS rnk
      FROM scored
    ), ideal AS (
      SELECT term, rel,
             ROW_NUMBER() OVER (PARTITION BY term
                                ORDER BY rel DESC, doc_id) AS rnk
      FROM scored WHERE rel > 0
    ), dcg AS (
      SELECT term,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_sort(list([rnk::BIGINT,
                                              CAST((1 << rel) - 1 AS BIGINT)])),
                              p -> p[2] * ([{_NDCG_W}])[p[1]])),
               (a, x) -> a + x) AS dcg
      FROM run WHERE rnk <= 10 GROUP BY term
    ), idcg AS (
      SELECT term,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(list_sort(list([rnk::BIGINT,
                                              CAST((1 << rel) - 1 AS BIGINT)])),
                              p -> p[2] * ([{_NDCG_W}])[p[1]])),
               (a, x) -> a + x) AS idcg
      FROM ideal WHERE rnk <= 10 GROUP BY term
    )
    SELECT d.term AS query_term,
           CAST(FLOOR(d.dcg / i.idcg * 1000000.0) AS BIGINT) AS ndcg_micro
    FROM dcg d JOIN idcg i USING (term)
    """,
)
def ndcg_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the BM25-style per-term ranking against graded
    count-based relevance — the RANKING evaluation metric next to
    `eval_prf_summary`'s classification P/R/F1. The run ranks by the
    length-normalized tf saturation score; the qrels grade by raw
    capped term count (rel 0-3) — independent enough that
    normalization-induced reorderings genuinely cost NDCG.

    Determinism: gains (2^rel − 1) are exact integers; the rank
    discounts are FULL-REPR DOUBLE LITERALS of 1/log2(r+1) shared by
    both engines (no runtime libm, the ULP risk the bm25 score's
    ln() carries is rounded away at 6dp before ranking); both DCG
    sums fold in pinned rank order (sorted (rank, gain) pairs →
    sequential left fold), and the final division is one IEEE op
    before the micro floor.

    Scale: term-filtered postings before any shuffle (the bm25_topk
    argument), two per-term rank windows (WindowGroupLimit heaps),
    ≤10-element folds."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    base = docs.select("doc_id", toks.alias("t")).select(
        "doc_id", "t", F.size("t").cast("bigint").alias("dl")
    )
    stats = F.broadcast(base.agg(F.avg("dl").alias("avgdl")))
    tf = (
        base.select("doc_id", "dl", F.explode("t").alias("term"))
        .filter(F.col("term").isin(*_NDCG_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"), F.first("dl").alias("dl"))
    )
    scored = tf.crossJoin(stats).select(
        "term",
        "doc_id",
        F.least("tf", F.lit(3)).cast("int").alias("rel"),
        # the 6dp score is an exact rational (int tf/dl, exact avgdl,
        # decimal-literal constants) AND it decides the rank order —
        # floor-form rounding (r12; see corpus_mixture_weights) so a
        # terminating-half landing cannot rank the run differently
        # across engines
        (
            F.floor(
                F.col("tf")
                * (_NDCG_K1 + 1.0)
                / (
                    F.col("tf")
                    + _NDCG_K1
                    * (1.0 - _NDCG_B + _NDCG_B * F.col("dl") / F.col("avgdl"))
                )
                * 1000000
                + 0.5
            )
            / 1000000.0
        ).alias("s"),
    )
    from pyspark.sql import Window

    w_run = Window.partitionBy("term").orderBy(F.col("s").desc(), "doc_id")
    w_ideal = Window.partitionBy("term").orderBy(F.col("rel").desc(), "doc_id")

    def fold_dcg(df: DataFrame, out: str) -> DataFrame:
        pairs = F.array_sort(
            F.collect_list(
                F.array(
                    F.col("rnk").cast("bigint"),
                    F.expr("CAST(shiftleft(1, rel) - 1 AS BIGINT)"),
                )
            )
        )
        gains = F.transform(
            pairs, lambda p: p[1] * F.expr(f"array({_NDCG_W})")[(p[0] - 1).cast("int")]
        )
        return df.groupBy("term").agg(
            F.aggregate(gains, F.lit(0.0), lambda a, x: a + x).alias(out)
        )

    run = scored.withColumn("rnk", F.row_number().over(w_run)).filter(
        F.col("rnk") <= 10
    )
    ideal = (
        scored.filter(F.col("rel") > 0)
        .withColumn("rnk", F.row_number().over(w_ideal))
        .filter(F.col("rnk") <= 10)
    )
    dcg = fold_dcg(run, "dcg")
    idcg = fold_dcg(ideal, "idcg")
    return (
        dcg.join(idcg, "term")
        .select(
            F.col("term").alias("query_term"),
            F.floor(F.col("dcg") / F.col("idcg") * 1000000.0)
            .cast("bigint")
            .alias("ndcg_micro"),
        )
    )
