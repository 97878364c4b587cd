"""Statistical & reshaping aggregates (SURVEY.md §2.4 A4 extension):
percentiles, moments/correlation, pivot, conditional aggregation,
histograms, ordered string aggregation.

All are single groupBy pipelines — partial aggregation map-side, one
shuffle keyed on the group columns. Floating aggregates round to a
fixed scale on both engine and oracle (summation-order sensitivity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query


@query(
    "percentile_agg",
    oracle="""
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
           ROUND(quantile_cont(l_extendedprice, 0.95), 4) AS p95_price,
           ROUND(quantile_disc(l_quantity, 0.5), 4)       AS median_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def percentile_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous/discrete percentiles per group. Exact
    percentile needs the full value multiset per group — at 100 TB use
    `approx_percentile` (KLL-style sketch, constant memory) unless the
    group cardinality is bounded; both shapes exposed here."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("median_price"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("p95_price"),
        F.round(F.expr("percentile_approx(l_quantity, 0.5, 2147483647)"), 4).alias(
            "median_qty_disc"
        ),
    )


@query(
    "stats_agg",
    oracle="""
    SELECT l_linestatus,
           ROUND(stddev_samp(l_quantity), 4)             AS qty_stddev,
           ROUND(var_samp(l_discount), 6)                AS disc_var,
           ROUND(corr(l_quantity, l_extendedprice), 6)   AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_tax), 6)       AS qty_tax_covar
    FROM lineitem GROUP BY l_linestatus
    """,
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group (stddev/variance/corr/covar)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
        F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_tax"), 6).alias("qty_tax_covar"),
    )


@query(
    "pivot_agg",
    oracle="""
    SELECT l_linestatus,
           ROUND(SUM(l_quantity) FILTER (WHERE l_returnflag = 'A'), 2) AS A,
           ROUND(SUM(l_quantity) FILTER (WHERE l_returnflag = 'N'), 2) AS N,
           ROUND(SUM(l_quantity) FILTER (WHERE l_returnflag = 'R'), 2) AS R
    FROM lineitem GROUP BY l_linestatus
    """,
)
def pivot_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long→wide reshape): return-flag columns per line status.
    Explicit pivot values keep the plan single-pass (no extra distinct
    scan to discover columns) — mandatory at scale."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@query(
    "conditional_agg",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_finished,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
           CAST(SUM(CASE WHEN o_totalprice > 200000
                    THEN CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS DOUBLE) / 100.0
             AS big_spend
    FROM orders GROUP BY o_orderpriority
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (count_if / sum-case) — the one-pass
    alternative to N filtered scans. The money sum accumulates in
    exact integer cents in DECIMAL(38,0) (layout-independent, r11
    determinism-probe recipe; the five priority groups grow with the
    corpus, so BIGINT cents cross 9.2e18 inside the 100 TB posture —
    r11 review hardening), unlike the bounded per-window sums that
    keep plain float sums."""
    o = load_table(spark, sf_dir, "orders")
    price_c = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    return o.groupBy("o_orderpriority").agg(
        F.count_if(F.col("o_orderstatus") == "F").alias("n_finished"),
        F.count_if(F.col("o_orderstatus") == "O").alias("n_open"),
        (
            F.sum(
                F.when(F.col("o_totalprice") > 200000, price_c)
                .otherwise(0)
                .cast("decimal(38,0)")
            ).cast("double")
            / F.lit(100.0)
        ).alias("big_spend"),
    )


@query(
    "histogram_bucket",
    oracle="""
    SELECT CAST(FLOOR(o_totalprice / 50000) AS BIGINT) AS bucket,
           COUNT(*) AS n_orders
    FROM orders GROUP BY 1
    """,
)
def histogram_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via arithmetic bucketing — integer bucket
    ids are engine-portable (unlike float bin edges)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(
        F.floor(F.col("o_totalprice") / 50000).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "minmax_by",
    oracle="""
    WITH mk AS (
      SELECT CAST(MAX(c_custkey) AS HUGEINT) + 1 AS k FROM customer
    )
    SELECT c_nationkey,
           arg_max(c_custkey,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS HUGEINT) * mk.k
                     + c_custkey) AS richest_cust,
           arg_min(c_custkey,
                   CAST(FLOOR(c_acctbal * 100 + 0.5) AS HUGEINT) * mk.k
                     + c_custkey) AS poorest_cust,
           ROUND(MAX(c_acctbal), 2) AS max_bal
    FROM customer, mk GROUP BY c_nationkey
    """,
)
def minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg-max/arg-min aggregation (max_by/min_by): the key of the
    extreme row without a self-join or window.

    The ordering value is (balance in cents) ⊕ custkey packed into one
    wide integer: sf0.1 has within-nation balance TIES, and arg-max
    among tied orderings is engine-arbitrary — a composite unique
    ordering makes the answer well-defined everywhere.

    r11 review: the multiplier was a hard-coded 10^7 BIGINT, which is
    only order-preserving while custkey < 10^7 — at TPC-H SF ≥ 67 a
    huge-key low-balance customer out-packs a richer small-key one,
    and the oracle encoded the identical wrong packing (mirrored,
    hash-invisible). The multiplier is now DATA-DERIVED
    (MAX(custkey)+1, a one-row broadcast both engines compute) and
    the arithmetic runs in DECIMAL(38,0)/HUGEINT, so the packing is
    collision-free and overflow-free at any scale, for negative
    balances too ((c2−c1)·K > any key difference whenever c2 > c1)."""
    c = load_table(spark, sf_dir, "customer")
    mk = F.broadcast(
        c.agg((F.max("c_custkey").cast("decimal(38,0)") + 1).alias("k"))
    )
    ord_key = (
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("decimal(38,0)")
        * F.col("k")
        + F.col("c_custkey")
    )
    return (
        c.crossJoin(mk)
        .groupBy("c_nationkey")
        .agg(
            F.max_by("c_custkey", ord_key).alias("richest_cust"),
            F.min_by("c_custkey", ord_key).alias("poorest_cust"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
        )
    )


@query(
    "bool_agg",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)   AS all_over_1k,
           bool_or(o_totalprice > 400000)  AS any_over_400k
    FROM orders GROUP BY o_orderpriority
    """,
)
def bool_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean aggregation (every/some)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.every(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.some(F.col("o_totalprice") > 400000).alias("any_over_400k"),
    )


@query(
    "unpivot_long",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def unpivot_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt (wide→long reshape) — the inverse of `pivot_agg`.
    One scan, rows fan out 3× in the projection (no shuffle at all)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "metric",
        "val",
    )


@query(
    "string_agg_sorted",
    oracle="""
    SELECT lang, string_agg(DISTINCT source, ',' ORDER BY source) AS sources
    FROM documents GROUP BY lang
    """,
)
def string_agg_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation: deterministic because the collected
    set is de-duplicated and sorted before joining (collect_set order
    is partition-dependent; sort_array fixes it)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.array_join(F.sort_array(F.collect_set("source")), ",").alias("sources")
    )


@query(
    "regr_agg",
    oracle="""
    SELECT l_returnflag,
           regr_count(l_extendedprice, l_quantity)::BIGINT        AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4)      AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4)  AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6)         AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def regr_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregates per group (SURVEY §2.4 statistical
    family): OLS slope/intercept/R² of price on quantity — one partial-
    aggregable pass (sums of x, y, xy, x², y²), no iterative fitting.
    Rounded like the other moment statistics (shuffled float sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.regr_count("l_extendedprice", "l_quantity").cast("bigint").alias("n"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("slope"),
        F.round(F.regr_intercept("l_extendedprice", "l_quantity"), 4).alias("intercept"),
        F.round(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


@query(
    "approx_percentile_sketch",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT)                        AS n,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4)   AS exact_p50,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4)  AS exact_p99,
           TRUE AS p50_within_1pct,
           TRUE AS p99_within_1pct
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-based quantiles contract (assertion-style oracle, like
    `approx_distinct`): `approx_percentile` with accuracy 10000 is the
    constant-memory quantile path at 100 TB — exact percentile must
    buffer each group's full value multiset, the sketch holds ~10k
    centroids per group no matter the row count and merges
    associatively map-side. Sketch internals are engine-specific, so
    the contract row carries the EXACT percentiles (hash-compared
    against DuckDB's quantile_cont) plus booleans pinning the sketch
    to within 1% relative error of exact, which the oracle fixes TRUE.
    """
    li = load_table(spark, sf_dir, "lineitem")
    exact_p50 = F.expr("percentile(l_extendedprice, 0.5)")
    exact_p99 = F.expr("percentile(l_extendedprice, 0.99)")
    apx_p50 = F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
    apx_p99 = F.expr("approx_percentile(l_extendedprice, 0.99, 10000)")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(exact_p50, 4).alias("exact_p50"),
        F.round(exact_p99, 4).alias("exact_p99"),
        (F.abs(apx_p50 - exact_p50) / exact_p50 <= 0.01).alias("p50_within_1pct"),
        (F.abs(apx_p99 - exact_p99) / exact_p99 <= 0.01).alias("p99_within_1pct"),
    )


@query(
    "mad_outlier",
    oracle="""
    WITH med AS (
      SELECT source, quantile_cont(n_chars, 0.5) AS med_chars
      FROM documents GROUP BY source
    ), dev AS (
      SELECT d.doc_id, d.source, d.n_chars, m.med_chars,
             abs(d.n_chars - m.med_chars) AS adev
      FROM documents d JOIN med m USING (source)
    ), mad AS (
      SELECT source, quantile_cont(adev, 0.5) AS mad_chars
      FROM dev GROUP BY source
    )
    SELECT dev.doc_id, dev.source, CAST(dev.n_chars AS BIGINT) AS n_chars,
           ROUND((dev.n_chars - dev.med_chars) / (1.4826 * mad.mad_chars), 6)
             AS robust_z
    FROM dev JOIN mad USING (source)
    WHERE mad.mad_chars > 0
      AND abs((dev.n_chars - dev.med_chars) / (1.4826 * mad.mad_chars)) > 1.5
    """,
)
def mad_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per source: median + MAD (median
    absolute deviation, scaled by the 1.4826 normal-consistency
    constant) instead of mean + stddev — the length-anomaly filter
    that survives the very outliers it hunts (a handful of giant docs
    shift a mean but not a median). Two exact-median aggregates per
    source (bounded group count) and a broadcast join of the tiny
    per-source stats back onto the corpus: the corpus itself never
    shuffles. Exact `percentile` keeps both engines bit-comparable
    (interpolated medians), with round(6) absorbing division residue.

    A source whose MAD is 0 (>50% of its docs share one n_chars) is
    excluded EXPLICITLY on both sides: Spark's non-ANSI Divide yields
    NULL on /0 (rows silently dropped) while DuckDB's IEEE float
    division yields ±inf (rows kept) — left implicit, the engines
    diverge the moment the testdata generator emits such a source
    (round-4 advisor finding).
    """
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    med = docs.groupBy("source").agg(
        F.expr("percentile(n_chars, 0.5)").alias("med_chars")
    )
    dev = docs.join(F.broadcast(med), "source").withColumn(
        "adev", F.abs(F.col("n_chars") - F.col("med_chars"))
    )
    mad = dev.groupBy("source").agg(
        F.expr("percentile(adev, 0.5)").alias("mad_chars")
    )
    z = (F.col("n_chars") - F.col("med_chars")) / (1.4826 * F.col("mad_chars"))
    return (
        dev.join(F.broadcast(mad), "source")
        .filter(F.col("mad_chars") > 0)
        .filter(F.abs(z) > 1.5)
        .select(
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            F.round(z, 6).alias("robust_z"),
        )
    )


@query(
    "kanon_release",
    oracle="""
    WITH g AS (
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents GROUP BY lang, source
    ), marked AS (
      SELECT CASE WHEN n_docs >= 5 THEN
               CASE WHEN starts_with(lang, '__other__') OR starts_with(lang, '=')
                    THEN '=' || lang ELSE lang END
             ELSE '__other__' END AS lang,
             CASE WHEN n_docs >= 5 THEN
               CASE WHEN starts_with(source, '__other__') OR starts_with(source, '=')
                    THEN '=' || source ELSE source END
             ELSE '__other__' END AS source,
             n_docs, total_chars
      FROM g
    ), released AS (
      SELECT lang, source,
             CAST(SUM(n_docs) AS BIGINT) AS n_docs,
             CAST(SUM(total_chars) AS BIGINT) AS total_chars
      FROM marked GROUP BY lang, source
    )
    SELECT lang, source, n_docs, total_chars FROM released
    WHERE NOT (lang = '__other__' AND n_docs < 5)
    """,
)
def kanon_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymous aggregate release (k=5): per-(lang, source) stats
    are published only for groups with ≥ k members; smaller groups
    collapse into a single '__other__' bucket INSTEAD of being
    dropped, so the released table still reconciles to corpus totals
    (suppress-and-drop leaks the suppressed mass by subtraction — the
    classic release mistake). The data-governance gate a corpus-stats
    endpoint runs before publishing anything about a 100 TB crawl.

    Round-5 advisor hardening: the '__other__' bucket itself is held
    to the same k — if the suppressed groups sum to fewer than k
    members, publishing their combined row would still describe < k
    individuals (with a known domain, a single suppressed group's
    exact stats are recoverable), so the bucket is withheld and the
    release deliberately stops reconciling to totals for that corpus
    (complementary suppression: the guarantee outranks the
    reconciliation convenience). And a GENUINE lang/source value that
    collides with the sentinel is escaped with a '=' prefix, applied
    to any published value starting with '__other__' OR '=' — the
    second clause is what makes the mapping injective (a genuine
    '=__other__' would otherwise collide with escaped '__other__';
    ADVICE r6 #2) — so the sentinel can never be forged by data.

    Two partial-aggregated groupBys back to back — the second
    aggregates an already-group-sized table, so the corpus shuffles
    once; the k test never sees row-level data. Every suppression
    decision is deterministic and the oracle replays it exactly."""
    docs = load_table(spark, sf_dir, "documents")
    k = 5
    g = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    small = F.col("n_docs") < k

    def esc(c: str):
        # Escape anything starting with '__other__' OR '=' — escaping
        # only the sentinel prefix is NOT injective (a genuine
        # '=__other__' would collide with the escaped form of a genuine
        # '__other__' and the second groupBy would silently merge two
        # distinct groups; ADVICE r6 #2). With '=' also escaped, any
        # published value starting with '=' is provably an escape
        # (strip one '=' to recover) and the sentinel cannot be forged.
        needs = F.col(c).startswith("__other__") | F.col(c).startswith("=")
        return F.when(needs, F.concat(F.lit("="), F.col(c))).otherwise(F.col(c))

    marked = g.select(
        F.when(small, F.lit("__other__")).otherwise(esc("lang")).alias("lang"),
        F.when(small, F.lit("__other__")).otherwise(esc("source")).alias("source"),
        "n_docs",
        "total_chars",
    )
    released = marked.groupBy("lang", "source").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_chars").cast("bigint").alias("total_chars"),
    )
    return released.filter(
        ~((F.col("lang") == "__other__") & (F.col("n_docs") < k))
    )


@query(
    "column_drift",
    oracle="""
    WITH half AS (
      SELECT (SELECT MAX(doc_id) / 2 FROM documents) AS mid
    ), tagged AS (
      SELECT CASE WHEN doc_id <= half.mid THEN 'baseline' ELSE 'candidate' END AS cohort,
             n_chars,
             len(string_split_regex(trim(lower(text)), '\\s+')) AS n_tokens
      FROM documents CROSS JOIN half
    ), stats AS (
      SELECT cohort,
             CAST(COUNT(*) AS BIGINT) AS n,
             FLOOR(AVG(n_chars) * 1000000 + 0.5) / 1000000.0 AS mean_chars,
             ROUND(stddev_samp(n_chars), 6) AS sd_chars,
             FLOOR(AVG(n_tokens) * 1000000 + 0.5) / 1000000.0 AS mean_tokens
      FROM tagged GROUP BY cohort
    ), wide AS (
      SELECT b.n AS n_base, c.n AS n_cand,
             b.mean_chars AS base_mean_chars, c.mean_chars AS cand_mean_chars,
             b.sd_chars AS base_sd_chars, b.mean_tokens AS base_mean_tokens,
             c.mean_tokens AS cand_mean_tokens
      FROM stats b, stats c
      WHERE b.cohort = 'baseline' AND c.cohort = 'candidate'
    )
    SELECT n_base, n_cand,
           base_mean_chars, cand_mean_chars,
           ROUND(ABS(cand_mean_chars - base_mean_chars) / base_sd_chars, 6)
             AS chars_drift_z,
           ABS(cand_mean_chars - base_mean_chars) / base_sd_chars > 0.5
             AS chars_drifted,
           base_mean_tokens, cand_mean_tokens
    FROM wide
    """,
)
def column_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-over-snapshot drift monitor: the candidate batch's
    per-column means against the baseline cohort's mean/σ (here the
    deterministic doc_id-half split `dedup_incremental` also uses),
    flagging when the shift exceeds half a baseline σ — the cheap
    first-line guard a production ingest runs BEFORE new data joins
    the corpus (schema matches and rows count fine while the content
    silently changes; distribution drift is how that is caught).

    Both cohorts aggregate in one pass over the corpus (a single
    grouped partial-aggregation on the cohort tag); the comparison
    joins two one-row aggregate tables — driver-free, broadcast-
    trivial, cost invisible at any scale. Extend per-column the same
    way `column_profile` does."""
    docs = load_table(spark, sf_dir, "documents")
    mid = docs.agg((F.max("doc_id") / 2).alias("mid"))
    n_tok = F.size(words("text"))
    tagged = docs.crossJoin(F.broadcast(mid)).select(
        F.when(F.col("doc_id") <= F.col("mid"), "baseline")
        .otherwise("candidate")
        .alias("cohort"),
        "n_chars",
        n_tok.alias("n_tokens"),
    )
    # integer AVGs are exact rationals (int sums are order-exact in
    # double below 2^53, then one correctly-rounded division — verified
    # bit-identical across engines incl. n=640/1280 groups), so they
    # take the floor-form rounding (r12; see corpus_mixture_weights):
    # ROUND(x, 6) splits engines on 7th-decimal-terminating halves,
    # which exact rationals CAN land on (the percent_rank class).
    # stddev stays ROUND: its engine-side accumulation differs in ulps
    # anyway and the sqrt output is continuous — no half-landing mass.
    stats = tagged.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.floor(F.avg("n_chars") * 1000000 + 0.5) / 1000000.0).alias(
            "mean_chars"
        ),
        F.round(F.stddev_samp("n_chars"), 6).alias("sd_chars"),
        (F.floor(F.avg("n_tokens") * 1000000 + 0.5) / 1000000.0).alias(
            "mean_tokens"
        ),
    )
    b = stats.filter(F.col("cohort") == "baseline").select(
        F.col("n").alias("n_base"),
        F.col("mean_chars").alias("base_mean_chars"),
        F.col("sd_chars").alias("base_sd_chars"),
        F.col("mean_tokens").alias("base_mean_tokens"),
    )
    c = stats.filter(F.col("cohort") == "candidate").select(
        F.col("n").alias("n_cand"),
        F.col("mean_chars").alias("cand_mean_chars"),
        F.col("mean_tokens").alias("cand_mean_tokens"),
    )
    z = F.abs(F.col("cand_mean_chars") - F.col("base_mean_chars")) / F.col(
        "base_sd_chars"
    )
    return b.crossJoin(c).select(
        "n_base",
        "n_cand",
        "base_mean_chars",
        "cand_mean_chars",
        F.round(z, 6).alias("chars_drift_z"),
        (z > 0.5).alias("chars_drifted"),
        "base_mean_tokens",
        "cand_mean_tokens",
    )


_EQ_QS = (0.25, 0.5, 0.75, 0.875)  # dyadic: q*n is exact in double
_EQ_BUCKETS = 1024
_EQ_EXACT_THRESHOLD = 65536


def exact_discrete_quantile(
    df: DataFrame,
    col: str,
    q: float,
    buckets: int = _EQ_BUCKETS,
    exact_threshold: int = _EQ_EXACT_THRESHOLD,
    max_rounds: int = 64,
) -> float:
    """EXACT discrete quantile (the rank-ceil(q·n) order statistic,
    DuckDB's quantile_disc convention) WITHOUT a global sort — the
    100 TB answer when approx_percentile's error bound isn't
    acceptable and sorting 100 TB to read one element is absurd.

    Iterative histogram refinement: each round buckets the candidate
    value range into ``buckets`` equal slices with ONE aggregation
    (B-row driver sync), walks the cumulative counts to the slice
    holding the target rank, and recurses into it. The candidate set
    shrinks ~B× per round, so log_B(n) scans total; the endgame
    (≤ ``exact_threshold`` rows, or an all-equal slice detected by
    min==max) resolves with a bounded TakeOrdered. Every driver sync
    is ≤ B rows; no shuffle is ever keyed on the value column.
    """
    import math

    # NULLs out up front (r11 review): n below counts non-null only,
    # but Spark sorts NULLs FIRST — an endgame orderBy+limit(k) over
    # a nullable column would count k NULLs toward the rank and
    # return a too-small order statistic (or crash float(None)).
    df = df.filter(F.col(col).isNotNull())
    stats = df.agg(
        F.count(col).alias("n"), F.min(col).alias("mn"), F.max(col).alias("mx")
    ).collect()[0]
    n, lo, hi = stats["n"], float(stats["mn"]), float(stats["mx"])
    if n == 0:
        raise ValueError("exact_discrete_quantile: empty input")
    k = max(1, math.ceil(q * n))  # 1-based target rank
    cur = df.select(F.col(col).alias("x"))
    for _ in range(max_rounds):
        if lo == hi:
            return lo
        cnt_row = cur.agg(
            F.count("x").alias("c"), F.min("x").alias("mn"), F.max("x").alias("mx")
        ).collect()[0]
        c, mn, mx = cnt_row["c"], float(cnt_row["mn"]), float(cnt_row["mx"])
        if mn == mx:
            return mn
        if c <= exact_threshold:
            rows = cur.orderBy("x").limit(k).agg(F.max("x")).collect()
            return float(rows[0][0])
        if mx - mn == float("inf"):
            # the slice spans more than ~1.8e308, so BOTH the width
            # and the bucket numerator (x - mn) overflow under ANSI
            # (r15: castingCauseOverflowError on floor(inf).cast int).
            # One exact midpoint-split round instead: mid = mn/2+mx/2
            # is finite and representable, the rank bookkeeping is
            # integer-exact, and the next round's span is finite.
            mid = mn / 2 + mx / 2
            lessc = cur.filter(F.col("x") < mid).count()
            if k <= lessc:
                cur = cur.filter(F.col("x") < mid).localCheckpoint(eager=False)
            else:
                k -= lessc
                cur = cur.filter(F.col("x") >= mid).localCheckpoint(eager=False)
            continue
        width = (mx - mn) / buckets
        if width == 0.0:
            # (mx - mn) / buckets underflowed: the slice spans fewer
            # than ~buckets representable doubles (r15 hypothesis
            # find: a subnormal-width slice turned the bucket
            # expression into an ANSI divide-by-zero; with ANSI off it
            # would have been a silent NULL bucket — worse). Bucket by
            # EXACT VALUE instead: ≤ ~buckets distinct doubles can
            # exist in the slice, so this is the same ≤B-row driver
            # sync as a histogram round, and it resolves the rank
            # directly.
            vrows = (
                cur.groupBy("x")
                .agg(F.count(F.lit(1)).alias("ct"))
                .orderBy("x")
                .collect()
            )
            cum = 0
            for r in vrows:
                cum += r["ct"]
                if cum >= k:
                    return float(r["x"])
            return float(vrows[-1]["x"])
        b = F.least(
            F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
            F.lit(buckets - 1),
        )
        hist = {
            r["b"]: r["ct"]
            for r in cur.groupBy(b.alias("b")).agg(F.count(F.lit(1)).alias("ct")).collect()
        }
        cum = 0
        for i in range(buckets):
            ct = hist.get(i, 0)
            if cum + ct >= k:
                lo = mn + i * width
                hi = mx if i == buckets - 1 else mn + (i + 1) * width
                k -= cum
                # Filter with the SAME bucket expression used for the
                # histogram: recomputed range boundaries (x >= lo, x < hi)
                # can disagree with floor((x-mn)/width) at bucket edges
                # under float rounding, desynchronizing rank k from the
                # retained set. b == i cannot disagree with its own count.
                cur = cur.filter(b == F.lit(i)).localCheckpoint(eager=False)
                break
            cum += ct
    raise RuntimeError("exact_discrete_quantile did not converge")


@query(
    "quantile_iterative",
    oracle=f"""
    SELECT q,
           CASE q
             WHEN 0.25  THEN quantile_disc(l_extendedprice, 0.25)
             WHEN 0.5   THEN quantile_disc(l_extendedprice, 0.5)
             WHEN 0.75  THEN quantile_disc(l_extendedprice, 0.75)
             WHEN 0.875 THEN quantile_disc(l_extendedprice, 0.875)
           END AS value
    FROM lineitem, (SELECT unnest([0.25, 0.5, 0.75, 0.875]) AS q)
    GROUP BY q
    """,
)
def quantile_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact l_extendedprice quartiles (+ the 0.875 octile) computed by
    `exact_discrete_quantile`'s histogram refinement — one row per
    dyadic q (dyadic so ceil(q·n) is boundary-safe cross-engine),
    hash-compared against DuckDB's quantile_disc, which sorts. The
    point the oracle proves: log_B(n) bucketing scans + a bounded
    endgame return the IDENTICAL order statistic a full sort would,
    at any scale where sorting is not an option."""
    li = load_table(spark, sf_dir, "lineitem")
    rows = [
        (q, exact_discrete_quantile(li, "l_extendedprice", q)) for q in _EQ_QS
    ]
    return spark.createDataFrame(rows, "q double, value double")


def weighted_discrete_quantile(
    df: DataFrame,
    val_col: str,
    w_col: str,
    p: float,
    buckets: int = _EQ_BUCKETS,
    exact_threshold: int = _EQ_EXACT_THRESHOLD,
    max_rounds: int = 64,
) -> float:
    """Weighted discrete quantile without a sort: the smallest value v
    such that rows with value ≤ v carry ≥ p of the total weight —
    `exact_discrete_quantile`'s histogram refinement with per-bucket
    SUM(weight) instead of COUNT. The corpus-curation reading: with
    value = quality score and weight = token count, v is the score
    threshold that splits the corpus at a token-budget fraction — the
    selector `budget_select` realizes with a per-source window SORT,
    answered here in log_B(n) scans for the scale where sorting the
    corpus to find one cut point is not an option."""
    import math  # noqa: F401

    # NULL values out up front (r11 review, same hazard as
    # exact_discrete_quantile): the endgame's python sorted() would
    # raise comparing None, and NULL weights would poison the sums.
    df = df.filter(F.col(val_col).isNotNull() & F.col(w_col).isNotNull())
    tot = df.agg(F.sum(w_col).alias("w")).collect()[0]["w"]
    if not tot:
        raise ValueError("weighted_discrete_quantile: zero total weight")
    target = p * float(tot)  # exact for dyadic p (w is integral)
    cur = df.select(F.col(val_col).alias("x"), F.col(w_col).alias("w"))
    for _ in range(max_rounds):
        row = cur.agg(
            F.count("x").alias("c"), F.min("x").alias("mn"), F.max("x").alias("mx")
        ).collect()[0]
        c, mn, mx = row["c"], float(row["mn"]), float(row["mx"])
        if mn == mx:
            return mn
        if c <= exact_threshold:
            rows = sorted(cur.collect(), key=lambda r: r["x"])
            cum = 0.0
            for r in rows:
                cum += r["w"]
                if cum >= target:
                    return float(r["x"])
            return float(rows[-1]["x"])
        if mx - mn == float("inf"):
            # overflowing span — same exact midpoint-split round as
            # exact_discrete_quantile, with weight bookkeeping
            mid = mn / 2 + mx / 2
            less_w = (
                cur.filter(F.col("x") < mid)
                .agg(F.sum("w").alias("ws"))
                .collect()[0]["ws"]
            )
            less_w = float(less_w or 0.0)
            if target <= less_w:
                cur = cur.filter(F.col("x") < mid).localCheckpoint(eager=False)
            else:
                target -= less_w
                cur = cur.filter(F.col("x") >= mid).localCheckpoint(eager=False)
            continue
        width = (mx - mn) / buckets
        if width == 0.0:
            # subnormal-width slice (r15 hypothesis find, see
            # exact_discrete_quantile): bucket by exact value — the
            # slice holds ≤ ~buckets representable doubles, so the
            # weight walk resolves directly in one ≤B-row sync
            vrows = (
                cur.groupBy("x")
                .agg(F.sum("w").alias("ws"))
                .orderBy("x")
                .collect()
            )
            cum = 0.0
            for r in vrows:
                cum += float(r["ws"])
                if cum >= target:
                    return float(r["x"])
            return float(vrows[-1]["x"])
        b = F.least(
            F.floor((F.col("x") - F.lit(mn)) / F.lit(width)).cast("int"),
            F.lit(buckets - 1),
        )
        hist = {
            r["b"]: r["ws"]
            for r in cur.groupBy(b.alias("b")).agg(F.sum("w").alias("ws")).collect()
        }
        cum = 0.0
        for i in range(buckets):
            ws = float(hist.get(i, 0))
            if cum + ws >= target:
                target -= cum
                # Same-expression filter as exact_discrete_quantile: the
                # histogram's bucket assignment and the retained set must
                # come from the identical float expression or boundary
                # values can be counted in one and filtered by the other.
                cur = cur.filter(b == F.lit(i)).localCheckpoint(eager=False)
                break
            cum += ws
    raise RuntimeError("weighted_discrete_quantile did not converge")


@query(
    "token_weighted_quantile",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id,
             LEAST(n_chars / 500.0, 1.0) * 0.5
               + LEAST(len(list_filter(toks, x -> x IN ('the', 'a'))) * 5.0
                       / len(toks), 1.0) * 0.5 AS score,
             len(toks)::BIGINT AS n_tokens
      FROM t
    ), tot AS (SELECT SUM(n_tokens) AS w FROM scored),
    ranked AS (
      SELECT score,
             SUM(n_tokens) OVER (ORDER BY score, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM scored
    )
    SELECT p,
           (SELECT MIN(score) FROM ranked, tot WHERE cum >= p * tot.w)
             AS threshold
    FROM (SELECT unnest([0.25, 0.5, 0.75, 0.875]) AS p)
    """,
)
def token_weighted_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score thresholds at dyadic TOKEN-mass fractions — the
    curation question 'what score cut keeps the top X% of tokens',
    answered by `weighted_discrete_quantile`'s log-scan refinement and
    hash-compared against DuckDB computing the same cut by a full
    window sort. Scores are the `sample_importance` quality heuristic
    (identical IEEE arithmetic both sides), weights the whitespace
    token counts; ties inside a score value can't move the returned
    VALUE, so the answer is order-independent and exact."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    score = (
        F.least(F.col("n_chars") / 500.0, F.lit(1.0)) * 0.5
        + F.least(n_stop * 5.0 / n_tok, F.lit(1.0)) * 0.5
    )
    scored = docs.select(
        score.alias("score"), n_tok.cast("bigint").alias("n_tokens")
    ).localCheckpoint(eager=False)
    rows = [
        (p, weighted_discrete_quantile(scored, "score", "n_tokens", p))
        for p in _EQ_QS
    ]
    return spark.createDataFrame(rows, "p double, threshold double")


@query(
    "skyline_parts",
    oracle="""
    SELECT b.p_partkey, b.p_retailprice, CAST(b.p_size AS BIGINT) AS p_size
    FROM part b
    WHERE NOT EXISTS (
      SELECT 1 FROM part a
      WHERE a.p_retailprice <= b.p_retailprice
        AND a.p_size >= b.p_size
        AND (a.p_retailprice < b.p_retailprice OR a.p_size > b.p_size)
    )
    """,
)
def skyline_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier) of parts: cheapest-for-their-size
    — no other part is both ≤ price and ≥ size with one strict. The
    multi-criteria shortlist query (Börzsönyi et al., ICDE 2001)
    behind "best tradeoff" product/candidate selection.

    The engine plan is the LINEAR sort-sweep, not the quadratic
    dominance join: per-price max size (one hash aggregate), then a
    DISTRIBUTED prefix max over the price-sorted distinct-price
    table, then one join back. A part survives iff no
    strictly-cheaper price reached its size (prev_max < size) and it
    tops its own price group (ties at the same (price, size) all
    survive, matching NOT-EXISTS strict dominance). Every comparison
    is on INPUT doubles — nothing is computed, so nothing can round.

    Distributed prefix max (r11 review — the previous running max
    used an empty-partition-spec window, which does NOT
    range-partition: Spark collapses it to ONE partition, a
    single-node sort of the whole distinct-price table if the key
    domain were corpus-scale): the classic two-phase scan. Prices
    bucket by deterministic equal-width ranges (layout-independent,
    no spark_partition_id); per-bucket maxima are a ≤B-row driver
    sync (the k-means-centroid bounded-model-state pattern) whose
    running max over bucket order gives each bucket's carry-in; the
    within-bucket running max is a PARTITIONED window
    (partitionBy(bucket) — WindowGroupLimit-era discipline: never an
    empty spec over unbounded input). prev_max = greatest(carry-in,
    within-bucket prev); the result is value-identical to the global
    sweep under any layout because max is associative and buckets
    are contiguous price ranges.

    The oracle is the textbook quadratic NOT EXISTS — a genuinely
    independent construction (DuckDB plans it as an IEJoin); the
    driver hash pins the two formulations equal."""
    from pyspark.sql import Window

    parts = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", F.col("p_size").cast("bigint").alias("p_size")
    )
    grp = parts.groupBy("p_retailprice").agg(F.max("p_size").alias("grp_max"))
    n_buckets = 64
    rng = grp.agg(
        F.min("p_retailprice").alias("lo"), F.max("p_retailprice").alias("hi")
    ).collect()[0]
    lo, hi = rng["lo"], rng["hi"]
    if lo is None or hi == lo:
        bucket = F.lit(0)
    else:
        bucket = F.least(
            F.floor(
                (F.col("p_retailprice") - F.lit(lo))
                / F.lit(hi - lo)
                * n_buckets
            ).cast("int"),
            F.lit(n_buckets - 1),
        )
    gb = grp.withColumn("bucket", bucket)
    bucket_max = {
        r["bucket"]: r["m"]
        for r in gb.groupBy("bucket").agg(F.max("grp_max").alias("m")).collect()
    }
    carry, run = [], None
    for b in range(n_buckets):
        carry.append((b, run))
        if b in bucket_max:
            run = bucket_max[b] if run is None else max(run, bucket_max[b])
    carry_df = spark.createDataFrame(carry, "bucket int, carry_in long")
    w_in = Window.partitionBy("bucket").orderBy("p_retailprice").rowsBetween(
        Window.unboundedPreceding, -1
    )
    pm = (
        gb.withColumn("in_prev", F.max("grp_max").over(w_in))
        .join(F.broadcast(carry_df), "bucket", "left")
        # greatest() skips NULLs: NULL only when no cheaper price
        # exists anywhere (first bucket, first row)
        .withColumn("prev_max", F.greatest("carry_in", "in_prev"))
    )
    return (
        parts.join(pm, "p_retailprice")
        .filter(
            (F.col("prev_max").isNull() | (F.col("prev_max") < F.col("p_size")))
            & (F.col("p_size") == F.col("grp_max"))
        )
        .select("p_partkey", "p_retailprice", "p_size")
    )



@query(
    "seasonal_mad_anomaly",
    oracle="""
    WITH base AS (
      SELECT event_id, value, event_type,
             CAST(date_part('hour', ts) AS INT) AS hod
      FROM events WHERE value IS NOT NULL
    ), ranked AS (
      SELECT event_type, hod, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type, hod
                                ORDER BY value, event_id) AS rnk,
             COUNT(*) OVER (PARTITION BY event_type, hod) AS n
      FROM base
    ), med AS (
      SELECT event_type, hod,
             (MAX(CASE WHEN rnk = (n + 1) // 2 THEN value END)
              + MAX(CASE WHEN rnk = n // 2 + 1 THEN value END)) * 0.5 AS med
      FROM ranked GROUP BY event_type, hod
    ), resid AS (
      SELECT b.event_id, b.event_type, b.hod, b.value,
             abs(b.value - m.med) AS adev
      FROM base b JOIN med m USING (event_type, hod)
    ), rranked AS (
      SELECT event_type, hod, adev, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type, hod
                                ORDER BY adev, event_id) AS rnk,
             COUNT(*) OVER (PARTITION BY event_type, hod) AS n
      FROM resid
    ), mad AS (
      SELECT event_type, hod,
             (MAX(CASE WHEN rnk = (n + 1) // 2 THEN adev END)
              + MAX(CASE WHEN rnk = n // 2 + 1 THEN adev END)) * 0.5 AS mad
      FROM rranked GROUP BY event_type, hod
    )
    SELECT r.event_id, r.event_type, r.hod, r.value, r.adev,
           r.adev > 3.0 * d.mad AS is_anomaly
    FROM resid r JOIN mad d USING (event_type, hod)
    """,
)
def seasonal_mad_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-conditioned robust anomaly flags: each event's
    value is compared against the MEDIAN of its own (event_type,
    hour-of-day) stratum, and flagged when its absolute deviation
    exceeds 3× that stratum's MAD — the time-of-day-aware baseline
    that a global `mad_outlier` misses (nightly batch spikes are
    normal at 03:00 and anomalous at 15:00).

    Scale honesty: the medians are DISTRIBUTED SELECTIONS — a
    row_number rank + the two middle ranks per stratum (the even
    case averages them with the identical (a+b)·0.5 both engines
    run; the odd case selects the same row twice, so the average is
    exact) — never a collected per-group array, so a stratum with a
    billion rows costs one extra window pass, not executor memory.
    Every output float is an input double, a difference of two
    (identical IEEE subtraction), or that single add+mul; the flag
    compares against 3·MAD, one multiplication. Four window/agg
    passes, all keyed on the 120-stratum (type, hour) grid."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        "event_id", "value", "event_type", F.hour("ts").cast("int").alias("hod")
    )

    def group_median(df: DataFrame, val: str, out: str) -> DataFrame:
        w = Window.partitionBy("event_type", "hod").orderBy(val, "event_id")
        wn = Window.partitionBy("event_type", "hod")
        ranked = df.withColumn("rnk", F.row_number().over(w)).withColumn(
            "n", F.count(F.lit(1)).over(wn)
        )
        return ranked.groupBy("event_type", "hod").agg(
            (
                (
                    F.max(F.when(F.col("rnk") == F.expr("(n + 1) div 2"), F.col(val)))
                    + F.max(F.when(F.col("rnk") == F.expr("n div 2 + 1"), F.col(val)))
                )
                * 0.5
            ).alias(out)
        )

    med = group_median(base, "value", "med")
    resid = base.join(med, ["event_type", "hod"]).select(
        "event_id",
        "event_type",
        "hod",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = group_median(resid, "adev", "mad")
    return resid.join(mad, ["event_type", "hod"]).select(
        "event_id",
        "event_type",
        "hod",
        "value",
        "adev",
        (F.col("adev") > 3.0 * F.col("mad")).alias("is_anomaly"),
    )


# ONE shared formula text: Spark parses these via F.expr and the
# oracle embeds the identical strings, so both engines build the same
# expression tree over the same exact-integer inputs — every
# intermediate double is identical (the EWMA identical-IEEE argument
# applied to a closed formula instead of a recursion). The z literal
# is wrapped in CAST(... AS DOUBLE) because Spark parses bare decimal
# literals as DECIMAL and would route the tree through decimal
# arithmetic (caught in kneser_ney_bigrams as a hash mismatch).
_WILSON_Z = "CAST(1.96 AS DOUBLE)"
_WILSON_EXPRS = {
    "rate": "n_conv / n_users",
    "wilson_lo": (
        f"((n_conv / n_users + {_WILSON_Z} * {_WILSON_Z} / (2 * n_users))"
        f" - {_WILSON_Z} * sqrt((n_conv / n_users) * (1 - n_conv / n_users) / n_users"
        f"              + {_WILSON_Z} * {_WILSON_Z} / (4 * n_users * n_users)))"
        f" / (1 + {_WILSON_Z} * {_WILSON_Z} / n_users)"
    ),
    "wilson_hi": (
        f"((n_conv / n_users + {_WILSON_Z} * {_WILSON_Z} / (2 * n_users))"
        f" + {_WILSON_Z} * sqrt((n_conv / n_users) * (1 - n_conv / n_users) / n_users"
        f"              + {_WILSON_Z} * {_WILSON_Z} / (4 * n_users * n_users)))"
        f" / (1 + {_WILSON_Z} * {_WILSON_Z} / n_users)"
    ),
}


@query(
    "ab_test_wilson",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ), agg AS (
      SELECT variant,
             CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_conv
      FROM per_user GROUP BY variant
    )
    SELECT variant, n_users, n_conv,
           ROUND({_WILSON_EXPRS["rate"]}, 6)      AS rate,
           ROUND({_WILSON_EXPRS["wilson_lo"]}, 6) AS wilson_lo,
           ROUND({_WILSON_EXPRS["wilson_hi"]}, 6) AS wilson_hi
    FROM agg
    """,
)
def ab_test_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with Wilson score intervals: users split
    into variants (deterministic id-parity assignment — the hash-split
    stand-in), conversion = any purchase, and each variant ships its
    95% Wilson interval — the binomial CI that behaves at small n and
    extreme rates where the normal approximation doesn't (Wilson
    1927; the standard experimentation-dashboard bound).

    Cross-engine exactness: counts are exact integers and the Wilson
    formula is evaluated from ONE shared expression string — Spark
    F.expr and the oracle SQL parse the identical text, so both
    engines execute the same IEEE op tree (z = 1.96 parses to the
    same double everywhere) and the 6dp rounds see identical inputs.

    Scale: one per-user aggregate (map-side partial on user) then a
    2-row variant aggregate — the entire statistical readout costs
    one shuffle of user-grain rows."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant"),
        "converted",
    )
    agg = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
    )
    return agg.select(
        "variant",
        "n_users",
        "n_conv",
        F.round(F.expr(_WILSON_EXPRS["rate"]), 6).alias("rate"),
        F.round(F.expr(_WILSON_EXPRS["wilson_lo"]), 6).alias("wilson_lo"),
        F.round(F.expr(_WILSON_EXPRS["wilson_hi"]), 6).alias("wilson_hi"),
    )


@query(
    "theilsen_trend",
    oracle="""
    WITH ord AS (
      SELECT event_type, value,
             CAST(floor(date_part('epoch', ts)) AS BIGINT) AS tsec,
             event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rnk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ), paired AS (
      SELECT a.event_type,
             (b.value - a.value) / CAST(b.tsec - a.tsec AS DOUBLE) AS slope,
             a.event_id
      FROM ord a
      JOIN ord b ON b.event_type = a.event_type
                AND b.rnk = a.rnk + a.n // 2
      WHERE b.tsec > a.tsec
    ), ranked AS (
      SELECT event_type, slope, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope, event_id) AS rnk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM paired
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n_slopes,
           (MAX(CASE WHEN rnk = (n + 1) // 2 THEN slope END)
            + MAX(CASE WHEN rnk = n // 2 + 1 THEN slope END)) * 0.5
             AS trend_per_sec
    FROM ranked GROUP BY event_type
    """,
)
def theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust trend (slope/second) of each event type's values over
    time, by the PAIRED Theil–Sen estimator: order the series, pair
    rank i with rank i+n/2, take the MEDIAN of those n/2 two-point
    slopes. A single wild outlier moves ordinary least squares
    arbitrarily; it moves a median of slopes by one rank. The paired
    variant keeps Theil–Sen's robustness headline while emitting
    O(n) slopes instead of the classic O(n²) all-pairs — the same
    bounded-sibling philosophy as the dedup family's capped
    verifiers. The pair COUNT is linear by construction, but the
    rank assignment needs a per-type total order whose window
    parallelism equals the type cardinality (5 here) — so a
    pre-flight series-length budget refuses a series too long for a
    single window task (r11 review; the spearman_corr discipline)
    with the mitigation named, instead of funnelling a billion-row
    type through one sort task.

    Exactness: each slope is one IEEE subtraction pair + one
    division of exact inputs (epoch seconds are floor-truncated
    integers on both engines); the median is the distributed rank
    selection (`seasonal_mad_anomaly`'s technique) with the
    identical (a+b)·0.5 even-case. Same-timestamp pairs are excluded
    symmetrically (slope undefined). Three window passes + one
    self-join, all keyed on the 5-type grid."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    longest = (
        e.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    ) or 0
    if longest > 2**24:
        raise RuntimeError(
            f"theilsen_trend: longest per-type series is {longest:,} "
            f"rows (> 2^24); the rank pairing would sort it in one "
            f"window task. Bucket the series (e.g. per day) and "
            f"aggregate bucket medians, or sample the series before "
            f"estimating."
        )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wn = Window.partitionBy("event_type")
    ord_df = (
        e.select(
            "event_type",
            "value",
            "ts",  # the rank order key: raw microsecond ts, NOT the
            # floor-truncated tsec (same-second events would tie there)
            F.unix_timestamp("ts").alias("tsec"),
            "event_id",
        )
        .withColumn("rnk", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    a = ord_df.select(
        "event_type",
        F.col("value").alias("v1"),
        F.col("tsec").alias("t1"),
        "event_id",
        (F.col("rnk") + F.expr("n div 2")).alias("target_rnk"),
    )
    b = ord_df.select(
        F.col("event_type").alias("bt"),
        F.col("value").alias("v2"),
        F.col("tsec").alias("t2"),
        F.col("rnk").alias("target_rnk"),
    )
    paired = (
        a.join(b, (F.col("event_type") == F.col("bt")) & (a.target_rnk == b.target_rnk))
        .filter(F.col("t2") > F.col("t1"))
        .select(
            "event_type",
            ((F.col("v2") - F.col("v1")) / (F.col("t2") - F.col("t1")).cast("double")).alias("slope"),
            "event_id",
        )
    )
    ws = Window.partitionBy("event_type").orderBy("slope", "event_id")
    ranked = paired.withColumn("rnk", F.row_number().over(ws)).withColumn(
        "n", F.count(F.lit(1)).over(wn)
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n_slopes"),
        (
            (
                F.max(F.when(F.col("rnk") == F.expr("(n + 1) div 2"), F.col("slope")))
                + F.max(F.when(F.col("rnk") == F.expr("n div 2 + 1"), F.col("slope")))
            )
            * 0.5
        ).alias("trend_per_sec"),
    )


@query(
    "spearman_corr",
    oracle="""
    WITH base AS (
      SELECT event_type, value,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k
      FROM events WHERE value IS NOT NULL
        AND CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    ), ranked AS (
      SELECT event_type,
             RANK() OVER (PARTITION BY event_type ORDER BY value) AS rv_min,
             COUNT(*) OVER (PARTITION BY event_type, value) AS gv,
             RANK() OVER (PARTITION BY event_type ORDER BY k) AS rk_min,
             COUNT(*) OVER (PARTITION BY event_type, k) AS gk,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM base
    ), quarters AS (
      -- average tie ranks in exact QUARTER units: 4*avg_rank =
      -- 4*rank_min + 2*(g-1); centered: minus 2*(n+1)
      SELECT event_type,
             CAST(4 * rv_min + 2 * (gv - 1) - 2 * (n + 1) AS BIGINT) AS dx4,
             CAST(4 * rk_min + 2 * (gk - 1) - 2 * (n + 1) AS BIGINT) AS dy4
      FROM ranked
    )
    SELECT event_type,
           ROUND(CAST(SUM(dx4 * dy4) AS DOUBLE)
                 / sqrt(CAST(SUM(dx4 * dx4) AS DOUBLE)
                        * CAST(SUM(dy4 * dy4) AS DOUBLE)), 6) AS rho
    FROM quarters GROUP BY event_type
    """,
)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between each event type's value and
    its props.k attribute — the robust (monotone, outlier-immune)
    dependence measure next to `stats_agg`'s Pearson. Tie handling is
    the textbook average rank.

    Exactness engineering: average ranks on tied data are .25-grain
    rationals, so both engines carry CENTERED RANKS IN QUARTER UNITS
    as exact BIGINTs (4·rank_min + 2(g−1) − 2(n+1) — integer algebra,
    no float until the very end); the three Σ products are exact
    integer sums (the /16 scale factors cancel in the ratio), and rho
    is one cast + one multiply + one sqrt + one division — identical
    IEEE ops cross-engine before the 6dp round. A shuffled SUM of
    float ranks would be nondeterministic; exact integers commute.

    Bound, ENFORCED pre-flight: |dx4| ≤ 2n so Σdx4² ≤ 4n³, which stays
    inside BIGINT only to n = 2^20 rows per group — past that the
    ANSI aggregate overflows mid-job (measured at the 100×-events
    probe, 2M rows/group), so the op prices the group sizes first
    (one |types|-row aggregate) and REFUSES with the remedies: rank
    at a coarser grain (halves the cube per bit), pre-aggregate to
    (value, k) frequency pairs, or split groups by a co-key.

    NULL contract (r9 ADVICE #4): rows with a NULL k are excluded
    SYMMETRICALLY on both engines (Spark ranks nulls first, DuckDB
    last, so a null surviving into the rank window would silently
    desync the rank bases) — the guard is explicit rather than
    generator-dependent.

    Scale shape: two rank windows + one running count, all partitioned
    on event_type; one 5-row aggregate."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = e.select(
        "event_type",
        "value",
        F.get_json_object("props", "$.k").cast("bigint").alias("k"),
    ).filter(F.col("k").isNotNull())
    sizes = base.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    n_max = max((r["n"] for r in sizes), default=0)
    if n_max > (1 << 20):
        raise RuntimeError(
            f"spearman_corr: largest group has {n_max:,} rows; the exact "
            f"quarter-rank sums overflow BIGINT past {1 << 20:,} "
            "(sum bound 4*n^3 vs 2^63). Rank at a coarser grain, "
            "pre-aggregate to (value, k) frequency pairs, or split the "
            "group by a co-key."
        )
    wt = Window.partitionBy("event_type")
    ranked = base.select(
        "event_type",
        F.rank().over(wt.orderBy("value")).alias("rv_min"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "value")).alias("gv"),
        F.rank().over(wt.orderBy("k")).alias("rk_min"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type", "k")).alias("gk"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    q = ranked.select(
        "event_type",
        (4 * F.col("rv_min") + 2 * (F.col("gv") - 1) - 2 * (F.col("n") + 1))
        .cast("bigint")
        .alias("dx4"),
        (4 * F.col("rk_min") + 2 * (F.col("gk") - 1) - 2 * (F.col("n") + 1))
        .cast("bigint")
        .alias("dy4"),
    )
    return q.groupBy("event_type").agg(
        F.round(
            F.sum(F.col("dx4") * F.col("dy4")).cast("double")
            / F.sqrt(
                F.sum(F.col("dx4") * F.col("dx4")).cast("double")
                * F.sum(F.col("dy4") * F.col("dy4")).cast("double")
            ),
            6,
        ).alias("rho")
    )


_KENDALL_PREFIX = 4096  # deterministic per-type sample: bounds BOTH
# the kernel's O(n^2) sign matrix and the oracle's pair join at any SF


def _kendall_tau_kernel(pdf):
    """tau-b for one event_type group (columns: event_type, value, k —
    k pre-filtered non-null). Module-level so the hypothesis property
    (test_properties.py) drives the EXACT production kernel against an
    independent O(n²) mirror. C−D and the tie corrections are exact
    integers; the 512-row sign-matrix blocks bound memory; an all-tied
    stratum (n0==n1 or n0==n2) emits NULL tau_b, the oracle's NULLIF."""
    import numpy as np
    import pandas as pd

    x = pdf["value"].to_numpy()
    y = pdf["k"].to_numpy()
    n = len(x)
    cmd = 0
    for lo in range(0, n, 512):
        hi = min(lo + 512, n)
        sx = np.sign(x[lo:hi, None] - x[None, :]).astype(np.int8)
        sy = np.sign(y[lo:hi, None] - y[None, :]).astype(np.int8)
        prod = (sx.astype(np.int32) * sy).sum(axis=1)
        # full-matrix sum counts each unordered pair twice and the
        # zero diagonal never contributes
        cmd += int(prod.sum())
    cmd //= 2
    n0 = n * (n - 1) // 2
    _, cx = np.unique(x, return_counts=True)
    _, cy = np.unique(y, return_counts=True)
    n1 = int((cx * (cx - 1) // 2).sum())
    n2 = int((cy * (cy - 1) // 2).sum())
    if n0 == n1 or n0 == n2:
        # all values (or all keys) tied: tau-b is 0/0 — NULL, not
        # NaN, matching the oracle's NULLIF'd denominator
        tau = None
    else:
        tau = round(float(cmd) / np.sqrt(float(n0 - n1) * float(n0 - n2)), 6)
    return pd.DataFrame(
        {
            "event_type": [pdf["event_type"].iloc[0]],
            "c_minus_d": [cmd],
            "n_pairs": [n0],
            "tau_b": [tau],
        }
    )


@query(
    "kendall_tau",
    oracle=f"""
    WITH base AS (
      SELECT event_type, value,
             CAST(json_extract(props, '$.k') AS BIGINT) AS k,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn
      FROM events WHERE value IS NOT NULL
        AND CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL
    ), pre AS (
      SELECT * FROM base WHERE rn <= {_KENDALL_PREFIX}
    ), pairs AS (
      SELECT a.event_type,
             SUM(CASE WHEN (a.value - b.value) * (a.k - b.k) > 0 THEN 1
                      WHEN (a.value - b.value) * (a.k - b.k) < 0 THEN -1
                      ELSE 0 END) AS cmd,
             COUNT(*) AS n0
      FROM pre a JOIN pre b
        ON b.event_type = a.event_type AND b.rn > a.rn
      GROUP BY a.event_type
    ), xt AS (
      SELECT event_type, SUM(c * (c - 1) // 2) AS n1 FROM (
        SELECT event_type, value, COUNT(*) AS c FROM pre GROUP BY 1, 2
      ) GROUP BY event_type
    ), yt AS (
      SELECT event_type, SUM(c * (c - 1) // 2) AS n2 FROM (
        SELECT event_type, k, COUNT(*) AS c FROM pre GROUP BY 1, 2
      ) GROUP BY event_type
    )
    SELECT p.event_type,
           CAST(p.cmd AS BIGINT) AS c_minus_d,
           CAST(p.n0 AS BIGINT) AS n_pairs,
           ROUND(CAST(p.cmd AS DOUBLE)
                 / sqrt(CAST(NULLIF(p.n0 - xt.n1, 0) AS DOUBLE)
                        * CAST(NULLIF(p.n0 - yt.n2, 0) AS DOUBLE)), 6) AS tau_b
    FROM pairs p
    JOIN xt ON xt.event_type = p.event_type
    JOIN yt ON yt.event_type = p.event_type
    """,
)
def kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between value and props.k per event type, on a
    DETERMINISTIC per-type prefix (first 4096 rows by (ts, event_id))
    — the pair-concordance dependence measure whose O(n²) definition
    the prefix bounds for kernel AND oracle alike at any SF, the
    honest cap documented rather than hidden (the dedup family's
    bounded-verifier pattern applied to a statistic).

    C−D and the tie corrections are EXACT INTEGERS (the kernel sums
    int8 sign products; pairs are ≤ C(4096,2) ≈ 8.4M so the sums are
    nowhere near overflow); tau-b is one cast+mult+sqrt+div at the
    end — the Spearman recipe again. The Arrow kernel computes the
    sign matrix in 512-row blocks (bounded memory); the oracle is
    the genuinely independent quadratic pair JOIN.

    NULL/degenerate contract (r9 ADVICE #4+#5): rows with a NULL k
    are excluded symmetrically on both engines BEFORE the prefix
    row_number (np.sign over NaN-cast-to-int is undefined; the
    oracle's CASE treated NULL comparisons as ties), and a stratum
    whose values or keys are ALL tied emits tau_b = NULL on both
    sides (kernel if-check, oracle NULLIF) instead of kernel
    0/0-NaN vs oracle-division divergence."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    pre = (
        e.select(
            "event_type",
            "value",
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
            "ts",
            "event_id",
        )
        .filter(F.col("k").isNotNull())
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KENDALL_PREFIX)
    )
    return pre.groupBy("event_type").applyInPandas(
        _kendall_tau_kernel,
        "event_type string, c_minus_d long, n_pairs long, tau_b double",
    )


@query(
    "target_encode_loo",
    oracle="""
    WITH cents AS (
      SELECT event_id, user_id,
             CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS c
      FROM events WHERE value IS NOT NULL
    ), per_user AS (
      SELECT user_id, SUM(c) AS s, COUNT(*) AS n FROM cents GROUP BY user_id
    ), g_all AS (
      -- "glob" is a DuckDB keyword (the GLOB operator)
      SELECT SUM(c) AS gs, COUNT(*) AS gn FROM cents
    )
    SELECT e.event_id, e.user_id,
           CAST(CASE WHEN p.n > 1
                     THEN ((p.s - e.c) * 10000) // (p.n - 1)
                     ELSE (g.gs * 10000) // g.gn
                END AS BIGINT) AS loo_mean_micro,
           p.n > 1 AS from_own_history
    FROM cents e
    JOIN per_user p ON p.user_id = e.user_id
    CROSS JOIN g_all g
    """,
)
def target_encode_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the user_id categorical
    against the value target — the standard high-cardinality feature
    encoder for tabular ML, with the leakage-avoidance twist that
    makes it non-trivial: each row's encoding averages the user's
    OTHER rows ((Σ−x)/(n−1)), never its own target; singleton users
    fall back to the global mean (flagged). Naive mean-encoding leaks
    the label into the feature; LOO is why this is an operator and
    not a GROUP BY.

    Exactness: values are 2dp so cents are exact BIGINTs; both the
    LOO and global means ship as exact INTEGER-DIVISION micro-units
    ((Σcents−x)·10⁴ // (n−1)) — zero float anywhere. One user-keyed
    aggregate joined back (broadcast by AQE against the user-grain
    side at real scale) + one scalar broadcast."""
    e = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = e.select(
        "event_id",
        "user_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
    )
    per_user = cents.groupBy("user_id").agg(
        F.sum("c").alias("s"), F.count(F.lit(1)).alias("n")
    )
    glob = F.broadcast(
        cents.agg(F.sum("c").alias("gs"), F.count(F.lit(1)).alias("gn"))
    )
    return (
        cents.join(per_user, "user_id")
        .crossJoin(glob)
        .select(
            "event_id",
            "user_id",
            F.when(
                F.col("n") > 1,
                # DECIMAL(38,0) widening BEFORE the *10^4 (r11 review):
                # s/gs are corpus-proportional cent sums, and the
                # multiply crosses 2^63 ~1e4x sooner than the sum
                # itself — ANSI kills the job where DuckDB's HUGEINT
                # oracle sails on. div on decimals stays exact; the
                # QUOTIENT is a per-event mean in micro-units, always
                # bigint-range.
                F.expr(
                    "(CAST(s AS DECIMAL(38,0)) - c) * 10000 div (n - 1)"
                ),
            )
            .otherwise(
                F.expr("CAST(gs AS DECIMAL(38,0)) * 10000 div gn")
            )
            .cast("bigint")
            .alias("loo_mean_micro"),
            (F.col("n") > 1).alias("from_own_history"),
        )
    )
