"""Count-min sketch: fixed-memory frequency estimation, built and
merged entirely with DataFrame aggregates (no UDFs, no driver state).

The 100 TB story is the POINT of this operator: exact per-token counts
need a shuffle keyed on every distinct token (vocabulary-sized state),
while the sketch is a constant d×w counter grid that (a) builds
map-side — each partition's partial HashAggregate over (row, col) IS
the partial sketch, (b) merges by elementwise sum — which is exactly
what the final HashAggregate does, and (c) answers any point query
with d lookups. Hashes are seeded xxhash64 columns, so the whole build
stays inside whole-stage codegen.

Estimate guarantees (Cormode & Muthukrishnan 2005): est >= true count
always (counters only over-count), and est <= true + (e/w)·N with
probability 1 - e^-d. Both are emitted as boolean contract columns and
checked by the oracle — the estimate itself is engine-specific and
never hash-compared (same assertion-oracle pattern as
approx_distinct).

Ref parity: the reference has no sketches; its exact GROUP BY counts
(dag-knlp.py:65-80 style) are what the sketch replaces when the key
cardinality itself is the scale problem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query

_D = 4  # hash rows
_W = 1024  # counters per row
_EPS = 2.7182818 / _W  # CMS over-count bound factor


def _cells(tokens: DataFrame, col: str) -> DataFrame:
    """d×w sketch cells from a token column: explode each token into
    its d (row, bucket) coordinates, then count per cell. The result
    is at most d·w rows regardless of input size — the fixed-size
    mergeable summary."""
    coords = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(_W)).alias("bucket"),
            )
            for i in range(_D)
        ]
    )
    return (
        tokens.select(F.explode(coords).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cell_ct"))
    )


def cms_estimate(tokens: DataFrame, candidates: DataFrame, col: str) -> DataFrame:
    """Point-query ``candidates[col]`` against the sketch of
    ``tokens[col]``: join each candidate's d coordinates to the cells,
    take the min. Candidates is small (broadcast); cells is ≤ d·w rows
    (also broadcast) — estimation is shuffle-free."""
    cells = _cells(tokens, col)
    probes = candidates.select(
        col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(F.xxhash64(F.col(col), F.lit(i)), F.lit(_W)).alias(
                            "bucket"
                        ),
                    )
                    for i in range(_D)
                ]
            )
        ).alias("p"),
    ).select(col, F.col("p.row").alias("row"), F.col("p.bucket").alias("bucket"))
    return (
        probes.join(F.broadcast(cells), ["row", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce("cell_ct", F.lit(0))).alias("cms_est"))
    )


@query(
    "cms_heavy_hitters",
    oracle="""
    WITH t AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ), top AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_ct
      FROM t GROUP BY token
      ORDER BY exact_ct DESC, token LIMIT 20
    )
    SELECT token, exact_ct,
           TRUE AS est_ge_exact, TRUE AS est_within_eps
    FROM top
    """,
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters under a count-min sketch: estimate the top-20
    tokens' frequencies from the fixed d×w grid and emit the CMS
    contract — est >= exact (always true: counters only over-count)
    and est <= exact + (e/w)·N (true w.h.p.; deterministic here since
    the hashes are seeded). The oracle recomputes the exact counts and
    expects both booleans TRUE, so a broken sketch (under-count = bad
    merge, blown bound = bad hashing) hash-mismatches. The exact
    top-20 is computed alongside as ground truth — at 100 TB you'd
    keep ONLY the sketch and a candidate stream."""
    docs = load_table(spark, sf_dir, "documents")
    # lazy checkpoint: three consumers (exact top-20, the N scalar,
    # and the sketch build inside cms_estimate) would otherwise each
    # replay the scan + tokenize — the eval_prf_summary r7 lesson
    toks = docs.select(
        F.explode(words("text")).alias("token")
    ).localCheckpoint(eager=False)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_ct"))
        .orderBy(F.col("exact_ct").desc(), "token")
        .limit(20)
    )
    n_total = toks.count()  # one scalar action: the bound needs N
    est = cms_estimate(toks, exact.select("token"), "token")
    return (
        exact.join(est, "token")
        .select(
            "token",
            "exact_ct",
            (F.col("cms_est") >= F.col("exact_ct")).alias("est_ge_exact"),
            (F.col("cms_est") <= F.col("exact_ct") + F.lit(_EPS * n_total)).alias(
                "est_within_eps"
            ),
        )
    )


@query(
    "hll_distinct_by_source",
    oracle="""
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
           TRUE AS hll_ok
    FROM documents GROUP BY source
    UNION ALL
    SELECT '__ALL__' AS source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS exact_distinct,
           TRUE AS hll_ok
    FROM documents
    """,
)
def hll_distinct_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-counting with Spark 4's native HyperLogLog
    sketches: one `hll_sketch_agg` pass builds a per-source sketch,
    and the GLOBAL estimate comes from `hll_union_agg` over those
    sketches — never a second scan. That union-of-partials is the
    100 TB property: per-partition/per-day sketches are a few KB
    each, persist beside the data, and any rollup (per source, per
    month, whole corpus) is a sketch merge instead of a re-scan —
    COUNT(DISTINCT) over raw data re-shuffles every id every time.
    The oracle pins the contract (estimate within 5% of exact at
    default lgConfigK=12, whose theoretical RSE is ~1.6%); estimates
    themselves are engine-specific, the same assertion-oracle pattern
    as approx_distinct."""
    docs = load_table(spark, sf_dir, "documents")
    per_src = docs.groupBy("source").agg(
        F.hll_sketch_agg("doc_id").alias("sk"),
        F.countDistinct("doc_id").alias("exact_distinct"),
    )
    src_rows = per_src.select(
        "source",
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * 0.05
        ).alias("hll_ok"),
    )
    merged = per_src.agg(
        F.hll_union_agg("sk").alias("u"),
        F.sum("exact_distinct").alias("exact_distinct"),  # doc_id unique per source
    ).select(
        F.lit("__ALL__").alias("source"),
        "exact_distinct",
        (
            F.abs(F.hll_sketch_estimate("u") - F.col("exact_distinct"))
            <= F.col("exact_distinct") * 0.05
        ).alias("hll_ok"),
    )
    return src_rows.unionByName(merged)


@query(
    "bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap aggregation (the Spark 3.5+
    bitmap function family): user ids bucket into 32k-bit bitmaps
    (bitmap_bucket_number / bitmap_bit_position), per-(group, bucket)
    bitmaps OR-merge associatively, and the distinct count is the sum
    of per-bucket popcounts. Unlike COUNT(DISTINCT) — whose exact form
    must shuffle every distinct key to a single reducer per group —
    bitmap partials are fixed-size (4 KB per bucket) and merge
    map-side, so the exact count scales like an approximate sketch
    while staying exact. The oracle is the plain COUNT(DISTINCT):
    results must be identical, proving the bitmap path is exact."""
    e = load_table(spark, sf_dir, "events")
    per_bucket = e.groupBy(
        "event_type",
        F.bitmap_bucket_number(F.col("user_id")).alias("bucket"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position(F.col("user_id"))).alias("bm")
    )
    return per_bucket.groupBy("event_type").agg(
        F.sum(F.bitmap_count("bm")).cast("bigint").alias("n_users")
    )


_KMV_K = 256


def kmv_sketch(keys: DataFrame, key_col: str, k: int = _KMV_K) -> DataFrame:
    """KMV (k-minimum-values) distinct sketch: the k smallest values
    of a deterministic uniform hash over the distinct keys — the
    mergeable bottom-k form of the theta sketch (Beyer et al. 2007;
    Dasgupta et al.'s theta unification). One column (h); the
    k-th value IS the sketch's theta. Built as distinct → TakeOrdered
    (per-partition top-k heaps, no global sort); dedup happens on the
    hash value itself so the sketch is deterministic even under
    (2^-32-rare) hash collisions. Unlike HLL, KMV sketches support
    INTERSECTION estimates (sample-and-scale below the smaller
    theta), which is what the registered query demonstrates."""
    from ..operators.sampling import uniform_by_hash

    return (
        keys.select(uniform_by_hash(F.col(key_col)).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


@query(
    "theta_sketch_ops",
    oracle=f"""
    WITH ev AS (
      SELECT event_type,
             user_id || ':' ||
             CAST(CAST(floor(date_part('epoch', ts) / 3600) AS BIGINT) AS VARCHAR)
               AS key
      FROM events WHERE event_type IN ('click', 'view')
    ), hs AS (
      SELECT DISTINCT event_type,
             ('0x' || substring(md5(key), 1, 8))::BIGINT / 4294967296.0 AS h
      FROM ev
    ), ka AS (
      SELECT h FROM hs WHERE event_type = 'click' ORDER BY h LIMIT {_KMV_K}
    ), kb AS (
      SELECT h FROM hs WHERE event_type = 'view' ORDER BY h LIMIT {_KMV_K}
    ), ku AS (
      SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb)
      ORDER BY h LIMIT {_KMV_K}
    ), stats AS (
      SELECT
        (SELECT COUNT(*) FROM hs WHERE event_type = 'click') AS n_a,
        (SELECT COUNT(*) FROM hs WHERE event_type = 'view')  AS n_b,
        (SELECT COUNT(*) FROM (SELECT h FROM hs WHERE event_type='click'
                               INTERSECT
                               SELECT h FROM hs WHERE event_type='view')) AS n_int,
        (SELECT MAX(h) FROM ka) AS th_a, (SELECT COUNT(*) FROM ka) AS c_a,
        (SELECT MAX(h) FROM kb) AS th_b, (SELECT COUNT(*) FROM kb) AS c_b,
        (SELECT MAX(h) FROM ku) AS th_u, (SELECT COUNT(*) FROM ku) AS c_u,
        (SELECT COUNT(*) FROM ka JOIN kb USING (h)
          WHERE h < LEAST((SELECT MAX(h) FROM ka), (SELECT MAX(h) FROM kb)))
          AS matched
    )
    SELECT CAST(n_a AS BIGINT) AS n_a_exact,
           CAST(n_b AS BIGINT) AS n_b_exact,
           CAST(n_int AS BIGINT) AS n_intersect_exact,
           floor((CASE WHEN c_a < {_KMV_K} THEN c_a ELSE ({_KMV_K} - 1) / th_a END)
                 * 10000 + 0.5) / 10000 AS est_a,
           floor((CASE WHEN c_b < {_KMV_K} THEN c_b ELSE ({_KMV_K} - 1) / th_b END)
                 * 10000 + 0.5) / 10000 AS est_b,
           floor((CASE WHEN c_u < {_KMV_K} THEN c_u ELSE ({_KMV_K} - 1) / th_u END)
                 * 10000 + 0.5) / 10000 AS est_union,
           floor((CASE WHEN c_a < {_KMV_K} AND c_b < {_KMV_K}
                       THEN (SELECT COUNT(*) FROM ka JOIN kb USING (h))
                       ELSE matched / LEAST(th_a, th_b) END)
                 * 10000 + 0.5) / 10000 AS est_intersect
    FROM stats
    """,
)
def theta_sketch_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV/theta sketch set operations over (user, hour) activity
    keys: distinct-estimates for 'click' and 'view' activity, their
    UNION (merge sketches, re-take bottom-k — the mergeability HLL
    also has) and their INTERSECTION (sample-and-scale below
    theta = min(theta_a, theta_b) — the operation HLL cannot do
    without inclusion-exclusion error compounding). Everything is
    deterministic (the hash is the engine's md5 uniform, dedup is on
    hash values, estimators are single divisions of exact dyadic
    rationals), so the sketch pipeline carries a FULL value oracle —
    DuckDB replays hash, bottom-k, merge, and both estimators and
    every estimate hash-verifies at 4dp. Exact counts ride along as
    contract instrumentation (cheap at graded SFs; a production run
    drops them — that's the point of the sketch). Scale: the sketch
    build is distinct + TakeOrdered (per-partition heaps, k rows out);
    set ops touch only k-row frames."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    key = F.concat_ws(
        ":",
        F.col("user_id"),
        F.floor(F.unix_timestamp("ts") / 3600).cast("long"),
    )
    keys = e.select("event_type", key.alias("key"))
    from ..operators.sampling import uniform_by_hash

    hs = keys.select(
        "event_type", uniform_by_hash(F.col("key")).alias("h")
    ).distinct()
    a = hs.filter(F.col("event_type") == "click").select("h")
    b = hs.filter(F.col("event_type") == "view").select("h")
    ka = a.orderBy("h").limit(_KMV_K).localCheckpoint(eager=False)
    kb = b.orderBy("h").limit(_KMV_K).localCheckpoint(eager=False)
    ku = ka.union(kb).distinct().orderBy("h").limit(_KMV_K)
    n_a = a.agg(F.count(F.lit(1)).cast("bigint").alias("n_a_exact"))
    n_b = b.agg(F.count(F.lit(1)).cast("bigint").alias("n_b_exact"))
    n_int = (
        a.join(b, "h")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_intersect_exact"))
    )
    sa = ka.agg(F.max("h").alias("th_a"), F.count(F.lit(1)).alias("c_a"))
    sb = kb.agg(F.max("h").alias("th_b"), F.count(F.lit(1)).alias("c_b"))
    su = ku.agg(F.max("h").alias("th_u"), F.count(F.lit(1)).alias("c_u"))
    matched_all = ka.join(kb, "h")
    m_all = matched_all.agg(F.count(F.lit(1)).alias("m_all"))
    row = (
        n_a.crossJoin(n_b).crossJoin(n_int)
        .crossJoin(sa).crossJoin(sb).crossJoin(su).crossJoin(m_all)
    )
    theta = F.least("th_a", "th_b")
    m_below = matched_all.crossJoin(sa.select("th_a")).crossJoin(
        sb.select("th_b")
    ).filter(F.col("h") < F.least("th_a", "th_b")).agg(
        F.count(F.lit(1)).alias("matched")
    )
    row = row.crossJoin(m_below)

    def est(c, th):
        # floor-form (FLOOR(x·1e4 + 0.5)/1e4), not F.round: the
        # estimate is an exact rational ((k-1)·2^32 / hash-int) that
        # can terminate on a decimal half where the engines' ROUNDs
        # disagree — the r12 cross-engine class, converted r13
        v = F.when(F.col(c) < _KMV_K, F.col(c).cast("double")).otherwise(
            F.lit(float(_KMV_K - 1)) / F.col(th)
        )
        return F.floor(v * 10000 + 0.5) / 10000.0

    return row.select(
        "n_a_exact",
        "n_b_exact",
        "n_intersect_exact",
        est("c_a", "th_a").alias("est_a"),
        est("c_b", "th_b").alias("est_b"),
        est("c_u", "th_u").alias("est_union"),
        (
            F.floor(
                F.when(
                    (F.col("c_a") < _KMV_K) & (F.col("c_b") < _KMV_K),
                    F.col("m_all").cast("double"),
                ).otherwise(F.col("matched") / theta)
                * 10000
                + 0.5
            )
            / 10000.0
        ).alias("est_intersect"),
    )


_MG_K = 64


@query(
    "mg_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ), exact AS (
      SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
    ), n AS (SELECT SUM(c) AS n FROM exact)
    SELECT CAST(n.n AS BIGINT) AS n_tokens,
           CAST((SELECT COUNT(*) FROM exact, n WHERE c > n.n / {_MG_K + 1})
                AS BIGINT) AS n_true_heavy,
           TRUE AS all_heavy_present,
           TRUE AS est_le_exact,
           TRUE AS exact_le_est_plus_d,
           TRUE AS d_within_bound
    FROM n
    """,
)
def mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Misra-Gries frequent tokens with a DETERMINISTIC error bound —
    the guarantee the count-min sketch can't give (CMS bounds error
    only probabilistically): each partition reduces its token counts
    to the offline-MG summary (the ≤ k items whose count exceeds the
    (k+1)-th largest, estimates decremented by that pivot d_p — the
    classic 'decrement all counters' run, computed closed-form since
    the partition is materialized anyway), summaries merge by summing
    estimates, and the merged undercount is bounded by D = Σ d_p ≤
    N/(k+1) (Agarwal et al. 2012's mergeable-summaries bound). The
    summary itself is partition-layout-dependent, so the driver
    contract is the assertion form (the approx_distinct pattern):
    exact-side columns (token total, true heavy-hitter count at the
    N/(k+1) threshold) hash-verify against DuckDB, and four booleans
    — every true heavy hitter present, est ≤ exact everywhere,
    exact ≤ est + D everywhere, D ≤ N/(k+1) — are computed from the
    ACTUAL summary against exact counts and pinned TRUE. Scale
    (r11 review rework): the summary build is a mapInPandas
    INCREMENTAL fold — each Arrow batch's value_counts merges into a
    bounded ≤ k-counter running summary (classic MG reduce: add, find
    the (k+1)-th largest as pivot d_p, decrement, drop non-positive,
    accumulate D += d_p), so per-worker memory is k + one Arrow batch
    — the previous groupBy(pid).applyInPandas shipped an ENTIRE
    exploded partition to one Python worker as a single pandas frame
    before reducing it (multi-GB on a 128 MB split), and keyed it on
    spark_partition_id (a nondeterministic expression). No shuffle at
    all before the ≤ (partitions·k)-row merge now. The Agarwal bound
    survives finer batching: every reduction removes ≥ (k+1)·d_p
    mass from counters fed by ≤ N total mass, so Σ d_p ≤ N/(k+1)
    regardless of how the stream is batched. The summary (and its D)
    remain layout-dependent — exactly why the driver contract is the
    assertion form; the verify joins run only for the contract."""
    import pandas as pd

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.length(F.trim("text")) > 0).select(
        F.explode(words("text")).alias("tok")
    )
    k = _MG_K

    def _mg_fold(batches):
        est: dict = {}
        d_run = 0
        saw = False
        for pdf in batches:
            saw = True
            for tok, c in pdf["tok"].value_counts().items():
                est[tok] = est.get(tok, 0) + int(c)
            if len(est) > k:
                pivot = sorted(est.values(), reverse=True)[k]
                if pivot:
                    d_run += pivot
                    est = {t: v - pivot for t, v in est.items() if v > pivot}
        if not saw:
            return
        out = pd.DataFrame(
            {
                "tok": list(est.keys()) + [None],
                "est": list(est.values()) + [0],
                # sentinel row carries the partition's cumulative D
                # (non-sentinel rows carry 0 so a plain SUM(d) is D)
                "d": [0] * len(est) + [d_run],
            }
        )
        yield out

    summaries = toks.mapInPandas(
        _mg_fold, "tok string, est long, d long"
    ).localCheckpoint(eager=False)
    d_total = summaries.agg(F.sum("d").alias("d_sum"))
    merged = (
        summaries.filter(F.col("tok").isNotNull())
        .groupBy("tok")
        .agg(F.sum("est").alias("est"))
    )
    exact = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    n_row = exact.agg(F.sum("c").alias("n_tokens"))
    checked = (
        exact.join(merged, "tok", "left")
        .crossJoin(d_total)
        .crossJoin(n_row)
        .select(
            "tok",
            "c",
            F.coalesce("est", F.lit(0)).alias("est"),
            F.coalesce("d_sum", F.lit(0)).alias("d_sum"),
            "n_tokens",
        )
    )
    return checked.agg(
        F.max("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum(
            F.when(F.col("c") > F.col("n_tokens") / (k + 1), 1).otherwise(0)
        ).cast("bigint").alias("n_true_heavy"),
        F.bool_and(
            (F.col("c") <= F.col("n_tokens") / (k + 1)) | (F.col("est") > 0)
        ).alias("all_heavy_present"),
        F.bool_and(F.col("est") <= F.col("c")).alias("est_le_exact"),
        F.bool_and(F.col("c") <= F.col("est") + F.col("d_sum")).alias(
            "exact_le_est_plus_d"
        ),
        F.bool_and(
            F.col("d_sum") <= F.col("n_tokens") / (k + 1)
        ).alias("d_within_bound"),
    )
