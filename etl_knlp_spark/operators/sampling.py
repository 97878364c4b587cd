"""Deterministic hash-based splitting & sampling (SURVEY.md §2.12).

Train/val/test assignment and sampling for training-data pipelines
must be (a) deterministic across runs and engines, (b) stable under
repartitioning, and (c) derivable per-row with no global state —
`rand()` fails all three. The standard answer: bucket each row by a
digest of its stable key and split on bucket ranges. md5 is
bit-identical everywhere, so the assignment is even oracle-checkable
across engines.

At 100 TB this is a pure map-side projection — no shuffle, no sampling
pass, and adding new data never reassigns existing rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query


def hash_bucket(key: Column, n_buckets: int = 100) -> Column:
    """Stable bucket in [0, n_buckets): first 4 md5 hex digits of the
    key, as an int, mod n_buckets. Engine-portable (md5 + hex parse)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("bigint")
        % n_buckets
    )


def split_by_hash(
    df: DataFrame, key_col: str, splits: dict[str, int], split_col: str = "split"
) -> DataFrame:
    """Assign each row to a named split by hash bucket. `splits` maps
    name → percent (must sum to 100), e.g. {'train': 80, 'val': 10,
    'test': 10}. Assignment depends only on the key value."""
    if sum(splits.values()) != 100:
        raise ValueError(f"split percents must sum to 100, got {splits}")
    bucket = hash_bucket(F.col(key_col))
    expr = None
    lo = 0
    for name, pct in splits.items():
        cond = bucket < (lo + pct)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return df.withColumn(split_col, expr)


def sample_by_hash(df: DataFrame, key_col: str, percent: int) -> DataFrame:
    """Deterministic ~percent% sample: rows whose bucket < percent.
    Unlike `df.sample()`, re-running (or re-partitioning) returns the
    SAME rows, and disjoint percent ranges give disjoint samples."""
    return df.filter(hash_bucket(F.col(key_col)) < percent)


@query(
    "hash_split",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT) % 100
               AS bucket
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment of `documents` by doc_id
    digest — per-row deterministic, hash-verified against DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return split_by_hash(
        docs.select("doc_id"), "doc_id", {"train": 80, "val": 10, "test": 10}
    )


@query(
    "sample_hash",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT) % 100 < 10
    """,
)
def sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% sample of `documents` (bucket < 10)."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_by_hash(docs.select("doc_id", "lang"), "doc_id", 10)

def sample_stratified(
    df: DataFrame, key_col: str, strata_col: str, percents: dict[str, int],
    default_pct: int = 100,
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum keep-percent via
    the same md5 bucketing as `sample_by_hash` — the corpus-rebalancing
    primitive (downsample over-represented languages/sources before
    training). Map-side only: the per-stratum rate is a CASE
    expression, no join, no shuffle, stable under re-runs."""
    pct = None
    for name, p in percents.items():
        cond = F.col(strata_col) == name
        pct = F.when(cond, p) if pct is None else pct.when(cond, p)
    pct = pct.otherwise(default_pct) if pct is not None else F.lit(default_pct)
    return df.filter(hash_bucket(F.col(key_col)) < pct)


@query(
    "sample_stratified",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT) % 100
          < CASE lang WHEN 'en' THEN 50 ELSE 100 END
    """,
)
def sample_stratified_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus language mix: keep ~50% of `en` (the
    over-represented stratum in testdata) and 100% of everything else,
    deterministically by doc_id digest."""
    docs = load_table(spark, sf_dir, "documents")
    return sample_stratified(
        docs.select("doc_id", "lang"), "doc_id", "lang", {"en": 50}
    )


def uniform_by_hash(key: Column) -> Column:
    """Deterministic uniform in [0, 1): first 8 md5 hex digits of the
    key as a 32-bit int over 2^32. Exact dyadic rational — engines
    computing the same digest get the same double, bit for bit. The
    per-row coin for weighted sampling (`rand()` is neither stable
    under re-runs nor cross-engine checkable)."""
    return (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10).cast("bigint")
        / F.lit(4294967296.0)
    )


def sample_importance(df: DataFrame, key_col: str, weight: Column) -> DataFrame:
    """Importance sampling: keep each row with probability equal to its
    weight in [0, 1] — the quality-weighted downsampling step between
    scoring and training (high-quality docs survive, low-quality docs
    thin out proportionally). Map-side filter, no shuffle; re-runs and
    engine ports keep the SAME rows because the coin is the key digest.
    """
    return df.filter(uniform_by_hash(F.col(key_col)) < weight)


@query(
    "sample_importance",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id,
             LEAST(n_chars / 500.0, 1.0) * 0.5
               + LEAST(len(list_filter(toks, x -> x IN ('the', 'a'))) * 5.0
                       / len(toks), 1.0) * 0.5 AS quality
      FROM t
    )
    SELECT doc_id, quality
    FROM scored
    WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
          / 4294967296.0 < quality
    """,
)
def sample_importance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted importance sample of `documents`: the keep
    probability is the `quality_score` heuristic (same expression —
    length + stopword-density mix in [0, 1]), the coin is the doc_id
    digest. Both sides are exact IEEE arithmetic on identical inputs,
    so even the float comparison is engine-portable and the kept set
    hash-verifies."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    n_tok = F.size(toks)
    n_stop = F.size(F.filter(toks, lambda x: x.isin("the", "a")))
    quality = (
        F.least(F.col("n_chars") / 500.0, F.lit(1.0)) * 0.5
        + F.least(n_stop * 5.0 / n_tok, F.lit(1.0)) * 0.5
    )
    return sample_importance(
        docs.select("doc_id", quality.alias("quality")), "doc_id", F.col("quality")
    )


@query(
    "sample_reservoir",
    oracle="""
    SELECT doc_id, lang, rk FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= 20
    """,
)
def sample_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size uniform sample per stratum (distributed reservoir
    sampling): exactly k=20 docs per language, chosen as the k
    smallest digest values — the deterministic, engine-portable
    formulation of 'k random rows per group'. Unlike rate-based
    `sample_stratified`, the output size is exact regardless of
    stratum size. Scale shape: the rk≤20 filter enables
    WindowGroupLimit, so each partition forwards at most k rows per
    stratum to the shuffle — the classic distributed-reservoir merge
    without any driver state."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "lang", "rk")
    )


@query(
    "budget_select",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, n_chars,
             len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, source, n_tokens,
             CAST(SUM(n_tokens) OVER (
               PARTITION BY source
               ORDER BY n_chars DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS cum_tokens
      FROM tok
    )
    SELECT doc_id, source, n_tokens, cum_tokens,
           cum_tokens <= 800 AS selected
    FROM ranked
    """,
)
def budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget selection: within each source, take documents in
    quality order (n_chars desc, doc_id tiebreak — swap in any score)
    until the source's token budget (800) is spent — the exact
    selector that realizes a mixture plan (`corpus_mixture_weights`
    hands each source a budget; this spends it deterministically,
    unlike probabilistic keep-coins which only hit the budget in
    expectation).

    One window per source: running token cumsum, keep while ≤ budget
    — a single shuffle on source, the same plan family as every
    sessionization/packing op here. The greedy prefix rule (a doc is
    taken iff the budget survives INCLUDING it) is mirrored exactly
    in SQL, so every selection decision hash-verifies. At 100 TB the
    window is per-source-partition local; skewed sources split under
    AQE, and the budget comparison is a scan over cumsums, not a
    driver loop."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words("text")).cast("bigint")
    base = docs.select("doc_id", "source", "n_chars", n_tok.alias("n_tokens"))
    from pyspark.sql import Window

    w = (
        Window.partitionBy("source")
        .orderBy(F.col("n_chars").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "doc_id",
        "source",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
    ).withColumn("selected", F.col("cum_tokens") <= 800)


_WRS_K = 100


def weighted_reservoir_keys(key: Column, weight: Column) -> Column:
    """Efraimidis–Spirakis A-ES sort key: each row draws an
    exponential race time -ln(u)/w from a DETERMINISTIC uniform
    u ∈ (0,1) derived from the row key's md5 (first 12 hex digits →
    48 uniform bits). Taking the k SMALLEST race times yields a
    weighted sample without replacement — inclusion probability
    proportional to weight at each of the k draws — the distributed
    formulation of weighted reservoir sampling (Efraimidis & Spirakis
    2006, eq. via u^(1/w) ⇔ Exp(w) race). Deterministic across runs,
    engines, and repartitioning, like every sampler here."""
    u = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 12), 16, 10)
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(2**48))
    return -F.log(u) / weight


@query(
    "sample_weighted",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT
               AS n_tokens,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
              + 1.0) / 281474976710656.0 AS u
      FROM documents
      WHERE length(trim(text)) > 0
    ), keyed AS (
      SELECT doc_id, n_tokens,
             -ln(u) / n_tokens AS race
      FROM t
    )
    SELECT doc_id, n_tokens, CAST(rank AS INT) AS rank FROM (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY race, doc_id) AS rank
      FROM keyed
    ) WHERE rank <= {_WRS_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted sample of {_WRS_K} documents: longer documents
    proportionally likelier, the curation primitive for 'sample by
    token mass, not by doc count' (mixture rebalancing, eval-set
    carving). The k-smallest filter over the A-ES race keys runs as
    TakeOrdered per partition (each partition forwards ≤ k rows), the
    distributed-reservoir merge with no driver state. The oracle
    replays the identical md5→uniform→exponential arithmetic in
    DuckDB; cross-engine float safety comes from the keys being
    continuous (adjacent race times differ by ~1/n, astronomically
    wider than libm's ulp disagreement), with doc_id breaking any
    exact tie the same way on both sides."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    n_tok = F.size(words("text")).cast("bigint")
    keyed = docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        weighted_reservoir_keys(F.col("doc_id"), n_tok).alias("race"),
    )
    from pyspark.sql import Window

    # sort-limit FIRST (TakeOrdered: per-partition k-row heaps, no
    # global sort), then rank the surviving ≤ k rows — the unpartitioned
    # row_number window only ever sees the k-row winner set
    winners = keyed.orderBy("race", "doc_id").limit(_WRS_K)
    w = Window.orderBy("race", "doc_id")
    return winners.select(
        "doc_id", "n_tokens", F.row_number().over(w).alias("rank")
    )
