"""Product-quantization (PQ) similarity search (SURVEY.md §2.12 scale
path, completing the ANN family: brute force → LSH → IVF → PQ).

PQ splits each d-dim vector into ``m`` subvectors and k-means-quantizes
each subspace to ``ksub`` centroids, so a vector stores as m small
codes (m bytes at ksub ≤ 256) instead of d floats — a 32× memory cut at
d=64/m=8. Search uses the asymmetric distance computation (ADC): the
query stays exact, a per-query lookup table of subspace partial dot
products is broadcast, and each corpus vector's score is the sum of m
table lookups — no float vector ever leaves storage at query time.

Training collects the capped sample once and runs `ivf.lloyd` on the
driver per subspace slice (the trainer IVF and semantic dedup share);
everything that touches the corpus is DataFrame-native: encoding is a
broadcast join + argmin, and ADC is an m-row-per-vector join against
the broadcast LUT.
At 100 TB the codes table (m bytes/vector) is what shuffles — the
float corpus is touched only by the optional exact re-rank of the
shortlist, a point-lookup join.

Reference parity: the reference has no vector search at all; this is
the north-star surface (BASELINE.json) built Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vector import as_double, dot, l2_norm
from ..registry import query
from . import similarity as _sim
from .ivf import (
    _N_QUERIES,
    _TRAIN_CAP,
    _ordered_sum,
    _sq_dist,
    collect_sample,
    lloyd,
    query_set,
)

_M = 8        # subspaces
_KSUB = 16    # centroids per subspace
_TOP_K = 10
_SHORTLIST = 40


def _subvectors(vectors: DataFrame, m: int) -> DataFrame:
    """Long-form subvectors: (vec_id, sub, semb array<double>) — one
    row per (vector, subspace), via slice on the packed array."""
    d_over_m = F.size("emb") / m
    return vectors.select(
        "vec_id",
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        "emb",
    ).select(
        "vec_id",
        "sub",
        F.slice(
            "emb",
            (F.col("sub") * d_over_m + 1).cast("int"),
            d_over_m.cast("int"),
        ).alias("semb"),
    )


def _assign_codes(subs: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest-centroid code per (vec_id, sub): broadcast the m×ksub
    codebook, argmin via min-of-struct with code tiebreak."""
    scored = subs.join(F.broadcast(codebook), "sub").select(
        "vec_id",
        "sub",
        "semb",
        F.struct(
            _sq_dist(F.col("semb"), F.col("centroid")).alias("dist"),
            F.col("code"),
        ).alias("dc"),
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min("dc").alias("best"), F.first("semb").alias("semb"))
        .select("vec_id", "sub", F.col("best.code").alias("code"), "semb")
    )


def pq_train(
    spark: SparkSession,
    vectors: DataFrame,
    m: int = _M,
    ksub: int = _KSUB,
    max_iter: int = 4,
    train_cap: int = _TRAIN_CAP,
) -> DataFrame:
    """Train the PQ codebook: `ivf.lloyd` once per subspace over the
    slices of the capped training sample, collected once (no Spark job
    per iteration). Returns (sub, code, centroid array<double>). Init
    is seeded/deterministic: the subvectors of the ksub lowest vec_ids
    in the sample, code = rank by vec_id. Slices follow `_subvectors`
    (start ⌊sub·d/m⌋, length ⌊d/m⌋), so `pq_encode` codes the same
    subspaces the codebook was trained on; the full corpus is touched
    only by `pq_encode`, exactly once."""
    X = collect_sample(vectors, train_cap)
    d_over_m = X.shape[1] / m
    rows = []
    for sub in range(m):
        start = int(sub * d_over_m + 1) - 1
        cents = lloyd(X[:, start : start + int(d_over_m)], ksub, max_iter)
        rows += [(sub, c, v.tolist()) for c, v in sorted(cents.items())]
    return spark.createDataFrame(rows, "sub INT, code INT, centroid ARRAY<DOUBLE>")


def pq_encode(vectors: DataFrame, codebook: DataFrame, m: int = _M) -> DataFrame:
    """Encode the corpus: (vec_id, sub, code) long-form — the compact
    representation that shuffles at search time. The approximate norm
    of each vector (from its reconstruction) rides along so cosine
    ADC needs no float-vector access."""
    subs = _subvectors(vectors, m)
    coded = _assign_codes(subs, codebook)
    with_cent = coded.join(F.broadcast(codebook), ["sub", "code"]).select(
        "vec_id",
        "sub",
        "code",
        F.aggregate(
            F.zip_with("centroid", "centroid", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("sub_sq"),
    )
    norms = with_cent.groupBy("vec_id").agg(
        F.sqrt(_ordered_sum("sub", "sub_sq")).alias("approx_nrm")
    )
    return with_cent.select("vec_id", "sub", "code").join(norms, "vec_id")


def adc_search(
    spark: SparkSession,
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    m: int = _M,
    top_k: int = _TOP_K,
) -> DataFrame:
    """Asymmetric distance computation: build the per-query LUT of
    subspace partial dots (queries × m × ksub rows — bounded, query
    sets are small), broadcast it, and score each corpus vector as the
    sum of its m code lookups over its approximate norm."""
    q_subs = _subvectors(
        queries.select(F.col("query_id").alias("vec_id"), F.col("q_emb").alias("emb")),
        m,
    ).select(F.col("vec_id").alias("query_id"), "sub", F.col("semb").alias("q_semb"))
    lut = q_subs.join(F.broadcast(codebook), "sub").select(
        "query_id",
        "sub",
        "code",
        F.aggregate(
            F.zip_with("q_semb", "centroid", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("partial"),
    )
    q_norms = queries.select("query_id", "q_nrm")
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy("query_id", "vec_id")
        .agg(
            _ordered_sum("sub", "partial").alias("approx_dot"),
            F.first("approx_nrm").alias("approx_nrm"),
        )
        .join(F.broadcast(q_norms), "query_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                F.col("approx_dot") / (F.col("q_nrm") * F.col("approx_nrm")), 6
            ).alias("approx_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("approx_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "vec_id", "approx_sim", "rank")
    )


def pq_search_rerank(
    spark: SparkSession,
    vectors: DataFrame,
    codes: DataFrame,
    codebook: DataFrame,
    queries: DataFrame,
    m: int = _M,
    shortlist: int = _SHORTLIST,
    top_k: int = _TOP_K,
) -> DataFrame:
    """Production two-stage shape: ADC shortlist over codes (cheap,
    compressed domain) → exact cosine re-rank of shortlist members
    only (the single point where float vectors are read — a join
    against `shortlist × queries` ids, not a corpus scan)."""
    short = adc_search(spark, codes, codebook, queries, m=m, top_k=shortlist).select(
        "query_id", "vec_id"
    )
    corpus = vectors.withColumn("nrm", l2_norm(F.col("emb")))
    sim = dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        short.join(corpus, "vec_id")
        .join(F.broadcast(queries), "query_id")
        .withColumn("cos_sim", F.round(sim, 6))
        .select("query_id", "vec_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN with exact re-rank over `embeddings`: 8 subspaces ×
    16 codes (32× compression of the scored representation), ADC
    shortlist, exact top-10 re-rank.

    The shortlist scales with the corpus — max(40, 5% of N): a FIXED
    shortlist makes recall decay as the corpus grows (measured
    0.70 → 0.52 overall from 500 → 2 000 vectors at shortlist=40;
    back to ~0.7 once scaled), because ADC error displaces a roughly
    constant FRACTION of true neighbors past any fixed cut. The count
    is one cheap metadata-ish job next to the bounded training collect.
    """
    e = load_table(spark, sf_dir, "embeddings")
    vectors = e.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    shortlist = max(_SHORTLIST, vectors.count() // 20)
    codebook = pq_train(spark, vectors)
    codes = pq_encode(vectors, codebook)
    queries = query_set(vectors)
    return pq_search_rerank(
        spark, vectors, codes, codebook, queries, shortlist=shortlist
    )


def pq_index_build(
    spark: SparkSession,
    vectors: DataFrame,
    path: str,
    m: int = _M,
    ksub: int = _KSUB,
) -> None:
    """Persist the PQ index under a caller-owned ``path`` — the
    build/probe split that bm25 (analysis.py) and IVF (ivf.py) already
    have (round-7 verdict #3): `{path}/codebook` (sub, code, centroid)
    and `{path}/codes` (vec_id, sub, code, approx_nrm — the compact
    scored representation; m bytes/vector of information, no floats).
    The `_INDEX_COMPLETE` marker is written strictly AFTER both
    artifacts through the Hadoop FS API, so a crash between the two
    writes reads as 'not built' (ADVICE r6 #1 pattern)."""
    from ..sources.io import write_completion_marker

    codebook = pq_train(spark, vectors, m=m, ksub=ksub)
    codebook.write.mode("overwrite").parquet(f"{path}/codebook")
    stored_cb = spark.read.parquet(f"{path}/codebook")
    pq_encode(vectors, stored_cb, m=m).write.mode("overwrite").parquet(
        f"{path}/codes"
    )
    write_completion_marker(spark, path, f"m={m} ksub={ksub}\n")


def pq_probe(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    vectors: DataFrame | None = None,
    m: int | None = None,
    shortlist: int = _SHORTLIST,
    top_k: int = _TOP_K,
) -> DataFrame:
    """Query a `pq_index_build` artifact: ADC over the stored codes
    against the stored codebook — no training, no encoding, no float
    corpus scan. Pass ``vectors`` to exact-re-rank the shortlist (the
    one point floats are read — a point-lookup join on shortlist ids,
    |Q|×shortlist rows, not a scan); omit it for the pure
    compressed-domain top-k.

    ``m`` defaults to the STORED codebook's subspace count (one
    bounded driver sync) — a probe must slice queries the way the
    artifact was built, never the way the current code's default
    says (r8 review: a changed _M default against an old cached
    artifact would otherwise mis-join silently)."""
    codebook = spark.read.parquet(f"{path}/codebook")
    codes = spark.read.parquet(f"{path}/codes")
    if m is None:
        m = codebook.agg(F.max("sub")).first()[0] + 1
    if vectors is None:
        return adc_search(spark, codes, codebook, queries, m=m, top_k=top_k)
    return pq_search_rerank(
        spark, vectors, codes, codebook, queries,
        m=m, shortlist=shortlist, top_k=top_k,
    )


def pq_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`pq_topk` semantics through the PERSISTED index: build once
    into a per-corpus cached path (skipped entirely when the
    `_INDEX_COMPLETE` marker exists — repeated runs against an
    unchanged corpus are probe-only, pinned in test_pq), then ADC +
    exact re-rank via `pq_probe`. Deterministic training (seeded init,
    hash-residue sample) makes the result identical to the
    rebuild-per-query path."""
    from ..cache import corpus_cache_path
    from ..sources.io import completion_marker_exists

    e = load_table(spark, sf_dir, "embeddings")
    vectors = e.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    # cache key includes the PQ geometry: a parameter-default change
    # in a later round must MISS this cache, not probe a stale layout
    # (r8 review finding)
    path = corpus_cache_path(sf_dir, "embeddings", f"pq_index_m{_M}k{_KSUB}")
    if not completion_marker_exists(spark, path):
        pq_index_build(spark, vectors, path)
    queries = query_set(vectors)
    # same corpus-scaled shortlist as pq_topk (fixed cuts lose recall
    # as N grows — see pq_topk's measured note)
    shortlist = max(_SHORTLIST, vectors.count() // 20)
    return pq_probe(spark, path, queries, vectors=vectors, shortlist=shortlist)


@query("similarity_pq", oracle=_sim.ann_contract_oracle())
def similarity_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `pq_topk` (upgraded from rows-only in
    round 5): hash-verified exact-side columns plus oracle-pinned
    booleans — per-query recall@10 ≥ 0.3 vs the exact brute force
    (measured minima 0.4 at 500 vectors / 0.6 at 2 000 with the
    scaled shortlist; 16-entry subspace codebooks on near-random
    64-dim data are deliberately coarse, and the floor is set under
    the worst measured query with regeneration margin), every emitted
    cosine recomputed-equal from the corpus (the re-rank path reads
    true floats — a corrupted shortlist join would surface here), and
    k respected."""
    return _sim.ann_recall_contract(
        spark, sf_dir, pq_topk(spark, sf_dir), recall_threshold=0.3
    )


@query("similarity_pq_pruned", oracle=_sim.ann_contract_oracle())
def similarity_pq_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `pq_pruned_topk` — same contract and
    threshold as `similarity_pq` but driving the PERSISTED index
    (cached per-corpus path; probe-only when already built), so the
    driver's hash gate also covers the stored-artifact path: a stale
    or corrupt cached codebook/codes table would break the
    recomputed-cosine or recall booleans here. Result identity with
    the rebuild path is pinned in test_pq."""
    return _sim.ann_recall_contract(
        spark, sf_dir, pq_pruned_topk(spark, sf_dir), recall_threshold=0.3
    )
