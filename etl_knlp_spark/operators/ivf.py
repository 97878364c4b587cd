"""IVF (inverted-file) similarity index: k-means coarse quantization +
cluster-probed search (SURVEY.md §2.12 — the scale path alternative to
random-hyperplane LSH in `similarity.py`).

Build: the capped training sample (`training_sample`, ≤ ~1024 rows)
is collected once and `lloyd` trains the codebook on the driver — no
Spark job per iteration. The same function trains PQ subspace
codebooks (pq.py) and semantic-dedup blocks (dedup.py). Assigning the
full corpus to the trained centroids stays a distributed column
expression (`_assign`). Deterministic: init = first k vec_ids,
lowest-id tie-breaks, means summed in vec_id order.

Search: a query probes the `nprobe` nearest centroids and brute-forces
only those clusters — at 100 TB the corpus is stored partitioned by
cluster_id, so a probe reads nprobe/k of the data (partition pruning
does the rest).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..cache import corpus_cache_path
from ..catalog import load_table
from ..functions.vector import as_double, dot, l2_norm
from ..registry import query
from . import similarity as _sim

_K = 16
_N_PROBE = 4
_TOP_K = 10
_N_QUERIES = 5
_TRAIN_CAP = 1024


def training_sample(vectors: DataFrame, cap: int = _TRAIN_CAP) -> DataFrame:
    """Deterministic bounded training set for `lloyd`: keep
    rows whose xxhash64(vec_id) lands in one of ``ceil(n/cap)`` residue
    classes. One cheap count pass up front; after that, training
    collects ≤ ~cap rows to the driver no matter how large the corpus
    is — the full corpus is read exactly once more, by the final
    assignment pass. (Without this, training would collect the whole
    corpus to the driver, impossible at 100 TB, while the sample
    changes centroid quality only marginally — the standard IVF/PQ
    recipe.)
    Deterministic given the data: no RNG, hash-residue selection."""
    n = vectors.count()
    if n <= cap:
        return vectors
    denom = -(-n // cap)  # ceil
    picked = vectors.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(denom)) == 0)
    if not picked.limit(1).count():
        # degenerate small-n case: every id hashed outside residue
        # class 0 — fall back to the cap lowest ids (TakeOrdered,
        # driver-bounded) so training always has data
        return vectors.orderBy("vec_id").limit(cap)
    return picked


def _ordered_sum(key_col: str, val_col: str):
    """Aggregate expression: sum ``val_col`` over the group in
    ascending ``key_col`` order — a LAYOUT-INDEPENDENT float sum (the
    r13 pq.py review class: a plain F.sum(double) folds in
    shuffle-arrival order, so two layouts of the same rows can differ
    in the last ulp; wherever that double feeds a rank, a rounding
    boundary, or a codebook that downstream results reproduce, the
    fold order must be pinned).

    PRECONDITION (r13 ADVICE): ``key_col`` must be UNIQUE within the
    group. array_sort over the (key, value) structs compares key first
    and falls back to the value field on ties — still deterministic,
    but the fold order silently becomes ascending (key, value) rather
    than the documented ascending-key order. Every current caller
    satisfies this by construction: ADC groups hold one row per
    subspace (key = sub), BM25 score groups one row per term.

    PRECONDITION (r14 ADVICE): ``val_col`` must be NON-NULL. This fold
    does NOT share F.sum/F.avg's null-skipping semantics: a null value
    survives collect_list (the enclosing struct is non-null) and
    ``acc + null`` poisons the whole group's sum. Every current caller
    is non-null by construction (ADC partials and BM25 contributions
    are arithmetic over required columns); a caller with nullable
    values must filter them out first.

    The collect_list buffer is bounded by the group size — callers
    only apply this to groups bounded by construction (m ≤ 8 subspace
    partials per vector; the terms of one document)."""
    return F.aggregate(
        F.transform(
            F.array_sort(F.collect_list(F.struct(key_col, val_col))),
            lambda s: s[val_col],
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sq_dist(a, b):
    """Squared L2 distance via one zip_with fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: crossJoin with the broadcast
    centroid table, argmin via min-of-struct (distance, cluster_id) —
    the struct tiebreak keeps equal-distance assignment deterministic."""
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "emb",
        F.struct(_sq_dist(F.col("emb"), F.col("centroid")).alias("d"), F.col("cluster_id")).alias(
            "dc"
        ),
    )
    return (
        scored.groupBy("vec_id")
        .agg(F.min("dc").alias("best"), F.first("emb").alias("emb"))
        .select("vec_id", "emb", F.col("best.cluster_id").alias("cluster_id"))
    )


def lloyd(X: np.ndarray, k: int, max_iter: int) -> dict[int, np.ndarray]:
    """Lloyd's k-means on the driver over ``X``, the training sample as
    a float64 matrix sorted by vec_id; returns {cluster_id: centroid}.
    The one trainer for IVF, PQ subspaces and semantic dedup, with the
    semantics of the Spark loop it replaced, bit for bit:

    - init = the first k rows (the k lowest vec_ids), ids 0..k-1;
    - distance folds ``acc + (x - c)²`` one dimension at a time in
      array order from 0.0, as `_sq_dist`'s zip_with fold does;
    - equal distances go to the lowest cluster id (argmin takes the
      first of the sorted ids);
    - a cluster left without members is dropped from the table;
    - each mean is a sequential sum in vec_id order from 0.0, divided
      by the count. numpy's sum/mean add pairwise, which moves the
      last bits, so the sum is a cumsum (sequential) over the rows
      with a leading 0.0 row."""
    cents = dict(enumerate(X[:k]))
    for _ in range(max_iter):
        if not cents:
            break
        ids = np.array(sorted(cents))
        C = np.array([cents[c] for c in ids])
        D = np.zeros((len(X), len(ids)))
        for j in range(X.shape[1]):
            D = D + np.square(X[:, j, None] - C[None, :, j])
        label = ids[D.argmin(axis=1)]
        cents = {}
        for c in np.unique(label):  # only clusters that kept members
            rows = np.vstack((np.zeros(X.shape[1]), X[label == c]))
            cents[int(c)] = np.cumsum(rows, axis=0)[-1] / (len(rows) - 1)
    return cents


def collect_sample(vectors: DataFrame, train_cap: int = _TRAIN_CAP) -> np.ndarray:
    """`training_sample` collected as a float64 matrix sorted by vec_id
    (≤ ~train_cap rows — one bounded driver sync; sorted on the driver,
    as a Spark sort would add a range-sampling job)."""
    rows = training_sample(vectors, train_cap).select("vec_id", "emb").collect()
    if not rows:
        return np.empty((0, 0))
    rows.sort(key=lambda r: r["vec_id"])
    return np.array([r["emb"] for r in rows], dtype=np.float64)


def kmeans_fit(
    spark: SparkSession,
    vectors: DataFrame,
    k: int = _K,
    max_iter: int = 5,
    train_cap: int = _TRAIN_CAP,
) -> DataFrame:
    """k-means centroid table (cluster_id INT, centroid ARRAY<DOUBLE>):
    `lloyd` over `training_sample(vectors, train_cap)`, collected once,
    so training cost is bounded by the cap, not the corpus, and runs
    no Spark job per iteration; callers assign the full corpus once
    against the result. Init = the k lowest vec_ids of the sample
    (seeded and deterministic; k-means|| would replace this at real
    scale)."""
    cents = lloyd(collect_sample(vectors, train_cap), k, max_iter)
    return spark.createDataFrame(
        [(c, v.tolist()) for c, v in sorted(cents.items())],
        "cluster_id INT, centroid ARRAY<DOUBLE>",
    )


def ivf_build(spark: SparkSession, embeddings: DataFrame, k: int = _K) -> tuple[DataFrame, DataFrame]:
    """Build the IVF index: (assignments, centroids). Store the corpus
    partitioned by cluster_id so probes prune partitions."""
    vectors = embeddings.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    centroids = kmeans_fit(spark, vectors, k=k)
    return _assign(vectors, centroids), centroids


def query_set(vectors: DataFrame) -> DataFrame:
    """The ANN query set: the `_N_QUERIES` lowest vec_ids of ``vectors``
    (vec_id, emb) as (query_id, q_emb, q_nrm)."""
    return (
        vectors.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("q_nrm", l2_norm(F.col("emb")))
        .select(F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb"), "q_nrm")
    )


def ivf_search(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    nprobe: int = _N_PROBE,
    top_k: int = _TOP_K,
) -> DataFrame:
    """Probe: per query, rank centroids by distance, keep `nprobe`,
    brute-force cosine only within those clusters."""
    q_probe = (
        queries.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "q_emb",
            "q_nrm",
            "cluster_id",
            _sq_dist(F.col("q_emb"), F.col("centroid")).alias("d"),
        )
        .withColumn(
            "probe_rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("d", "cluster_id")
            ),
        )
        .filter(F.col("probe_rank") <= nprobe)
        .select("query_id", "q_emb", "q_nrm", "cluster_id")
    )
    corpus = assigned.withColumn("nrm", l2_norm(F.col("emb")))
    sim = dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        corpus.join(F.broadcast(q_probe), "cluster_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(sim, 6))
        .select("query_id", "vec_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ANN top-k over `embeddings`: k-means index (k=16,
    5 Lloyd iterations) + 4-cluster probe per query."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(spark, e)
    queries = query_set(assigned)
    return ivf_search(assigned, centroids, queries)


def ivf_write_partitioned(assigned: DataFrame, path: str) -> None:
    """Persist the IVF-assigned corpus partitioned by cluster_id — the
    storage layout the probe path depends on at scale: each query
    reads only its nprobe cluster directories (PartitionFilters), so
    probe I/O is nprobe/k of the corpus regardless of corpus size."""
    assigned.write.mode("overwrite").partitionBy("cluster_id").parquet(path)


def ivf_pruned_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF probe against cluster-PARTITIONED storage (the claim in
    this module's docstring, demonstrated end to end): build the
    index, write the corpus partitioned by cluster_id, compute each
    query's probe set, and scan ONLY those partitions — the cluster_id
    IN (...) filter prunes at directory listing (PartitionFilters;
    pinned in tests). Results are identical to the in-memory probe
    (`similarity_ivf`) by construction: tests compare the two."""
    e = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = ivf_build(spark, e)
    # per-corpus path under the validated cache root, keyed by the
    # embeddings file's identity: repeated runs overwrite one layout
    path = corpus_cache_path(sf_dir, "embeddings", "ivf_partitioned")
    ivf_write_partitioned(assigned, path)
    queries = query_set(assigned)
    stored = spark.read.parquet(path)
    return ivf_search(stored, centroids, queries)


# Contract thresholds: measured per-query recall@10 minima are 0.7
# (sf0.01) / 0.8 (sf0.1) for the 4-of-16-cluster probe; 0.5 leaves
# margin for driver testdata regeneration while still failing loudly
# if the index or probe machinery degrades.
_RECALL_FLOOR = 0.5


@query("similarity_ivf", oracle=_sim.ann_contract_oracle())
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `ivf_topk` (upgraded from rows-only in
    round 5, the `udaf_geomean` pattern): hash-verified exact-side
    columns (n_exact, kth_exact_sim from the brute force, mirrored by
    the DuckDB oracle) plus booleans the oracle pins TRUE —
    per-query recall@10 ≥ 0.5 vs the exact top-k, every emitted
    cosine recomputed-equal from the corpus, and k respected. The
    seeded k-means build itself stays non-SQL-expressible; this turns
    its OUTPUT into something the driver can hash-verify anyway."""
    return _sim.ann_recall_contract(
        spark, sf_dir, ivf_topk(spark, sf_dir), recall_threshold=_RECALL_FLOOR
    )


@query("similarity_ivf_pruned", oracle=_sim.ann_contract_oracle())
def similarity_ivf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `ivf_pruned_topk` — same contract as
    `similarity_ivf` but driving the cluster-partitioned storage
    probe, so the driver's hash gate also covers the PartitionFilters
    path (plan shape pinned in test_ivf; result identity with the
    in-memory probe pinned there too)."""
    return _sim.ann_recall_contract(
        spark, sf_dir, ivf_pruned_topk(spark, sf_dir), recall_threshold=_RECALL_FLOOR
    )
