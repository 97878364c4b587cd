"""IVF index: k-means determinism, cluster coverage, probe recall."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from etl_knlp_spark.catalog import load_table
from etl_knlp_spark.operators.ivf import ivf_build, ivf_topk


@pytest.fixture(scope="module")
def index(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    return ivf_build(spark, e, k=8)


def test_every_vector_assigned_exactly_once(spark, sf_dir, index):
    assigned, centroids = index
    n = load_table(spark, sf_dir, "embeddings").count()
    assert assigned.count() == n
    assert assigned.select("vec_id").distinct().count() == n
    assert centroids.count() == 8
    # clusters are non-degenerate: more than one in use
    assert assigned.select("cluster_id").distinct().count() > 1


def test_kmeans_is_deterministic(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    a1, _ = ivf_build(spark, e, k=8)
    a2, _ = ivf_build(spark, e, k=8)
    m1 = {r["vec_id"]: r["cluster_id"] for r in a1.collect()}
    m2 = {r["vec_id"]: r["cluster_id"] for r in a2.collect()}
    assert m1 == m2


def test_ivf_results_are_true_cosines_with_recall(spark, sf_dir):
    got = ivf_topk(spark, sf_dir).collect()
    assert len(got) > 0
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    # scores must be exact cosines (IVF prunes candidates, never distorts)
    for r in got[:20]:
        q, v = vecs[r["query_id"]], vecs[r["vec_id"]]
        expected = float(np.dot(q, v) / (np.linalg.norm(q) * np.linalg.norm(v)))
        assert abs(r["cos_sim"] - round(expected, 6)) < 1e-9
    # some overlap with exact top-10 (probabilistic, but 4/16 clusters
    # probed on near-random data should still surface true neighbors)
    hits = 0
    for qid in range(5):
        scores = sorted(
            ((float(np.dot(vecs[qid], v) / (np.linalg.norm(vecs[qid]) * np.linalg.norm(v))), i)
             for i, v in vecs.items() if i != qid),
            key=lambda t: (-t[0], t[1]),
        )
        true10 = {i for _, i in scores[:10]}
        ivf10 = {r["vec_id"] for r in got if r["query_id"] == qid}
        hits += len(true10 & ivf10)
    assert hits > 0


def test_ivf_pruned_probe_matches_in_memory_and_prunes(spark, sf_dir):
    """The cluster-partitioned probe must (a) return exactly the
    in-memory probe's results and (b) reach the stored corpus through
    partition pruning on cluster_id rather than a full scan."""
    from etl_knlp_spark.operators.ivf import ivf_pruned_topk, ivf_topk

    a = sorted(map(tuple, ivf_topk(spark, sf_dir).collect()))
    pruned = ivf_pruned_topk(spark, sf_dir)
    b = sorted(map(tuple, pruned.collect()))
    assert a == b
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cluster_id" in plan
    # the mechanism, not just the line: a cluster_id-partitioned scan
    # always prints a (possibly empty) PartitionFilters entry, so pin
    # the dynamic-pruning expression itself (round-4 advisor finding;
    # same contract test_dpp_join_prunes_at_runtime asserts).
    assert "dynamicpruning" in plan.lower()


def test_ivf_pruned_corpus_is_staged_under_the_cache_root(spark, sf_dir):
    """The partitioned corpus is a per-corpus artifact like the bm25
    and PQ indexes: the probe reads it from under the validated cache
    root (owner, mode and symlink checks), keyed by the embeddings
    file's identity, not from a predictable name in the shared temp
    dir."""
    import os

    from etl_knlp_spark import cache
    from etl_knlp_spark.operators.ivf import ivf_pruned_topk

    stored = cache.corpus_cache_path(sf_dir, "embeddings", "ivf_partitioned")
    assert os.path.dirname(stored) == cache.secure_cache_root()
    read = [f for f in ivf_pruned_topk(spark, sf_dir).inputFiles() if "cluster_id=" in f]
    assert read and all(f.startswith(f"file://{stored}/cluster_id=") for f in read)


def test_ivf_contract_booleans_hold(spark, sf_dir):
    """The registered driver-facing query is the assertion contract:
    5 per-query rows, recall/score/cardinality booleans all TRUE (the
    oracle pins them TRUE, so this is exactly what the driver's hash
    compare will require)."""
    from etl_knlp_spark.operators.ivf import similarity_ivf

    rows = similarity_ivf(spark, sf_dir).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["n_exact"] == 10
        assert r["recall_ok"] and r["scores_true"] and r["ret_le_k"]


def test_training_sample_is_bounded_and_deterministic(spark, sf_dir):
    """The Lloyd iterations must run over a hash-residue sample bounded
    by the cap — not the full corpus — and the sample must be a pure
    function of the data (no RNG)."""
    from etl_knlp_spark.functions.vector import as_double
    from etl_knlp_spark.operators.ivf import training_sample

    e = load_table(spark, sf_dir, "embeddings")
    vectors = e.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    n = vectors.count()
    cap = 128
    s1 = sorted(r["vec_id"] for r in training_sample(vectors, cap).select("vec_id").collect())
    s2 = sorted(r["vec_id"] for r in training_sample(vectors, cap).select("vec_id").collect())
    assert s1 == s2
    # hash-residue selection: expected size n/ceil(n/cap) ≤ cap, allow
    # hash variance but require a genuine cut below the corpus size
    assert 0 < len(s1) < n
    assert len(s1) <= 2 * cap
    # cap ≥ n degenerates to the identity (no behavior change at small SF)
    assert training_sample(vectors, n).count() == n


def test_kmeans_sampled_training_still_indexes_everything(spark, sf_dir):
    """With the cap forcing the sampled path, the returned index must
    still be deterministic and assign the FULL corpus (training is
    bounded; the one full pass is the final assignment)."""
    from etl_knlp_spark.functions.vector import as_double
    from etl_knlp_spark.operators.ivf import _assign, kmeans_fit

    e = load_table(spark, sf_dir, "embeddings")
    vectors = e.select("vec_id", as_double(F.col("embedding")).alias("emb"))
    c1 = kmeans_fit(spark, vectors, k=8, max_iter=2, train_cap=128)
    c2 = kmeans_fit(spark, vectors, k=8, max_iter=2, train_cap=128)
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))
    assigned = _assign(vectors, c1)
    assert assigned.count() == vectors.count()
    assert assigned.select("cluster_id").distinct().count() > 1
