"""Similarity search over embedding columns (SURVEY.md §2.12).

Two paths:
- Brute-force top-k cosine: broadcast the (small) query set against the
  corpus, rank per query. Exact; the baseline and the verifier.
- LSH-bucketed ANN: random-hyperplane signatures, candidates share a
  signature band, rank within candidates. The 100 TB path — probe cost
  is per-bucket, not per-corpus.

All scoring is JVM-side higher-order expressions (functions.vector);
no UDFs in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.vector import as_double, dot, l2_norm
from ..registry import query

_TOP_K = 10
_N_QUERIES = 5
_EMB_DIM = 64  # testdata embedding dimensionality (TESTDATA.md)


@query(
    "similarity_topk",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(q.q_emb, e.emb), 6) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.query_id
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOP_K}
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: the first {N} vectors query the corpus.

    The query set is tiny → broadcast join (no shuffle of the corpus);
    ranking orders by the ROUNDED score with vec_id tiebreak so
    engine/oracle rank identically. At scale the per-query ranking uses
    WindowGroupLimit (per-partition top-k heaps before the shuffle).
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    # norms computed once per row (corpus) / per query — the pairwise
    # expression is a single array fold (dot), not three.
    e = e.withColumn("nrm", l2_norm(F.col("emb")))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    sim = dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_sim", F.round(sim, 6))
        .select("query_id", "vec_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def ann_contract_oracle(include_recall: bool = True) -> str:
    """DuckDB oracle template for the ANN assertion contracts
    (`ann_recall_contract`): the exact-side columns (n_exact,
    kth_exact_sim) are data-derived and hash-verify the brute-force
    arithmetic; the booleans are pinned TRUE — Spark computes them
    from the actual ANN output, so any recall/score/cardinality
    violation flips a bit and fails the driver's hash compare (the
    `udaf_geomean` pattern, applied to the ANN family)."""
    recall_col = "TRUE AS recall_ok,\n           " if include_recall else ""
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    q AS (SELECT vec_id AS query_id, emb AS q_emb FROM e WHERE vec_id < {_N_QUERIES}),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(q.q_emb, e.emb), 6) AS cos_sim
      FROM q JOIN e ON e.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           MAX(CASE WHEN rank = {_TOP_K} THEN cos_sim END) AS kth_exact_sim,
           {recall_col}TRUE AS scores_true,
           TRUE AS ret_le_k
    FROM ranked WHERE rank <= {_TOP_K}
    GROUP BY query_id
    """


def ann_recall_contract(
    spark: SparkSession,
    sf_dir: str,
    ann_topk: DataFrame,
    recall_threshold: float | None = None,
    top_k: int = _TOP_K,
) -> DataFrame:
    """Fold an ANN top-k result into per-query contract rows the
    driver can hash-verify even though the ANN output itself is
    seed/iteration-dependent (hyperplanes, k-means) and so not
    SQL-reproducible:

    - ``n_exact`` / ``kth_exact_sim`` — from the EXACT brute-force
      side (re-derived here, independently computed by the DuckDB
      oracle): real data-derived values, hash-compared bit-for-bit.
    - ``recall_ok`` (optional) — |ann ∩ exact top-k| / k ≥ threshold.
    - ``scores_true`` — every ANN-emitted cos_sim equals the true
      cosine recomputed from the corpus for that (query, vec) pair:
      catches candidate-set corruption (wrong ids with plausible
      scores) and score distortion (a broken norm/dot in the pruned
      path), the two ways an ANN plan silently rots.
    - ``ret_le_k`` — the ANN path respects its own k.

    The oracle pins every boolean TRUE, so a violation anywhere in
    the ANN machinery fails the driver's hash compare. The exact side
    is one broadcast join over the corpus — the contract's cost is
    the brute-force baseline it verifies against, which is the point:
    this query IS the verifier; the unverified fast path is the
    production probe."""
    exact = similarity_topk(spark, sf_dir)
    ex_agg = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        F.max(F.when(F.col("rank") == top_k, F.col("cos_sim"))).alias(
            "kth_exact_sim"
        ),
    )
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("emb"))
        .withColumn("nrm", l2_norm(F.col("emb")))
    )
    ann = ann_topk.select("query_id", "vec_id", F.col("cos_sim").alias("ann_sim"))
    paired = ann.join(
        e.select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
        ),
        "query_id",
    ).join(e, "vec_id")
    true_sim = F.round(
        dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm")), 6
    )
    per_q = (
        paired.withColumn("true_sim", true_sim)
        .join(
            exact.select("query_id", "vec_id", F.lit(1).alias("in_exact")),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_ret"),
            F.sum(F.coalesce(F.col("in_exact"), F.lit(0))).alias("n_hit"),
            F.bool_and(F.abs(F.col("ann_sim") - F.col("true_sim")) < 1e-9).alias(
                "scores_ok"
            ),
        )
    )
    out = ex_agg.join(per_q, "query_id", "left")
    cols = [F.col("query_id"), F.col("n_exact"), F.col("kth_exact_sim")]
    if recall_threshold is not None:
        recall = F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact")
        cols.append((recall >= recall_threshold).alias("recall_ok"))
    cols.append(F.coalesce(F.col("scores_ok"), F.lit(True)).alias("scores_true"))
    cols.append(
        (F.coalesce(F.col("n_ret"), F.lit(0)) <= top_k).alias("ret_le_k")
    )
    return out.select(*cols)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic ±1 random hyperplanes (seeded — reproducible across
    runs, required for stable LSH bucket assignment)."""
    import random

    rng = random.Random(seed)
    return [[rng.choice((-1.0, 1.0)) for _ in range(dim)] for _ in range(n_planes)]


def rhp_signatures(vectors: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Random-hyperplane signatures: bit j = sign(emb · plane_j),
    packed into one long per vector.

    Arrow-batched matmul kernel (round 11): each mapInPandas batch
    computes ALL plane dots as one BLAS ``M @ P`` (n × dim by
    dim × n_planes) and packs the sign bits vectorized — the shape
    numpy exists for, and the same kernel pattern as the in-block
    cosine matmul in dedup.embedding_neardup_pairs. Replaces the
    posexplode → broadcast-join(plane rows) → two chained aggregates
    formulation, which fanned the component stream out n_planes× and
    needed a repartition exchange; this path needs NO shuffle at all
    (map-only over whatever partitioning the input already has) and
    measured 3.3× faster at sf0.1 (0.66 → 0.20 s, min-of-5
    interleaved, signatures bit-identical on the graded corpus). At
    100 TB the win compounds: the old exchange moved the exploded
    component stream (rows × dim); this moves nothing. Sign rule
    s >= 0 → 1 is unchanged; a BLAS-vs-sequential summation-order
    delta can only matter for a dot sitting within float-ulp of zero,
    where LSH bucketing is arbitrary anyway — every registered
    consumer's hashed contract columns are independent of such edge
    assignments (similarity.py contract; the dedup overflow route is
    exact-verified downstream).

    Input must have (vec_id, embedding array<double>); output is
    (vec_id, sig long). NULL embeddings produce no signature row
    (matching the old inner-join-through-posexplode behavior). The
    kernel hard-requires fixed-length embeddings matching the plane
    dimension (np.stack's contract); a ragged or wrong-dim embeddings
    table raises a named ValueError carrying the offending vec_ids
    instead of an opaque numpy stack traceback inside a Python worker
    (r11 ADVICE).
    """
    import numpy as np

    n_planes = len(planes)
    dim = len(planes[0]) if planes else 0
    plane_t = np.array(planes, dtype=np.float64).T  # dim × n_planes

    def _sig_batches(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf.dropna(subset=["embedding"])
            if len(pdf) == 0:
                yield pd.DataFrame(
                    {
                        "vec_id": pd.Series(dtype="int64"),
                        "sig": pd.Series(dtype="int64"),
                    }
                )
                continue
            lengths = pdf["embedding"].map(len).to_numpy()
            if (lengths != dim).any():
                bad = pdf["vec_id"].to_numpy()[lengths != dim]
                bad_lens = sorted(set(int(x) for x in lengths[lengths != dim]))
                raise ValueError(
                    f"rhp_signatures: embedding length(s) {bad_lens} do not "
                    f"match the hyperplane dimension {dim} for vec_id(s) "
                    f"{bad[:8].tolist()}{'...' if len(bad) > 8 else ''} — "
                    "the embeddings table is ragged or was built for a "
                    "different dimension"
                )
            m = np.stack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            bits = (m @ plane_t >= 0).astype(np.int64)
            sig = (bits << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf["vec_id"].to_numpy(), "sig": sig})

    return vectors.select("vec_id", "embedding").mapInPandas(
        _sig_batches, "vec_id long, sig long"
    )


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via random-hyperplane LSH (SURVEY §2.12 scale path).

    16-bit signatures; a query probes only vectors sharing its full
    signature band on at least one of two 8-bit sub-bands — at 100 TB
    this turns the all-pairs scan into a per-bucket scan.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("embedding")
    )
    planes = _hyperplanes(_EMB_DIM, 16)
    e = e.withColumn("nrm", l2_norm(F.col("embedding")))
    sigs = e.join(rhp_signatures(e.select("vec_id", "embedding"), planes), "vec_id")
    banded = sigs.select(
        "vec_id",
        "embedding",
        "nrm",
        F.explode(
            F.expr(
                "transform(sequence(0,1), b -> named_struct("
                "'band_idx', b, 'band_val', (shiftright(sig, b * 8) & 255L)))"
            )
        ).alias("band"),
    ).select("vec_id", "embedding", "nrm", "band.band_idx", "band.band_val")
    # The banded-signature stream feeds both the query filter and the
    # corpus probe side; without a checkpoint each side re-runs the
    # whole RHP signature build (posexplode + two aggregates — the
    # scan-dominant cost at corpus scale). Lazy localCheckpoint
    # materializes it once; output identical (same pattern as the
    # MinHash band build, dedup.py).
    banded = banded.localCheckpoint(eager=False)
    q = (
        banded.filter(F.col("vec_id") < _N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            "band_idx",
            "band_val",
        )
    )
    cands = (
        banded.join(F.broadcast(q), ["band_idx", "band_val"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .dropDuplicates(["query_id", "vec_id"])
    )
    sim = dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    scored = cands.withColumn("cos_sim", F.round(sim, 6)).select(
        "query_id", "vec_id", "cos_sim"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


@query("similarity_ann_lsh", oracle=ann_contract_oracle(include_recall=False))
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `ann_lsh_topk` (upgraded from rows-only
    in round 5): hash-verified exact-side columns plus the
    `scores_true` / `ret_le_k` integrity booleans.

    Deliberately NO recall term: on this near-random corpus the
    moderate-similarity true neighbors collide on an 8-bit band with
    probability far below any meaningful threshold (measured recall
    0.06–0.08) — that is the documented LSH trade (near-duplicates
    collide w.h.p., weak pairs don't), not a defect, and a recall≥ε
    contract would be vacuous. What IS contract-checkable: the sieve
    never fabricates candidates (`scores_true` recomputes every
    emitted cosine from the corpus) and never over-returns
    (`ret_le_k`). Recall for the high-similarity regime LSH is built
    for is pinned in tests (dedup_minhash/dedup_fuzzy cover the
    duplicate-recall claim with planted near-dups)."""
    return ann_recall_contract(
        spark, sf_dir, ann_lsh_topk(spark, sf_dir), recall_threshold=None
    )


# ---- int8 embedding quantization ------------------------------------------


def quantize_symmetric_int8(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127,
    code_i = floor(x_i·127/max|x| + 0.5). Adds ``codes array<bigint>``
    and ``scale double``; dequantize with code·scale (abs error ≤
    scale/2 per dimension by construction).

    The 100 TB lever: a float32 embedding column is 4 bytes/dim through
    every shuffle and every cached signature table; int8 codes are 1 —
    candidate-generation joins (LSH bands, IVF probes) move 4× less
    data with a rank-preserving approximate dot product, and the exact
    float path stays available for the final re-rank. Pure map-side
    columnar expressions — no UDF, no shuffle."""
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    m = F.array_max(F.transform(x, F.abs))
    codes = F.when(m == 0.0, F.transform(x, lambda v: F.lit(0).cast("bigint"))).otherwise(
        F.transform(x, lambda v: F.floor(v * 127.0 / m + 0.5))
    )
    return df.withColumn("codes", codes).withColumn(
        "scale", F.when(m == 0.0, F.lit(0.0)).otherwise(m / 127.0)
    )


@query(
    "embedding_quantize",
    oracle="""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x,
             list_max(list_transform(embedding, v -> abs(CAST(v AS DOUBLE)))) AS m
      FROM embeddings
    ), coded AS (
      SELECT vec_id, x, m,
             CASE WHEN m = 0 THEN list_transform(x, v -> CAST(0 AS BIGINT))
                  ELSE list_transform(x, v -> CAST(floor(v * 127.0 / m + 0.5) AS BIGINT))
             END AS codes,
             CASE WHEN m = 0 THEN 0.0 ELSE m / 127.0 END AS scale
      FROM q
    )
    SELECT vec_id,
           CAST(len(codes) AS INT)            AS n_dims,
           scale,
           CAST(list_sum(codes) AS BIGINT)    AS code_sum,
           CAST(list_min(codes) AS INT)       AS code_min,
           CAST(list_max(codes) AS INT)       AS code_max,
           TRUE                               AS err_ok
    FROM coded
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantize every corpus embedding to int8 and emit the per-vector
    contract row: dims, scale, code checksum/extrema (all exact
    integers — hash-compared against DuckDB running the identical
    arithmetic), plus ``err_ok`` pinning max per-dimension
    reconstruction error ≤ scale/2, which the oracle fixes TRUE — the
    property that makes dequantized re-ranking sound."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_symmetric_int8(emb)
    dequant_err = F.array_max(
        F.zip_with(
            "codes",
            "embedding",
            lambda c, v: F.abs(c * F.col("scale") - v.cast("double")),
        )
    )
    return q.select(
        "vec_id",
        F.size("codes").alias("n_dims"),
        "scale",
        F.aggregate("codes", F.lit(0).cast("bigint"), lambda a, c: a + c).alias(
            "code_sum"
        ),
        F.array_min("codes").cast("int").alias("code_min"),
        F.array_max("codes").cast("int").alias("code_max"),
        (dequant_err <= F.col("scale") * 0.5000001).alias("err_ok"),
    )


_BLOCK_PAIR_BUDGET = 2**24  # ~16.7M residual evaluations


def _blocked_name_sides(
    p: DataFrame, pair_budget: int | None = _BLOCK_PAIR_BUDGET
) -> tuple[DataFrame, DataFrame]:
    """The (brand, head-noun) blocking both name-resolution joins
    share, with the pre-flight pair budget the dedup family's
    emitters carry: blocked-join cost is Σ block_size², quadratic in
    block DENSITY, not corpus size — measured at the 10× duplicated-
    parts probe, the same blocking that yields 204k pairs at sf0.1
    yields 100.9M (a ~hours-long UDF residual) because identical
    names collapse into the same blocks. One linear aggregation
    prices the join first and refuses over budget, naming the
    hottest block and the remedies (more key components, length
    bands, a deliberate budget raise)."""
    block = F.element_at(F.split(F.col("p_name"), " "), 2)
    if pair_budget is not None:
        per = p.groupBy(F.col("p_brand"), block.alias("blk")).agg(
            F.count(F.lit(1)).alias("n")
        )
        row = per.agg(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).alias("est"),
            F.max("n").alias("hottest"),
        ).collect()[0]
        est = int(row["est"] or 0)
        if est > pair_budget:
            raise ValueError(
                f"blocked name join refused: ~{est:,} candidate pairs "
                f"(Σ block_size choose 2) exceeds pair_budget="
                f"{pair_budget:,}; hottest (brand, head-noun) block has "
                f"{row['hottest']:,} rows. Add blocking key components "
                "(length bands, more name tokens) or raise the budget "
                "to match cluster capacity."
            )
    a = p.select(
        F.col("p_partkey").alias("k1"),
        F.col("p_name").alias("name1"),
        F.col("p_brand").alias("brand1"),
        block.alias("block1"),
    )
    b = p.select(
        F.col("p_partkey").alias("k2"),
        F.col("p_name").alias("name2"),
        F.col("p_brand").alias("brand2"),
        block.alias("block2"),
    )
    return a, b


@query(
    "fuzzy_join_names",
    oracle="""
    SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           a.p_name AS name1, b.p_name AS name2,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS edit_dist
    FROM part a
    JOIN part b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
    WHERE levenshtein(a.p_name, b.p_name) <= 1
    """,
)
def fuzzy_join_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string self-join (entity resolution): part names within
    edit distance 1 of each other. The scale shape: NEVER evaluate
    levenshtein all-pairs — a cheap equi-joinable blocking key (here
    (brand, head noun)) turns the O(n²) comparison into a shuffle-hash
    join on the block key with the edit-distance test as a residual
    inside each block. Block granularity is the recall/cost knob:
    pair count grows quadratically in block size, so a production run
    adds key components (or length bands) until the largest block is
    bounded; pairs disagreeing on the block key are unseen by
    construction. The blocking is mirrored exactly in the oracle. Both engines
    implement classic unweighted Levenshtein, so the distance — and
    the pair set — is integer-exact. Ref parity: the reference has no
    fuzzy matching; this is the dedup-adjacent surface a training-data
    pipeline needs for near-identical titles/names."""
    p = load_table(spark, sf_dir, "part")
    a, b = _blocked_name_sides(p)
    return (
        a.join(
            b,
            (F.col("block1") == F.col("block2"))
            & (F.col("brand1") == F.col("brand2"))
            & (F.col("k1") < F.col("k2")),
        )
        .filter(F.levenshtein("name1", "name2") <= 1)
        .select(
            "k1",
            "k2",
            "name1",
            "name2",
            F.levenshtein("name1", "name2").cast("bigint").alias("edit_dist"),
        )
    )


@query(
    "mine_hard_negatives",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    q AS (
      SELECT vec_id AS query_id, label AS q_label, emb AS q_emb
      FROM e WHERE vec_id < {_N_QUERIES}
    ),
    scored AS (
      SELECT q.query_id, e.vec_id,
             ROUND(list_cosine_similarity(q.q_emb, e.emb), 6) AS cos_sim
      FROM q JOIN e ON e.label <> q.q_label
    )
    SELECT query_id, vec_id, cos_sim, rank FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= {_TOP_K}
    """,
)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training: for
    each query vector, the top-k most-similar corpus vectors whose
    label DIFFERS — the near-miss negatives that make metric-learning
    batches informative (random negatives are trivially separable;
    the hardest ones sit just across the boundary).

    Same plan skeleton as `similarity_topk` — tiny query set broadcast
    against the corpus, one array-fold cosine per pair, WindowGroupLimit
    per-query top-k heaps before the single rank shuffle — plus a
    label-mismatch predicate evaluated BEFORE the cosine (the join
    condition), so same-label pairs never reach the fold. At 100 TB
    the mining set is the training batch's queries (thousands), still
    broadcastable, and the corpus-side scan parallelizes per
    partition; swap the exact scan for the IVF/LSH probe when the
    corpus side outgrows it (the contract machinery in
    `ann_recall_contract` verifies that swap)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("emb")
    )
    e = e.withColumn("nrm", l2_norm(F.col("emb")))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    sim = dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        e.join(F.broadcast(q), F.col("label") != F.col("q_label"))
        .withColumn("cos_sim", F.round(sim, 6))
        .select("query_id", "vec_id", "cos_sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TOP_K)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


_JL_DIM_OUT = 16  # power of four: 1/sqrt(16) = 0.25 is EXACT in binary


def jl_project(emb: DataFrame, dim_out: int = _JL_DIM_OUT) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``dim_out`` dims with
    a deterministic ±1 sign matrix (Achlioptas 2001's database-friendly
    variant: entries ±1 suffice for the JL guarantee, no Gaussians) —
    the standard pre-shrink before ANN indexing / near-dup blocking
    when the raw embedding dimension prices every downstream shuffle.

    Everything is engine-portable EXACT arithmetic so the projection
    carries a FULL value oracle instead of a distance-preservation
    contract: the sign for (input dim i, output dim j) derives from an
    overflow-free integer mix ((i·7349 + j)·2654435761 mod 2³¹, bit 10
    — products stay < 2⁵³ so ANSI engines never overflow), each output
    coordinate is a SEQUENTIAL left fold over input dims (both engines
    add the same doubles in the same order — bit-identical, no
    shuffle-order nondeterminism to round away), and the 1/√k scale is
    0.25 exactly. One codegen'd projection per row, zero exchanges,
    O(dim_in · dim_out) per vector.
    """
    def sign(i, j):
        h = F.pmod((i * F.lit(7349) + j) * F.lit(2654435761), F.lit(2147483648))
        bit = (h / F.lit(1024)).cast("bigint") % F.lit(2)
        return F.lit(1) - (F.lit(2) * bit)
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(dim_out - 1)),
        lambda j: F.round(
            F.lit(0.25)
            * F.aggregate(
                F.sequence(F.lit(1), F.size("embedding")),
                F.lit(0.0),
                lambda acc, i: acc
                + sign(i, j).cast("double")
                * F.element_at(F.col("embedding"), i).cast("double"),
            ),
            6,
        ),
    )
    return emb.select("vec_id", proj.alias("projected"))


@query(
    "embedding_jl_projection",
    oracle=f"""
    SELECT vec_id,
           CAST(j AS INT) AS dim_j,
           round(0.25 * list_sum(list_transform(range(1, 1 + len(embedding)), i ->
             CAST(1 - (2 * ((((((i * 7349) + j) * 2654435761) % 2147483648) // 1024) % 2))
                  AS DOUBLE)
             * CAST(embedding[CAST(i AS INT)] AS DOUBLE))), 6) AS coord
    FROM embeddings, LATERAL unnest(range(0, {_JL_DIM_OUT})) AS g(j)
    """,
)
def embedding_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `jl_project` on the embeddings table
    (64 → 16 dims), exploded to one (vec_id, dim_j, coord) row per
    output coordinate — scalar columns only, per the driver
    canonicalizer's no-naked-array rule (test_entry). FULL value
    oracle: DuckDB regenerates the sign matrix from the same integer
    mix and folds the same doubles in the same order, so every
    projected coordinate hash-verifies — the determinism designed
    into the operator is what makes the strongest oracle form
    possible for a 'random' projection."""
    proj = jl_project(load_table(spark, sf_dir, "embeddings"))
    return proj.select(
        "vec_id", F.posexplode("projected").alias("dim_j", "coord")
    )


def jaro_winkler(s1: str, s2: str) -> float:
    """Jaro-Winkler similarity, matching DuckDB's builtin conventions
    exactly (empirically pinned on 4k randomized cases at 1e-12:
    match window max(len)/2 - 1 clamped at 0, either-empty → 0.0,
    Winkler boost only above jaro 0.7, prefix capped at 4, p = 0.1).
    Python reference kernel — the Arrow-batched UDF in
    `jaro_winkler_names` wraps it row-wise; strings in the blocking
    use-case are short, so the double loop is bounded."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    win = max(max(l1, l2) // 2 - 1, 0)
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i in range(l1):
        for j in range(max(0, i - win), min(l2, i + win + 1)):
            if not m2[j] and s1[i] == s2[j]:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(l1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3
    if jaro > 0.7:
        p = 0
        for a, b in zip(s1, s2):
            if a == b and p < 4:
                p += 1
            else:
                break
        return jaro + p * 0.1 * (1 - jaro)
    return jaro


_JW_THRESHOLD = 0.85


@query(
    "jaro_winkler_names",
    oracle=f"""
    SELECT a.p_partkey AS k1, b.p_partkey AS k2,
           round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw_6dp
    FROM part a
    JOIN part b
      ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
     AND a.p_brand = b.p_brand
     AND a.p_partkey < b.p_partkey
    WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
          >= {_JW_THRESHOLD}
    """,
)
def jaro_winkler_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaro-Winkler entity resolution over the `fuzzy_join_names`
    blocking (brand + head noun — the O(n²)-avoidance shape documented
    there), keeping pairs at similarity >= 0.85. A CROSS-IMPLEMENTATION
    oracle, which is this query's point: Spark runs our from-scratch
    Python kernel (Arrow-batched pandas UDF — the residual runs only
    inside blocks, never all-pairs), DuckDB runs its independent C++
    builtin, and the driver hash-compares every 6dp-rounded score —
    two implementations of the published algorithm pinned equal on
    real data, the dual-construction technique applied across ENGINES
    rather than within one. (Threshold and rounding are applied on
    the rounded value on both sides, so the cut is identical; the
    convention pin lives in `jaro_winkler`'s docstring and
    test_similarity's randomized mirror.)"""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _jw_batch(a, b):
        return pd.Series(
            [jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    jw_udf = pandas_udf(_jw_batch, "double")

    p = load_table(spark, sf_dir, "part")
    a, b = _blocked_name_sides(p)
    return (
        a.join(
            b,
            (F.col("block1") == F.col("block2"))
            & (F.col("brand1") == F.col("brand2"))
            & (F.col("k1") < F.col("k2")),
        )
        .withColumn("jw_6dp", F.round(jw_udf("name1", "name2"), 6))
        .filter(F.col("jw_6dp") >= _JW_THRESHOLD)
        .select("k1", "k2", "jw_6dp")
    )


_MMR_K = 10
_MMR_POOL = 20
_MMR_LAMBDA = 0.7
# Diversity weight as its OWN literal, not 1 - _MMR_LAMBDA: the Python
# greedy and the SQL oracle must multiply by the identical double
# (1 - 0.7 = 0.30000000000000004 is one ulp off the literal 0.3, enough
# to flip pick order on exact-arithmetic ties of 6dp-rounded scores).
_MMR_ONE_MINUS = 0.3


@query(
    "mmr_rerank",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), q AS (
      SELECT vec_id AS qid, emb AS qe FROM e WHERE vec_id < {_N_QUERIES}
    ), scored AS (
      SELECT q.qid, e.vec_id AS id,
             ROUND(list_cosine_similarity(q.qe, e.emb), 6) AS rel
      FROM q JOIN e ON e.vec_id <> q.qid
    ), cand AS (
      SELECT qid, id, rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY rel DESC, id) AS rn
        FROM scored
      ) WHERE rn <= {_MMR_POOL}
    ), pair AS (
      SELECT a.qid, a.id AS ia, b.id AS ib,
             ROUND(list_cosine_similarity(ea.emb, eb.emb), 6) AS sim
      FROM cand a
      JOIN cand b ON a.qid = b.qid AND a.id <> b.id
      JOIN e ea ON ea.vec_id = a.id
      JOIN e eb ON eb.vec_id = b.id
    ), sel(qid, step, picked, sel_ids) AS (
      SELECT qid, 1, id, [id] FROM (
        SELECT qid, id, ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY rel DESC, id) AS rn
        FROM cand
      ) WHERE rn = 1
      UNION ALL
      SELECT sel.qid, step + 1, nxt.id, list_append(sel_ids, nxt.id)
      FROM sel, LATERAL (
        SELECT c.id FROM cand c
        WHERE c.qid = sel.qid AND NOT list_contains(sel.sel_ids, c.id)
        ORDER BY {_MMR_LAMBDA} * c.rel
                 - {_MMR_ONE_MINUS!r} * COALESCE(
                     (SELECT MAX(p.sim) FROM pair p
                      WHERE p.qid = sel.qid AND p.ia = c.id
                        AND list_contains(sel.sel_ids, p.ib)), 0) DESC,
                 c.id
        LIMIT 1
      ) nxt(id)
      WHERE step < {_MMR_K}
    )
    SELECT qid AS query_id, CAST(step AS INT) AS rank,
           CAST(picked AS BIGINT) AS vec_id
    FROM sel
    """,
)
def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity step between retrieval and a RAG context
    window: greedily pick k results maximizing λ·relevance −
    (1−λ)·max-similarity-to-already-picked, so near-duplicate hits
    don't crowd the window. Candidate generation and the candidate
    pairwise-similarity matrix are DISTRIBUTED (broadcast top-{_MMR_POOL}
    pool per query + a pool-bounded pair join — the corpus is never
    touched again); the greedy selection itself is inherently
    sequential over ≤ pool rows per query, so it runs driver-side on
    that bounded sync (the k-centroids pattern), on the SAME
    6dp-rounded scores both engines computed. The oracle replays the
    greedy loop exactly — a recursive CTE carrying the selected-id
    list, argmax per step via LATERAL — so every rank of every pick
    hash-verifies; no float ever reaches the output (ranks and ids
    only), and ties break on id in both engines."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    ).withColumn("nrm", l2_norm(F.col("emb")))
    q = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qe"),
        F.col("nrm").alias("qn"),
    )
    rel = F.round(
        dot(F.col("qe"), F.col("emb")) / (F.col("qn") * F.col("nrm")), 6
    )
    scored = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select("qid", F.col("vec_id").alias("id"), rel.alias("rel"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("rel").desc(), "id")
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _MMR_POOL)
        .select("qid", "id", "rel")
        .localCheckpoint(eager=False)
    )
    ce = cand.join(e.select(F.col("vec_id").alias("id"), "emb", "nrm"), "id")
    a = ce.select("qid", F.col("id").alias("ia"),
                  F.col("emb").alias("ea"), F.col("nrm").alias("na"))
    b = ce.select(F.col("qid").alias("qid_b"), F.col("id").alias("ib"),
                  F.col("emb").alias("eb"), F.col("nrm").alias("nb"))
    sim = F.round(
        dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 6
    )
    pairs = (
        a.join(b, (F.col("qid") == F.col("qid_b")) & (F.col("ia") != F.col("ib")))
        .select("qid", "ia", "ib", sim.alias("sim"))
    )
    # bounded driver sync: N_QUERIES * POOL candidate rows + the
    # POOL²-bounded pair matrix — the greedy is sequential by nature
    cand_rows = cand.collect()
    pair_rows = pairs.collect()
    rel_of: dict = {}
    for r in cand_rows:
        rel_of.setdefault(r.qid, {})[r.id] = r.rel
    sim_of: dict = {}
    for r in pair_rows:
        sim_of[(r.qid, r.ia, r.ib)] = r.sim
    out = []
    for qid, rels in rel_of.items():
        remaining = dict(rels)
        first = min(remaining, key=lambda i: (-remaining[i], i))
        sel = [first]
        del remaining[first]
        while remaining and len(sel) < _MMR_K:
            def mmr(i):
                ms = max(
                    (sim_of.get((qid, i, s), 0.0) for s in sel), default=0.0
                )
                return _MMR_LAMBDA * remaining[i] - _MMR_ONE_MINUS * ms
            pick = min(remaining, key=lambda i: (-mmr(i), i))
            sel.append(pick)
            del remaining[pick]
        out.extend(
            (qid, rank, vid) for rank, vid in enumerate(sel, start=1)
        )
    return spark.createDataFrame(out, "query_id long, rank int, vec_id long")


@query(
    "entity_golden_record",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT a.p_partkey AS k1, b.p_partkey AS k2
      FROM part a JOIN part b
        ON split_part(a.p_name, ' ', 2) = split_part(b.p_name, ' ', 2)
       AND a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6)
            >= {_JW_THRESHOLD}
    ), sym AS (
      SELECT k1 AS a, k2 AS b FROM pairs UNION SELECT k2, k1 FROM pairs
    ), reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ), comp AS (
      SELECT a AS node, LEAST(a, MIN(b)) AS component FROM reach GROUP BY a
    ), member AS (
      SELECT p.p_partkey,
             COALESCE(c.component, p.p_partkey) AS cluster_rep,
             p.p_brand, p.p_size, p.p_retailprice
      FROM part p LEFT JOIN comp c ON c.node = p.p_partkey
    ), golden AS (
      SELECT cluster_rep,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MAX(p_size) AS INT) AS max_size,
             MIN(p_retailprice)       AS min_price
      FROM member GROUP BY cluster_rep
    ), bm AS (
      SELECT cluster_rep, p_brand,
             ROW_NUMBER() OVER (PARTITION BY cluster_rep
                                ORDER BY COUNT(*) DESC, p_brand) AS rn
      FROM member GROUP BY cluster_rep, p_brand
    )
    SELECT g.cluster_rep, g.n_members, g.max_size, g.min_price,
           bm.p_brand AS brand_mode
    FROM golden g JOIN bm ON bm.cluster_rep = g.cluster_rep AND bm.rn = 1
    WHERE g.n_members >= 2
    """,
)
def entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution end to end — the composition the pieces exist
    for: (brand, head-noun) blocking → Jaro-Winkler match ≥ {_JW_THRESHOLD}
    (the `jaro_winkler_names` cross-implementation edge set) →
    connected components (min-label propagation; name-dup clusters
    are shallow) → SURVIVORSHIP per cluster: the golden record keeps
    the min-key representative, the modal brand (ties → lexicographic
    min, pinned identically in both engines' mode computation), the
    max size, and the min retail price (selected input doubles,
    never computed — no rounding anywhere). Only multi-member
    clusters ship; singletons are their own golden record by
    definition. The oracle rebuilds every stage independently:
    DuckDB's C++ Jaro-Winkler for edges, a recursive-CTE closure for
    components, window mode for survivorship.

    Scale: the blocked pair join carries `_blocked_name_sides`' Σ
    C(block,2) pre-flight budget; components over match edges touch
    only matched keys; survivorship is one groupBy + one window over
    cluster-sized groups."""
    import pandas as pd
    from pyspark.sql import Window

    from .graph import connected_components

    def _jw_batch(a, b):
        return pd.Series(
            [jaro_winkler(x, y) for x, y in zip(a, b)], dtype="float64"
        )

    jw_udf = F.pandas_udf(_jw_batch, "double")
    p = load_table(spark, sf_dir, "part")
    a, b = _blocked_name_sides(p)
    edges = (
        a.join(
            b,
            (F.col("block1") == F.col("block2"))
            & (F.col("brand1") == F.col("brand2"))
            & (F.col("k1") < F.col("k2")),
        )
        .withColumn("jw_6dp", F.round(jw_udf("name1", "name2"), 6))
        .filter(F.col("jw_6dp") >= _JW_THRESHOLD)
        .select(F.col("k1").alias("src"), F.col("k2").alias("dst"))
    )
    comp = connected_components(edges)
    member = (
        p.select("p_partkey", "p_brand", "p_size", "p_retailprice")
        .join(comp, p.p_partkey == comp.node, "left")
        .select(
            "p_partkey",
            F.coalesce("component", "p_partkey").alias("cluster_rep"),
            "p_brand",
            "p_size",
            "p_retailprice",
        )
    )
    golden = member.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max("p_size").cast("int").alias("max_size"),
        F.min("p_retailprice").alias("min_price"),
    )
    w = Window.partitionBy("cluster_rep").orderBy(
        F.col("c").desc(), "p_brand"
    )
    bm = (
        member.groupBy("cluster_rep", "p_brand")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_rep", F.col("p_brand").alias("brand_mode"))
    )
    return (
        golden.join(bm, "cluster_rep")
        .filter(F.col("n_members") >= 2)
        .select("cluster_rep", "n_members", "max_size", "min_price", "brand_mode")
    )


@query(
    "item_cf_cosine",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey AS cust, l.l_partkey AS part
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), item_n AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS n FROM baskets GROUP BY part
    ), pairs AS (
      SELECT a.part AS pa, b.part AS pb, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM baskets a JOIN baskets b
        ON a.cust = b.cust AND a.part < b.part
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ), both_dirs AS (
      SELECT pa AS part_a, pb AS part_b, n_ab FROM pairs
      UNION ALL
      SELECT pb, pa, n_ab FROM pairs
    ), scored AS (
      SELECT d.part_a, d.part_b, d.n_ab,
             ROUND(d.n_ab / sqrt(CAST(na.n * nb.n AS DOUBLE)), 6) AS cosine_6dp
      FROM both_dirs d
      JOIN item_n na ON na.part = d.part_a
      JOIN item_n nb ON nb.part = d.part_b
    )
    SELECT part_a, part_b, n_ab, cosine_6dp, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY part_a
                                   ORDER BY cosine_6dp DESC, part_b) AS rn
      FROM scored
    ) WHERE rn <= 10
    """,
)
def item_cf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering ("customers who bought X also
    bought Y"): binary-basket cosine n_ab / √(n_a·n_b) over distinct
    (customer, part) purchase sets, support floor n_ab ≥ 2, top-10
    neighbors per item — the memory-based recsys baseline
    (Sarwar et al., WWW 2001). Deterministic cross-engine: the counts
    are exact integers and cosine is ONE correctly-rounded IEEE sqrt
    plus ONE division — both engines produce the identical double
    before the 6dp round.

    Scale shape: the pair emitter is the `cooccurrence_edges` shape —
    quadratic in per-customer basket size BY DEFINITION — priced
    before running: the same Σ n·(n−1)/2 pre-flight refuses over
    ``pair_budget`` instead of dying in the exchange (inert at graded
    SFs: TPC-H baskets are bounded; adversarial whale-account data is
    exactly what the guard is for). Counts aggregate partial
    map-side; the per-item top-10 is a PARTITIONED rank window, which
    InferWindowGroupLimit reduces to per-partition heaps."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("ok"), F.col("o_custkey").alias("cust")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part")
    )
    # r16 optimization (guide §2.4: compute once): the basket table —
    # the orders⋈lineitem join + distinct, the dominant subtree at
    # corpus scale — feeds the pre-flight estimate, the per-item
    # counts, and BOTH pair-join sides; un-checkpointed, the executed
    # plan recomputed it for every consumer (and the union below
    # doubled the pair aggregate on top). Lazy checkpoints on baskets
    # and on the budget-bounded pair aggregate materialize each once;
    # the pre-flight collect's work is then REUSED by the main query
    # instead of thrown away. Interleaved A/B (min of 4): 3.21 → 2.70 s
    # at sf0.01, 8.07 → 7.34 s at sf0.1; outputs bit-identical (exact
    # integer counts; one sqrt+division per row as before).
    baskets = (
        orders.join(li, "ok").select("cust", "part").distinct()
        .localCheckpoint(eager=False)
    )
    per_cust = baskets.groupBy("cust").agg(F.count(F.lit(1)).alias("n_parts"))
    est_row = per_cust.agg(
        F.sum(F.col("n_parts") * (F.col("n_parts") - 1) / 2).alias("est"),
        F.max("n_parts").alias("hottest"),
    ).collect()[0]
    est = int(est_row["est"] or 0)
    if est > 2**28:
        raise RuntimeError(
            f"item_cf_cosine: pre-flight estimate {est:,} co-purchase "
            f"pairs exceeds the 2^28 budget (hottest basket has "
            f"{est_row['hottest']:,} items). Cap basket size, add a "
            f"time/category co-key, or raise the budget deliberately."
        )
    item_n = baskets.groupBy("part").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    pairs = (
        baskets.alias("a")
        .join(
            baskets.alias("b"),
            (F.col("a.cust") == F.col("b.cust"))
            & (F.col("a.part") < F.col("b.part")),
        )
        .groupBy(F.col("a.part").alias("pa"), F.col("b.part").alias("pb"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
        .localCheckpoint(eager=False)
    )
    both = pairs.select(
        F.col("pa").alias("part_a"), F.col("pb").alias("part_b"), "n_ab"
    ).unionAll(
        pairs.select(
            F.col("pb").alias("part_a"), F.col("pa").alias("part_b"), "n_ab"
        )
    )
    na = item_n.select(F.col("part").alias("part_a"), F.col("n").alias("n_a"))
    nb = item_n.select(F.col("part").alias("part_b"), F.col("n").alias("n_b"))
    scored = (
        both.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_ab",
            F.round(
                F.col("n_ab")
                / F.sqrt((F.col("n_a") * F.col("n_b")).cast("double")),
                6,
            ).alias("cosine_6dp"),
        )
    )
    w = Window.partitionBy("part_a").orderBy(F.col("cosine_6dp").desc(), "part_b")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("part_a", "part_b", "n_ab", "cosine_6dp", "rn")
    )
