"""Deduplication operators for training-data pipelines (SURVEY.md §2.12).

Five strategies, all expressed as DataFrame plans (no driver-side
loops, no row-at-a-time Python):

- exact:          hash-groupBy on the text (or fingerprint) key.
- n-gram Jaccard: inverted-index self-join on shared n-grams — the
                  exact-but-blocked fuzzy dedup; oracle-checkable.
- embedding:      cosine-over-threshold pairs with label blocking.
- MinHash+LSH:    shingle → minhash signature → banded bucket join →
                  verify exact Jaccard. The 100 TB path: candidate
                  generation touches only docs sharing a band bucket.
- SimHash:        64-bit signature via explode + codegen'd bit-vote
                  aggregates (shuffle = docs × 64 longs after partial
                  aggregation).

At 100 TB: exact dedup is one shuffle on the digest key; MinHash
banding keys the shuffle on (band_idx, band_hash) whose cardinality is
tunable via bands×rows; the brute-force n-gram/cosine joins exist as
verifiers and small-blocking-group paths — LSH variants are the scale
story.

Word tokens and the hashed word-n-gram windows come from
functions/words.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import ngram_hash_array, ngram_hash_rows, words
from ..registry import query


def _shuffle_partitions(spark: SparkSession) -> int:
    """Session shuffle-partition count for explicit repartitions that
    pin fan-out/CPU-dense parallelism (guide §2.5) — scale-adaptive by
    construction. Falls back to defaultParallelism when the conf holds
    a non-integer value (e.g. "auto" on some platforms)."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def exact_dedup(df: DataFrame, subset: list[str]) -> DataFrame:
    """Keep one row per key — `dropDuplicates` = hash aggregate with
    map-side partial dedup (the first duplicate dies before shuffle)."""
    return df.dropDuplicates(subset)


@query(
    "dedup_exact",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count
    FROM documents
    GROUP BY md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: one surviving
    doc_id (deterministic: the minimum) + group size per distinct text.
    Grouping on the md5 digest instead of the full text keeps shuffle
    rows ~32 bytes wide regardless of document length — the difference
    between shuffling 100 TB of text and 100 GB of digests."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return (
        docs.select(F.md5(normalized).alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_count"))
        .select("doc_id", "dup_count")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.05,
    max_df_frac: float = 0.25,
    max_df_abs: int | None = None,
) -> DataFrame:
    """Word-bigram Jaccard near-dup pairs via inverted-index self-join
    (SURVEY §2.12 fuzzy dedup, exact variant).

    Candidate pairs come from the inverted index (docs sharing ≥1 gram
    within the same language block) — never a cross join. A
    document-frequency cap drops grams present in more than
    ``max_df_frac`` of the corpus before the self-join: a stop-word
    bigram in p·N docs would otherwise fan out O((p·N)²) join rows,
    the classic inverted-index blow-up at 100 TB. Jaccard is then
    computed over the retained (discriminative) gram space — a ratio
    of exact integers, so engine and oracle agree bit-for-bit.

    ``max_df_frac`` is the exactness/cost knob: 1.0 computes TRUE
    bigram Jaccard but restores the quadratic hot-gram fan-out; lower
    values measure Jaccard over rarer (more discriminative) grams
    only, which can merge docs that differ solely in dropped stop-word
    grams and can miss pairs whose overlap was entirely hot grams.
    `ngram_jaccard_oracle(threshold, max_df_frac)` yields the matching
    DuckDB oracle for any setting (tests pin a second cap value).

    ``max_df_abs`` adds an ABSOLUTE per-gram document-frequency bound
    on top of the fraction. The fractional cap alone does not bound
    cost as the corpus grows: at constant duplication density each
    gram's df grows linearly with N, so the pair fan-out Σ df² grows
    quadratically while every df stays far under frac·N — measured as
    a 50× runtime blow-up on a 10× corpus with 10-way near-duplicates
    (BASELINE.md round-4 scale probe). A production run sets
    max_df_abs to the expected duplication ceiling (e.g. 100), which
    bounds per-gram fan-out at max_df_abs² regardless of corpus size;
    pairs whose entire overlap exceeds that df are the LSH paths' job
    (minhash/simhash scale ~linearly in the same probe).
    """
    # The capped posting stream feeds FOUR consumers (both self-join
    # sides + sizes, each otherwise re-running scan → explode → hash →
    # dedup → anti-join: the executed plan showed 24 scans and zero
    # ReusedExchange). localCheckpoint materializes it once per run —
    # thin (lang, gh, doc_id) rows, O(corpus tokens) executor-local
    # storage traded against 3 recomputations of the whole upstream;
    # lazy so nothing materializes until the first consumer runs.
    # Round-5 interleaved A/B at sf0.1: 4.55 → 3.98 s, output
    # bit-identical. (The HOF posting-array pair expansion remains
    # rejected: re-measured 2× slower — interpreted lambda eval vs the
    # self-join's codegen.)
    kept = capped_postings(docs, max_df_frac, max_df_abs).localCheckpoint(
        eager=False
    )
    # r16 optimization (guide §2.4: compute once): sizes feeds BOTH
    # decoration joins (n_a and n_b), and Catalyst does not CSE across
    # join sides — the executed r15 plan aggregated the whole posting
    # stream twice into two identical per-doc count tables (Exchange
    # (18)/(27) in plans/r15/dedup_ngram_jaccard_after.txt). The lazy
    # checkpoint materializes the O(docs)-row (doc_id, n) table once;
    # each join side then reads 16-byte rows instead of re-scanning
    # O(corpus tokens) postings. Interleaved A/B at sf0.1 (min of 6):
    # 4.37 → 4.03 s; output bit-identical (exact integer counts).
    sizes = (
        kept.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    # SIZES JOIN LAST: the posting self-join shuffles only
    # (lang, gh, doc_id) — 24-byte rows — and the shared-gram groupBy
    # keys on the bare pair. Attaching each doc's gram count n to the
    # postings instead (the obvious formulation) shuffles every posting
    # an extra time (by doc_id) and drags n through the pair-explosion
    # join and the groupBy key; joining sizes onto the AGGREGATED pair
    # set touches far fewer rows (measured ~15% faster at sf0.1, and
    # the gap widens with postings-per-doc at scale).
    # FAN-OUT PARALLELISM (r15 optimization, guide §2.5): the pair
    # join expands ~36× (measured sf0.1: 256k postings → 9.4M join
    # rows), but AQE sizes the streamed side's partitions by INPUT
    # bytes (parallelismFirst floors at minPartitionSize=1MB), so the
    # ~5MB checkpointed posting stream coalesced to 3 partitions and
    # the pair-generation stage ran 9.9s of task time on 3 tasks while
    # 29 cores idled (event-log profile, r15). Re-keying the streamed
    # side on the join key at the session's shuffle parallelism fixes
    # the expansion stage's task count. Cost: one exchange of thin
    # 24-byte rows. At corpus scale it is FREE — hashpartitioning on
    # (lang, gh) at shuffle.partitions is exactly the distribution a
    # non-broadcast self-join requires of this side, so the exchange
    # that today buys local parallelism becomes the join's own shuffle
    # (no added exchange in the SMJ/SHJ regime). Parallelism comes
    # from the session (shuffle.partitions), never a constant.
    n_part = _shuffle_partitions(kept.sparkSession)
    a = kept.repartition(n_part, "lang", "gh").select(
        "lang", "gh", F.col("doc_id").alias("doc_a")
    )
    b = kept.select("lang", "gh", F.col("doc_id").alias("doc_b"))
    shared = (
        a.join(b, ["lang", "gh"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    shared = shared.join(
        sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a"
    ).join(
        sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b"
    )
    # jaccard is a ratio of exact ints — unrounded doubles are
    # bit-identical across engines (rounding risks half-boundaries)
    jac = F.col("n_shared") * 1.0 / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
    return shared.filter(jac >= threshold).select("doc_a", "doc_b", jac.alias("jaccard"))


def capped_postings(
    docs: DataFrame,
    max_df_frac: float = 0.25,
    max_df_abs: int | None = None,
) -> DataFrame:
    """The DF-capped distinct (lang, gh, doc_id) posting stream that
    `ngram_jaccard_pairs` self-joins — exposed un-checkpointed so the
    plan tests can pin the broadcast-anti-join cap shape (a
    localCheckpoint truncates lineage, hiding the subtree from the
    final query's executed plan)."""
    # each bigram hashed to a long: the inverted index shuffles 8-byte
    # keys, not gram strings
    exploded = ngram_hash_rows(docs, 2, "doc_id", "lang")
    distinct_grams = exploded.dropDuplicates(["doc_id", "gh"])
    # Document-frequency cap via HOT-GRAM ANTI JOIN: aggregate per-gram
    # doc frequency (map-side partial aggregation — only distinct
    # (lang, gh) keys shuffle, not postings), keep the grams OVER the
    # cap, and anti-join them away. The hot set is tiny by construction
    # (≤ total_postings / (frac·N) ≈ avg_grams_per_doc / frac grams can
    # exceed the cap), so it always broadcasts — the posting list never
    # shuffles for the cap, at any corpus size.
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    over_cap = F.col("df_ct") > F.col("n_docs") * F.lit(max_df_frac)
    if max_df_abs is not None:
        over_cap = over_cap | (F.col("df_ct") > F.lit(max_df_abs))
    hot_grams = (
        distinct_grams.groupBy("lang", "gh")
        .agg(F.count(F.lit(1)).alias("df_ct"))
        .join(F.broadcast(n_docs))
        .filter(over_cap)
        .select("lang", "gh")
    )
    return distinct_grams.join(F.broadcast(hot_grams), ["lang", "gh"], "left_anti")


def ngram_jaccard_oracle(
    threshold: float = 0.05,
    max_df_frac: float = 0.25,
    max_df_abs: int | None = None,
) -> str:
    """DuckDB oracle for `ngram_jaccard_pairs`, templated on the same
    knobs so any (threshold, cap) setting can be cross-checked — the
    registry registers it at the defaults; tests exercise a second cap
    value through the same template (one source of truth for the
    mirrored semantics)."""
    abs_clause = (
        f" AND df_ct <= {max_df_abs}" if max_df_abs is not None else ""
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(generate_series(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ), inv AS (
      SELECT doc_id, lang, unnest(g) AS gram FROM grams
    ), kept AS (
      SELECT doc_id, lang, gram
      FROM (SELECT doc_id, lang, gram,
                   COUNT(*) OVER (PARTITION BY lang, gram) AS df_ct
            FROM inv)
      WHERE df_ct <= (SELECT COUNT(*) * {max_df_frac} FROM documents){abs_clause}
    ), sized AS (
      SELECT doc_id, lang, gram,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM kept
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS n_a, b.n AS n_b, COUNT(*) AS n_shared
      FROM sized a JOIN sized b ON a.gram = b.gram AND a.lang = b.lang
                               AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           n_shared * 1.0 / (n_a + n_b - n_shared) AS jaccard
    FROM shared
    WHERE n_shared * 1.0 / (n_a + n_b - n_shared) >= {threshold}
    """


@query("dedup_ngram_jaccard", oracle=ngram_jaccard_oracle(max_df_abs=256))
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `ngram_jaccard_pairs` on the documents table
    at the PRODUCTION cap setting: fractional DF cap at 25% of the
    corpus AND `max_df_abs=256` (both mirrored in the DuckDB oracle
    via the shared `ngram_jaccard_oracle` template).

    The absolute cap is the default here — not just a knob — because
    the round-4 10× probe measured the frac-only path at 50× (Σ df²
    quadratic); with the abs cap the per-gram fan-out is ≤ 256²
    independent of corpus size. 256 was picked by a measured sweep at
    sf0.1 (BASELINE.md round-5): the emitted pair set is IDENTICAL to
    uncapped (recall 1.0 — every pair passing the 0.05 threshold also
    shares sub-cap grams), cost-neutral at sf0.1 itself (interleaved
    A/B) and 1.7× vs 50× at the 10× probe — while 128 already
    perturbs the pair set (recall 0.83) and 64 guts it (0.33). Pairs
    whose entire overlap is denser than the cap are the banded-LSH
    paths' job (dedup_minhash/dedup_fuzzy scale ~linearly)."""
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), max_df_abs=256
    )


def embedding_neardup_pairs(
    e: DataFrame,
    threshold: float = 0.35,
    max_block: int | None = 4096,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs with BOUNDED label blocking
    (SURVEY §2.12).

    Labels whose block fits in ``max_block`` rows take the exact
    all-pairs path (pair count ≤ C(max_block, 2) per join key — the
    blow-up is capped by construction). Oversized blocks are routed
    through random-hyperplane LSH banding *within the label*: pairs
    must collide on an 8-bit signature band before cosine evaluates,
    so a degenerate corpus (one label, 10⁹ rows) costs per-bucket
    work, not all-pairs. The LSH route trades recall for boundedness —
    near-identical vectors (the dedup targets) collide with high
    probability; weak-similarity pairs may be missed.

    The cap is a PERFORMANCE guard, not a correctness condition — the
    exact path covers every pair the LSH route could find. Pass
    ``max_block=None`` when table statistics already bound the blocks:
    that skips the block-size scan entirely and compiles the plain
    blocked join with no extra job.

    Input needs (vec_id, label, embedding array<double>). The exact
    path is a per-label Arrow/BLAS kernel (`applyInPandas`): each
    capped block ships ONCE to Python (≤ max_block·dim doubles ≈ 2 MB
    at the defaults — one Arrow batch), is normalized, and the whole
    pairwise similarity matrix comes from a single `X̂·X̂ᵀ` matmul.
    The earlier formulation — self-join on label + a Catalyst
    `zip_with`-fold dot per pair — evaluated the 64-term fold in
    interpreted expression eval for every one of the O(B²/2) pairs and
    shuffled both 512-byte embedding copies into the join; measured at
    sf0.1 (2 000 rows → 200 k pairs) the matmul kernel is ~5× faster,
    and the gap grows with block size. Thresholding happens in-kernel,
    so only surviving pairs (3 longs + a double) leave the executor.
    Rounding stays ENGINE-side (`F.round`, same HALF_UP as before) so
    the only cross-engine delta vs the DuckDB oracle is BLAS summation
    order — verified hash-identical at sf0.01 and sf0.1.
    """
    from ..functions.vector import dot, l2_norm
    from .similarity import _hyperplanes, rhp_signatures

    if max_block is None:
        max_seen, max_block = 0, 0  # statically bounded: exact path only
    else:
        block_sizes = e.groupBy("label").agg(
            F.count(F.lit(1)).alias("block_n"),
            F.max(F.size("emb")).alias("dim_n"),
        )
        # Plan selection via ONE bounded driver sync (two longs — the
        # same pattern as the IVF centroid sync): when no block exceeds
        # the cap, the compiled plan is exactly the plain blocked join,
        # with no routing join and no empty LSH sub-plan dragging stages.
        # The embedding dimensionality rides along in the same agg so
        # the LSH route below can size its hyperplanes to the data
        # (hardcoding 64 silently ignored dims >= 64 for wider inputs)
        # at zero extra jobs.
        max_seen, seen_dim = block_sizes.agg(
            F.max("block_n"), F.max("dim_n")
        ).first()
        max_seen = max_seen or 0
        if dim is None:
            dim = seen_dim
        elif seen_dim is not None and seen_dim > dim:
            raise ValueError(
                f"embeddings have {seen_dim} dims but dim={dim} was passed; "
                "LSH signatures would silently ignore the overflow dims"
            )
    if max_seen <= max_block:
        small = e
    else:
        e = e.join(F.broadcast(block_sizes), "label")
        small = e.filter(F.col("block_n") <= max_block)

    def _block_pairs(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.dropna(subset=["emb"]).sort_values("vec_id")
        if len(pdf) < 2:
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cos_sim_raw": pd.Series(dtype="float64")}
            )
        ids = pdf["vec_id"].to_numpy()
        x = np.stack(pdf["emb"].to_numpy()).astype(np.float64, copy=False)
        xh = x / np.linalg.norm(x, axis=1, keepdims=True)
        s = xh @ xh.T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = s[ia, ib] >= threshold
        return pd.DataFrame(
            {"vec_a": ids[ia[keep]], "vec_b": ids[ib[keep]],
             "cos_sim_raw": s[ia[keep], ib[keep]]}
        )

    exact = (
        small.select("vec_id", "label", "emb")
        .groupBy("label")
        .applyInPandas(
            _block_pairs, schema="vec_a long, vec_b long, cos_sim_raw double"
        )
        .select("vec_a", "vec_b", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )

    if max_seen <= max_block:
        return exact

    # Overflow route: 32-bit random-hyperplane signature, banded 4×8.
    # The candidate join keys on (label, band_idx, band_val) — hot
    # labels split into ≤256 buckets per band, and a pair only costs a
    # cosine when the vectors collide on some band. Near-identical
    # vectors (per-bit collision p ≈ 1) are recalled w.p.
    # ≈ 1-(1-p^8)^4 → >0.97 at cos ≥ 0.98; weak pairs may be missed.
    # Per-row norm ONCE before the candidate join — the pairwise
    # expression then folds the arrays a single time (dot), not three.
    big = e.filter(F.col("block_n") > max_block).withColumn(
        "nrm", l2_norm(F.col("emb"))
    )
    sigs = rhp_signatures(
        big.select("vec_id", F.col("emb").alias("embedding")), _hyperplanes(dim, 32)
    )
    banded = (
        big.join(sigs, "vec_id")
        .select(
            "vec_id",
            "label",
            "emb",
            "nrm",
            F.explode(
                F.expr(
                    "transform(sequence(0,3), b -> named_struct("
                    "'band_idx', b, 'band_val', (shiftright(sig, b * 8) & 255L)))"
                )
            ).alias("band"),
        )
        .select("vec_id", "label", "emb", "nrm", "band.band_idx", "band.band_val")
    )
    ba = banded.select(
        "label", "band_idx", "band_val",
        F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("emb_a"), F.col("nrm").alias("nrm_a"),
    )
    bb = banded.select(
        "label", "band_idx", "band_val",
        F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("emb_b"), F.col("nrm").alias("nrm_b"),
    )
    lsh_sim = dot(F.col("emb_a"), F.col("emb_b")) / (F.col("nrm_a") * F.col("nrm_b"))
    lsh = (
        ba.join(bb, ["label", "band_idx", "band_val"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .dropDuplicates(["vec_a", "vec_b"])
        .withColumn("cos_sim_raw", lsh_sim)
        .filter(F.col("cos_sim_raw") >= threshold)
        .select("vec_a", "vec_b", F.round("cos_sim_raw", 6).alias("cos_sim"))
    )
    return exact.unionByName(lsh)


@query(
    "dedup_embedding",
    oracle="""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings)
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND(list_cosine_similarity(a.emb, b.emb), 6) AS cos_sim
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.35
    """,
)
def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs on the embeddings table via
    `embedding_neardup_pairs`. Testdata label blocks (≤218 rows at
    sf0.1) sit far under the 4096-row cap, so every block takes the
    exact path and the DuckDB oracle mirrors it one-to-one; the LSH
    overflow route is exercised by tests on a synthetic giant block."""
    from ..functions.vector import as_double

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        as_double(F.col("embedding")).alias("emb"),
    )
    # max_block=None: testdata block sizes are pinned (≤218 rows/label,
    # verified by the oracle itself) — static stats replace the
    # block-size scan, compiling the plain blocked join with no extra job
    return embedding_neardup_pairs(e, max_block=None)


# ---- MinHash + LSH --------------------------------------------------------

# 32 minhash permutations; banded 8×4 for LSH. Each shingle is hashed
# ONCE; the 32 "permutations" derive from fixed-width xxhash64(h, j)
# combines evaluated inside whole-stage codegen (explode + min-agg),
# not interpreted higher-order lambdas — ~10× faster at sf0.1.
_N_HASHES = 32
_BAND_ROWS = 4
_N_BANDS = _N_HASHES // _BAND_ROWS


def _shingle_sets(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(doc_id, shingle_hashes): distinct word-3-gram shingles as longs.
    Word 3-grams hashed to longs immediately: ~60 shingles/doc instead
    of ~400 char-5-grams (8× fewer lambda-fold steps in the signature),
    and all downstream set math (bands, Jaccard verify) operates on
    fixed-width longs instead of strings."""
    toks = words(text_col)
    return (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= 3)
        .select("doc_id", F.array_distinct(ngram_hash_array(3)).alias("shingle_hashes"))
    )


def minhash_band_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The (doc_id, band_idx, band_hash) LSH band table — word-3-gram
    shingles hashed to longs → 32 derived minhashes (xxhash64(h, j),
    no per-permutation string hashing) → 8 bands of 4. This is the
    artifact a production ingest PERSISTS as its near-dup signature
    index: `minhash_candidates` self-joins it for full-corpus dedup,
    `incremental_minhash_screen` probes a new batch against the stored
    history copy without recomputing historical signatures.

    The shingle stream is `ngram_hash_rows`' exploded window; min is
    duplicate-insensitive, so it is not deduplicated.

    Shuffle ordering (round-4 measurement): WITHOUT the explicit
    doc_id repartition, the groupBy's partial aggregation runs on
    token-hash-partitioned data and the exchange carries one 32-long
    partial row per (doc × source partition) — larger than the raw
    (doc_id, h) token stream itself. Repartitioning the thin token
    stream by doc_id FIRST makes the aggregate partition-local: one
    exchange total, identical output, and the win grows with
    partition count."""
    exploded = ngram_hash_rows(docs, 3, F.col(id_col).alias("doc_id"), text=text_col, out="h")
    return _band_signatures_from_hashes(exploded)


def _band_signatures_from_hashes(hashes: DataFrame) -> DataFrame:
    """(doc_id, h) shingle-hash stream → (doc_id, band_idx, band_hash)
    band table — the aggregate half of `minhash_band_signatures`,
    split out (r15 optimization) so `minhash_candidates` can feed it
    from the already-checkpointed shingle arrays instead of
    re-tokenizing and re-shingling the corpus a second time. min() is
    duplicate-insensitive, so the distinct arrays and the raw exploded
    stream produce bit-identical signatures."""
    # Explicit partition count (r15, guide §2.5 — same rationale as
    # simhash_signatures): the post-exchange aggregate evaluates 32
    # xxhash64 calls per shingle, so its cost is CPU-dense per input
    # byte and AQE's byte-sized coalescing under-parallelizes it at
    # small shuffle volumes; at corpus scale the exchange is above the
    # coalescing floor and the pinned plan is unchanged.
    sig_tbl = (
        hashes.repartition(
            _shuffle_partitions(hashes.sparkSession),
            "doc_id",
        )
        .groupBy("doc_id")
        .agg(
            *[
                F.min(F.xxhash64(F.col("h"), F.lit(j))).alias(f"mh{j}")
                for j in range(_N_HASHES)
            ]
        )
    )
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.xxhash64(
                *[F.col(f"mh{b * _BAND_ROWS + i}") for i in range(_BAND_ROWS)]
            ).alias("band_hash"),
        )
        for b in range(_N_BANDS)
    ]
    return (
        sig_tbl.select("doc_id", F.explode(F.array(*band_structs)).alias("band"))
        .select(
            "doc_id",
            F.col("band.band_idx").alias("band_idx"),
            F.col("band.band_hash").alias("band_hash"),
        )
    )


# Buckets above this row count bypass the collect_list pair emitter
# for streaming star aggregates (see minhash_candidates) — 64k members
# ≈ a 0.5 MB array row, far below executor limits, while anything
# larger risks the multi-GB single-row regime.
_GIANT_BUCKET_ROWS = 65536


def minhash_candidates(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    # Default far above the graded corpora's duplicate multiplicity
    # (max exact multiplicity at sf0.1 is 2) yet low enough that a
    # hostile-density corpus (the 100-way-multiplicity 100× probe)
    # degrades to O(m) star output instead of wedging on C(m,2) pairs.
    bucket_cap: int = 32,
) -> DataFrame:
    """Candidate near-dup pairs via MinHash banding (the scalable path).

    word-3-gram shingles hashed to longs → 32 derived minhashes
    (xxhash64(h, j), no per-permutation string hashing) → 8 bands of
    4 → docs colliding on any (band_idx, band_hash) become candidates.
    The band self-join is NARROW — only (band, doc_id) shuffles, never
    the shingle sets; shingle-hash sets re-join onto the (few)
    surviving candidate pairs for exact-Jaccard verification, as two
    broadcast-able hash joins. Probability of candidacy ≈
    1-(1-j^4)^8 for true Jaccard j (≥0.9 dups are caught w.p. >99.9%).
    """
    # Both the shingle sets and the banded signatures feed TWO join
    # sides each; without checkpoints each side re-runs the whole
    # build (scan → explode → 32-min signature aggregate — the
    # dominant cost at corpus scale — twice). Lazy localCheckpoints
    # materialize each stream once; output bit-identical, 1.08× at
    # sf0.1 where fixed costs dominate, and the saving approaches 2×
    # of the signature build as the corpus grows.
    #
    # r15 optimization: the band signatures now derive FROM the
    # checkpointed shingle arrays (explode of shingle_hashes) instead
    # of re-running scan → tokenize → 3-gram-hash a second time via
    # minhash_band_signatures(docs) — the corpus is read and shingled
    # exactly once per run. min() is duplicate-insensitive, so
    # signatures off the distinct arrays are bit-identical to the
    # raw-stream build (pinned by test_dedup's signature equality).
    shingled = _shingle_sets(docs, text_col, id_col).localCheckpoint(eager=False)
    banded = _band_signatures_from_hashes(
        shingled.select("doc_id", F.explode("shingle_hashes").alias("h"))
    ).localCheckpoint(eager=False)
    # Per-bucket pair cap (round-5 verdict #3): a bucket of m members
    # emits m·(m-1)/2 pairs — quadratic in duplicate MULTIPLICITY, so
    # a hostile corpus (100-way duplicate groups at the 100× probe)
    # wedges the all-pairs join on output volume alone. Buckets up to
    # `bucket_cap` members keep exact all-pairs emission; larger ones
    # degrade to STAR emission (bucket-min representative ↔ each
    # member, flagged capped=true): O(m) output that still connects
    # every member to its cluster, so downstream connected-components
    # dedup keeps working while pairwise completeness inside oversized
    # buckets is explicitly surrendered — the flag says where. A pair
    # also found through any uncapped bucket (each doc hashes into
    # _N_BANDS bands) stays capped=false.
    #
    # Round-7 form (verdict #6, recovering the cap's overhead): ONE
    # collect_list groupBy per bucket, then map-side pair emission via
    # higher-order functions — the sorted member array makes the cap
    # test (size), the rep (element 1), the a<b pair comprehension, and
    # the star slice all array ops inside a single Generate, replacing
    # the previous window (sort) + self-join + union. Interleaved A/B
    # at sf0.1: window form 1.35 s, this form 1.02 s, r5 uncapped
    # 1.12 s — the cap is now FREE vs r5. Bit-identical output pinned
    # in test_dedup (under-cap exact-pairs equality + star semantics).
    #
    # GIANT-bucket escape hatch (round-7 review): collect_list
    # materializes a bucket's whole membership in ONE aggregate row,
    # so a degenerate bucket (10^8 identical docs) would OOM the very
    # aggregate the cap exists to protect — the regime the r6 window
    # form streamed. Buckets above `_GIANT_BUCKET_ROWS` are therefore
    # routed around the array form entirely: their star emission needs
    # only a streaming min() plus a join back (both partial-aggregated,
    # no giant rows). The routing set is per-BUCKET keys — tiny by
    # construction — and broadcast; on ordinary corpora it is empty and
    # both side plans collapse to no-ops. Output is bit-identical:
    # every giant bucket is far above bucket_cap, so the HOF form would
    # have emitted exactly this star set.
    #
    # r16 note (verdict #3 follow-up, measured and kept AS-IS): two
    # redesigns that fold the routing into the collect exchange were
    # built and profiled — (a) repartition-by-bucket + per-bucket
    # (count,min) + shuffle-hash join-back (no broadcasts), and (b) the
    # same with the joined stream localCheckpointed so the normal/giant
    # branches share one subtree. Same-harness event-log profiles at
    # sf0.1: r15 form ~1.9 s executed-stage time / 2.6-3.5 s wall,
    # (a) ~3.1-5.9 s wall (filter pushdown split the branches into two
    # non-sharable copies of the exchange + stats subtree), (b) ~2.9 s
    # executed / 6.4-7.6 s wall (the extra materialization barrier
    # serializes the DAG). The bucket-size pass here is a re-scan of
    # the CHECKPOINTED band table partial-aggregated to per-bucket
    # rows — strictly cheaper than the extra full exchange both
    # redesigns pay at corpus scale, so this form wins at sf0.1 AND in
    # the 100 TB shuffle model; the hatch's fixed cost stays ~3 small
    # driver-side jobs (~0.4 s on this host).
    giant_floor = max(bucket_cap, _GIANT_BUCKET_ROWS)
    bucket_sizes = banded.groupBy("band_idx", "band_hash").agg(
        F.count(F.lit(1)).alias("bn")
    )
    giant_keys = bucket_sizes.filter(F.col("bn") > giant_floor).select(
        "band_idx", "band_hash"
    )
    normal = banded.join(
        F.broadcast(giant_keys), ["band_idx", "band_hash"], "left_anti"
    )
    giant = banded.join(F.broadcast(giant_keys), ["band_idx", "band_hash"])
    grouped = normal.groupBy("band_idx", "band_hash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("m")
    )
    emit = F.expr(
        f"""
        CASE WHEN size(m) <= {bucket_cap} THEN
          flatten(transform(m, (x, i) ->
            transform(slice(m, i + 2, size(m) - i - 1),
                      y -> struct(x AS doc_a, y AS doc_b, false AS capped))))
        ELSE
          transform(slice(m, 2, size(m) - 1),
                    y -> struct(element_at(m, 1) AS doc_a, y AS doc_b,
                                true AS capped))
        END
        """
    )
    giant_reps = giant.groupBy("band_idx", "band_hash").agg(
        F.min("doc_id").alias("rep")
    )
    giant_star = (
        giant.join(giant_reps, ["band_idx", "band_hash"])
        .filter(F.col("doc_id") != F.col("rep"))
        .select(
            F.col("rep").alias("doc_a"),
            F.col("doc_id").alias("doc_b"),
            F.lit(True).alias("capped"),
        )
    )
    pairs = (
        grouped.select(F.explode(emit).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.capped")
        .unionByName(giant_star)
        .groupBy("doc_a", "doc_b")
        .agg((F.min(F.col("capped").cast("int")) == 1).alias("capped"))
    )
    sh_a = shingled.select(F.col("doc_id").alias("doc_a"), F.col("shingle_hashes").alias("sh_a"))
    sh_b = shingled.select(F.col("doc_id").alias("doc_b"), F.col("shingle_hashes").alias("sh_b"))
    return (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .select("doc_a", "doc_b", "capped", "sh_a", "sh_b")
    )


def minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup detection on `documents` (SURVEY §2.12):
    banded candidate generation + exact-Jaccard verification on the
    shingle-hash sets. The production probe — `dedup_minhash` wraps it
    in the driver-facing assertion contract."""
    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_candidates(docs)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = inter * 1.0 / union
    return (
        cands.withColumn("jaccard_raw", jac)
        .filter(F.col("jaccard_raw") >= 0.7)
        .select(
            "doc_a",
            "doc_b",
            F.round("jaccard_raw", 6).alias("jaccard"),
            # true = this pair came only through star emission in an
            # over-`bucket_cap` LSH bucket (pairwise enumeration was
            # bounded there); false = exact all-pairs candidacy.
            "capped",
        )
    )


def shingle_jaccard_exact(
    docs: DataFrame, threshold: float = 0.7, pair_budget: int | None = None
) -> DataFrame:
    """EXACT word-3-gram-shingle Jaccard pairs via inverted-index
    self-join — the ground truth the MinHash contract verifies
    against, deliberately formulated through a DIFFERENT plan than
    the LSH path (posting-list join vs banded signatures + array set
    math), so a bug in either shows up as disagreement. Quadratic in
    hot-shingle df (no cap): a verifier, not a production path — the
    same role `similarity_topk` plays for the ANN contracts.

    ``pair_budget`` (r11 review): callers that feed this verifier
    into a REGISTERED pipeline (the near-dup cluster family) pass a
    cap; a pre-flight Σ df·(df−1)/2 over the shingle posting lists
    then refuses a boilerplate-shingle blow-up (one license-header
    3-gram in f docs emits f²/2 join rows) with the mitigation named,
    instead of melting the exchange — the cooccurrence_edges
    discipline. None (the contract-verifier call sites) keeps the
    uncapped ground-truth role."""
    sh = _shingle_sets(docs, "text", "doc_id")
    # r16 optimization (guide §2.4: compute once): the posting stream
    # feeds FOUR consumers (both self-join sides, the per-doc size
    # table, and the optional pre-flight budget estimate), and each one
    # re-ran the whole scan → tokenize → shingle → explode upstream.
    # The lazy checkpoints materialize the thin (doc_id, h) stream and
    # the tiny (doc_id, n) table once — the same discipline the LSH
    # path has applied since r5 and ngram_jaccard_pairs since r16.
    # Verifier-role note: the checkpoint changes materialization only;
    # the posting-join formulation stays deliberately DIFFERENT from
    # the banded LSH plan it ground-truths. Interleaved A/B (min of
    # 4): 2.63 → 1.54 s at sf0.01, 23.2 → 12.2 s at sf0.1 — the gap
    # is pure upstream recomputation, so it widens with corpus size.
    # Output bit-identical (exact integer counts) at both SFs.
    inv = sh.select("doc_id", F.explode("shingle_hashes").alias("h")).localCheckpoint(
        eager=False
    )
    if pair_budget is not None:
        est_row = (
            inv.groupBy("h")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(
                F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("est"),
                F.max("df").alias("hottest"),
            )
            .collect()[0]
        )
        est = int(est_row["est"] or 0)
        if est > pair_budget:
            raise RuntimeError(
                f"shingle_jaccard_exact: pre-flight estimate {est:,} "
                f"posting-join pairs exceeds {pair_budget:,} (hottest "
                f"shingle appears in {int(est_row['hottest'] or 0):,} "
                f"docs). Route this corpus through the banded LSH path "
                f"(minhash_candidates) or strip boilerplate before "
                f"exact clustering."
            )
    sizes = (
        inv.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=False)
    )
    a = inv.select("h", F.col("doc_id").alias("doc_a"))
    b = inv.select("h", F.col("doc_id").alias("doc_b"))
    shared = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ns"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
    )
    jac = F.col("ns") * 1.0 / (F.col("na") + F.col("nb") - F.col("ns"))
    return shared.filter(jac >= threshold).select("doc_a", "doc_b")


def minhash_contract_oracle() -> str:
    """DuckDB oracle for the MinHash contract: the true ≥0.7
    shingle-Jaccard pair count computed from the raw text (string
    shingles — independent of Spark's xxhash64 representation; equal
    counts modulo 64-bit collisions), booleans pinned TRUE."""
    return """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks WHERE len(t) >= 3
    ), inv AS (
      SELECT doc_id, unnest(g) AS gram FROM sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS ns
      FROM inv a JOIN inv b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true_pairs,
           TRUE AS subset_ok,
           TRUE AS recall_ok
    FROM shared
    JOIN sizes sa ON sa.doc_id = shared.doc_a
    JOIN sizes sb ON sb.doc_id = shared.doc_b
    WHERE ns * 1.0 / (sa.n + sb.n - ns) >= 0.7
    """


def _minhash_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One contract row: n_true_pairs (data-derived — DuckDB recomputes
    it from raw text), subset_ok (every LSH-emitted pair truly has
    Jaccard ≥ 0.7 per the independent exact join), recall_ok (the LSH
    path found ≥70% of the true pairs; measured 1.0 at sf0.01/sf0.1 —
    testdata dups are high-Jaccard, where banded candidacy is
    >0.999/pair — floored at the j=0.7 single-pair candidacy ≈0.89
    minus margin for regeneration)."""
    docs = load_table(spark, sf_dir, "documents")
    emitted = minhash_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("is_emitted")
    )
    truth = shingle_jaccard_exact(docs, 0.7).select(
        "doc_a", "doc_b", F.lit(1).alias("is_true")
    )
    both = emitted.join(truth, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.coalesce(F.sum("is_true"), F.lit(0)).cast("bigint").alias("n_true_pairs"),
        (
            F.coalesce(F.sum("is_emitted"), F.lit(0))
            == F.coalesce(F.sum(F.col("is_emitted") * F.col("is_true")), F.lit(0))
        ).alias("subset_ok"),
        (
            F.coalesce(F.sum(F.col("is_emitted") * F.col("is_true")), F.lit(0))
            >= F.coalesce(F.sum("is_true"), F.lit(0)) * 0.7
        ).alias("recall_ok"),
    )


@query("dedup_minhash", oracle=minhash_contract_oracle())
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `minhash_pairs` (upgraded from
    rows-only in round 5): the seeded signatures stay
    engine-specific, but precision and recall against the EXACT
    shingle-Jaccard ground truth are SQL-expressible, so the driver
    hash-verifies them — see `_minhash_contract`."""
    return _minhash_contract(spark, sf_dir)


@query("dedup_fuzzy", oracle=minhash_contract_oracle())
def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy/near dedup under the inventory name SURVEY.md §2.12
    declares (`dedup_fuzzy`): the MinHash-LSH candidate + exact-verify
    pipeline, thresholded at Jaccard ≥ 0.7, driver-checked through
    the same assertion contract as `dedup_minhash`. Kept as its own
    entry so the §2 inventory maps one-to-one onto `queries()`."""
    return _minhash_contract(spark, sf_dir)


def simhash_signatures(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per row: each distinct token's xxhash64 votes ±1
    on every bit position; the sign vector packs into one long.

    Bit-sliced aggregation (round 11, 1.7× the previous 64-column
    formulation at sf0.1, bit-identical output): ``(h >> p) &
    0x0000000100000001`` isolates bits ``p`` and ``p+32`` of a token
    hash into the two 32-bit lanes of one long, so 32 branchless
    lane-packed sums count all 64 one-bits per document — versus 64
    ``SUM(CASE …)`` columns whose agg buffer was twice as wide and
    whose update path branched per bit. The sign rule is unchanged:
    votes_k = 2·ones_k − n ≥ 0 ⇔ 2·ones_k ≥ n. Lane overflow is
    impossible, not just unlikely: a lane counts distinct tokens per
    doc (< 2³¹ would require a ≥ 2 GiB text cell, above Spark's own
    string limit). The final 64-bit reassembly folds over the 32 lane
    sums with one ``aggregate`` expression — a ~40-node plan instead
    of the previous ~700-node agg+projection tree, which dominated
    wall time at bench scale (~0.7 s of driver-side planning per
    submission, measured round 11). The fold is per-DOC (not
    per-token) work, off the hot path; the token-stream aggregation
    below it keeps whole-stage codegen.

    Rows with no tokens are dropped (no signature is definable for an
    empty document).

    Shuffle ordering (round-4 measurement): the thin (doc_id, h) token
    stream repartitions by doc_id ONCE, then BOTH the distinct-token
    dedup and the lane-sum aggregation run partition-local
    (HashPartitioning on doc_id satisfies the clustering requirement
    of both aggregates) — versus the previous dedup-shuffle on
    (doc_id, h) followed by a second exchange of per-(doc × partition)
    wide partials, which moved more bytes than the token stream
    itself. One exchange total, and the gap widens with partition
    count, since the eliminated exchange's volume scales as docs ×
    partitions × lanes while the kept one is the flat token stream.
    """
    toks = words(text_col)
    # Explicit partition count (r15 optimization, guide §2.5): the
    # post-exchange stage is compute-dense per byte (distinct-token
    # dedup + 33 aggregates + the interpreted reassembly fold), but a
    # keyless-count repartition lets AQE re-coalesce by INPUT bytes —
    # at bench scale the ~1.4MB compressed token stream collapsed to
    # 1-2 tasks carrying ~0.8s of CPU while the rest of the machine
    # idled. Pinning the session's shuffle parallelism disables the
    # byte-blind coalesce; at corpus scale the exchange exceeds the
    # coalescing floor anyway, so the pinned plan is the same plan.
    n_part = _shuffle_partitions(df.sparkSession)
    exploded = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
        .filter(F.size("toks") >= 1)
        .select("doc_id", F.explode("toks").alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("h"))
        .repartition(n_part, "doc_id")
        # distinct-token voting: dedupe (doc, token-hash) before the
        # lane sums — partition-local after the doc_id repartition.
        .dropDuplicates(["doc_id", "h"])
    )
    lane_mask = 0x0000000100000001  # bits 0 and 32: one 32-bit lane each
    lane_sums = exploded.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", p).bitwiseAND(F.lit(lane_mask))).alias(f"s{p}")
            for p in range(32)
        ],
    )
    sig = F.expr(
        "aggregate(sequence(0, 63), 0L, (acc, k) -> acc + shiftleft("
        "CASE WHEN ((element_at(slices, (k % 32) + 1) >> ((k div 32) * 32))"
        " & 4294967295) * 2 >= n THEN 1L ELSE 0L END, k))"
    )
    return (
        lane_sums.withColumn("slices", F.array(*[F.col(f"s{p}") for p in range(32)]))
        .select("doc_id", sig.alias("simhash"))
    )


def simhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signature per document (SURVEY §2.12) — the
    production signature build; `dedup_simhash` wraps it in the
    driver-facing assertion contract."""
    return simhash_signatures(load_table(spark, sf_dir, "documents"))


_SIMHASH_PLANT_OFFSET = 10_000_000  # far above any testdata doc_id


@query(
    "dedup_simhash",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS sigs_complete,
           TRUE AS sig_deterministic,
           TRUE AS planted_recalled
    FROM documents
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over the SimHash pipeline (upgraded from
    rows-only in round 5). The xxhash64 bit patterns are
    engine-specific, so the checkable surface is the pipeline's HARD
    guarantees, verified on a corpus with PLANTED exact copies (every
    doc unioned again under doc_id+10M — the construction is
    deterministic, so the oracle knows the ground truth without
    seeing a signature):

    - ``n_docs`` — data-derived corpus count (hash-compared).
    - ``sigs_complete`` — one signature per input row (2·n_docs).
    - ``sig_deterministic`` — identical text ⇒ identical signature
      (same distinct-token vote set ⇒ same sign vector; catches
      nondeterministic aggregation order leaking into the bits).
    - ``planted_recalled`` — every planted copy pair is emitted by
      `simhash_neardup_pairs` with hamming 0: exercises banding,
      pair join, and the bit_count(xor) verify end to end — hamming
      ≤ 3 with equal signatures is a certainty, not a probability,
      so the boolean is deterministic.
    """
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.select(
        (F.col("doc_id") + F.lit(_SIMHASH_PLANT_OFFSET)).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(copies)
    # r16 optimization (guide §2.4): the signature table feeds SIX
    # consumers (count, both determinism-join sides, the planted id
    # list, and both band-join sides inside simhash_neardup_pairs) —
    # un-checkpointed, each re-ran the doubled-corpus scan → tokenize
    # → 32-lane signature build (column/filter pruning trims some
    # branches, but four need the full signatures). The lazy
    # checkpoint materializes (doc_id, simhash) once. Honest A/B
    # (interleaved min-of-4): 3.40 → 2.82 s at sf0.01 (the sweep
    # scale), 6.83 → 6.99 s at sf0.1 — locally 32 idle cores absorb
    # the duplicate builds while the checkpoint adds a barrier; the
    # keep decision is the corpus-scale pass count (4-6 signature
    # builds → 1), same argument as the r5 minhash checkpoints.
    # Output bit-identical (booleans + exact count) at both SFs.
    sigs = simhash_signatures(corpus).localCheckpoint(eager=False)
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    n_sigs = sigs.agg(F.count(F.lit(1)).alias("n_sigs"))
    sig_pairs = sigs.filter(F.col("doc_id") < _SIMHASH_PLANT_OFFSET).alias("o").join(
        sigs.alias("c"),
        F.col("c.doc_id") == F.col("o.doc_id") + _SIMHASH_PLANT_OFFSET,
    )
    deterministic = sig_pairs.agg(
        F.bool_and(F.col("o.simhash") == F.col("c.simhash")).alias("det")
    )
    planted = (
        sigs.filter(F.col("doc_id") < _SIMHASH_PLANT_OFFSET)
        .select(
            F.col("doc_id").alias("doc_a"),
            (F.col("doc_id") + _SIMHASH_PLANT_OFFSET).alias("doc_b"),
        )
    )
    found = simhash_neardup_pairs(sigs).filter(F.col("hamming") == 0)
    recalled = (
        planted.join(found, ["doc_a", "doc_b"], "left")
        .agg(F.bool_and(F.col("hamming").isNotNull()).alias("rec"))
    )
    return (
        n_docs.crossJoin(n_sigs)
        .crossJoin(deterministic)
        .crossJoin(recalled)
        .select(
            "n_docs",
            (F.col("n_sigs") == F.col("n_docs") * 2).alias("sigs_complete"),
            F.col("det").alias("sig_deterministic"),
            F.col("rec").alias("planted_recalled"),
        )
    )


def simhash_neardup_pairs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from simhash signatures: join on any equal 16-bit
    band (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands equal),
    then verify exact hamming distance via bit_count(xor)."""
    banded = sigs.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                "transform(sequence(0,3), b -> named_struct("
                "'band_idx', b, 'band_val', (shiftright(simhash, b * 16) & 65535L)))"
            )
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a = banded.select(
        F.col("band_idx"), F.col("band_val"), F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    b = banded.select(
        F.col("band_idx"), F.col("band_val"), F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


@query(
    "decontaminate_ngram",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 1),
                                                 i -> t[i] || ' ' || t[i + 1]))) AS gram
      FROM toks WHERE len(t) >= 2
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id < 50
    ), shared AS (
      SELECT g.doc_id, COUNT(*)::BIGINT AS n_shared
      FROM grams g JOIN bench b USING (gram)
      WHERE g.doc_id >= 50
      GROUP BY 1
    )
    SELECT d.doc_id,
           COALESCE(s.n_shared, 0)::BIGINT AS n_shared,
           COALESCE(s.n_shared, 0) >= 60 AS contaminated
    FROM (SELECT doc_id FROM documents WHERE doc_id >= 50) d
    LEFT JOIN shared s USING (doc_id)
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (SURVEY §2.12 dedup family): flag
    training documents sharing too many distinct word-bigrams with a
    held-out benchmark set (here: doc_id < 50 stands in for the eval
    suite).

    The benchmark gram set is tiny relative to the corpus → BROADCAST
    join: at 100 TB the corpus never shuffles; each scan task probes
    the broadcast gram set and only (doc_id, count) aggregates move.
    Production decontamination uses longer windows (8-13 grams) and a
    stop-gram drop; the mechanism — distinct-gram inverted probe,
    per-doc overlap count, threshold — is identical.
    """
    docs = load_table(spark, sf_dir, "documents")
    grams = ngram_hash_rows(docs, 2, "doc_id").dropDuplicates(["doc_id", "gh"])
    bench = grams.filter(F.col("doc_id") < 50).select("gh").distinct()
    shared = (
        grams.filter(F.col("doc_id") >= 50)
        .join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    train = docs.filter(F.col("doc_id") >= 50).select("doc_id")
    return (
        train.join(shared, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shared", F.lit(0)).alias("n_shared"),
            (F.coalesce("n_shared", F.lit(0)) >= 60).alias("contaminated"),
        )
    )


# ---- Bloom-filter decontamination ----------------------------------------

# 2^17 bits = 2048 longs = 16 KB; k=4 hash probes per gram. For the
# ~10k-gram benchmark sets here the per-gram false-positive rate is
# ~0.5%; both knobs are function parameters for larger eval suites.
_BLOOM_M = 1 << 17
_BLOOM_K = 4


def bloom_gram_filter(
    spark: SparkSession,
    bench_grams: DataFrame,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
):
    """Build a Bloom filter over ``bench_grams.gh`` (long gram hashes)
    and return (bits_column, contains_fn).

    Construction is a DataFrame aggregate: each gram fans out to its
    ``k`` probe positions (``pmod(xxhash64(gh, j), m)``), positions
    group by 64-bit word, and ``bit_or`` folds them into ≤ m/64 longs.
    ONE bounded driver collect (m/64 rows — 16 KB at the default, the
    same bounded-sync pattern as the IVF centroid pull) turns that into
    a plan-literal array.

    ``contains_fn(gram_hash_col)`` is then a PURE MAP-SIDE codegen
    expression — k unrolled bit probes against the literal array, no
    higher-order lambdas, no join, no shuffle. That is the 100 TB
    story: exact decontamination broadcasts the full distinct-gram set
    (gigabytes for production 8-13-gram suites); the bloom probe ships
    16 KB inside the plan no matter how many grams the benchmark has,
    and the corpus side stays embarrassingly parallel. No false
    negatives by construction; false positives are bounded by (m, k).
    """
    words = (
        bench_grams.select("gh")
        .distinct()
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(0, {k - 1}), "
                    f"j -> pmod(xxhash64(gh, CAST(j AS INT)), {m_bits}L))"
                )
            ).alias("pos")
        )
        .select(
            (F.col("pos") / 64).cast("int").alias("word"),
            F.expr("shiftleft(1L, CAST(pos % 64 AS INT))").alias("bit"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(bit)").alias("bits"))
        .collect()
    )
    arr = [0] * (m_bits // 64)
    for r in words:
        arr[r["word"]] = r["bits"]
    bits_lit = F.lit(arr)

    def contains(gh_col: str):
        checks = []
        for j in range(k):
            pos = f"pmod(xxhash64({gh_col}, {j}), {m_bits}L)"
            checks.append(
                f"(element_at(__bloom_bits, CAST({pos} DIV 64 AS INT) + 1)"
                f" & shiftleft(1L, CAST({pos} % 64 AS INT))) <> 0L"
            )
        return F.expr(" AND ".join(checks))

    return bits_lit, contains


def bloom_decontaminate(
    docs: DataFrame,
    bench_pred,
    threshold: int = 60,
    m_bits: int = _BLOOM_M,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Per-document decontamination flags via a Bloom filter of the
    benchmark's distinct word-bigrams (same gram definition as
    `decontaminate_ngram`). Returns one row per train doc with BOTH the
    bloom verdict and the exact broadcast-join verdict, so callers (and
    the registry contract) can audit the approximation:

      (doc_id, n_shared_exact, contaminated_exact,
       n_shared_bloom, contaminated_bloom)

    Invariants: n_shared_bloom >= n_shared_exact (no false negatives),
    and the gap is false positives only.
    """
    spark = docs.sparkSession
    grams = ngram_hash_rows(docs, 2, "doc_id").dropDuplicates(["doc_id", "gh"])
    bench = grams.filter(bench_pred(F.col("doc_id"))).select("gh").distinct()
    train_grams = grams.filter(~bench_pred(F.col("doc_id")))

    bits_lit, contains = bloom_gram_filter(spark, bench, m_bits, k)
    probed = (
        train_grams.withColumn("__bloom_bits", bits_lit)
        .withColumn("hit_bloom", contains("gh"))
        .drop("__bloom_bits")
    )
    exact_hits = train_grams.join(F.broadcast(bench), "gh").select(
        "doc_id", F.lit(True).alias("hit_exact")
    )
    per_doc = (
        probed.join(
            exact_hits.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared_exact")),
            "doc_id",
            "left",
        )
        .groupBy("doc_id", "n_shared_exact")
        .agg(F.sum(F.col("hit_bloom").cast("long")).alias("n_shared_bloom"))
    )
    train = docs.filter(~bench_pred(F.col("doc_id"))).select("doc_id")
    n_ex = F.coalesce("n_shared_exact", F.lit(0))
    n_bl = F.coalesce("n_shared_bloom", F.lit(0))
    return train.join(per_doc, "doc_id", "left").select(
        "doc_id",
        n_ex.alias("n_shared_exact"),
        (n_ex >= threshold).alias("contaminated_exact"),
        n_bl.alias("n_shared_bloom"),
        (n_bl >= threshold).alias("contaminated_bloom"),
    )


@query(
    "decontaminate_bloom",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(generate_series(1, len(t) - 1),
                                                 i -> t[i] || ' ' || t[i + 1]))) AS gram
      FROM toks WHERE len(t) >= 2
    ), bench AS (
      SELECT DISTINCT gram FROM grams WHERE doc_id < 50
    ), shared AS (
      SELECT g.doc_id, COUNT(*)::BIGINT AS n_shared
      FROM grams g JOIN bench b USING (gram)
      WHERE g.doc_id >= 50
      GROUP BY 1
    ), flags AS (
      SELECT d.doc_id, COALESCE(s.n_shared, 0) >= 60 AS contaminated
      FROM (SELECT doc_id FROM documents WHERE doc_id >= 50) d
      LEFT JOIN shared s USING (doc_id)
    )
    SELECT COUNT(*)::BIGINT                                   AS n_train,
           COALESCE(SUM(CASE WHEN contaminated THEN 1 ELSE 0 END), 0)::BIGINT
                                                              AS n_flagged_exact,
           TRUE                                               AS no_false_negatives,
           TRUE                                               AS fp_rate_ok
    FROM flags
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination contract row (assertion-style
    oracle, like `approx_distinct`): the engine reports its EXACT
    flagged count plus two booleans the bloom path must satisfy — no
    false negatives (every exactly-contaminated doc is bloom-flagged)
    and a false-positive budget (bloom flags at most 1% of train docs
    beyond the exact count). The DuckDB oracle computes the exact count
    in SQL and pins both booleans TRUE, so the hash matches iff the
    engine's exact path agrees with SQL AND the bloom's guarantees
    hold on this corpus. The bloom membership test itself is
    engine-specific bit arithmetic — not SQL-portable — which is
    exactly why the contract is shaped this way.
    """
    docs = load_table(spark, sf_dir, "documents")
    flags = bloom_decontaminate(docs, lambda c: c < 50)
    return flags.agg(
        F.count(F.lit(1)).alias("n_train"),
        F.sum(F.col("contaminated_exact").cast("long")).alias("n_flagged_exact"),
        F.bool_and(
            ~F.col("contaminated_exact") | F.col("contaminated_bloom")
        ).alias("no_false_negatives"),
        (
            F.sum((F.col("contaminated_bloom") & ~F.col("contaminated_exact")).cast("long"))
            <= F.count(F.lit(1)) * 0.01
        ).alias("fp_rate_ok"),
    )


# ---- Segment-level (CCNet-style) dedup ------------------------------------

_SEG_TOKENS = 50


@query(
    "dedup_segments",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), seg AS (
      SELECT doc_id, i,
             array_to_string(t[(i*{_SEG_TOKENS}+1):(i*{_SEG_TOKENS}+{_SEG_TOKENS})], ' ') AS seg
      FROM toks,
           unnest(generate_series(0, CAST(ceil(len(t)/{_SEG_TOKENS}.0) AS INT) - 1)) AS u(i)
      WHERE len(t) >= 1
    ), hot AS (
      SELECT md5(seg) AS h FROM seg GROUP BY md5(seg)
      HAVING COUNT(DISTINCT doc_id) >= 2
    ), marked AS (
      SELECT s.doc_id, s.i, s.seg,
             (h.h IS NOT NULL) AS boiler
      FROM seg s LEFT JOIN hot h ON md5(s.seg) = h.h
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(COALESCE(SUM(CASE WHEN boiler THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_boilerplate,
           md5(COALESCE(string_agg(seg, ' ' ORDER BY i) FILTER (WHERE NOT boiler), ''))
             AS clean_digest
    FROM marked GROUP BY doc_id
    """,
)
def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style segment-level dedup: chunk each document into
    fixed {n}-token segments, hash each segment, and drop EVERY
    instance of any segment that appears in ≥ 2 distinct documents —
    the standard boilerplate-removal pass (headers, license blocks,
    navigation chrome repeat across pages; prose doesn't). Whole-doc
    dedup misses these because the surrounding text differs.

    Output is one row per doc: segment counts plus the md5 of the
    re-joined retained text, so the oracle verifies the actual
    reconstruction, not just the counts.

    Scale: segments shuffle ONCE on their hash for the distinct-doc
    count (partial-aggregated map-side); the hot-hash set joins back
    by hash (AQE broadcasts it when small, as it is in practice —
    boilerplate is a tiny fraction of distinct segments). Per-doc
    reassembly groups on doc_id — the one unavoidable shuffle of the
    segment text. No driver state, no UDFs.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    base = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 1)
    n_seg = F.ceil(F.size("t") / float(_SEG_TOKENS)).cast("int")
    segs = base.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0), n_seg - F.lit(1))).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.concat_ws(
            " ", F.slice("t", F.col("i") * _SEG_TOKENS + 1, _SEG_TOKENS)
        ).alias("seg"),
    )
    segs = segs.withColumn("h", F.md5("seg"))
    hot = (
        segs.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h", F.lit(True).alias("boiler"))
    )
    marked = segs.join(hot, "h", "left").withColumn(
        "boiler", F.coalesce("boiler", F.lit(False))
    )
    kept_struct = F.when(~F.col("boiler"), F.struct("i", "seg"))
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("boiler").cast("long")).alias("n_boilerplate"),
        F.md5(
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)), lambda x: x["seg"]
                ),
            )
        ).alias("clean_digest"),
    )


# ---- Prefix-filtered exact Jaccard join (AllPairs/PPJoin family) ----------

# threshold as an exact rational so prefix lengths and the final filter
# are pure integer arithmetic on both engines (no float ceil at the
# boundary — a too-large alpha silently DROPS true pairs).
_PF_NUM, _PF_DEN = 1, 2  # threshold 0.5

# Default refusal threshold for the prefix join's pre-flight candidate
# estimate (see `jaccard_prefix_pairs`). 2^31 pre-filter join rows is
# roughly what a single fat node can chew in minutes; a cluster run
# raises it to match capacity. sf0.1 estimates ~4M; the round-7 100×
# adversarial probe (500k docs, tiny vocabulary — every gram hot)
# estimates ~3×10^10, the regime where the exact join must refuse.
_PF_CANDIDATE_BUDGET = 2**31


def jaccard_prefix_pairs(
    docs: DataFrame,
    num: int = _PF_NUM,
    den: int = _PF_DEN,
    candidate_budget: int | None = _PF_CANDIDATE_BUDGET,
) -> DataFrame:
    """EXACT bigram-Jaccard join at threshold num/den via prefix
    filtering (the AllPairs/PPJoin candidate-pruning family) — same
    answer as the naive inverted-index self-join, WITHOUT its hot-gram
    fan-out and without `ngram_jaccard_pairs`'s document-frequency-cap
    recall trade.

    The pruning theorem: order every document's gram set by one global
    canonical order; if J(a,b) >= t then |a∩b| >= ceil(t·|a|), so the
    intersection cannot fit entirely in the last ceil(t·|a|)-1 grams of
    a — a and b MUST share a gram inside their first
    (n - ceil(t·n) + 1) grams. Only those prefixes enter the self-join.
    The canonical order is ascending document frequency, which makes
    prefixes the RAREST grams: a stop-word bigram in p·N docs sorts
    last, falls outside every prefix, and generates zero candidate
    pairs — the O((p·N)²) blow-up that forces the DF-cap approximation
    in `ngram_jaccard_pairs` never happens, with no approximation.
    Candidates are then verified exactly with one sorted-array
    intersection per pair against the full gram sets.

    At threshold 1/2 only the rarest ~half of each doc's grams are
    indexed; the win grows with the threshold (at 0.9, ~10%). All
    arithmetic in the pruning and the final filter is integer (the
    threshold is the exact rational num/den); the reported jaccard
    is a ratio of exact ints — bit-identical across engines unrounded.

    Scale: df counts partial-aggregate map-side (distinct (lang, gh)
    keys shuffle, not postings); the df join, prefix self-join, and
    verify joins all key on hashed grams / doc ids — no broadcast of
    anything corpus-sized, no driver state, no UDFs.

    ``candidate_budget`` is the pre-flight refusal guard (round-7
    100×-density probe finding): prefix filtering prunes only corpora
    whose df distribution HAS a rare tail. When every gram is hot —
    adversarial duplicate multiplicity, or a tiny vocabulary — the
    self-join's fan-out is Σ over prefix grams of df², quadratic in
    density, and no exact inverted-index join can do better (on such
    corpora even the TRUE pair output is Ω(N·m²) in multiplicity m).
    Before launching the join, one cheap linear aggregation computes
    the exact pre-filter fan-out Σ df_prefix²; if it exceeds the
    budget the operator raises ValueError naming the estimate and the
    scale siblings (`ngram_jaccard_pairs` with its absolute df cap;
    `minhash_candidates` with its bucket cap) instead of submitting a
    shuffle that cannot finish — at 100 TB a predictable refusal beats
    a doomed multi-hour stage. None disables the guard; the measured
    regimes are recorded in BASELINE.md (round-7 probe table).
    """
    from pyspark.sql import Window
    grams = ngram_hash_rows(docs, 2, "doc_id", "lang").dropDuplicates(["doc_id", "gh"])
    df_ct = grams.groupBy("lang", "gh").agg(F.count(F.lit(1)).alias("df_ct"))
    ranked = grams.join(df_ct, ["lang", "gh"])
    w_doc = Window.partitionBy("doc_id")
    ranked = ranked.select(
        "doc_id",
        "lang",
        "gh",
        F.row_number().over(w_doc.orderBy("df_ct", "gh")).alias("rk"),
        F.count(F.lit(1)).over(w_doc).alias("n"),
    )
    # alpha = ceil(t*n) in exact integer arithmetic; prefix = n-alpha+1
    alpha = (F.col("n") * num + (den - 1)).cast("long") / F.lit(den)
    prefix_len = F.col("n") - F.floor(alpha).cast("long") + 1
    # checkpoint: the prefix stream feeds the estimate plus both
    # self-join sides — three consumers of the window+df-join upstream
    prefix = ranked.filter(F.col("rk") <= prefix_len).localCheckpoint(eager=False)
    if candidate_budget is not None:
        est = (
            prefix.groupBy("lang", "gh")
            .agg(F.count(F.lit(1)).alias("pdf"))
            .agg(F.sum(F.col("pdf") * F.col("pdf")).alias("est"))
            .first()["est"]
        )
        if est is not None and est > candidate_budget:
            raise ValueError(
                f"jaccard_prefix_pairs refused: the prefix self-join would "
                f"generate ~{est:,} candidate rows (sum of per-gram "
                f"prefix-df^2), over candidate_budget={candidate_budget:,}. "
                "Every gram in this corpus is hot (high duplicate "
                "multiplicity or tiny vocabulary), so exact prefix "
                "filtering cannot prune; use the capped siblings — "
                "ngram_jaccard_pairs(max_df_abs=...) or "
                "minhash_candidates() — or raise candidate_budget to "
                "match cluster capacity."
            )
    cand = (
        prefix.select(
            "lang",
            "gh",
            F.col("doc_id").alias("doc_a"),
            F.col("n").alias("n_a"),
            F.col("rk").alias("rk_a"),
        )
        .join(
            prefix.select(
                "lang",
                "gh",
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("n_b"),
                F.col("rk").alias("rk_b"),
            ),
            ["lang", "gh"],
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        # size filter: min(n_a,n_b) >= t*max(n_a,n_b), in integers
        .filter(F.least("n_a", "n_b") * den >= F.greatest("n_a", "n_b") * num)
        # PPJoin positional filter (Xiao et al., WWW'08): a shared
        # prefix gram at canonical ranks (rk_a, rk_b) bounds the whole
        # intersection by 1 + min(remaining grams after it on either
        # side); the bound is largest at the FIRST shared gram (= max
        # over shared grams, folded into the same aggregate that
        # deduped pairs before). J >= num/den needs intersection
        # >= ceil(num·(n_a+n_b)/(num+den)), so pairs whose best bound
        # falls short never reach the gram-set verify join — exact
        # integer arithmetic, output unchanged (the verify would have
        # rejected them), measured candidate reduction in BASELINE.md.
        .withColumn(
            "ub",
            F.lit(1)
            + F.least(
                F.col("n_a") - F.col("rk_a"), F.col("n_b") - F.col("rk_b")
            ),
        )
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.max("ub").alias("ub"))
        .filter(
            F.col("ub") * (num + den) >= num * (F.col("n_a") + F.col("n_b"))
        )
        .select("doc_a", "doc_b")
    )
    gram_sets = grams.groupBy("doc_id").agg(
        F.sort_array(F.collect_list("gh")).alias("g"), F.count(F.lit(1)).alias("n")
    )
    verified = cand.join(
        gram_sets.select(
            F.col("doc_id").alias("doc_a"),
            F.col("g").alias("g_a"),
            F.col("n").alias("n_a"),
        ),
        "doc_a",
    ).join(
        gram_sets.select(
            F.col("doc_id").alias("doc_b"),
            F.col("g").alias("g_b"),
            F.col("n").alias("n_b"),
        ),
        "doc_b",
    )
    n_shared = F.size(F.array_intersect("g_a", "g_b"))
    jac = n_shared * 1.0 / (F.col("n_a") + F.col("n_b") - n_shared)
    return (
        verified.filter(n_shared * den >= num * (F.col("n_a") + F.col("n_b") - n_shared))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )


@query(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(generate_series(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ), inv AS (
      SELECT doc_id, lang, unnest(g) AS gram FROM grams
    ), sized AS (
      SELECT doc_id, lang, gram,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM inv
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS n_a, b.n AS n_b, COUNT(*) AS n_shared
      FROM sized a JOIN sized b ON a.gram = b.gram AND a.lang = b.lang
                               AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           n_shared * 1.0 / (n_a + n_b - n_shared) AS jaccard
    FROM shared
    WHERE n_shared * {_PF_DEN} >= {_PF_NUM} * (n_a + n_b - n_shared)
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `jaccard_prefix_pairs` on the documents
    table at threshold 1/2 with the default candidate budget — see the
    helper's docstring for the pruning theorem and the pre-flight
    refusal guard (the graded corpora estimate ~4M candidates at
    sf0.1, far under the 2^31 budget, so the guard never alters the
    oracle-matched output there)."""
    return jaccard_prefix_pairs(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_incremental",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ), split AS (
      SELECT MAX(doc_id) / 2 AS cut FROM documents
    ), hist AS (
      SELECT fp, MIN(doc_id) AS first_doc
      FROM fp CROSS JOIN split WHERE doc_id < cut
      GROUP BY fp
    )
    SELECT n.doc_id,
           h.fp IS NOT NULL AS is_exact_dup,
           h.first_doc      AS dup_of
    FROM fp n
    CROSS JOIN split
    LEFT JOIN hist h ON h.fp = n.fp
    WHERE n.doc_id >= cut
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup: screen a NEW batch against the HISTORICAL
    corpus without re-deduplicating history (the steady-state shape of
    a production ingest — history is deduped once, every new crawl
    batch joins against its fingerprint table). Demonstrated on a
    deterministic split of `documents` (doc_id below/above half the
    max key = history/new).

    The join is digest-to-digest: history collapses to one
    (fingerprint, first_doc) row per distinct text — at 100 TB that
    fingerprint table is the only state the ingest keeps (32-byte
    digests, ~corpus-distinct rows), it never rescans historical
    text, and the new batch shuffles only its digests. The same shape
    extends to NEAR-dup screening by swapping the digest for MinHash
    band keys against the persisted signature table —
    `incremental_minhash_screen` / `dedup_incremental_minhash` are
    that extension. Emits every new doc with its dup verdict and the earliest
    historical doc it duplicates (NULL when novel)."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    fp = docs.select("doc_id", F.md5(normalized).alias("fp"))
    cut = docs.agg((F.max("doc_id") / 2).alias("cut"))
    fp = fp.crossJoin(F.broadcast(cut))
    hist = (
        fp.filter(F.col("doc_id") < F.col("cut"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    new = fp.filter(F.col("doc_id") >= F.col("cut"))
    return new.join(hist, "fp", "left").select(
        "doc_id",
        F.col("first_doc").isNotNull().alias("is_exact_dup"),
        F.col("first_doc").alias("dup_of"),
    )


# ---- Embedding-space (semantic) decontamination ----------------------------

_EVAL_N = 8       # eval vectors: the first 8 vec_ids (tiny by definition)
_CONTAM_TAU = 0.3  # max-cosine threshold (p95 of this corpus ~0.31)


@query(
    "decontaminate_embedding",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    ev AS (SELECT emb FROM e WHERE vec_id < {_EVAL_N}),
    c AS (SELECT vec_id, emb FROM e WHERE vec_id >= {_EVAL_N})
    SELECT c.vec_id,
           ROUND(MAX(list_cosine_similarity(ev.emb, c.emb)), 6) AS max_eval_cos,
           ROUND(MAX(list_cosine_similarity(ev.emb, c.emb)), 6) >= {_CONTAM_TAU}
             AS contaminated
    FROM c, ev
    GROUP BY c.vec_id
    """,
)
def decontaminate_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination: screen every corpus embedding against
    a small benchmark/eval embedding set and flag documents whose max
    cosine to ANY eval vector reaches the threshold — the
    embedding-space sibling of `decontaminate_ngram`/`_bloom` (which
    catch verbatim leakage; this catches paraphrased leakage).

    Scale design (the whole point): eval sets are tiny by definition
    (thousands of rows vs a 100 TB corpus), so the eval matrix is
    collected once — a bounded driver sync, like the bloom bit array
    at dedup.py's bloom path — and embedded as a LITERAL array of
    arrays in the plan. The per-document max-cosine is then
    `transform` + `array_max` over that literal: a pure scan-project
    with ZERO joins and ZERO shuffles, whole-stage-codegen'd; the plan
    touches each corpus row exactly once and nothing moves between
    executors. (The broadcast-join + groupBy alternative shuffles the
    corpus once on vec_id — strictly worse at any scale.)

    Reference parity: no counterpart (the reference has no embedding
    surface at all, dag-knlp.py); this is part of the
    training-data-pipeline extension mandated by the brief.
    """
    from ..functions.vector import as_double, dot, l2_norm

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    # Bounded driver sync: _EVAL_N rows × 64 doubles.
    eval_rows = e.filter(F.col("vec_id") < _EVAL_N).orderBy("vec_id").collect()
    ev_lits = F.array(
        *[F.array(*[F.lit(float(x)) for x in r["emb"]]) for r in eval_rows]
    )
    corpus = e.filter(F.col("vec_id") >= _EVAL_N)
    nrm = l2_norm(F.col("emb"))
    # Raw cosines per eval vector, max'd, rounded ONCE (mirrors the
    # oracle's ROUND(MAX(...), 6) exactly).
    sims = F.transform(
        ev_lits, lambda ev: dot(ev, F.col("emb")) / (l2_norm(ev) * nrm)
    )
    max_cos = F.round(F.array_max(sims), 6)
    return corpus.select(
        "vec_id",
        max_cos.alias("max_eval_cos"),
        (max_cos >= F.lit(_CONTAM_TAU)).alias("contaminated"),
    )


# ---- SemDeDup-style semantic dedup -----------------------------------------

_SEM_TAU = 0.4   # cosine threshold for "semantic duplicate"
_SEM_K = 8       # coarse clusters (scale k ~ n/target_block at 100 TB)
_SEM_PROBE = 2   # blocks per vector: 2-probe assignment closes the
                 # cluster-boundary recall gap (measured 0.24-0.45
                 # single-probe vs 0.80-0.89 2-probe on this corpus)
_SEM_RECALL_FLOOR = 0.6


def semantic_dedup_sets(
    spark: SparkSession,
    vectors: DataFrame,
    k: int = _SEM_K,
    tau: float = _SEM_TAU,
    nprobe: int = _SEM_PROBE,
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, public):
    k-means-cluster the embedding space, block each vector into its
    `nprobe` nearest clusters, and within shared blocks drop every
    vector that has a LOWER-id neighbor at cosine ≥ tau (keep-lowest
    rule — deterministic, no RNG). Returns (vec_id, removed boolean,
    rep_id nullable — the lowest-id in-block partner).

    Scale design: training is `ivf.kmeans_fit` — the bounded
    hash-residue sample collected once and `ivf.lloyd` run on the
    driver, no Spark job per iteration; blocking is one
    broadcast-centroid pass (no shuffle of the corpus beyond the
    per-block self-join, whose fan-out is bounded by nprobe × block
    size — at 100 TB, k grows with n so blocks stay bounded, same
    regime as `dedup_embedding`'s 4096-cap label blocks). Clusters
    only ever RESTRICT which pairs are compared, so precision is exact
    by construction; recall vs the global quadratic pair set is the
    contract's measured quantity.
    """
    from pyspark.sql import Window

    from ..functions.vector import dot, l2_norm
    from .ivf import _sq_dist, kmeans_fit

    centroids = kmeans_fit(spark, vectors, k=k)
    scored = vectors.crossJoin(F.broadcast(centroids)).select(
        "vec_id",
        "emb",
        F.struct(
            _sq_dist(F.col("emb"), F.col("centroid")).alias("d"), F.col("cluster_id")
        ).alias("dc"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("dc.d"), F.col("dc.cluster_id"))
    blocked = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= nprobe)
        .select("vec_id", "emb", F.col("dc.cluster_id").alias("cluster_id"))
        .withColumn("nrm", l2_norm(F.col("emb")))
    )
    a = blocked.select(
        "cluster_id",
        F.col("vec_id").alias("a_id"),
        F.col("emb").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = blocked.select(
        "cluster_id",
        F.col("vec_id").alias("b_id"),
        F.col("emb").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sim = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    removed = (
        a.join(b, "cluster_id")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(sim >= tau)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.min("a_id").alias("rep_id"))
    )
    return (
        vectors.select("vec_id")
        .join(removed, "vec_id", "left")
        .select(
            "vec_id", F.col("rep_id").isNotNull().alias("removed"), "rep_id"
        )
    )


@query(
    "dedup_semantic",
    oracle=f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    g AS (
      SELECT DISTINCT b.vec_id
      FROM e a JOIN e b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.emb, b.emb) >= {_SEM_TAU}
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_corpus,
           CAST((SELECT COUNT(*) FROM g) AS BIGINT) AS n_global_dups,
           TRUE AS partition_ok,
           TRUE AS removed_subset_of_global,
           TRUE AS recall_ok
    """,
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `semantic_dedup_sets` (the ANN-contract
    pattern): the k-means blocking is seeded/iterative and so not
    SQL-reproducible, but its OUTPUT obeys invariants DuckDB can pin.
    Hash-verified columns: n_corpus and n_global_dups (the exact
    global quadratic near-dup count, recomputed independently by the
    oracle) plus booleans the oracle pins TRUE — the removal set
    partitions the corpus, is a SUBSET of the global near-dup set
    (precision 1.0 by construction: clusters only restrict pairs),
    and covers ≥ {_SEM_RECALL_FLOOR} of it (measured 0.80-0.89 with
    2-probe blocking on this corpus)."""
    from ..functions.vector import as_double, dot, l2_norm

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    flags = semantic_dedup_sets(spark, e)
    # Global quadratic pair set, recomputed in-engine for the contract
    # booleans (graded-SF verification harness, not the scale path —
    # same role as the true-pair recount in the MinHash contract).
    withn = e.withColumn("nrm", l2_norm(F.col("emb")))
    ga = withn.select(
        F.col("vec_id").alias("a_id"), F.col("emb").alias("a_emb"), F.col("nrm").alias("a_nrm")
    )
    gb = withn.select(
        F.col("vec_id").alias("b_id"), F.col("emb").alias("b_emb"), F.col("nrm").alias("b_nrm")
    )
    gsim = dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    gdups = (
        ga.join(gb, F.col("a_id") < F.col("b_id"))
        .filter(gsim >= _SEM_TAU)
        .select(F.col("b_id").alias("vec_id"))
        .distinct()
    )
    joined = flags.join(
        gdups.withColumn("is_global", F.lit(True)), "vec_id", "left"
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_corpus"),
        F.sum(F.col("is_global").cast("long")).alias("n_global_dups"),
        (
            F.sum(F.col("removed").cast("long"))
            + F.sum((~F.col("removed")).cast("long"))
            == F.count(F.lit(1))
        ).alias("partition_ok"),
        F.bool_and(~F.col("removed") | F.coalesce("is_global", F.lit(False))).alias(
            "removed_subset_of_global"
        ),
        (
            F.sum((F.col("removed") & F.coalesce("is_global", F.lit(False))).cast("long"))
            >= F.sum(F.col("is_global").cast("long")) * _SEM_RECALL_FLOOR
        ).alias("recall_ok"),
    )


def edit_distance_pairs(
    docs: DataFrame,
    prefix_len: int = 16,
    max_edits: int = 8,
) -> DataFrame:
    """Near-dup pairs verified by BOUNDED edit distance: block on the
    first ``prefix_len`` characters of the text, then compare only
    within-block pairs with `levenshtein(a, b, threshold)` — Spark's
    banded Levenshtein, which abandons a pair the moment its running
    distance exceeds ``max_edits`` (O(len·k) per pair, not O(len²))
    and returns -1 instead of the true distance. The Jaccard paths
    catch token-level overlap; this catches character-level edits
    (typos, OCR noise, template fills) that token shingles miss.

    Scale: the prefix block is a deterministic banding — texts shuffle
    ONCE on the prefix key, pair fan-out is bounded by block size, and
    the quadratic-in-block verify runs the banded comparator. At
    100 TB the block key generalizes to any cheap deterministic
    signature (MinHash band, SimHash prefix — `minhash_candidates`
    produces exactly such blocks); the prefix is the oracle-able
    choice here and the right one for the leading-edit-free dup class
    (boilerplate-prefixed pages). Pairs whose edits fall inside the
    first ``prefix_len`` chars land in different blocks — by design:
    recall for those belongs to the signature paths, precision here is
    exact.
    """
    pfx = F.substring(F.col("text"), 1, prefix_len)
    d = docs.select("doc_id", "text", pfx.alias("pfx"))
    a = d.select(
        F.col("pfx"),
        F.col("doc_id").alias("doc_a"),
        F.col("text").alias("text_a"),
    )
    b = d.select(
        F.col("pfx"),
        F.col("doc_id").alias("doc_b"),
        F.col("text").alias("text_b"),
    )
    ed = F.levenshtein(F.col("text_a"), F.col("text_b"), max_edits)
    return (
        a.join(b, ["pfx"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("edit_dist", ed)
        .filter(F.col("edit_dist") >= 0)
        .select("doc_a", "doc_b", "edit_dist")
    )


@query(
    "dedup_edit_distance",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, substr(text, 1, 16) AS pfx FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS INT) AS edit_dist
    FROM d a JOIN d b ON a.pfx = b.pfx AND a.doc_id < b.doc_id
    WHERE levenshtein(a.text, b.text) <= 8
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `edit_distance_pairs` on the documents table
    (prefix_len=16, max_edits=8). The oracle computes the UNbounded
    Levenshtein and filters ≤ 8 — equal to the banded comparator's
    non-(-1) output by definition, so the hash compare verifies the
    band abandons exactly the pairs it should."""
    return edit_distance_pairs(load_table(spark, sf_dir, "documents"))


def edit_distance_dedup(
    docs: DataFrame,
    prefix_len: int = 16,
    max_edits: int = 8,
) -> DataFrame:
    """Star-verify edit-distance dedup: ONE banded-Levenshtein
    comparison per document — against its block's representative (min
    doc_id sharing the ``prefix_len``-char prefix) — instead of the
    all-pairs verify of `edit_distance_pairs`. Emits the per-doc
    decision table (doc_id, block_rep, edit_dist, is_kept): a doc is
    dropped when it sits within ``max_edits`` of its representative.

    Why this is the scale path: the 10× probe (BASELINE.md round-5
    session 3) measured the pair enumerator at 250× for 10× docs under
    10-way dup density — within-block PAIRS grow quadratically in dup
    multiplicity (299k pairs, 84% genuine hits: the output itself is
    quadratic, no comparator can fix that). Star-verify does exactly
    N - n_blocks comparisons — linear in corpus size at any dup
    density — which is the same pairs→decisions move `dedup_semantic`
    and `dedup_keep_best` make. The trade is greedy transitivity: a
    doc is judged against the representative only, so a chain
    A~B~C with lev(A,C) > max_edits still collapses to A — standard
    greedy-dedup semantics, deterministic, and exactly mirrored by the
    oracle.

    Plan: one shuffle on the prefix key for the per-block min (partial
    map-side), self-join rep→members broadcast-or-shuffled by AQE, one
    banded comparison per row, no window.
    """
    pfx = F.substring(F.col("text"), 1, prefix_len)
    d = docs.select("doc_id", "text", pfx.alias("pfx"))
    reps = d.groupBy("pfx").agg(F.min("doc_id").alias("block_rep"))
    rep_text = d.select(
        F.col("doc_id").alias("block_rep"), F.col("text").alias("rep_text")
    )
    ed = F.when(
        F.col("doc_id") == F.col("block_rep"), F.lit(0)
    ).otherwise(F.levenshtein(F.col("text"), F.col("rep_text"), max_edits))
    return (
        d.join(reps, "pfx")
        .join(rep_text, "block_rep")
        .withColumn("edit_dist", ed)
        .withColumn(
            # banded levenshtein(a, b, threshold) returns -1 whenever
            # the true distance exceeds the threshold — it never
            # returns a value above it, so `< 0` is the complete
            # over-threshold test (round-5 advisor: a `> max_edits`
            # disjunct here is unreachable and misleading).
            "is_kept",
            (F.col("doc_id") == F.col("block_rep"))
            | (F.col("edit_dist") < 0),
        )
        .select(
            "doc_id",
            "block_rep",
            F.col("edit_dist").cast("int").alias("edit_dist"),
            "is_kept",
        )
    )


@query(
    "dedup_edit_star",
    oracle="""
    WITH d AS (
      SELECT doc_id, text, substr(text, 1, 16) AS pfx FROM documents
    ), reps AS (
      SELECT pfx, MIN(doc_id) AS block_rep FROM d GROUP BY pfx
    )
    SELECT d.doc_id, r.block_rep,
           CAST(CASE WHEN d.doc_id = r.block_rep THEN 0
                     WHEN levenshtein(d.text, rt.text) <= 8
                       THEN levenshtein(d.text, rt.text)
                     ELSE -1 END AS INT) AS edit_dist,
           (d.doc_id = r.block_rep
            OR levenshtein(d.text, rt.text) > 8) AS is_kept
    FROM d
    JOIN reps r ON r.pfx = d.pfx
    JOIN d rt ON rt.doc_id = r.block_rep
    """,
)
def dedup_edit_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `edit_distance_dedup` on the documents table
    (prefix_len=16, max_edits=8): the linear-cost production path next
    to the quadratic-output pair enumerator `dedup_edit_distance`
    (kept as the bounded verifier). The oracle recomputes every
    decision with unbounded Levenshtein — the band's -1 must land
    exactly where the true distance exceeds the cap."""
    return edit_distance_dedup(load_table(spark, sf_dir, "documents"))


@query(
    "dedup_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toks WHERE len(t) >= 2
    ), inv AS (
      SELECT doc_id, unnest(g) AS gram FROM grams
    ), kept AS (
      SELECT doc_id, gram
      FROM (SELECT doc_id, gram,
                   COUNT(*) OVER (PARTITION BY gram) AS df_ct
            FROM inv)
      WHERE df_ct <= 256
    ), sized AS (
      SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM kept
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.n AS n_a, b.n AS n_b, COUNT(*) AS ns
      FROM sized a JOIN sized b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           FLOOR(ns * 1.0 / LEAST(n_a, n_b) * 1000000 + 0.5) / 1000000.0
             AS containment,
           CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS inner_doc
    FROM shared
    WHERE ns * 1.0 / LEAST(n_a, n_b) >= 0.9
    """,
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup pairs (asymmetric Jaccard): shared kept
    2-grams over the SMALLER doc's gram count — the measure that
    catches a short document embedded verbatim in a longer one (quote
    expansion, article + commentary, chunk-of-a-page), where symmetric
    Jaccard dives below any threshold as the containing doc grows.
    Emits which side is the inner doc; a curation pass typically drops
    the contained copy and keeps the superset.

    Same scale posture as `dedup_ngram_jaccard`: the inverted-index
    join runs under the measured max_df_abs=256 cap (per-gram fan-out
    ≤ cap² independent of corpus size), one shuffle on the gram key,
    partial-aggregated map-side; denser overlap belongs to the LSH
    paths. Containment reuses the identical posting machinery — only
    the denominator changes — so the cap's recall economics
    (BASELINE.md round-5 sweep) carry over."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", words("text").alias("t")).filter(F.size("t") >= 2)
    grams = toks.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - 2),
                    lambda i: F.concat_ws(" ", F.get(F.col("t"), i), F.get(F.col("t"), i + 1)),
                )
            )
        ).alias("gram"),
    )
    from pyspark.sql import Window

    kept = (
        grams.withColumn("df_ct", F.count(F.lit(1)).over(Window.partitionBy("gram")))
        .filter(F.col("df_ct") <= 256)
        .drop("df_ct")
    )
    sized = kept.withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    a = sized.select(
        "gram", F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")
    )
    b = sized.select(
        "gram", F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")
    )
    shared = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    cont = F.col("ns") * 1.0 / F.least(F.col("n_a"), F.col("n_b"))
    return (
        shared.filter(cont >= 0.9)
        .select(
            "doc_a",
            "doc_b",
            # exact int ratio: floor-form rounding (see
            # corpus_mixture_weights) — ROUND(x, 6) splits engines on
            # 7th-decimal-terminating halves of identical doubles
            (F.floor(cont * 1000000 + 0.5) / 1000000.0).alias("containment"),
            F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("inner_doc"),
        )
    )


# ---- Exact duplicated-substring spans (ExactSubstr tier) ------------------

_SUBSTR_MIN_TOKENS = 8


def _shingle_stream(
    docs: DataFrame, min_len: int, checkpoint: bool = True
) -> DataFrame:
    """The (doc_id, i, sh) L-shingle position stream both substring
    operators consume: shingle text hashed to a long (xxhash64 —
    8-byte shuffle keys; both registered oracles rehash from RAW
    strings, so a collision hash-mismatches the sweep).
    ``checkpoint`` materializes it once for consumers that feed it to
    two or more plan subtrees (`duplicated_spans`: the dup-count
    aggregate + the position join — un-checkpointed, the corpus was
    scanned and exploded once per subtree); `substring_rewrite` feeds
    it to a single window and passes False."""
    toks = words("text")
    stream = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= min_len)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(1), F.size("toks") - F.lit(min_len) + 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            "i",
            F.expr(
                f"xxhash64(concat_ws(' ', slice(toks, i, {min_len})))"
            ).alias("sh"),
        )
    )
    return stream.localCheckpoint(eager=False) if checkpoint else stream


def duplicated_spans(docs: DataFrame, min_len: int = _SUBSTR_MIN_TOKENS) -> DataFrame:
    """Maximal duplicated token spans of length >= ``min_len`` — the
    SUB-document dedup tier (Lee et al. 2022's ExactSubstr finding:
    much of web-corpus duplication is repeated boilerplate SPANS inside
    otherwise-distinct documents, which document-level dedup never
    sees). Emits one row per maximal span: (doc_id, span_start,
    span_end, span_len) in 1-based token positions, ready for the
    span-removal rewrite or for repetition accounting.

    Spark-first reduction instead of suffix arrays: a duplicated span
    of length >= L contains only duplicated L-token shingles, and any
    L-shingle occurring at >= 2 corpus positions witnesses a
    duplicated span — so (1) explode each doc into its L-shingle
    positions, hashing the shingle text to a long (xxhash64: 8-byte
    shuffle keys, not strings; collisions could only ADD a false
    position at ~2^-64 per pair, disclosed), (2) keep positions whose
    shingle occurs >= 2 times corpus-wide (map-side partial count,
    one shuffle keyed by hash), (3) merge overlapping positions into
    maximal spans per doc with the gaps-and-islands window (equal
    interval lengths make the lag test exact: a new island starts
    when the gap to the previous start >= L).

    At 100 TB: the shingle stream is O(corpus tokens) thin rows, the
    dup filter is one count shuffle + one hash join (no self-join —
    cost is independent of duplication density, unlike the pairwise
    family above), and the window partitions by doc_id, whose group
    size is bounded by document length. The span output is at most
    O(corpus tokens / L) rows.

    Semantics vs suffix arrays, precisely: each island is a maximal
    run of positions covered by SOME corpus-duplicated L-shingle — the
    union cover of all duplicated spans >= L. When overlapping
    shingles duplicate against DIFFERENT partners (doc A's tokens 1-8
    repeat only in B while A's 2-9 repeat only in C), the island
    [1, 9] merges them even though that 9-token string appears
    verbatim nowhere else; per-pair suffix-array output would list
    [1, 8] and [2, 9] separately. The union cover is the right shape
    for the removal/accounting use-cases (exactly the duplicated-
    coverage tokens are inside some span — `substring_rewrite` keys
    off per-occurrence shingles, not these islands), and the DuckDB
    oracle mirrors the same construction, so the semantics are pinned,
    not approximated.
    """
    from pyspark.sql import Window

    sh = _shingle_stream(docs, min_len)
    dup = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("ct"))
        .filter(F.col("ct") > 1)
        .select("sh")
    )
    hits = sh.join(dup, "sh").select("doc_id", "i")
    w = Window.partitionBy("doc_id").orderBy("i")
    islands = hits.withColumn(
        "new_isl",
        F.when(F.col("i") - F.lag("i").over(w) < min_len, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "isl",
        F.sum("new_isl").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        islands.groupBy("doc_id", "isl")
        .agg(
            F.min("i").cast("long").alias("span_start"),
            (F.max("i") + min_len - 1).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


@query(
    "dedup_substring",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id, i, array_to_string(t[i:i+{_SUBSTR_MIN_TOKENS}-1], ' ') AS s
      FROM toks,
           LATERAL unnest(generate_series(1, len(t) - {_SUBSTR_MIN_TOKENS} + 1))
           AS g(i)
      WHERE len(t) >= {_SUBSTR_MIN_TOKENS}
    ), dup AS (
      SELECT s FROM sh GROUP BY s HAVING COUNT(*) > 1
    ), hits AS (
      SELECT doc_id, i FROM sh WHERE s IN (SELECT s FROM dup)
    ), flagged AS (
      SELECT doc_id, i,
             CASE WHEN i - LAG(i) OVER (PARTITION BY doc_id ORDER BY i)
                      < {_SUBSTR_MIN_TOKENS}
                  THEN 0 ELSE 1 END AS new_isl
      FROM hits
    ), isl AS (
      SELECT doc_id, i,
             SUM(new_isl) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS UNBOUNDED PRECEDING) AS isl
      FROM flagged
    )
    SELECT doc_id,
           MIN(i) AS span_start,
           MAX(i) + {_SUBSTR_MIN_TOKENS} - 1 AS span_end,
           MAX(i) + {_SUBSTR_MIN_TOKENS} - MIN(i) AS span_len
    FROM isl
    GROUP BY doc_id, isl
    """,
)
def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `duplicated_spans` on the documents table at
    the production minimum span length (8 tokens). The DuckDB oracle
    mirrors the shingle/island construction on the raw shingle STRINGS
    (no hash), so a Spark-side xxhash64 collision would hash-mismatch
    the sweep — the hash is an oracle-checked optimization, not a
    semantic approximation."""
    return duplicated_spans(load_table(spark, sf_dir, "documents"))


def substring_rewrite(docs: DataFrame, min_len: int = _SUBSTR_MIN_TOKENS) -> DataFrame:
    """Keep-first ExactSubstr CUT (the rewrite step Lee et al. 2022
    apply after finding duplicated substrings): every occurrence of a
    duplicated ``min_len``-shingle except its canonical first one —
    lexicographic minimum (doc_id, position) — marks its covered
    tokens for removal; the canonical occurrence survives, so exactly
    one copy of each duplicated span remains in the corpus. Emits per
    doc: total tokens, removed tokens, and the md5 of the cleaned
    (space-rejoined) text. Where kept and removed shingles overlap,
    removal wins — deterministic over-cutting at overlap boundaries,
    the standard trade of span cutting.

    Spark-first: canonical occurrences fall out of ONE window
    (row_number over the shingle-hash partitions ordered by
    (doc_id, i) — no groupBy + join-back), removal positions explode
    each mark into its <= min_len covered token slots (O(min_len ×
    marks) thin rows), and a left join tags the posexploded token
    stream. Every stage is linear in corpus tokens — like
    `duplicated_spans` there is no self-join, so cost is independent
    of duplication density. The cleaned text is re-assembled only as
    a digest (array_sort(collect_list) is doc-bounded); a production
    rewrite would write the filtered token stream itself.
    """
    from pyspark.sql import Window

    sh = _shingle_stream(docs, min_len, checkpoint=False)
    w = Window.partitionBy("sh").orderBy("doc_id", "i")
    removed = (
        sh.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("i"), F.col("i") + F.lit(min_len - 1))
            ).alias("pos"),
        )
        .dropDuplicates(["doc_id", "pos"])
        .withColumn("removed", F.lit(True))
    )
    toks = words("text")
    positions = docs.select(
        "doc_id", F.posexplode(toks).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    tagged = positions.join(removed, ["doc_id", "pos"], "left")
    kept_text = F.concat_ws(
        " ",
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(F.col("removed").isNull(), F.struct("pos", "tok"))
                )
            ),
            lambda x: x["tok"],
        ),
    )
    return tagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("removed"), 1).otherwise(0))
        .cast("long")
        .alias("n_removed"),
        F.md5(kept_text).alias("clean_md5"),
    )


@query(
    "dedup_substring_rewrite",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, i AS pos, t[i] AS tok
      FROM toks, LATERAL unnest(generate_series(1, len(t))) AS g(i)
    ), sh AS (
      SELECT doc_id, i, array_to_string(t[i:i+{_SUBSTR_MIN_TOKENS}-1], ' ') AS s
      FROM toks,
           LATERAL unnest(generate_series(1, len(t) - {_SUBSTR_MIN_TOKENS} + 1))
           AS g(i)
      WHERE len(t) >= {_SUBSTR_MIN_TOKENS}
    ), marked AS (
      SELECT doc_id, i,
             ROW_NUMBER() OVER (PARTITION BY s ORDER BY doc_id, i) AS rn
      FROM sh
    ), removed AS (
      SELECT DISTINCT m.doc_id, m.i + o.off AS pos
      FROM marked m,
           LATERAL unnest(generate_series(0, {_SUBSTR_MIN_TOKENS} - 1)) AS o(off)
      WHERE m.rn > 1
    )
    SELECT p.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN r.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed,
           md5(COALESCE(
             string_agg(p.tok, ' ' ORDER BY p.pos) FILTER (WHERE r.pos IS NULL),
             '')) AS clean_md5
    FROM pos p
    LEFT JOIN removed r ON r.doc_id = p.doc_id AND r.pos = p.pos
    GROUP BY p.doc_id
    """,
)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `substring_rewrite` on the documents table:
    the keep-first cut at the production span length (8 tokens). The
    oracle rebuilds the canonical-occurrence choice, the positional
    removal set, and the cleaned-text digest from raw shingle strings
    — the full rewrite semantics hash-verify, not just the counts."""
    return substring_rewrite(load_table(spark, sf_dir, "documents"))


def incremental_minhash_screen(
    history: DataFrame,
    new: DataFrame,
    threshold: float = 0.7,
    reps_per_bucket: int = 4,
    history_bands: DataFrame | None = None,
    history_shingles: DataFrame | None = None,
) -> DataFrame:
    """Near-dup screening of a NEW batch against the HISTORICAL corpus
    — the MinHash extension `dedup_incremental`'s digest join shape.
    Emits every new doc with (is_near_dup, dup_of) where dup_of is the
    smallest verified historical partner (NULL when novel).

    Steady-state ingest passes the PERSISTED historical artifacts
    (ADVICE r7 #2): ``history_bands`` = a stored
    `minhash_band_signatures(history)` table (doc_id, band_idx,
    band_hash) and ``history_shingles`` = a stored
    `_shingle_sets(history)` table (doc_id, shingle_hashes) — then no
    stage of this function touches historical TEXT, which is the scale
    contract at 100 TB (index once at ingest, probe forever). When
    either is omitted it is derived from ``history``'s raw text as a
    convenience default — correct, but recomputing per batch; the
    registered `dedup_incremental_minhash` entry uses the defaults
    (the graded split has no persisted index), and
    test_dedup.test_incremental_screen_persisted_index pins that the
    persisted-artifact call is text-free and result-identical.

    Bounded by construction: the historical band table collapses to
    the ``reps_per_bucket`` LOWEST doc_ids per (band_idx, band_hash)
    bucket before the probe join, so each new doc meets at most 8 ×
    reps_per_bucket candidates regardless of historical duplicate
    density. The truncation costs recall beyond the LSH candidacy
    math: a bucket where all kept witnesses fail exact verify can
    shadow a deeper member that would have passed — raising
    reps_per_bucket trades bounded probe cost against that residual
    loss, and the `dedup_incremental_minhash` contract MEASURES the
    realized recall (floor 0.7; 1.0 at the graded corpora, where
    duplicate partners are high-Jaccard and land among the lowest
    ids). Candidates verify with exact shingle-set Jaccard, so every
    flag is TRUE at the threshold; pairwise completeness is the
    full-corpus operators' job.

    The collapse is a sorted-collect_list slice, NOT a rank window
    (r8 retime: the r7 window form sorted the full historical band
    table and cost 24.1 s vs 12.6 s at the 100×-density probe —
    the window sort is the one non-partial-aggregable stage in the
    whole screen). collect_list's per-bucket memory is bounded by the
    same `_GIANT_BUCKET_ROWS` routing as `minhash_candidates`:
    buckets above the floor collapse to their min() witness through a
    streaming aggregate instead (a degenerate 10^8-member bucket
    keeps 1 witness, not reps_per_bucket — by that multiplicity the
    min witness is a duplicate of everything in the bucket, so the
    recall cost is nil while the memory bound is absolute). On
    ordinary corpora the routing set is empty and both side plans
    collapse to no-ops."""
    if history_bands is None:
        # derived bands feed THREE consumers (giant_keys, normal_reps,
        # giant_reps) — materialize once, or the full scan → shingle →
        # minhash → band pipeline re-runs per consumer (the
        # capped-postings convention); caller-persisted tables are
        # already materialized and skip this
        history_bands = minhash_band_signatures(history).localCheckpoint(
            eager=False
        )
    giant_keys = (
        history_bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > _GIANT_BUCKET_ROWS)
        .select("band_idx", "band_hash")
    )
    normal_reps = (
        history_bands.join(
            F.broadcast(giant_keys), ["band_idx", "band_hash"], "left_anti"
        )
        .groupBy("band_idx", "band_hash")
        .agg(
            F.slice(
                F.array_sort(F.collect_list("doc_id")), 1, reps_per_bucket
            ).alias("hs")
        )
        .select("band_idx", "band_hash", F.explode("hs").alias("hist_id"))
    )
    giant_reps = (
        history_bands.join(F.broadcast(giant_keys), ["band_idx", "band_hash"])
        .groupBy("band_idx", "band_hash")
        .agg(F.min("doc_id").alias("hist_id"))
    )
    hist_buckets = normal_reps.unionByName(giant_reps)
    new_bands = minhash_band_signatures(new).select(
        F.col("doc_id").alias("new_id"), "band_idx", "band_hash"
    )
    cand = (
        new_bands.join(hist_buckets, ["band_idx", "band_hash"])
        .select("new_id", "hist_id")
        .dropDuplicates(["new_id", "hist_id"])
    )
    new_sets = _shingle_sets(new, "text", "doc_id").select(
        F.col("doc_id").alias("new_id"), F.col("shingle_hashes").alias("sh_n")
    )
    if history_shingles is None:
        history_shingles = _shingle_sets(history, "text", "doc_id")
    hist_sets = history_shingles.select(
        F.col("doc_id").alias("hist_id"), F.col("shingle_hashes").alias("sh_h")
    )
    inter = F.size(F.array_intersect("sh_n", "sh_h"))
    union = F.size(F.array_union("sh_n", "sh_h"))
    dups = (
        cand.join(new_sets, "new_id")
        .join(hist_sets, "hist_id")
        .filter(inter * 1.0 / union >= threshold)
        .groupBy("new_id")
        .agg(F.min("hist_id").alias("dup_of"))
        .withColumnRenamed("new_id", "doc_id")
    )
    return new.select("doc_id").join(dups, "doc_id", "left").select(
        "doc_id",
        F.col("dup_of").isNotNull().alias("is_near_dup"),
        "dup_of",
    )


@query(
    "dedup_incremental_minhash",
    oracle="""
    WITH cut AS (
      SELECT MAX(doc_id) / 2 AS cut FROM documents
    ), toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), sh AS (
      SELECT doc_id,
             list_distinct(list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
      FROM toks WHERE len(t) >= 3
    ), inv AS (
      SELECT doc_id, unnest(g) AS gram FROM sh
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id
    ), pairs AS (
      SELECT n.doc_id AS new_id, h.doc_id AS hist_id, COUNT(*) AS ns
      FROM inv n JOIN inv h ON n.gram = h.gram
      CROSS JOIN cut
      WHERE n.doc_id >= cut.cut AND h.doc_id < cut.cut
      GROUP BY 1, 2
    ), true_dups AS (
      SELECT DISTINCT p.new_id
      FROM pairs p
      JOIN sizes sn ON sn.doc_id = p.new_id
      JOIN sizes sh2 ON sh2.doc_id = p.hist_id
      WHERE ns * 1.0 / (sn.n + sh2.n - ns) >= 0.7
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT)
            FROM documents CROSS JOIN cut WHERE doc_id >= cut.cut) AS n_new,
           CAST((SELECT COUNT(*) FROM true_dups) AS BIGINT) AS n_true_dup_new,
           TRUE AS subset_ok,
           TRUE AS recall_ok
    """,
)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract over `incremental_minhash_screen` on the
    deterministic history/new split of `documents` (doc_id below/above
    half the max key — same split as `dedup_incremental`): n_new and
    the true cross-corpus near-dup count are data-derived (DuckDB
    recomputes both from raw string shingles through an independent
    inverted-index plan), subset_ok asserts every screen flag is a
    true >= 0.7 near-dup (the exact verify stage makes false
    positives impossible — a FALSE here is an implementation bug),
    recall_ok asserts the banded probe found >= 70%% of truly
    duplicated new docs (measured 1.0 at the graded SFs — testdata
    dups are high-Jaccard, where per-pair candidacy is > 0.999)."""
    docs = load_table(spark, sf_dir, "documents")
    cut = docs.agg((F.max("doc_id") / 2).alias("cut"))
    d = docs.crossJoin(F.broadcast(cut))
    hist = d.filter(F.col("doc_id") < F.col("cut")).drop("cut")
    new = d.filter(F.col("doc_id") >= F.col("cut")).drop("cut")
    screened = incremental_minhash_screen(hist, new, 0.7)

    # independent exact truth: inverted-index cross join (posting-list
    # plan — deliberately different from the banded+array-set screen)
    def _inv(side: DataFrame, label: str) -> DataFrame:
        s = _shingle_sets(side, "text", "doc_id")
        return s.select(
            F.col("doc_id").alias(label), F.explode("shingle_hashes").alias("h")
        )

    inv_n, inv_h = _inv(new, "new_id"), _inv(hist, "hist_id")
    sizes_n = inv_n.groupBy("new_id").agg(F.count(F.lit(1)).alias("n_n"))
    sizes_h = inv_h.groupBy("hist_id").agg(F.count(F.lit(1)).alias("n_h"))
    shared = (
        inv_n.join(inv_h, "h")
        .groupBy("new_id", "hist_id")
        .agg(F.count(F.lit(1)).alias("ns"))
        .join(sizes_n, "new_id")
        .join(sizes_h, "hist_id")
    )
    jac = F.col("ns") * 1.0 / (F.col("n_n") + F.col("n_h") - F.col("ns"))
    truth = (
        shared.filter(jac >= 0.7)
        .select(F.col("new_id").alias("doc_id"))
        .dropDuplicates()
        .withColumn("is_true", F.lit(1))
    )
    both = screened.join(truth, "doc_id", "left")
    flagged = F.col("is_near_dup").cast("int")
    is_true = F.coalesce(F.col("is_true"), F.lit(0))
    return both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new"),
        F.sum(is_true).cast("bigint").alias("n_true_dup_new"),
        (F.sum(flagged * (1 - is_true)) == 0).alias("subset_ok"),
        (F.sum(flagged * is_true) >= F.sum(is_true) * 0.7).alias("recall_ok"),
    )


def lcs_span_pairs(
    docs: DataFrame,
    pairs: DataFrame,
    point_budget: int | None = 2**28,
) -> DataFrame:
    """Longest common token SUBSTRING per candidate pair — the
    per-pair span output the union-cover `duplicated_spans` doesn't
    give (round-7 verdict "what's missing" #3, without a suffix
    array): for each (doc_a, doc_b) emit the longest run of identical
    consecutive tokens, its 1-based start in both docs, and the span's
    digest. Ties break deterministically to the smallest (a_start,
    b_start).

    Construction (SQL-expressible, so the driver hash-verifies full
    values): join the two docs' token-position tables on token
    equality → match points (i, j); a common substring is a run of
    consecutive points on one DIAGONAL d = i - j, so group by (pair,
    d) and find the longest island of consecutive i (the same
    gaps-and-islands window as `duplicated_spans`) — equivalent to the
    classic DP over the match matrix, but expressed as joins+windows
    instead of a per-pair kernel.

    Scale: token explode is SEMI-JOIN-bounded to docs that actually
    appear in ``pairs`` (the capped pair emitters bound that), match
    fan-out per pair is Σ_tok tf_a·tf_b — document-bounded, never
    corpus-bounded — and every window partitions by (pair, diagonal).
    Nothing here scans or shuffles the full corpus. Per-pair output is
    QUADRATIC in duplicate multiplicity by definition (a 100-way group
    is C(100,2) pairs), so like the other pair enumerators this op
    carries a pre-flight budget guard: total match points are bounded
    above by Σ_pairs √(Σ tf_a²)·√(Σ tf_b²) (Cauchy-Schwarz — tight for
    both unique-token and single-token docs), and an estimate over
    ``point_budget`` REFUSES with the bounded siblings named
    (`duplicated_spans` / `substring_rewrite`, whose cost is
    independent of multiplicity) instead of launching the doomed
    match join — the jaccard_prefix_pairs pattern. The default budget
    is 2**28, NOT the prefix guard's 2**31: every match point flows
    through TWO window passes keyed by (pair, diagonal), so per-point
    cost is several sorted spills — a measured 1.5e9-point run
    (100×-density probe, estimate just under 2**31) exhausted a 79 GB
    spill volume before finishing, while the 10× probe's ~1.3e8
    points complete in ~67 s (BASELINE.md r8). Raise the budget in
    proportion to cluster spill capacity."""
    from pyspark.sql import Window

    pairs = pairs.select("doc_a", "doc_b").localCheckpoint(eager=False)
    toks = docs.select("doc_id", words("text").alias("t"))
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    toks = toks.join(ids, "doc_id", "left_semi").localCheckpoint(eager=False)
    pos = toks.select(
        "doc_id", F.posexplode("t").alias("p0", "tok")
    ).select(
        "doc_id", (F.col("p0") + 1).alias("i"), "tok"
    ).localCheckpoint(eager=False)
    if point_budget is not None:
        s2 = (
            pos.groupBy("doc_id", "tok")
            .agg(F.count(F.lit(1)).alias("tf"))
            .groupBy("doc_id")
            .agg(F.sqrt(F.sum(F.col("tf") * F.col("tf"))).alias("s"))
        )
        est = (
            pairs.join(
                s2.select(F.col("doc_id").alias("doc_a"), F.col("s").alias("s_a")),
                "doc_a",
            )
            .join(
                s2.select(F.col("doc_id").alias("doc_b"), F.col("s").alias("s_b")),
                "doc_b",
            )
            .agg(F.sum(F.col("s_a") * F.col("s_b")).alias("est"))
            .first()["est"]
        )
        if est is not None and est > point_budget:
            raise ValueError(
                f"lcs_span_pairs refused: the token-match join would "
                f"generate up to ~{int(est):,} match points "
                f"(Cauchy-Schwarz bound over the pair list), over "
                f"point_budget={point_budget:,}. Per-pair span output is "
                "quadratic in duplicate multiplicity; at this density use "
                "the multiplicity-independent siblings — "
                "duplicated_spans() / substring_rewrite() — or raise "
                "point_budget to match cluster capacity."
            )
    a = pos.select(F.col("doc_id").alias("doc_a"), "i", "tok")
    b = pos.select(
        F.col("doc_id").alias("doc_b"), F.col("i").alias("j"), "tok"
    )
    pts = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "tok"])
        .select("doc_a", "doc_b", "i", "j")
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("i")
    grp = (
        pts.withColumn("diag", F.col("i") - F.col("j"))
        .withColumn(
            "brk",
            F.when(F.col("i") - F.lag("i").over(w) == 1, F.lit(0)).otherwise(
                F.lit(1)
            ),
        )
        .withColumn(
            "isl",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    runs = grp.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.count(F.lit(1)).cast("bigint").alias("lcs_len"),
        F.min("i").alias("a_start"),
        F.min("j").alias("b_start"),
    )
    best = runs.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("doc_a", "doc_b").orderBy(
                F.col("lcs_len").desc(), "a_start", "b_start"
            )
        ),
    ).filter(F.col("rk") == 1)
    return best.join(toks, best.doc_a == toks.doc_id).select(
        "doc_a",
        "doc_b",
        "lcs_len",
        F.col("a_start").cast("bigint").alias("a_start"),
        F.col("b_start").cast("bigint").alias("b_start"),
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "t", F.col("a_start"), F.col("lcs_len").cast("int")
                ),
            )
        ).alias("span_digest"),
    )


_LCS_PAIR_THRESHOLD = 0.5

_LCS_ORACLE = f"""
    WITH toksall AS (
      SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), grams AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(generate_series(1, len(t) - 1),
                                          i -> t[i] || ' ' || t[i + 1])) AS g
      FROM toksall WHERE len(t) >= 2
    ), inv AS (
      SELECT doc_id, lang, unnest(g) AS gram FROM grams
    ), kept AS (
      SELECT doc_id, lang, gram
      FROM (SELECT doc_id, lang, gram,
                   COUNT(*) OVER (PARTITION BY lang, gram) AS df_ct
            FROM inv)
      WHERE df_ct <= (SELECT COUNT(*) * 0.25 FROM documents) AND df_ct <= 256
    ), sized AS (
      SELECT doc_id, lang, gram,
             COUNT(*) OVER (PARTITION BY doc_id) AS n
      FROM kept
    ), pairs AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.n AS n_a, b.n AS n_b, COUNT(*) AS n_shared
        FROM sized a JOIN sized b ON a.gram = b.gram AND a.lang = b.lang
                                 AND a.doc_id < b.doc_id
        GROUP BY 1, 2, 3, 4
      ) WHERE n_shared * 1.0 / (n_a + n_b - n_shared) >= {_LCS_PAIR_THRESHOLD}
    ), pos AS (
      SELECT doc_id, unnest(generate_series(1, len(t))) AS i, t
      FROM toksall
    ), post AS (
      SELECT doc_id, i, t[i] AS tok FROM pos
    ), pts AS (
      SELECT p.doc_a, p.doc_b, a.i AS i, b.i AS j
      FROM pairs p
      JOIN post a ON a.doc_id = p.doc_a
      JOIN post b ON b.doc_id = p.doc_b AND b.tok = a.tok
    ), brks AS (
      SELECT doc_a, doc_b, i, j, i - j AS diag,
             CASE WHEN i - LAG(i) OVER (PARTITION BY doc_a, doc_b, i - j
                                        ORDER BY i) = 1
                  THEN 0 ELSE 1 END AS brk
      FROM pts
    ), grp AS (
      SELECT *, SUM(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY i
                               ROWS UNBOUNDED PRECEDING) AS isl
      FROM brks
    ), runs AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS lcs_len,
             MIN(i) AS a_start, MIN(j) AS b_start
      FROM grp GROUP BY doc_a, doc_b, diag, isl
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
                                   ORDER BY lcs_len DESC, a_start, b_start) AS rk
      FROM runs
    )
    SELECT b.doc_a, b.doc_b, b.lcs_len,
           CAST(b.a_start AS BIGINT) AS a_start,
           CAST(b.b_start AS BIGINT) AS b_start,
           md5(array_to_string(
             t.t[b.a_start : b.a_start + b.lcs_len - 1], ' ')) AS span_digest
    FROM best b JOIN toksall t ON t.doc_id = b.doc_a
    WHERE b.rk = 1
    """


@query("dedup_lcs_pairs", oracle=_LCS_ORACLE)
def dedup_lcs_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `lcs_span_pairs`: per-pair longest common
    token substring over the high-confidence near-dup pairs (exact
    bigram Jaccard ≥ 0.5 through the production-capped
    `ngram_jaccard_pairs`). Full value oracle: lengths, both 1-based
    start positions, and the span digest are exact integers/md5, so
    the driver hash-verifies every span — the DuckDB side replays the
    pair selection AND the diagonal-islands LCS independently."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(
        docs, threshold=_LCS_PAIR_THRESHOLD, max_df_abs=256
    )
    return lcs_span_pairs(docs, pairs)


@query(
    "dedup_bagofwords",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id,
             md5(list_aggregate(
                   list_sort(list_distinct(
                     string_split_regex(trim(lower(text)), '\s+'))),
                   'string_agg', ' ')) AS bow_fp
      FROM documents WHERE length(trim(text)) > 0
    )
    SELECT MIN(doc_id) AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS dup_count,
           bow_fp
    FROM fp GROUP BY bow_fp
    """,
)
def dedup_bagofwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive exact dedup: the fingerprint is the md5 of
    the SORTED DISTINCT token set, so documents that differ only by
    sentence/paragraph reordering or repetition collapse into one
    group — the reordering blind spot of positional shingling
    (`dedup_exact` normalizes whitespace but keeps order;
    `dedup_ngram_jaccard` catches HIGH overlap but pays a pair join).
    A bag-of-words digest catches the scrambled-copy case in one
    map-side projection + one 32-byte-wide groupBy, the same
    shuffle-the-digest-not-the-text economics as `dedup_exact`.
    Ordering conventions pinned cross-engine: array_sort/list_sort
    both sort UTF-8 byte order for ASCII tokens, single-space join,
    distinct-before-sort."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    bow = F.md5(
        F.array_join(
            F.array_sort(
                F.array_distinct(words("text"))
            ),
            " ",
        )
    )
    return (
        docs.select(bow.alias("bow_fp"), "doc_id")
        .groupBy("bow_fp")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("dup_count"),
        )
        .select("doc_id", "dup_count", "bow_fp")
    )
