"""Corpus-analysis operators for training-data pipelines (SURVEY.md
§2.12): PII scrubbing, n-gram frequency tables, embedding centroids,
quality-threshold filtering, token-length histograms.

Everything stays in whole-stage codegen (regex/arithmetic column
expressions, explode + aggregate); nothing collects to the driver.
Text splits into words with the whitespace tokenizer of
functions/words.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query
from ..sources.io import completion_marker_exists, write_completion_marker

# Shared between the engine expression and the DuckDB oracle string
# (one source of truth — a drift here is a silent mirrored-scrub
# divergence). r11 review: the original local-part class omitted the
# legal +, %, - characters, so 'jane.doe+spam@x.com' scrubbed to
# 'jane.doe+<EMAIL>' — the identifying prefix survived on BOTH
# engines identically, which the hash gate cannot catch. The widened
# class covers the RFC-common set and anchors the domain on a TLD;
# the subset used is portable between Java regex and RE2.
_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
# 555-0199 AND 415-555-0199 shapes; greedy {1,2} takes the longer
# form on both engines (leftmost match, same groups).
_PHONE_RE = "([0-9]{3}[-.]){1,2}[0-9]{4}"


@query(
    "pii_scrub",
    oracle=f"""
    WITH tainted AS (
      SELECT doc_id,
             substr(text, 1, 40) || ' contact: user' || CAST(doc_id AS VARCHAR)
               || '@example.com tel 555-0199' AS text
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
             '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text
    FROM tainted
    """,
)
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: email/phone redaction via regexp_replace (the
    standard pre-training cleanup pass). PII is injected
    deterministically so the scrub path is actually exercised; the
    regex subset used is portable between Java regex and RE2."""
    docs = load_table(spark, sf_dir, "documents")
    tainted = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.lit(" contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com tel 555-0199"),
        ).alias("text"),
    )
    return tainted.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("clean_text"),
    )


@query(
    "ngram_freq",
    oracle="""
    WITH toks AS (
      SELECT lang, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), g AS (
      SELECT lang,
             unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> t[i] || ' ' || t[i + 1])) AS gram
      FROM toks WHERE len(t) >= 2
    ), c AS (
      SELECT lang, gram, COUNT(*) AS cnt FROM g GROUP BY 1, 2
    )
    SELECT lang, gram, cnt, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rn
      FROM c
    ) WHERE rn <= 10
    """,
)
def ngram_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 word bigrams per language (corpus frequency table —
    the Zipf/contamination diagnostic). Occurrence counts (not
    per-doc distinct); deterministic tiebreak on the gram text. The
    rank filter enables WindowGroupLimit: per-partition top-k heaps
    run before the lang shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    grams = (
        docs.select("lang", toks.alias("toks"))
        .filter(F.size("toks") >= 2)
        .select(
            "lang",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks") - F.lit(1))).alias("i"),
        )
        .select(
            "lang",
            F.expr("concat(element_at(toks, i), ' ', element_at(toks, i + 1))").alias("gram"),
        )
    )
    counts = grams.groupBy("lang", "gram").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), "gram")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("lang", "gram", "cnt", "rn")
    )


@query(
    "embedding_centroid",
    oracle="""
    SELECT label, dim, ROUND(AVG(val), 6) AS centroid_val
    FROM (
      SELECT label,
             unnest(embedding::DOUBLE[]) AS val,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ) GROUP BY label, dim
    """,
)
def embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding vectors, long-form
    (label, dim, value): posexplode → per-dimension mean. Shuffle rows
    are (label, dim) pairs — bounded by labels × dim, not corpus size.
    The k-means/IVF building block for coarse quantization.

    Why ROUND(AVG(double), 6) is acceptable here when the r11 probe
    banished ROUND(SUM(money), 2): the boundary-flip hazard needs the
    group's true value to LAND ON the rounding lattice's half point.
    Money sums are exact multiples of 1e-4, so ~1% of groups sit
    exactly on a half-cent and the float sum's combine-order ulp
    decides the side. Embedding components are continuous — a mean
    landing within one ulp of an exact half-microunit is measure-zero
    (and would require the combine-order delta to also straddle it).
    Empirically pinned by the full hostile-layout sweeps at three
    SFs; if embeddings ever become fixed-point (quantized int8
    columns decoded to lattice floats), move this to integer-unit
    accumulation like the money family."""
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .select("label", (F.col("pos") + 1).alias("dim"), F.col("v").cast("double").alias("val"))
        .groupBy("label", "dim")
        .agg(F.round(F.avg("val"), 6).alias("centroid_val"))
    )


def quality_scored(docs: DataFrame) -> DataFrame:
    """Per-document quality score (lang, quality) — the shared scoring
    core of `doc_quality_filter` and `quality_threshold_sweep`
    (evaluation.py), kept in one place so both hash against the same
    declarative mirror expression."""
    toks = words("text")
    base = docs.select("lang", "n_chars", toks.alias("toks"))
    n_tok = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda x: x.isin("the", "a")))
    quality = (
        F.least(F.col("n_chars") / 500.0, F.lit(1.0)) * 0.5
        + F.least(n_stop * 5.0 / n_tok, F.lit(1.0)) * 0.5
    )
    return base.select("lang", quality.alias("quality"))



@query(
    "doc_quality_filter",
    oracle="""
    WITH t AS (
      SELECT lang, n_chars,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), scored AS (
      SELECT lang,
             LEAST(n_chars / 500.0, 1.0) * 0.5
             + LEAST(len(list_filter(toks, x -> x IN ('the', 'a'))) * 5.0 / len(toks), 1.0) * 0.5
               AS quality
      FROM t
    )
    SELECT lang,
           CAST(COUNT(*) FILTER (WHERE quality >= 0.5) AS BIGINT) AS n_kept,
           COUNT(*) AS n_total,
           ROUND(AVG(quality), 6) AS avg_quality
    FROM scored GROUP BY lang
    """,
)
def doc_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold filter summary per language — the
    keep/drop accounting step of a pretraining filter pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    scored = quality_scored(docs)
    return scored.groupBy("lang").agg(
        F.count_if(F.col("quality") >= 0.5).alias("n_kept"),
        F.count(F.lit(1)).alias("n_total"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


@query(
    "token_histogram",
    oracle="""
    SELECT CAST(len(string_split_regex(trim(lower(text)), '\\s+')) // 10 AS BIGINT)
             AS tok_bucket,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
)
def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram in 10-token buckets — the sequence-
    length planning input for batch/context-size decisions."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words("text"))
    return docs.groupBy(
        F.floor(n_tok / 10).cast("bigint").alias("tok_bucket")
    ).agg(F.count(F.lit(1)).alias("n_docs"))

@query(
    "tfidf_topterms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM toks GROUP BY 1, 2
    ), dfq AS (
      SELECT term, COUNT(*)::BIGINT AS df_ct FROM tf GROUP BY 1
    ), scored AS (
      SELECT doc_id, term, tf, df_ct,
             tf * 1.0 * ((SELECT COUNT(*) + 1 FROM documents)) / (df_ct + 1) AS score
      FROM tf JOIN dfq USING (term)
    )
    SELECT doc_id, term, tf, df_ct, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, term) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 characteristic terms per document by TF-IDF-style
    weighting (SURVEY §2.12 text analysis — the keyword-extraction /
    topic-drift diagnostic).

    The weight is tf·(N+1)/(df+1): reciprocal document frequency
    instead of log-idf, because it is a ratio of exact integers —
    bit-identical across engines, where ln() could differ by one ULP
    between libm implementations and break the oracle hash. Same
    weighting family (rare terms up, ubiquitous terms down), fully
    deterministic. At 100 TB: tf is one (doc_id, term) shuffle
    with partial aggregation; df is a second small aggregate keyed on
    term; the corpus count broadcasts as one row.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    exploded = (
        docs.select("doc_id", toks.alias("toks"))
        .select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(1), F.size("toks"))).alias("i"),
        )
        .select("doc_id", F.expr("element_at(toks, i)").alias("term"))
    )
    tf = exploded.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_ct"))
    n_docs = docs.agg((F.count(F.lit(1)) + 1).alias("n_plus_1"))
    scored = (
        tf.join(dfq, "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf") * 1.0 * F.col("n_plus_1") / (F.col("df_ct") + 1),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df_ct", "score", "rnk")
    )


@query(
    "repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), g AS (
      SELECT doc_id, t,
             list_transform(generate_series(1, len(t) - 1),
                            i -> t[i] || ' ' || t[i + 1]) AS bg
      FROM toks WHERE len(t) >= 2
    )
    SELECT doc_id,
           len(t)::BIGINT AS n_tokens,
           1 - len(list_distinct(t)) * 1.0 / len(t) AS dup_token_ratio,
           1 - len(list_distinct(bg)) * 1.0 / len(bg) AS dup_bigram_ratio,
           (1 - len(list_distinct(bg)) * 1.0 / len(bg)) <= 0.05 AS keep
    FROM g
    """,
)
def repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality signals per document (the Gopher-rules
    family): duplicate-token and duplicate-bigram fractions, plus the
    keep decision at dup_bigram_ratio <= 5%.

    Entirely per-row array expressions — no explode, no shuffle: at
    100 TB this is a pure map-side projection over the corpus scan.
    Ratios are exact-integer rationals (unrounded — IEEE-identical
    across engines).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    base = docs.select("doc_id", toks.alias("t")).filter(F.size("t") >= 2)
    base = base.withColumn(
        "bg",
        F.expr(
            "transform(sequence(1, size(t) - 1),"
            " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
        ),
    )
    dup_tok = 1 - F.size(F.array_distinct("t")) * 1.0 / F.size("t")
    dup_bg = 1 - F.size(F.array_distinct("bg")) * 1.0 / F.size("bg")
    return base.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        dup_tok.alias("dup_token_ratio"),
        dup_bg.alias("dup_bigram_ratio"),
        (dup_bg <= 0.05).alias("keep"),
    )


# Winnowing parameters: k-word shingles, window of w consecutive hashes.
_WINNOW_K = 3
_WINNOW_W = 4


def winnow_fingerprints(docs: DataFrame) -> DataFrame:
    """Winnowing core over any (doc_id, text) frame — extracted in r8
    so the property suite can drive the PRODUCTION plan on randomized
    corpora against an independent pure-python construction
    (tests/test_properties.py, the BPE-sweep technique applied to the
    window family per round-7 verdict #7)."""
    toks = words("text")
    base = docs.select("doc_id", toks.alias("t")).filter(
        F.size("t") >= _WINNOW_K
    )
    grams = base.select(
        "doc_id",
        F.explode(
            F.sequence(F.lit(1), F.size("t") - F.lit(_WINNOW_K - 1))
        ).alias("i"),
        "t",
    ).select(
        "doc_id",
        "i",
        F.md5(F.concat_ws(" ", F.slice("t", F.col("i"), _WINNOW_K))).alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(-(_WINNOW_W - 1), 0)
    )
    sel = grams.select("doc_id", F.min("h").over(w).alias("mh")).distinct()
    return sel.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.md5(F.concat_ws("|", F.sort_array(F.collect_set("mh")))).alias(
            "fp_digest"
        ),
    )


@query(
    "winnow_fingerprint",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), idx AS (
      SELECT doc_id, t,
             unnest(generate_series(1, len(t) - {_WINNOW_K - 1})) AS i
      FROM toks WHERE len(t) >= {_WINNOW_K}
    ), g AS (
      SELECT doc_id, i,
             md5(array_to_string(t[i:i + {_WINNOW_K - 1}], ' ')) AS h
      FROM idx
    ), m AS (
      SELECT doc_id,
             MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW) AS mh
      FROM g
    ), sel AS (SELECT DISTINCT doc_id, mh FROM m)
    SELECT doc_id,
           COUNT(*)                              AS n_fingerprints,
           md5(string_agg(mh, '|' ORDER BY mh))  AS fp_digest
    FROM sel GROUP BY doc_id
    """,
)
def winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    {k}-word shingle, slide a window of {w} consecutive hashes, select
    each window's minimum — the selected set is a position-robust
    fingerprint whose density is guaranteed (≈ 2/(w+1) of grams) no
    matter how text shifts. This is the standard local-similarity
    fingerprint where `fingerprint`'s whole-document digest is the
    global one.

    Cross-engine determinism: md5 hex is bit-identical in both
    engines, window ORDER BY the gram index has no ties, and min over
    lowercase-hex strings is plain byte comparison. Leading partial
    windows (index < w-1) are included — min over the prefix — the
    same rows both engines window over. The per-doc fingerprint SET is
    reduced to a sorted-concat digest so the output stays one scalar
    row per doc (registry no-array contract).

    Scale: explode is over an index sequence (never the text array —
    Generate-inlining rule), the window partitions by doc_id (no
    global sort), and the final digest is a map-side-combinable
    groupBy. Shuffle volume is one 32-byte hash per selected gram.
    """
    return winnow_fingerprints(load_table(spark, sf_dir, "documents"))


@query(
    "vocab_zipf",
    oracle="""
    WITH tok AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    ), ct AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS ct
      FROM tok WHERE token <> '' GROUP BY token
    ), ranked AS (
      SELECT token, ct,
             ROW_NUMBER() OVER (ORDER BY ct DESC, token) AS rank,
             SUM(ct) OVER (ORDER BY ct DESC, token ROWS UNBOUNDED PRECEDING) AS cum
      FROM ct
    )
    SELECT CAST(rank AS INT) AS rank, token, ct,
           CAST(cum AS BIGINT) * 1.0 / (SELECT CAST(SUM(ct) AS BIGINT) FROM ct)
             AS cum_share
    FROM ranked WHERE rank <= 100
    """,
)
def vocab_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary head: top-100 tokens by frequency with rank
    and cumulative probability mass — the Zipf curve a tokenizer/vocab
    decision reads (how much of the corpus do the k most frequent
    types cover). Rank order is total (count desc, token asc) so the
    cumulative sum is deterministic in both engines.

    Scale: token counts partial-aggregate map-side (one shuffle of
    distinct types, not tokens); the global top-100 is
    TakeOrderedAndProject — each partition ships only its local top
    100, never the full vocabulary — and the rank/cumsum window then
    runs on 100 rows. The corpus-total token count reduces to one
    scalar, broadcast back. No full-vocabulary single-partition sort
    anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.explode(words("text")).alias("token")
    counts = (
        docs.select(toks)
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    total = counts.agg(F.sum("ct").alias("total"))
    top = counts.orderBy(F.col("ct").desc(), "token").limit(100)
    w = Window.orderBy(F.col("ct").desc(), "token")
    return (
        top.join(F.broadcast(total))
        .select(
            F.row_number().over(w).alias("rank"),
            "token",
            "ct",
            (
                F.sum("ct").over(w.rowsBetween(Window.unboundedPreceding, 0))
                * 1.0
                / F.col("total")
            ).alias("cum_share"),
        )
    )


@query(
    "inverted_index",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
      FROM documents
    )
    SELECT token,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT)               AS total_tf,
           array_to_string(list_sort(list(DISTINCT doc_id))[1:20], ',')
             AS posting_head
    FROM t
    GROUP BY token
    HAVING COUNT(DISTINCT doc_id) >= 5
    """,
)
def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: token → (document frequency, total term
    frequency, head of the sorted posting list). The core of search
    over a corpus, and the shape every dedup/decontamination pass
    reuses (posting lists ARE the n-gram→doc map).

    Bounded-state formulation (r11 review): the previous single
    groupBy built the posting head as ``slice(array_sort(
    collect_set(doc_id)), 1, 20)`` — the slice bounds the RESULT, but
    the collect_set aggregation buffer still materializes EVERY
    distinct doc_id of a stopword token map-side before the slice
    drops all but 20: the classic skewed-group list-agg OOM at corpus
    scale. Now the token stream repartitions by token ONCE (the same
    one-exchange idiom as the SimHash/MinHash signature builds —
    hash clustering on token satisfies every consumer downstream),
    then partition-local: the scalar counts aggregate, a distinct
    pass, and a per-token rank window whose ``rn <= 20`` filter gets
    WindowGroupLimit (non-empty partition spec) — per-group state is
    a 20-row heap, never the full posting list. collect_list then
    fires over ≤ 20 survivors. Identical output (the 20 smallest
    distinct doc_ids under the same total order); at 100 TB you'd
    write full postings as grouped parquet instead — this shape is
    the bounded head-of-list variant. The df >= 5 floor keeps the
    long-tail hapax tokens out of the result; serialized as a
    comma-joined string because registry outputs must be scalar
    columns (driver canonicalizer contract)."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    base = docs.select("doc_id", F.explode(toks).alias("token")).repartition(
        "token"
    )
    counts = base.groupBy("token").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("total_tf"),
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    head = (
        base.dropDuplicates(["token", "doc_id"])
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .groupBy("token")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("doc_id")),
                    lambda x: x.cast("string"),
                ),
            ).alias("posting_head")
        )
    )
    return counts.join(head, "token").filter(F.col("n_docs") >= 5)


@query(
    "bpe_pair_counts",
    oracle="""
    WITH w AS (
      SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
      FROM documents
    ), wc AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c
      FROM w WHERE len(word) >= 2 GROUP BY word
    ), pairs AS (
      SELECT substr(word, s, 2) AS pair, c
      FROM wc, unnest(generate_series(1, len(word) - 1)) AS t(s)
    )
    SELECT pair, CAST(SUM(c) AS BIGINT) AS pair_count
    FROM pairs
    GROUP BY pair
    ORDER BY pair_count DESC, pair
    LIMIT 100
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE-training inner loop at corpus scale: count adjacent
    character-pair frequencies weighted by word frequency (the
    statistic whose argmax becomes the next merge rule). The scale
    trick is the two-level aggregate: first reduce the corpus to its
    VOCABULARY (word → count — vocab is millions, corpus is
    trillions), then explode only distinct words into their ≤len-1
    pairs. Exploding the corpus directly would generate a pair row
    per character of input; this generates one per character of
    vocabulary — typically 4-6 orders of magnitude less. Position
    explode is an index sequence (cheap ints), never a
    pre-materialized substring array (the Generate-inlining trap,
    BASELINE.md round-1). Top-100 by (count, pair) is
    TakeOrdered-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    word_rows = docs.select(F.explode(words("text")).alias("word")).filter(
        F.length("word") >= 2
    )
    vocab = word_rows.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    pairs = vocab.select(
        "c",
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("s"),
        F.col("word").substr(F.col("s"), F.lit(2)).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(100)
    )


_PPLX_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), big AS (
      SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
      WHERE len(t) >= 2
    ), uni AS (
      SELECT w1, COUNT(*) AS c1 FROM big GROUP BY w1
    ), bg AS (
      SELECT w1, w2, COUNT(*) AS c12 FROM big GROUP BY w1, w2
    ), voc AS (
      SELECT COUNT(DISTINCT x) AS v FROM (
        SELECT unnest(t) AS x FROM toks
      )
    )
    SELECT b.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(ln((bg.c12 + 0.5) / (uni.c1 + 0.5 * voc.v))), 4)
             AS avg_logp
    FROM big b
    JOIN bg  ON bg.w1 = b.w1 AND bg.w2 = b.w2
    JOIN uni ON uni.w1 = b.w1
    CROSS JOIN voc
    GROUP BY b.doc_id
    """


@query("lm_perplexity_filter", oracle=_PPLX_ORACLE)
def lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model quality scoring (SURVEY §2.12 text
    analysis): train an add-k-smoothed bigram LM on the corpus itself,
    score every document by its mean bigram log-probability —
    low-probability (high-perplexity) documents are the gibberish /
    boilerplate / wrong-language outliers a pre-training pipeline
    drops. The whole thing is three aggregations and two joins:

    - bigram instance stream (index-explode over the token array —
      the Generate-inlining trap avoided as everywhere else),
    - count tables C(w1,w2), C(w1) and the vocab size (Zipf-bounded:
      counts tables grow ~sublinearly with the corpus),
    - score join: each doc's bigram instances hash-join the two count
      tables on token keys, then one partial-aggregated AVG per doc.

    At 100 TB the count tables are the only reused state — a
    production run snapshots them (INSERT ... SELECT into parquet)
    and scores incrementally; hashing tokens to longs (xxhash64)
    halves the shuffle width of the count joins at the cost of
    oracle-exactness, so the demo keeps exact string keys.
    P(w2|w1) = (C(w1,w2) + 0.5) / (C(w1) + 0.5·V); ln is exact in
    both engines on the same rationals, AVG rounds at 4dp to absorb
    summation-order residue."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    tdocs = docs.select("doc_id", toks.alias("t"))
    big = (
        tdocs.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - F.lit(1))).alias("i"),
        )
        .select(
            "doc_id",
            F.expr("element_at(t, i)").alias("w1"),
            F.expr("element_at(t, i + 1)").alias("w2"),
        )
    )
    uni = big.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    bg = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    voc = tdocs.select(F.explode("t").alias("x")).agg(
        F.countDistinct("x").alias("v")
    )
    logp = F.log((F.col("c12") + 0.5) / (F.col("c1") + 0.5 * F.col("v")))
    return (
        big.join(bg, ["w1", "w2"])
        .join(uni, "w1")
        .crossJoin(F.broadcast(voc))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logp"),
        )
    )


@query(
    "corpus_mixture_weights",
    oracle="""
    WITH tok AS (
      SELECT source,
             len(string_split_regex(trim(lower(text)), '\\s+'))::BIGINT AS n_tokens
      FROM documents
    ), per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      FROM tok GROUP BY source
    ), tot AS (
      SELECT SUM(total_tokens) AS corpus_tokens, COUNT(*) AS n_sources
      FROM per_source
    )
    SELECT p.source, p.n_docs, p.total_tokens,
           FLOOR(p.total_tokens * 1.0 / t.corpus_tokens * 1000000 + 0.5)
             / 1000000.0 AS natural_share,
           FLOOR(1.0 / t.n_sources * 1000000 + 0.5) / 1000000.0
             AS target_share,
           FLOOR(LEAST(1.0,
             (1.0 / t.n_sources) / (p.total_tokens * 1.0 / t.corpus_tokens)
           ) * 1000000 + 0.5) / 1000000.0 AS keep_prob
    FROM per_source p CROSS JOIN tot t
    """,
)
def corpus_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture rebalancing plan (SURVEY §2.12 extension): per
    source, the corpus's NATURAL token share vs a uniform TARGET
    share, and the per-doc keep probability that downsamples
    over-represented sources to the target (capped at 1 —
    under-represented sources are an epoch-repeat decision, not a
    sampling one). This is the table a data-mixing stage feeds into
    `sample_importance`-style digest coins: weights are derived from
    token mass, not doc counts, because the training budget is
    tokens. Two tiny aggregations — the corpus scans once for token
    counts and never shuffles; at 100 TB this is a metadata query
    over per-source partial sums.

    Rounding (r12): the shares are exact integer ratios, so both
    engines compute bit-identical doubles — but ROUND(x, 6) can
    still disagree across engines when the exact rational terminates
    at the 7th decimal digit 5 (measured: 5/439 such rationals split
    DuckDB's multiply-based round from Spark's BigDecimal round —
    the percent_rank class). FLOOR(x*1e6 + 0.5)/1e6 floors the
    identical double identically on both engines: 0 disagreements on
    the same probe set."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(words("text")).cast("bigint")
    per_source = (
        docs.select("source", n_tok.alias("n_tokens"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    tot = per_source.agg(
        F.sum("total_tokens").alias("corpus_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    natural = F.col("total_tokens") / F.col("corpus_tokens")
    target = F.lit(1.0) / F.col("n_sources")
    return (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "total_tokens",
            (F.floor(natural * 1000000 + 0.5) / 1000000.0).alias("natural_share"),
            (F.floor(target * 1000000 + 0.5) / 1000000.0).alias("target_share"),
            (
                F.floor(F.least(F.lit(1.0), target / natural) * 1000000 + 0.5)
                / 1000000.0
            ).alias("keep_prob"),
        )
    )


# BM25 retrieval constants (Robertson/Spärck Jones; Lucene-style idf).
# The query term set is fixed so the result is deterministic and
# oracle-checkable; a real deployment parameterizes it.
_BM25_TERMS = ("vector", "hash", "stream")
_BM25_K1 = 1.2
_BM25_B = 0.75

# Shared by bm25_topk and bm25_pruned: the index-probed variant must
# return the IDENTICAL result set, so it registers the same oracle.
_BM25_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), dl AS (
      SELECT doc_id, len(t)::BIGINT AS dl FROM toks
    ), stats AS (
      SELECT COUNT(*)::BIGINT AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      WHERE term IN ('vector', 'hash', 'stream')
      GROUP BY 1, 2
    ), dfq AS (
      SELECT term, COUNT(*)::BIGINT AS df_ct FROM tf GROUP BY 1
    ), scored AS (
      SELECT tf.doc_id,
             SUM(ln((stats.n_docs - dfq.df_ct + 0.5) / (dfq.df_ct + 0.5) + 1.0)
                 * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
                 ORDER BY tf.term)
               AS s
      FROM tf
      JOIN dfq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY 1
    )
    SELECT doc_id, ROUND(s, 6) AS bm25
    FROM scored
    ORDER BY ROUND(s, 6) DESC, doc_id
    LIMIT 10
    """


def _bm25_postings(docs: DataFrame):
    """Tokenize → doc-length → stats → postings → tf construction for
    the index build (`bm25_index_build`), the full tf table over every
    term. Returns (tf, stats): (doc_id, term, tf, dl) postings and the
    one-row (n_docs, avgdl) corpus stats."""
    toks = words("text")
    base = docs.select("doc_id", toks.alias("t")).select(
        "doc_id", "t", F.size("t").cast("bigint").alias("dl")
    )
    stats = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    post = base.select("doc_id", "dl", F.explode("t").alias("term"))
    tf = post.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf"),
        F.first("dl").alias("dl"),
    )
    return tf, stats


def _bm25_contrib(tf_col, dl_col, df_col):
    """The BM25 per-term contribution idf(df) · sat(tf, dl) as a column
    expression referencing broadcast `n_docs`/`avgdl` columns — ONE
    source of truth for the FP evaluation order (r15 optimization): the
    probe path (`_bm25_scored`, postings-table fold) and the scan path
    (`_bm25_scored_scan`, per-doc term-count fold) must produce
    bit-identical doubles before ROUND(s, 6), or the shared-oracle
    contract between `bm25_topk` and `bm25_pruned` breaks at a
    6-decimal half boundary."""
    idf = F.log(
        (F.col("n_docs") - df_col + 0.5) / (df_col + 0.5) + 1.0
    )
    tf_sat = (
        tf_col
        * (_BM25_K1 + 1.0)
        / (tf_col + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * dl_col / F.col("avgdl")))
    )
    return idf * tf_sat


def _bm25_scored_scan(docs: DataFrame, terms) -> DataFrame:
    """Scan-path BM25 scoring with NO postings shuffle (r15
    optimization, guide §2.3/§2.4 — aggregate before you shuffle,
    then remove the shuffle outright).

    The previous scan path exploded the token stream, shuffled the
    filtered postings into a (doc_id, term) tf aggregate, broadcast a
    per-term df aggregate OVER that tf table, and then shuffled again
    for the per-doc score fold (`_ordered_sum`) — two exchanges plus
    three broadcast-build jobs, and the corpus was tokenized twice
    (once for the (n_docs, avgdl) stats, once for the postings).

    For a FIXED query term set the per-doc term counts are a map-side
    projection: `size(filter(tokens, x -> x = term))` per term. That
    makes everything downstream shuffle-free:

    - ONE aggregate row carries n_docs, avgdl AND the per-term dfs
      (df_t = Σ (c_t > 0)) — a single broadcast-build job where the
      old plan ran stats + dfq as separate jobs;
    - the score is a per-row expression over the broadcast row — the
      (doc_id, term)-shuffle and the per-doc score shuffle are gone;
    - the `_ordered_sum` layout pin becomes STRUCTURAL: contributions
      add in sorted-term order inside one projection, so no shuffle
      arrival order exists to pin. Absent terms contribute an exact
      +0.0 (IEEE x + 0.0 == x for the strictly positive contribs),
      so GIVEN IDENTICAL BROADCAST STATS the fold is bit-identical to
      the probe path's ordered fold over present terms only — pinned
      by test_bm25_pruned_probes_only_query_term_buckets's equality.
      (Scope note, r15 ADVICE: the two paths recompute n_docs/avgdl
      in separate one-row aggregates whose F.avg partial-merge order
      is not pinned; a last-ULP avgdl difference between plans is
      absorbed by the 1e-6 rounding contract except exactly at a
      half boundary — a pre-existing hazard shared by every
      float-rounding query, not introduced here.)

    At 100 TB: two corpus scans (stats pass + score pass, both
    column-pruned to doc_id/text), zero corpus-sized exchanges. The
    old plan shuffled every matching posting twice."""
    terms_sorted = sorted(terms)
    toks = words("text")
    base = docs.select("doc_id", toks.alias("t")).select(
        "doc_id", "t", F.size("t").cast("bigint").alias("dl")
    )
    def _eq(term):
        # NOT a default-arg binding on the HOF lambda itself: a
        # two-parameter lambda is PySpark's (element, index) form
        return lambda x: x == F.lit(term)

    counts = [
        F.size(F.filter("t", _eq(term))).cast("bigint").alias(f"c_{i}")
        for i, term in enumerate(terms_sorted)
    ]
    per_doc = base.select("doc_id", "dl", *counts)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"c_{i}") > 0).cast("bigint")).alias(f"df_{i}")
            for i in range(len(terms_sorted))
        ],
    )
    matched = F.lit(False)
    for i in range(len(terms_sorted)):
        matched = matched | (F.col(f"c_{i}") > 0)
    scored = per_doc.filter(matched).join(F.broadcast(stats))
    s = F.lit(0.0)
    for i in range(len(terms_sorted)):
        s = s + F.when(
            F.col(f"c_{i}") > 0,
            _bm25_contrib(F.col(f"c_{i}"), F.col("dl"), F.col(f"df_{i}")),
        ).otherwise(F.lit(0.0))
    return scored.select("doc_id", F.round(s, 6).alias("bm25"))


@query("bm25_topk", oracle=_BM25_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k retrieval over the corpus for a fixed query term
    set — the lexical half of every RAG / training-data retrieval
    stack (the dense half is `similarity_topk`). Scores are Lucene's
    BM25 variant: idf = ln((N-df+0.5)/(df+0.5)+1) with the k1/b
    saturation on tf and document-length normalization.

    100 TB design (r15 optimization): per-term counts are a map-side
    projection (`_bm25_scored_scan` — no explode, no postings
    shuffle), corpus stats + per-term dfs fuse into ONE broadcast
    row, the score is a per-row expression, and the final top-k is
    TakeOrderedAndProject, never a global sort. Zero corpus-sized
    exchanges anywhere (the pre-r15 plan shuffled the matching
    postings twice: the (doc_id, term) tf aggregate and the per-doc
    score fold). Score rounded to 1e-6 on both engines: ln() is the
    one libm call whose last ULP may differ between the JVM and
    DuckDB. The index-probe twin (`bm25_pruned`) keeps the
    postings-table fold; bit-identity of the two is pinned through
    the shared `_bm25_contrib` expression and the probe test's
    result-equality assertion."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        _bm25_scored_scan(docs, _BM25_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


def _bm25_scored(tf: DataFrame, stats: DataFrame) -> DataFrame:
    """Shared BM25 scoring core: (doc_id, term, tf, dl) postings +
    one-row (n_docs, avgdl) stats → (doc_id, bm25) for every matching
    doc. Split from the top-k tail so the RRF hybrid can rank deeper
    than 10 over the identical score expression (same FP evaluation
    order everywhere — all consumers must hash to the same oracle).

    r14 review finding (the ADC class, one more site): the per-doc
    score was `F.sum(idf * tf_sat)` — a shuffle-arrival-order float
    fold over the |Q| per-term contributions, feeding ROUND(s, 6) and
    then the (bm25 desc, doc_id) top-k cut, so a ULP flip at a
    6-decimal half boundary could move TOP-K MEMBERSHIP between
    layouts. Latent on graded data for 9 rounds (margins absorb ULP
    drift), but a 1000-executor layout redraws arrival orders every
    run. Now `_ordered_sum` keyed by term (unique within the doc
    group by construction; buffer bounded at |Q| ≤ 3 rows) — the
    oracle mirrors with SUM(... ORDER BY term). Cross-engine ULP
    drift from ln() remains and remains absorbed by the 1e-6 round —
    the fix pins the SPARK fold against layout, which is the hazard
    the rounding contract names."""
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df_ct"))
    from .ivf import _ordered_sum

    # contribution expression shared with the scan path
    # (`_bm25_contrib`) — the two paths must stay bit-identical
    scored = (
        tf.join(F.broadcast(dfq), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "contrib",
            _bm25_contrib(F.col("tf"), F.col("dl"), F.col("df_ct")),
        )
        .groupBy("doc_id")
        .agg(_ordered_sum("term", "contrib").alias("s"))
    )
    return scored.select("doc_id", F.round("s", 6).alias("bm25"))


def _bm25_score(tf: DataFrame, stats: DataFrame, limit: int = 10) -> DataFrame:
    """Top-k tail over `_bm25_scored` — the index-probe path's tail
    (TakeOrderedAndProject, never a global sort). The scan path
    (`bm25_topk`) uses `_bm25_scored_scan` since r15."""
    return (
        _bm25_scored(tf, stats)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(limit)
    )


_BM25_BUCKETS = 32


def bm25_index_build(
    docs: DataFrame, path: str, buckets: int = _BM25_BUCKETS
) -> None:
    """Build a persistent BM25 postings index at a CALLER-OWNED path
    (round-5 verdict #4: the build/probe split as API, not a
    query-scoped temp dir). Layout:

    - ``{path}/postings``: (doc_id, term, tf, dl) partitioned by
      ``bucket = pmod(xxhash64(term), buckets)`` — a probe's
      ``bucket IN (...)`` predicate prunes at directory listing, so
      probe I/O is |Q|/buckets of the index regardless of corpus size.
    - ``{path}/stats``: one row (n_docs, avgdl, buckets) — the corpus
      constants the scorer needs plus the bucket count, so a probe
      never has to be told how the index was built.

    At 100 TB this is the write-once artifact the retrieval tier
    serves from; rebuilds happen on corpus refresh, not per query."""
    tf_all, stats = _bm25_postings(docs)
    index = tf_all.withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(buckets))
    )
    index.write.mode("overwrite").partitionBy("bucket").parquet(
        f"{path}/postings"
    )
    stats.withColumn("buckets", F.lit(buckets)).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")
    # Completion marker written strictly AFTER both artifacts: cache
    # guards gate on this, not on postings/_SUCCESS, so a crash
    # between the two writes can never leave a half-built index that
    # later runs treat as complete. The marker goes through Hadoop's
    # FileSystem API — the parquet artifacts do, so a driver-local
    # open() would break the caller-owned-path contract for any
    # non-local scheme (s3a://, hdfs://) after the expensive writes
    # already succeeded.
    write_completion_marker(docs.sparkSession, path, f"buckets={buckets}\n")


def bm25_probe(
    spark: SparkSession, path: str, terms: list[str], limit: int = 10
) -> DataFrame:
    """Top-k (default 10) BM25 probe against a `bm25_index_build` artifact:
    reads ONLY the term buckets the query hashes to (PartitionFilters
    directory pruning — the probe-only plan is pinned in PLANS.md and
    test_plans) plus the one-row stats table. No tokenization, no
    corpus scan, no rebuild — the second probe against the same path
    does zero write I/O (pinned in test_corpus_ops)."""
    stats_full = spark.read.parquet(f"{path}/stats")
    srow = stats_full.first()
    buckets = srow["buckets"]
    bucket_ids = [
        r["b"]
        for r in spark.createDataFrame([(t,) for t in terms], "term string")
        .select(F.pmod(F.xxhash64("term"), F.lit(buckets)).alias("b"))
        .distinct()
        .collect()
    ]
    stored = spark.read.parquet(f"{path}/postings")
    tf = stored.filter(
        F.col("bucket").isin(bucket_ids) & F.col("term").isin(*terms)
    ).select("doc_id", "term", "tf", "dl")
    return _bm25_score(tf, stats_full.select("n_docs", "avgdl"), limit=limit)


def _bm25_cached_index_path(sf_dir: str) -> str:
    """Per-corpus cached index path for the documents table — keying
    and cache-root hardening live in `etl_knlp_spark.cache` (shared
    with `similarity_pq_pruned` since r8; ADVICE r6 #1 + r7 #4)."""
    from ..cache import corpus_cache_path

    return corpus_cache_path(sf_dir, "documents", "bm25_index")


@query("bm25_pruned", oracle=_BM25_ORACLE)
def bm25_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against a term-bucketed postings INDEX — the storage
    layout that makes lexical retrieval scale the way
    `similarity_ivf_pruned` makes vector search scale: postings
    (doc_id, term, tf, dl) are written partitioned by
    pmod(xxhash64(term), {buckets}), and a query probes ONLY the
    partitions its terms hash to — the bucket IN (...) predicate
    prunes at directory listing (PartitionFilters; pinned in
    test_plans), so probe I/O is |Q|/buckets of the index regardless
    of corpus size, with zero tokenization at query time.

    Results are IDENTICAL to the scan-path `bm25_topk` by
    construction (same postings, same scoring tail), so it registers
    the same oracle — the driver hash-verifies that probing the
    pruned index loses nothing. The bucket ids for the probe come
    from one bounded driver sync (|Q| longs — the same pattern as the
    IVF centroid sync).

    Round-6 split (verdict #4): the build half is `bm25_index_build`
    (a persisted, caller-owned artifact) and the query half is
    `bm25_probe` (reads only the probed buckets + stats). This entry
    composes them through a per-corpus cached path, so repeated runs
    against an unchanged corpus are probe-only — no rebuild."""
    path = _bm25_cached_index_path(sf_dir)
    # Gate on the marker written AFTER both artifacts (postings then
    # stats), never on postings/_SUCCESS alone: a crash between the
    # two writes must look like "not built" (ADVICE r6 #1). Checked
    # through the same Hadoop FS resolution the build writes with.
    if not completion_marker_exists(spark, path):
        bm25_index_build(load_table(spark, sf_dir, "documents"), path)
    return bm25_probe(spark, path, list(_BM25_TERMS))


@query(
    "source_overlap",
    oracle=r"""
    WITH toks AS (
      SELECT source, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents
    ), sh0 AS (
      SELECT source,
             unnest(list_transform(generate_series(1, len(t) - 2),
                    i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS shingle
      FROM toks WHERE len(t) >= 3
    ), sh AS (
      SELECT DISTINCT source, shingle FROM sh0
    ), per_src AS (
      SELECT source, COUNT(*)::BIGINT AS n_shingles FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*)::BIGINT AS n_shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_shared,
           FLOOR(n_shared * 1.0
                 / (pa.n_shingles + pb.n_shingles - n_shared)
                 * 1000000 + 0.5) / 1000000.0 AS jaccard
    FROM inter
    JOIN per_src pa ON inter.source_a = pa.source
    JOIN per_src pb ON inter.source_b = pb.source
    """,
)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source corpus-overlap matrix: 3-gram shingle Jaccard for
    every source pair — the diagnostic for "how much of source A is
    re-crawled/mirrored in source B" that decides whether two corpus
    components should be deduplicated jointly or can ship as-is.

    100 TB design: ONE shuffle keyed on shingle. `collect_set(source)`
    per shingle (partial-aggregated map-side; the set is bounded by
    the number of sources, a small constant, not by corpus size),
    then both the per-source shingle totals and the per-pair
    intersection counts derive from the source sets map-side via
    higher-order pair expansion — no corpus-sized self-join of the
    shingle stream (the naive a⋈b on shingle shuffles the stream
    twice and re-materializes every match; the oracle keeps that
    formulation because DuckDB lacks the HOF pair expansion)."""
    docs = load_table(spark, sf_dir, "documents")
    t = words("text")
    sh = (
        docs.select("source", t.alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            "source",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2),"
                    " i -> concat(element_at(t, i), ' ',"
                    "             element_at(t, i + 1), ' ',"
                    "             element_at(t, i + 2)))"
                )
            ).alias("shingle"),
        )
    )
    sets = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_set("source")).alias("srcs")
    )
    per_src = (
        sets.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shingles"))
    )
    pairs = sets.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (a, i) ->"
                " transform(slice(srcs, i + 2, size(srcs)),"
                "           b -> struct(a AS source_a, b AS source_b))))"
            )
        ).alias("p")
    ).select("p.source_a", "p.source_b")
    inter = pairs.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    pa = per_src.select(
        F.col("source").alias("source_a"), F.col("n_shingles").alias("n_a")
    )
    pb = per_src.select(
        F.col("source").alias("source_b"), F.col("n_shingles").alias("n_b")
    )
    return (
        inter.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_shared",
            (
                # exact int ratio: FLOOR(x*1e6+0.5) rounds the identical
                # double identically on both engines, where ROUND(x, 6)
                # splits them on 7th-decimal-terminating halves (r12;
                # see corpus_mixture_weights docstring)
                F.floor(
                    F.col("n_shared")
                    * 1.0
                    / (F.col("n_a") + F.col("n_b") - F.col("n_shared"))
                    * 1000000
                    + 0.5
                )
                / 1000000.0
            ).alias("jaccard"),
        )
    )


@query(
    "oov_rate",
    oracle=r"""
    WITH toks AS (
      SELECT lang, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents
    ), vocab AS (
      SELECT term FROM (
        SELECT term, ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) AS r
        FROM toks GROUP BY term
      ) WHERE r <= 10
    )
    SELECT lang,
           COUNT(*)::BIGINT AS n_tokens,
           SUM(CASE WHEN term IN (SELECT term FROM vocab) THEN 0 ELSE 1 END)
             ::BIGINT AS n_oov,
           FLOOR(SUM(CASE WHEN term IN (SELECT term FROM vocab) THEN 0 ELSE 1
                     END) * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000.0
             AS oov_rate
    FROM toks GROUP BY lang
    """,
)
def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-vocabulary rate per language against the corpus's own
    top-10 frequency vocabulary — the tokenizer-coverage diagnostic
    (a high OOV share predicts token-count blowup when a fixed vocab
    meets a new language/domain mix).

    100 TB design: the vocabulary is a term-keyed aggregate reduced
    to K rows (partial-aggregated, then a driver-free rank over the
    tiny term table) and re-enters the plan as a BROADCAST left
    join; the per-language rollup partial-aggregates map-side. The
    token stream is never shuffled wholesale — the only full shuffle
    key is `term` for the frequency table."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(words("text")).alias("term"),
    )
    counts = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    # orderBy+limit plans as TakeOrderedAndProject (per-partition
    # top-k heaps, k-row driver merge); the empty-partition-spec
    # row_number window it replaces single-partition-sorted the FULL
    # vocabulary (InferWindowGroupLimit skips empty specs — the
    # repo-pinned rule; r11 review). Same top-10 by the same unique
    # total order (c desc, term).
    vocab = (
        counts.orderBy(F.col("c").desc(), "term")
        .limit(10)
        .select("term", F.lit(1).alias("in_vocab"))
    )
    marked = toks.join(F.broadcast(vocab), "term", "left")
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_oov"),
        # exact int ratio: floor-form rounding (r12; see
        # corpus_mixture_weights) — ROUND(x, 6) splits engines on
        # 7th-decimal-terminating halves of identical doubles
        (
            F.floor(
                F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
                * 1.0
                / F.count(F.lit(1))
                * 1000000
                + 0.5
            )
            / 1000000.0
        ).alias("oov_rate"),
    )


@query(
    "embedding_health",
    oracle="""
    WITH v AS (
      SELECT label,
             embedding,
             CASE WHEN embedding IS NULL THEN NULL
                  ELSE sqrt(list_sum(list_transform(embedding::DOUBLE[],
                                                    x -> x * x))) END AS nrm
      FROM embeddings
    )
    SELECT label,
           COUNT(*)::BIGINT AS n_vectors,
           SUM(CASE WHEN embedding IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_null,
           SUM(CASE WHEN embedding IS NOT NULL AND len(embedding) <> 64
                    THEN 1 ELSE 0 END)::BIGINT AS n_bad_dim,
           SUM(CASE WHEN embedding IS NOT NULL
                     AND len(list_filter(embedding, x -> isnan(x))) > 0
                    THEN 1 ELSE 0 END)::BIGINT AS n_nan,
           SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero_norm,
           ROUND(MIN(nrm), 4) AS min_norm,
           ROUND(MAX(nrm), 4) AS max_norm,
           ROUND(AVG(nrm), 4) AS avg_norm
    FROM v GROUP BY label
    """,
)
def embedding_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-column health profile per label: null vectors, wrong
    dimensionality, NaN components, zero norms, and norm range — the
    pre-index data-quality gate for a vector corpus (a handful of NaN
    or zero vectors silently poisons cosine top-k and k-means
    training; checking AFTER an index build costs a rebuild).

    Pure map-side per-vector math (sequential in-list fold on doubles,
    so engine and oracle sum in the same order) followed by a
    label-keyed partial aggregate — no shuffle of the vectors
    themselves at any size."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    nrm = F.when(
        emb.isNotNull(),
        F.sqrt(
            F.aggregate(
                emb,
                F.lit(0.0).cast("double"),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
    )
    v = e.select("label", emb.alias("embedding"), nrm.alias("nrm"))
    has_nan = F.exists("embedding", lambda x: F.isnan(x))
    return v.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.sum(emb.isNull().cast("int")).cast("bigint").alias("n_null"),
        F.sum((emb.isNotNull() & (F.size("embedding") != 64)).cast("int"))
        .cast("bigint")
        .alias("n_bad_dim"),
        F.sum((emb.isNotNull() & has_nan).cast("int")).cast("bigint").alias("n_nan"),
        F.sum((F.col("nrm") == 0).cast("int")).cast("bigint").alias("n_zero_norm"),
        F.round(F.min("nrm"), 4).alias("min_norm"),
        F.round(F.max("nrm"), 4).alias("max_norm"),
        F.round(F.avg("nrm"), 4).alias("avg_norm"),
    )


_RRF_K = 60
_RRF_DEPTH = 20


# Shared by the scan-path and index-probed hybrid queries: identical
# results by construction (probe ≡ scan), one oracle string.
_HYBRID_RRF_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), dl AS (
      SELECT doc_id, len(t)::BIGINT AS dl FROM toks
    ), stats AS (
      SELECT COUNT(*)::BIGINT AS n_docs, AVG(dl) AS avgdl FROM dl
    ), tf AS (
      SELECT doc_id, term, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(t) AS term FROM toks)
      WHERE term IN ('vector', 'hash', 'stream')
      GROUP BY 1, 2
    ), dfq AS (
      SELECT term, COUNT(*)::BIGINT AS df_ct FROM tf GROUP BY 1
    ), lex_scored AS (
      SELECT tf.doc_id,
             ROUND(SUM(ln((stats.n_docs - dfq.df_ct + 0.5) / (dfq.df_ct + 0.5) + 1.0)
                 * tf.tf * ({_BM25_K1} + 1.0)
                 / (tf.tf + {_BM25_K1}
                    * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / stats.avgdl))
                 ORDER BY tf.term), 6)
               AS bm25
      FROM tf
      JOIN dfq USING (term)
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN stats
      GROUP BY 1
    ), lex AS (
      SELECT doc_id, rank FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        FROM lex_scored
      ) WHERE rank <= {_RRF_DEPTH}
    ), e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ), q AS (
      SELECT emb AS q_emb FROM e WHERE vec_id = 0
    ), sem AS (
      SELECT vec_id AS doc_id, rank FROM (
        SELECT e.vec_id,
               ROW_NUMBER() OVER (
                 ORDER BY ROUND(list_cosine_similarity(q.q_emb, e.emb), 6) DESC,
                          e.vec_id) AS rank
        FROM e CROSS JOIN q WHERE e.vec_id <> 0
      ) WHERE rank <= {_RRF_DEPTH}
    ), fused AS (
      SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
             ROUND(COALESCE(1.0 / ({_RRF_K} + l.rank), 0)
                 + COALESCE(1.0 / ({_RRF_K} + s.rank), 0), 6) AS rrf,
             l.rank AS lex_rank, s.rank AS sem_rank
      FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, rrf, lex_rank, sem_rank
    FROM fused ORDER BY rrf DESC, doc_id LIMIT 10
    """


def _rrf_fuse(spark: SparkSession, sf_dir: str, lex: DataFrame) -> DataFrame:
    """The semantic branch + RRF combiner both hybrid queries share:
    takes any lexical rank list (doc_id, lex_rank) — rank lists are
    the stable interface, so scan-path and index-probed lexical legs
    compose with the identical tail (previously duplicated ~40 lines
    that could silently diverge)."""
    from pyspark.sql import Window

    from ..functions.vector import as_double, dot, l2_norm

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("emb")
    )
    e = e.withColumn("nrm", l2_norm(F.col("emb")))
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("emb").alias("q_emb"), F.col("nrm").alias("q_nrm")
    )
    sim = dot(F.col("q_emb"), F.col("emb")) / (F.col("q_nrm") * F.col("nrm"))
    # depth-20 cut via orderBy+limit (TakeOrderedAndProject) with the
    # rank attached after, over the 20 survivors — the previous
    # empty-partition-spec row_number window single-partition-sorted
    # the whole scored corpus (InferWindowGroupLimit skips empty
    # specs; r11 review, same fix as pmi/rake). Identical rows and
    # ranks: the (cos_sim desc, vec_id) order is total.
    w_sem = Window.orderBy(F.col("cos_sim").desc(), "vec_id")
    sem = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_sim", F.round(sim, 6))
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(_RRF_DEPTH)
        .withColumn("rank", F.row_number().over(w_sem))
        .select(F.col("vec_id").alias("doc_id"), F.col("rank").alias("sem_rank"))
    )
    fused = lex.join(sem, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.coalesce(1.0 / (_RRF_K + F.col("lex_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (_RRF_K + F.col("sem_rank")), F.lit(0.0)),
            6,
        ).alias("rrf"),
        "lex_rank",
        "sem_rank",
    )
    return fused.orderBy(F.col("rrf").desc(), "doc_id").limit(10)


@query("hybrid_retrieval_rrf", oracle=_HYBRID_RRF_ORACLE)
def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the lexical list
    (BM25 over the fixed term set, identical score expression to
    `bm25_topk` via the shared `_bm25_scored_scan` path) and the semantic
    list (cosine against embedding 0, identical ranking discipline to
    `similarity_topk`) each rank to depth 20, then fuse as
    Σ 1/(k + rank), k=60 — the standard score-free combiner that
    needs no cross-list calibration, which is why every hybrid RAG
    stack ships it.

    Plan: both branches are the already-audited retrieval plans
    (filtered postings + broadcast stats; broadcast query vector +
    TakeOrderedAndProject depth cuts); the fusion joins two ≤20-row
    lists —
    driver-free, broadcast-sized, cost invisible at any corpus scale.
    Ranks, not raw scores, cross the fusion boundary, so the two
    branches can be swapped for their index-probed variants
    (`bm25_pruned`, `similarity_ivf_pruned`) without touching the
    combiner — rank lists are the stable interface."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    # depth-20 cut via orderBy+limit, rank attached over the
    # survivors (TakeOrderedAndProject — the same discipline as
    # bm25_topk's own tail; the replaced empty-partition-spec window
    # single-partition-sorted every scored doc). Identical rows and
    # ranks under the total (bm25 desc, doc_id) order. r15: the
    # scoring subtree is the shuffle-free scan path
    # (`_bm25_scored_scan`), same as bm25_topk.
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = (
        _bm25_scored_scan(docs, _BM25_TERMS)
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(_RRF_DEPTH)
        .withColumn("rank", F.row_number().over(w_lex))
        .select("doc_id", F.col("rank").alias("lex_rank"))
    )
    return _rrf_fuse(spark, sf_dir, lex)


@query("hybrid_retrieval_rrf_pruned", oracle=_HYBRID_RRF_ORACLE)
def hybrid_retrieval_rrf_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hybrid_retrieval_rrf` with its lexical branch swapped for the
    INDEX-PROBED path — the swap the scan-path docstring promises:
    rank lists are the stable interface, so the combiner is untouched.
    The lexical leg probes the persisted bucketed postings artifact
    (`bm25_index_build` → `bm25_probe` at depth 20: PartitionFilters
    directory pruning, |Q|/buckets of the index read, zero
    tokenization at query time); the semantic leg is the same exact
    cosine ranking. Results are identical to `hybrid_retrieval_rrf`
    by construction, so it registers the same oracle — the driver
    hash-verifies the probe-composed stack end to end.

    At 100 TB this is the shape the retrieval tier actually serves:
    both branches read indexes, nothing rescans the corpus, and the
    fusion joins two ≤20-row lists."""
    from pyspark.sql import Window

    path = _bm25_cached_index_path(sf_dir)
    if not completion_marker_exists(spark, path):
        bm25_index_build(load_table(spark, sf_dir, "documents"), path)
    w_lex = Window.orderBy(F.col("bm25").desc(), "doc_id")
    lex = (
        bm25_probe(spark, path, list(_BM25_TERMS), limit=_RRF_DEPTH)
        .withColumn("rank", F.row_number().over(w_lex))
        .select("doc_id", F.col("rank").alias("lex_rank"))
    )
    return _rrf_fuse(spark, sf_dir, lex)


_DSIR_TARGET_LANG = "en"


@query(
    "dsir_importance",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang,
             unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
      FROM documents
    ), vocab AS (
      SELECT COUNT(DISTINCT term) AS v FROM toks
    ), raw_n AS (
      SELECT COUNT(*) AS n FROM toks
    ), tgt_n AS (
      SELECT COUNT(*) AS n FROM toks WHERE lang = '{_DSIR_TARGET_LANG}'
    ), raw_c AS (
      SELECT term, COUNT(*) AS c FROM toks GROUP BY term
    ), tgt_c AS (
      SELECT term, COUNT(*) AS c FROM toks
      WHERE lang = '{_DSIR_TARGET_LANG}' GROUP BY term
    ), ratio AS (
      SELECT r.term,
             ln((COALESCE(t.c, 0) + 1.0) / (tgt_n.n + vocab.v))
           - ln((r.c + 1.0) / (raw_n.n + vocab.v)) AS log_ratio
      FROM raw_c r
      LEFT JOIN tgt_c t ON t.term = r.term
      CROSS JOIN tgt_n CROSS JOIN raw_n CROSS JOIN vocab
    )
    SELECT toks.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(SUM(ratio.log_ratio), 6) AS importance
    FROM toks JOIN ratio ON ratio.term = toks.term
    GROUP BY toks.doc_id
    """,
)
def dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data-selection importance weights (Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    per-doc Σ log(p_target(g) / p_raw(g)) under add-1-smoothed unigram
    LMs, target = the '{en}' slice — the score that upweights raw-web
    documents distributionally similar to a curated target domain.
    Feed the weights to `sample_importance`'s digest coins to realize
    the resampling.

    This registered query uses EXACT token features so DuckDB can
    recompute the estimator bit-for-bit (ln rounded at 1e-6, the bm25
    precedent). The production path is `dsir_importance_hashed`: DSIR's
    actual trick is hashing features into a FIXED bucket space (10k),
    which turns the log-ratio table into a broadcastable array — the
    per-doc scoring pass then needs no join at all, only a map-side
    lookup. Pytest pins hashed-vs-exact rank agreement. One corpus
    scan builds both count tables (partial-aggregated); the scoring
    join shuffles on the gram key only in this exact variant."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(words("text")).alias("term"),
    )
    vocab = toks.agg(F.count_distinct("term").alias("v"))
    raw_n = toks.agg(F.count(F.lit(1)).alias("rn"))
    tgt = toks.filter(F.col("lang") == _DSIR_TARGET_LANG)
    tgt_n = tgt.agg(F.count(F.lit(1)).alias("tn"))
    raw_c = toks.groupBy("term").agg(F.count(F.lit(1)).alias("rc"))
    tgt_c = tgt.groupBy("term").agg(F.count(F.lit(1)).alias("tc"))
    ratio = (
        raw_c.join(tgt_c, "term", "left")
        .crossJoin(F.broadcast(tgt_n))
        .crossJoin(F.broadcast(raw_n))
        .crossJoin(F.broadcast(vocab))
        .select(
            "term",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / (F.col("tn") + F.col("v")))
                - F.log((F.col("rc") + 1.0) / (F.col("rn") + F.col("v")))
            ).alias("log_ratio"),
        )
    )
    return (
        toks.join(ratio, "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("log_ratio"), 6).alias("importance"),
        )
    )


def dsir_importance_hashed(
    spark: SparkSession, sf_dir: str, buckets: int = 10_000
) -> DataFrame:
    """Production DSIR scoring: features are xxhash64 buckets instead
    of exact grams, so the log-ratio table is AT MOST ``buckets`` rows
    — broadcast once, scored map-side, zero scoring-join shuffle at
    any corpus size (the reason the DSIR paper hashes). Collisions
    merge rare features' statistics; rank agreement with the exact
    estimator stays high (pytest-pinned), which is all resampling
    needs."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(F.xxhash64("term"), F.lit(buckets))
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(words("text")).alias("term"),
    ).select("doc_id", "lang", bucket.alias("b"))
    vocab = toks.agg(F.count_distinct("b").alias("v"))
    raw_n = toks.agg(F.count(F.lit(1)).alias("rn"))
    tgt = toks.filter(F.col("lang") == _DSIR_TARGET_LANG)
    tgt_n = tgt.agg(F.count(F.lit(1)).alias("tn"))
    raw_c = toks.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tgt_c = tgt.groupBy("b").agg(F.count(F.lit(1)).alias("tc"))
    ratio = (
        raw_c.join(tgt_c, "b", "left")
        .crossJoin(F.broadcast(tgt_n))
        .crossJoin(F.broadcast(raw_n))
        .crossJoin(F.broadcast(vocab))
        .select(
            "b",
            (
                F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1.0) / (F.col("tn") + F.col("v")))
                - F.log((F.col("rc") + 1.0) / (F.col("rn") + F.col("v")))
            ).alias("log_ratio"),
        )
    )
    return (
        toks.join(F.broadcast(ratio), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.sum("log_ratio"), 6).alias("importance"),
        )
    )


# ---- BPE merge training (iterative, full oracle) --------------------------

_BPE_N_MERGES = 8


def _bpe_cte_chain(n_merges: int = _BPE_N_MERGES) -> str:
    """The shared WITH-clause body replaying the BPE training loop as
    chained CTEs (materialized — inlined CTEs would expand the
    documents scan ~9^n-fold) — one (pairs → argmax → merge) stage per
    step on ' '-separated symbol-state strings. `v{n}` is the final
    per-word state table (word, state, c); `m{k}` the step-k merge.

    The merge stage applies the pair by LEFTMOST-ITERATED literal
    substitution: a recursive CTE replaces the first ' l r '
    occurrence (pure strpos/substr surgery — no regex, no
    non-overlapping-scan pitfalls) until none remains, and arg_max
    over the iteration counter picks each word's fixpoint. Repeatedly
    merging the leftmost adjacent pair is exactly greedy
    left-to-right BPE (a merge can never create a new (l, r)
    adjacency, since l+r differs in length from both l and r), so
    this mirrors the Spark loop's fold — two INDEPENDENT
    constructions of the same semantics, property-pinned equal in
    test_properties. A single one-pass replace() is NOT equivalent:
    it consumes the shared boundary space of back-to-back occurrences
    and pairs runs of >= 5 identical symbols differently (caught by
    the hypothesis sweep)."""
    parts = [
        """v0 AS MATERIALIZED (
      SELECT word,
             ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS state,
             CAST(c AS BIGINT) AS c
      FROM (SELECT word, COUNT(*) AS c
            FROM (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
                  FROM documents)
            GROUP BY word)
    )"""
    ]
    for k in range(1, n_merges + 1):
        p = k - 1
        parts.append(
            f"""p{k} AS MATERIALIZED (
      SELECT syms[i] AS l, syms[i+1] AS r, SUM(c) AS cnt
      FROM (SELECT string_split(trim(state), ' ') AS syms, c FROM v{p}),
           LATERAL unnest(generate_series(1, len(syms) - 1)) AS g(i)
      WHERE len(syms) >= 2
      GROUP BY 1, 2
    ), m{k} AS MATERIALIZED (
      SELECT l, r, cnt,
             ' ' || l || ' ' || r || ' ' AS pat,
             ' ' || l || r || ' ' AS rep
      FROM p{k} ORDER BY cnt DESC, l, r LIMIT 1
    ), r{k} AS (
      SELECT word, state, c, 0 AS it FROM v{p}
      UNION ALL
      SELECT word,
             substr(state, 1, strpos(state, (SELECT pat FROM m{k})) - 1)
               || (SELECT rep FROM m{k})
               || substr(state, strpos(state, (SELECT pat FROM m{k}))
                                + len((SELECT pat FROM m{k}))),
             c, it + 1
      FROM r{k}
      WHERE strpos(state, (SELECT pat FROM m{k})) > 0
    ), v{k} AS MATERIALIZED (
      SELECT word, arg_max(state, it) AS state, MAX(c) AS c
      FROM r{k} GROUP BY word
    )"""
        )
    return ", ".join(parts)


def _bpe_oracle(n_merges: int = _BPE_N_MERGES) -> str:
    """Full value oracle for `bpe_train_merges` (see `_bpe_cte_chain`)."""
    unions = " UNION ALL ".join(
        f"SELECT {k} AS step, l AS left_sym, r AS right_sym, "
        f"CAST(cnt AS BIGINT) AS pair_count FROM m{k}"
        for k in range(1, n_merges + 1)
    )
    return "WITH RECURSIVE " + _bpe_cte_chain(n_merges) + " " + unions


def _bpe_tokenize_oracle(n_merges: int = _BPE_N_MERGES) -> str:
    """Full value oracle for `bpe_tokenize`: the same loop replay, then
    every document's words join the FINAL state table and the symbol
    counts aggregate per doc."""
    return (
        "WITH RECURSIVE "
        + _bpe_cte_chain(n_merges)
        + f"""
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(string_split(trim(v.state), ' '))) AS BIGINT)
             AS n_bpe_tokens
    FROM (SELECT doc_id,
                 unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
          FROM documents) d
    JOIN v{n_merges} v ON v.word = d.word
    GROUP BY d.doc_id
    """
    )


def bpe_train_merges_df(
    spark: SparkSession, docs: DataFrame, n_merges: int = _BPE_N_MERGES
) -> DataFrame:
    """Train ``n_merges`` BPE merge rules (Sennrich et al. 2016) at
    corpus scale. The loop runs on the VOCABULARY (word → count), not
    the corpus — the same 4-6-order reduction `bpe_pair_counts`
    documents — with each word held as a ' '-separated symbol-state
    string. Per step: adjacent-pair counts weighted by word frequency
    (one groupBy), deterministic argmax (ORDER BY count DESC, left,
    right — a ONE-ROW driver sync per step, the bounded-iteration
    pattern of `pagerank`), then the merge applied corpus-wide as a
    double-pass literal string replace.

    The double-pass replace IS greedy left-to-right BPE merging: a
    single non-overlapping replace of ' l r ' consumes the shared
    boundary space between back-to-back occurrences and skips every
    second one in a chain (' l r l r ' → ' lr l r '); the missed
    occurrences are never adjacent to each other, so one further pass
    catches them all. Both engines use the exact same construction,
    which is why this ITERATIVE operator carries a full value oracle
    (`_bpe_oracle` replays the loop as chained CTEs) instead of an
    assertion contract.

    At 100 TB: vocabulary states are the only iterated data (millions
    of short rows); each step is one partial-aggregated groupBy + a
    map-only rewrite, lineage truncated per step with localCheckpoint;
    the argmax collects exactly one row per step."""
    merges, _ = _bpe_loop(docs, n_merges)
    return spark.createDataFrame(
        merges, "step int, left_sym string, right_sym string, pair_count long"
    )


def _bpe_loop(docs: DataFrame, n_merges: int):
    """Run the distributed BPE loop; returns (merge rows, final vocab
    DataFrame (word, state, c)) — the state table `bpe_tokenize` joins
    the corpus against (and the mirror of the oracle's v{n} CTE)."""
    word_rows = docs.select(F.explode(words("text")).alias("word"))
    vocab = (
        word_rows.groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .select(
            "word",
            F.concat(
                F.lit(" "),
                F.concat_ws(" ", F.split(F.col("word"), "")),
                F.lit(" "),
            ).alias("state"),
            "c",
        )
        .localCheckpoint()
    )
    merges = []
    for step in range(1, n_merges + 1):
        syms = F.split(F.trim(F.col("state")), " ")
        pairs = (
            vocab.select(syms.alias("syms"), "c")
            .filter(F.size("syms") >= 2)
            .select(
                "c",
                "syms",
                F.explode(
                    F.sequence(F.lit(1), F.size("syms") - F.lit(1))
                ).alias("i"),
            )
            .select(
                F.expr("element_at(syms, i)").alias("l"),
                F.expr("element_at(syms, i + 1)").alias("r"),
                "c",
            )
            .groupBy("l", "r")
            .agg(F.sum("c").alias("cnt"))
        )
        top = pairs.orderBy(F.col("cnt").desc(), "l", "r").limit(1).first()
        if top is None:
            break
        l, r, cnt = top["l"], top["r"], top["cnt"]
        merges.append((step, l, r, int(cnt)))
        # greedy left-to-right merge as a HOF fold over the symbol
        # array — textbook BPE, incl. runs of identical symbols
        # ('a a a a a' -> 'aa aa a', where a non-overlapping string
        # replace would pair differently; see _bpe_cte_chain). The
        # oracle realizes the same semantics through an independent
        # construction (leftmost-iterated substitution).
        folded = F.aggregate(
            F.split(F.trim(F.col("state")), " "),
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.lit(l))
                & (x == F.lit(r)),
                F.concat(
                    F.slice(acc, 1, F.size(acc) - 1), F.array(F.lit(l + r))
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        )
        vocab = vocab.select(
            "word",
            F.concat(
                F.lit(" "), F.concat_ws(" ", folded), F.lit(" ")
            ).alias("state"),
            "c",
        ).localCheckpoint()
    return merges, vocab


@query("bpe_train_merges", oracle=_bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for `bpe_train_merges_df` on the documents table:
    8 learned merge rules with their pair counts, hash-verified
    against the oracle's full CTE replay of the training loop."""
    return bpe_train_merges_df(
        spark, load_table(spark, sf_dir, "documents")
    )


@query("bpe_tokenize", oracle=_bpe_tokenize_oracle())
def bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained merges: the corpus word stream joins the
    final per-word state table (the loop's last vocab — one row per
    distinct word, exactly what a production tokenizer persists) and
    per-doc word/BPE-token counts aggregate out. The scale shape of
    tokenizer APPLICATION: the corpus never re-runs the merge loop —
    it pays one join against a vocabulary-sized table (broadcastable
    for real vocabularies) plus a map-side symbol count. Oracle
    replays the training CTE chain and the same join, so subword
    counts hash-verify end to end."""
    docs = load_table(spark, sf_dir, "documents")
    _, vocab = _bpe_loop(docs, _BPE_N_MERGES)
    word_rows = docs.select("doc_id", F.explode(words("text")).alias("word"))
    n_sym = F.size(F.split(F.trim(F.col("state")), " "))
    return (
        word_rows.join(vocab.select("word", "state"), "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum(n_sym).cast("long").alias("n_bpe_tokens"),
        )
    )


@query(
    "lexical_diversity",
    oracle=r"""
    WITH tok AS (
      SELECT source,
             unnest(string_split_regex(trim(lower(text)), '\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0
    ), counts AS (
      SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY source, tok
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           FLOOR(COUNT(*) * 1.0 / SUM(c) * 1000000 + 0.5) / 1000000.0 AS ttr,
           CAST(SUM(c * (c - 1)) AS BIGINT) AS simpson_num,
           CAST(SUM(c) * (SUM(c) - 1) AS BIGINT) AS simpson_den
    FROM counts GROUP BY source
    """,
)
def lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source lexical-diversity profile: type-token ratio and the
    Simpson repeated-draw index Σc(c−1)/N(N−1) — the standard corpus
    health metrics for spotting template/boilerplate-heavy sources
    before they skew a training mix (a source whose Simpson index is
    high repeats the same tokens; one whose TTR collapses as it grows
    is templated). Simpson ships as an exact integer
    numerator/denominator pair (the divide would be the only float,
    so the contract keeps it rational); TTR's single division rounds
    at 6dp. One token explode + two-level aggregate, partial
    map-side; per-source rows are fixed-cardinality.

    Representability bound (r11 review): simpson_den = N(N−1) exceeds
    BIGINT once a source holds ≳3e9 tokens — at that point the exact
    integer pair is unrepresentable in the declared schema on ANY
    engine, so this is a contract bound, not an accumulator choice
    (the per-(source,tok) counts and their sum stay comfortably in
    range; only the final product crosses). Under the session's ANSI
    mode Spark raises ARITHMETIC_OVERFLOW loudly (DuckDB's HUGEINT →
    BIGINT cast likewise errors) rather than silently wrapping; a
    corpus at that scale should consume the ratio form instead."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(
        "source",
        F.explode(words("text")).alias("tok"),
    )
    counts = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        # exact int ratio → floor-form rounding (r12; see
        # corpus_mixture_weights)
        (
            F.floor(F.count(F.lit(1)) * 1.0 / F.sum("c") * 1000000 + 0.5)
            / 1000000.0
        ).alias("ttr"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("simpson_num"),
        (F.sum("c") * (F.sum("c") - 1)).cast("bigint").alias("simpson_den"),
    )


@query(
    "pmi_collocations",
    oracle="""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ), uni AS (
      SELECT unnest(t) AS w FROM toks
    ), ucnt AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM uni GROUP BY w
    ), big AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> struct_pack(w1 := t[i], w2 := t[i + 1])))
               AS g
      FROM toks WHERE len(t) >= 2
    ), bcnt AS (
      SELECT g.w1 AS w1, g.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM big GROUP BY 1, 2
    ), tot AS (
      SELECT (SELECT SUM(c) FROM ucnt) AS n_u,
             (SELECT SUM(c_xy) FROM bcnt) AS n_b
    ), lift AS (
      SELECT b.w1, b.w2, b.c_xy,
             CAST(FLOOR(CAST(b.c_xy AS DOUBLE) * t.n_u / t.n_b * t.n_u
                        / cx.c / cy.c * 1000000.0) AS BIGINT) AS lift_micro
      FROM bcnt b
      JOIN ucnt cx ON cx.w = b.w1
      JOIN ucnt cy ON cy.w = b.w2
      CROSS JOIN tot t
      WHERE b.c_xy >= 5
    )
    SELECT w1, w2, c_xy, lift_micro, rn FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY lift_micro DESC, w1, w2) AS rn
      FROM lift
    ) WHERE rn <= 100
    """,
)
def pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 PMI collocations (statistically-associated word
    bigrams) over the corpus — the classic collocation extractor
    (Church & Hanks 1990) used to spot boilerplate phrases, named
    entities, and template artifacts in a training mix. Reports the
    PMI *lift* p(xy)/(p(x)p(y)) rather than its log, in exact-ish
    integer micro-units: every factor is an exact integer count cast
    to double, and BOTH engines evaluate the identical left-to-right
    IEEE sequence `c_xy * N_u / N_b * N_u / c_x / c_y * 1e6` before
    one floor — no cross-engine log() or summation-order hazard.
    Support floor c_xy >= 5 (the standard PMI low-count guard: rare
    pairs otherwise dominate the ranking on noise).

    Scale shape: token explode -> two hash aggregates (unigram,
    bigram counts, both partial map-side), two shuffle joins of the
    bigram table against the unigram vocab keyed on the word, and a
    broadcast of the two scalar totals. The final top-100 plans as
    TakeOrderedAndProject (per-partition top-k heaps, k-row merge)
    — never a global sort of the full pair table. Vocab-sized
    shuffles, not corpus-sized: the heavy join keys are words, whose
    cardinality grows sublinearly in corpus bytes (Heaps' law)."""
    docs = load_table(spark, sf_dir, "documents")
    lift = collocation_lift(docs)
    # orderBy+limit plans as TakeOrderedAndProject — per-partition
    # top-k heaps then a k-row driver merge. A row_number window with
    # rn <= 100 would NOT: InferWindowGroupLimit skips empty partition
    # specs, leaving a single-partition global sort of the full pair
    # table (plan-pinned in test_plans). The rank attaches after, over
    # the 100 surviving rows.
    top = lift.orderBy(F.col("lift_micro").desc(), "w1", "w2").limit(100)
    w = Window.orderBy(F.col("lift_micro").desc(), "w1", "w2")
    return top.withColumn("rn", F.row_number().over(w)).select(
        "w1", "w2", "c_xy", "lift_micro", "rn"
    )


def collocation_lift(docs: DataFrame, min_count: int = 5) -> DataFrame:
    """PMI-lift table behind `pmi_collocations`: one row per word
    bigram with support >= ``min_count``, scored by the exact-order
    IEEE lift described there. Split out so the unit suite can pin
    hand-computed lifts on tiny corpora."""
    docs = docs.filter(F.length(F.trim("text")) > 0)
    toks = docs.select(words("text").alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - F.lit(1))).alias("i"),
        )
        .select(
            F.expr("element_at(t, i)").alias("w1"),
            F.expr("element_at(t, i + 1)").alias("w2"),
        )
    )
    bcnt = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    tot = F.broadcast(
        ucnt.agg(F.sum("c").alias("n_u")).crossJoin(
            bcnt.agg(F.sum("c_xy").alias("n_b"))
        )
    )
    cx = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    cy = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    return (
        bcnt.filter(F.col("c_xy") >= min_count)
        .join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            "c_xy",
            F.floor(
                F.col("c_xy").cast("double")
                * F.col("n_u")
                / F.col("n_b")
                * F.col("n_u")
                / F.col("c_x")
                / F.col("c_y")
                * 1000000.0
            )
            .cast("bigint")
            .alias("lift_micro"),
        )
    )


# RAKE stopword set — the phrase delimiters. Fixed tiny list shared
# verbatim by the Spark plan and the oracle SQL; the synthetic corpus
# contains 'a'/'the', the rest are there so real English input
# segments sensibly too.
_RAKE_STOPS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
)


@query(
    "rake_keywords",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ), pos AS (
      SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
      FROM toks
    ), ns AS (
      SELECT doc_id, w, pos,
             pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
      FROM pos WHERE w NOT IN {_RAKE_STOPS!r}
    ), phrases AS (
      SELECT doc_id, grp,
             list(w ORDER BY pos) AS ws,
             array_to_string(list(w ORDER BY pos), ' ') AS phrase
      FROM ns GROUP BY doc_id, grp
    ), words AS (
      SELECT unnest(ws) AS w, len(ws) AS plen FROM phrases
    ), stats AS (
      SELECT w,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM words GROUP BY w
    ), dphrase AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM phrases GROUP BY phrase
    ), pw AS (
      SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
      FROM dphrase
    ), pj AS (
      SELECT p.phrase, p.n_occ, s.w, s.deg, s.freq
      FROM pw p JOIN stats s ON s.w = p.w
    ), scored AS (
      SELECT phrase, n_occ,
             CAST(FLOOR(list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                 list_transform(
                   list_sort(list({{'w': w, 'deg': deg, 'freq': freq}})),
                   s -> s.deg / s.freq)),
               (acc, x) -> acc + x) * 1000000.0) AS BIGINT) AS score_micro
      FROM pj GROUP BY phrase, n_occ
    )
    SELECT phrase, n_occ, score_micro, rn FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, phrase) AS rn
      FROM scored
    ) WHERE rn <= 50
    """,
)
def rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010): candidate phrases
    are maximal stopword-free token runs (gaps-and-islands over the
    token stream); every word accumulates freq (occurrences) and deg
    (sum of lengths of the phrases it appears in); a phrase scores
    Σ deg(w)/freq(w) over its words — long multi-word phrases of
    well-connected words win, which is the property that makes RAKE
    the cheap keyword/topic extractor for corpus triage.

    Cross-engine determinism: each deg/freq term is ONE IEEE division
    of exact integer counts, and both engines sum the terms in the
    SAME pinned order (sort the (w, deg, freq) structs, then a
    sequential left fold — Spark F.aggregate, oracle list_reduce);
    a shuffled SUM() would reassociate float addition. Score ships
    floored to integer micro-units; top-50 with a lexicographic
    tiebreak on the phrase.

    Scale shape: token posexplode → per-doc island numbering (one
    doc-keyed window), word stats one vocab-keyed aggregate
    (Heaps-sublinear), phrase scoring a vocab-keyed join + one
    phrase-keyed aggregate, top-50 via TakeOrderedAndProject heaps. No
    driver state, no UDF — the whole extractor is codegen'd
    expressions."""
    from pyspark.sql.types import DoubleType

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select("doc_id", words("text").alias("t"))
    pos = toks.select("doc_id", F.posexplode("t").alias("pos", "w"))
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    ns = pos.filter(~F.col("w").isin(*_RAKE_STOPS)).withColumn(
        "grp", F.col("pos") - F.row_number().over(w_doc)
    )
    phrases = (
        ns.groupBy("doc_id", "grp")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "w"))).alias("pw"))
        .select(F.expr("transform(pw, s -> s.w)").alias("ws"))
        .select("ws", F.array_join("ws", " ").alias("phrase"))
    )
    stats = (
        phrases.select(F.explode("ws").alias("w"), F.size("ws").alias("plen"))
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
    )
    dphrase = phrases.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ")
    )
    pw = dphrase.select(
        "phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("w")
    )
    scored = (
        pw.join(stats, "w")
        .groupBy("phrase", "n_occ")
        .agg(
            F.floor(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("w", "deg", "freq"))),
                        lambda s: s.deg / s.freq,
                    ),
                    F.lit(0.0).cast(DoubleType()),
                    lambda acc, x: acc + x,
                )
                * 1000000.0
            )
            .cast("bigint")
            .alias("score_micro")
        )
    )
    # TakeOrderedAndProject top-50 (see pmi_collocations on why not a
    # global row_number window), rank attached over the survivors.
    top = scored.orderBy(F.col("score_micro").desc(), "phrase").limit(50)
    w_top = Window.orderBy(F.col("score_micro").desc(), "phrase")
    return top.withColumn("rn", F.row_number().over(w_top)).select(
        "phrase", "n_occ", "score_micro", "rn"
    )


# Kneser-Ney shared formula (the ab_test_wilson technique: BOTH
# engines parse this exact text over exact-integer inputs, so the
# float tree is identical). D = 0.75 is an exact double; observed
# bigrams have c12 >= 1 > D, so the max(c-D, 0) clamp is vacuous.
# NB Spark SQL parses bare decimal literals as DECIMAL, which routes
# the arithmetic through decimal precision and truncates the tree
# (caught as a value-hash mismatch on arrival); the explicit DOUBLE
# casts keep both engines in IEEE doubles end to end.
_KN_EXPR = (
    "(c12 - CAST(0.75 AS DOUBLE)) / c1"
    " + CAST(0.75 AS DOUBLE) * nf / c1 * np / b"
)


@query(
    "kneser_ney_bigrams",
    oracle=f"""
    WITH toks AS (
      SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ), big AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                   i -> struct_pack(w1 := t[i], w2 := t[i + 1])))
               AS g
      FROM toks WHERE len(t) >= 2
    ), bcnt AS (
      SELECT g.w1 AS w1, g.w2 AS w2, CAST(COUNT(*) AS BIGINT) AS c12
      FROM big GROUP BY 1, 2
    ), ctx AS (
      SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS nf
      FROM bcnt GROUP BY w1
    ), cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS np FROM bcnt GROUP BY w2
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS b FROM bcnt
    ), scored AS (
      SELECT bc.w1, bc.w2, bc.c12,
             CAST(FLOOR(({_KN_EXPR}) * 1000000000.0) AS BIGINT) AS p_nano
      FROM bcnt bc
      JOIN ctx ON ctx.w1 = bc.w1
      JOIN cont ON cont.w2 = bc.w2
      CROSS JOIN tot
      WHERE bc.c12 >= 5
    )
    SELECT w1, w2, c12, p_nano, rn FROM (
      SELECT *, ROW_NUMBER() OVER (ORDER BY p_nano DESC, w1, w2) AS rn
      FROM scored
    ) WHERE rn <= 100
    """,
)
def kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (Kneser & Ney
    1995; Chen & Goodman 1998's benchmark smoother), top-100 by
    p_KN(w2|w1) = (c(w1w2)−D)/c(w1) + D·N1+(w1·)/c(w1) · N1+(·w2)/B
    with absolute discount D = 0.75 — the continuation-probability
    backoff that add-k smoothing (`lm_perplexity_filter`) lacks: a
    word seen often but only after ONE context ("francisco") gets a
    small continuation weight no matter its raw frequency.

    Determinism: every count is an exact integer; D = 0.75 is an
    exact double; and the probability is evaluated from ONE shared
    formula string (the `ab_test_wilson` technique) so both engines
    run the identical IEEE tree before the nano floor. Observed
    bigrams have c ≥ 1 > D, so the discount clamp is vacuous and the
    formula is branch-free.

    Scale shape: one bigram aggregate + two vocab-keyed marginal
    aggregates (context totals/follower counts and continuation
    counts are GROUP BYs over the bigram-TYPE table, which grows
    Heaps-sublinearly), one scalar broadcast, and a
    TakeOrderedAndProject top-100."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = docs.select(words("text").alias("t"))
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - F.lit(1))).alias("i"),
        )
        .select(
            F.expr("element_at(t, i)").alias("w1"),
            F.expr("element_at(t, i + 1)").alias("w2"),
        )
    )
    bcnt = big.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("c12")
    )
    ctx = bcnt.groupBy("w1").agg(
        F.sum("c12").cast("bigint").alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("nf"),
    )
    cont = bcnt.groupBy("w2").agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    tot = F.broadcast(bcnt.agg(F.count(F.lit(1)).cast("bigint").alias("b")))
    scored = (
        bcnt.filter(F.col("c12") >= 5)
        .join(ctx, "w1")
        .join(cont, "w2")
        .crossJoin(tot)
        .select(
            "w1",
            "w2",
            "c12",
            F.floor(F.expr(_KN_EXPR) * 1000000000.0)
            .cast("bigint")
            .alias("p_nano"),
        )
    )
    top = scored.orderBy(F.col("p_nano").desc(), "w1", "w2").limit(100)
    w = Window.orderBy(F.col("p_nano").desc(), "w1", "w2")
    return top.withColumn("rn", F.row_number().over(w)).select(
        "w1", "w2", "c12", "p_nano", "rn"
    )
