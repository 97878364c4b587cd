"""Text-analysis operators for training-data pipelines (SURVEY.md §2.11-2.12).

The reference's text processing is per-row Python (tokenize-by-split in
pandas loops, dag-knlp.py:85-188). Here the hot path is JVM-side column
expressions (split/regexp/higher-order functions inside whole-stage
codegen); Python appears only in Arrow-batched pandas UDFs for the
genuinely non-relational pieces (language-ID scoring), never row-at-a-time.

Operators: per-language corpus stats, token counting (the whitespace
tokenizer of functions/words.py + a BPE-ish regex), quality scoring
(length/punct/stopword ratios), document fingerprinting
(normalized-text digest), language-ID (stopword-profile heuristic,
pandas UDF), tokenizer UDF.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table
from ..functions.words import words
from ..registry import query

@query(
    "text_stats",
    oracle="""
    SELECT lang,
           COUNT(*)                                                     AS n_docs,
           AVG(n_chars)                                                 AS avg_chars,
           AVG(len(string_split_regex(trim(lower(text)), '\\s+')))      AS avg_tokens,
           MAX(len(string_split_regex(trim(lower(text)), '\\s+')))::BIGINT AS max_tokens
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics over `documents` (SURVEY §2.12).

    Tokenization is a codegen'd split expression — the partial
    aggregation happens map-side, so per-language traffic is O(langs).
    """
    docs = load_table(spark, sf_dir, "documents")
    # tokenize once in the projection; the two aggregates then read the
    # precomputed count instead of re-splitting the text per aggregate
    base = docs.select(
        "lang", "n_chars", F.size(words("text")).alias("n_tokens")
    )
    # integer averages unrounded: exact sums (< 2^53) ÷ same count →
    # identical doubles on both engines (see window_percent_rank note)
    return base.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("n_chars").alias("avg_chars"),
        F.avg("n_tokens").alias("avg_tokens"),
        F.max("n_tokens").cast("bigint").alias("max_tokens"),
    )


@query(
    "token_count",
    oracle="""
    SELECT doc_id,
           len(string_split_regex(trim(lower(text)), '\\s+'))::INT AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::INT AS n_bpe_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (SURVEY §2.12): whitespace tokens and a
    BPE-ish pre-tokenizer regex (letter runs / digit runs / single
    punctuation) — the standard proxy for LLM token budgeting."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(words("text")).alias("n_ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0)
        ).alias("n_bpe_tokens"),
    )


@query(
    "quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           len(toks)::INT AS n_tokens,
           len(list_filter(toks, x -> x IN ('the', 'a'))) * 1.0 / len(toks) AS stopword_ratio,
           n_chars * 1.0 / len(toks) AS avg_token_len,
           LEAST(n_chars / 500.0, 1.0) * 0.5
             + LEAST(len(list_filter(toks, x -> x IN ('the', 'a'))) * 5.0 / len(toks), 1.0) * 0.5
             AS quality
    FROM t
    """,
)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document-quality score (SURVEY §2.12): length and
    stopword-density components, the usual pre-training filter signals.
    Entirely higher-order column expressions — no UDF. Per-row ratios
    of exact ints stay UNROUNDED: IEEE division is engine-identical,
    while round-half boundaries are not (see window_percent_rank)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = words("text")
    base = docs.select("doc_id", "n_chars", toks.alias("toks"))
    n_tok = F.size("toks")
    n_stop = F.size(F.filter("toks", lambda x: x.isin("the", "a")))
    return base.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        (n_stop * 1.0 / n_tok).alias("stopword_ratio"),
        (F.col("n_chars") * 1.0 / n_tok).alias("avg_token_len"),
        (
            F.least(F.col("n_chars") / 500.0, F.lit(1.0)) * 0.5
            + F.least(n_stop * 5.0 / n_tok, F.lit(1.0)) * 0.5
        ).alias("quality"),
    )


@query(
    "fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint (SURVEY §2.12): digest of
    whitespace-normalized, lowercased text — the exact-dedup key that
    survives formatting noise. md5 is bit-identical across engines, so
    this is oracle-checkable end to end."""
    docs = load_table(spark, sf_dir, "documents")
    normalized = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return docs.select("doc_id", F.md5(normalized).alias("fp"))


# ---- pandas-UDF NLP surface (rows-only checks; SURVEY §2.11) -------------

# Stopword profiles per language for the n-gram/stopword language-ID
# heuristic. Real pipelines use fastText/CLD3; the heuristic keeps the
# same Spark plumbing (Arrow-batched pandas UDF over a text column).
_LANG_PROFILES: dict[str, frozenset[str]] = {
    "en": frozenset({"the", "a", "of", "and", "to"}),
    "de": frozenset({"der", "die", "das", "und", "ein"}),
    "fr": frozenset({"le", "la", "et", "un", "une"}),
    "es": frozenset({"el", "la", "y", "un", "una"}),
    "ko": frozenset({"은", "는", "이", "가", "을", "를", "의", "에", "와", "과"}),
}


def _langid_batch(texts: pd.Series) -> pd.Series:
    """Language-ID over an Arrow batch: argmax of stopword-profile hit
    rate, 'und' (undetermined) when nothing matches."""

    def detect(t: str) -> str:
        if not t:
            return "und"
        # script heuristic first: majority-Hangul text is Korean even
        # when no function-word particle appears standalone (Korean
        # particles agglutinate onto the noun, dag-knlp's domain)
        hangul = sum(1 for ch in t if "가" <= ch <= "힣")
        alpha = sum(1 for ch in t if ch.isalpha())
        if alpha and hangul / alpha > 0.5:
            return "ko"
        toks = t.lower().split()
        best, best_score = "und", 0
        for lang, profile in sorted(_LANG_PROFILES.items()):
            score = sum(1 for tok in toks if tok in profile)
            if score > best_score:
                best, best_score = lang, score
        return best

    return texts.map(detect)


def _tokenize_batch(texts: pd.Series) -> pd.Series:
    """Tokenizer batch fn (SURVEY §2.11 `udf_tokenize`): lowercase +
    non-alphanumeric split. Mirrors the reference's str.split parsing
    (dag-knlp.py:102) but vectorized per Arrow batch."""
    import re

    pat = re.compile(r"[^\W_]+", re.UNICODE)
    return texts.map(lambda t: pat.findall(t.lower()) if t else [])


def langid_udf():
    """Built lazily — pandas_udf registration needs an active session,
    and the registry must stay importable without one."""
    return pandas_udf(_langid_batch, T.StringType())


def broadcast_lookup_udf(spark, mapping: dict[str, str], default: str | None = None):
    """Dictionary-lookup pandas UDF with an explicitly broadcast table
    (SURVEY §2.11: the Hanja↔Hangul mapping pattern — a bounded
    reference dict shipped once per executor, not per task/row).

    Returns a UDF mapping each whitespace token through `mapping`
    (untouched tokens pass through, or `default` replaces them).
    """
    bc = spark.sparkContext.broadcast(mapping)

    def look_up(texts: pd.Series) -> pd.Series:
        m = bc.value

        def map_tokens(t: str) -> str:
            if not t:
                return t
            return " ".join(m.get(tok, tok if default is None else default) for tok in t.split())

        return texts.map(map_tokens)

    return pandas_udf(look_up, T.StringType())


def tokenize_udf():
    return pandas_udf(_tokenize_batch, T.ArrayType(T.StringType()))


def _zscore_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """Grouped-map kernel: per-language z-score of document length."""
    mu = pdf["n_chars"].mean()
    sd = pdf["n_chars"].std(ddof=1)
    out = pdf[["doc_id", "lang"]].copy()
    out["z_chars"] = ((pdf["n_chars"] - mu) / sd).round(6)
    return out


@query(
    "grouped_map_zscore",
    oracle="""
    SELECT doc_id, lang,
           ROUND((n_chars - AVG(n_chars) OVER (PARTITION BY lang))
                 / STDDEV_SAMP(n_chars) OVER (PARTITION BY lang), 6) AS z_chars
    FROM documents
    """,
)
def grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandas grouped-map (SURVEY §2.11): per-language z-score
    computed in a pandas kernel, hash-verified against the equivalent
    SQL window formulation — proving the Arrow group-batch path agrees
    with the relational one. Use the pandas form only when the
    transform has no window/agg equivalent; the shuffle (one per group
    key) is the same either way."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", "n_chars").groupBy("lang").applyInPandas(
        _zscore_group, schema="doc_id long, lang string, z_chars double"
    )


def _geomean_batch(v: pd.Series) -> float:
    """Grouped-agg kernel: geometric mean of a numeric column."""
    import numpy as np

    vals = v.to_numpy(dtype="float64")
    vals = vals[vals > 0]
    if len(vals) == 0:
        return 0.0
    return float(np.exp(np.log(vals).mean()))


@query(
    "udaf_geomean",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT)                          AS n_docs,
           ROUND(exp(avg(ln(n_chars))), 4)                   AS geomean_chars,
           TRUE                                              AS udaf_matches
    FROM documents
    WHERE n_chars > 0
    GROUP BY lang
    """,
)
def udaf_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregating pandas UDF (SURVEY §2.11's UDAF surface): per-lang
    geometric mean of document length via a GROUPED_AGG kernel. The
    whole group's column arrives as one Arrow batch; use only when the
    aggregate has no algebraic partial form (geomean does via
    sum-of-logs — kept here as the canonical UDAF plumbing demo).

    Assertion-contract oracle (same pattern as
    `approx_percentile_sketch`): the hash-compared geomean value comes
    from the SQL-expressible exp(avg(ln)) identity, and `udaf_matches`
    pins the pandas-UDAF result to within 1e-9 relative of it — so the
    driver hash-verifies the UDAF path instead of recording rows-only.
    """
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    geomean_udaf = pandas_udf(
        _geomean_batch, T.DoubleType(), F.PandasUDFType.GROUPED_AGG
    )
    # Spark disallows mixing GROUPED_AGG pandas UDFs with JVM aggregates
    # in one agg (INVALID_PANDAS_UDF_PLACEMENT) — run the two
    # aggregations separately and join on the bounded lang key.
    udaf_side = docs.groupBy("lang").agg(
        geomean_udaf(F.col("n_chars")).alias("udaf_val")
    )
    sql_side = docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.exp(F.avg(F.log(F.col("n_chars")))).alias("sql_val"),
    )
    return (
        sql_side.join(F.broadcast(udaf_side), "lang")
        .select(
            "lang",
            "n_docs",
            F.round("sql_val", 4).alias("geomean_chars"),
            (
                F.abs(F.col("udaf_val") - F.col("sql_val"))
                <= F.col("sql_val") * 1e-9
            ).alias("udaf_matches"),
        )
    )


@query(
    "script_ratio",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[가-힣]'))::INT        AS n_hangul,
           len(regexp_extract_all(text, '[一-鿿]'))::INT        AS n_cjk_ideograph,
           len(regexp_extract_all(text, '[a-zA-Z]'))::INT      AS n_latin,
           len(regexp_extract_all(text, '[0-9]'))::INT         AS n_digit
    FROM documents
    """,
)
def script_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode-script character profile per document (SURVEY §2.12 text
    analysis): Hangul / CJK-ideograph (Hanja) / Latin / digit counts —
    the script-mix signal behind the reference's Korean↔Hanja domain
    and any multilingual corpus routing. Pure regexp counting, JVM-side.
    """
    docs = load_table(spark, sf_dir, "documents")

    def count(pattern: str):
        return F.size(F.regexp_extract_all(F.col("text"), F.lit(pattern), 0))

    return docs.select(
        "doc_id",
        count("[가-힣]").alias("n_hangul"),
        count("[一-鿿]").alias("n_cjk_ideograph"),
        count("[a-zA-Z]").alias("n_latin"),
        count("[0-9]").alias("n_digit"),
    )


# Shared declarative mirror of the langid kernel: used verbatim by
# the udf_langid oracle (byte-identical — snapshot-guarded) and
# wrapped in an aggregation by the confusion-matrix oracle.
_LANGID_ORACLE = """
    WITH t AS (
      SELECT doc_id, lang, text,
             len(regexp_extract_all(text, '[가-힣]'))    AS hangul,
             len(regexp_extract_all(text, '[\\p{L}]'))   AS alpha,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, lang, text, hangul, alpha,
        len(list_filter(toks, x -> x IN ('der','die','das','und','ein'))) AS s_de,
        len(list_filter(toks, x -> x IN ('the','a','of','and','to')))     AS s_en,
        len(list_filter(toks, x -> x IN ('el','la','y','un','una')))      AS s_es,
        len(list_filter(toks, x -> x IN ('le','la','et','un','une')))     AS s_fr,
        len(list_filter(toks, x -> x IN ('은','는','이','가','을','를','의','에','와','과'))) AS s_ko
      FROM t
    )
    SELECT doc_id, lang,
      CASE WHEN text IS NULL THEN 'und'
           WHEN alpha > 0 AND hangul * 1.0 / alpha > 0.5 THEN 'ko'
           WHEN greatest(s_de, s_en, s_es, s_fr, s_ko) = 0 THEN 'und'
           WHEN s_de = greatest(s_de, s_en, s_es, s_fr, s_ko) THEN 'de'
           WHEN s_en = greatest(s_de, s_en, s_es, s_fr, s_ko) THEN 'en'
           WHEN s_es = greatest(s_de, s_en, s_es, s_fr, s_ko) THEN 'es'
           WHEN s_fr = greatest(s_de, s_en, s_es, s_fr, s_ko) THEN 'fr'
           ELSE 'ko' END AS lang_pred
    FROM s
    """


@query("udf_langid", oracle=_LANGID_ORACLE)
def udf_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID pandas UDF applied to `documents.text` — upgraded
    from rows-only in round 5: the heuristic (`_langid_batch`) IS
    SQL-expressible, so the oracle reimplements it declaratively —
    majority-Hangul script check, then stopword-profile argmax with
    the kernel's sorted-language tie-break (first max in de<en<es<fr<ko
    order wins, matching the Python loop's strict-greater update).
    Verified exact on sf0.01 and sf0.1 (0 mismatches / 5 500 docs);
    python's unicode `isalpha` maps to RE2 `\\p{L}` and python
    `str.split()` to `\\s+` on this corpus (ASCII + Hangul
    whitespace-free scripts — exotic unicode whitespace would be the
    divergence point)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", langid_udf()(F.col("text")).alias("lang_pred"))


@query(
    "udf_tokenize",
    oracle="""
    SELECT doc_id,
           array_to_string(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+'), ' ')
             AS tokens_ws,
           CAST(len(regexp_extract_all(lower(text), '[\\p{L}\\p{N}]+')) AS INT)
             AS n_tokens
    FROM documents
    """,
)
def udf_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer pandas UDF: doc_id → serialized token stream + count.

    Upgraded from rows-only in round 5: the kernel's python regex
    `[^\\W_]+` (unicode word chars minus underscore) maps to RE2
    `[\\p{L}\\p{N}]+` in the DuckDB oracle — verified token-for-token
    identical on sf0.01 and sf0.1 (0 / 5 500 docs). The classes can
    in principle diverge on combining marks (python \\w includes some
    RE2 \\p{N}\\p{L} does not); this corpus has none, and a mismatch
    surfaces as a loud hash failure, not silence.

    The kernel (`tokenize_udf`) returns array<string> for library
    callers; the registered query projects `concat_ws(' ', tokens)`
    instead of the raw array because the driver's canonicalizer
    sorts pandas object columns and numpy arrays are unhashable —
    registry queries must only emit scalar top-level columns
    (enforced by tests/test_entry.py)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = tokenize_udf()(F.col("text"))
    return docs.select("doc_id", toks.alias("tokens")).select(
        "doc_id",
        F.concat_ws(" ", "tokens").alias("tokens_ws"),
        F.size("tokens").alias("n_tokens"),
    )


@query(
    "udtf_chunk_text",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t
      FROM documents
    ), starts AS (
      SELECT doc_id, t, unnest(generate_series(1, len(t), 20)) AS s FROM toks
    )
    SELECT doc_id,
           ((s - 1) // 20)::INT            AS chunk_idx,
           array_to_string(t[s:s+19], ' ') AS chunk,
           len(t[s:s+19])::INT             AS n_tokens
    FROM starts
    """,
)
def udtf_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage chunking via a real Python UDTF (SURVEY §2.11 UDTF row —
    Spark 4 `@udtf` + LATERAL correlation): each document yields
    ceil(n_tokens/20) fixed-size word chunks, the unit RAG indexing
    and training-data packing operate on.

    One input row expands to N output rows inside the engine — the
    Python-side generalization of explode. The deterministic kernel
    (strip/lower/\\s+ split, 20-token windows, space re-join) is
    mirrored exactly by the DuckDB oracle's list slicing, so even this
    Python-defined operator is hash-verified. For hot paths prefer the
    Arrow-batched kernels (mapInPandas) — UDTFs are per-row; this one
    demonstrates API parity, not the 100 TB chunking path (that's
    `multimodal.sample_frames`-style mapInPandas)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx INT, chunk STRING, n_tokens INT")
    class ChunkText:
        def eval(self, text: str):
            import re

            if text is None:
                return
            # ASCII whitespace class pinned explicitly: python \s (and
            # str.strip) are unicode-aware (NBSP, \x85, \x1c-\x1f) while
            # the DuckDB oracle's RE2 \s and Spark's Java-regex split are
            # ASCII-only — unicode whitespace in a doc would otherwise
            # make engine and oracle chunk differently.
            toks = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" \t\n\x0b\f\r").lower())
            for i in range(0, len(toks), 20):
                c = toks[i : i + 20]
                yield (i // 20, " ".join(c), len(c))

    spark.udtf.register("chunk_text", ChunkText)
    docs = load_table(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_chunk_src")
    return spark.sql(
        "SELECT d.doc_id, c.* FROM _chunk_src d, LATERAL chunk_text(d.text) c"
    )


@query(
    "udf_arrow_scalar",
    oracle="""
    SELECT doc_id,
           CASE WHEN length(text) = 0 THEN 0
                ELSE length(replace(lower(text), ' ', '')) END AS n_nonspace,
           length(text) - length(replace(text, ' ', '')) AS n_spaces
    FROM documents
    """,
)
def udf_arrow_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized Python UDF (`@udf(useArrow=True)`, Spark 3.5+/4):
    the third Python-execution tier beside row-pickled UDFs and
    `pandas_udf` — per-row Python logic but Arrow-batch serialization,
    so the interpreter round-trip skips pickle entirely. The kernel is
    deliberately trivial string counting with an exact SQL mirror, so
    the API tier itself is what the oracle hash-verifies.

    Tier guidance for 100 TB (same conclusion the pandas_udf docstrings
    reach): built-in expressions > pandas_udf (vectorized kernels) >
    Arrow UDF (per-row logic, cheap transport) > pickled UDF (never in
    a hot path). Lazily constructed like every Python UDF here —
    decoration at import would require a live session."""
    from pyspark.sql.functions import udf

    @udf("int", useArrow=True)
    def n_nonspace(text: str) -> int:
        return len(text.replace(" ", "").lower()) if text else 0

    @udf("long", useArrow=True)
    def n_spaces(text: str) -> int:
        return text.count(" ") if text else 0

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        n_nonspace("text").alias("n_nonspace"),
        n_spaces("text").alias("n_spaces"),
    )


@query(
    "arrow_batch_stats",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
             AS n_tokens
    FROM documents
    GROUP BY lang
    """,
)
def arrow_batch_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` kernel tier (Spark 3.5+/4): the Python function
    receives raw `pyarrow.RecordBatch`es — no pandas materialization
    at all — and emits per-BATCH partial aggregates (lang, doc count,
    regex token count) that Spark then combines. This is the
    lowest-overhead Python tier for columnar kernels: pyarrow.compute
    runs vectorized C++ over the Arrow buffers Spark already shipped,
    and the operator's output is partial-aggregate-sized, so the
    Python→JVM return payload is O(batches), not O(rows) — the
    map-side-combine shape a 100 TB scan needs from any Python stage.
    The final groupBy sums partials: one shuffle of tiny rows. Exact
    SQL mirror (`\\S+` token runs), so the tier is hash-verified."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")

    out_schema = T.StructType(
        [
            T.StructField("lang", T.StringType()),
            T.StructField("n_docs", T.LongType()),
            T.StructField("n_tokens", T.LongType()),
        ]
    )

    def per_batch(batches):
        import numpy as np
        import pyarrow.compute as pc

        for batch in batches:
            tbl = pa.Table.from_batches([batch])
            toks = pc.count_substring_regex(tbl.column("text"), r"\S+")
            part = (
                pa.table(
                    {
                        "lang": tbl.column("lang"),
                        "tok": toks.combine_chunks()
                        if isinstance(toks, pa.ChunkedArray)
                        else toks,
                        # row counter independent of token-count
                        # nullness: a NULL-text row must still count
                        # toward n_docs, matching the oracle's
                        # COUNT(*) (round-5 advisor — ('tok','count')
                        # skipped null token values).
                        "one": pa.array(
                            np.ones(tbl.num_rows, dtype=np.int64)
                        ),
                    }
                )
                .group_by("lang")
                .aggregate([("tok", "sum"), ("one", "sum")])
            )
            yield pa.RecordBatch.from_arrays(
                [
                    part.column("lang").combine_chunks(),
                    part.column("one_sum").cast(pa.int64()).combine_chunks(),
                    part.column("tok_sum").cast(pa.int64()).combine_chunks(),
                ],
                names=["lang", "n_docs", "n_tokens"],
            )

    partials = docs.mapInArrow(per_batch, out_schema)
    return partials.groupBy("lang").agg(
        F.sum("n_docs").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )


@query(
    "langid_confusion",
    oracle=f"""
    WITH pred AS ({_LANGID_ORACLE}
    )
    SELECT lang AS gold, lang_pred AS pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(COUNT(*) * 1.0 /
                 SUM(COUNT(*)) OVER (PARTITION BY lang) * 1000000 + 0.5)
             / 1000000.0 AS gold_share
    FROM pred GROUP BY lang, lang_pred
    """,
)
def langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-evaluation family: the confusion matrix of the language-ID
    kernel against the gold `lang` label — (gold, pred) counts plus
    each cell's share of its gold class (the per-class recall lives on
    the diagonal). This is the eval table every classifier-shaped
    pipeline stage owes its operators. On this corpus the matrix
    surfaces a DATA finding, not a model one: every non-en gold class
    throws ~90% of its mass onto pred=en, because the synthetic text
    is English-like tokens regardless of its lang label — the label/
    content mismatch a confusion matrix exists to expose before
    anyone trains on the labels.

    The prediction runs through the REAL pandas-UDF kernel; the
    oracle re-derives it from the shared declarative mirror
    (`_LANGID_ORACLE`, byte-identical to the udf_langid oracle) and
    aggregates — so kernel drift AND aggregation both hash-gate. One
    partial-aggregated groupBy over (gold, pred): ≤ |langs|² cells
    cross the shuffle regardless of corpus size; the share window
    runs on the cell table, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    pred = docs.select(
        F.col("lang").alias("gold"),
        langid_udf()(F.col("text")).alias("pred"),
    )
    cells = pred.groupBy("gold", "pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("gold")
    return cells.select(
        "gold",
        "pred",
        "n_docs",
        # exact int ratio: floor-form rounding (r12; see
        # corpus_mixture_weights) — ROUND(x, 6) splits engines on
        # 7th-decimal-terminating halves of identical doubles
        (
            F.floor(F.col("n_docs") / F.sum("n_docs").over(w) * 1000000 + 0.5)
            / 1000000.0
        ).alias("gold_share"),
    )
