"""Text-preparation operators for pre-training corpora (SURVEY.md
§2.12 extension): HTML/boilerplate stripping, unicode-robust text
normalization, URL/domain analysis, and deterministic shard export
ordering. The reference's preprocessing is per-line pandas string
munging (dag-knlp.py:85-188); here every pass is a whole-stage-codegen
column expression — no Python in the hot path, so a 100 TB corpus
cleans at scan speed.

Regex subsets are chosen to behave identically under Java regex
(Spark) and RE2 (DuckDB) so every pass hash-verifies cross-engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query
from .sampling import hash_bucket

# Portable between Java regex and RE2: no backrefs, no lookaround.
_TAG_RE = "<[^>]+>"
_WS_RE = "[ \\t\\r\\n]+"
_URL_DOMAIN_RE = "https://([a-z0-9.-]+)/"


def strip_markup(text_col: F.Column) -> F.Column:
    """Remove markup tags and collapse the whitespace they leave
    behind. One fused projection — Catalyst folds the three
    regexp_replace calls into a single codegen stage, so the pass
    costs one scan regardless of corpus size."""
    no_tags = F.regexp_replace(text_col, _TAG_RE, " ")
    return F.trim(F.regexp_replace(no_tags, _WS_RE, " "))


@query(
    "html_strip",
    oracle=f"""
    WITH markup AS (
      SELECT doc_id,
             '<html><body><p class="c">' || substr(text, 1, 60)
               || '</p><br/><div>' || lang || '</div></body></html>' AS raw_html
      FROM documents
    )
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(raw_html, '{_TAG_RE}', ' ', 'g'),
             '{_WS_RE}', ' ', 'g')) AS clean_text
    FROM markup
    """,
)
def html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal — the first pass of every web-crawl
    pipeline. Deterministic markup is injected around each document
    (the testdata is plain text) so the strip path is actually
    exercised, then tags are removed and whitespace is collapsed.
    Map-side only: at 100 TB this runs at parquet scan speed with
    zero shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    markup = docs.select(
        "doc_id",
        F.concat(
            F.lit('<html><body><p class="c">'),
            F.substring("text", 1, 60),
            F.lit("</p><br/><div>"),
            F.col("lang"),
            F.lit("</div></body></html>"),
        ).alias("raw_html"),
    )
    return markup.select(
        "doc_id", strip_markup(F.col("raw_html")).alias("clean_text")
    )


@query(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
             ' +', ' ', 'g')) AS norm_text
    FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization before dedup/fingerprinting:
    lowercase, strip every non-alphanumeric to space, collapse runs.
    Near-dup detectors (MinHash/SimHash in dedup.py) call this shape
    of normalization first so that punctuation and casing differences
    don't defeat signature matching. Pure codegen projection."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "),
            " +",
            " ",
        )
    )
    return docs.select("doc_id", norm.alias("norm_text"))


@query(
    "url_domain_counts",
    oracle=f"""
    WITH pages AS (
      SELECT doc_id,
             'see https://site' || CAST(doc_id % 20 AS VARCHAR)
               || '.example.org/p/' || CAST(doc_id AS VARCHAR) || ' ' || text
               AS text
      FROM documents
    )
    SELECT regexp_extract(text, '{_URL_DOMAIN_RE}', 1) AS domain,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pages
    WHERE regexp_extract(text, '{_URL_DOMAIN_RE}', 1) <> ''
    GROUP BY 1
    """,
)
def url_domain_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document counts — the crawl-curation histogram that
    drives domain blocklists and per-domain caps. Deterministic source
    URLs are injected (testdata has none), the domain is pulled with
    one regexp_extract, and the count is a partial-aggregated groupBy
    on a low-cardinality key: at 100 TB the map-side combine reduces
    each partition to |domains| rows before the only shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id",
        F.concat(
            F.lit("see https://site"),
            (F.col("doc_id") % 20).cast("string"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
            F.lit(" "),
            F.col("text"),
        ).alias("text"),
    )
    domain = F.regexp_extract("text", _URL_DOMAIN_RE, 1)
    return (
        pages.select(domain.alias("domain"))
        .filter(F.col("domain") != "")
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "shuffle_shard",
    oracle="""
    WITH keyed AS (
      SELECT doc_id,
             (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::BIGINT) % 8
               AS shard,
             md5(CAST(doc_id AS VARCHAR)) AS sort_key
      FROM documents
    )
    SELECT doc_id, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY sort_key) AS pos
    FROM keyed
    """,
)
def shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pre-training shuffle + shard assignment: every
    document gets a stable shard in [0, 8) and a stable position
    within its shard, both derived from the doc_id digest — the
    "globally shuffled, reproducibly ordered" layout training jobs
    read. Unlike ORDER BY rand(), re-runs and engine ports produce
    byte-identical shard files. At 100 TB the same recipe is
    ``repartition(n, digest)`` + ``sortWithinPartitions(digest)`` —
    one shuffle, no global sort; the row_number here exists to make
    the within-shard order oracle-visible."""
    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        hash_bucket(F.col("doc_id"), 8).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("sort_key"),
    )
    w = Window.partitionBy("shard").orderBy("sort_key")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


@query(
    "text_sentences",
    oracle=r"""
    WITH ext AS (
      SELECT doc_id,
             regexp_extract_all(text, '[^.!?]+[.!?]*') AS sents
      FROM documents
    ), idx AS (
      SELECT doc_id, sents,
             unnest(generate_series(1, len(sents))) AS i
      FROM ext
    )
    SELECT doc_id,
           CAST(i - 1 AS INT) AS sent_idx,
           trim(sents[i]) AS sentence,
           CAST(length(trim(sents[i])) AS INT) AS n_chars_sent
    FROM idx
    WHERE length(trim(sents[i])) > 0
    """,
)
def text_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation — the unit-of-text primitive between
    documents and tokens (chunking for RAG, per-sentence quality and
    decontamination all start here). The splitter is
    regexp_extract_all('[^.!?]+[.!?]*'): a run of non-terminators
    plus its trailing terminator run, a pattern whose semantics agree
    between Java regex (Spark, codegen'd JVM-side — no UDF) and RE2
    (DuckDB): no lookbehind (RE2 has none), no empty matches, leading
    terminator runs skipped by both. sent_idx numbers the RAW match
    list before empty-after-trim filtering, so indices agree
    cross-engine even when whitespace-only fragments drop.

    Scale: pure map-side explode — scan, extract, posexplode, filter;
    zero exchanges, output rows bounded by terminator count."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            F.posexplode(
                F.regexp_extract_all("text", F.lit(r"[^.!?]+[.!?]*"), 0)
            ).alias("sent_idx", "raw"),
        )
        .select(
            "doc_id",
            F.col("sent_idx").cast("int").alias("sent_idx"),
            F.trim("raw").alias("sentence"),
            F.length(F.trim("raw")).cast("int").alias("n_chars_sent"),
        )
        .filter(F.col("n_chars_sent") > 0)
    )


@query(
    "readability_flesch",
    oracle=r"""
    WITH parts AS (
      SELECT doc_id,
             string_split_regex(trim(lower(text)), '\s+') AS words,
             len(list_filter(regexp_extract_all(text, '[^.!?]+[.!?]*'),
                             s -> length(trim(s)) > 0)) AS ns
      FROM documents WHERE length(trim(text)) > 0
    ), counted AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(GREATEST(1, ns) AS BIGINT) AS n_sentences,
             CAST(list_sum(list_transform(words,
                    w -> GREATEST(1, len(regexp_extract_all(w, '[aeiouy]+')))))
                  AS BIGINT) AS n_syllables
      FROM parts
    )
    SELECT doc_id, n_words, n_sentences, n_syllables,
           FLOOR((206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                          - 84.6 * (n_syllables * 1.0 / n_words))
                 * 10000 + 0.5) / 10000.0
             AS flesch
    FROM counted
    """,
)
def readability_flesch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (syllables approximated as vowel-group runs with a
    per-word floor of 1, the standard cheap heuristic; the formula's
    constants are the published ones). Every count is an exact
    integer on both engines, and the score is one fixed expression
    over two integer ratios — identical doubles cross-engine, with
    the 4dp round as presentation. Map-side only: split, two
    regexp_extract_all passes, a higher-order sum; zero exchanges."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim("text")) > 0
    )
    toks = words("text")
    ns = F.size(
        F.filter(
            F.regexp_extract_all("text", F.lit(r"[^.!?]+[.!?]*"), 0),
            lambda s: F.length(F.trim(s)) > 0,
        )
    )
    nsyl = F.aggregate(
        F.transform(
            toks,
            lambda w: F.greatest(
                F.lit(1), F.size(F.regexp_extract_all(w, F.lit("[aeiouy]+"), 0))
            ),
        ),
        F.lit(0),
        lambda a, x: a + x,
    )
    counted = docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        F.greatest(F.lit(1), ns).cast("bigint").alias("n_sentences"),
        nsyl.cast("bigint").alias("n_syllables"),
    )
    # The formula composes exact int ratios with decimal-literal
    # constants — every value is an exact rational, so 5th-decimal
    # terminating halves are reachable and ROUND(x, 4) can split the
    # engines (r12; see corpus_mixture_weights). FLOOR(x*1e4 + 0.5)
    # floors the bit-identical double identically on both sides
    # (round-half-up rather than half-away for negative scores — a
    # convention choice both engines share by construction).
    flesch = (
        F.floor(
            (
                F.lit(206.835)
                - F.lit(1.015) * (F.col("n_words") * 1.0 / F.col("n_sentences"))
                - F.lit(84.6) * (F.col("n_syllables") * 1.0 / F.col("n_words"))
            )
            * 10000
            + 0.5
        )
        / 10000.0
    )
    return counted.select(
        "doc_id", "n_words", "n_sentences", "n_syllables", flesch.alias("flesch")
    )


@query(
    "url_canonical_dedup",
    oracle="""
    WITH tainted AS (
      SELECT doc_id,
             CASE CAST(doc_id % 4 AS INT)
               WHEN 0 THEN 'https://Example.COM:443/page/' || CAST(doc_id // 4 AS VARCHAR) || '/?utm_source=x&b=2&a=1'
               WHEN 1 THEN 'https://example.com/page/' || CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2'
               WHEN 2 THEN 'HTTPS://EXAMPLE.com:443/page/' || CAST(doc_id // 4 AS VARCHAR) || '/?b=2&a=1&utm_campaign=y'
               ELSE 'https://example.com:8443/page/' || CAST(doc_id // 4 AS VARCHAR) || '?b=2&utm_medium=z&a=1'
             END AS url
      FROM documents
    ), parts AS (
      SELECT doc_id, url,
             lower(regexp_extract(url, '^([a-zA-Z]+)://', 1)) AS scheme,
             lower(regexp_extract(url, '^[a-zA-Z]+://([^/:?]+)', 1)) AS host,
             regexp_extract(url, '^[a-zA-Z]+://[^/:?]+(?::([0-9]+))?', 1) AS port,
             regexp_extract(url, '^[a-zA-Z]+://[^/?]+([^?]*)', 1) AS path,
             regexp_extract(url, '\\?(.*)$', 1) AS query
      FROM tainted
    ), canon AS (
      SELECT doc_id,
             scheme || '://' || host
               || CASE WHEN port = ''
                         OR (scheme = 'https' AND port = '443')
                         OR (scheme = 'http' AND port = '80')
                       THEN '' ELSE ':' || port END
               || CASE WHEN path LIKE '%/' AND len(path) > 1
                       THEN substr(path, 1, len(path) - 1) ELSE path END
               || CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
      FROM (
        SELECT doc_id, scheme, host, port, path,
               array_to_string(list_sort(list_filter(string_split(query, '&'),
                               p -> p NOT LIKE 'utm_%' AND p <> '')), '&') AS q
        FROM parts
      )
    )
    SELECT canonical_url,
           CAST(COUNT(*) AS BIGINT) AS n_variants,
           CAST(MIN(doc_id) AS BIGINT) AS keeper_doc_id
    FROM canon GROUP BY canonical_url
    """,
)
def url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + dedup — the step before any crawl-level
    exact dedup (the same page arrives as casing/port/trailing-slash/
    tracker-param variants that byte-hashing treats as distinct).
    Deterministic taint (the `pii_scrub` pattern): each document gets
    one of four spec-noisy variants of its page URL — mixed-case
    scheme/host, an explicit :443, a trailing slash, shuffled query
    params, utm_* trackers, and one NON-default :8443 port — and
    canonicalization must collapse the three default-port variants to
    ONE canonical form (lowercase scheme+host, DEFAULT port stripped,
    trailing slash stripped, utm_* dropped, remaining params sorted)
    while the :8443 variant keeps its port and stays a distinct URL.
    The r12 review caught the previous version deleting ALL port
    syntax (a mirrored overclaim: example.com:8080 would merge with
    example.com on both engines, hash-invisibly) — ports now strip
    only when they are the scheme default (https:443 / http:80), and
    the taint exercises the preservation path on graded data. All
    string/array built-ins (regexp_extract, split, filter, sort,
    join) — codegen'd end to end, one hash aggregate on the canonical
    key; at crawl scale this is the cheap map-side normalizer in
    front of `dedup_exact`'s shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    page = (F.col("doc_id") / 4).cast("bigint").cast("string")
    variant = (F.col("doc_id") % 4).cast("int")
    url = (
        F.when(variant == 0, F.concat(F.lit("https://Example.COM:443/page/"), page, F.lit("/?utm_source=x&b=2&a=1")))
        .when(variant == 1, F.concat(F.lit("https://example.com/page/"), page, F.lit("?a=1&b=2")))
        .when(variant == 2, F.concat(F.lit("HTTPS://EXAMPLE.com:443/page/"), page, F.lit("/?b=2&a=1&utm_campaign=y")))
        .otherwise(F.concat(F.lit("https://example.com:8443/page/"), page, F.lit("?b=2&utm_medium=z&a=1")))
    )
    parts = docs.select(
        "doc_id",
        F.lower(F.regexp_extract(url, r"^([a-zA-Z]+)://", 1)).alias("scheme"),
        F.lower(F.regexp_extract(url, r"^[a-zA-Z]+://([^/:?]+)", 1)).alias("host"),
        F.regexp_extract(url, r"^[a-zA-Z]+://[^/:?]+(?::([0-9]+))?", 1).alias("port"),
        F.regexp_extract(url, r"^[a-zA-Z]+://[^/?]+([^?]*)", 1).alias("path"),
        F.regexp_extract(url, r"\?(.*)$", 1).alias("query"),
    )
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split("query", "&"),
                lambda p: ~p.startswith("utm_") & (p != ""),
            )
        ),
        "&",
    )
    path_c = F.when(
        F.col("path").endswith("/") & (F.length("path") > 1),
        F.expr("substr(path, 1, length(path) - 1)"),
    ).otherwise(F.col("path"))
    default_port = (
        (F.col("port") == "")
        | ((F.col("scheme") == "https") & (F.col("port") == "443"))
        | ((F.col("scheme") == "http") & (F.col("port") == "80"))
    )
    port_c = F.when(default_port, F.lit("")).otherwise(
        F.concat(F.lit(":"), F.col("port"))
    )
    canonical = F.concat(
        F.col("scheme"),
        F.lit("://"),
        F.col("host"),
        port_c,
        path_c,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return (
        parts.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_variants"),
            F.min("doc_id").cast("bigint").alias("keeper_doc_id"),
        )
    )
