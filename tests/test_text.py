"""Text-analysis operators: langid heuristic, tokenizer, fingerprint."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_knlp_spark.catalog import load_table
from etl_knlp_spark.operators.text import (
    broadcast_lookup_udf,
    fingerprint,
    langid_udf,
    tokenize_udf,
)


def test_broadcast_dict_lookup_maps_hanja(spark):
    """The reference's core semantic: Korean→Hanja mapping via a
    bounded broadcast dictionary (dag-knlp.py's hanja table, applied
    as the SURVEY §2.11 lookup-UDF pattern)."""
    mapping = {"수학": "數學", "역사": "歷史"}
    udf = broadcast_lookup_udf(spark, mapping)
    df = spark.createDataFrame([(1, "수학 그리고 역사"), (2, None)], ["id", "text"])
    got = {r["id"]: r["m"] for r in df.select("id", udf(F.col("text")).alias("m")).collect()}
    assert got[1] == "數學 그리고 歷史"
    assert got[2] is None


def test_langid_detects_profiled_languages(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat and the dog"),
            (2, "der Hund und die Katze und das Haus"),
            (3, "le chat et la maison et un chien"),
            (4, "xyzzy plugh 12345"),
            (5, None),
            (6, "한국어 위키백과 문서의 제목과 본문"),  # agglutinated — script path
            (7, "수학 은 아름답다"),  # standalone particle — profile path
        ],
        ["id", "text"],
    )
    got = {
        r["id"]: r["pred"]
        for r in df.select("id", langid_udf()(F.col("text")).alias("pred")).collect()
    }
    assert got == {1: "en", 2: "de", 3: "fr", 4: "und", 5: "und", 6: "ko", 7: "ko"}


def test_tokenizer_lowercases_and_strips_punct(spark):
    df = spark.createDataFrame([(1, "Hello, World! Été 123")], ["id", "text"])
    toks = df.select(tokenize_udf()(F.col("text")).alias("t")).first()["t"]
    assert toks == ["hello", "world", "été", "123"]


def test_fingerprint_invariant_to_whitespace(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").limit(20)
    base = {r["doc_id"]: r["fp"] for r in fingerprint(spark, sf_dir).collect()}
    # re-spacing the text must not change the fingerprint
    respaced = docs.select(
        "doc_id", F.regexp_replace("text", " ", "   ").alias("text")
    )
    refp = respaced.select(
        "doc_id",
        F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))).alias("fp"),
    )
    for r in refp.collect():
        assert base[r["doc_id"]] == r["fp"]


def test_udaf_geomean_matches_sql_identity(spark, sf_dir):
    """The GROUPED_AGG pandas kernel must agree with exp(avg(ln)) to
    1e-9 relative on every group (the `udaf_matches` contract the
    driver hash-verifies)."""
    from etl_knlp_spark.operators.text import udaf_geomean

    rows = udaf_geomean(spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["udaf_matches"] for r in rows)


def test_arrow_batch_stats_counts_null_text_rows(spark, tmp_path):
    """Round-5 advisor finding: n_docs must be a true row count per
    lang — a NULL-text row contributes to n_docs (and nothing to
    n_tokens), exactly like the oracle's COUNT(*)."""
    from etl_knlp_spark.operators.text import arrow_batch_stats

    docs = spark.createDataFrame(
        [(1, "two tokens", "en"), (2, None, "en"), (3, None, "fr")],
        "doc_id LONG, text STRING, lang STRING",
    )
    d = str(tmp_path / "nulltext")
    docs.write.parquet(f"{d}/documents.parquet")
    got = {
        r["lang"]: (r["n_docs"], r["n_tokens"])
        for r in arrow_batch_stats(spark, d).collect()
    }
    assert got["en"] == (2, 2)
    assert got["fr"][0] == 1


def test_arrow_batch_stats_partials_combine_exactly(spark, sf_dir):
    """The mapInArrow per-batch partials must combine to exactly the
    whole-corpus per-lang counts regardless of batch boundaries —
    checked by forcing many tiny Arrow batches and comparing against
    the built-in expression path."""
    from pyspark.sql import functions as F

    from etl_knlp_spark.catalog import load_table
    from etl_knlp_spark.operators.text import arrow_batch_stats

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        got = {
            r["lang"]: (r["n_docs"], r["n_tokens"])
            for r in arrow_batch_stats(spark, sf_dir).collect()
        }
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    want = {
        r["lang"]: (r["n"], r["t"])
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size(F.regexp_extract_all("text", F.lit(r"\S+"), 0))).alias("t"),
        )
        .collect()
    }
    assert got == want


def test_langid_confusion_cells_partition_each_gold_class(spark, sf_dir):
    """Shares within each gold class must sum to 1 and cell counts to
    the class size — and the known testdata property (non-en text is
    English-like despite its label) must show up as off-diagonal
    mass, proving the eval table actually measures the data."""
    from pyspark.sql import functions as F

    from etl_knlp_spark.catalog import load_table
    from etl_knlp_spark.operators.text import langid_confusion

    rows = langid_confusion(spark, sf_dir).collect()
    sizes = {
        r["lang"]: r["n"]
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    by_gold: dict[str, list] = {}
    for r in rows:
        by_gold.setdefault(r["gold"], []).append(r)
    assert set(by_gold) == set(sizes)
    for gold, cells in by_gold.items():
        assert sum(c["n_docs"] for c in cells) == sizes[gold]
        assert abs(sum(c["gold_share"] for c in cells) - 1.0) < 1e-4
    non_en = [r for r in rows if r["gold"] != "en" and r["pred"] == "en"]
    assert non_en and all(r["gold_share"] > 0.5 for r in non_en)
