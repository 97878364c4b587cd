"""Dedup operators: exact, MinHash-LSH recall, SimHash neighbors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_knlp_spark.catalog import load_table
from etl_knlp_spark.operators.dedup import (
    dedup_simhash,
    exact_dedup,
    minhash_candidates,
    ngram_jaccard_pairs,
    simhash_neardup_pairs,
    simhash_signatures,
)


@pytest.fixture(scope="module")
def docs_with_dups(spark, sf_dir):
    """documents plus near-identical copies of the first 20 docs
    (one word appended → Jaccard on char-shingles stays ≥0.9)."""
    docs = load_table(spark, sf_dir, "documents")
    dups = (
        docs.filter(F.col("doc_id") < 20)
        .select(
            (F.col("doc_id") + 100_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" tail")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    return docs.unionByName(dups)


def test_exact_dedup_removes_exact_copies(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    doubled = docs.unionByName(docs)
    assert exact_dedup(doubled, ["text"]).count() == docs.count()


def test_minhash_finds_injected_near_dups(docs_with_dups):
    cands = minhash_candidates(docs_with_dups)
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    verified = cands.withColumn("j", inter / union).filter(F.col("j") >= 0.7)
    found = {
        (r["doc_a"], r["doc_b"]) for r in verified.select("doc_a", "doc_b").collect()
    }
    # every injected pair (i, i+100000) should be recalled: Jaccard ≈ 0.98
    # and P(band collision) > 1 - (1-0.98^4)^8 ≈ 1 - 1e-13
    expected = {(i, i + 100_000) for i in range(20)}
    assert expected <= found


def test_minhash_bucket_cap_bounds_pair_output(spark):
    """Round-5 verdict #3: an over-cap LSH bucket (adversarial
    duplicate multiplicity) must degrade from all-pairs to star
    emission — O(m) output, every pair flagged capped, every member
    still connected to the bucket representative — while under-cap
    corpora keep exact all-pairs emission with capped=false."""
    m = 12
    rows = [(i, "alpha beta gamma delta epsilon zeta " * 4, "en", "s", 100)
            for i in range(m)]
    # distinct filler docs so only the duplicate group collides
    rows += [(100 + i, f"filler{i} unique{i} words{i} here{i} now{i} end{i}",
              "en", "s", 50) for i in range(5)]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )

    capped = minhash_candidates(docs, bucket_cap=4)
    got = capped.select("doc_a", "doc_b", "capped").collect()
    star = {(r["doc_a"], r["doc_b"]) for r in got}
    # star output: m-1 pairs, not C(m,2)
    assert star == {(0, i) for i in range(1, m)}
    assert all(r["capped"] for r in got)

    uncapped = minhash_candidates(docs, bucket_cap=256)
    got2 = uncapped.select("doc_a", "doc_b", "capped").collect()
    assert len(got2) == m * (m - 1) // 2
    assert not any(r["capped"] for r in got2)


def test_ngram_df_cap_drops_hot_grams(spark):
    """A stop-word bigram shared by every doc must NOT generate
    candidate pairs: without the document-frequency cap, 40 docs
    sharing one hot gram fan out C(40,2)=780 join rows. Rare shared
    grams still pair."""
    rows = [(i, f"hot gram filler{i} tail{i}", "en") for i in range(40)]
    rows += [
        (100, "rare pair alpha beta", "en"),
        (101, "rare pair alpha gamma", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pairs = ngram_jaccard_pairs(docs, threshold=0.05, max_df_frac=0.25)
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs.collect()}
    # "hot gram" appears in 40/42 docs (df 95% > cap 25%) → dropped, so
    # the only surviving pair is the rare-gram one: docs 100/101 share
    # ("rare","pair") and ("pair","alpha") of 3 kept grams each → 2/4.
    assert set(got) == {(100, 101)}
    assert got[(100, 101)] == pytest.approx(0.5)


def test_ngram_cap_knob_matches_oracle_at_second_value(spark, sf_dir):
    """The DF-cap fraction is a user knob: at a second cap value (60%)
    the engine must still agree with the DuckDB oracle built from the
    same template — proving the cap is mirrored, not coincidental."""
    import duckdb

    from etl_knlp_spark.operators.dedup import ngram_jaccard_oracle

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.05, max_df_frac=0.6).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'"
    )
    want = {
        (a, b): j
        for a, b, j in con.execute(
            ngram_jaccard_oracle(threshold=0.05, max_df_frac=0.6)
        ).fetchall()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=0)  # IEEE-identical ratios


def test_ngram_cap_knob_changes_kept_gram_space(spark):
    """Knob sensitivity: a bigram at 50% document frequency is kept by
    a 60% cap but dropped by the 25% default, so the two settings pair
    different documents (on sf0.001 no gram lands between the caps, so
    this needs a constructed corpus)."""
    rows = [(i, "shared gram plus filler" + str(i), "en") for i in range(4)]
    rows += [(10 + i, f"unique{i} text body here", "en") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    # "shared gram"/"gram plus" have DF 4/8 = 50%
    loose = ngram_jaccard_pairs(docs, threshold=0.05, max_df_frac=0.6)
    tight = ngram_jaccard_pairs(docs, threshold=0.05, max_df_frac=0.25)
    loose_pairs = {(r["doc_a"], r["doc_b"]) for r in loose.collect()}
    tight_pairs = {(r["doc_a"], r["doc_b"]) for r in tight.collect()}
    assert {(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)} <= loose_pairs
    assert tight_pairs == set()  # the only shared grams were hot


def test_embedding_block_cap_routes_through_lsh(spark):
    """A label block larger than max_block takes the LSH route: the
    all-pairs join never sees it, yet near-identical vectors are still
    recalled (identical vectors share every signature band)."""
    import math

    from etl_knlp_spark.operators.dedup import embedding_neardup_pairs

    def vec(i):
        # unit-ish vectors spread around a 64-dim circle: far apart
        # pairwise (cos well below threshold) except the injected dups
        v = [0.0] * 64
        v[i % 32] = math.cos(i)
        v[(i % 32) + 32] = math.sin(i)
        return v

    rows = [(i, "hot", vec(i)) for i in range(120)]
    rows += [(1000 + i, "hot", vec(i)) for i in range(10)]  # exact dups
    rows += [(2000, "cold", vec(1)), (2001, "cold", vec(1))]  # small block
    e = spark.createDataFrame(
        rows, "vec_id long, label string, emb array<double>"
    )
    pairs = embedding_neardup_pairs(e, threshold=0.95, max_block=50)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    # LSH route: identical vectors collide on all 4 bands → all 10
    # injected dup pairs found despite the 170-row "hot" block never
    # entering the exact join.
    assert {(i, 1000 + i) for i in range(10)} <= got
    # exact route still covers the small block
    assert (2000, 2001) in got
    # nothing else is that similar
    assert len(got) == 11


def test_simhash_identical_docs_collide(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    copies = docs.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 100_000).alias("doc_id"), "text", "lang", "source", "n_chars"
    )
    sigs = simhash_signatures(docs.unionByName(copies))
    pairs = simhash_neardup_pairs(sigs, max_hamming=3)
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in pairs.collect()}
    for i in range(10):
        # identical text → identical signature → hamming 0
        assert found.get((i, i + 100_000)) == 0


def test_simhash_signature_is_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    a = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    b = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert a == b


def test_dedup_simhash_query_shape(spark, sf_dir):
    from etl_knlp_spark.operators.dedup import simhash_sigs

    out = simhash_sigs(spark, sf_dir)
    assert out.columns == ["doc_id", "simhash"]
    assert out.count() == load_table(spark, sf_dir, "documents").count()


def test_dedup_contracts_hold(spark, sf_dir):
    """The driver-facing trio queries are assertion contracts: all
    oracle-pinned booleans must come back TRUE (what the hash compare
    will require)."""
    from etl_knlp_spark.operators.dedup import dedup_minhash

    r = dedup_minhash(spark, sf_dir).collect()
    assert len(r) == 1
    assert r[0]["subset_ok"] and r[0]["recall_ok"]
    s = dedup_simhash(spark, sf_dir).collect()
    assert len(s) == 1
    assert (
        s[0]["sigs_complete"]
        and s[0]["sig_deterministic"]
        and s[0]["planted_recalled"]
    )
    assert s[0]["n_docs"] == load_table(spark, sf_dir, "documents").count()


def test_bloom_decontaminate_no_false_negatives(spark):
    """Docs that share a copied block with the benchmark are flagged by
    BOTH paths; the bloom path can never miss a doc the exact path
    flags (a set bit stays set)."""
    from etl_knlp_spark.operators.dedup import bloom_decontaminate

    bench_text = " ".join(f"benchword{i}" for i in range(80))
    rows = [(i, bench_text, "en") for i in range(3)]  # benchmark docs
    # contaminated: carries the full benchmark token stream (79 shared
    # bigrams — over the copied-block threshold used below)
    rows += [(100, bench_text + " extra tail tokens here", "en")]
    # clean: disjoint vocabulary
    rows += [(101, " ".join(f"clean{i} word{i}" for i in range(60)), "en")]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {
        r["doc_id"]: r
        for r in bloom_decontaminate(docs, lambda c: c < 50, threshold=60).collect()
    }
    assert out[100]["contaminated_exact"] and out[100]["contaminated_bloom"]
    assert not out[101]["contaminated_exact"]
    assert not out[101]["contaminated_bloom"]
    for r in out.values():  # superset invariant, every doc
        assert r["n_shared_bloom"] >= r["n_shared_exact"]


def test_bloom_gram_filter_bits_deterministic(spark):
    """Same gram set -> same literal bit array (the filter must be
    reproducible across sessions for the oracle contract to hold)."""
    from etl_knlp_spark.operators.dedup import bloom_gram_filter

    grams = spark.range(200).select((F.col("id") * 7919).alias("gh"))
    a, _ = bloom_gram_filter(spark, grams)
    b, _ = bloom_gram_filter(spark, grams)
    assert str(a) == str(b)


def test_bloom_fp_rate_within_budget(spark):
    """Probing 5k grams NOT in a 1k-gram filter: measured per-gram
    false-positive rate stays under 10x the analytic bound (~0.1% at
    these parameters)."""
    from etl_knlp_spark.operators.dedup import bloom_gram_filter

    bench = spark.range(1000).select((F.col("id") * 2654435761).alias("gh"))
    bits, contains = bloom_gram_filter(spark, bench)
    probe = spark.range(1_000_000, 1_005_000).select(
        (F.col("id") * 2654435761).alias("gh")
    )
    hits = (
        probe.withColumn("__bloom_bits", bits)
        .filter(contains("gh"))
        .count()
    )
    assert hits / 5000 < 0.01


def test_dedup_segments_drops_shared_block(spark):
    """A 50-token block copied into two documents is flagged as
    boilerplate in BOTH; the clean digest equals the md5 of each doc's
    text with the block removed."""
    import hashlib

    from etl_knlp_spark.operators.dedup import dedup_segments
    from etl_knlp_spark.catalog import load_table  # noqa: F401 (convention)

    block = " ".join(f"boiler{i}" for i in range(50))
    a_tail = " ".join(f"uniquea{i}" for i in range(50))
    b_tail = " ".join(f"uniqueb{i}" for i in range(50))
    rows = [
        (1, block + " " + a_tail, "en"),
        (2, block + " " + b_tail, "en"),
        (3, " ".join(f"solo{i}" for i in range(70)), "en"),
    ]
    import tempfile

    d = tempfile.mkdtemp(prefix="segtest_")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {r["doc_id"]: r for r in dedup_segments(spark, d).collect()}
    assert out[1]["n_boilerplate"] == 1 and out[2]["n_boilerplate"] == 1
    assert out[3]["n_boilerplate"] == 0
    assert out[1]["clean_digest"] == hashlib.md5(a_tail.encode()).hexdigest()
    assert out[2]["clean_digest"] == hashlib.md5(b_tail.encode()).hexdigest()
    # untouched doc reconstructs to its full (segment-joined) text
    assert out[3]["n_segments"] == 2


def test_jaccard_prefix_equals_unfiltered_exact(spark, sf_dir):
    """Prefix filtering is lossless: at the same threshold, the
    candidate-pruned join returns exactly the pairs of the naive
    inverted-index join with no DF cap."""
    from etl_knlp_spark.operators.dedup import (
        dedup_jaccard_prefix,
        ngram_jaccard_pairs,
    )

    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_jaccard_prefix(spark, sf_dir).collect()
    }
    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5, max_df_frac=1.0).collect()
    }
    assert got == want and len(got) > 0


def test_jaccard_prefix_finds_planted_pair(spark):
    """A planted 80%-overlap pair survives prefix pruning even when a
    hot gram (present in EVERY doc) would have dominated the naive
    index."""
    import tempfile

    from etl_knlp_spark.operators.dedup import dedup_jaccard_prefix

    shared = " ".join(f"w{i}" for i in range(40))
    rows = [(1, "hot pad " + shared, "en"), (2, "hot pad " + shared + " tail9 tail8", "en")]
    rows += [(i, "hot pad " + " ".join(f"u{i}x{j}" for j in range(30)), "en") for i in range(3, 40)]
    d = tempfile.mkdtemp(prefix="pftest_")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.mode(
        "overwrite"
    ).parquet(f"{d}/documents.parquet")
    out = {(r["doc_a"], r["doc_b"]) for r in dedup_jaccard_prefix(spark, d).collect()}
    assert (1, 2) in out
    # unrelated docs share only the hot 'hot pad' grams -> far below 0.5
    assert all(p == (1, 2) for p in out)


def test_jaccard_prefix_budget_guard_refuses_hot_corpora(spark, sf_dir):
    """The pre-flight candidate estimate (Σ prefix-df²) refuses before
    submitting the self-join when over budget, names the estimate and
    the capped siblings, and is inert at the graded scales under the
    production default."""
    import pytest

    from etl_knlp_spark.operators.dedup import jaccard_prefix_pairs

    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="refused.*candidate_budget=1"):
        jaccard_prefix_pairs(docs, candidate_budget=1)
    # the default budget admits the graded corpus (output pinned by
    # test_jaccard_prefix_equals_unfiltered_exact); budget=None skips
    # the estimate job entirely and must agree with the default path
    got = {
        (r["doc_a"], r["doc_b"])
        for r in jaccard_prefix_pairs(docs, candidate_budget=None).collect()
    }
    dflt = {
        (r["doc_a"], r["doc_b"]) for r in jaccard_prefix_pairs(docs).collect()
    }
    assert got == dflt and len(dflt) > 0


def test_duplicated_spans_merges_maximal_islands(spark):
    """ExactSubstr reduction on a planted corpus: a 12-token span
    shared by two docs reports once per doc as ONE maximal span (not
    five overlapping 8-shingles); within-doc repetition counts; a
    unique doc emits nothing."""
    from etl_knlp_spark.operators.dedup import duplicated_spans

    boiler = " ".join(f"b{i}" for i in range(12))  # 12-token shared span
    rep = " ".join(f"r{i}" for i in range(8))  # 8-token self-repeat
    rows = [
        (1, boiler + " " + " ".join(f"u1x{j}" for j in range(10))),
        (2, " ".join(f"u2x{j}" for j in range(5)) + " " + boiler),
        (3, rep + " mid1 mid2 mid3 mid4 mid5 mid6 mid7 mid8 " + rep),
        (4, " ".join(f"u4x{j}" for j in range(30))),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_len"])
        for r in duplicated_spans(docs, min_len=8).collect()
    }
    # doc 1: span covers tokens 1..12; doc 2: tokens 6..17
    assert out[1] == (1, 12, 12)
    assert out[2] == (6, 17, 12)
    # doc 3 repeats an 8-gram at positions 1 and 17 — two islands,
    # but only one row each since groupBy collapses… both spans exact:
    rows3 = sorted(
        (r["span_start"], r["span_end"])
        for r in duplicated_spans(docs, min_len=8).collect()
        if r["doc_id"] == 3
    )
    assert rows3 == [(1, 8), (17, 24)]
    assert 4 not in out


def test_minhash_giant_bucket_route_is_bit_identical(spark, monkeypatch):
    """Buckets above the giant threshold bypass collect_list for
    streaming star aggregates; the emitted (pair, capped) set must be
    identical either way — here a 40-member bucket (> bucket_cap=32)
    is forced down both paths by moving the threshold around it."""
    from etl_knlp_spark.operators import dedup as D

    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(i, text) for i in range(40)] + [(100, "unrelated words only here")],
        "doc_id long, text string",
    )

    def pairs_with(threshold):
        monkeypatch.setattr(D, "_GIANT_BUCKET_ROWS", threshold)
        return sorted(
            (r["doc_a"], r["doc_b"], r["capped"])
            for r in D.minhash_candidates(docs)
            .select("doc_a", "doc_b", "capped")
            .collect()
        )

    via_hof = pairs_with(65536)  # 40-member bucket stays on collect_list
    via_stream = pairs_with(8)  # giant_floor=max(32,8) → routes giant
    assert via_hof == via_stream and len(via_stream) == 39
    assert all(capped for _, _, capped in via_stream)
    assert all(a == 0 for a, _, _ in via_stream)  # star rep = min doc_id


def test_incremental_minhash_screen_flags_only_true_dups(spark):
    """Planted split: a new doc that near-duplicates history is
    flagged with the right partner; a novel new doc is not; an
    intra-batch (new-new) duplicate is NOT flagged — the screen is
    strictly vs history."""
    from etl_knlp_spark.operators.dedup import incremental_minhash_screen

    base = " ".join(f"w{i}" for i in range(40))
    novel = " ".join(f"n{i}" for i in range(40))
    batch_dup = " ".join(f"m{i}" for i in range(40))
    hist = spark.createDataFrame(
        [(1, base), (2, " ".join(f"h{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base + " tail"), (11, novel), (12, batch_dup), (13, batch_dup)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in incremental_minhash_screen(hist, new, 0.7).collect()
    }
    assert out[10]["is_near_dup"] and out[10]["dup_of"] == 1
    assert not out[11]["is_near_dup"] and out[11]["dup_of"] is None
    assert not out[12]["is_near_dup"] and not out[13]["is_near_dup"]
    assert len(out) == 4  # every new doc reports, flagged or not


def test_substring_rewrite_keeps_first_occurrence_only(spark):
    """Keep-first cut semantics: the canonical (lowest doc_id,
    position) copy of a duplicated span survives, every other copy's
    tokens are removed; docs without duplication are untouched."""
    import hashlib

    from etl_knlp_spark.operators.dedup import substring_rewrite

    boiler = " ".join(f"b{i}" for i in range(10))
    u1 = " ".join(f"u1x{j}" for j in range(10))
    u2 = " ".join(f"u2x{j}" for j in range(10))
    rows = [
        (1, boiler + " " + u1),  # canonical copy: kept in full
        (2, u2 + " " + boiler),  # later copy: boiler removed
        (3, " ".join(f"u3x{j}" for j in range(30))),  # untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in substring_rewrite(docs, min_len=8).collect()}
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert out[1]["n_removed"] == 0 and out[1]["clean_md5"] == md5(rows[0][1])
    assert out[2]["n_removed"] == 10 and out[2]["clean_md5"] == md5(u2)
    assert out[3]["n_removed"] == 0 and out[3]["clean_md5"] == md5(rows[2][1])
    assert out[2]["n_tokens"] == 20


def test_ngram_abs_df_cap_matches_oracle(spark, sf_dir):
    """The ABSOLUTE df cap (the corpus-growth-proof knob) mirrors in
    the oracle template exactly like the fractional one."""
    import duckdb

    from etl_knlp_spark.catalog import load_table, table_path
    from etl_knlp_spark.operators.dedup import (
        ngram_jaccard_oracle,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = sorted(
        (r["doc_a"], r["doc_b"], round(r["jaccard"], 9))
        for r in ngram_jaccard_pairs(
            docs, threshold=0.05, max_df_frac=1.0, max_df_abs=5
        ).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{table_path(sf_dir, 'documents')}'"
    )
    want = sorted(
        (int(a), int(b), round(j, 9))
        for a, b, j in con.sql(
            ngram_jaccard_oracle(threshold=0.05, max_df_frac=1.0, max_df_abs=5)
        ).fetchall()
    )
    assert got == want


def test_ngram_abs_df_cap_bounds_fanout(spark):
    """With 10-way duplicated content, an absolute cap below the
    duplication factor drops every shared gram — pair enumeration
    collapses instead of exploding quadratically (the 10x scale-probe
    failure mode, BASELINE.md round 4)."""
    from pyspark.sql import functions as F

    from etl_knlp_spark.operators.dedup import ngram_jaccard_pairs

    base = [(i, f"alpha bravo charlie delta echo tag{i}") for i in range(10)]
    rows = [
        (i * 100 + c, t.replace(f"tag{i}", f"tag{i} copy{c}"), "en")
        for i, t in base
        for c in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING, lang STRING")
    uncapped = ngram_jaccard_pairs(docs, threshold=0.05, max_df_frac=1.0)
    capped = ngram_jaccard_pairs(
        docs, threshold=0.05, max_df_frac=1.0, max_df_abs=5
    )
    # every gram is shared by ≥10 docs → the absolute cap kills all
    # candidates while the uncapped form enumerates the full fan-out
    assert uncapped.count() > 1000
    assert capped.count() == 0


def test_decontaminate_embedding_zero_shuffle_and_flags(spark, sf_dir):
    """The semantic-decontamination screen must be a pure scan-project:
    the eval matrix rides in the plan as a literal, so there is NO
    Exchange and NO join anywhere in the physical plan — per-row work
    only. Flags must agree with a brute-force numpy recompute."""
    import numpy as np

    from etl_knlp_spark.catalog import load_table
    from etl_knlp_spark.operators.dedup import _CONTAM_TAU, _EVAL_N, decontaminate_embedding

    out = decontaminate_embedding(spark, sf_dir)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "Join" not in plan
    rows = {r["vec_id"]: r for r in out.collect()}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    evs = [vecs[i] for i in range(_EVAL_N)]
    n_contam = 0
    for vid, v in vecs.items():
        if vid < _EVAL_N:
            assert vid not in rows
            continue
        mx = max(
            float(np.dot(ev, v) / (np.linalg.norm(ev) * np.linalg.norm(v)))
            for ev in evs
        )
        assert abs(rows[vid]["max_eval_cos"] - round(mx, 6)) < 1e-6
        n_contam += rows[vid]["contaminated"]
    # the threshold sits at ~p95 of this corpus: some flagged, most not
    assert 0 < n_contam < len(rows)


def test_semantic_dedup_planted_duplicates(spark):
    """Plant exact duplicate vectors in a small synthetic corpus: the
    keep-lowest rule must drop every planted copy (cos = 1.0 lands in
    the same block), keep the originals, and report the original as
    the representative."""
    import numpy as np

    from etl_knlp_spark.operators.dedup import semantic_dedup_sets

    rng = np.random.RandomState(7)
    base = rng.randn(40, 16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    # copies of vectors 3 and 11 under higher ids
    rows += [(100, rows[3][1]), (101, rows[11][1]), (102, rows[3][1])]
    vecs = spark.createDataFrame(rows, "vec_id LONG, emb ARRAY<DOUBLE>")
    out = {r["vec_id"]: r for r in semantic_dedup_sets(spark, vecs, k=4, tau=0.9).collect()}
    assert len(out) == 43
    # at tau=0.9 only the planted exact copies qualify: each is
    # dropped with its original as representative, everything else
    # (including the originals) survives
    for cid, rep in [(100, 3), (101, 11), (102, 3)]:
        assert out[cid]["removed"] and out[cid]["rep_id"] == rep
    for vid, r in out.items():
        if vid not in (100, 101, 102):
            assert not r["removed"] and r["rep_id"] is None
    # precision invariant: every removed doc's rep is a LOWER id at
    # genuine cosine ≥ tau, recomputed from the raw vectors
    by_id = {vid: np.array(emb) for vid, emb in rows}
    for cid in (100, 101, 102):
        a, b = by_id[out[cid]["rep_id"]], by_id[cid]
        cos = float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))
        assert out[cid]["rep_id"] < cid and cos >= 0.9


def test_edit_distance_pairs_blocking_and_band(spark):
    """Prefix blocking + banded Levenshtein: a within-block pair under
    the threshold is emitted with its true distance; a within-block
    pair beyond it is abandoned by the band (-1 → filtered); an
    identical-text pair in DIFFERENT blocks (leading edit) is missed
    by design — the signature paths own that recall."""
    from etl_knlp_spark.operators.dedup import edit_distance_pairs

    base = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, base),
        (2, base[:-5] + "dig place"),        # same prefix, few edits
        (3, base[:16] + "x" * 40),           # same prefix, >8 edits
        (4, "X" + base),                     # leading edit → other block
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {
        (r["doc_a"], r["doc_b"]): r["edit_dist"]
        for r in edit_distance_pairs(docs, prefix_len=16, max_edits=8).collect()
    }
    assert set(got) == {(1, 2)}
    assert 0 < got[(1, 2)] <= 8


def test_keep_best_prefers_quality_over_min_id(spark, sf_dir):
    """dedup_keep_best must pick the LONGEST member of every cluster
    (doc_id tiebreak), agree with near_dup_clusters on the clustering
    itself, and keep exactly one doc per cluster."""
    from etl_knlp_spark.operators.graph import dedup_keep_best, near_dup_clusters

    best = {r["doc_id"]: r for r in dedup_keep_best(spark, sf_dir).collect()}
    clusters = {r["doc_id"]: r["cluster_rep"] for r in near_dup_clusters(spark, sf_dir).collect()}
    assert {d: r["cluster_rep"] for d, r in best.items()} == clusters

    from etl_knlp_spark.catalog import load_table

    n_chars = {
        r["doc_id"]: r["n_chars"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "n_chars").collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for d, r in best.items():
        by_cluster.setdefault(r["cluster_rep"], []).append(d)
    for rep, members in by_cluster.items():
        keep = min(members, key=lambda d: (-n_chars[d], d))
        for d in members:
            assert best[d]["keep_id"] == keep
            assert best[d]["is_kept"] == (d == keep)


def test_edit_star_greedy_decisions(spark):
    """Star-verify semantics: every non-rep doc is judged against the
    block MIN only — a doc within the band of the rep is dropped, one
    beyond it survives even if it is close to another non-rep member
    (greedy transitivity, deliberately)."""
    from etl_knlp_spark.operators.dedup import edit_distance_dedup

    base = "the quick brown fox jumps over the lazy dog again"
    far = base[:16] + "y" * 30          # >8 edits from base
    rows = [
        (1, base),                       # rep of the block
        (2, base + " v2"),               # within band of rep → dropped
        (3, far),                        # beyond band of rep → kept
        (4, far + " v2"),                # close to 3, far from rep → kept
        (9, "Zother prefix entirely x"),  # singleton block → kept
    ]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in edit_distance_dedup(docs, 16, 8).collect()}
    assert out[1]["is_kept"] and out[1]["edit_dist"] == 0
    assert not out[2]["is_kept"] and 0 < out[2]["edit_dist"] <= 8
    assert out[3]["is_kept"] and out[3]["edit_dist"] == -1
    assert out[4]["is_kept"] and out[4]["edit_dist"] == -1  # judged vs rep 1, not 3
    assert out[9]["is_kept"] and out[9]["block_rep"] == 9
    assert all(r["block_rep"] == 1 for d, r in out.items() if d in (2, 3, 4))


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc embedded verbatim in a 10x-longer one: containment
    must flag the pair at ~1.0 with the short side as inner_doc, while
    the symmetric Jaccard path (same grams, same threshold family)
    stays far below its cutoff — the case this operator exists for."""
    import uuid

    from etl_knlp_spark.operators.dedup import dedup_containment

    short = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} w{i}x" for i in range(80))
    rows = [
        (1, short, "en", "s", len(short)),
        (2, filler + " " + short + " " + filler.upper(), "en", "s", 10),
        (3, "totally unrelated content here now", "en", "s", 10),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    )
    import tempfile

    d = tempfile.mkdtemp(prefix=f"contain_{uuid.uuid4().hex[:6]}_")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {(r["doc_a"], r["doc_b"]): r for r in dedup_containment(spark, d).collect()}
    assert (1, 2) in got
    r = got[(1, 2)]
    assert r["containment"] >= 0.99 and r["inner_doc"] == 1
    assert not any(3 in k for k in got)


def test_incremental_screen_persisted_index_is_text_free(spark, tmp_path):
    """ADVICE r7 #2: when the persisted historical artifacts
    (band-signature table + shingle-set table) are passed in, no stage
    of the screen touches historical TEXT — proven by handing it a
    history frame whose text was destroyed after indexing. Results
    must be identical to the recompute-from-raw default."""
    from etl_knlp_spark.operators.dedup import (
        _shingle_sets,
        incremental_minhash_screen,
        minhash_band_signatures,
    )

    base = " ".join(f"w{i}" for i in range(40))
    hist = spark.createDataFrame(
        [(1, base), (2, " ".join(f"h{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, base + " tail"), (11, " ".join(f"n{i}" for i in range(40)))],
        "doc_id long, text string",
    )
    # index once, persist, read back — the steady-state ingest shape
    bands_path = str(tmp_path / "hist_bands")
    sh_path = str(tmp_path / "hist_shingles")
    minhash_band_signatures(hist).write.parquet(bands_path)
    _shingle_sets(hist, "text", "doc_id").write.parquet(sh_path)

    gutted = hist.withColumn("text", F.lit(None).cast("string"))
    got = incremental_minhash_screen(
        gutted,
        new,
        0.7,
        history_bands=spark.read.parquet(bands_path),
        history_shingles=spark.read.parquet(sh_path),
    ).collect()
    want = incremental_minhash_screen(hist, new, 0.7).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    flags = {r["doc_id"]: r["is_near_dup"] for r in got}
    assert flags == {10: True, 11: False}


def test_lcs_span_pairs_planted_cases(spark):
    """Known longest-common-substring geometry: offset spans, tie
    runs (smallest a_start wins), no-overlap pairs (every shared
    token still yields length-1 islands), repeated tokens."""
    from etl_knlp_spark.operators.dedup import lcs_span_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "x a b c d y"),
            (3, "p q a b r s a b"),   # two "a b" runs vs doc 1
            (4, "z z z"),
            (5, "w w z z q"),
        ],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (4, 5)], "doc_a long, doc_b long"
    )
    out = {
        (r["doc_a"], r["doc_b"]): r for r in lcs_span_pairs(docs, pairs).collect()
    }
    r12 = out[(1, 2)]
    assert (r12["lcs_len"], r12["a_start"], r12["b_start"]) == (4, 1, 2)
    r13 = out[(1, 3)]  # "a b" at a_start=1; doc3 has it at j=3 and j=7
    assert (r13["lcs_len"], r13["a_start"], r13["b_start"]) == (2, 1, 3)
    r45 = out[(4, 5)]  # "z z" — doc4 offers starts 1,2; smallest wins
    assert (r45["lcs_len"], r45["a_start"], r45["b_start"]) == (2, 1, 3)
    import hashlib

    assert r12["span_digest"] == hashlib.md5(b"a b c d").hexdigest()


def test_lcs_span_pairs_budget_guard_refuses_over_budget(spark):
    """The pre-flight Cauchy-Schwarz point estimate must refuse a
    too-dense pair list BEFORE the match join, naming the
    multiplicity-independent siblings; a workable budget proceeds."""
    from etl_knlp_spark.operators.dedup import lcs_span_pairs

    docs = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "a b c d e f g h x")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    with pytest.raises(ValueError, match="duplicated_spans"):
        lcs_span_pairs(docs, pairs, point_budget=4)
    rows = lcs_span_pairs(docs, pairs, point_budget=10**6).collect()
    assert rows[0]["lcs_len"] == 8


def test_bagofwords_collapses_reordered_docs(spark, tmp_path):
    """Scrambled-copy detection: same token multiset in any order and
    multiplicity collapses; a one-token difference does not."""
    from pyspark.sql import Row

    from etl_knlp_spark.operators.dedup import dedup_bagofwords

    docs = spark.createDataFrame(
        [
            Row(doc_id=0, text="alpha beta gamma", lang="en", source="t", n_chars=16),
            Row(doc_id=1, text="gamma alpha beta alpha", lang="en", source="t", n_chars=22),
            Row(doc_id=2, text="alpha beta delta", lang="en", source="t", n_chars=16),
        ]
    )
    sf = str(tmp_path)
    docs.write.parquet(f"{sf}/documents.parquet")
    rows = dedup_bagofwords(spark, sf).collect()
    by_rep = {r.doc_id: r.dup_count for r in rows}
    assert by_rep == {0: 2, 2: 1}
