"""Regenerate PLANS.md: physical plans of representative queries with
the scale-relevant observations called out. Run after plan-affecting
changes:  python tools/dump_plans.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from etl_knlp_spark import registry  # noqa: E402
from etl_knlp_spark.session import get_spark  # noqa: E402

SHOWCASE = {
    "q1_dimension_build": (
        "Flagship (reference E3). Column-pruned scans (2-3 columns of "
        "wide tables), both dimension joins broadcast at this SF, and "
        "DISTINCT runs as partial HashAggregate BEFORE its exchange — "
        "duplicates die map-side. r15: the TRAILING DISTINCT is elided "
        "(provably redundant after the pre-join distinct + 1:1 PK "
        "joins — the oracle keeps SELECT DISTINCT as the backstop), "
        "removing two result-sized HashAggregate passes. At 100 TB "
        "AQE flips the orders join to shuffled SMJ; bucketing both "
        "tables on orderkey removes that exchange (see "
        "sources/layout.py + test_layout_graph)."
    ),
    "filter_notnull": (
        "Predicate pushdown: every filter reaches the parquet scan as "
        "PushedFilters; row groups that can't match never decompress."
    ),
    "groupby_agg": (
        "Partial aggregation: HashAggregate(partial) → Exchange → "
        "HashAggregate(final). Network carries 6 groups × partitions, "
        "not 600k rows."
    ),
    "join_asof": (
        "As-of join as union + single window over (user_id, ts): ONE "
        "exchange total — the naive inequality-join + re-aggregation "
        "formulation would shuffle twice and fan out clicks×purchases."
    ),
    "window_rownum": (
        "WindowGroupLimit: the rn<=3 filter pushes a per-partition "
        "top-k limit below the shuffle — each map task forwards at "
        "most 3 rows per group."
    ),
    "dedup_minhash": (
        "MinHash-LSH: signature built by explode + 32 codegen'd min() "
        "partial aggs (shuffle = docs × 32 longs); the band self-join "
        "carries only (band, doc_id); shingle sets re-join onto the "
        "few surviving candidate pairs. The ExistingRDD scans are the "
        "checkpointed band/shingle streams — each feeds two join "
        "sides, materialized once instead of re-running the signature "
        "build per side."
    ),
    "similarity_topk": (
        "Query set broadcast (BroadcastNestedLoopJoin over 5 rows); "
        "corpus never shuffles for scoring; per-query ranking bounded "
        "by WindowGroupLimit."
    ),
    "simhash_sigs": (
        "Bit-sliced SimHash signature build (r11): 32 branchless "
        "lane-packed sums — (h >> p) & 0x0000000100000001 counts bits "
        "p and p+32 per document in one long — replace the previous "
        "64-column SUM(CASE) agg whose ~700-node tree cost ~0.7 s of "
        "driver-side planning per submission. ONE exchange total (the "
        "thin token stream, repartitioned by doc_id so both the "
        "distinct-token dedup and the lane sums are partition-local); "
        "the 64-bit reassembly is a single fold over the lane array. "
        "1.7x at sf0.1, bit-identical signatures."
    ),
    "rhp_sigs": (
        "Random-hyperplane LSH signature build (r11): map-only Arrow "
        "matmul kernel — each mapInPandas batch computes all plane "
        "dots as one BLAS M @ P and packs sign bits vectorized. NO "
        "exchange at any corpus size (the previous formulation "
        "posexploded components, fanned them n_planes times through a "
        "plane join, and repartitioned). 3.3x at sf0.1; the plan is "
        "scan -> ArrowEvalPython/MapInPandas -> done."
    ),
    "max_length_toplimit": (
        "Sort-limit written exactly like the reference's DQ check — "
        "Catalyst plans TakeOrderedAndProject (per-partition heap), "
        "not a global sort."
    ),
    "dedup_ngram_jaccard": (
        "Inverted-index dedup, posting/cap stage (the registered query "
        "localCheckpoints this stream before the pair self-join, so the "
        "final plan reads an ExistingRDD — this dump shows the "
        "checkpointed subtree itself): the document-frequency cap is a "
        "BROADCAST anti-join — per-gram doc frequencies aggregate with "
        "map-side partials, only the (provably tiny) over-cap gram set "
        "broadcasts, and the posting list never shuffles for the cap. "
        "Hot stop-word grams can no longer fan out O(d²) join rows."
    ),
    "decontaminate_ngram": (
        "Benchmark decontamination: the held-out gram set builds once "
        "and BROADCASTS; the training corpus is probed map-side and "
        "only (doc_id, overlap_count) aggregates move. At 100 TB the "
        "corpus never shuffles against the benchmark."
    ),
    "repetition_filter": (
        "Gopher-style repetition signals as pure per-row array "
        "expressions — a single scan-project, zero exchanges: the "
        "cheapest possible shape for a full-corpus quality pass."
    ),
    "dedup_jaccard_prefix": (
        "Prefix-filtered EXACT Jaccard (AllPairs/PPJoin): only the "
        "rarest (1−t)·n grams per doc enter the self-join (df-ascending "
        "canonical order), so hot grams generate zero candidates — the "
        "inverted-index O((p·N)²) blow-up never happens, with no "
        "approximation. Since r8 the pair-dedup aggregate also applies "
        "PPJoin's positional filter (max intersection bound from the "
        "first shared prefix gram's canonical ranks — same shuffle, one "
        "extra max()): 37% of candidates never reach the gram-set "
        "verify, output provably identical. Verification is one "
        "sorted-array intersect per surviving candidate. Every join "
        "keys on 8-byte gram hashes / doc ids; nothing corpus-sized "
        "broadcasts."
    ),
    "embedding_quantize": (
        "int8 quantization as a single scan-project of codegen'd "
        "higher-order expressions — zero exchanges, no UDF. The "
        "payload this produces is what LSH-band / IVF-probe joins "
        "shuffle instead of float32: 4× less network at 100 TB."
    ),
    "layout_zorder": (
        "Morton-code clustering: the bit-interleave cascade is pure "
        "integer codegen on the scan, then one partial-aggregated "
        "groupBy over coarse z-buckets. Written z-ordered "
        "(write_zordered), every parquet file is narrow in BOTH filter "
        "dimensions — min/max file skipping works on either axis."
    ),
    "vocab_zipf": (
        "Global top-100 tokens WITHOUT a global sort: counts "
        "partial-aggregate map-side, TakeOrderedAndProject ships each "
        "partition's local top-100, and the rank/cumsum window runs on "
        "100 rows. The full vocabulary never converges on one "
        "partition."
    ),
    "q1_pricing_summary": (
        "TPC-H Q1, the canonical scan-heavy aggregate: the shipdate "
        "predicate reaches PushedFilters, all eight aggregates compute "
        "in the partial HashAggregate inside WholeStageCodegen, and "
        "the exchange carries 4 groups × partitions — at 100 TB the "
        "network moves kilobytes."
    ),
    "q21_waiting_suppliers": (
        "The fact table referenced three times (outer + EXISTS + NOT "
        "EXISTS) planned as one pass each: left-semi and left-anti "
        "hash joins on l_orderkey with suppkey/date residuals — no "
        "nested-loop anywhere, and the final top-20 is "
        "TakeOrderedAndProject, not a global sort."
    ),
    "cms_heavy_hitters": (
        "Count-min sketch built by the aggregation itself: each "
        "partition's partial HashAggregate over (row, bucket) IS the "
        "partial sketch, the final aggregate IS the elementwise merge "
        "— ≤ d·w rows cross the wire regardless of corpus size, and "
        "estimation joins broadcast cells."
    ),
    "fuzzy_join_names": (
        "Blocked entity resolution: the (brand, noun) equi-block is "
        "the join key, so Levenshtein runs only inside blocks as a "
        "join residual — the plan is a hash join, never a cartesian "
        "BroadcastNestedLoopJoin."
    ),
    "html_strip": (
        "Boilerplate removal as one fused scan-project: three "
        "regexp_replace passes collapse into a single WholeStageCodegen "
        "stage with zero exchanges — the cheapest shape for a pass "
        "that must touch every byte of a 100 TB crawl."
    ),
    "agg_skew_salted": (
        "Two-phase salted aggregation: the (key, salt) partial spreads "
        "a hot key over 16 reducers, the final combine sees ≤ "
        "keys × 16 rows. The plan shows both HashAggregate pairs — "
        "proof the hot key's row volume never converges on one task."
    ),
    "attribution_last_touch": (
        "Last-touch attribution: one shuffle on user_id for the "
        "candidate join (time predicate as residual), then the rn=1 "
        "filter compiles to WindowGroupLimit — per-partition 1-row "
        "heaps per purchase, so the window never materializes the full "
        "candidate fan-out."
    ),
    "mad_outlier": (
        "Robust outliers with the corpus never shuffling: both median "
        "aggregates reduce to per-source scalars, which re-join onto "
        "the scan as BROADCAST hash joins — the documents table "
        "streams through map-side twice, no exchange of corpus rows."
    ),
    "layout_partition_prune": (
        "Date-partitioned layout: the range predicate lands in "
        "PartitionFilters — pruning happens at directory listing, "
        "non-matching partitions never open a file. At 100 TB a 3-day "
        "query reads 3 directories, not the table."
    ),
    "shuffle_shard": (
        "Deterministic training-shard layout: digest computation is "
        "map-side, the only exchange is the shard hash partition, and "
        "within-shard ordering is a local sort per shard — no global "
        "sort, no rand() nondeterminism."
    ),
    "scan_agg_pushdown": (
        "Whole-table MIN/MAX/COUNT answered from parquet footer "
        "statistics: the v2 BatchScan carries PushedAggregation, so "
        "zero data pages decompress — at 100 TB the query reads a few "
        "KB of metadata per file instead of the table."
    ),
    "layout_dpp_join": (
        "Dynamic partition pruning: the dim side's filtered date set "
        "is injected into the fact scan as a runtime partition filter "
        "(SubqueryAdaptiveBroadcast dynamicpruning) — the fact table "
        "reads only the partitions the dim actually selects, decided "
        "at run time."
    ),
    "runtime_bloom_join": (
        "Runtime Bloom-filter join pruning: the selective dim builds "
        "bloom_filter_agg over its join keys; might_contain pre-"
        "filters the fact side BEFORE the shuffle. The shuffle-join "
        "analog of DPP — no layout requirement, ~dim-selectivity "
        "reduction of fact shuffle volume."
    ),
    "similarity_ivf_pruned": (
        "IVF probe against cluster-partitioned storage: the probe "
        "set reaches the stored corpus as a cluster_id partition "
        "filter, so probe I/O is nprobe/k of the corpus regardless "
        "of size — the vector-search shape of partition pruning."
    ),
    "bm25_topk": (
        "BM25 retrieval, r15 shuffle-free scan path: per-term counts "
        "are a map-side projection (size(filter(tokens, x = term))), "
        "so the plan has ZERO hash-partitioned exchanges — one fused "
        "aggregate row (n_docs, avgdl, per-term dfs) broadcasts, the "
        "score is a per-row expression over it, and the top-k is "
        "TakeOrderedAndProject. The r14 ordered-fold layout pin is "
        "now structural: contributions add in sorted-term order "
        "inside one projection (absent terms add an exact +0.0), "
        "bit-identical to the probe path's _ordered_sum fold through "
        "the shared _bm25_contrib expression. The pre-r15 plan "
        "shuffled the matching postings twice (tf aggregate + score "
        "fold); the corpus token stream never shuffled wholesale in "
        "either version."
    ),
    "bm25_pruned": (
        "BM25 against a term-bucketed postings index, now via the "
        "bm25_index_build/bm25_probe split APIs (the index is a "
        "persisted caller-owned artifact; this plan is PROBE-ONLY — "
        "no tokenization or build stage appears). The bucket IN "
        "predicate from the query terms lands in PartitionFilters — "
        "probe I/O is |Q|/buckets of the index at any corpus size. "
        "Same oracle as the scan path: the driver verifies the index "
        "loses nothing."
    ),
    "source_overlap": (
        "Cross-source overlap matrix off ONE shingle-keyed shuffle: "
        "collect_set(source) partial-aggregates map-side (set size "
        "bounded by source count, not corpus size), then pair "
        "expansion, per-source totals, and the Jaccard join all "
        "operate on the aggregated set — no corpus-sized self-join "
        "of the shingle stream."
    ),
    "decontaminate_embedding": (
        "Semantic decontamination as a PURE scan-project: the eval "
        "matrix is a plan literal, the per-doc max-cosine is transform "
        "+ array_max inside WholeStageCodegen — zero joins, zero "
        "exchanges anywhere in the plan. The corpus is read once and "
        "nothing moves between executors; the broadcast-join + groupBy "
        "alternative would shuffle the corpus on vec_id."
    ),
    "mine_hard_negatives": (
        "Hard-negative mining rides the similarity_topk skeleton: the "
        "query set is a BroadcastNestedLoopJoin literal (the label "
        "mismatch is the join condition, so same-label pairs are "
        "rejected before the cosine fold runs), the corpus never "
        "shuffles for scoring, and WindowGroupLimit bounds each "
        "partition's contribution to k rows per query before the one "
        "rank exchange."
    ),
    "dedup_edit_star": (
        "Star-verify edit dedup: one shuffle on the 16-char prefix for "
        "the per-block min (partial map-side), AQE broadcasts the "
        "rep-text side back, and the banded levenshtein(text, rep, 8) "
        "runs inside WholeStageCodegen once per row — comparisons are "
        "N - n_blocks (linear at any dup density), vs the pair "
        "enumerator's quadratic within-block fan-out (measured 250x "
        "at the 10x probe, BASELINE.md)."
    ),
    "dsir_importance_hashed": (
        "DSIR production scoring: hashing features into a fixed bucket "
        "space turns the log-ratio table into a BroadcastExchange — the "
        "per-token scoring join is map-side (BroadcastHashJoin under "
        "the final partial aggregation), so the corpus never shuffles "
        "to be scored; only per-doc partials move. The exact-gram twin "
        "(registered, oracled) shuffles on the gram key instead — the "
        "hash is what buys the broadcast."
    ),
    "eval_prf_summary": (
        "Classifier evaluation as ONE grouped pass: the confusion "
        "matrix aggregates map-side to ≤|langs|² cells and is "
        "localCheckpointed (the ExistingRDD below), so the corpus is "
        "scanned — and the pandas-UDF prediction run — exactly once; "
        "the three per-class aggregation branches (n_gold / n_pred / "
        "tp) and their joins all read the materialized cell table. "
        "Before the checkpoint Catalyst re-ran the scan per branch: "
        "the round-7 audit of this plan found three full corpus scans "
        "and FOUR ArrowEvalPython nodes for one evaluation."
    ),
    "hybrid_retrieval_rrf_pruned": (
        "The index-probed hybrid retrieval stack: the lexical branch "
        "reads ONLY the probed term buckets of the persisted postings "
        "artifact (PartitionFilters directory pruning — same subtree "
        "as bm25_pruned) instead of tokenizing the corpus; the "
        "semantic branch broadcasts the query vector and bounds "
        "ranking with TakeOrderedAndProject; the RRF fusion joins two "
        "≤20-row rank lists. Nothing rescans the corpus — the shape a "
        "100 TB retrieval tier actually serves, hash-verified "
        "identical to the scan-path `hybrid_retrieval_rrf`."
    ),
    "arrow_batch_stats": (
        "mapInArrow partial aggregation: the Python stage (ArrowEvalPython-"
        "free MapInArrow node) emits per-batch (lang, count, tokens) "
        "partials, so the exchange above it carries O(batches) tiny "
        "rows — the map-side-combine shape that keeps a Python kernel "
        "viable inside a 100 TB scan."
    ),
    "warc_read": (
        "WARC ingestion: a binaryFile scan (one task per ~1 GB "
        ".warc.gz shard — Common Crawl's own granularity IS the "
        "partition grain) feeding a single MapInPandas parse node. "
        "ZERO exchanges anywhere: crawl ingestion is embarrassingly "
        "parallel and the plan proves nothing breaks that."
    ),
    "incremental_minhash_screen": (
        "Steady-state ingest screening: the historical band table "
        "truncates to the reps_per_bucket lowest ids per (band_idx, "
        "band_hash) bucket BEFORE the probe join — since r8 a sorted "
        "collect_list slice with the giant-bucket min() routing (the "
        "r7 rank window sorted the WHOLE historical band table: the "
        "one non-partial-aggregable stage, 2x at the 100x probe; "
        "BASELINE.md r8) — bounding candidates at 8 x reps per new "
        "doc at ANY historical duplicate density. The exact-verify "
        "joins touch only surviving candidates."
    ),
    "dedup_substring_doubling": (
        "ExactSubstr via hash doubling: the span fingerprints build "
        "INSIDE one projection per document row (nested HOF pairing "
        "rounds, each localCheckpointed so the twice-referenced "
        "previous round materializes once) — O(corpus·log L) "
        "fixed-width hashes, zero exchanges, where direct shingling "
        "hashes O(corpus·L) concatenated bytes (4x measured at L=512, "
        "BASELINE.md). Downstream identical to dedup_substring: one "
        "count shuffle + the per-doc islands window; byte-identical "
        "oracle pins the two constructions equal."
    ),
    "triangle_clustering": (
        "Degree-ordered triangle counting (Suri-Vassilvitskii): edges "
        "orient from the (degree, id)-smaller endpoint, so each "
        "triangle is counted once from its minimum node and wedge "
        "fan-out is bounded by the ORIENTED out-degree (O(sqrt E)) — a "
        "hub's raw degree never lands on one reducer. Three shuffles "
        "(degree count, wedge join, existence join). The co-activity "
        "edge BUILDER carries a pre-flight pair budget: its self-join "
        "is quadratic in per-(bucket, type) cardinality by definition, "
        "and the 100x shared-clock probe (1.65e9 pairs) refuses in 2s "
        "where the unguarded join OOMed (BASELINE.md r8)."
    ),
    "suffix_array": (
        "Per-doc suffix arrays by prefix doubling: log(cap) rounds of "
        "(positional self-join + doc-partitioned rank window), every "
        "window group bounded by doc length — parallelism = n_docs at "
        "any corpus size, no global sort. The round join is PINNED "
        "sort-merge (checkpoint barriers hide stats from Catalyst; the "
        "unpinned plan broadcast a 100M-row rank table at the 100x "
        "probe — driver OOM — and shuffle_hash OOMed executors; "
        "BASELINE.md r8). Plan-guarded in test_suffixarray."
    ),
    "join_interval_overlap": (
        "Interval-overlap join: intervals explode to covered time "
        "buckets, equi-join on bucket id, exact overlap residual, "
        "multi-bucket dedup — the theta join the oracle runs directly "
        "is unrunnable at scale; fan-out per row is length/bucket + 1. "
        "3.9x wall at the 100x events probe with output exactly 100x "
        "(BASELINE.md r8)."
    ),
    "dedup_substring": (
        "ExactSubstr spans without suffix arrays: the checkpointed "
        "shingle stream (ExistingRDD — one scan + explode feeds both "
        "the dup-count aggregate and the position join) is filtered "
        "by a COUNT>1 semi-side whose aggregation partials run "
        "map-side, then ONE window pass per doc merges positions "
        "into maximal spans. No self-join anywhere — cost is "
        "independent of duplication density, unlike the pairwise "
        "dedup family; the dup-set join side is unbounded so it is "
        "deliberately NOT hinted broadcast (AQE picks broadcast at "
        "small SFs, shuffled-hash at corpus scale)."
    ),
    "sample_weighted": (
        "Weighted reservoir (A-ES): the k smallest race keys come from "
        "TakeOrderedAndProject — per-partition k-row heaps merged on "
        "the driver, NEVER a global sort; the rank window runs over "
        "the k-row winner set only. Map-side race-key projection is "
        "codegen'd (md5 + conv + log). Plan-guarded in test_plans."
    ),
    "kcore_users": (
        "k-core peeling round (shown: the first iteration's plan): one "
        "degree HashAggregate with map-side partials + two LeftSemi "
        "joins keyed on node id; the driver loop localCheckpoints each "
        "round so lineage stays flat and the only driver data is the "
        "scalar edge count probing the fixpoint. Round count = peel "
        "depth, not diameter."
    ),
    "id_gaps": (
        "Sequence audit without ORDER BY id: presence counts per "
        "1024-id bucket (partial agg map-side) left-joined against the "
        "exploded bucket range — the lag-window formulation funnels "
        "the corpus through one partition; this shape never does."
    ),
    "pmi_collocations": (
        "Corpus-wide top-k: the final top-100 is TakeOrderedAndProject "
        "(per-partition heaps + k-row driver merge), NOT a global "
        "row_number window — InferWindowGroupLimit skips empty "
        "partition specs, so the window formulation would sort the "
        "whole pair table in one partition. The rank attaches after, "
        "over the 100 survivors. Count joins are vocab-keyed "
        "(Heaps-sublinear); the two scalar totals broadcast."
    ),
    "skyline_parts": (
        "Pareto frontier as the LINEAR sort-sweep: per-price max "
        "aggregate, a running max over the price-DOMAIN-bounded "
        "distinct table, one join back. The quadratic dominance join "
        "exists only in the DuckDB oracle (IEJoin there); the Spark "
        "side never emits a pair."
    ),
    "item_cf_cosine": (
        "Co-purchase pair emitter priced pre-flight (Σ C(basket,2) "
        "scalar agg) BEFORE the self-join exchange materializes; "
        "per-item top-10 is a PARTITIONED rank window, which "
        "InferWindowGroupLimit reduces to per-partition heaps — "
        "contrast pmi_collocations' global-top-k TakeOrdered route."
    ),
    "seasonal_mad_anomaly": (
        "Distributed-selection medians: row_number rank + two middle "
        "picks per (type, hour) stratum — never a collected per-group "
        "array, so stratum size bounds nothing but sort work. Four "
        "window/agg passes all keyed on the fixed 120-stratum grid."
    ),
}


def main() -> None:
    spark = get_spark(cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.all_queries()
    # The registered ANN entries are assertion contracts since round 5;
    # the plan evidence should showcase the production probe itself
    # (the PartitionFilters subtree, not the verifier wrapper).
    from etl_knlp_spark.catalog import load_table
    from etl_knlp_spark.operators.dedup import capped_postings
    from etl_knlp_spark.operators.ivf import ivf_pruned_topk

    from etl_knlp_spark.operators.analysis import dsir_importance_hashed

    import tempfile

    from etl_knlp_spark.operators.dedup import incremental_minhash_screen
    from etl_knlp_spark.sources.warc import read_warc, write_warc

    def _warc_read(spark, sf):
        d = tempfile.mkdtemp(prefix="plans_warc_") + "/data"
        write_warc(load_table(spark, sf, "documents"), d)
        return read_warc(spark, d)

    def _simhash_sigs_plan(spark, sf):
        from etl_knlp_spark.operators.dedup import simhash_sigs

        return simhash_sigs(spark, sf)

    def _rhp_sigs_plan(spark, sf):
        from pyspark.sql import functions as F

        from etl_knlp_spark.functions.vector import as_double
        from etl_knlp_spark.operators.similarity import (
            _EMB_DIM,
            _hyperplanes,
            rhp_signatures,
        )

        e = load_table(spark, sf, "embeddings").select(
            "vec_id", as_double(F.col("embedding")).alias("embedding")
        )
        return rhp_signatures(e, _hyperplanes(_EMB_DIM, 16))

    def _incremental_screen(spark, sf):
        from pyspark.sql import functions as F

        docs = load_table(spark, sf, "documents")
        cut = docs.agg((F.max("doc_id") / 2).alias("cut"))
        d = docs.crossJoin(F.broadcast(cut))
        return incremental_minhash_screen(
            d.filter(F.col("doc_id") < F.col("cut")).drop("cut"),
            d.filter(F.col("doc_id") >= F.col("cut")).drop("cut"),
        )

    qs = {
        **qs,
        "warc_read": _warc_read,
        "incremental_minhash_screen": _incremental_screen,
        "similarity_ivf_pruned": ivf_pruned_topk,
        "dsir_importance_hashed": dsir_importance_hashed,
        # the registered query checkpoints this stream (lineage
        # truncated out of its final plan) — dump the subtree itself
        "dedup_ngram_jaccard": lambda spark, sf: capped_postings(
            load_table(spark, sf, "documents"), max_df_abs=256
        ),
        # r11 signature-build rewrites: showcase the production
        # subtrees the bench times (the registered entries are
        # assertion contracts whose checkpoints hide these plans)
        "simhash_sigs": _simhash_sigs_plan,
        "rhp_sigs": _rhp_sigs_plan,
    }
    out = [
        "# PLANS — physical-plan evidence for the 100 TB design claims",
        "",
        "Generated by `tools/dump_plans.py` at sf0.1. Each section: why",
        "this plan is the one you'd want at scale, then the plan itself.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = qs[name](spark, "/root/testdata/sf0.1")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", why, "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(SHOWCASE)} plans)")


if __name__ == "__main__":
    main()
