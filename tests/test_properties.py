"""Property-based tests (hypothesis) for the invariant-heavy kernels.

Targets where example-based tests under-cover the input space: the
greedy packing kernel (pure pandas — hundreds of examples are free),
the salted-aggregation identity (must equal a plain GROUP BY for ANY
input, including the fully-duplicated hot-row case a previous round's
salt derivation got wrong), min-label-propagation connected
components against a pure union-find reference, CDC latest-wins
compaction totality, hash-split totality/stability, and the
changefeed-derive/apply inverse. Spark-bound properties keep example
counts small — every example is a real job.
"""

from __future__ import annotations

import functools
import operator

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_knlp_spark.functions.skew import salted_agg
from etl_knlp_spark.operators.graph import connected_components
from etl_knlp_spark.operators.packing import _pack_group

# ---------------------------------------------------------------- packing

lengths = st.lists(st.integers(min_value=1, max_value=40), min_size=1, max_size=60)


@given(lengths=lengths, budget=st.integers(min_value=8, max_value=64))
@settings(max_examples=200, deadline=None)
def test_pack_group_invariants(lengths, budget):
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(lengths)),
            "lang": ["xx"] * len(lengths),
            "n_tokens": lengths,
        }
    )
    out = _pack_group(pdf, budget)
    # every doc packed exactly once, order preserved
    assert sorted(out["doc_id"]) == list(range(len(lengths)))
    by_seq = out.groupby("seq_id")["n_tokens"].agg(["sum", "count"])
    # seq ids contiguous from 0
    assert list(by_seq.index) == list(range(len(by_seq)))
    # budget respected except for single oversized docs
    for _, row in by_seq.iterrows():
        assert row["sum"] <= budget or row["count"] == 1
    # greedy: each non-first sequence opens only because the previous
    # one could not fit its first doc
    seq_sums = by_seq["sum"].tolist()
    firsts = out.sort_values("doc_id").groupby("seq_id")["n_tokens"].first().tolist()
    for k in range(1, len(seq_sums)):
        assert seq_sums[k - 1] + firsts[k] > budget


# --------------------------------------------- histogram quantile boundary


quantile_vals = st.lists(
    st.one_of(
        st.integers(-50, 50).map(lambda i: i / 10.0),  # decimal grid: many
        st.floats(-5, 5, allow_nan=False, allow_infinity=False),
        # r15: the full finite double line, subnormals included — the
        # width-underflow (subnormal one-ulp slice) and span-overflow
        # (±huge) classes found this round stay under permanent fuzz
        st.floats(
            allow_nan=False, allow_infinity=False, allow_subnormal=True
        ),
    ),
    min_size=20,
    max_size=60,
)


@given(vals=quantile_vals, q=st.sampled_from([0.25, 0.5, 0.75, 0.875]))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_histogram_quantile_equals_sorted_order_statistic(spark, vals, q):
    """Regression (r8 advice): the histogram refinement must filter the
    next round with the SAME bucket expression it counted with —
    recomputed range boundaries can disagree with floor((x-mn)/width)
    at bucket edges under float rounding. Non-representable decimal
    values (i/10) land near boundaries constantly; tiny buckets and a
    tiny exact-threshold force many refinement rounds."""
    import math

    from etl_knlp_spark.operators.stats import exact_discrete_quantile

    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = exact_discrete_quantile(
        df, "x", q, buckets=4, exact_threshold=4, max_rounds=64
    )
    want = sorted(vals)[max(1, math.ceil(q * len(vals))) - 1]
    assert got == want, (got, want, sorted(vals))


weighted_quantile_rows = st.lists(
    st.tuples(
        st.one_of(
            st.integers(-50, 50).map(lambda i: i / 10.0),
            st.floats(
                allow_nan=False, allow_infinity=False, allow_subnormal=True
            ),
        ),
        st.integers(1, 40),
    ),
    min_size=15,
    max_size=50,
)


@given(rows=weighted_quantile_rows, p=st.sampled_from([0.25, 0.5, 0.875]))
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_weighted_quantile_equals_sorted_cumsum_property(spark, rows, p):
    """The weighted sibling of the histogram property, over the full
    finite double line (r15: the width-underflow and span-overflow
    guards live in BOTH refinements — both stay under fuzz). Oracle:
    smallest value whose cumulative weight reaches p·total in sorted
    order; integer weights keep the python-side cumsum exact."""
    from etl_knlp_spark.operators.stats import weighted_discrete_quantile

    df = spark.createDataFrame(rows, "x double, w long")
    total = sum(w for _, w in rows)
    s = sorted(rows)
    target = p * total
    cum, want = 0, s[-1][0]
    for v, w in s:
        cum += w
        if cum >= target:
            want = v
            break
    got = weighted_discrete_quantile(
        df, "x", "w", p, buckets=4, exact_threshold=4, max_rounds=64
    )
    assert got == want, (p, got, want)


# ------------------------------------------------------------- salted agg

rows = st.lists(
    st.tuples(st.sampled_from(["hot", "a", "b"]), st.integers(-1000, 1000)),
    min_size=1,
    max_size=40,
)


@given(rows=rows, dup=st.integers(min_value=0, max_value=30))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_salted_agg_equals_plain_groupby(spark, rows, dup):
    # append `dup` fully-identical hot rows: the regression case where
    # an all-column hash salt collapses to one bucket (results must
    # STILL match; spreading is a perf property asserted in test_plans)
    data = rows + [("hot", 7)] * dup
    df = spark.createDataFrame(data, "k string, v long")
    got = {
        r["k"]: (r["s"], r["c"])
        for r in salted_agg(
            df, ["k"], {"s": F.sum("v"), "c": F.count(F.lit(1))}, buckets=4
        ).collect()
    }
    want = {
        r["k"]: (r["s"], r["c"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert got == want


# ---------------------------------------------------- connected components


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id per component
    comp = {}
    for n in parent:
        comp[n] = find(n)
    return comp


edge_lists = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=20,
)


@given(edges=edge_lists)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_connected_components_match_union_find(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, max_iter=30).collect()
    }
    assert got == _union_find(edges)


# ----------------------------------------------------------- CDC compaction

cdc_rows = st.lists(
    st.tuples(
        st.integers(1, 4),                  # key
        st.integers(0, 20),                 # seq
        st.sampled_from(["U", "D"]),        # op
        st.integers(-100, 100),             # payload
    ),
    min_size=1,
    max_size=30,
)


@given(rows=cdc_rows)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_compact_changes_is_total_latest_wins(spark, rows):
    from etl_knlp_spark.streaming.cdc import compact_changes

    df = spark.createDataFrame(rows, "k long, seq long, op string, payload long")
    out = compact_changes(df, "k", "seq").collect()
    # exactly one survivor per key
    assert sorted({r["k"] for r in out}) == sorted({k for k, *_ in rows})
    assert len(out) == len({k for k, *_ in rows})
    # the survivor carries the maximal (seq, op) for its key — the
    # deterministic latest-wins reduction, even with duplicate seqs
    for r in out:
        best = max((s, o) for k, s, o, _ in rows if k == r["k"])
        assert (r["seq"], r["op"]) == best


# ------------------------------------------------------------- hash splits

keys = st.lists(st.integers(0, 10_000), min_size=1, max_size=50, unique=True)


@given(keys=keys)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_split_by_hash_is_total_deterministic_and_stable(spark, keys):
    from etl_knlp_spark.operators.sampling import split_by_hash

    df = spark.createDataFrame([(k,) for k in keys], "doc_id long")
    splits = {"train": 80, "val": 10, "test": 10}
    a = {r["doc_id"]: r["split"] for r in split_by_hash(df, "doc_id", splits).collect()}
    # total: every key assigned to exactly one named split
    assert sorted(a) == sorted(keys)
    assert set(a.values()) <= set(splits)
    # deterministic: a second run (and a subset run) agrees row-for-row —
    # the property that makes the split safe against re-partitioning
    # and incremental re-processing
    sub = spark.createDataFrame([(k,) for k in keys[: len(keys) // 2 + 1]], "doc_id long")
    b = {r["doc_id"]: r["split"] for r in split_by_hash(sub, "doc_id", splits).collect()}
    assert all(a[k] == v for k, v in b.items())


# ------------------------------------------------------- changefeed inverse

snap = st.dictionaries(
    st.integers(1, 6), st.sampled_from(["a", "b", "c"]), min_size=0, max_size=6
)


@given(old=snap, new=snap)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_derive_then_apply_reconstructs_any_snapshot(spark, old, new):
    from pyspark.sql import functions as F

    from etl_knlp_spark.operators.mutate import derive_changefeed, merge_into

    schema = "k long, v string"
    old_df = spark.createDataFrame(list(old.items()) or [(None, None)], schema).filter(
        F.col("k").isNotNull()
    )
    new_df = spark.createDataFrame(list(new.items()) or [(None, None)], schema).filter(
        F.col("k").isNotNull()
    )
    ops = {
        r["k"]: r["op"] for r in derive_changefeed(old_df, new_df, "k", ["v"]).collect()
    }
    # feed properties: D for removed keys, I for added, U only on value change
    assert {k for k, o in ops.items() if o == "D"} == set(old) - set(new)
    assert {k for k, o in ops.items() if o == "I"} == set(new) - set(old)
    assert {k for k, o in ops.items() if o == "U"} == {
        k for k in set(old) & set(new) if old[k] != new[k]
    }
    # applying the feed to old reconstructs new exactly
    upsert_keys = [k for k, o in ops.items() if o in "IU"]
    upserts = new_df.filter(F.col("k").isin(upsert_keys)) if upsert_keys else new_df.limit(0)
    deletes = [k for k, o in ops.items() if o == "D"]
    rebuilt = merge_into(old_df, upserts, "k").filter(~F.col("k").isin(deletes))
    assert sorted(map(tuple, rebuilt.collect())) == sorted(new.items())


# --------------------------------------------------- k-means training sample

sample_ids = st.lists(st.integers(0, 1_000_000), min_size=1, max_size=60, unique=True)


@given(ids=sample_ids, cap=st.integers(1, 80))
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_training_sample_subset_deterministic_identity_at_cap(spark, ids, cap):
    """For ANY id set and cap: the training sample is a subset of the
    input, is a pure function of the data (two calls agree), is never
    empty, and degenerates to the identity when cap ≥ n — the
    properties the bounded k-means training relies on."""
    from etl_knlp_spark.operators.ivf import training_sample

    df = spark.createDataFrame(
        [(i, [float(i % 7), 1.0]) for i in ids], "vec_id long, emb array<double>"
    )
    got1 = sorted(r["vec_id"] for r in training_sample(df, cap).select("vec_id").collect())
    got2 = sorted(r["vec_id"] for r in training_sample(df, cap).select("vec_id").collect())
    assert got1 == got2
    assert set(got1) <= set(ids)
    assert len(got1) >= 1
    if cap >= len(ids):
        assert got1 == sorted(ids)


# ------------------------------------------------- edit-distance star dedup

texts = st.lists(
    st.text(alphabet="ab xyz", min_size=0, max_size=40), min_size=1, max_size=24
)


def _lev(a: str, b: str) -> int:
    """Reference Wagner–Fischer DP (pure Python)."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@given(texts=texts)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_edit_star_decisions_match_reference_dp(spark, texts):
    """For ANY corpus: every doc's block_rep is the min doc_id sharing
    its 4-char prefix, the banded edit_dist agrees with a reference
    DP (capped at 8 → -1), and is_kept is exactly rep-or-out-of-band.
    Exercises empty strings, texts shorter than the prefix, and
    duplicate texts — the boundary cases a fixed example set misses."""
    from etl_knlp_spark.operators.dedup import edit_distance_dedup

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {r["doc_id"]: r for r in edit_distance_dedup(docs, 4, 8).collect()}
    assert set(out) == set(range(len(texts)))
    reps: dict[str, int] = {}
    for i, t in rows:
        reps.setdefault(t[:4], i)
    for i, t in rows:
        rep = reps[t[:4]]
        r = out[i]
        assert r["block_rep"] == rep
        true_d = _lev(t, texts[rep])
        want_d = 0 if i == rep else (true_d if true_d <= 8 else -1)
        assert r["edit_dist"] == want_d
        assert r["is_kept"] == (i == rep or true_d > 8)


# ---------------------------------------------- BPE double-replace ≡ greedy

_bpe_syms = st.sampled_from(["a", "b", "c", "ab", "bc"])


@given(
    seq=st.lists(_bpe_syms, min_size=0, max_size=12),
    pair=st.tuples(_bpe_syms, _bpe_syms),
)
@settings(max_examples=500, deadline=None)
def test_bpe_leftmost_substitution_equals_greedy_fold(seq, pair):
    """The core claim behind bpe_train_merges' full oracle: the
    oracle's merge construction — replace the LEFTMOST ' l r '
    occurrence, repeat until none remains (the recursive-CTE strpos/
    substr surgery) — equals greedy left-to-right pair merging (the
    Spark loop's fold), including boundary-sharing runs ('a a a a a')
    and merged symbols that spell like their parts ('ab' vs 'a'+'b').
    This sweep is what exposed that a plain non-overlapping
    str.replace (even iterated) is NOT equivalent: it consumes the
    shared boundary space in runs of >= 5 identical symbols and pairs
    them differently ('aa a aa' vs greedy's 'aa aa a')."""
    l, r = pair
    state = " " + " ".join(seq) + " " if seq else "  "
    pat, repl = f" {l} {r} ", f" {l}{r} "
    while (i := state.find(pat)) != -1:  # the oracle's construction
        state = state[:i] + repl + state[i + len(pat):]
    got = state.split()

    out, i = [], 0  # the Spark loop's fold
    while i < len(seq):
        if i + 1 < len(seq) and seq[i] == l and seq[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(seq[i])
            i += 1
    assert got == out


# ------------------------------------------------------- avro codec

_avro_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(min_value=-(2**63), max_value=2**63 - 1)),
        st.text(max_size=20),
        st.one_of(
            st.none(),
            st.floats(allow_nan=False, width=64),
        ),
        st.booleans(),
    ),
    max_size=30,
)


@given(rows=_avro_rows)
@settings(max_examples=300, deadline=None)
def test_avro_codec_roundtrips_arbitrary_rows(rows, tmp_path_factory):
    """Pure-python OCF codec: any (nullable int64, unicode string,
    nullable double, bool) row set survives write→read bit-exactly —
    zigzag extremes, empty strings, ±inf, empty files."""
    from etl_knlp_spark.sources.avro import read_ocf, write_ocf

    schema = {
        "type": "record",
        "name": "row",
        "fields": [
            {"name": "a", "type": ["null", "long"]},
            {"name": "b", "type": "string"},
            {"name": "c", "type": ["null", "double"]},
            {"name": "d", "type": "boolean"},
        ],
    }
    f = str(tmp_path_factory.mktemp("avro") / "t.avro")
    assert write_ocf(iter(rows), schema, f) == len(rows)
    _, got = read_ocf(open(f, "rb").read())
    assert got == rows


# ------------------- winnowing: Spark plan ≡ independent pure-python

_winnow_words = st.sampled_from(["aa", "bb", "cc", "dd", "ee"])
_winnow_docs = st.lists(
    st.lists(_winnow_words, min_size=0, max_size=14),
    min_size=1,
    max_size=8,
)


@given(docs=_winnow_docs)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_winnow_fingerprints_match_reference_construction(spark, docs):
    """Round-7 verdict #7 (the BPE-sweep technique on the window
    family): the production winnowing plan — md5 k-gram hashes, a
    trailing w-row min window including partial prefixes, distinct,
    sorted-concat digest — must equal an independent pure-python
    construction on randomized corpora. Catches gram off-by-ones,
    window-frame drift, and digest-order bugs the driver hash can't
    see (both engines' SQL share the window formulation; this mirror
    shares nothing)."""
    import hashlib

    from etl_knlp_spark.operators.analysis import (
        _WINNOW_K,
        _WINNOW_W,
        winnow_fingerprints,
    )

    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_fingerprints"], r["fp_digest"])
        for r in winnow_fingerprints(df).collect()
    }

    want = {}
    for doc_id, ws in enumerate(docs):
        if len(ws) < _WINNOW_K:
            continue  # production plan filters short docs out entirely
        grams = [
            hashlib.md5(
                " ".join(ws[i : i + _WINNOW_K]).encode()
            ).hexdigest()
            for i in range(len(ws) - _WINNOW_K + 1)
        ]
        sel = {
            min(grams[max(0, i - _WINNOW_W + 1) : i + 1])
            for i in range(len(grams))
        }
        digest = hashlib.md5("|".join(sorted(sel)).encode()).hexdigest()
        want[doc_id] = (len(sel), digest)
    assert got == want


# ---------------- Lloyd's k-means: ivf.lloyd ≡ independent pure-python mirror


def _mirror_lloyd(vecs, k, max_iter):
    """Independent Lloyd construction mirroring kmeans_fit's declared
    semantics: init = k lowest vec_ids, argmin tiebreak by cluster_id,
    per-dim mean, empty clusters DROP from the table. Distances fold
    sequentially in array order, and each mean sums its members one by
    one in ascending vec_id order (``vecs`` is given in vec_id order)
    before dividing by the count — the order kmeans_fit sums in — so
    agreement is exact for any doubles, including the non-representable
    0.1-grain fractions `_km_vecs` draws."""
    ordered = sorted(vecs)  # (vec_id, tuple(emb))
    cents = {i: list(e) for i, (_, e) in enumerate(ordered[:k])}
    for _ in range(max_iter):
        members = {}
        for vid, e in vecs:
            best = None
            for cid in sorted(cents):
                d = 0.0
                for x, y in zip(e, cents[cid]):
                    d += (x - y) * (x - y)
                if best is None or (d, cid) < best[:2]:
                    best = (d, cid)
            members.setdefault(best[1], []).append(e)
        cents = {
            cid: [
                # explicit left fold: builtin sum() of floats is
                # compensated (not sequential) from Python 3.12 on
                functools.reduce(operator.add, (e[p] for e in es), 0.0) / len(es)
                for p in range(len(es[0]))
            ]
            for cid, es in members.items()
        }
    return cents


_km_vecs = st.lists(
    st.lists(
        st.one_of(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=70).map(lambda t: t / 10),
        ),
        min_size=4,
        max_size=4,
    ),
    min_size=3,
    max_size=10,
    unique_by=lambda v: tuple(v),
)


@given(vecs=_km_vecs)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_kmeans_fit_matches_mirror_lloyd(spark, vecs):
    """Round-7 verdict #7 applied to the k-means that both
    `similarity_ivf` and `dedup_semantic` train with: the vectorized
    `ivf.lloyd` (column-by-column distance fold, argmin, cumsum means)
    must equal an independent per-element construction on randomized
    corpora of integers and 0.1-grain fractions — both sum in vec_id
    order, so agreement is exact, not approximate. Catches tiebreak drift, empty-cluster handling, and
    the assignment/mean fencepost bugs an assertion contract (recall
    floor) would absorb silently."""
    from etl_knlp_spark.operators.ivf import kmeans_fit

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    k = 3
    got = {
        r["cluster_id"]: list(r["centroid"])
        for r in kmeans_fit(spark, df, k=k, max_iter=2, train_cap=10**6).collect()
    }
    want = _mirror_lloyd([(i, tuple(float(x) for x in v)) for i, v in enumerate(vecs)], k, 2)
    assert got == want


@given(vecs=_km_vecs)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pq_train_matches_mirror_lloyd_per_subspace(spark, vecs):
    """Same technique for `similarity_pq`'s codebook: pq_train must
    equal m independent per-subspace mirrors — init is the ksub lowest
    vec_ids' slices
    with codes ranked by vec_id, tiebreak by code, empty codes drop."""
    from etl_knlp_spark.operators.pq import pq_train

    m, ksub = 2, 2
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, emb array<double>")
    got = {
        (r["sub"], r["code"]): list(r["centroid"])
        for r in pq_train(
            spark, df, m=m, ksub=ksub, max_iter=2, train_cap=10**6
        ).collect()
    }
    d_over_m = len(vecs[0]) // m
    want = {}
    for sub in range(m):
        sl = [
            (i, tuple(float(x) for x in v[sub * d_over_m : (sub + 1) * d_over_m]))
            for i, v in enumerate(vecs)
        ]
        for code, cent in _mirror_lloyd(sl, ksub, 2).items():
            want[(sub, code)] = cent
    assert got == want


# ---------- per-pair LCS: diagonal-islands plan ≡ classic DP mirror

_lcs_words = st.sampled_from(["aa", "bb", "cc"])
_lcs_docs = st.tuples(
    st.lists(_lcs_words, min_size=1, max_size=12),
    st.lists(_lcs_words, min_size=1, max_size=12),
)


@given(docs=_lcs_docs)
@settings(max_examples=8, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_lcs_span_pairs_match_classic_dp(spark, docs):
    """`lcs_span_pairs`' joins+windows formulation must equal the
    textbook O(n·m) longest-common-substring DP — including the tie
    rule (max length, then smallest a_start, then smallest b_start) —
    on randomized token sequences over a tiny alphabet (dense repeats
    are exactly where diagonal bookkeeping goes wrong)."""
    from etl_knlp_spark.operators.dedup import lcs_span_pairs

    ta, tb = docs
    df = spark.createDataFrame(
        [(1, " ".join(ta)), (2, " ".join(tb))], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    rows = lcs_span_pairs(df, pairs).collect()

    # classic DP mirror: run[i][j] = common-suffix length ending at
    # (i, j); best = (max len, min a_start, min b_start)
    best = None
    run = [[0] * (len(tb) + 1) for _ in range(len(ta) + 1)]
    for i in range(1, len(ta) + 1):
        for j in range(1, len(tb) + 1):
            if ta[i - 1] == tb[j - 1]:
                L = run[i][j] = run[i - 1][j - 1] + 1
                cand = (-L, i - L + 1, j - L + 1)
                if best is None or cand < best:
                    best = cand
    if best is None:
        assert rows == []  # no shared token -> no match points -> no row
        return
    (r,) = rows
    assert (r["lcs_len"], r["a_start"], r["b_start"]) == (
        -best[0], best[1], best[2],
    )


# ------------------------------------ unigram-LM Viterbi-EM ≡ enumeration EM


def _uni_mirror_words(texts):
    words: dict[str, int] = {}
    for t in texts:
        for w in t.strip().lower().split():
            if w:
                words[w] = words.get(w, 0) + 1
    return words


def _uni_mirror_seed(words, max_len, seed_size):
    counts: dict[str, int] = {}
    for w, c in words.items():
        for i in range(len(w)):
            for ln in range(1, min(max_len, len(w) - i) + 1):
                p = w[i : i + ln]
                counts[p] = counts.get(p, 0) + c
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    out = dict(chars)
    for p, c in multi[: max(0, seed_size - len(chars))]:
        out[p] = c
    return out


def _uni_mirror_best(word, logp, max_len):
    """FULL ENUMERATION of segmentations — a different construction
    than the production DP: best by (score, then piece-length sequence
    read right-to-left, lexicographically largest), the documented
    longer-last-piece tie rule."""
    segs = []

    def rec(pos, acc):
        if pos == len(word):
            s = 0.0
            for p in acc:
                s += logp[p]
            segs.append((s, tuple(len(p) for p in reversed(acc)), list(acc)))
            return
        for ln in range(1, min(max_len, len(word) - pos) + 1):
            p = word[pos : pos + ln]
            if p in logp:
                acc.append(p)
                rec(pos + ln, acc)
                acc.pop()

    rec(0, [])
    if not segs:
        return None, None
    best = max(segs, key=lambda t: (t[0], t[1]))
    return best[2], best[0]


def _uni_mirror_em(texts, vocab_size, seed_size, max_len, n_iters):
    import math

    words = _uni_mirror_words(texts)
    counts = _uni_mirror_seed(words, max_len, seed_size)
    corpus_chars = {p for p in counts if len(p) == 1}
    lls = []
    segmented = {}
    for _ in range(n_iters):
        total = float(sum(counts.values()))
        logp = {p: math.log(c) - math.log(total) for p, c in counts.items()}
        new_counts: dict[str, int] = {}
        ll = 0.0
        segmented = {}
        for w, c in words.items():
            pieces, score = _uni_mirror_best(w, logp, max_len)
            assert pieces is not None  # chars always in seed during EM
            segmented[w] = pieces
            ll += score * c
            for p in pieces:
                new_counts[p] = new_counts.get(p, 0) + c
        lls.append(ll)
        counts = new_counts
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    pruned = dict(chars)
    for p, c in multi[: max(0, vocab_size - len(chars))]:
        pruned[p] = c
    total = float(sum(pruned.values()))
    import math as m

    vocab = {p: m.log(c) - m.log(total) for p, c in pruned.items()}
    for ch in corpus_chars:
        vocab.setdefault(ch, -30.0)
    # final segmentation under the pruned+floor vocabulary (module
    # docstring #6) — emitted pieces must be ⊆ vocab
    segmented = {}
    for w in words:
        pieces, _ = _uni_mirror_best(w, vocab, max_len)
        assert pieces is not None  # coverage floor guarantees cover
        segmented[w] = pieces
    return vocab, lls, segmented


_uni_word = st.text(alphabet="ab", min_size=1, max_size=6)
_uni_texts = st.lists(
    st.lists(_uni_word, min_size=1, max_size=5).map(" ".join),
    min_size=1,
    max_size=8,
)


@given(texts=_uni_texts)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_unigram_em_matches_enumeration_mirror(spark, texts):
    """The unigram trainer's Viterbi DP (longer-last-piece tie rule),
    EM recount, prune, and coverage floor must equal an independent
    full-enumeration construction on randomized corpora. The ab-only
    alphabet makes equal counts (and therefore DP ties) COMMON, so
    tiebreak drift between the two constructions fails fast; it also
    exercises seed truncation (seed_size below the substring count)
    and EM-dropping of covered single chars."""
    from etl_knlp_spark.operators.unigram import train_unigram

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    vocab, lls, _, segmented = train_unigram(
        docs, vocab_size=8, seed_size=20, max_piece_len=3, n_iters=2
    )
    m_vocab, m_lls, m_seg = _uni_mirror_em(texts, 8, 20, 3, 2)

    got_seg = {r["word"]: list(r["pieces"]) for r in segmented.collect()}
    assert got_seg == m_seg
    # module docstring #6: the persisted segmentation only emits
    # pieces from the persisted vocabulary
    assert all(set(ps) <= set(vocab) for ps in got_seg.values())
    assert set(vocab) == set(m_vocab)
    for p in vocab:
        assert abs(vocab[p] - m_vocab[p]) < 1e-9, p
    assert len(lls) == len(m_lls)
    for a, b in zip(lls, m_lls):
        assert abs(a - b) < 1e-6


# ------------------------------------ WordPiece greedy ≡ glen-walk mirror


def _wp_mirror_glen_walk(word, vocab, max_len):
    """Independent construction of the greedy longest-match rule — the
    DuckDB oracle's shape in pure python: first a position-indexed
    max-consumed-length table (equi-membership per (pos, len), no
    scan-order), then a chain walk over it. Divergence from the
    production per-position loop-scan (operators/wordpiece.py)
    means the two constructions disagree on ties, ## edge cases, or
    dead-end handling."""
    n = len(word)
    glen = {}
    for i in range(n):
        g = 0
        for ln in range(1, min(max_len, n - i) + 1):
            s = word[i : i + ln]
            key = s if i == 0 else "##" + s
            if key in vocab:
                g = max(g, ln)
        glen[i] = g
    i, out = 0, []
    while i < n:
        g = glen[i]
        if g == 0:
            return ["[UNK]"]
        s = word[i : i + g]
        out.append(s if i == 0 else "##" + s)
        i += g
    return out


_wp_word = st.text(alphabet="ab#", min_size=1, max_size=8)
_wp_vocab_piece = st.text(alphabet="ab#", min_size=1, max_size=4)


@given(
    words=st.lists(_wp_word, min_size=1, max_size=12),
    raw_vocab=st.lists(_wp_vocab_piece, min_size=0, max_size=24),
    mark_cont=st.lists(st.booleans(), min_size=24, max_size=24),
)
@settings(max_examples=80, deadline=None)
def test_wordpiece_greedy_matches_glen_walk_mirror(words, raw_vocab, mark_cont):
    """Adversarial corpora the graded testdata can't produce: pieces
    containing the literal '#' character, vocab entries that are
    themselves '##'-prefixed raw strings, dead-end words, and empty
    vocabularies. Both constructions must agree word-for-word."""
    from etl_knlp_spark.operators.wordpiece import greedy_wordpiece

    vocab = {
        ("##" + p if m else p)
        for p, m in zip(raw_vocab, mark_cont)
    }
    for w in words:
        assert greedy_wordpiece(w, vocab, 4) == _wp_mirror_glen_walk(w, vocab, 4), (
            w,
            sorted(vocab),
        )


# ------------------------------------------------------ DTW batch kernel


dtw_profiles = st.lists(
    st.tuples(
        st.lists(st.integers(0, 30), min_size=24, max_size=24),
        st.lists(st.integers(0, 30), min_size=24, max_size=24),
    ),
    min_size=1,
    max_size=16,
)


@given(pairs=dtw_profiles)
@settings(max_examples=150, deadline=None)
def test_dtw_batch_kernel_matches_definition_dp(pairs):
    """The batch-vectorized DTW kernel (every pair advanced as one
    numpy vector per DP cell) must equal the textbook per-pair
    rolling-row DP on arbitrary integer profiles — pure numpy, no
    Spark, so hundreds of examples are free."""
    import numpy as np

    INF = 1 << 60

    def ref(xs, ys):
        m = len(ys)
        prev = [0] + [INF] * m
        for x in xs:
            cur = [INF]
            for j in range(1, m + 1):
                cur.append(abs(x - ys[j - 1]) + min(prev[j], prev[j - 1], cur[j - 1]))
            prev = cur
        return prev[m]

    pa = np.array([a for a, _ in pairs], dtype=np.int64)
    pb = np.array([b for _, b in pairs], dtype=np.int64)
    n, m = pa.shape
    prev = np.full((n, m + 1), INF, dtype=np.int64)
    prev[:, 0] = 0
    for i in range(m):
        cost = np.abs(pa[:, i : i + 1] - pb)
        cur = np.full((n, m + 1), INF, dtype=np.int64)
        for j in range(1, m + 1):
            best = np.minimum(np.minimum(prev[:, j], prev[:, j - 1]), cur[:, j - 1])
            cur[:, j] = cost[:, j - 1] + best
        prev = cur
    got = prev[:, m]
    for k, (a, b) in enumerate(pairs):
        assert got[k] == ref(a, b), k


# -------------------- label propagation: Spark plan ≡ pure-python mirror

_lpa_edges = st.lists(
    st.tuples(st.integers(1, 12), st.integers(1, 12)),
    min_size=1,
    max_size=24,
)


def _lpa_mirror(edges, rounds=3):
    """Independent construction of deterministic synchronous LPA:
    adjacency dicts + collections.Counter, min-label tiebreak."""
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        if a == b:
            continue
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    lab = {n: n for n in nbrs}
    for _ in range(rounds):
        new = {}
        for n, ns in nbrs.items():
            counts: dict[int, int] = {}
            for m in ns:
                counts[lab[m]] = counts.get(lab[m], 0) + 1
            best = max(counts.items(), key=lambda kv: (kv[1], -kv[0]))
            new[n] = best[0]
        lab = new
    return lab


@given(edges=_lpa_edges)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_label_propagation_matches_pure_python_mirror(spark, edges):
    from etl_knlp_spark.operators.graph import label_propagation

    want = _lpa_mirror(edges)
    if not want:  # all self-loops -> empty graph
        return
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["lab"] for r in label_propagation(df, rounds=3).collect()}
    assert got == want


# ------------------------- CUSUM: sequential fold ≡ prefix-sum closed form

_cusum_vals = st.lists(
    st.floats(min_value=-500.0, max_value=500.0,
              allow_nan=False, allow_infinity=False),
    min_size=1,
    max_size=200,
)


@given(vals=_cusum_vals)
@settings(max_examples=200, deadline=None)
def test_cusum_fold_equals_prefix_sum_closed_form(vals):
    """The kernel recursion s_t = max(0, s_{t-1} + x_t - k) has the
    independent closed form s_t = P_t - min(0, min_{j<=t} P_j) with
    P_t = sum(x_i - k) — a reformulation with a DIFFERENT float
    summation order, so equality is asserted within 1 micro after
    flooring (the pandas-ewm cross-check convention)."""
    import math

    K = 56.0
    acc, seq = 0.0, []
    for x in vals:
        acc = max(0.0, acc + x - K)
        seq.append(math.floor(acc * 1e6))
    p, minp, closed = 0.0, 0.0, []
    for x in vals:
        p += x - K
        minp = min(minp, p)
        closed.append(math.floor((p - minp) * 1e6))
    for i, (a, b) in enumerate(zip(seq, closed)):
        assert abs(a - b) <= 1, (i, a, b)


# ----------------------- RAKE: Spark plan ≡ independent dict mirror

_rake_words = st.sampled_from(["aa", "bb", "cc", "dd", "the", "a", "of"])
_rake_docs = st.lists(
    st.lists(_rake_words, min_size=0, max_size=12),
    min_size=1,
    max_size=5,
)


def _rake_mirror(docs):
    """Independent RAKE: dict/Counter construction, no shared code
    with the Spark plan or its oracle (which mirror each other's
    gaps-and-islands shape — this pins them against a third build)."""
    import math

    stops = {"the", "a", "an", "and", "or", "of", "to", "in", "is", "on"}
    phrases = []
    for toks in docs:
        run = []
        for t in toks:
            if t in stops:
                if run:
                    phrases.append(tuple(run))
                run = []
            else:
                run.append(t)
        if run:
            phrases.append(tuple(run))
    freq: dict[str, int] = {}
    deg: dict[str, int] = {}
    for ph in phrases:
        for w in ph:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(ph)
    out = {}
    occ: dict[tuple, int] = {}
    for ph in phrases:
        occ[ph] = occ.get(ph, 0) + 1
    for ph, n in occ.items():
        score = 0.0
        for w in sorted(ph):  # the pinned fold order
            score += deg[w] / freq[w]
        out[" ".join(ph)] = (n, math.floor(score * 1e6))
    return out


@given(docs=_rake_docs)
@settings(max_examples=6, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_rake_matches_independent_mirror(spark, docs):
    from etl_knlp_spark.operators.analysis import rake_keywords

    want = _rake_mirror(docs)
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs) if toks]
    if not want or not rows:
        return
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            f"{d}/documents.parquet"
        )
        got = {
            r.phrase: (r.n_occ, r.score_micro)
            for r in rake_keywords(spark, d).collect()
        }
    # top-50 cap can't bite: tiny corpora have < 50 distinct phrases
    assert got == want


# ------------- LZW codec duals: GIF (LSB/late) and TIFF (MSB/early)

_lzw_payloads = st.binary(min_size=0, max_size=2000)


@given(data=_lzw_payloads)
@settings(max_examples=300, deadline=None)
def test_gif_lzw_roundtrips_arbitrary_bytes(data):
    from etl_knlp_spark.operators.multimodal import _lzw_decode, _lzw_encode

    assert _lzw_decode(_lzw_encode(data, 8), 8) == data


@given(data=_lzw_payloads)
@settings(max_examples=300, deadline=None)
def test_tiff_lzw_roundtrips_arbitrary_bytes(data):
    from etl_knlp_spark.operators.multimodal import (
        _lzw_decode_tiff,
        _lzw_encode_tiff,
    )

    assert _lzw_decode_tiff(_lzw_encode_tiff(data)) == data


@given(data=st.binary(min_size=1, max_size=400))
@settings(max_examples=100, deadline=None)
def test_gif_and_bmp_and_tiff_pixel_roundtrip(data):
    """The three forward duals and decoders agree on arbitrary pixel
    rows — any convention drift in ONE codec pair shows up as a
    cross-codec disagreement here even if that pair is self-consistent."""
    from etl_knlp_spark.operators.multimodal import (
        _decode_bmp,
        _decode_gif,
        _decode_tiff,
        _encode_bmp_gray8,
        _encode_gif_gray,
        _encode_tiff_gray8,
    )

    g = bytes(_decode_gif(_encode_gif_gray(data))[0, :, 0])
    b = bytes(_decode_bmp(_encode_bmp_gray8(data))[0, :, 0])
    t = bytes(_decode_tiff(_encode_tiff_gray8(data, lzw=True, predictor=True))[0, :, 0])
    assert g == b == t == data


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-5, max_value=5),
            st.integers(min_value=-5, max_value=5),
        ),
        min_size=2,
        max_size=80,
    )
)
@settings(max_examples=200, deadline=None)
def test_kendall_kernel_matches_brute_force_mirror(pairs):
    """The production tau-b kernel (blocked sign-matrix, exact-integer
    C−D and tie corrections, NULL on all-tied strata) must equal the
    textbook O(n²) pair walk on arbitrary small-domain integer pairs —
    tiny domains force heavy ties, the regime where tau-b's
    corrections and the r10 degenerate guard actually bite. Pure
    pandas, no Spark, so hundreds of examples are free."""
    import math

    import pandas as pd

    from etl_knlp_spark.operators.stats import _kendall_tau_kernel

    xs = [float(a) for a, _ in pairs]
    ys = [b for _, b in pairs]
    got = _kendall_tau_kernel(
        pd.DataFrame({"event_type": "t", "value": xs, "k": ys})
    ).iloc[0]

    n = len(pairs)
    c = d = 0
    for i in range(n):
        for j in range(i + 1, n):
            s = (xs[i] - xs[j]) * (ys[i] - ys[j])
            c += s > 0
            d += s < 0
    n0 = n * (n - 1) // 2
    n1 = sum(
        m * (m - 1) // 2 for m in pd.Series(xs).value_counts().tolist()
    )
    n2 = sum(
        m * (m - 1) // 2 for m in pd.Series(ys).value_counts().tolist()
    )
    assert got["c_minus_d"] == c - d
    assert got["n_pairs"] == n0
    if n0 == n1 or n0 == n2:
        assert got["tau_b"] is None or pd.isna(got["tau_b"])
    else:
        want = round((c - d) / math.sqrt((n0 - n1) * (n0 - n2)), 6)
        assert math.isclose(got["tau_b"], want, abs_tol=1e-12)
