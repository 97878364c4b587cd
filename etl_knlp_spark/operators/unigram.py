"""Unigram-LM subword tokenizer (SentencePiece-style), trained with
hard (Viterbi/classification) EM — the second trainable tokenizer
family beside BPE (analysis.py:1650), with the complementary
semantics: BPE grows a vocabulary bottom-up by pair merging; the
unigram model starts from an over-complete substring seed and KEEPS
the pieces that maximize corpus likelihood under a unigram prior
(Kudo 2018, "Subword Regularization", the public SentencePiece
training objective — this module implements the deterministic
Viterbi-EM variant so two independent constructions can be pinned
equal, the house rule for iterative kernels).

Deterministic semantics (mirrored bit-for-bit by the pure-python
construction in tests/test_properties.py):

1. words: the whitespace tokenizer (functions/words.py), empties
   dropped; per-word corpus frequency c_w (the same prep as the BPE loop).
2. seed: every (start, len≤max_piece_len) substring slot of every
   word, weighted by c_w (overlapping occurrences each count). ALL
   single characters enter the seed; multi-char pieces take the top
   `seed_size - n_chars` slots by (count desc, piece asc).
3. EM iteration (hard EM):
   E: per DISTINCT word, Viterbi-segment under piece log-probs
      logp = ln(count) - ln(Σ counts). Ties at a DP state break to
      the LONGER last piece (equivalently: among equal-likelihood
      segmentations, the one whose piece-length sequence read
      right-to-left is lexicographically largest).
   M: piece counts re-estimate from the best segmentations weighted
      by c_w; pieces with zero count LEAVE the vocabulary (pure
      multinomial MLE — no floor, so the classification-EM
      monotonicity theorem applies exactly: every word's previous
      segmentation survives, hence remains available, hence the
      complete-data likelihood is non-decreasing; `monotone_ok`
      pins it with a 1e-6 float tolerance).
4. prune: after the last iteration keep all surviving single chars
   plus the top multi-char pieces by (count desc, piece asc) up to
   `vocab_size` total.
5. coverage floor: single characters seen in the corpus but dropped
   by EM re-enter the PERSISTED vocabulary at logp=`_UNK_LOGP` — a
   tokenizer artifact for out-of-sample coverage, explicitly OUTSIDE
   the EM objective (applying it inside would break exact MLE and
   with it the monotonicity pin).
6. final segmentation: one more Viterbi pass under the PRUNED+floor
   vocabulary (r8 review: the last EM segmentation predates the
   prune, so its pieces could name entries absent from the persisted
   vocab — a consumer mapping pieces to vocabulary ids would hit
   UNK/KeyError on in-corpus text). The persisted (word → pieces)
   table therefore only ever emits pieces ⊆ vocab, and is
   Viterbi-optimal under the model actually shipped
   (`pieces_in_vocab_ok` pins the subset property).

Scale shape at 100 TB: the corpus is touched ONCE (word counts); the
whole EM loop runs on the DISTINCT-word table, which is Zipf-bounded
(millions of rows at web scale, independent of corpus size — the same
economics as `lm_perplexity_filter`'s count tables). The per-word
Viterbi kernel is an Arrow-batched pandas UDF over that bounded
table, never over documents; per-iteration driver syncs are the
piece-count table (≤ seed_size rows, the k-means-centroid pattern —
ivf.py:120), seed selection syncs only the single-char rows
(alphabet-bounded) plus a distributed top-`seed_size` of the
multi-char substring table (r8 review: collecting the whole
distinct-substring table is millions of rows at web scale), and
tokenization re-application is one join of the word
stream against the persisted (word → pieces) table, partial-aggregated
per doc. Nothing iterates over the corpus.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query

_MAX_PIECE_LEN = 4
_SEED_SIZE = 512
_VOCAB_SIZE = 256
_N_EM_ITERS = 3
_UNK_LOGP = -30.0


def _word_counts(docs: DataFrame) -> DataFrame:
    """(word, c): distinct words with corpus frequencies — BPE's prep
    (analysis.py:1665) plus an empty-word guard."""
    return (
        docs.select(F.explode(words("text")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )


def _seed_counts(words: DataFrame, max_piece_len: int = _MAX_PIECE_LEN) -> DataFrame:
    """(piece, cnt): every substring slot up to max_piece_len, weighted
    by word frequency. The double explode runs over the DISTINCT-word
    table; `slots` is the (start, len) cross-sequence built with HOFs
    so the whole expansion stays one codegen'd projection."""
    return (
        words.select(
            "c",
            F.explode(
                F.expr(
                    f"""
                    flatten(transform(
                      sequence(1, length(word)),
                      i -> transform(
                        sequence(1, least({max_piece_len}, length(word) - i + 1)),
                        l -> substring(word, i, l))))
                    """
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("c").alias("cnt"))
    )


def _cap_vocab(counts: dict[str, int], size: int) -> dict[str, int]:
    """All single chars + top multi-char pieces by (count desc, piece
    asc), `size` total — the one selection rule, shared by seed
    selection and the post-EM prune (r8 review: the two sites had
    drifted into verbatim copies)."""
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda kv: (-kv[1], kv[0]),
    )
    out = dict(chars)
    for piece, cnt in multi[: max(0, size - len(chars))]:
        out[piece] = cnt
    return out


def _collect_seed(
    seed: DataFrame, seed_size: int
) -> dict[str, int]:
    """Driver sync for seed selection, BOUNDED on both branches (r8
    review: collecting the whole distinct-substring table is millions
    of rows at web scale): single chars all come back (alphabet-
    bounded), multi-char pieces through a distributed top-`seed_size`
    with the selection's own (count desc, piece asc) order, so the
    limit is deterministic and the rows that survive `_cap_vocab` are
    exactly the ones the full-table sort would have kept."""
    char_rows = seed.filter(F.length("piece") == 1).collect()
    multi_rows = (
        seed.filter(F.length("piece") > 1)
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(seed_size)
        .collect()
    )
    return _cap_vocab(
        {r["piece"]: int(r["cnt"]) for r in (*char_rows, *multi_rows)},
        seed_size,
    )


def _logprobs(counts: dict[str, int]) -> dict[str, float]:
    total = float(sum(counts.values()))
    lt = math.log(total)
    return {p: math.log(c) - lt for p, c in counts.items()}


def viterbi_pieces(word: str, logp: dict[str, float], max_piece_len: int) -> list[str] | None:
    """Best segmentation of `word` under `logp`; None when some prefix
    is uncoverable. Tie rule: longer last piece wins at each state —
    module docstring item 3. This exact function also runs inside the
    executor-side kernel; the property suite pins it against a FULL
    ENUMERATION mirror (a different construction), per the house rule."""
    n = len(word)
    NEG = float("-inf")
    best = [NEG] * (n + 1)
    best[0] = 0.0
    back = [0] * (n + 1)
    for i in range(1, n + 1):
        for ln in range(1, min(max_piece_len, i) + 1):
            piece = word[i - ln : i]
            lp = logp.get(piece)
            if lp is None or best[i - ln] == NEG:
                continue
            score = best[i - ln] + lp
            if score > best[i] or (score == best[i] and ln > i - back[i]):
                best[i] = score
                back[i] = i - ln
    if best[n] == NEG:
        return None
    pieces: list[str] = []
    i = n
    while i > 0:
        pieces.append(word[back[i] : i])
        i = back[i]
    pieces.reverse()
    return pieces


def _segment_words(
    words: DataFrame, logp: dict[str, float], max_piece_len: int
) -> DataFrame:
    """(word, c, pieces, score): Viterbi over the distinct-word table
    via an Arrow-batched pandas UDF. `logp` rides the task closure —
    fine at seed_size scale; a million-piece vocabulary would move to
    an explicit sc.broadcast, same plan otherwise. Words with an
    uncoverable character fall back to per-char pieces at _UNK_LOGP
    each (only reachable at APPLY time on out-of-sample text — during
    EM every corpus char is in the seed and every word's previous
    segmentation survives the M-step)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _seg_batch(col):
        out_p, out_s = [], []
        for w in col:
            pieces = viterbi_pieces(w, logp, max_piece_len)
            if pieces is None:
                pieces = list(w)
                score = sum(logp.get(ch, _UNK_LOGP) for ch in pieces)
            else:
                score = 0.0
                for p in pieces:
                    score += logp[p]
            out_p.append(pieces)
            out_s.append(score)
        return pd.DataFrame({"pieces": out_p, "score": out_s})

    # non-hint registration form (house style, text.py:195): hint
    # inference rejects Series->DataFrame, the legacy scalar path
    # accepts a DataFrame batch for a struct return type
    seg = pandas_udf(_seg_batch, "pieces: array<string>, score: double")

    return words.withColumn("s", seg("word")).select(
        "word",
        "c",
        F.col("s.pieces").alias("pieces"),
        F.col("s.score").alias("score"),
    )


def train_unigram(
    docs: DataFrame,
    vocab_size: int = _VOCAB_SIZE,
    seed_size: int = _SEED_SIZE,
    max_piece_len: int = _MAX_PIECE_LEN,
    n_iters: int = _N_EM_ITERS,
):
    """Run the EM loop. Returns (vocab dict piece→logp incl. the
    coverage floor, per-iteration complete-data LL list, word table,
    final segmented-word DataFrame)."""
    words = _word_counts(docs).localCheckpoint()
    counts = _collect_seed(_seed_counts(words, max_piece_len), seed_size)
    corpus_chars = {p for p in counts if len(p) == 1}

    lls: list[float] = []
    segmented = None
    for _ in range(n_iters):
        logp = _logprobs(counts)
        segmented = _segment_words(words, logp, max_piece_len).localCheckpoint()
        agg = segmented.select(
            F.explode("pieces").alias("piece"), "c"
        ).groupBy("piece").agg(F.sum("c").alias("cnt")).collect()
        ll = segmented.select(
            F.sum(F.col("score") * F.col("c")).alias("ll")
        ).collect()[0]["ll"]
        lls.append(float(ll))
        counts = {r["piece"]: int(r["cnt"]) for r in agg}

    # prune to vocab_size: surviving chars + best multi-char pieces
    vocab = _logprobs(_cap_vocab(counts, vocab_size))
    # coverage floor — OUTSIDE the EM objective (module docstring #5)
    for ch in corpus_chars:
        vocab.setdefault(ch, _UNK_LOGP)
    # final segmentation under the PERSISTED vocabulary (module
    # docstring #6): the last EM pass segmented under the pre-prune
    # model, whose pieces can be absent from `vocab`
    segmented = _segment_words(words, vocab, max_piece_len).localCheckpoint()
    return vocab, lls, words, segmented


@query(
    "unigram_train",
    oracle="""
    WITH words AS (
      SELECT w AS word
      FROM documents,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(w)
      WHERE w <> ''
    ), chars AS (
      SELECT DISTINCT ch
      FROM (SELECT DISTINCT word FROM words) dw,
           unnest(string_split_regex(word, '')) AS s(ch)
      WHERE ch <> ''
    )
    SELECT (SELECT CAST(COUNT(DISTINCT word) AS BIGINT) FROM words) AS n_distinct_words,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM chars)             AS n_corpus_chars,
           TRUE AS coverage_ok,
           TRUE AS vocab_bounded_ok,
           TRUE AS monotone_ok,
           TRUE AS compression_ok,
           TRUE AS pieces_in_vocab_ok
    """,
)
def unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract for the trainer (the BPE loop is SQL-
    replayable; a Viterbi DP is not, so this family follows the
    k-means/PQ pattern — contract row here, bit-exact independent-
    construction pin in the property suite): n_distinct_words and
    n_corpus_chars are data-derived on both engines; coverage_ok =
    every corpus character is in the persisted vocabulary;
    vocab_bounded_ok = |vocab| ≤ vocab_size + coverage-floor chars
    AND every piece length ≤ max_piece_len; monotone_ok = the
    complete-data log-likelihood is non-decreasing across EM
    iterations (the classification-EM theorem, exact because the
    M-step is pure MLE); compression_ok = the final segmentation
    never uses more pieces than characters; pieces_in_vocab_ok =
    every piece the persisted segmentation emits is in the persisted
    vocabulary (module docstring #6 — pins the defect class where
    the segmentation predates the prune)."""
    docs = load_table(spark, sf_dir, "documents")
    vocab, lls, words, segmented = train_unigram(docs)

    corpus_chars = {
        r["ch"]
        for r in words.select(
            F.explode(F.split(F.col("word"), "")).alias("ch")
        )
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    }
    coverage_ok = corpus_chars.issubset(vocab.keys())
    vocab_bounded_ok = (
        len(vocab) <= _VOCAB_SIZE + len(corpus_chars)
        and all(1 <= len(p) <= _MAX_PIECE_LEN for p in vocab)
    )
    monotone_ok = all(b >= a - 1e-6 for a, b in zip(lls, lls[1:]))
    comp = segmented.select(
        F.max(
            F.size("pieces") > F.length("word")
        ).alias("bad")
    ).collect()[0]["bad"]
    compression_ok = not bool(comp)
    # distinct pieces the persisted segmentation emits — bounded by
    # |vocab|, so the collect is a vocab-sized sync
    used = {
        r["piece"]
        for r in segmented.select(F.explode("pieces").alias("piece"))
        .distinct()
        .collect()
    }
    pieces_in_vocab_ok = used.issubset(vocab.keys())

    n_words = words.count()
    return spark.createDataFrame(
        [
            (
                n_words,
                len(corpus_chars),
                coverage_ok,
                vocab_bounded_ok,
                monotone_ok,
                compression_ok,
                pieces_in_vocab_ok,
            )
        ],
        "n_distinct_words bigint, n_corpus_chars bigint, coverage_ok boolean,"
        " vocab_bounded_ok boolean, monotone_ok boolean, compression_ok boolean,"
        " pieces_in_vocab_ok boolean",
    )


@query(
    "unigram_tokenize",
    oracle="""
    WITH words AS (
      SELECT doc_id, w AS word
      FROM documents,
           unnest(string_split_regex(trim(lower(text)), '\\s+')) AS t(w)
      WHERE w <> ''
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           TRUE AS reconstruct_ok,
           TRUE AS bounded_ok
    FROM words
    GROUP BY doc_id
    """,
)
def unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained model corpus-wide — the same scale shape as
    `bpe_tokenize`: the corpus word stream joins the persisted
    (word → pieces) table once (broadcastable for real vocabularies;
    the distinct-word table IS the tokenizer state here) and per-doc
    aggregates reduce map-side. Hash-verified per doc: n_words is
    data-derived; reconstruct_ok = the pieces of every word
    concatenate back to the word; bounded_ok = piece count per doc
    lies in [n_words, n_chars]."""
    docs = load_table(spark, sf_dir, "documents")
    _, _, _, segmented = train_unigram(docs)

    stream = docs.select("doc_id", F.explode(words("text")).alias("word")).filter(
        F.col("word") != ""
    )
    joined = stream.join(
        segmented.select("word", "pieces"), "word"
    )
    return (
        joined.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.min(
                F.concat_ws("", F.col("pieces")) == F.col("word")
            ).alias("reconstruct_ok"),
            (
                (F.sum(F.size("pieces")) >= F.count(F.lit(1)))
                & (F.sum(F.size("pieces")) <= F.sum(F.length("word")))
            ).alias("bounded_ok"),
        )
    )
