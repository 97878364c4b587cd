"""WordPiece-style greedy longest-match tokenizer application.

Completes the tokenizer trio (reference scope: the kNLP DAG tokenizes
by whitespace only — dag-knlp.py:101-107 — so every subword family
here is north-star LLM-pipeline surface): `bpe_*` (analysis.py:1650)
trains a merge list bottom-up, `unigram_*` (unigram.py) prunes an
over-complete seed top-down, and this module covers the third — and
at 100 TB the most common — shape: APPLYING a FIXED vocabulary with
WordPiece's greedy longest-match rule (Devlin et al. 2019; the
public BERT tokenizer semantics). Production tokenizes petabytes
with a frozen 30k-entry vocab; nothing is trained in the hot path.

Semantics (deterministic, mirrored by the DuckDB oracle and by the
pure-python construction in tests/test_properties.py):

1. words: the whitespace tokenizer (functions/words.py), empties
   dropped; per-doc word positions kept (the per-doc signature is order-sensitive).
2. vocab induction (the deterministic stand-in for a shipped vocab —
   both engines derive it identically from corpus statistics): every
   word-initial substring of length ≤ `max_piece_len` enters as
   itself, every non-initial substring enters as '##'+s (WordPiece's
   continuation marker), weighted by word frequency; the vocabulary
   is the top `vocab_size` keys by (count desc, key asc). No
   all-chars guarantee — rare characters drop out (vocab_size sits
   below the graded corpora's key count by design), so real [UNK]s
   occur in-corpus and the UNK path is hash-verified, not dead code.
3. greedy match per word: at position i take the LONGEST piece in
   the vocab that matches (initial form at i=1, '##' form after);
   advance by its consumed length. If no piece matches at some
   position, the WHOLE word becomes the single piece '[UNK]' (the
   BERT rule — no partial emission).
4. output per doc: n_words, n_pieces ([UNK] counts 1), n_unk_words,
   and `sig` — every word's piece string (' '-joined, words joined
   by ' | ') in document order. The signature makes the oracle
   compare bit-exact on the segmentation itself, not just counts.

Scale shape at 100 TB: the corpus is touched once (word stream);
greedy matching runs on the DISTINCT-word table (Zipf-bounded) via
an Arrow-batched pandas UDF with the vocab riding the closure
(bounded: `vocab_size` entries; a real 30k vocab would move to
sc.broadcast, same plan); re-application is one join of the word
stream against the segmented-word table — broadcastable at real
vocabulary scale — plus a per-doc sort_array/concat aggregate.
Nothing iterates over the corpus, and vocab induction is two
codegen'd explode+groupBy passes over distinct words with a
distributed top-k, the same economics as unigram.py's seed build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions.words import words
from ..registry import query

_MAX_PIECE_LEN = 4
# sized BELOW the graded corpora's distinct-key count (~250 at
# sf0.01) so rare keys drop and the [UNK] rule is live in the hash
# compare (10-20% of words at the graded SFs), not dead code; a real
# deployment ships a 30k vocab and the same economics hold
_VOCAB_SIZE = 160
_UNK = "[UNK]"


def _word_stream(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, word): position-keyed word stream — empties are
    dropped BEFORE posexplode so positions match the oracle's
    list_filter-then-ordinality numbering."""
    arr = F.filter(words("text"), lambda w: w != "")
    return docs.select("doc_id", F.posexplode(arr).alias("pos", "word"))


def wordpiece_vocab(
    words: DataFrame,
    vocab_size: int = _VOCAB_SIZE,
    max_piece_len: int = _MAX_PIECE_LEN,
) -> DataFrame:
    """(piece, cnt): the induced vocabulary — top `vocab_size` keys by
    (count desc, key asc) over initial substrings (as-is) and
    non-initial substrings ('##'-prefixed), weighted by word
    frequency. `words` is the (word, c) distinct-word table. All
    distributed; callers collect only the top-k result."""
    keys = words.select(
        "c",
        F.explode(
            F.expr(
                f"""
                flatten(transform(
                  sequence(1, length(word)),
                  i -> transform(
                    sequence(1, least({max_piece_len}, length(word) - i + 1)),
                    l -> CASE WHEN i = 1 THEN substring(word, i, l)
                              ELSE concat('##', substring(word, i, l)) END)))
                """
            )
        ).alias("piece"),
    )
    return (
        keys.groupBy("piece")
        .agg(F.sum("c").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("piece"))
        .limit(vocab_size)
    )


def greedy_wordpiece(
    word: str, vocab: set[str], max_piece_len: int = _MAX_PIECE_LEN
) -> list[str]:
    """Greedy longest-match-first segmentation (module docstring #3).
    Runs inside the executor kernel AND standalone; the property
    suite pins it against an independent construction."""
    n = len(word)
    i = 0
    out: list[str] = []
    while i < n:
        match = None
        for ln in range(min(max_piece_len, n - i), 0, -1):
            s = word[i : i + ln]
            key = s if i == 0 else "##" + s
            if key in vocab:
                match = key
                i += ln
                break
        if match is None:
            return [_UNK]
        out.append(match)
    return out


def segment_words(
    words: DataFrame, vocab: set[str], max_piece_len: int = _MAX_PIECE_LEN
) -> DataFrame:
    """(word, state, np, unk): greedy segmentation of the distinct-word
    table via an Arrow-batched pandas UDF; `state` is the
    ' '-joined piece string, the row a production tokenizer persists
    (analysis.py's BPE state-table pattern)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _seg_batch(col):
        states, nps, unks = [], [], []
        for w in col:
            pieces = greedy_wordpiece(w, vocab, max_piece_len)
            states.append(" ".join(pieces))
            nps.append(len(pieces))
            unks.append(pieces == [_UNK])
        return pd.DataFrame({"state": states, "np": nps, "unk": unks})

    seg = pandas_udf(_seg_batch, "state string, np long, unk boolean")
    return words.withColumn("s", seg("word")).select(
        "word",
        F.col("s.state").alias("state"),
        F.col("s.np").alias("np"),
        F.col("s.unk").alias("unk"),
    )


def _oracle(vocab_size: int = _VOCAB_SIZE, max_piece_len: int = _MAX_PIECE_LEN) -> str:
    """Full value oracle: re-derive the vocabulary, precompute the
    greedy consumed-length table `glen` with an equi-join (candidate
    keys exploded per position — no OR-join nested loop), then walk
    each distinct word with a recursive CTE (the house pattern from
    pack_sequences/near_dup_clusters) and re-aggregate per doc."""
    return f"""
    WITH RECURSIVE wstream AS (
      SELECT doc_id, i AS pos, l[i] AS word
      FROM (SELECT doc_id,
                   list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                               w -> w <> '') AS l
            FROM documents),
           unnest(generate_series(1, len(l))) AS t(i)
    ), wcounts AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM wstream GROUP BY word
    ), slots AS (
      SELECT CASE WHEN i = 1 THEN substr(word, i, l)
                  ELSE '##' || substr(word, i, l) END AS piece,
             c
      FROM wcounts,
           unnest(generate_series(1, len(word))) AS ti(i),
           unnest(generate_series(1, {max_piece_len})) AS tl(l)
      WHERE l <= len(word) - i + 1
    ), vocab AS (
      SELECT piece FROM slots GROUP BY piece
      ORDER BY SUM(c) DESC, piece LIMIT {vocab_size}
    ), positions AS (
      SELECT word, i
      FROM (SELECT word FROM wcounts),
           unnest(generate_series(1, len(word))) AS t(i)
    ), cands AS (
      SELECT p.word, p.i, tl.l,
             CASE WHEN p.i = 1 THEN substr(p.word, p.i, tl.l)
                  ELSE '##' || substr(p.word, p.i, tl.l) END AS key
      FROM positions p, unnest(generate_series(1, {max_piece_len})) AS tl(l)
      WHERE tl.l <= len(p.word) - p.i + 1
    ), glen AS (
      SELECT c.word, c.i,
             COALESCE(MAX(CASE WHEN v.piece IS NULL THEN NULL ELSE c.l END), 0) AS g
      FROM cands c LEFT JOIN vocab v ON v.piece = c.key
      GROUP BY c.word, c.i
    ), walk AS (
      SELECT word, 1 AS i, 0 AS np, FALSE AS unk, '' AS state
      FROM wcounts
      UNION ALL
      SELECT w.word,
             CASE WHEN g.g = 0 THEN len(w.word) + 1 ELSE w.i + g.g END,
             CASE WHEN g.g = 0 THEN 1 ELSE w.np + 1 END,
             g.g = 0,
             CASE WHEN g.g = 0 THEN '[UNK]'
                  ELSE CASE WHEN w.state = '' THEN '' ELSE w.state || ' ' END
                       || CASE WHEN w.i = 1 THEN substr(w.word, w.i, g.g)
                               ELSE '##' || substr(w.word, w.i, g.g) END
             END
      FROM walk w JOIN glen g ON g.word = w.word AND g.i = w.i
      WHERE w.i <= len(w.word) AND NOT w.unk
    ), final AS (
      SELECT word, np, unk, state FROM walk WHERE i > len(word)
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT)                            AS n_words,
           CAST(SUM(f.np) AS BIGINT)                           AS n_pieces,
           CAST(SUM(CASE WHEN f.unk THEN 1 ELSE 0 END) AS BIGINT) AS n_unk_words,
           STRING_AGG(f.state, ' | ' ORDER BY s.pos)           AS sig
    FROM wstream s JOIN final f ON f.word = s.word
    GROUP BY s.doc_id
    """


@query("wordpiece_tokenize", oracle=_oracle())
def wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-verified end to end: per doc, word/piece/UNK counts AND
    the order-sensitive piece signature — the oracle independently
    re-derives the vocabulary and replays the greedy walk as a
    recursive CTE, so a tie-break or longest-match drift in either
    engine flips the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    stream = _word_stream(docs)
    words = stream.groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint(eager=False)
    vocab = {
        r["piece"] for r in wordpiece_vocab(words).collect()
    }  # bounded: vocab_size rows
    segmented = segment_words(words, vocab)
    return (
        stream.join(segmented, "word")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("np").cast("long").alias("n_pieces"),
            F.sum(F.col("unk").cast("long")).cast("long").alias("n_unk_words"),
            F.concat_ws(
                " | ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "state"))
                    ),
                    lambda x: x["state"],
                ),
            ).alias("sig"),
        )
    )
