"""Streaming MinHash near-dup screen — the continuous-ingest twin of
`operators.dedup.incremental_minhash_screen`.

The batch screen (dedup.py:2368) probes a NEW batch against a
PERSISTED band-signature index; this module closes the loop for a
Structured Streaming ingest: the index itself is maintained as
streaming state by an incrementally-updatable aggregate, and every
arriving document's signatures are computed STATELESSLY per row — no
shuffle, no per-doc groupBy — so the only stateful operator in the
graph is the (band_idx, band_hash) bucket-witness aggregate.

Why a per-row signature here when the batch builder deliberately uses
explode + min-agg (dedup.py:488 — codegen'd aggregates measured ~10×
faster than interpreted higher-order lambdas at sf0.1)? Because a
streaming `groupBy(doc_id)` is an unbounded stateful aggregate: Spark
cannot know a doc_id is complete, so every doc would pin state
forever. A document's text arrives whole in one row, so the signature
is a per-row map — `transform`/`array_min` lambdas keep it inside the
stream's stateless stage at a per-doc cost that is interpreter-bound
but embarrassingly parallel (no exchange at any scale). The batch
builder remains the bulk-index path; `row_band_signatures` is pinned
row-identical to it in tests/test_streaming.py.

Scale shape at 100 TB ingest: state = the band-bucket table (min
witness + member count per bucket), which is exactly the artifact the
batch screen persists — ~`_N_BANDS` rows per distinct document,
partial-aggregable (min/count), so micro-batches combine map-side
before touching the state store. The demo query converges it through
a complete-mode memory sink (test scale); production swaps the sink
for update-mode foreachBatch MERGE into the persisted index that
`incremental_minhash_screen(history_bands=…)` then probes — same
state, transactional storage.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.words import ngram_hash_array, words
from ..operators.dedup import _BAND_ROWS, _N_BANDS, _N_HASHES
from ..registry import query

# Per-row signature pipeline, spliced into one expression chain so
# the whole thing stays a single stateless projection:
#   toks     — `functions.words` tokens
#   hs       — word-3-gram shingle hashes (`ngram_hash_array(3)`, the
#              batch builder's xxhash64 combine; no array_distinct —
#              min is duplicate-insensitive)
#   mh_j     — array_min over xxhash64(h, j), j an int literal exactly
#              like the batch builder's F.lit(j) (type-identical
#              hashing)
#   band_b   — xxhash64 over its 4 minhashes


def _mh_expr(j: int) -> str:
    return f"array_min(transform(hs, h -> xxhash64(h, {j})))"


def _band_expr(b: int) -> str:
    cols = ", ".join(f"mh{b * _BAND_ROWS + i}" for i in range(_BAND_ROWS))
    return f"xxhash64({cols})"


def row_band_signatures(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, band_idx, band_hash) — row-identical to the batch
    `minhash_band_signatures` (pinned in tests), computed without any
    exchange: every stage is a per-row projection, so it runs
    unchanged on a streaming DataFrame's stateless prefix. Docs with
    fewer than 3 tokens carry no shingle and are dropped, matching
    the batch builder's `size(toks) >= 3` filter."""
    sigs = (
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
        .withColumn("toks", words("text"))
        .filter(F.size("toks") >= 3)
        .withColumn("hs", ngram_hash_array(3))
        .select(
            "doc_id",
            *[F.expr(_mh_expr(j)).alias(f"mh{j}") for j in range(_N_HASHES)],
        )
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                F.expr(_band_expr(b)).alias("band_hash"),
            )
            for b in range(_N_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id",
        F.col("band.band_idx").alias("band_idx"),
        F.col("band.band_hash").alias("band_hash"),
    )


def streaming_band_index(doc_stream: DataFrame) -> DataFrame:
    """The streaming state: per (band_idx, band_hash) bucket, the
    smallest doc_id ever seen (the dedup witness) and the member
    count. min/count are commutative partial aggregates, so the
    converged table is independent of micro-batch boundaries and
    arrival order — the property the multi-batch test pins."""
    return (
        row_band_signatures(doc_stream)
        .groupBy("band_idx", "band_hash")
        .agg(
            F.min("doc_id").alias("witness"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def run_band_index_stream(
    doc_stream: DataFrame, spark: SparkSession, checkpoint: str | None = None
) -> DataFrame:
    """Run the bucket-witness aggregate as a REAL micro-batch job
    (availableNow trigger, complete-mode memory sink) and return the
    converged bucket table. Complete mode + memory sink is the test-
    scale harness; the production sink is an update-mode foreachBatch
    merge into the persisted band index (module docstring).

    Cleans up after itself (r8 review: every call used to leak a /tmp
    checkpoint dir and a session-lifetime memory-sink view): the
    converged table is materialized off the sink via an eager
    localCheckpoint, then the temp view is dropped and a self-made
    checkpoint dir removed. Pass ``checkpoint`` to own the
    checkpoint's lifecycle instead (it is left in place)."""
    import shutil

    sink = f"stream_band_index_{uuid.uuid4().hex[:12]}"
    own_ckpt = checkpoint is None
    ckpt = checkpoint if checkpoint is not None else tempfile.mkdtemp(
        prefix="etl_knlp_ckpt_"
    )
    q = (
        streaming_band_index(doc_stream)
        .writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
    )
    q.awaitTermination()
    out = spark.table(sink).localCheckpoint()  # eager: detach from the sink
    spark.catalog.dropTempView(sink)
    if own_ckpt:
        shutil.rmtree(ckpt, ignore_errors=True)
    return out


def ingest_band_index(
    doc_stream: DataFrame, index_path: str, checkpoint: str
):
    """PRODUCTION ingest shape (measured at the 100× probe — see
    BASELINE.md round-8): maintain the persisted signature index
    WITHOUT the streaming state store. Each micro-batch appends its
    docs' raw band signatures — the per-row stateless projection, ZERO
    shuffle — to a batchId-keyed subdirectory (idempotent overwrite on
    replay, the `write_stream_foreach_batch` pattern). The accumulated
    directory IS `minhash_band_signatures(history)` persisted: exactly
    the ``history_bands`` artifact `incremental_minhash_screen` probes
    (dedup.py:2368), so per-batch ingest cost is independent of
    history size while the state-store aggregate route paid per-bucket
    state commits against the FULL index every trigger (measured 7–13×
    the stateless batch aggregate at the 100× probe). The bucket-
    witness view composes on read — min/count are algebraic over any
    batch partition of the rows.

    Returns the started StreamingQuery (caller awaits termination)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{index_path}/batch_id={batch_id}"
        )

    return (
        row_band_signatures(doc_stream)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_band_signatures(spark: SparkSession, index_path: str) -> DataFrame:
    """The persisted (doc_id, band_idx, band_hash) signature table —
    pass as `incremental_minhash_screen(history_bands=…)`."""
    return spark.read.parquet(index_path).select(
        "doc_id", "band_idx", "band_hash"
    )


def read_band_index(spark: SparkSession, index_path: str) -> DataFrame:
    """The bucket-witness view of the persisted signatures (min doc_id
    + member count per bucket) — `flag_against_index`'s index side,
    correct under any batch boundaries or replay because min/count
    compose over any partition of the rows."""
    return (
        read_band_signatures(spark, index_path)
        .groupBy("band_idx", "band_hash")
        .agg(
            F.min("doc_id").alias("witness"),
            F.count(F.lit(1)).alias("n_members"),
        )
    )


def flag_against_index(docs: DataFrame, index: DataFrame) -> DataFrame:
    """(doc_id, is_near_dup): a doc is flagged when ANY of its bands
    lands in a bucket whose witness is an earlier (smaller-id) doc —
    the keep-first screen semantics of `incremental_minhash_screen`,
    applied corpus-wide. Pure screen: candidates are NOT exact-
    verified here (that is the batch screen's verify stage), so
    precision is the LSH bucket-collision rate while recall is the
    banded-candidacy floor the contract measures."""
    hits = (
        row_band_signatures(docs)
        .join(index, ["band_idx", "band_hash"])
        .groupBy("doc_id")
        .agg(F.max(F.col("witness") < F.col("doc_id")).alias("hit"))
    )
    return (
        docs.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("hit"), F.lit(False)).alias("is_near_dup")
        )
    )


@query(
    "stream_dedup_minhash",
    oracle="""
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
    ), true_dups AS (
      SELECT DISTINCT shared.doc_b
      FROM shared
      JOIN sizes sa ON sa.doc_id = shared.doc_a
      JOIN sizes sb ON sb.doc_id = shared.doc_b
      WHERE ns * 1.0 / (sa.n + sb.n - ns) >= 0.7
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
           CAST(COUNT(*) AS BIGINT)                         AS n_true_dups,
           TRUE                                             AS stream_matches_batch,
           TRUE                                             AS recall_ok
    FROM true_dups
    """,
)
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assertion contract for the streaming screen, in the
    `dedup_minhash` contract's mold: the band hashes stay engine-
    specific, but (a) the STREAM-converged bucket table must equal the
    BATCH builder's bucket table — pinning that the real micro-batch
    job (file source → stateless signatures → stateful min/count →
    availableNow) reconstructs exactly the persisted-index state — and
    (b) realized recall against the EXACT shingle-Jaccard ground truth
    (a doc with an earlier ≥0.7-Jaccard partner must be flagged) has
    the same 0.7 floor the batch contract carries (measured 1.0 at the
    graded SFs: testdata dup partners are high-Jaccard, where banded
    candidacy is >0.999). n_docs / n_true_dups are data-derived —
    DuckDB recomputes both from raw text."""
    from ..catalog import load_documents_stream, load_table
    from ..operators.dedup import minhash_band_signatures, shingle_jaccard_exact

    docs = load_table(spark, sf_dir, "documents")

    streamed = run_band_index_stream(
        load_documents_stream(spark, sf_dir), spark
    )
    # multi-consumer checkpoints (r8 review; minhash_candidates'
    # documented hazard — dedup.py): `batch` feeds both exceptAll
    # directions and `true_dups` feeds two counts; without the
    # checkpoint each consumer re-runs the full signature build /
    # quadratic verify. `streamed` is already materialized by
    # run_band_index_stream's eager localCheckpoint.
    batch = (
        minhash_band_signatures(docs)
        .groupBy("band_idx", "band_hash")
        .agg(
            F.min("doc_id").alias("witness"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .localCheckpoint(eager=False)
    )
    # exceptAll both ways == empty ⟺ identical multisets of bucket rows
    matches = (
        streamed.exceptAll(batch).count() == 0
        and batch.exceptAll(streamed).count() == 0
    )

    flagged = flag_against_index(docs, streamed).filter("is_near_dup")
    true_dups = (
        shingle_jaccard_exact(docs, 0.7)
        .select("doc_b")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_true = true_dups.count()
    n_caught = true_dups.join(
        flagged.select(F.col("doc_id").alias("doc_b")), "doc_b"
    ).count()

    return spark.createDataFrame(
        [
            (
                docs.count(),
                n_true,
                bool(matches),
                bool(n_caught >= 0.7 * n_true),
            )
        ],
        "n_docs bigint, n_true_dups bigint, stream_matches_batch boolean, recall_ok boolean",
    )
