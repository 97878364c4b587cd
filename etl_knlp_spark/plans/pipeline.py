"""The reference's complete DAG as one Spark program (SURVEY.md §3).

The reference orchestrates with Airflow: three parallel pandas parsers
staging JSON to S3 (E1, dag-knlp.py:85-188, 304-320), three Redshift
COPY loads (E2, dag-knlp.py:192-241), a dimension-build INSERT...SELECT
(E3, dag-knlp.py:65-80), then two data-quality checks
(dag-knlp.py:243-279). Here the same stages are plain function
composition over DataFrames — Spark's lazy DAG already executes in
dependency order, the three parses are independent write actions
submitted together, and the Airflow barriers (DummyOperator,
dag-knlp.py:300-302) are just action sequencing.

Known reference bugs are NOT replicated (SURVEY.md §7): the hanja
`hanja`-vs-`hanjya` key mismatch that NULLed a whole column, the
langlink stop_line that never fired, and the chunk-bucket mixup. The
declared semantics are implemented; the bug behaviors are documented
in tests as divergences.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from ..operators.quality import check_count, check_max_length
from ..sources.io import read_json_auto, write_json_lines
from ..sources.text import read_delimited, read_tuple_burst
from .dimension import with_identity

# DDL column orders (dag-knlp.py:24-63), minus the engine-side data_id.
KOREAN_COLS = ["edit_id", "word_id", "korean"]
KOREAN_JAPANESE_COLS = ["article_id", "language", "text"]
KOREAN_HANJYA_COLS = ["korean", "hanjya", "examples"]


@dataclass
class PipelineResult:
    korean: DataFrame
    korean_japanese: DataFrame
    korean_hanjya: DataFrame
    dimension: DataFrame
    row_count: int
    max_word_id_len: int


def parse_stage(spark: SparkSession, raw_dir: str, stage_dir: str) -> None:
    """E1: three parallel parses → chunked JSON-lines staging.

    Mirrors read_hanjya / read_title / read_langlink
    (dag-knlp.py:85-188) as distributed text scans + split/explode
    expressions; the 10k-row chunking (dag-knlp.py:139-145) is the
    writer's maxRecordsPerFile. The three write actions are submitted
    together from a thread pool — the DAG's parallel preprocess
    fan-out — so each job's one or two tasks share the cores with the
    others'. Each thread inherits the caller's local properties (job
    group, description), so cancelling or attributing the caller's
    group still covers these jobs. Waits for all three writes and
    re-raises the first error.

    The session goes to ``inheritable_thread_target`` so that, with
    pinned threads, the pool threads inherit its tags too. Unpinned,
    PySpark returns the session itself, and the bare write function
    runs instead.
    """
    hanjya = read_delimited(
        spark, os.path.join(raw_dir, "hanja.txt"), KOREAN_HANJYA_COLS, sep=":"
    )
    titles = read_delimited(
        spark, os.path.join(raw_dir, "wiki_index.txt"), KOREAN_COLS, sep=":"
    )
    langlinks = read_tuple_burst(
        spark, os.path.join(raw_dir, "langlink.txt"), KOREAN_JAPANESE_COLS
    )
    inherit = inheritable_thread_target(spark)
    write = write_json_lines if inherit is spark else inherit(write_json_lines)
    staged = {"hanjya": hanjya, "titles": titles, "langlinks": langlinks}
    with ThreadPoolExecutor(max_workers=len(staged)) as pool:
        futures = [
            pool.submit(write, df, os.path.join(stage_dir, name), max_records_per_file=10_000)
            for name, df in staged.items()
        ]
    for future in futures:
        future.result()


def load_tables(spark: SparkSession, stage_dir: str) -> dict[str, DataFrame]:
    """E2: bulk load staged JSON the way COPY ... JSON 'auto' does
    (dag-knlp.py:202-239): keys bind by name against the DDL, with no
    schema inference and so no Spark job, in DDL column order; then the
    identity surrogate (INT IDENTITY(1,1) → engine policy) is added."""

    def load(name: str, cols: list[str]) -> DataFrame:
        path = os.path.join(stage_dir, name)
        return with_identity(read_json_auto(spark, path, cols))

    return {
        "korean": load("titles", KOREAN_COLS),
        "korean_japanese": load("langlinks", KOREAN_JAPANESE_COLS),
        "korean_hanjya": load("hanjya", KOREAN_HANJYA_COLS),
    }


def build_dimension(tables: dict[str, DataFrame]) -> DataFrame:
    """E3: the dimension query, column-for-column from dag-knlp.py:72-79:

        SELECT DISTINCT korean.word_id, korean.korean,
                        korean_japanese.text,     -- → japanese
                        korean_hanjya.hanjya
        FROM korean
        LEFT JOIN korean_japanese ON korean.word_id = korean_japanese.article_id
        LEFT JOIN korean_hanjya   ON korean.korean  = korean_hanjya.korean

    The join QUIRK is preserved (SURVEY.md §2.3): no language filter, so
    an article with langlinks in many languages fans out to one row per
    language even though the target column is named `japanese`.
    """
    k = tables["korean"]
    kj = tables["korean_japanese"]
    kh = tables["korean_hanjya"]
    return (
        k.join(kj, k.word_id == kj.article_id, "left")
        .join(kh, k.korean == kh.korean, "left")
        .select(
            k.word_id,
            k.korean,
            kj.text.alias("japanese"),
            kh.hanjya,
        )
        .distinct()
    )


def run_reference_pipeline(spark: SparkSession, raw_dir: str, stage_dir: str) -> PipelineResult:
    """E1 → E2 → E3 → DQ, end to end. Raises ValueError on DQ
    violation, exactly like the reference's check tasks
    (dag-knlp.py:253-258, 274-279; threshold 13 from :400)."""
    parse_stage(spark, raw_dir, stage_dir)
    tables = load_tables(spark, stage_dir)
    dimension = with_identity(build_dimension(tables))
    n = check_count(tables["korean"], min_rows=1)
    max_len = check_max_length(tables["korean"], "word_id", 13)
    return PipelineResult(
        korean=tables["korean"],
        korean_japanese=tables["korean_japanese"],
        korean_hanjya=tables["korean_hanjya"],
        dimension=dimension.select("word_id", "korean", "japanese", "hanjya"),
        row_count=n,
        max_word_id_len=max_len,
    )
