"""End-to-end reference pipeline on FIXTURES.md-shaped raw files."""

from __future__ import annotations

import glob
import itertools
import os

import pytest

from etl_knlp_spark.plans import pipeline
from etl_knlp_spark.plans.pipeline import run_reference_pipeline
from etl_knlp_spark.sources.io import write_json_lines
from etl_knlp_spark.sources.text import read_delimited, read_tuple_burst

# word_id 5 has langlinks in BOTH en and ja (the §2.3 fan-out quirk);
# word_id 9 links only ja; 42 has no langlink (left-join NULL).
WIKI = "600:5:지미 카터\n600:9:수학\n1234:42:역사: 고대\n700:5:지미 카터\n"
LANGLINK = "5,en,Jimmy Carter),(5,ja,ジミー・カーター),(9,ja,数学\n"
HANJA = "수학:數學:산수, 수식\n가:家:가족\n"


def _write_raw(raw, wiki=WIKI, langlink=LANGLINK, hanja=HANJA):
    raw.mkdir(exist_ok=True)
    (raw / "wiki_index.txt").write_text(wiki, encoding="utf-8")
    (raw / "langlink.txt").write_text(langlink, encoding="utf-8")
    (raw / "hanja.txt").write_text(hanja, encoding="utf-8")
    return str(raw)


@pytest.fixture(scope="module")
def result(spark, tmp_path_factory):
    raw = _write_raw(tmp_path_factory.mktemp("raw"))
    stage = str(tmp_path_factory.mktemp("stage"))
    return run_reference_pipeline(spark, raw, stage)


def test_tables_loaded_with_identity(result):
    assert result.korean.columns == ["edit_id", "word_id", "korean", "data_id"]
    assert result.row_count == 4
    ids = [r["data_id"] for r in result.korean.collect()]
    assert len(set(ids)) == len(ids)


def test_dq_checks_pass(result):
    assert result.max_word_id_len <= 13


def test_dimension_preserves_language_fanout(result):
    """dag-knlp.py:78 joins on article_id with NO language filter — an
    article linking to en and ja yields a row per language (the quirk
    the oracle must reproduce, SURVEY.md §2.3)."""
    rows = result.dimension.collect()
    word5 = {(r["korean"], r["japanese"]) for r in rows if r["word_id"] == "5"}
    assert word5 == {("지미 카터", "Jimmy Carter"), ("지미 카터", "ジミー・カーター")}


def test_dimension_distinct_dedups_duplicate_titles(result):
    """word_id 5 appears twice in the index (edit 600 and 700) with the
    same title; DISTINCT on the 4 projected columns collapses them —
    so exactly 2 rows remain for word 5 (one per language), not 4."""
    n5 = sum(1 for r in result.dimension.collect() if r["word_id"] == "5")
    assert n5 == 2


def test_dimension_left_join_null_semantics(result):
    rows = {r["word_id"]: r for r in result.dimension.collect()}
    # word 42 has no langlink and no hanja entry → NULLs preserved
    assert rows["42"]["japanese"] is None
    assert rows["42"]["hanjya"] is None
    # word 9 joins hanja via the korean title (수학 → 數學)
    assert rows["9"]["hanjya"] == "數學"


def test_ragged_wiki_title_survives_parse(result):
    """'역사: 고대' contains the delimiter — the wiki-index parse packs
    the overflow back into the title column (dag-knlp.py:136-137), so
    the full title reaches the dimension table intact."""
    rows = {r["word_id"]: r for r in result.dimension.collect()}
    assert rows["42"]["korean"] == "역사: 고대"


def test_all_null_staged_column_loads_as_null(spark, tmp_path):
    """No hanja line carries examples, so the JSON writer (which drops
    null fields) stages no `examples` key at all. The load binds against
    the DDL, as COPY does, so the column is there and NULL instead of
    unresolvable."""
    raw = _write_raw(tmp_path / "raw", hanja="수학:數學\n가:家\n")
    out = run_reference_pipeline(spark, raw, str(tmp_path / "stage"))
    assert out.korean_hanjya.columns == ["korean", "hanjya", "examples", "data_id"]
    assert {(r["korean"], r["examples"]) for r in out.korean_hanjya.collect()} == {
        ("수학", None),
        ("가", None),
    }
    rows = {r["word_id"]: r for r in out.dimension.collect()}
    assert rows["9"]["hanjya"] == "數學"


def test_empty_input_fails_the_row_count_check(spark, tmp_path):
    """An empty wiki index stages no title record; the load still has
    the DDL's columns, so the run reaches the reference's datacheck1
    (dag-knlp.py:253-258) and fails there."""
    raw = _write_raw(tmp_path / "raw", wiki="")
    with pytest.raises(ValueError, match=r"^Data quality check failed\. Rows 0 < 1$"):
        run_reference_pipeline(spark, raw, str(tmp_path / "stage"))


_GROUPS = itertools.count()


def _jobs_by_group(spark, fn):
    """Run ``fn`` in a fresh job group; return (jobs in that group, jobs
    with no group that started meanwhile)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    ungrouped = set(sc.statusTracker().getJobIdsForGroup(None))
    group = f"pipeline-test-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    bus.waitUntilEmpty()
    grouped = sc.statusTracker().getJobIdsForGroup(group)
    return grouped, set(sc.statusTracker().getJobIdsForGroup(None)) - ungrouped


@pytest.fixture(scope="module")
def chunked_raw(tmp_path_factory):
    """Enough lines that every staged table spans several 10k-row part
    files."""
    n = 25_000
    wiki = "".join(f"{600 + i}:{i}:제목{i % 997}\n" for i in range(n))
    hanja = "".join(f"제목{i % 997}:漢{i}:예문{i}\n" for i in range(n))
    langlink = "".join(
        "),(".join(f"{10 * j + k},ja,title_{10 * j + k}" for k in range(10)) + "\n"
        for j in range(n // 10)
    )
    return _write_raw(tmp_path_factory.mktemp("chunked_raw"), wiki, langlink, hanja)


def _staged(stage_dir, name):
    files = sorted(glob.glob(os.path.join(stage_dir, name, "part-*")))
    lines = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            lines.extend(fh.read().splitlines())
    return len(files), sorted(lines)


def test_parse_stage_jobs_stay_in_callers_group(spark, chunked_raw, tmp_path):
    """The three writes run on pool threads; every job they start is
    still charged to the caller's job group (so cancelJobGroup and
    per-span attribution see them), none to no group."""
    stage = str(tmp_path / "stage")
    grouped, ungrouped = _jobs_by_group(
        spark, lambda: pipeline.parse_stage(spark, chunked_raw, stage)
    )
    assert len(grouped) >= 3  # one write job per staged table at least
    assert ungrouped == set()


def test_parse_stage_runs_with_unpinned_threads(spark, chunked_raw, tmp_path, monkeypatch):
    """Without pinned threads (PYSPARK_PIN_THREAD=false, a plain py4j
    JavaGateway), inheritable_thread_target hands the write function
    back unwrapped; the three writes still run and stage every table."""
    import py4j.clientserver

    monkeypatch.setattr(py4j.clientserver, "ClientServer", type("NotTheGateway", (), {}))
    stage = str(tmp_path / "stage")
    pipeline.parse_stage(spark, chunked_raw, stage)
    monkeypatch.undo()
    for name in ("hanjya", "titles", "langlinks"):
        files, lines = _staged(stage, name)
        assert files >= 3 and len(lines) == 25_000


def test_parse_stage_warns_nothing_with_pinned_threads(spark, chunked_raw, tmp_path):
    """In pinned-thread mode (PySpark's default, a py4j ClientServer)
    parse_stage hands the session to inheritable_thread_target, so
    PySpark does not warn that session tags will not be inherited."""
    import warnings

    from py4j.clientserver import ClientServer
    from pyspark import SparkContext

    assert isinstance(SparkContext._gateway, ClientServer)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        pipeline.parse_stage(spark, chunked_raw, str(tmp_path / "stage"))
    assert [str(w.message) for w in caught if issubclass(w.category, UserWarning)] == []


def test_load_tables_runs_no_spark_job(spark, chunked_raw, tmp_path):
    stage = str(tmp_path / "stage")
    pipeline.parse_stage(spark, chunked_raw, stage)
    grouped, ungrouped = _jobs_by_group(spark, lambda: pipeline.load_tables(spark, stage))
    assert grouped == [] and ungrouped == set()


def test_concurrent_staging_matches_sequential_writes(spark, chunked_raw, tmp_path):
    """Same part-file count and the same records per table as writing
    the three parses one after another."""
    concurrent, sequential = str(tmp_path / "concurrent"), str(tmp_path / "sequential")
    pipeline.parse_stage(spark, chunked_raw, concurrent)
    parses = {
        "hanjya": read_delimited(
            spark, os.path.join(chunked_raw, "hanja.txt"), pipeline.KOREAN_HANJYA_COLS
        ),
        "titles": read_delimited(
            spark, os.path.join(chunked_raw, "wiki_index.txt"), pipeline.KOREAN_COLS
        ),
        "langlinks": read_tuple_burst(
            spark, os.path.join(chunked_raw, "langlink.txt"), pipeline.KOREAN_JAPANESE_COLS
        ),
    }
    for name, df in parses.items():
        write_json_lines(df, os.path.join(sequential, name), max_records_per_file=10_000)
    for name in parses:
        files, lines = _staged(concurrent, name)
        assert files >= 3
        assert (files, lines) == _staged(sequential, name)


def test_corpus_funnel_is_monotone_and_consistent(spark, sf_dir):
    from etl_knlp_spark.plans.corpus import corpus_funnel

    n = {r["stage"]: r["n"] for r in corpus_funnel(spark, sf_dir).collect()}
    assert set(n) == {"raw", "clean", "quality", "dedup", "packed"}
    # every filter stage can only shrink the doc set
    assert n["raw"] >= n["clean"] >= n["quality"] >= n["dedup"] > 0
    # packing merges docs into sequences: never more sequences than docs
    assert 0 < n["packed"] <= n["dedup"]
