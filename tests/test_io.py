"""Sinks/loads: JSON-lines roundtrip, chunked part-files, DDL + insert
(SURVEY.md §2.1 S4-S8)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from etl_knlp_spark.catalog import load_table
from etl_knlp_spark.sources.io import (
    create_table_if_not_exists,
    insert_into,
    read_json_auto,
    write_json_lines,
)


def test_json_lines_roundtrip_and_chunking(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    out = str(tmp_path / "docs_json")
    write_json_lines(docs.repartition(1), out, max_records_per_file=100)
    # 500 rows / 100 per file → ≥5 part files (the reference's 10k-row
    # chunking, dag-knlp.py:139-145, scaled down)
    assert len(glob.glob(out + "/part-*")) >= 5
    back = read_json_auto(spark, out, columns=["doc_id", "lang", "source"])
    assert back.count() == docs.count()
    # name-based binding survives column reorder (COPY JSON 'auto' semantics)
    reordered = read_json_auto(spark, out, columns=["source", "doc_id", "lang"])
    assert reordered.columns == ["source", "doc_id", "lang"]


def test_ddl_and_insert_into(spark, sf_dir):
    spark.sql("DROP TABLE IF EXISTS korean_hanjya_test")
    create_table_if_not_exists(
        spark, "korean_hanjya_test", "korean STRING, hanjya STRING, examples STRING"
    )
    # IF NOT EXISTS: second call is a no-op, not an error (dag-knlp.py:24)
    create_table_if_not_exists(
        spark, "korean_hanjya_test", "korean STRING, hanjya STRING, examples STRING"
    )
    df = spark.createDataFrame(
        [("가", "家", "가족"), ("각", "各", "각자")], ["korean", "hanjya", "examples"]
    )
    insert_into(df, "korean_hanjya_test")
    insert_into(df, "korean_hanjya_test")  # append semantics (S8)
    assert spark.table("korean_hanjya_test").count() == 4
    spark.sql("DROP TABLE korean_hanjya_test")


def test_corrupt_json_records_are_quarantined(spark, tmp_path):
    d = tmp_path / "mixed"
    d.mkdir()
    (d / "good.json").write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    (d / "bad.json").write_text('{"a": 3, "b": "z"}\n{broken not json\n')
    df = read_json_auto(spark, str(d), ["a", "b"], corrupt_col="_bad")
    assert df.columns == ["a", "b", "_bad"]
    rows = df.collect()
    assert len(rows) == 4
    bad = [r for r in rows if r["_bad"] is not None]
    assert len(bad) == 1 and "broken" in bad[0]["_bad"]
    # DROPMALFORMED discards the bad line instead
    dropped = read_json_auto(spark, str(d), ["a", "b"], mode="DROPMALFORMED")
    assert dropped.count() == 3


def test_events_nanos_timestamp_loads(spark, sf_dir):
    """events.parquet is TIMESTAMP(NANOS) — catalog must surface a
    proper timestamp column (truncated to µs) on any session."""
    e = load_table(spark, sf_dir, "events")
    assert e.schema["ts"].dataType.simpleString() == "timestamp"
    r = e.orderBy("event_id").first()
    assert r["ts"].year == 2024
    assert e.filter(F.col("ts").isNull()).count() == 0


def test_events_ts_adaptive_across_generations(spark, tmp_path):
    """The driver has shipped events.ts as TIMESTAMP(NANOS) in some
    testdata generations and TIMESTAMP(MICROS) in others; load_table
    must normalize BOTH to a proper timestamp column (the round-3
    breakage was a hardcoded ns->us conversion meeting a micros
    file)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 15, 12, 0, 0)
    rows = {
        "event_id": [1, 2],
        "user_id": [10, 20],
        "event_type": ["view", "purchase"],
        "value": [1.0, 2.0],
        "props": ["{}", "{}"],
    }
    for unit in ("ns", "us"):
        d = tmp_path / f"gen_{unit}"
        d.mkdir()
        tbl = pa.table(
            {
                "event_id": pa.array(rows["event_id"], pa.int64()),
                "ts": pa.array([base, base], pa.timestamp(unit)),
                "user_id": pa.array(rows["user_id"], pa.int64()),
                "event_type": pa.array(rows["event_type"]),
                "value": pa.array(rows["value"], pa.float64()),
                "props": pa.array(rows["props"]),
            }
        )
        pq.write_table(tbl, d / "events.parquet", version="2.6")
        e = load_table(spark, str(d), "events")
        assert e.schema["ts"].dataType.simpleString() == "timestamp", unit
        got = e.orderBy("event_id").first()["ts"]
        assert got == base, (unit, got)


def test_hadoop_glob_nonempty_matches_reader_resolution(spark, tmp_path):
    """ADVICE r7 #1: source existence checks resolve through the Hadoop
    FileSystem API (the resolution spark.read itself uses), not a
    driver-local glob — a local glob silently misses on remote schemes
    and turned populated s3a:// drops into empty frames."""
    from etl_knlp_spark.sources.io import hadoop_glob_nonempty

    d = tmp_path / "drop"
    assert not hadoop_glob_nonempty(spark, f"{d}/*.avro")  # parent missing
    d.mkdir()
    assert not hadoop_glob_nonempty(spark, f"{d}/*.avro")  # empty drop
    (d / "part-0.avro").write_bytes(b"x")
    assert hadoop_glob_nonempty(spark, f"{d}/*.avro")
    # explicit scheme resolves too (the case local glob can never see)
    assert hadoop_glob_nonempty(spark, f"file://{d}/*.avro")
