"""catalog's schema cache: a repeated table load runs no Spark job, a
file rewritten in place is inferred again, ``events.ts`` normalization
reads the cached type, and a cached-schema scan plans exactly like a
plain ``spark.read.parquet``."""

from __future__ import annotations

import datetime as dt
import itertools
import os
import re

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import types as T

from etl_knlp_spark import catalog

_GROUPS = itertools.count()


def _jobs(spark, fn):
    """(result of ``fn()``, number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"schema-cache-test-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _write_region(sf_dir, key_type, n):
    keys = [str(i) for i in range(n)] if key_type == pa.string() else list(range(n))
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(keys, key_type),
            "r_name": pa.array([f"R{i}" for i in range(n)]),
        }),
        catalog.table_path(sf_dir, "region"),
    )


def test_second_load_runs_no_spark_job(spark, tmp_path):
    _write_region(str(tmp_path), pa.int64(), 5)
    first, first_jobs = _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "region"))
    second, second_jobs = _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "region"))
    assert first_jobs >= 1  # the miss infers the schema with a Spark job
    assert second_jobs == 0
    assert second.schema == first.schema
    assert sorted(second.collect()) == sorted(first.collect())


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = catalog.table_path(str(tmp_path), "region")
    _write_region(str(tmp_path), pa.int64(), 5)
    before = catalog.load_table(spark, str(tmp_path), "region")
    assert before.schema["r_regionkey"].dataType == T.LongType()
    old = os.stat(path)

    _write_region(str(tmp_path), pa.string(), 7)
    # a rewrite can land inside the filesystem's timestamp granularity
    os.utime(path, ns=(old.st_atime_ns, old.st_mtime_ns + 10**9))
    assert os.stat(path).st_size != old.st_size

    after, jobs = _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "region"))
    assert jobs >= 1
    assert after.schema["r_regionkey"].dataType == T.StringType()
    assert after.count() == 7


def test_events_ts_is_timestamp_from_cached_schema(spark, tmp_path):
    """Both driver generations of ``events.ts``: TIMESTAMP(NANOS), read
    as a long, and TIMESTAMP(MICROS) with isAdjustedToUTC=false, read as
    TIMESTAMP_NTZ."""
    base = dt.datetime(2024, 1, 15, 12, 0, 0, 123456)
    for unit in ("ns", "us"):
        d = tmp_path / f"gen_{unit}"
        d.mkdir()
        pq.write_table(
            pa.table({
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array([base, base], pa.timestamp(unit)),
                "user_id": pa.array([10, 20], pa.int64()),
            }),
            d / "events.parquet",
            version="2.6",
        )
        catalog.load_table(spark, str(d), "events")
        e, jobs = _jobs(spark, lambda: catalog.load_table(spark, str(d), "events"))
        assert jobs == 0, unit
        assert e.schema["ts"].dataType == T.TimestampType(), unit
        assert e.orderBy("event_id").first()["ts"] == base, unit


def _optimized_plan(df) -> str:
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())


def test_cached_schema_plan_equals_uncached_plan(spark, tmp_path):
    _write_region(str(tmp_path), pa.int64(), 5)
    path = catalog.table_path(str(tmp_path), "region")
    catalog.load_table(spark, str(tmp_path), "region")
    cached, jobs = _jobs(spark, lambda: catalog.load_table(spark, str(tmp_path), "region"))
    assert jobs == 0

    def query(df):
        return df.filter("r_regionkey > 1").select("r_name")

    assert _optimized_plan(query(cached)) == _optimized_plan(query(spark.read.parquet(path)))


def test_cached_events_plan_equals_uncached_plan(spark, sf_dir):
    catalog.load_table(spark, sf_dir, "events")
    cached, jobs = _jobs(spark, lambda: catalog.load_table(spark, sf_dir, "events"))
    assert jobs == 0
    uncached = catalog._normalize_ts(spark.read.parquet(catalog.table_path(sf_dir, "events")))

    def query(df):
        return df.filter("ts >= timestamp'2024-02-01'").groupBy("event_type").count()

    assert _optimized_plan(query(cached)) == _optimized_plan(query(uncached))
