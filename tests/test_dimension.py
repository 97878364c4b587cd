"""Flagship plan + identity policy + null-semantics pins (SURVEY.md §7)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import __spark_entry__ as entry_mod
from etl_knlp_spark.plans.dimension import with_identity


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.columns == ["l_orderkey", "l_returnflag", "status", "segment"]
    assert df.count() > 0


def test_entry_hash_matches_registered_q1_oracle(spark, sf_dir):
    """r10 verdict #5: ``entry()`` is only smoke-run by the driver,
    while the flagship's CORRECTNESS row comes from the registered
    ``q1_dimension_build`` — so the two could silently drift apart.
    Pin them together at hash level: entry(spark) at sf0.001 must
    value-hash-equal BOTH the registered query AND its DuckDB oracle,
    under the gate's exact canonicalization — imported from
    tools/verify_oracles rather than re-implemented, so the test can
    never drift from the comparison it claims to replay (a hand copy
    here once omitted the float-rounding/datetime steps, which only
    passed because the flagship emits no float or timestamp
    columns)."""
    import importlib.util

    import duckdb

    from etl_knlp_spark import registry
    from etl_knlp_spark.catalog import TABLES, table_path

    spec = importlib.util.spec_from_file_location(
        "verify_oracles",
        os.path.join(os.path.dirname(__file__), "..", "tools", "verify_oracles.py"),
    )
    verify_oracles = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(verify_oracles)
    value_hash = verify_oracles.value_hash

    registry._load_all()
    rq = registry._REGISTRY["q1_dimension_build"]

    h_entry = value_hash(entry_mod.entry(spark).toPandas())
    h_registry = value_hash(rq.fn(spark, sf_dir).toPandas())
    assert h_entry == h_registry, (
        "entry() and the registered q1_dimension_build produce "
        "different results — the driver's smoke check and the "
        "correctness gate no longer exercise the same flagship"
    )

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{table_path(sf_dir, t)}')"
        )
    h_oracle = value_hash(con.execute(rq.oracle).df())
    assert h_entry == h_oracle, (
        "entry() output no longer hash-matches the q1 DuckDB oracle"
    )


def test_every_query_has_callable_and_oracle_alignment():
    qs, os_ = entry_mod.queries(), entry_mod.oracle_sql()
    assert len(qs) >= 50
    assert set(os_) <= set(qs)
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in os_.values())


def test_registry_importable_without_session():
    """The driver may call queries()/oracle_sql() before creating a
    SparkSession — module-level Column/pandas_udf construction would
    crash that (regression: plans/tpch once built a module-level
    Column). Check in a clean subprocess."""
    import subprocess
    import sys

    code = (
        "from etl_knlp_spark import registry; "
        "qs = registry.all_queries(); os_ = registry.all_oracles(); "
        "assert len(qs) >= 95 and set(os_) <= set(qs); print('ok')"
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        timeout=120,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert "ok" in out.stdout


def test_flagship_rows_are_distinct_without_final_distinct(spark, sf_dir):
    """r15 optimization invariant: the trailing DISTINCT was elided
    because the pre-join distinct + 1:1 PK joins already make every
    output row unique (plans/dimension.py). If orders/customer ever
    stopped being unique on their join keys, the left joins would fan
    out and the elision would emit duplicates the oracle's SELECT
    DISTINCT drops — this pins the uniqueness engine-side, next to the
    code that relies on it (the oracle hash comparison is the loud
    backstop at every SF)."""
    df = entry_mod.queries()["q1_dimension_build"](spark, sf_dir)
    total = df.count()
    assert total == df.distinct().count(), (
        "q1_dimension_build emitted duplicate rows — the 1:1 join "
        "invariant behind the elided final DISTINCT is violated"
    )


def test_with_identity_is_unique(spark):
    df = spark.range(10_000).select(F.col("id").alias("x"))
    out = with_identity(df.repartition(8))
    assert out.select("data_id").distinct().count() == 10_000


def test_distinct_treats_nulls_as_equal(spark):
    """Pin the DISTINCT+NULL semantics the oracle comparison relies on
    (SURVEY.md §7 hard parts): NULLs compare equal under DISTINCT."""
    df = spark.createDataFrame(
        [(1, None), (1, None), (2, "x")], ["k", "v"]
    )
    assert df.distinct().count() == 2
