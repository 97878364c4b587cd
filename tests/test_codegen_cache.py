"""Generated-code cache: a repeat build of a headline query compiles
no new class.

Spark keys its generated-code cache on the generated source. A literal
that differs per build (a uuid, a timestamp, a seed) makes every
build's code unique and defeats the cache at any size; this pins that
none of the 32 headline queries does. Each query's own classes (46 at
most) fit this session's default 100-entry cache, so the test needs no
larger cap than Spark's default.
"""

from __future__ import annotations

import bench
from etl_knlp_spark import registry
from etl_knlp_spark.session import engine_conf

CACHE_CONF = "spark.sql.codegen.cache.maxEntries"


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far: the count of
    CodegenMetrics' compile-time histogram, one sample per cache miss."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_engine_conf_sizes_the_codegen_cache_at_context_creation(spark):
    """The cap is in the engine's conf table, and it is a static conf:
    only get_spark can apply it, so tune_session leaves it alone on a
    running session."""
    assert engine_conf(4)[CACHE_CONF] == "1024"
    assert not spark.conf.isModifiable(CACHE_CONF)


def test_repeat_builds_compile_nothing(spark, sf_dir):
    """Each headline query, built the way the benchmark builds it
    (bench's probe overrides, noop sink), compiles its classes once;
    a fresh build of the same query then compiles none."""
    queries = registry.all_queries()
    overrides = bench._probe_overrides()
    recompiled = {}
    for name in bench.HEADLINE:
        fn = overrides.get(name, queries[name])
        bench.materialize(fn(spark, sf_dir))
        before = _compiles(spark)
        bench.materialize(fn(spark, sf_dir))
        if moved := _compiles(spark) - before:
            recompiled[name] = moved
    assert recompiled == {}, f"fresh builds compiled new classes: {recompiled}"
