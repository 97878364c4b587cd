"""SparkSession settings, kept in one table (:func:`engine_conf`).

Two paths apply the table. :func:`get_spark` builds the engine's own
session with every entry. :func:`tune_session` runs at the first table
load on any session, including a driver's vanilla one, and applies the
entries Spark lets a running session change (``spark.conf.isModifiable``);
context-creation settings such as driver memory, and static SQL confs
such as the generated-code cache size, are out of its reach.

Settings rationale (100 TB posture, per SURVEY.md §2.12 / §4):
- AQE on: runtime re-planning (SMJ→BHJ conversion, skew-join splitting,
  partition coalescing) replaces hand-tuned physical hints.
- Skew-join on: wiki-title-like key distributions are Zipfian; AQE
  splits oversized shuffle partitions instead of stalling one task.
- Arrow on: every Pandas-UDF boundary moves columnar batches, not
  pickled rows.
- Shuffle partitions default to the local core count: ``cpus`` in
  ``get_spark``, the context's ``defaultParallelism`` in
  ``tune_session``; on a real cluster this is overridden (or left to AQE
  coalescing from an intentionally high initial number).
- UTC session timezone: deterministic timestamp semantics against
  external oracles and parquet files written by other engines.
- Generated-code cache at 1024 entries (Spark's default is 100): one
  pass over the 32 headline queries compiles 372–384 distinct classes,
  so at the default every warm pass evicted them all and recompiled ~410
  with Janino, each one new bytecode for HotSpot to JIT again. With the
  working set cached a warm pass compiles none. Each entry keeps its
  class's source in the key, ~20 KB, so the cap costs ~8 MB of live
  heap at the headline working set; do not cut it below that set to
  save heap. The conf is static (``isModifiable`` is false): only
  :func:`get_spark` applies it, at context creation, and
  :func:`tune_session` skips it on a running session. The cache is one
  map per JVM, built at the first compile, so it outlives a stopped
  SparkContext.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def engine_conf(cpus: int) -> dict[str, str]:
    """The engine's session settings for a session with ``cpus`` cores."""
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.sql.codegen.cache.maxEntries": "1024",
    }


def get_spark(
    app_name: str = "etl_knlp_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    ``extra_conf`` lets measurement tooling (tools/job_profile.py) layer
    context-creation-time settings (e.g. the event log) on top of the
    engine defaults without duplicating them; queries and the bench never
    pass it."""
    cpus = cpus or DEFAULT_CPUS
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    for k, v in {**engine_conf(cpus), **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> None:
    """Apply the runtime-settable part of :func:`engine_conf`, once per
    session. queries() callables receive the DRIVER's session, which may
    ship Spark defaults (AQE off in older configs, 200 shuffle
    partitions, machine-local timezone); these confs make plans and
    timestamp semantics match the engine's design regardless of who
    built the session."""
    if getattr(spark, "_etl_knlp_tuned", False):
        return
    for k, v in engine_conf(spark.sparkContext.defaultParallelism).items():
        try:
            if spark.conf.isModifiable(k):
                spark.conf.set(k, v)
        except Exception:
            pass  # a locked-down session still works, just less tuned
    spark._etl_knlp_tuned = True
