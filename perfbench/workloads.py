"""The benchmark's workloads: their inputs and their timed queries.

- ``headline``: the 32 ``bench.HEADLINE`` queries, with bench's probe
  overrides, on generated sf0.01 tables. Fixed per-query cost dominates:
  table loads with their schema-inference jobs, DataFrame construction
  with eager jobs, Catalyst planning and per-job scheduling.
- ``reference_dag``: ``plans.pipeline.run_reference_pipeline`` on raw
  text plus a noop materialization of the dimension -- the only workload
  that writes (JSON-lines staging) and the only one that bypasses
  ``catalog`` and the query registry.

Inputs depend on ``seed % DATA_VARIANTS`` (digests are recorded per
variant); the whole seed also permutes the query order of every pass.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

import gen

HEADLINE_SF = 0.01
REFERENCE_LINES = 100_000
DATA_VARIANTS = 4

# The modules whose per-layer build/plan/exec metrics are reported:
# the registry modules of the timed queries, plus the reference DAG's.
MODULES = (
    "operators.relational",
    "operators.text",
    "operators.dedup",
    "operators.similarity",
    "operators.analysis",
    "operators.stats",
    "operators.parse",
    "functions.scalar",
    "functions.skew",
    "plans.dimension",
    "plans.tpch",
    "streaming.windows",
    "plans.pipeline",
)

WORKLOADS = ("headline", "reference_dag")


@dataclass(frozen=True)
class Query:
    name: str
    module: str
    build: Callable  # (spark) -> DataFrame
    records: int  # input rows the query reads
    oracle: str | None = None  # DuckDB SQL over the input tables
    contract: Callable | None = None  # (spark) -> the registry query the oracle checks, when build differs


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[Query, ...]
    warmup: Callable  # (spark) -> None
    input_desc: str
    stage_dir: str | None = None
    raw_bytes: int = 0
    warm_seconds: float = 0.0  # of untimed whole passes after the output check, while JIT warm-up still shows

    @property
    def records_per_pass(self) -> int:
        return sum(q.records for q in self.queries)


def ensure_inputs(name: str, variant: int, data_root: str) -> str:
    """Generate the workload's inputs for ``variant`` once per checkout;
    a ``_DONE`` marker written last makes an interrupted generation
    start over."""
    out = os.path.join(data_root, f"{name}-v{variant}")
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    seed = 1000 + variant
    if name == "headline":
        gen.write_tables(out, seed, HEADLINE_SF)
    elif name == "reference_dag":
        gen.write_reference_raw(os.path.join(out, "raw"), seed, REFERENCE_LINES)
    else:
        raise ValueError(f"unknown workload {name!r}; known: {WORKLOADS}")
    open(os.path.join(out, "_DONE"), "w").close()
    return out


def _table_rows(data_dir: str) -> dict[str, int]:
    import pyarrow.parquet as pq

    return {
        f[: -len(".parquet")]: pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows
        for f in os.listdir(data_dir)
        if f.endswith(".parquet")
    }


def _registry_queries(names, data_dir: str) -> tuple[Query, ...]:
    import bench
    from etl_knlp_spark import registry

    registry._load_all()
    overrides = bench._probe_overrides()
    rows = _table_rows(data_dir)
    out = []
    for name in names:
        rq = registry._REGISTRY[name]
        fn = overrides.get(name, rq.fn)
        out.append(
            Query(
                name=name,
                module=fn.__module__.removeprefix("etl_knlp_spark."),
                build=lambda spark, fn=fn: fn(spark, data_dir),
                records=sum(rows[t] for t in registry._tables_of(rq)),
                oracle=rq.oracle,
                contract=None if fn is rq.fn else (lambda spark, f=rq.fn: f(spark, data_dir)),
            )
        )
    return tuple(out)


def load(name: str, data_dir: str, work_dir: str) -> Workload:
    """The workload over inputs already in ``data_dir``. Call after any
    tracing patches are in place: the registry modules bind
    ``catalog.load_table`` by name when this first imports them."""
    import bench

    if name == "headline":
        queries = _registry_queries(bench.HEADLINE, data_dir)
        warm = queries[0]  # q1_dimension_build, bench's warmup
        rows = _table_rows(data_dir)
        return Workload(
            name,
            queries,
            warmup=lambda spark: bench.materialize(warm.build(spark)),
            input_desc=f"sf{HEADLINE_SF} tables, {sum(rows.values())} rows",
        )
    if name == "reference_dag":
        from etl_knlp_spark.plans import pipeline
        from etl_knlp_spark.sources.text import read_delimited

        raw = os.path.join(data_dir, "raw")
        stage = os.path.join(work_dir, "stage")
        raw_bytes = sum(os.path.getsize(os.path.join(raw, f)) for f in os.listdir(raw))
        records = 3 * REFERENCE_LINES  # wiki + hanja lines + langlink tuples

        def build(spark):
            return pipeline.run_reference_pipeline(spark, raw, stage).dimension

        def warmup(spark):
            hanja = read_delimited(spark, os.path.join(raw, "hanja.txt"), pipeline.KOREAN_HANJYA_COLS)
            bench.materialize(hanja)

        return Workload(
            name,
            (Query("reference_pipeline", "plans.pipeline", build, records),),
            warmup=warmup,
            input_desc=f"{REFERENCE_LINES} wiki + {REFERENCE_LINES} hanja lines, "
            f"{REFERENCE_LINES} langlink tuples, {raw_bytes} raw bytes",
            stage_dir=stage,
            raw_bytes=raw_bytes,
            warm_seconds=15.0,
        )
    raise ValueError(f"unknown workload {name!r}; known: {WORKLOADS}")
