"""Layout-perturbation determinism sweep.

Every CORRECTNESS row assumes the engine's results are independent of
physical data layout — partition count, file split size, join
strategy, task scheduling order. That assumption is exactly what
breaks silently: a top-k with ties, a first/last aggregate, or a
float reduction whose result depends on combine order all pass the
sweep under ONE session config and flip under another (the driver's
vanilla session is already a second config, but both are "reasonable"
layouts). This probe runs the identical oracle comparison as
tools/verify_oracles.py under a deliberately hostile session.

Two hostile layouts (pick with --layout, default `hostile`):

`hostile` — many small misaligned partitions (the r11 layout that
caught the ROUND(SUM(double)) half-cent class on q9):
  - local[5] threads, spark.sql.shuffle.partitions=7 (primes, no
    alignment with the 16/32-partition runs or the data's layout),
  - maxPartitionBytes=256k + openCostInBytes=0 (parquet files split
    into many small input partitions → different scan row order),
  - AQE fully OFF (no runtime coalescing/skew handling — the plans
    the optimizer would fix stay raw),
  - autoBroadcastJoinThreshold=-1 (every join that the default
    session broadcasts runs as a shuffle join instead — results must
    not care which physical join executed).

`serial` — the opposite extreme (r12): ONE thread, ONE shuffle
partition, files read as single whole splits. Every reduction runs
fully serially in scan order — the combine tree degenerates to a
left fold, partial aggregation becomes a single pass, every window
partition lands in one task, and mapInPandas/applyInPandas kernels
see maximal Arrow batches. A float sum, a merge-based sketch, or a
batched incremental fold that agrees with the oracle under BOTH the
many-small-partitions layout and the fully-serial one brackets the
whole layout space a real cluster can produce (any production layout
sits between the two extremes).

A query passing at the default session (the normal sweeps) plus both
probe layouts is evidenced layout-independent — the property that
actually matters on a 1000-executor cluster where layout is never the
same twice. Usage:

    python tools/determinism_probe.py [--layout hostile|serial] [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from etl_knlp_spark.session import get_spark, tune_session  # noqa: E402
from verify_oracles import run_sweep  # noqa: E402


def _layout_session(name: str, cpus: int, layout: dict[str, str]) -> SparkSession:
    """A ``local[cpus]`` engine session (``session.get_spark``) with
    ``layout`` on top. The first table load tunes every session to the
    engine's defaults (``session.tune_session``); tune this one now and
    put the layout's runtime confs back, so the queries run under the
    layout and not under the defaults."""
    spark = get_spark(name, cpus=cpus, extra_conf=layout)
    tune_session(spark)
    for k, v in layout.items():
        if spark.conf.isModifiable(k):
            spark.conf.set(k, v)
    return spark


def perturbed_session() -> SparkSession:
    """Many small misaligned partitions, no AQE, no broadcasts."""
    return _layout_session("determinism_probe", 5, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
        "spark.default.parallelism": "3",
        "spark.sql.files.maxPartitionBytes": str(256 * 1024),
        "spark.sql.files.openCostInBytes": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })


def serial_session() -> SparkSession:
    """Fully-serial single-partition extreme: one thread, one shuffle
    partition, whole-file splits — reductions left-fold in scan order
    and Python kernels see maximal batches."""
    return _layout_session("determinism_probe_serial", 1, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": "1",
        "spark.default.parallelism": "1",
        "spark.sql.files.maxPartitionBytes": str(1 << 40),
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    })


_LAYOUTS = {"hostile": perturbed_session, "serial": serial_session}


def main() -> int:
    args = sys.argv[1:]
    layout = "hostile"
    if args and args[0] == "--layout":
        if len(args) < 2 or args[1] not in _LAYOUTS:
            print(f"--layout must be one of {sorted(_LAYOUTS)}", file=sys.stderr)
            return 1
        layout = args[1]
        args = args[2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])
    failures = run_sweep(_LAYOUTS[layout](), sf_dir, only)
    if failures:
        print(
            f"\nLAYOUT-DEPENDENT RESULTS ({layout}): {failures} — these "
            "queries return different values under a different physical "
            "layout and WILL flake on a real cluster"
        )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
