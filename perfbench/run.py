"""The repo benchmark: one seeded workload per run, closed loop (one
client, one query at a time) on ``local[<cores> - 1]``.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --record --workload headline    # (re)record its digests

A run generates (or reuses) the workload's inputs, sets the session up
(launching the JVM), checks every query's output once against the
digests recorded for its input variant, runs whole passes over the
queries until ``--seconds`` have elapsed, then sets the session up
``SETUP_REPEATS`` more times in the warmed JVM for ``setup_s``. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced passes and reports the per-layer metrics. The last stdout line is the
JSON result. Everything it writes stays under ``.perfbench_run/`` of the
checkout; see perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import signal
import statistics
import sys
import tempfile
import time
import traceback

import check
import tracing
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
SETUP_REPEATS = 3
DRIVER_MEM = "3g"

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "query_p50_s": "s",
    "records_per_s": "records/s",
    "cpu_s": "s",
    "jvm_heap_live_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    units = {
        "session.get_spark_s": "s",
        "catalog.load_table.calls": "count",
        "catalog.load_table.s": "s",
        "catalog.load_table.jobs": "count",
    }
    for m in workloads.MODULES:
        units.update({
            f"{m}.build_s": "s",
            f"{m}.build_jobs": "count",
            f"{m}.plan_s": "s",
            f"{m}.exec_s": "s",
            f"{m}.exec_jobs": "count",
        })
    units.update({
        "plan.analysis_ms": "ms",
        "plan.optimization_ms": "ms",
        "plan.planning_ms": "ms",
        "plan.jobs": "count",
        "exec.jobs": "count",
        "exec.stages": "count",
        "exec.tasks": "count",
        "exec.task_run_s": "s",
        "exec.task_cpu_s": "s",
        "exec.gc_s": "s",
        "exec.input_mb": "MB",
        "exec.shuffle_write_mb": "MB",
        "exec.shuffle_read_mb": "MB",
        "exec.spill_mb": "MB",
        "arrow.to_python_mb": "MB",
        "arrow.from_python_mb": "MB",
        "arrow.rows_from_python": "count",
        "pipeline.parse_stage_s": "s",
        "pipeline.load_tables_s": "s",
        "pipeline.build_dimension_s": "s",
        "quality.checks_s": "s",
        "sources.staged_mb": "MB",
        "sources.staged_files": "count",
        "sources.write_amplification": "ratio",
        "log.error_lines": "count",
        "log.warn_lines": "count",
        "trace.overhead_ratio": "ratio",
        "trace.accounted_ratio": "ratio",
    })
    return units


PER_LAYER = _per_layer_units()


def _cores() -> int:
    """Spark's core count on this host. One core is left to the
    closed-loop client and the driver JVM's JIT and GC threads: with every core running tasks, a stage waits on
    whichever task lost its core, and in an interleaved A/B of four
    ``headline`` runs each on 4 cores, local[4] passes ranged over
    13.6-18.3 s against 15.1-16.2 s for local[3] at a similar median."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def _environment(work: str) -> int:
    """Size the session to this host's cores and keep every file the run
    writes (shuffle, temp, warehouse) inside the checkout."""
    ncpu = _cores()
    for sub in ("spark-local", "tmp", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(ncpu),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    tempfile.tempdir = None
    return ncpu


def _spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def _plan_phases(qe) -> dict[str, float]:
    """Catalyst phase times (ms) from the QueryPlanningTracker; each
    value of ``phases()`` is a Scala ``Option``."""
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        if opt.isDefined():
            out[phase] = float(opt.get().durationMs())
    return out


def _install_tracing(tracer) -> None:
    """Span every call into the layers' public functions. ``load_table``
    is replaced on ``catalog`` before the registry imports the operator
    modules, which bind it by name; ``run_reference_pipeline`` looks its
    stages up in ``pipeline``'s globals at call time."""
    from etl_knlp_spark import catalog

    catalog.load_table = tracer.wrap(catalog.load_table, "catalog.load_table", "catalog")
    from etl_knlp_spark.plans import pipeline

    for fn, kind in (
        ("parse_stage", "stage"),
        ("load_tables", "stage"),
        ("build_dimension", "stage"),
        ("check_count", "check"),
        ("check_max_length", "check"),
    ):
        prefix = "quality" if kind == "check" else "pipeline"
        setattr(pipeline, fn, tracer.wrap(getattr(pipeline, fn), f"{prefix}.{fn}", kind))


def _staged(stage_dir: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(stage_dir):
        for n in names:
            if n.startswith("part-"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def _stop_jvm(spark) -> None:
    """Stop the context, close the gateway JVM and wait for it and every
    process it started (Python workers) to end."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    tree = tracing.descendants(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    deadline = time.time() + 30
    for pid in tree:
        while _alive(pid):
            if time.time() > deadline:
                os.kill(pid, signal.SIGKILL)
                deadline = time.time() + 5
            time.sleep(0.05)


def _live_heap_mb(spark) -> float:
    """Driver JVM heap in use right after a full GC: the memory the
    engine still holds (cached plans, broadcast and checkpoint blocks,
    leaks), free of G1's adaptive heap growth, which makes peak RSS vary
    by ~20% between identical runs.

    ContextCleaner frees the cached and shuffle blocks that a GC has
    orphaned on its own thread, after the GC, so a single reading holds
    them or not depending on that thread's timing (66 MB against 158 MB
    on the same ``reference_dag`` run; a second collection still missed
    them once in ten runs): collect at least three times, until the
    reading stops falling, and take the lowest."""
    heap = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    for i in range(10):
        gc.collect()  # drop py4j handles held by Python garbage, so the JVM can free what they pin
        spark._jvm.System.gc()
        time.sleep(0.3)
        readings.append(heap.getHeapMemoryUsage().getUsed() / 1e6)
        if i >= 2 and readings[-1] > min(readings[:-1]) - 1.0:
            break
    return min(readings)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


class Run:
    """One benchmark run: set-up, output check, timed passes, metrics."""

    def __init__(self, args, work: str, ncpu: int):
        self.args = args
        self.work = work
        self.ncpu = ncpu
        self.variant = args.seed % workloads.DATA_VARIANTS
        self.tracer = tracing.Tracer(None, f"r{args.seed}")
        data_dir = workloads.ensure_inputs(args.workload, self.variant, os.path.join(RUN_DIR, "data"))
        if args.trace:
            _install_tracing(self.tracer)
        self.wl = workloads.load(args.workload, data_dir, work)
        self.expected = check.expected_for(check.load_digests(), args.workload, self.variant)
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.setups: list[tuple[float, float]] = []  # (get_spark s, setup s); the first launched the JVM
        self.passes: list[dict] = []
        self.latencies: dict[str, list[float]] = {}  # untraced, per query
        self.spark = None

    def setup(self, times: int = 1):
        """Set up ``times`` times: stop the running SparkContext, if any,
        then ``get_spark`` plus the workload's warmup query."""
        from etl_knlp_spark.session import get_spark

        conf = _spark_conf(self.work, bool(self.args.trace))
        for _ in range(times):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.wl.name}", cpus=self.ncpu, extra_conf=conf)
            t1 = time.perf_counter()
            self.wl.warmup(self.spark)
            self.setups.append((t1 - t0, time.perf_counter() - t0))
        self.tracer.sc = self.spark.sparkContext
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    def check_outputs(self):
        for q in self.wl.queries:
            self.attempted += 1
            try:
                bad = check.problems(self.expected.get(q.name), check.digest(q.build(self.spark).toPandas()))
            except Exception as e:  # a failing query is a counted failure, not a crash
                traceback.print_exc()
                bad = [f"error {type(e).__name__}: {e}"]
            if bad:
                self.failed += 1
                self.problems.append(f"{q.name}: {'; '.join(bad)}")

    def warm_up(self):
        import bench

        end = time.perf_counter() + self.wl.warm_seconds
        while time.perf_counter() < end:
            for q in self.wl.queries:
                bench.materialize(q.build(self.spark))

    def _execute(self, q, traced: bool) -> None:
        import bench

        tr = self.tracer
        with tr.span(f"query:{q.name}", "query", module=q.module):
            with tr.span("build", "build"):
                df = q.build(self.spark)
            if traced:
                with tr.span("plan", "plan") as span:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    span.attrs.update(_plan_phases(qe))
            with tr.span("exec", "exec"):
                bench.materialize(df)

    def timed_passes(self):
        rng = random.Random(self.args.seed)
        deadline = time.perf_counter() + self.args.seconds
        while True:
            traced = bool(self.args.trace) and len(self.passes) % 2 == 1
            order = list(self.wl.queries)
            rng.shuffle(order)
            self.tracer.active = traced
            steal0, cpu0, t0 = tracing.host_steal_s(), tracing.tree_cpu_s(self.jvm_pid), time.perf_counter()
            for q in order:
                self.attempted += 1
                tq = time.perf_counter()
                try:
                    self._execute(q, traced)
                except Exception as e:
                    traceback.print_exc()
                    self.failed += 1
                    self.problems.append(f"{q.name}: error {type(e).__name__}: {e}")
                    continue
                if not traced:
                    self.latencies.setdefault(q.name, []).append(time.perf_counter() - tq)
            wall = time.perf_counter() - t0
            self.tracer.active = False
            p = {"traced": traced, "wall": wall, "cpu": tracing.tree_cpu_s(self.jvm_pid) - cpu0,
                 "steal": tracing.host_steal_s() - steal0}
            if traced and self.wl.stage_dir:
                p["staged_files"], p["staged_bytes"] = _staged(self.wl.stage_dir)
            self.passes.append(p)
            done = time.perf_counter() >= deadline
            if done and (not self.args.trace or len(self.passes) >= 2):
                return

    def all_latencies(self) -> list[float]:
        return [t for lat in self.latencies.values() for t in lat]

    def warm_setups(self) -> list[tuple[float, float]]:
        """The set-ups after the timed passes. Each builds a new
        SparkContext and runs the warmup query in a JVM the run has
        already warmed, so all are the same kind of sample; the first
        set-up also launched the JVM and JIT-compiled the engine's paths,
        which varies with the host far more than the set-up's own work."""
        return self.setups[1:]

    def live_heap_mb(self) -> float:
        # the warmup query runs last on every run, so the heap it leaves
        # behind does not depend on the seeded query order
        self.wl.warmup(self.spark)
        return _live_heap_mb(self.spark)

    def end_to_end(self, heap_mb: float) -> dict[str, float]:
        plain = [p for p in self.passes if not p["traced"]]
        wall = statistics.median(p["wall"] for p in plain)
        return {
            "setup_s": statistics.median(s for _, s in self.warm_setups()),
            "wall_s": wall,
            "query_p50_s": statistics.median(self.all_latencies()),
            "records_per_s": self.wl.records_per_pass / wall,
            "cpu_s": statistics.median(p["cpu"] for p in plain),
            "jvm_heap_live_mb": heap_mb,
        }

    def per_layer(self, event_log, log_counts: dict[str, int]) -> dict[str, float]:
        tr = self.tracer
        m = dict.fromkeys(PER_LAYER, 0.0)
        traced = [p for p in self.passes if p["traced"]]
        n = len(traced)
        for idx, s in enumerate(tr.spans):
            dur = s.end - s.start
            module = tr.spans[tr.root_of(idx)].attrs.get("module")
            if s.kind == "catalog":
                m["catalog.load_table.calls"] += 1
                m["catalog.load_table.s"] += dur
            elif s.kind == "build":
                m[f"{module}.build_s"] += tr.self_time(idx, ("catalog",))
            elif s.kind == "plan":
                m[f"{module}.plan_s"] += dur
                for phase, ms in s.attrs.items():
                    m[f"plan.{phase}_ms"] += ms
            elif s.kind == "exec":
                m[f"{module}.exec_s"] += dur
            elif s.kind == "stage":
                m[f"{s.name}_s"] += dur
            elif s.kind == "check":
                m["quality.checks_s"] += dur

        jobs, stages, py_ids = event_log
        counted: set[int] = set()
        for job in jobs:
            idx = tr.span_of_group(job.group)
            charged = tr.charged_kind(idx) if idx is not None else None
            if charged is None:
                continue
            kind = charged[1]
            module = tr.spans[tr.root_of(idx)].attrs.get("module")
            if kind == "catalog":
                m["catalog.load_table.jobs"] += 1
            elif kind == "plan":
                m["plan.jobs"] += 1
            else:
                m[f"{module}.{kind}_jobs"] += 1
            if kind == "exec":
                m["exec.jobs"] += 1
            for sid in job.stages:
                if sid not in stages or sid in counted:
                    continue
                counted.add(sid)
                task, arrow = tracing.stage_totals(stages[sid], py_ids)
                for k, v in arrow.items():
                    m[f"arrow.{k}"] += v
                if kind == "exec":
                    m["exec.stages"] += 1
                    m["exec.tasks"] += stages[sid].get("Number of Tasks", 0)
                    for k, v in task.items():
                        m[f"exec.{k}"] += v

        totals = {k: v / n for k, v in m.items()}
        plain_wall = statistics.median(p["wall"] for p in self.passes if not p["traced"])
        traced_wall = statistics.median(p["wall"] for p in traced)
        # plan_s is left out: the plan span plans the query once more than
        # an untraced pass does, whose planning is part of the noop write
        # that exec_s times
        accounted = totals["catalog.load_table.s"] + sum(
            totals[f"{mod}.{part}_s"] for mod in workloads.MODULES for part in ("build", "exec")
        )
        if self.wl.stage_dir:
            files, size = traced[-1]["staged_files"], traced[-1]["staged_bytes"]
            totals["sources.staged_files"] = files
            totals["sources.staged_mb"] = size / 1e6
            totals["sources.write_amplification"] = size / self.wl.raw_bytes
        totals["session.get_spark_s"] = statistics.median(g for g, _ in self.warm_setups())
        totals["log.error_lines"] = log_counts["ERROR"]
        totals["log.warn_lines"] = log_counts["WARN"]
        totals["trace.overhead_ratio"] = traced_wall / plain_wall
        totals["trace.accounted_ratio"] = accounted / plain_wall
        return totals


def _run(args, log_path: str) -> dict:
    work = os.path.join(RUN_DIR, "work")
    ncpu = _environment(work)
    run = Run(args, work, ncpu)
    print(f"workload {args.workload}: {run.wl.input_desc}; variant {run.variant}; "
          f"local[{ncpu}]; {len(run.wl.queries)} queries per pass", flush=True)
    t0 = time.perf_counter()
    try:
        run.setup()
        t1 = time.perf_counter()
        run.check_outputs()
        run.warm_up()
        t2 = time.perf_counter()
        run.timed_passes()
        t3 = time.perf_counter()
        heap_mb = None if args.trace else run.live_heap_mb()
        app_id = run.spark.sparkContext.applicationId
        run.setup(SETUP_REPEATS)
        warm = " ".join(f"{s:.3f}" for _, s in run.warm_setups())
        print(f"set-up with JVM launch {t1 - t0:.1f}s, output check and warm-up {t2 - t1:.1f}s, "
              f"timed passes {t3 - t2:.1f}s, set-ups after them {warm} s", flush=True)
        e2e = None if args.trace else run.end_to_end(heap_mb)
        peak_rss = tracing.peak_rss_mb(run.jvm_pid)
    finally:
        if run.spark is not None:
            _stop_jvm(run.spark)
    if args.trace:
        event_log = tracing.read_event_log(os.path.join(work, "eventlog"), app_id)
        metrics = run.per_layer(event_log, tracing.count_log_levels(log_path))
        units = PER_LAYER
        out_dir = os.path.join(RUN_DIR, "out")
        os.makedirs(out_dir, exist_ok=True)
        run.tracer.dump(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    else:
        metrics, units = e2e, END_TO_END

    for name, lat in run.latencies.items():
        print(f"  {name:28s} median {statistics.median(lat):.3f}s over {len(lat)}")
    for p in run.problems:
        print(f"FAILED {p}")
    latencies = run.all_latencies()
    n = len(latencies)
    walls = " ".join(f"{p['wall']:.2f}" + ("t" if p["traced"] else "") for p in run.passes)
    cpus = " ".join(f"{p['cpu']:.2f}" for p in run.passes)
    summary = f"{len(run.passes)} passes ({walls} s; CPU {cpus} s), {n} untraced query executions"
    if n >= 100:
        summary += f", query_p90_s={statistics.quantiles(latencies, n=10)[-1]:.4f}"
    steal = sum(p["steal"] for p in run.passes)
    print(summary + f", {run.wl.records_per_pass} input records per pass, JVM peak RSS {peak_rss:.0f} MB, "
          f"host steal {steal:.1f} s over the timed passes")
    return {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _record(args) -> int:
    """Record expected digests for every input variant of the workload.
    Refuses to store a query whose Spark output disagrees with its
    DuckDB oracle (the registry contract's output, for probe overrides)
    or whose output differs between two executions."""
    import duckdb
    from etl_knlp_spark.session import get_spark
    from verify_oracles import value_hash

    work = os.path.join(RUN_DIR, "work")
    ncpu = _environment(work)
    digests = check.load_digests()
    if digests["ncpu"] != ncpu:  # the other workloads' digests do not hold at this core count
        digests = {"ncpu": ncpu, "workloads": {}}
    spark = get_spark(app_name="perfbench-record", cpus=ncpu, extra_conf=_spark_conf(work, False))
    try:
        for variant in range(workloads.DATA_VARIANTS):
            data_dir = workloads.ensure_inputs(args.workload, variant, os.path.join(RUN_DIR, "data"))
            wl = workloads.load(args.workload, data_dir, work)
            con = duckdb.connect()
            for f in os.listdir(data_dir):
                if f.endswith(".parquet"):
                    con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'")
            got = {}
            for q in wl.queries:
                out = q.build(spark).toPandas()
                d = check.digest(out)
                if check.digest(q.build(spark).toPandas()) != d:
                    print(f"refusing {args.workload}/{variant}/{q.name}: output differs between executions")
                    return 1
                if q.oracle is not None:
                    spark_side = q.contract(spark).toPandas() if q.contract else out
                    oracle = con.sql(q.oracle).df()
                    if len(spark_side) != len(oracle) or value_hash(spark_side) != value_hash(oracle):
                        print(f"refusing {args.workload}/{variant}/{q.name}: Spark differs from its DuckDB oracle")
                        return 1
                got[q.name] = d
                print(f"recorded {args.workload}/{variant}/{q.name}: {d}", flush=True)
            digests["workloads"].setdefault(args.workload, {})[str(variant)] = got
            check.store_digests(digests)
    finally:
        _stop_jvm(spark)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true", help="record expected output digests")
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    try:
        import bench  # noqa: F401  (the engine under test and its bench contract)
        import etl_knlp_spark  # noqa: F401
        import verify_oracles  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; known: {workloads.WORKLOADS}", file=sys.stderr)
        return 2
    if args.record:
        return _record(args)
    recorded_at = check.load_digests()["ncpu"]
    if recorded_at != _cores():
        print(f"perfbench: the expected outputs in perfbench/digests.json were recorded at local[{recorded_at}], "
              f"this host gives local[{_cores()}]; float aggregates can differ with the partition count. "
              f"Re-record them here with --record --workload <name> for every workload.", file=sys.stderr)
        return 2

    # The JVM inherits fd 2: its log4j output goes to a per-run log file
    # that log.* counts, and stays out of the result stream.
    out_dir = os.path.join(RUN_DIR, "out")
    os.makedirs(out_dir, exist_ok=True)
    log_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    saved = os.dup(2)
    with open(log_path, "w") as log:
        os.dup2(log.fileno(), 2)
    try:
        result = _run(args, log_path)
    except Exception:
        os.dup2(saved, 2)
        traceback.print_exc()
        print(f"perfbench: run failed; JVM log at {log_path}", file=sys.stderr)
        return 1
    finally:
        os.dup2(saved, 2)
        os.close(saved)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
