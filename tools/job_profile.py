"""Per-query event-log profile: jobs, stages, tasks, shuffle bytes.

Runs the named headline queries (bench probe overrides applied, same
noop-sink materialization as bench.py) under an event log, labels each
query's jobs via setJobDescription (``profile:<name>:build`` while the
query function builds the DataFrame, ``profile:<name>:exec`` while it is
materialized), then attributes every job/stage to its query and prints
one summary line per query, with build and execution jobs counted apart:

    python tools/job_profile.py dedup_minhash q5_nation_volume ...
    python tools/job_profile.py            # whole headline set

This is the measurement tool the r15 round used ad hoc (guide §1/§7:
stage-level attribution); committed in r16 so the numbers in
OPTIMIZATION_r16.md are reproducible. NOT part of the bench harness —
bench.py is untouched and does not import this.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_knlp_spark import registry  # noqa: E402
from etl_knlp_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import bench

    names = sys.argv[1:] or bench.HEADLINE
    log_dir = tempfile.mkdtemp(prefix="etl_knlp_eventlog_")
    # event log must be set before the context exists
    spark = get_spark(
        app_name="etl_knlp_job_profile",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    if spark.conf.get("spark.eventLog.enabled", "false") != "true":
        print(
            "WARNING: event log not enabled (session pre-existed?); "
            "job counts will come from the listener-free fallback",
            file=sys.stderr,
        )
    queries = registry.all_queries()
    overrides = bench._probe_overrides()

    wall: dict[str, float] = {}
    sc = spark.sparkContext
    for name in names:
        fn = overrides.get(name, queries[name])
        t0 = time.perf_counter()
        sc.setJobDescription(f"profile:{name}:build")
        df = fn(spark, SF_DIR)
        sc.setJobDescription(f"profile:{name}:exec")
        bench.materialize(df)
        wall[name] = time.perf_counter() - t0
        sc.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # parse the event log — Spark 4 writes a rolling-v2 directory
    # (eventlog_v2_<appid>/events_N_<appid>[.codec]); older layouts are a
    # single file named <appid>[.codec].
    def _event_lines():
        candidates = [
            os.path.join(log_dir, f)
            for f in os.listdir(log_dir)
            if app_id in f
        ]
        files: list[str] = []
        for c in candidates:
            if os.path.isdir(c):
                files.extend(
                    os.path.join(c, f)
                    for f in sorted(os.listdir(c))
                    if f.startswith("events_")
                )
            else:
                files.append(c)
        for path in files:
            if path.endswith(".zstd"):
                import io

                import zstandard

                with open(path, "rb") as raw:
                    reader = zstandard.ZstdDecompressor().stream_reader(raw)
                    yield from io.TextIOWrapper(reader, encoding="utf-8")
            else:
                with open(path) as fh:
                    yield from fh

    job_query: dict[int, tuple[str, str]] = {}  # job id -> (query, "build" | "exec")
    job_stages: dict[int, list[int]] = {}
    stage_info: dict[int, dict] = {}
    for line in _event_lines():
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            if desc.startswith("profile:"):
                q, phase = desc[len("profile:"):].rsplit(":", 1)
                job_query[ev["Job ID"]] = (q, phase)
                job_stages[ev["Job ID"]] = [
                    s["Stage ID"] for s in ev.get("Stage Infos", [])
                ]
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            stage_info[si["Stage ID"]] = si

    print(f"{'query':28s} {'wall_s':>7s} {'build_jobs':>10s} {'exec_jobs':>9s} "
          f"{'stages':>6s} {'tasks':>6s} {'shuf_w_MB':>9s} {'shuf_r_MB':>9s}")
    for name in names:
        jobs = [j for j, (q, _) in job_query.items() if q == name]
        build_jobs = sum(job_query[j][1] == "build" for j in jobs)
        stages = sorted(
            {s for j in jobs for s in job_stages.get(j, []) if s in stage_info}
        )
        tasks = sum(stage_info[s]["Number of Tasks"] for s in stages)

        def _acc(metric: str) -> float:
            tot = 0.0
            for s in stages:
                for a in stage_info[s].get("Accumulables", []):
                    if a.get("Name") == metric:
                        try:
                            tot += float(a.get("Value", 0))
                        except (TypeError, ValueError):
                            pass
            return tot

        sw = _acc("internal.metrics.shuffle.write.bytesWritten") / 1e6
        sr = _acc("internal.metrics.shuffle.read.remoteBytesRead") / 1e6 + _acc(
            "internal.metrics.shuffle.read.localBytesRead"
        ) / 1e6
        print(
            f"{name:28s} {wall[name]:7.3f} {build_jobs:10d} {len(jobs) - build_jobs:9d} "
            f"{len(stages):6d} {tasks:6d} {sw:9.2f} {sr:9.2f}"
        )


if __name__ == "__main__":
    main()
