"""Reference-fidelity end-to-end benchmark at the reference's own scale.

The reference's three pandas parsers each cap at stop_line = 1,500,000
lines (dag-knlp.py:97, 127, 168) and the author describes the
single-process row-append parse as "waiting for hours"
(dag-knlp.py:98-99). This tool generates a fixture at exactly that
scale with `perfbench/gen.write_reference_raw` (seed `SEED`) — 1.5M
wiki-index lines, 1.5M hanja lines, 150k langlink lines of 10 tuples
each (1.5M langlink records) — runs the full
`plans.pipeline.run_reference_pipeline` (parse → staged JSON-lines →
bulk load → dimension build → both DQ checks), and prints the total
and per-stage wall time (`stage_sec`: perfbench's spans around the
stage functions -- parse, load, both checks, the lazy dimension build --
summed by span name, plus the dimension's noop materialization). The measured number
goes in BASELINE.md: it is the one reference-derived figure this repo
can beat on the reference's own terms (same input scale, same declared
semantics, distributed scan + codegen split instead of a pandas append
loop).

Usage:  python tools/bench_reference_e2e.py [--keep]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

STOP_LINE = 1_500_000  # dag-knlp.py:97,127,168
SEED = 1


def main() -> None:
    import gen
    import run as perfbench_run
    import tracing

    from etl_knlp_spark.plans import pipeline
    from etl_knlp_spark.session import get_spark

    keep = "--keep" in sys.argv
    work = tempfile.mkdtemp(prefix="etl_knlp_e2e_")
    raw, stage = os.path.join(work, "raw"), os.path.join(work, "stage")
    os.makedirs(raw)

    t0 = time.perf_counter()
    stats = gen.write_reference_raw(raw, SEED, STOP_LINE)
    stats["gen_sec"] = round(time.perf_counter() - t0, 1)

    spark = get_spark(app_name="etl_knlp_e2e_bench")
    spark.sparkContext.setLogLevel("ERROR")

    # perfbench's spans around run_reference_pipeline's stage functions,
    # summed by span name below
    tracer = tracing.Tracer(spark.sparkContext, "e2e")
    tracer.active = True
    perfbench_run._install_tracing(tracer)
    t0 = time.perf_counter()
    result = pipeline.run_reference_pipeline(spark, raw, stage)
    # run_reference_pipeline already executed the three staged writes
    # and both DQ actions; materialize the dimension through the noop
    # sink so the measured time covers the whole DAG end to end.
    t_dim = time.perf_counter()
    result.dimension.write.mode("overwrite").format("noop").save()
    stage_sec = {"dimension_noop_write": time.perf_counter() - t_dim}
    for span in tracer.spans:
        stage_sec[span.name] = stage_sec.get(span.name, 0.0) + span.end - span.start
    pipeline_sec = round(time.perf_counter() - t0, 1)

    dim_rows = result.dimension.count()

    # r7 sources at the same 1.5M-record scale (round-7 verdict #4):
    # the pipeline's staging format is JSON-lines (dag-knlp.py:109-111);
    # these time the SAME corpus through the WARC and Avro OCF
    # source/sink pairs so every binary source carries a measured
    # number at the reference's own scale. The frame is checkpointed
    # first so the sink timings don't re-pay the parse DAG.
    from pyspark.sql import functions as F

    from etl_knlp_spark.sources.avro import read_avro, write_avro
    from etl_knlp_spark.sources.warc import read_warc, write_warc

    corpus = result.korean.select(
        F.col("data_id").cast("long").alias("doc_id"),
        F.lit("ko").alias("lang"),
        F.concat_ws(" ", "word_id", "korean").alias("text"),
    ).localCheckpoint()  # eager: isolate source I/O from the parse DAG

    t0 = time.perf_counter()
    n_warc = write_warc(corpus, os.path.join(work, "warc"))
    warc_write_sec = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    warc_read_rows = read_warc(spark, os.path.join(work, "warc")).count()
    warc_read_sec = round(time.perf_counter() - t0, 1)

    t0 = time.perf_counter()
    n_avro = write_avro(corpus, os.path.join(work, "avro"))
    avro_write_sec = round(time.perf_counter() - t0, 1)
    t0 = time.perf_counter()
    avro_read_rows = read_avro(
        spark,
        os.path.join(work, "avro"),
        "doc_id bigint, lang string, text string",
    ).count()
    avro_read_sec = round(time.perf_counter() - t0, 1)
    assert n_warc == warc_read_rows and n_avro == avro_read_rows

    print(
        json.dumps(
            {
                "metric": "reference_pipeline_e2e",
                "value": pipeline_sec,
                "unit": "sec",
                "stage_sec": {k: round(v, 2) for k, v in stage_sec.items()},
                "fixture": stats,
                "korean_rows": result.row_count,
                "dimension_rows": dim_rows,
                "max_word_id_len": result.max_word_id_len,
                "sources_stop_line_1_5M": {
                    "rows": n_warc,
                    "warc_write_sec": warc_write_sec,
                    "warc_read_sec": warc_read_sec,
                    "avro_write_sec": avro_write_sec,
                    "avro_read_sec": avro_read_sec,
                },
                "reference_analog": "dag-knlp.py stop_line=1.5M parse, 'hours' single-process",
            }
        )
    )
    if keep:
        print(f"fixture kept at {work}", file=sys.stderr)
    else:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
