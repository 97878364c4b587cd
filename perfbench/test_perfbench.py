"""Tests of the benchmark's own machinery (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(d):
        for n in names:
            p = os.path.join(dirpath, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, d)] = f.read()
    return out


def test_generators_are_byte_deterministic(tmp_path):
    for name in ("a", "b", "c"):
        seed = 7 if name != "c" else 8
        gen.write_tables(str(tmp_path / name / "t"), seed, 0.001)
        gen.write_reference_raw(str(tmp_path / name / "raw"), seed, 3000)
    a, b, c = (_files(str(tmp_path / n)) for n in ("a", "b", "c"))
    assert len(a) == 10 + 3
    assert a == b
    differing = {k for k in a if a[k] != c[k]}
    assert {"t/lineitem.parquet", "t/documents.parquet", "raw/wiki_index.txt"} <= differing


def test_wrong_output_is_caught():
    good = pd.DataFrame({"doc_id": [1, 2, 3], "score": [0.5, 0.25, 1.0], "tag": ["a", "b", "c"]})
    recorded = check.digest(good)
    shuffled = good.sample(frac=1.0, random_state=1).reset_index(drop=True)
    assert check.problems(recorded, check.digest(shuffled)) == []

    wrong_value = good.copy()
    wrong_value.loc[1, "score"] = 0.26
    assert check.problems(recorded, check.digest(wrong_value)) == ["value hash differs from recorded"]

    missing_row = good.iloc[:2]
    assert len(check.problems(recorded, check.digest(missing_row))) == 2
    assert check.problems(None, recorded) == ["no recorded digest"]


class _FakeContext:
    def __init__(self):
        self.groups: list[str | None] = []

    def setLocalProperty(self, key, value):
        assert key == "spark.jobGroup.id"
        self.groups.append(value)


def test_spans_self_time_and_job_charging():
    sc = _FakeContext()
    tr = tracing.Tracer(sc, "r1")
    with tr.span("untraced"):
        pass
    assert tr.spans == [] and sc.groups == []

    tr.active = True
    load = tr.wrap(lambda: None, "catalog.load_table", "catalog")
    with tr.span("query:q", "query", module="operators.text"):
        with tr.span("build", "build"):
            load()
            with tr.span("pipeline.parse_stage", "stage"):
                pass
        with tr.span("exec", "exec"):
            pass
    query, build, catalog, stage, exec_ = range(5)
    assert [s.parent for s in tr.spans] == [None, query, build, build, query]
    assert sc.groups == ["r1:0", "r1:1", "r1:2", "r1:1", "r1:3", "r1:1", "r1:0", "r1:4", "r1:0", None]

    # a job in the catalog span is the catalog's, one in a stage span is the build's
    assert tr.charged_kind(tr.span_of_group("r1:2")) == (catalog, "catalog")
    assert tr.charged_kind(tr.span_of_group("r1:3")) == (build, "build")
    assert tr.span_of_group("r2:3") is None and tr.span_of_group(None) is None
    assert tr.root_of(stage) == query

    spans = tr.spans
    dur = lambda i: spans[i].end - spans[i].start  # noqa: E731
    assert tr.self_time(build, ("catalog",)) == pytest.approx(dur(build) - dur(catalog))
    assert tr.self_time(build) == pytest.approx(dur(build) - dur(catalog) - dur(stage))


def test_count_log_levels(tmp_path):
    log = tmp_path / "run.log"
    log.write_text(
        "26/10/16 18:12:48 WARN WindowExec: No Partition Defined\n"
        "[Stage 3:>   (0 + 1) / 1]\r26/10/16 18:12:49 ERROR DAGScheduler: Failed\n"
        "\tat org.apache.spark.errors.SparkCoreErrors$.x(SparkCoreErrors.scala:252)\n"
        "26/10/16 18:12:50 INFO SparkContext: Running Spark\n"
        "a line mentioning ERROR and WARN elsewhere\n"
    )
    assert tracing.count_log_levels(str(log)) == {"ERROR": 1, "WARN": 1}


def test_stage_totals_split_task_and_arrow_metrics():
    info = {"Accumulables": [
        {"ID": 1, "Name": "internal.metrics.executorRunTime", "Value": 1500},
        {"ID": 2, "Name": "internal.metrics.shuffle.read.localBytesRead", "Value": "2000000"},
        {"ID": 3, "Name": "internal.metrics.shuffle.read.remoteBytesRead", "Value": 1000000},
        {"ID": 9, "Name": "data sent to Python workers", "Value": 3000000},
        {"ID": 10, "Name": "number of output rows", "Value": 42},
        {"ID": 11, "Name": "number of output rows", "Value": 7},
    ]}
    task, arrow = tracing.stage_totals(info, {9: "data sent to Python workers", 10: "number of output rows"})
    assert task == pytest.approx({"task_run_s": 1.5, "shuffle_read_mb": 3.0})
    assert arrow == pytest.approx({"to_python_mb": 3.0, "rows_from_python": 42.0})


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert spec["command"] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_digests_cover_every_workload_variant_and_query():
    digests = check.load_digests()
    headline = __import__("bench").HEADLINE
    expected = {
        "headline": set(headline),
        "reference_dag": {"reference_pipeline"},
    }
    assert set(digests["workloads"]) == set(workloads.WORKLOADS)
    assert digests["ncpu"] >= 1
    for wl, names in expected.items():
        for v in range(workloads.DATA_VARIANTS):
            assert set(check.expected_for(digests, wl, v)) == names, (wl, v)


def test_refuses_digests_recorded_at_another_core_count(monkeypatch, capsys):
    monkeypatch.setattr(run, "_cores", lambda: check.load_digests()["ncpu"] + 1)
    assert run.main(["--workload", "headline", "--seed", "1"]) == 2
    assert "recorded at local[" in capsys.readouterr().err
