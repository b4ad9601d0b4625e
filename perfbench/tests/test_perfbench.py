"""The benchmark's own tests, at tiny sizes.

    python3 -m pytest perfbench/tests -q

The traced test starts two cold Spark sessions (about a minute).
"""

from __future__ import annotations

import argparse
import json
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import compare, eventlog, run, workloads

ROOT = Path(__file__).resolve().parents[2]
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def _fake_sink(path: Path, inputs: workloads.Inputs, urls: list[str]):
    """A sink holding the kernel's records for ``urls`` (no Spark)."""
    from pdf_extractor_spark.operators.document import extract_document

    table = pq.read_table(inputs.pages, columns=["url", "html"])
    payloads = dict(zip(table.column("url").to_pylist(),
                        table.column("html").to_pylist()))
    rows = []
    for url in urls:
        rec = extract_document(payloads[url])
        rows.append({
            "url": url, "extracted_text": rec["extracted_text"],
            "ok": not any(e["severity"] in ("error", "critical")
                          for e in rec["errors"]),
            "spans": [{"start": s[0], "end": s[1], "kind": s[2],
                       "page": s[3]} for s in rec["spans"]],
            "branch": rec["branch"], "quality": rec["quality"],
            "errors": rec["errors"],
        })
    path.mkdir()
    pq.write_table(pa.Table.from_pylist(rows), path / "part-0.parquet")


@pytest.fixture
def tiny(monkeypatch):
    monkeypatch.setitem(workloads.SIZES, "html_short", 24)
    monkeypatch.setitem(workloads.SIZES, "fixture_resume", 2)
    monkeypatch.setitem(workloads.KERNEL_SAMPLE, "fixture_resume", 20)


def test_oracle_catches_planted_wrong_text(tmp_path, tiny):
    inputs = workloads.materialise("html_short", 5, tmp_path / "in")
    urls = list(inputs.expected)
    _fake_sink(tmp_path / "sink", inputs, urls)
    assert workloads.check_sink(inputs, tmp_path / "sink", None).failed == 0

    inputs.expected[urls[3]] += " planted"
    v = workloads.check_sink(inputs, tmp_path / "sink", None)
    assert (v.mismatched, v.missing, v.duplicate) == (1, 0, 0)
    assert urls[3] in v.examples[0]


def test_oracle_counts_missing_and_duplicate_rows(tmp_path, tiny):
    inputs = workloads.materialise("html_short", 5, tmp_path / "in")
    urls = list(inputs.expected)
    _fake_sink(tmp_path / "sink", inputs, urls[1:] + urls[2:4])
    v = workloads.check_sink(inputs, tmp_path / "sink", None)
    assert (v.mismatched, v.missing, v.duplicate) == (0, 1, 2)


def test_golden_oracle_catches_planted_wrong_golden(tmp_path, tiny):
    inputs = workloads.materialise("fixture_resume", 5, tmp_path / "in")
    goldens = workloads.load_goldens(ROOT / "tests" / "golden")
    _fake_sink(tmp_path / "sink", inputs, list(inputs.expected))
    assert workloads.check_sink(inputs, tmp_path / "sink", goldens).failed == 0

    text, meta = goldens["pdf-table"]
    goldens["pdf-table"] = (text.replace(b"a", b"b", 1), meta)
    v = workloads.check_sink(inputs, tmp_path / "sink", goldens)
    assert v.mismatched == 2  # one pdf-table row per copy
    assert all("extracted_text" in e for e in v.examples)


def test_end_to_end_names_and_units_match_spec():
    fake = {"build_s": 1.0, "warmup_s": 2.0,
            "jobs": [{"wall_s": 2.0, "peak_rss_mb": 10.0}]}
    inputs = workloads.Inputs(Path(), Path(), {}, {"u": 10**6},
                              new_urls=["u"])
    names = set(run._end_to_end(inputs, fake))
    assert names == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert run.END_TO_END[m["name"]] == m["unit"]


def test_compare_orders_rounds_numerically_within_matching_groups():
    def rec(rnd, commit, cores, value):
        ctx = {"workload": "html_short", "trace": 0, "cores": cores,
               "partitions": cores, "n_docs": 8000, "payload_mb": 4.71,
               "git_commit": commit}
        return {"round": rnd, "context": ctx, "result": {
            "metrics": {"docs_per_s": {"value": value, "unit": "docs/s"}}}}

    rows = compare.compare([rec(10, "new", 4, 200.0), rec(9, "old", 4, 100.0),
                            rec(2, "old", 4, 100.0), rec(11, "x", 32, 1.0)])
    assert [(r["old"], r["new"]) for r in rows] == [(100.0, 200.0)]
    assert rows[0]["group"]["cores"] == 4


def _event(kind: str, **fields) -> dict:
    return {"Event": kind, **fields}


def test_ledger_parts_add_up_to_the_covered_wall():
    sql = "org.apache.spark.sql.execution.ui."
    mip = {"nodeName": "MapInPandas", "simpleString": "", "children": [],
           "metrics": [{"name": "time to run Python workers",
                        "accumulatorId": 7, "metricType": "timing"}]}
    plan = {"nodeName": "Root", "simpleString": "", "children": [mip],
            "metrics": []}
    other = {"nodeName": "HashAggregate", "simpleString": "",
             "children": [], "metrics": []}

    def stage(sid, a, b, accs):
        return _event("SparkListenerStageCompleted", **{"Stage Info": {
            "Stage ID": sid, "Submission Time": a, "Completion Time": b,
            "Accumulables": [{"ID": i} for i in accs]}})

    events = [
        _event(sql + "SparkListenerSQLExecutionStart", executionId=0,
               time=1_000, sparkPlanInfo=plan),
        _event("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 1_100, "Stage IDs": [0],
            "Properties": {"spark.sql.execution.id": "0"}}),
        stage(0, 1_100, 1_500, []),
        _event("SparkListenerJobEnd", **{"Job ID": 0,
                                         "Completion Time": 1_500}),
        _event("SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 1_600, "Stage IDs": [1],
            "Properties": {"spark.sql.execution.id": "0"}}),
        stage(1, 1_600, 3_600, [7]),
        _event("SparkListenerJobEnd", **{"Job ID": 1,
                                         "Completion Time": 3_600}),
        _event(sql + "SparkListenerSQLExecutionEnd", executionId=0,
               time=3_700),
        _event(sql + "SparkListenerSQLExecutionStart", executionId=1,
               time=3_800, sparkPlanInfo=other),
        _event(sql + "SparkListenerSQLExecutionEnd", executionId=1,
               time=4_300),
    ]
    # a write span runs an execution: it covers nothing of its own
    calls = [{"name": "driver.read.parquet", "start": 0.9, "end": 1.0},
             {"name": "driver.write.parquet", "start": 3.7, "end": 4.4}]
    m, spans = eventlog.job_ledger(eventlog.EventLog(events), 0.8, 4.5,
                                   calls)
    assert m["job.scan_exchange_s"][0] == pytest.approx(0.4)
    assert m["job.extract_stage_s"][0] == pytest.approx(2.0)
    assert m["job.metrics_rollup_s"][0] == pytest.approx(0.5)
    assert m["job.driver_other_s"][0] == pytest.approx(0.4)
    parts = sum(m[k][0] for k in ("job.scan_exchange_s",
                                  "job.extract_stage_s",
                                  "job.metrics_rollup_s",
                                  "job.driver_other_s"))
    unaccounted = m["job.unaccounted_ratio"][0] * m["job.wall_s"][0]
    assert parts + unaccounted == pytest.approx(3.7)
    assert unaccounted == pytest.approx(0.4)
    assert {s["name"] for s in spans} >= {"job", "sql.execution",
                                          "spark.stage", "driver.read.parquet",
                                          "driver.write.parquet"}


def test_traced_run_reports_every_per_layer_metric(tmp_path, tiny,
                                                    monkeypatch):
    for key in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_GRAFT_WAREHOUSE",
                "SPARK_LAUNCHER_OPTS", "PYTHONPATH"):
        monkeypatch.setenv(key, os.environ.get(key, ""))
    run._isolate(tmp_path / "work")
    args = argparse.Namespace(workload="fixture_resume", seed=3,
                              seconds=0.01, trace=1)
    result, record, spans = run.measure(args, tmp_path / "work")
    assert result["correct"] and result["failed"] == 0
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    for m in SPEC["per_layer"]:
        assert got.get(m["name"]) == m["unit"], m["name"]
    worst = record["ledger_worst_unaccounted_ratio"]
    assert abs(worst) <= run.LEDGER_TOLERANCE
    assert {s["run"] for s in spans} == {record["run_id"]}
    ids = {s["id"] for s in spans}
    assert all(s["parent"] is None or s["parent"] in ids for s in spans)
