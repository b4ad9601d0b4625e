"""Per-layer ledger of a timed job, read from Spark's own event log.

The job's wall time (timed by the benchmark around
``run_extraction_job``) splits into parts taken from the SQL-execution,
job and stage events that fall inside it:

- ``job.scan_exchange_s``: stages of the extraction execution before
  the ``MapInPandas`` stage (pages scan, resume anti-join, url-hash
  exchange);
- ``job.extract_stage_s``: the stage that runs ``MapInPandas`` and the
  sink write;
- ``job.metrics_rollup_s``: whatever runs after the extraction
  execution ends (the metrics re-scan of the sink and rollup write);
- ``job.driver_other_s``: the rest of the time covered by executions,
  execution-less jobs and the benchmark's spans around the driver calls
  that run no execution (``engine.DriverCalls``: resume filter, plan
  building, parquet schema reads).

The spans around parquet writes are not coverage: each write runs an
SQL execution, and the write span would cover that execution's
planning and commit whether the log explains them or not. They go to
the span file only. The share of the wall that none of the covering
spans explain is ``job.unaccounted_ratio``.
SQL-node metrics (scan, exchange, ``MapInPandas``, write) are summed
from the task and driver accumulator updates of those executions.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np

_SQL = "org.apache.spark.sql.execution.ui."
# driver calls that run an SQL execution: spans only, not coverage
UNCOVERED_CALLS = {"driver.write.parquet"}


def read_events(path: Path) -> list[dict]:
    with open(path, encoding="utf-8") as f:
        return [json.loads(line) for line in f if line.strip()]


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _walk(node: dict):
    yield node
    for child in node["children"]:
        yield from _walk(child)


class EventLog:
    """Index of one application's event log."""

    def __init__(self, events: list[dict]):
        self.executions: dict[int, dict] = {}
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.acc: dict[int, float] = {}
        for e in events:
            kind = e["Event"]
            if kind == _SQL + "SparkListenerSQLExecutionStart":
                self.executions[e["executionId"]] = {
                    "start": e["time"] / 1000, "end": None,
                    "plan": e["sparkPlanInfo"],
                }
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                self.executions[e["executionId"]]["plan"] = e["sparkPlanInfo"]
            elif kind == _SQL + "SparkListenerSQLExecutionEnd":
                self.executions[e["executionId"]]["end"] = e["time"] / 1000
            elif kind == _SQL + "SparkListenerDriverAccumUpdates":
                for acc_id, value in e["accumUpdates"]:
                    self.acc[acc_id] = self.acc.get(acc_id, 0) + value
            elif kind == "SparkListenerJobStart":
                eid = (e.get("Properties") or {}).get("spark.sql.execution.id")
                self.jobs[e["Job ID"]] = {
                    "id": e["Job ID"],
                    "start": e["Submission Time"] / 1000, "end": None,
                    "execution": int(eid) if eid is not None else None,
                    "stages": e["Stage IDs"],
                }
            elif kind == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
            elif kind == "SparkListenerStageCompleted":
                info = e["Stage Info"]
                self.stages[info["Stage ID"]] = {
                    "start": info["Submission Time"] / 1000,
                    "end": info["Completion Time"] / 1000,
                    "accs": {a["ID"] for a in info["Accumulables"]},
                    "tasks": self.stages.get(info["Stage ID"], {}).get(
                        "tasks", []),
                }
            elif kind == "SparkListenerTaskEnd":
                info = e["Task Info"]
                stage = self.stages.setdefault(e["Stage ID"], {"tasks": []})
                stage["tasks"].append({
                    "launch": info["Launch Time"] / 1000,
                    "finish": info["Finish Time"] / 1000,
                    "metrics": e.get("Task Metrics") or {},
                })
                for a in info["Accumulables"]:
                    if "Update" in a:
                        self.acc[a["ID"]] = self.acc.get(a["ID"], 0) + float(
                            a["Update"])

    def value(self, node: dict | None, metric: str) -> float:
        """A node's SQL metric, in ms for timings and raw units else."""
        if node is None:
            return 0.0
        for m in node["metrics"]:
            if m["name"] == metric:
                v = self.acc.get(m["accumulatorId"], 0)
                return v / 1e6 if m["metricType"] == "nsTiming" else v
        return 0.0


def _find(plan: dict, pred) -> dict | None:
    return next((n for n in _walk(plan) if pred(n)), None)


def job_ledger(log: EventLog, start: float, end: float,
               driver_calls: list[dict]) -> tuple[dict, list]:
    """Ledger, layer metrics and spans of the job timed over
    [start, end]; ``driver_calls`` are the benchmark's spans around the
    job's driver calls."""
    slack = 0.05
    execs = {i: x for i, x in log.executions.items()
             if x["start"] >= start - slack and x["end"] is not None
             and x["end"] <= end + slack}

    def is_mip(n):
        return n["nodeName"] == "MapInPandas"

    def span(xs):
        return [(x["start"], x["end"]) for x in xs]

    main_id = next(i for i, x in execs.items() if _find(x["plan"], is_mip))
    plan = execs[main_id]["plan"]
    mip = _find(plan, is_mip)
    exchange = _find(mip, lambda n: n["nodeName"] == "Exchange")
    scan = _find(plan, lambda n: n["nodeName"].startswith("Scan")
                 and "html" in n.get("metadata", {}).get("ReadSchema", ""))
    anti = _find(plan, lambda n: "LeftAnti" in n.get("simpleString", ""))
    write = _find(plan, lambda n: n["nodeName"].startswith(
        "Execute InsertIntoHadoopFsRelationCommand"))
    mip_accs = {m["accumulatorId"] for m in mip["metrics"]}

    jobs = [j for j in log.jobs.values()
            if j["start"] >= start - slack and j["end"] is not None
            and j["end"] <= end + slack]
    main_stages = [log.stages[s] for j in jobs if j["execution"] == main_id
                   for s in j["stages"] if "start" in log.stages.get(s, {})]
    extract = [s for s in main_stages if s["accs"] & mip_accs]
    before = [s for s in main_stages if not s["accs"] & mip_accs]

    wall = end - start
    main_end = execs[main_id]["end"]
    covered_spans = (span(execs.values()) + span(jobs)
                     + span(c for c in driver_calls
                            if c["name"] not in UNCOVERED_CALLS))
    covered = _union(covered_spans)
    scan_exchange = _union(span(before))
    extract_s = _union(span(extract))
    # everything after the extraction execution: the metrics re-scan
    # and rollup write
    rollup = _union([(max(a, main_end), b) for a, b in covered_spans
                     if b > main_end])
    driver_other = covered - scan_exchange - extract_s - rollup

    tasks = [t for s in extract for t in s["tasks"]]
    durations = [t["finish"] - t["launch"] for t in tasks]
    part_rows = [t["metrics"].get("Shuffle Read Metrics", {}).get(
        "Total Records Read", 0) for t in tasks]
    rows_in = log.value(scan, "number of output rows")
    rows_out = log.value(anti, "number of output rows") if anti else rows_in
    m = {
        "job.wall_s": (wall, "s"),
        "job.scan_exchange_s": (scan_exchange, "s"),
        "job.extract_stage_s": (extract_s, "s"),
        "job.metrics_rollup_s": (rollup, "s"),
        "job.driver_other_s": (driver_other, "s"),
        "job.unaccounted_ratio": ((wall - covered) / wall, "ratio"),
        "sink.task_commit_ms": (log.value(write, "task commit time"), "ms"),
        "sink.job_commit_ms": (log.value(write, "job commit time"), "ms"),
        "sink.files_written": (log.value(write, "number of written files"),
                               "count"),
        "sink.bytes_written": (log.value(write, "written output"), "bytes"),
        "resume.rows_in": (rows_in, "count"),
        "resume.rows_out": (rows_out, "count"),
        "resume.useful_ratio": (rows_out / rows_in if rows_in else 0.0,
                                "ratio"),
        "scan.rows": (rows_in, "count"),
        "scan.bytes": (log.value(scan, "size of files read"), "bytes"),
        "scan.time_ms": (log.value(scan, "scan time"), "ms"),
        "exchange.shuffle_bytes": (
            log.value(exchange, "shuffle bytes written"), "bytes"),
        "exchange.shuffle_write_ms": (
            log.value(exchange, "shuffle write time"), "ms"),
        "exchange.fetch_wait_ms": (log.value(exchange, "fetch wait time"),
                                   "ms"),
        "exchange.partition_rows_max_over_median": (
            _max_over_median(part_rows), "ratio"),
        "mapinpandas.python_start_ms": (
            log.value(mip, "time to start Python workers"), "ms"),
        "mapinpandas.python_init_ms": (
            log.value(mip, "time to initialize Python workers"), "ms"),
        "mapinpandas.python_run_ms": (
            log.value(mip, "time to run Python workers"), "ms"),
        "mapinpandas.bytes_sent": (
            log.value(mip, "data sent to Python workers"), "bytes"),
        "mapinpandas.bytes_returned": (
            log.value(mip, "data returned from Python workers"), "bytes"),
        "extract_stage.task_s_max_over_median": (
            _max_over_median(durations), "ratio"),
        "extract_stage.cpu_ms": (
            sum(t["metrics"].get("Executor CPU Time", 0) for t in tasks)
            / 1e6, "ms"),
        "extract_stage.gc_ms": (
            sum(t["metrics"].get("JVM GC Time", 0) for t in tasks), "ms"),
    }
    spans = _spans(log, execs, jobs, start, end)
    spans += [{"id": f"call{k}", "name": c["name"], "start": c["start"],
               "end": c["end"], "parent": "job"}
              for k, c in enumerate(driver_calls)]
    return m, spans


def _max_over_median(xs: list[float]) -> float:
    if not xs:
        return 0.0
    med = float(np.median(xs))
    return max(xs) / med if med else 0.0


def _spans(log: EventLog, execs: dict, jobs: list, start: float,
           end: float) -> list[dict]:
    """Job -> SQL execution -> Spark job -> stage spans (ids are local;
    the caller prefixes them and adds the run id)."""
    out = [{"id": "job", "name": "job", "start": start, "end": end,
            "parent": None}]
    for i, x in sorted(execs.items()):
        out.append({"id": f"sql{i}", "name": "sql.execution",
                    "start": x["start"], "end": x["end"], "parent": "job"})
    for j in jobs:
        jid = f"sparkjob{j['id']}"
        parent = f"sql{j['execution']}" if j["execution"] in execs else "job"
        out.append({"id": jid, "name": "spark.job", "start": j["start"],
                    "end": j["end"], "parent": parent})
        for s in j["stages"]:
            st = log.stages.get(s, {})
            if "start" in st:
                out.append({"id": f"stage{s}", "name": "spark.stage",
                            "start": st["start"], "end": st["end"],
                            "parent": jid})
    return out
