"""Benchmark of the production extraction job, layer by layer.

    python3 perfbench/run.py --workload pdf_long --seed 1 \
        --seconds 20 --trace 0

Materialises the workload's pages table from ``--seed``, sets up a cold
session (``build_session`` plus warm-up jobs), then times
``sources.pages.run_extraction_job`` into a fresh sink, job after job,
until ``--seconds`` of job time are measured. Every committed sink is
checked against the workload's oracle. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` (missing + duplicate +
wrong rows) and ``metrics``.

Each session pass runs in a child process of its own
(``engine.run_pass``), so every pass starts a cold JVM and the run
waits until all of its processes have ended.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` reports the
per-layer metrics instead: it profiles the kernel single-process, runs
an untraced pass, then a pass with Spark's event log on, and builds the
job ledger from that log (see ``eventlog.py``). ``--workload all`` runs
every workload, each in its own process.

Run records and span files go to ``.perfbench/results/``; temporary files
(tables, sinks, Spark temp dirs) to ``.perfbench/work-<pid>/``, removed
at exit. Both are inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
STATE = ROOT / ".perfbench"
LEDGER_TOLERANCE = 0.10
END_TO_END = {"docs_per_s": "docs/s", "mb_per_s": "MB/s", "setup_s": "s",
              "peak_rss_mb": "MB"}


def _isolate(work: Path) -> None:
    """Point every temp-file user (this process, the JVM launcher, the
    driver JVM and its Python workers) at ``work``."""
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = str(work / "warehouse")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.pop("PYSPARK_SUBMIT_ARGS", None)
    tempfile.tempdir = None


def _median(xs) -> float:
    return float(statistics.median(xs))


def _docs_per_s(inputs, p) -> float:
    return _median(inputs.n_docs / j["wall_s"] for j in p["jobs"])


def _end_to_end(inputs, p) -> dict:
    return {
        "docs_per_s": _docs_per_s(inputs, p),
        "mb_per_s": _median(inputs.payload_mb / j["wall_s"]
                            for j in p["jobs"]),
        "setup_s": p["build_s"] + p["warmup_s"],
        "peak_rss_mb": _median(j["peak_rss_mb"] for j in p["jobs"]),
    }


def _per_layer(inputs, plain, traced, event_dir, kernel_metrics, run_id):
    """Per-layer metrics and spans of the traced pass."""
    from perfbench import eventlog

    (log_file,) = [p for p in event_dir.iterdir() if p.is_file()]
    log = eventlog.EventLog(eventlog.read_events(log_file))
    per_job, spans = [], []
    for k, job in enumerate(traced["jobs"]):
        m, job_spans = eventlog.job_ledger(log, job["start"], job["end"],
                                           job["calls"])
        per_job.append(m)
        for s in job_spans:
            spans.append({**s, "run": run_id, "id": f"j{k}.{s['id']}",
                          "parent": s["parent"] and f"j{k}.{s['parent']}"})
    metrics = {name: (_median(m[name][0] for m in per_job), unit)
               for name, (_, unit) in per_job[0].items()}
    metrics.update(kernel_metrics)
    metrics["session.build_s"] = (
        _median([plain["build_s"], traced["build_s"]]), "s")
    metrics["session.warmup_s"] = (
        _median([plain["warmup_s"], traced["warmup_s"]]), "s")
    metrics["rss.python_workers_peak_mb"] = (
        _median(j["workers_peak_rss_mb"] for j in traced["jobs"]), "MB")
    metrics["trace.overhead_ratio"] = (
        _docs_per_s(inputs, plain) / _docs_per_s(inputs, traced), "ratio")
    worst = max(abs(m["job.unaccounted_ratio"][0]) for m in per_job)
    return metrics, spans, worst


def _context(args, inputs, cores, partitions) -> dict:
    import pyarrow
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": str(ROOT.parent)},
        ).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        commit = "unknown"
    return {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "nproc": os.cpu_count(), "cores": cores, "partitions": partitions,
        "n_docs": inputs.n_docs, "payload_mb": round(inputs.payload_mb, 6),
        "kernel_sample_docs": len(inputs.kernel_sample),
        "git_commit": commit, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "python": sys.version.split()[0],
    }


def _record(record: dict, spans: list) -> Path:
    """Save the run under the next round number (ordered numerically)."""
    from perfbench.compare import next_round

    results = STATE / "results"
    results.mkdir(parents=True, exist_ok=True)
    record["round"] = next_round(results)
    stem = f"r{record['round']}-{record['context']['workload']}"
    path = results / f"{stem}.json"
    path.write_text(json.dumps(record, indent=1, sort_keys=True))
    if spans:
        with open(results / f"{stem}.spans.jsonl", "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    return path


def measure(args, work: Path) -> tuple[dict, dict, list]:
    from perfbench import engine, kernel, workloads

    cores = len(os.sched_getaffinity(0))
    # one task per core: every extra wave re-pays the Python worker
    # start-up that dominates a small job, and the run budget is tight
    partitions = cores
    inputs = workloads.materialise(args.workload, args.seed, work / "in")
    goldens = (workloads.load_goldens(ROOT / "tests" / "golden")
               if args.workload == "fixture_resume" else None)
    run_id = f"{args.workload}-s{args.seed}-{time.time_ns()}"
    context = _context(args, inputs, cores, partitions)

    kernel_metrics, spans = ({}, [])
    if args.trace:
        kernel_metrics, spans = kernel.profile(inputs.kernel_sample, run_id)
    # a traced run splits its time between the untraced and traced pass
    spec = {"inputs": inputs, "cores": cores, "partitions": partitions,
            "work": work, "goldens": goldens,
            "seconds": args.seconds / 2 if args.trace else args.seconds}
    plain = engine.run_pass({**spec, "event_log": None, "tag": "plain"},
                            work / "plain.pkl")
    passes = [plain]
    worst_ledger = 0.0
    if args.trace:
        event_dir = work / "events"
        traced = engine.run_pass(
            {**spec, "event_log": event_dir, "tag": "traced"},
            work / "traced.pkl")
        passes.append(traced)
        metrics, job_spans, worst_ledger = _per_layer(
            inputs, plain, traced, event_dir, kernel_metrics, run_id)
        spans = job_spans + spans
    else:
        metrics = {k: (v, END_TO_END[k])
                   for k, v in _end_to_end(inputs, plain).items()}

    verdicts = [v for p in passes
                for v in p["warm_verdicts"] + [j["verdict"] for j in p["jobs"]]]
    attempted = sum(v.attempted for v in verdicts)
    failed = sum(v.failed for v in verdicts)
    ledger_ok = worst_ledger <= LEDGER_TOLERANCE
    result = {
        "correct": failed == 0 and ledger_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    record = {
        "run_id": run_id, "context": context, "result": result,
        "failed_doc_ratio": failed / attempted,
        "ledger_worst_unaccounted_ratio": worst_ledger,
        "failures": [e for v in verdicts for e in v.examples][:10],
        "jobs": [{"pass": i, "wall_s": j["wall_s"],
                  "peak_rss_mb": j["peak_rss_mb"],
                  "workers_peak_rss_mb": j["workers_peak_rss_mb"],
                  "failed": j["verdict"].failed}
                 for i, p in enumerate(passes) for j in p["jobs"]],
        "setups": [{"build_s": p["build_s"], "warmup_s": p["warmup_s"]}
                   for p in passes],
    }
    return result, record, spans


def _run_all(args) -> int:
    """Every workload in its own process; one combined result line."""
    from perfbench.workloads import WORKLOADS

    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    code = 0
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, str(Path(__file__).resolve()),
             "--workload", name, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace)],
            stdout=subprocess.PIPE, text=True,
        )
        sys.stdout.write(proc.stdout)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode not in (0, 1) or not lines:
            return proc.returncode or 1
        part = json.loads(lines[-1])
        code = max(code, proc.returncode)
        combined["correct"] &= part["correct"]
        combined["attempted"] += part["attempted"]
        combined["failed"] += part["failed"]
        for k, v in part["metrics"].items():
            combined["metrics"][f"{name}.{k}"] = v
    print(json.dumps(combined))
    return code


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pdf_extractor_spark").is_dir():
        print("perfbench: no pdf_extractor_spark package beside perfbench/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload == "all":
        return _run_all(args)
    if args.workload not in WORKLOADS:
        print(f"perfbench: workload must be one of {WORKLOADS} or all",
              file=sys.stderr)
        return 2
    work = STATE / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)
    try:
        result, record, spans = measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    path = _record(record, spans)
    print(f"perfbench: {json.dumps(record['context'], sort_keys=True)}")
    for k, v in result["metrics"].items():
        print(f"perfbench: {args.workload} {k} = {v['value']:.6g} {v['unit']}")
    print(f"perfbench: failed_doc_ratio = {record['failed_doc_ratio']:.6g}"
          f" ({result['failed']}/{result['attempted']}); record {path}")
    for line in record["failures"]:
        print(f"perfbench: FAILED {line}")
    if args.trace:
        print(f"perfbench: job ledger worst |unaccounted| = "
              f"{record['ledger_worst_unaccounted_ratio']:.4f} "
              f"(tolerance {LEDGER_TOLERANCE})")
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
