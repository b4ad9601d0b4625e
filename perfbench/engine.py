"""Spark session passes, timed jobs and memory sampling.

A pass (one cold session: set-up, then timed jobs) runs in a child
process of its own, started by :func:`run_pass` in a new session. The
child stops Spark and waits for its JVM to exit; :func:`run_pass` then
waits until every process of that session (JVM, Python worker daemon,
workers) has ended, and kills what a failed child left behind.

    python3 -m perfbench.engine SPEC.pkl   # run the pass SPEC.pkl names
"""

from __future__ import annotations

import contextlib
import os
import pickle
import shutil
import signal
import subprocess
import sys
import threading
import time
from pathlib import Path

def session_extra(work: Path, event_log: Path | None) -> dict[str, str]:
    """Benchmark-only session settings: quiet console, every temporary
    file inside ``work`` and, for a traced run, Spark's own event log,
    uncompressed and in one file. Heap and every other setting stay
    ``build_session``'s own."""
    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
        ),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(event_log),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return extra


def start_session(cores: int, work: Path, event_log: Path | None = None):
    """Launch a JVM and build the session; returns (spark, seconds)."""
    from pdf_extractor_spark.plans.session import build_session

    t0 = time.perf_counter()
    spark = build_session(
        app="perfbench", cores=cores, extra=session_extra(work, event_log)
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _jvm_rss_mb(pid: int) -> float:
    """Resident memory of the JVM ``pid`` (``VmRSS``). It shares no
    pages with the rest of the tree, so RSS equals its PSS. Reading it
    costs microseconds; the JVM's ``smaps_rollup`` walks its whole
    address space, about 18 ms a read."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def _pss_mb(pid: int) -> float:
    """Resident memory of ``pid`` with each shared page split between
    the processes sharing it (PSS), so a tree's sum counts a page a
    forked worker shares with the worker daemon once, not twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024 / 1e6
    except (OSError, IndexError, ValueError):
        pass
    return 0.0


def _python_workers(root: int) -> list[int]:
    """Python processes below ``root`` (the worker daemon and workers).
    Other children, such as a helper the JVM is about to exec, are left
    out: until it execs, such a child shares the JVM's memory, and
    counting it would count the JVM twice."""
    out = []
    for pid in descendants(root)[1:]:
        try:
            exe = os.path.basename(os.readlink(f"/proc/{pid}/exe"))
        except OSError:
            continue
        if exe.startswith("python"):
            out.append(pid)
    return out


class PeakRss:
    """Samples from /proc, while the ``with`` block runs, the summed
    resident memory of the driver JVM ``root`` (:func:`_jvm_rss_mb`)
    plus its Python workers (:func:`_pss_mb`), and of the workers
    alone; keeps the peak of each. A sample costs about 5 ms of one
    core."""

    def __init__(self, root: int, period: float = 0.1):
        self.root = root
        self.period = period
        self.peak_mb = 0.0
        self.workers_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        root = _jvm_rss_mb(self.root)
        workers = sum(_pss_mb(p) for p in _python_workers(self.root))
        self.peak_mb = max(self.peak_mb, root + workers)
        self.workers_peak_mb = max(self.workers_peak_mb, workers)

    def _loop(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.period):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


class DriverCalls:
    """Spans around the driver-side calls a job makes into each layer
    while the block runs: the resume filter, plan building, and every
    parquet read and write (scans and sink commits)."""

    def __init__(self):
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from pdf_extractor_spark.plans import pipeline
        from pdf_extractor_spark.sources import pages

        self.targets = [
            (DataFrameReader, "parquet", "driver.read.parquet"),
            (DataFrameWriter, "parquet", "driver.write.parquet"),
            (pages, "resume_filter", "sources.pages.resume_filter"),
            (pipeline, "extract_pages", "plans.pipeline.extract_pages"),
            (pipeline, "metrics_from_extracted",
             "plans.pipeline.metrics_from_extracted"),
        ]
        self.spans: list[dict] = []

    def _wrap(self, name: str, fn):
        def timed(*args, **kwargs):
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append({"name": name, "start": t0,
                                   "end": time.time()})
        return timed

    def __enter__(self) -> "DriverCalls":
        self._saved = [getattr(owner, attr) for owner, attr, _ in
                       self.targets]
        for (owner, attr, name), fn in zip(self.targets, self._saved):
            setattr(owner, attr, self._wrap(name, fn))
        return self

    def __exit__(self, *exc) -> None:
        for (owner, attr, _), fn in zip(self.targets, self._saved):
            setattr(owner, attr, fn)


def run_job(spark, pages: Path, sink: Path, metrics: Path,
            partitions: int, base: Path | None = None,
            trace: bool = False) -> dict:
    """One production job into a fresh sink; ``base`` is a sink to
    resume from, copied before the timer. Returns wall-clock bounds
    and, with ``trace``, the job's driver call spans."""
    from pdf_extractor_spark.sources.pages import (
        read_pages,
        run_extraction_job,
    )

    if base is not None:
        shutil.copytree(base, sink)
    calls = DriverCalls() if trace else contextlib.nullcontext()
    t0, p0 = time.time(), time.perf_counter()
    with calls:
        run_extraction_job(
            spark, read_pages(spark, str(pages)), str(sink), str(metrics),
            num_partitions=partitions,
        )
    wall = time.perf_counter() - p0
    return {"start": t0, "end": t0 + wall, "wall_s": wall,
            "calls": calls.spans if trace else []}


def session_pass(inputs, cores: int, partitions: int, work: Path,
                 seconds: float, event_log: Path | None, goldens,
                 tag: str) -> dict:
    """One cold session: set up, then timed jobs until ``seconds`` of
    job time; every sink checked. The session is stopped on return.

    Set-up is ``build_session`` plus warm-up jobs: one over the warm
    table (the base sink a resuming workload starts from), then
    ``inputs.warm_jobs`` like the timed ones, because the jobs after the
    first still get faster one after another (see ``WARM_JOBS``)."""
    from pyspark import SparkContext

    from perfbench import workloads

    def job(trace: bool) -> dict:
        sink = work / f"{tag}-sink"
        metrics = work / f"{tag}-metrics"
        # every job starts from a collected heap, so its peak RSS does
        # not carry the heap growth of the jobs before it
        spark.sparkContext._jvm.System.gc()
        with PeakRss(jvm_pid()) as rss:
            out = run_job(spark, inputs.pages, sink, metrics, partitions,
                          base, trace)
        out["peak_rss_mb"] = rss.peak_mb
        out["workers_peak_rss_mb"] = rss.workers_peak_mb
        out["verdict"] = workloads.check_sink(inputs, sink, goldens)
        shutil.rmtree(sink)
        shutil.rmtree(metrics)
        return out

    spark, build_s = start_session(cores, work, event_log)
    try:
        t0 = time.perf_counter()
        warm_sink = work / f"{tag}-warm"
        run_job(spark, inputs.warm, warm_sink, work / f"{tag}-warm-metrics",
                partitions)
        base = warm_sink if inputs.resume else None
        warm = [job(trace=False) for _ in range(inputs.warm_jobs)]
        warmup_s = time.perf_counter() - t0
        jobs = []
        while sum(j["wall_s"] for j in jobs) < seconds:
            jobs.append(job(trace=event_log is not None))
    finally:
        jvm = SparkContext._gateway.proc
        spark.stop()
        jvm.stdin.close()  # the JVM exits when its stdin closes
        jvm.wait(60)
    return {"build_s": build_s, "warmup_s": warmup_s, "jobs": jobs,
            "warm_verdicts": [w["verdict"] for w in warm]}


def _session_members(sid: int) -> list[int]:
    """Live processes of session ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(name))
    return out


def _reap(sid: int, grace: float) -> None:
    """Wait until session ``sid`` has no live process; kill what is left
    after ``grace`` seconds."""
    deadline = time.monotonic() + grace
    while members := _session_members(sid):
        if time.monotonic() > deadline:
            for pid in members:
                with contextlib.suppress(OSError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.05)


def run_pass(spec: dict, path: Path, timeout: float = 150.0) -> dict:
    """Run :func:`session_pass` with ``spec`` in a child process and
    return its result once every process the child started has ended."""
    path.write_bytes(pickle.dumps(spec))
    proc = subprocess.Popen(
        [sys.executable, "-m", "perfbench.engine", str(path)],
        cwd=Path(__file__).resolve().parents[1], stdout=sys.stderr,
        start_new_session=True,
    )
    grace = 60.0
    try:
        code = proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
        grace = 0.0
    finally:
        _reap(proc.pid, grace)
    if code != 0:
        raise RuntimeError(f"session pass {spec['tag']} exited with {code}")
    return pickle.loads(path.with_suffix(".out").read_bytes())


if __name__ == "__main__":
    spec_path = Path(sys.argv[1])
    result = session_pass(**pickle.loads(spec_path.read_bytes()))
    spec_path.with_suffix(".out").write_bytes(pickle.dumps(result))
