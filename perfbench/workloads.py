"""Workload inputs and their output oracles.

Each workload turns ``--seed`` into a pages table (written as parquet
before any timer starts), the table its warm-up job reads, and an
oracle that checks every row a job committed to its sink.

The three workloads:

- ``html_short``: rows of the sf0.1 ``documents`` table
  (``data/sf01_documents.parquet``, about 300 B of text a row) wrapped
  by ``docwrap.wrap_html_transport``; about 600 B a page. Oracle:
  ``extracted_text == text`` and ``ok``.
- ``pdf_long``: such rows' text repeated x16 wrapped by
  ``docwrap.wrap_pdf_layout``; about 20 KB a payload. Oracle: text
  equality and ``ok``.
- ``fixture_resume``: the golden corpus,
  ``fixtures.corpus.build_pages_frame(copies=R)``. The warm-up job
  extracts half the copies into a base sink; each timed job resumes a
  fresh copy of that sink. Oracle: byte equality with
  ``tests/golden/*.txt`` and ``*.spans.json``.

On every workload the final sink must hold each input url exactly once.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The text, lang and doc_id columns of the sf0.1 ``documents`` table
# (5,000 rows), copied unchanged.
DOCUMENTS = Path(__file__).resolve().parent / "data" / \
    "sf01_documents.parquet"
LONG_REPEAT = 16
PAGE_FILES = 8
BASE_TS = pd.Timestamp("2025-01-01", tz="UTC")

# Docs a timed job extracts; for fixture_resume, copies of the 79-case
# corpus, half of which the warm-up job extracts into the base sink that
# every timed job resumes.
SIZES = {"html_short": 8000, "pdf_long": 256, "fixture_resume": 40}
# Warm-up jobs like the timed ones, after the first job of a session.
# Engine-bound jobs keep getting faster for about four jobs after JVM
# start (fixture_resume, 4-core VM: 4.6, 3.4, 3.0, then 2.4-2.8 s); a
# kernel-bound pdf_long job is flat after the first.
WARM_JOBS = {"html_short": 3, "pdf_long": 1, "fixture_resume": 3}
# Docs of each workload timed single-process by the kernel profile.
KERNEL_SAMPLE = {"html_short": 2000, "pdf_long": 64, "fixture_resume": 158}


@dataclass
class Inputs:
    """One workload's materialised inputs and expectations."""

    pages: Path          # table each timed job reads
    warm: Path           # table the warm-up job reads (outside the timer)
    expected: dict       # url -> expected value (text or golden case id)
    payload_bytes: dict  # url -> payload size
    resume: bool = False  # timed jobs resume the warm-up job's sink
    warm_jobs: int = 1    # warm-up jobs like the timed ones
    new_urls: list = field(default_factory=list)  # urls a job commits
    kernel_sample: list = field(default_factory=list)  # payload bytes

    @property
    def n_docs(self) -> int:
        return len(self.new_urls)

    @property
    def payload_mb(self) -> float:
        return sum(self.payload_bytes[u] for u in self.new_urls) / 1e6


def _rows(rng: np.random.Generator, n: int) -> pd.DataFrame:
    """``n`` documents rows picked by ``rng``. Slot ``i`` takes a row with
    as many words as row ``i mod 5000`` of the table, so the length of
    every slot (and the load on every url-hash partition) is the same
    for every seed; the seed picks which of those rows fills it."""
    docs = pq.read_table(DOCUMENTS).to_pandas()
    words = docs["text"].str.count(" ").to_numpy() + 1
    by_len = {k: np.flatnonzero(words == k) for k in np.unique(words)}
    picks = [rng.choice(by_len[words[i % len(docs)]]) for i in range(n)]
    return docs.iloc[picks].reset_index(drop=True)


def write_pages(frame: pd.DataFrame, path: Path) -> None:
    """Write a pages table (url, warc_ts, html, text, lang) as
    ``PAGE_FILES`` parquet files, so the scan has parallel input
    splits."""
    tbl = pa.Table.from_pandas(
        frame,
        schema=pa.schema([
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]),
        preserve_index=False,
    )
    path.mkdir(parents=True)
    n = tbl.num_rows
    for f in range(PAGE_FILES):
        lo, hi = f * n // PAGE_FILES, (f + 1) * n // PAGE_FILES
        pq.write_table(tbl.slice(lo, hi - lo), path / f"part-{f:03d}.parquet")


def _document_pages(kind: str, seed: int, n: int):
    """Pages of ``kind`` html/pdf: (frame, url -> text)."""
    from pdf_extractor_spark.sources.docwrap import (
        wrap_html_transport,
        wrap_pdf_layout,
    )

    rows = _rows(np.random.default_rng(seed), n)
    texts = list(rows["text"])
    if kind == "pdf":
        texts = [" ".join([t] * LONG_REPEAT) for t in texts]
    # the seed offsets the doc ids that pick the wrapper variants; the
    # urls do not depend on it
    ids = [(seed * 9973) % 100_000 + i for i in range(n)]
    wrap = wrap_pdf_layout if kind == "pdf" else wrap_html_transport
    urls = [f"https://bench.test/{kind}/{i}" for i in range(n)]
    frame = pd.DataFrame({
        "url": urls,
        "warc_ts": [BASE_TS + pd.Timedelta(seconds=i) for i in range(n)],
        "html": [wrap(t, d) for t, d in zip(texts, ids)],
        "text": texts,
        "lang": rows["lang"],
    })
    return frame, dict(zip(urls, texts))


def _document_inputs(name: str, kind: str, seed: int, work: Path) -> Inputs:
    frame, expected = _document_pages(kind, seed, SIZES[name])
    write_pages(frame, work / "pages")
    return Inputs(
        pages=work / "pages",
        warm=work / "pages",
        expected=expected,
        payload_bytes=dict(zip(frame["url"], frame["html"].map(len))),
        new_urls=list(frame["url"]),
        kernel_sample=list(frame["html"][: KERNEL_SAMPLE[name]]),
        warm_jobs=WARM_JOBS[name],
    )


def _fixture_inputs(seed: int, work: Path) -> Inputs:
    from pdf_extractor_spark.fixtures.corpus import build_pages_frame

    copies = SIZES["fixture_resume"]
    rng = np.random.default_rng(seed)
    # the seed picks which half of the copies is pre-extracted, and the
    # row order of the pages table
    done = set(rng.permutation(copies)[: copies // 2].tolist())
    frame = build_pages_frame(copies=copies)
    frame = frame.iloc[rng.permutation(len(frame))].reset_index(drop=True)
    # url .../{branch}/{case}/{copy}: the case id keys the golden
    parts = frame["url"].str.split("/")
    pre = parts.str[-1].astype(int).isin(done)
    write_pages(frame, work / "pages")
    write_pages(frame[pre], work / "prefill")
    return Inputs(
        pages=work / "pages",
        warm=work / "prefill",
        expected=dict(zip(frame["url"], parts.str[-2])),
        payload_bytes=dict(zip(frame["url"], frame["html"].map(len))),
        resume=True,
        new_urls=list(frame["url"][~pre]),
        kernel_sample=list(frame["html"][: KERNEL_SAMPLE["fixture_resume"]]),
        warm_jobs=WARM_JOBS["fixture_resume"],
    )


def materialise(name: str, seed: int, work: Path) -> Inputs:
    """Write the workload's tables under ``work`` (outside any timer)."""
    if name == "html_short":
        return _document_inputs(name, "html", seed, work)
    if name == "pdf_long":
        return _document_inputs(name, "pdf", seed, work)
    if name == "fixture_resume":
        return _fixture_inputs(seed, work)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("html_short", "pdf_long", "fixture_resume")


# ---------------------------------------------------------------- oracle


def load_goldens(golden_dir: Path) -> dict:
    """case id -> (golden text bytes, spans.json dict)."""
    out = {}
    for txt in golden_dir.glob("*.txt"):
        cid = txt.name[: -len(".txt")]
        meta = json.loads((golden_dir / f"{cid}.spans.json").read_text())
        out[cid] = (txt.read_bytes(), meta)
    return out


@dataclass
class Verdict:
    attempted: int
    missing: int
    duplicate: int
    mismatched: int
    examples: list

    @property
    def failed(self) -> int:
        return self.missing + self.duplicate + self.mismatched


def _quality(q: dict) -> dict:
    q = dict(q)
    q["dims"] = dict(q["dims"])
    return q


def _golden_mismatch(row: dict, golden: tuple) -> str | None:
    text, meta = golden
    if row["extracted_text"].encode("utf-8") != text:
        return "extracted_text"
    spans = [[s["start"], s["end"], s["kind"], s["page"]]
             for s in row["spans"]]
    if spans != meta["spans"]:
        return "spans"
    if row["branch"] != meta["branch"]:
        return "branch"
    if _quality(row["quality"]) != meta["quality"]:
        return "quality"
    if sorted({e["type"] for e in row["errors"]}) != meta["error_types"]:
        return "error_types"
    return None


def check_sink(inputs: Inputs, sink: Path, goldens: dict | None) -> Verdict:
    """Check the committed sink against the workload's oracle: every
    input url exactly once, every row equal to its expectation."""
    cols = ["url", "extracted_text", "ok"]
    if goldens is not None:
        cols += ["spans", "branch", "quality", "errors"]
    rows = pq.read_table(sink, columns=cols).to_pylist()
    seen: dict[str, int] = {}
    mismatched = 0
    examples = []
    for row in rows:
        url = row["url"]
        seen[url] = seen.get(url, 0) + 1
        if seen[url] > 1 or url not in inputs.expected:
            continue
        want = inputs.expected[url]
        if goldens is not None:
            why = _golden_mismatch(row, goldens[want])
        elif row["extracted_text"] != want:
            why = "extracted_text"
        else:
            why = None if row["ok"] else "ok"
        if why is not None:
            mismatched += 1
            if len(examples) < 3:
                examples.append(f"{url}: {why}")
    duplicate = sum(n - 1 for n in seen.values())
    duplicate += sum(1 for u in seen if u not in inputs.expected)
    missing = sum(1 for u in inputs.expected if u not in seen)
    return Verdict(len(inputs.expected), missing, duplicate, mismatched,
                   examples)

