"""Single-process kernel profile: phase times of ``extract_document``.

The names ``operators.document`` calls are wrapped in its own module
namespace for the duration of :func:`profile`, then restored; the
package itself carries no instrumentation.
"""

from __future__ import annotations

import time
from collections import Counter

import numpy as np

# phase -> names operators.document calls for it
PHASES = {
    "parse": ("parse_pdf", "extract_html", "resolve_codec"),
    "layout": ("dedup_words", "zorder_overlap_count", "attach_scripts",
               "detect_sidebars", "column_texts"),
    "tables": ("detect_tables", "dedup_tables", "exclude_table_words"),
    "footnotes": ("find_markers", "find_definitions", "match_markers",
                  "completeness"),
    "filters": ("detect_repeating_elements", "filter_metadata",
                "is_scanned_page"),
    "serialize": ("cleanup_text", "count_bad_chars", "fix_encoding_text",
                  "ocr_fix_text"),
    "verify": ("element_inventory", "score_quality", "hallucination_scan"),
}


def profile(payloads: list[bytes], run_id: str) -> tuple[dict, list]:
    """Extract each payload once with every phase wrapped; returns
    (per-layer metrics, spans)."""
    from pdf_extractor_spark.operators import document

    clock0 = time.time() - time.perf_counter()
    busy = Counter()
    calls = Counter()
    spans: list[dict] = []
    doc_span = [None]

    def wrap(phase: str, name: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                busy[phase] += t1 - t0
                calls[name] += 1
                spans.append({"run": run_id,
                              "id": f"{doc_span[0]}.{len(spans)}",
                              "name": f"kernel.{phase}.{name}",
                              "start": clock0 + t0, "end": clock0 + t1,
                              "parent": doc_span[0]})
        return timed

    originals = {name: getattr(document, name)
                 for names in PHASES.values() for name in names}
    doc_ms = []
    n_pdf = 0
    try:
        for phase, names in PHASES.items():
            for name in names:
                setattr(document, name, wrap(phase, name, originals[name]))
        for i, payload in enumerate(payloads):
            doc_span[0] = f"kernel.doc.{i}"
            t0 = time.perf_counter()
            rec = document.extract_document(payload)
            t1 = time.perf_counter()
            doc_ms.append((t1 - t0) * 1000)
            n_pdf += rec["branch"] == "pdf"
            spans.append({"run": run_id, "id": doc_span[0],
                          "name": "kernel.extract_document",
                          "start": clock0 + t0, "end": clock0 + t1,
                          "parent": "kernel"})
    finally:
        for name, fn in originals.items():
            setattr(document, name, fn)

    total_ms = sum(doc_ms)
    n = len(doc_ms)
    metrics = {
        "kernel.doc_p50_ms": (float(np.percentile(doc_ms, 50)), "ms"),
        "kernel.doc_p99_ms": (float(np.percentile(doc_ms, 99)), "ms"),
    }
    for phase in PHASES:
        metrics[f"kernel.{phase}_ms"] = (busy[phase] * 1000 / n, "ms")
    phase_ms = sum(busy.values()) * 1000
    metrics["kernel.unaccounted_ratio"] = (1 - phase_ms / total_ms, "ratio")
    metrics["kernel.parses_per_pdf_doc"] = (
        calls["parse_pdf"] / n_pdf if n_pdf else 0.0, "ratio"
    )
    docs = [s for s in spans if s["parent"] == "kernel"]
    spans.append({"run": run_id, "id": "kernel", "name": "kernel",
                  "start": docs[0]["start"], "end": docs[-1]["end"],
                  "parent": None})
    return metrics, spans
