"""Compare recorded benchmark runs.

    python3 perfbench/compare.py [RESULTS_DIR]

Runs are grouped by what makes their figures comparable: workload,
trace mode, cores, partitions, doc count and payload MB (to two
significant digits, as the words a seed draws move it by under 1%).
Within a group rounds are ordered by their number (so round 10 follows
round 9), and each metric's median over the newest round's git commit
is set against the median over the previous commit's runs. Runs of
different groups are never compared.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

MATCH = ("workload", "trace", "cores", "partitions", "n_docs", "payload_mb")


def load(results: Path) -> list[dict]:
    return [json.loads(p.read_text()) for p in results.glob("r*.json")]


def next_round(results: Path) -> int:
    return 1 + max((r["round"] for r in load(results)), default=0)


def match_key(record: dict) -> tuple:
    ctx = dict(record["context"])
    ctx["payload_mb"] = float(f"{ctx['payload_mb']:.2g}")
    return tuple(ctx[k] for k in MATCH)


def compare(records: list[dict]) -> list[dict]:
    """Per group and metric: newest commit's median vs the previous
    commit's median (rows without a previous commit are omitted)."""
    groups: dict[tuple, list[dict]] = {}
    for r in records:
        groups.setdefault(match_key(r), []).append(r)
    rows = []
    for key, runs in sorted(groups.items(), key=lambda kv: str(kv[0])):
        runs.sort(key=lambda r: r["round"])
        commits: list[str] = []
        for r in runs:
            c = r["context"]["git_commit"]
            if c in commits:
                commits.remove(c)
            commits.append(c)
        if len(commits) < 2:
            continue
        old, new = commits[-2], commits[-1]
        for name in runs[-1]["result"]["metrics"]:
            def med(commit):
                return statistics.median(
                    r["result"]["metrics"][name]["value"] for r in runs
                    if r["context"]["git_commit"] == commit
                    and name in r["result"]["metrics"])
            a, b = med(old), med(new)
            rows.append({"group": dict(zip(MATCH, key)), "metric": name,
                         "old": a, "new": b,
                         "change": (b - a) / a if a else None})
    return rows


def main(argv: list[str]) -> int:
    results = Path(argv[0]) if argv else (
        Path(__file__).resolve().parents[1] / ".perfbench" / "results")
    for row in compare(load(results)):
        g = row["group"]
        change = ("n/a" if row["change"] is None
                  else f"{row['change']:+.1%}")
        print(f"{g['workload']} trace={g['trace']} cores={g['cores']} "
              f"docs={g['n_docs']} {row['metric']}: {row['old']:.6g} -> "
              f"{row['new']:.6g} ({change})")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
