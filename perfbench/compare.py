#!/usr/bin/env python3
"""Compare two result sets of the benchmark.

    python3 perfbench/compare.py A.jsonl B.jsonl

A result set is the standard output of any number of runs appended to one
file (``perfbench/sweep.py`` writes one). For every (workload, end-to-end
metric) pair the report gives each set's median and spread (inter-quartile
distance over median) and calls the pair *within* when B's median is not
worse than A's by more than the metric's bound in ``BENCHMARK.json``, and
*outside* otherwise. A pair whose spread in either set is wider than the
bound is *unresolved* instead, unless every run of B reads better than
every run of A. When a set holds traced runs too, it reports the tracing
overhead: the drop of traced ``trace.ops_per_s`` against untraced
``ops_per_s``. Exit status 0 when every pair is within its bound.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def load(path: str) -> list[dict]:
    """The ``detail`` objects of every run in a result set."""
    out = []
    for line in Path(path).read_text().splitlines():
        line = line.strip()
        if line.startswith('{"detail"'):
            out.append(json.loads(line)["detail"])
    return out


def _values(runs: list[dict], workload: str, section: str, metric: str) -> list[float]:
    return [
        r[section][metric]["value"]
        for r in runs
        if r["workload"] == workload and metric in r.get(section, {})
    ]


def spread(values: list[float]) -> float:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def worse_by(a: float, b: float, better: str) -> float:
    """How much worse B is than A, as a share of A (negative: better)."""
    return (b - a) / a if better == "lower" else (a - b) / a


def compare(a_runs: list[dict], b_runs: list[dict], spec: dict) -> list[dict]:
    rows = []
    workloads = sorted({r["workload"] for r in a_runs} & {r["workload"] for r in b_runs})
    for w in workloads:
        for m in spec["end_to_end"]:
            a = _values(a_runs, w, "end_to_end", m["name"])
            b = _values(b_runs, w, "end_to_end", m["name"])
            if len(a) < 2 or len(b) < 2:
                continue
            ma, mb = statistics.median(a), statistics.median(b)
            delta = worse_by(ma, mb, m["better"])
            b_all_better = (max(b) < min(a)) if m["better"] == "lower" else (min(b) > max(a))
            if max(spread(a), spread(b)) > m["bound"] and not b_all_better:
                verdict = "unresolved"
            else:
                verdict = "within" if delta <= m["bound"] else "outside"
            rows.append({
                "workload": w,
                "metric": m["name"],
                "unit": m["unit"],
                "bound": m["bound"],
                "a_median": ma,
                "b_median": mb,
                "a_spread": spread(a),
                "b_spread": spread(b),
                "worse_by": delta,
                "verdict": verdict,
                "runs": [len(a), len(b)],
            })
    return rows


def tracing_overhead(runs: list[dict]) -> dict[str, float]:
    out = {}
    for w in sorted({r["workload"] for r in runs}):
        plain = _values([r for r in runs if not r["trace"]], w, "end_to_end", "ops_per_s")
        traced = _values([r for r in runs if r["trace"]], w, "per_layer", "trace.ops_per_s")
        if plain and traced:
            out[w] = 1 - statistics.median(traced) / statistics.median(plain)
    return out


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    a_runs, b_runs = load(argv[0]), load(argv[1])
    rows = compare(
        [r for r in a_runs if not r["trace"]], [r for r in b_runs if not r["trace"]], spec
    )
    for r in rows:
        print(
            f"{r['workload']:<16} {r['metric']:<14} A {r['a_median']:>10.4g} "
            f"(spread {r['a_spread']:.3f})  B {r['b_median']:>10.4g} "
            f"(spread {r['b_spread']:.3f})  worse by {r['worse_by']:+.3f} "
            f"bound {r['bound']:.2f}  {r['verdict']}"
        )
    overhead = {"A": tracing_overhead(a_runs), "B": tracing_overhead(b_runs)}
    for side, per in overhead.items():
        for w, o in per.items():
            print(f"tracing overhead {side} {w}: {o:+.3f} of untraced ops_per_s")
    ok = bool(rows) and all(r["verdict"] == "within" for r in rows)
    print(json.dumps({"within": ok, "pairs": rows, "tracing_overhead": overhead}))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
