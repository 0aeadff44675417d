#!/usr/bin/env python3
"""Run the benchmark over several seeds and append every run's output to
one result set for ``perfbench/compare.py``.

    python3 perfbench/sweep.py --out A.jsonl --seeds 1-10 [--workloads sql_olap,...] [--trace 0|1]

Runs are sequential, one process at a time, from the repository root;
``--workloads`` defaults to those ``BENCHMARK.json`` lists and the run
length to its ``run_seconds``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--out", required=True)
    p.add_argument("--seeds", type=seeds, required=True)
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    failed = 0
    with open(args.out, "a") as out:
        for w in args.workloads.split(","):
            for s in args.seeds:
                cmd = spec["command"] + [
                    "--workload", w, "--seed", str(s),
                    "--seconds", str(spec["run_seconds"]), "--trace", str(args.trace),
                ]
                proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                lines = proc.stdout.strip().splitlines()[-2:]
                if proc.returncode != 0 or len(lines) < 2:
                    failed += 1
                    print(f"{w} seed {s}: exit {proc.returncode}", file=sys.stderr)
                    continue
                out.write("\n".join(lines) + "\n")
                out.flush()
                print(f"{w} seed {s}: {lines[-1]}", file=sys.stderr)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
