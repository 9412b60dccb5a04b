"""Summaries over several benchmark runs, each a fresh ``run.py`` process.

    python3 perfbench/report.py spread --workload drain_refresh --seeds 1 2 3 4 5
    python3 perfbench/report.py overhead --seed 1

``spread`` runs one untraced run per seed and prints, for every end-to-end
metric, the median, the quartiles and (Q3 - Q1) / median: the run-to-run
spread that the bounds in BENCHMARK.json are set against.

``overhead`` runs every workload untraced and traced on one seed, prints the
traced run's per-layer table, and prints traced / untraced for the end-to-end
metrics the traced run also reports (``e2e.*``): the tracing overhead.

Run from the repository root; runs are sequential, never concurrent.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

SECONDS = 5  # BENCHMARK.json's run_seconds


def run_once(workload: str, seed: int, trace: int) -> tuple[list[str], dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SECONDS), "--trace", str(trace)],
        capture_output=True, text=True, timeout=300, check=True,
    )
    lines = out.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def spread(args) -> None:
    values: dict[str, list[float]] = {}
    for seed in args.seeds:
        _, res = run_once(args.workload, seed, 0)
        print(f"seed {seed}: correct={res['correct']} failed={res['failed']}/{res['attempted']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:<22} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {(q3 - q1) / med:.3f}  (n={len(vs)})")


def overhead(args) -> None:
    for workload in sorted(WORKLOADS):
        _, plain = run_once(workload, args.seed, 0)
        table, traced = run_once(workload, args.seed, 1)
        print(f"== {workload} (seed {args.seed}, traced run)")
        print("\n".join(table))
        for k, v in traced["metrics"].items():
            if k.startswith("e2e."):
                base = plain["metrics"][k[4:]]["value"]
                print(f"tracing overhead {k[4:]}: traced {v['value']:.4g} / untraced "
                      f"{base:.4g} = {v['value'] / base:.3f}")
        print(f"correct: untraced {plain['correct']}, traced {traced['correct']}", flush=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sp = sub.add_parser("spread")
    sp.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    sp.add_argument("--seeds", type=int, nargs="+", required=True)
    op = sub.add_parser("overhead")
    op.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    {"spread": spread, "overhead": overhead}[args.cmd](args)


if __name__ == "__main__":
    main()
