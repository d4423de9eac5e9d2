"""Every workload, untraced then traced, in one command.

    python3 perfbench/report.py [--seed 1]

Prints each workload's end-to-end metrics with units and its correctness
verdict, then the per-layer metrics of the traced run, and the tracing
overhead on each end-to-end metric (traced value over untraced value,
minus one).  Each run lasts `run_seconds` from BENCHMARK.json.  The per-operation tables land in `perfbench/.work/trace/`.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402

with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as _fh:
    RUN_SECONDS = json.load(_fh)["run_seconds"]


def bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(RUN_SECONDS), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE),
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} trace={trace} failed:\n{proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    ok = True
    for w in WORKLOADS:
        plain = bench(w, args.seed, 0)
        traced = bench(w, args.seed, 1)
        verdict = "correct" if plain["correct"] and traced["correct"] else "INCORRECT"
        ok &= verdict == "correct"
        print(f"{w}: {verdict}, attempted {plain['attempted']}, failed {plain['failed']}")
        for name, m in plain["metrics"].items():
            t = traced["metrics"].get(f"traced_{name}")
            over = f"  tracing overhead {t['value'] / m['value'] - 1:+.1%}" if t else ""
            print(f"  {name:24s} {m['value']:12.4f} {m['unit']}{over}")
        print("  per layer (traced run):")
        for name, m in traced["metrics"].items():
            if not name.startswith("traced_"):
                print(f"    {name:24s} {m['value']:12.4f} {m['unit']}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
