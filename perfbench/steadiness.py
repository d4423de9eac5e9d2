"""Steadiness record: two sets of runs of one commit, per workload.

    python3 perfbench/steadiness.py --seeds 1-10

Two sets, one after the other, each run every workload once per seed,
untraced, for `run_seconds` from BENCHMARK.json.  For every
end-to-end metric it records the median, the quartiles
(`statistics.quantiles(values, n=4)`), the spread (quartile distance over
median) and, from the second set on, how far the median moved from the
first set.  The record is written to `perfbench/steadiness.json`; the
bounds in BENCHMARK.json are set from it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from report import RUN_SECONDS, bench  # noqa: E402
from run import WORKLOADS  # noqa: E402

SETS = 2
OUT = os.path.join(HERE, "steadiness.json")


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summary(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med,
            "values": values}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = ap.parse_args()
    record = {"seeds": args.seeds, "seconds": RUN_SECONDS, "cpus": os.cpu_count(),
              "sets": []}
    for s in range(SETS):
        runs = {w: [] for w in WORKLOADS}
        for seed in args.seeds:
            for w in WORKLOADS:
                t0 = time.perf_counter()
                res = bench(w, seed, 0)
                res["wall_s"] = time.perf_counter() - t0
                runs[w].append(res)
                print(f"set {s} {w} seed {seed}: {res['wall_s']:.0f} s, "
                      f"failed {res['failed']}, " + ", ".join(
                          f"{k} {m['value']:.4g}" for k, m in res["metrics"].items()),
                      flush=True)
        stats = {}
        for w, rs in runs.items():
            stats[w] = {
                m: summary([r["metrics"][m]["value"] for r in rs])
                for m in rs[0]["metrics"]
            }
            stats[w]["failed"] = sum(r["failed"] for r in rs)
            stats[w]["attempted"] = sum(r["attempted"] for r in rs)
            stats[w]["wall_s"] = [r["wall_s"] for r in rs]
        record["sets"].append(stats)
    first = record["sets"][0]
    for later in record["sets"][1:]:
        for w, ms in later.items():
            for m, st in ms.items():
                if isinstance(st, dict):
                    st["median_shift"] = st["median"] / first[w][m]["median"] - 1
    with open(OUT, "w") as fh:
        json.dump(record, fh, indent=1)
    for i, stats in enumerate(record["sets"]):
        for w, ms in stats.items():
            for m, st in ms.items():
                if isinstance(st, dict):
                    shift = st.get("median_shift")
                    print(f"set {i} {w:12s} {m:18s} median {st['median']:10.4f} "
                          f"spread {st['spread']:.3f}"
                          + (f" shift {shift:+.3f}" if shift is not None else ""))
    return 0


if __name__ == "__main__":
    sys.exit(main())
