"""Driver-environment determinism probe for the correctness window.

The driver runs the gate in ITS OWN SparkSession, whose parallelism and
shuffle-partition settings differ from this repo's defaults — any window
query whose values depend on partitioning (float reduce order, tie-broken
row picks, partition-dependent sampling) would hash-match locally and
mismatch at the driver.  This probe runs every gated window query at
sf0.01 under two deliberately different configurations (32 vs 7 shuffle
partitions, local[32] vs local[5], AQE on vs off) and asserts the
order-insensitive value multisets are identical.

Usage: python tools/determinism_probe.py [sf_dir] [n_window]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402

from cloudpelican_lsd_spark import registry  # noqa: E402
from cloudpelican_lsd_spark.session import RUNTIME_CONFS  # noqa: E402
from tools.parity import multiset  # noqa: E402


def _session(master: str, shuffle: str, aqe: str) -> SparkSession:
    b = (
        SparkSession.builder.master(master)
        .appName(f"determinism-{shuffle}")
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", aqe)
    )
    for k, v in RUNTIME_CONFS.items():
        if k != "spark.sql.adaptive.enabled":
            b = b.config(k, v)
    return b.getOrCreate()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    n_window = int(sys.argv[2]) if len(sys.argv) > 2 else 50
    names = list(registry.QUERIES)[:n_window]

    results: list[dict] = []
    for master, shuffle, aqe in (("local[32]", "32", "true"), ("local[5]", "7", "false")):
        spark = _session(master, shuffle, aqe)
        run: dict = {}
        for name in names:
            df = registry.QUERIES[name](spark, sf_dir)
            run[name] = (len(df.columns), multiset(df.collect(), df.columns))
        results.append(run)
        spark.stop()

    failures = 0
    for name in names:
        a, b = results[0][name], results[1][name]
        ok = a == b
        if not ok:
            failures += 1
            diff_a = list((a[1] - b[1]).items())[:2]
            diff_b = list((b[1] - a[1]).items())[:2]
            print(f"{name:32s} NONDETERMINISTIC")
            for r in diff_a:
                print(f"    cfg32-only: {r}")
            for r in diff_b:
                print(f"    cfg7-only : {r}")
        else:
            print(f"{name:32s} OK rows={sum(a[1].values())}")
    print("DETERMINISM:", "PASS" if failures == 0 else f"{failures} FAILURES")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
