"""Streaming throughput bench: lines/sec through the full streaming
pipeline (parse → compiled fan-out → epoch-idempotent results + stats
sinks) with an availableNow trigger over generated syslog files.

    python tools/stream_bench.py [n_lines] [n_filters]

Prints one JSON line: lines, wall seconds, lines/sec, and per-batch
progress from Spark's own StreamingQueryProgress.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    n_lines = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    n_filters = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    from cloudpelican_lsd_spark.catalog import FilterCatalog
    from cloudpelican_lsd_spark.session import get_spark
    from cloudpelican_lsd_spark.streaming.pipeline import (
        StreamingEngine,
        file_source,
    )

    spark = get_spark("stream-bench")
    cat = FilterCatalog()
    pats = [
        "error", "checkout", "login", "payment", "timeout", "(?i)warn",
        r"value=[0-9]{3}", r"host1[0-9]+", r"(100|200)", "click", "view",
        r"app: [a-z]+",
    ]
    for i in range(n_filters):
        cat.create(f"f{i}", pats[i % len(pats)])

    with tempfile.TemporaryDirectory() as td:
        src = os.path.join(td, "in")
        os.makedirs(src)
        # 8 files so the file source parallelizes the scan
        per = n_lines // 8
        for f in range(8):
            with open(os.path.join(src, f"part{f}.log"), "w") as fh:
                for i in range(per):
                    j = f * per + i
                    fh.write(
                        f"2024-01-01T10:{(j//60000)%60:02d}:{(j//1000)%60:02d}"
                        f".{j%1000:03d}+00:00 host{j%97} app: "
                        f"{'error' if j%7==0 else 'click'} value={j%1000} id={j}\n"
                    )
        eng = StreamingEngine(spark, cat, base_dir=os.path.join(td, "state"))
        t0 = time.time()
        q = eng.start(file_source(spark, src), trigger={"availableNow": True})
        finished = q.awaitTermination(600)
        if not finished:
            q.stop()
            raise SystemExit("stream did not drain within 600s; bench invalid")
        wall = time.time() - t0
        batches = [
            {"rows": p["numInputRows"], "ms": p["batchDuration"]}
            for p in (json.loads(x.json) for x in q.recentProgress)
            if p["numInputRows"]
        ]
        n_results = eng.results().count()

        # near-dup suppression throughput: synthetic docs, 30% of them
        # near-copies of earlier docs, drained through the foreachBatch
        # band-store pipeline (NearDupSuppressor)
        from cloudpelican_lsd_spark.streaming.pipeline import NearDupSuppressor

        dsrc = os.path.join(td, "docs")
        os.makedirs(dsrc)
        n_docs = max(2_000, n_lines // 25)
        import random as _random

        def doc_body(i):
            rng = _random.Random(i)
            return " ".join(f"w{rng.randrange(1000)}" for _ in range(30))

        with open(os.path.join(dsrc, "docs.jsonl"), "w") as fh:
            for i in range(n_docs):
                if i % 10 < 3 and i >= 10:
                    # near-copy of an earlier ORIGINAL doc (decade-end
                    # docs are never near-copies themselves): 2/30 words
                    toks = doc_body(i - (i % 10) - 1).split(" ")
                    toks[3], toks[17] = "changed", "tokens"
                    body = " ".join(toks)
                else:
                    body = doc_body(i)
                fh.write(json.dumps({"doc_id": i, "text": body}) + "\n")
        sup = NearDupSuppressor(
            spark, os.path.join(td, "ndd_store"), os.path.join(td, "ndd_out")
        )
        stream = spark.readStream.schema("doc_id long, text string").json(dsrc)
        t1 = time.time()
        q2 = sup.attach(stream, os.path.join(td, "ndd_ckpt"),
                        trigger={"availableNow": True})
        if not q2.awaitTermination(600):
            q2.stop()
            raise SystemExit("near-dup stream did not drain; bench invalid")
        ndd_wall = time.time() - t1
        kept = sup.kept().count()

        print(
            json.dumps(
                {
                    "lines": 8 * per,
                    "filters": n_filters,
                    "wall_sec": round(wall, 2),
                    "lines_per_sec": round(8 * per / wall),
                    "matched_results": n_results,
                    "batches": batches,
                    "neardup_docs": n_docs,
                    "neardup_wall_sec": round(ndd_wall, 2),
                    "neardup_docs_per_sec": round(n_docs / ndd_wall),
                    "neardup_kept": kept,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
