"""End-to-end walkthrough: what a cloudpelican-lsd user does, here.

Runs every reference CLI workflow against the sf0.001 testdata in one
process: filter CRUD, live-ish tail, the grep pipeline, historical SQL
search (including the reference's own legacy dialect), the stats ASCII
chart, the Slack adapter, and one streaming micro-batch pass.

    python tools/demo.py
"""

from __future__ import annotations

import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"


def main() -> None:
    from cloudpelican_lsd_spark.engine import CloudPelicanEngine, slack_command
    from cloudpelican_lsd_spark.session import get_spark
    from cloudpelican_lsd_spark.sources.tables import logs_view

    spark = get_spark("demo")
    eng = CloudPelicanEngine(spark, logs_view(spark, SF), sf_dir=SF)

    print("== create filter / show filters ==")
    eng.execute("create filter errors as 'error'")
    eng.execute("create filter checkout as '(?i)purchase'")
    eng.execute("show filters").show(truncate=False)

    print("== tail errors limit 5 ==")
    eng.execute("tail errors limit 5").show(truncate=False)

    print("== cat errors | grep -v 404 | grep -i value | limit 5 ==")
    eng.execute("cat errors | grep -v 404 | grep -i value | limit 5").show(
        truncate=False
    )

    print("== search (plain SQL) ==")
    eng.execute(
        "search SELECT event_type, count(*) AS n FROM logs "
        "GROUP BY event_type ORDER BY n DESC"
    ).show()

    print("== search (reference legacy dialect) ==")
    eng.execute(
        "search SELECT count(*) AS n FROM logs WHERE REGEXP_MATCH(_raw, 'value=[0-9]+')"
    ).show()

    print("== stats errors (ASCII chart) ==")
    print(eng.stats_chart("errors", window_sec=86400 * 40, rollup_sec=86400, width=60))

    print("== slack: 'stats errors window 40d rollup 1d' ==")
    print(slack_command(eng, "stats errors window 40d rollup 1d")[:400])

    print("== streaming micro-batch over a file stream ==")
    from cloudpelican_lsd_spark.streaming.pipeline import StreamingEngine, file_source

    with tempfile.TemporaryDirectory() as td:
        src = f"{td}/in"
        import os

        os.makedirs(src)
        lines = [r._raw for r in eng.logs.limit(200).collect()]
        with open(f"{src}/lines.log", "w") as fh:
            fh.write("\n".join(lines))
        seng = StreamingEngine(spark, eng.catalog, base_dir=f"{td}/state")
        q = seng.start(file_source(spark, src), trigger={"availableNow": True})
        if not q.awaitTermination(120):
            q.stop()
            raise SystemExit("demo stream did not drain within 120s")
        print("results per filter:")
        seng.results().groupBy("filter_id").count().show(truncate=False)
        print("minutely stats sample:")
        seng.stats().orderBy("bucket").limit(5).show()

    print("demo complete.")
    spark.stop()


if __name__ == "__main__":
    main()
