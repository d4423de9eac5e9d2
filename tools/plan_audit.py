"""Generate PLANS.md: physical-plan audit of every registered query.

For each bench query: count shuffle exchanges, broadcast exchanges,
whole-stage-codegen spans, Python/Arrow boundaries, parquet scans, and
whether any scan carries pushed filters — the checklist SURVEY §4 says
Catalyst must provide.  AQE is disabled for the audit only, so codegen
span ids are visible in the plan text (at runtime AQE additionally
coalesces shuffle partitions and splits skewed joins).
"""
from __future__ import annotations

import re
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# full-registry audit (bench.HEADLINE no longer needed)
from cloudpelican_lsd_spark import registry, session
from cloudpelican_lsd_spark.session import get_spark


def _top_bracket_groups(s: str) -> list[str]:
    """Split `[a], [b[0]], [c]` into its TOP-LEVEL bracket groups —
    nested brackets (array indexing like `col#5[0]` inside a window
    expression list) stay inside their group instead of fragmenting it,
    which a flat `\\[[^\\[\\]]*\\]` findall would get wrong."""
    groups: list[str] = []
    depth = 0
    cur: list[str] | None = None
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur or []))
                cur = None
                continue
        if cur is not None:
            cur.append(ch)
    return groups


def global_windows(plan: str) -> list[str]:
    """Partition-less WindowExec nodes — the scale-killer shape (Spark
    warns 'No Partition Defined ... Moving all data to a single
    partition').  A physical Window prints `Window [exprs], [partSpec],
    [orderSpec]` when partitioned and `Window [exprs], [orderSpec]` when
    global: exactly two top-level bracket groups with sort direction in
    the last one."""
    hits = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        groups = _top_bracket_groups(m.group(1))
        if len(groups) == 2 and re.search(r"ASC|DESC", groups[1]):
            hits.append(line.strip())
    return hits


def audit(plan: str, detail: str | None = None) -> dict:
    # `plan` is the SIMPLE explain (stable node markers for the
    # counters); `detail` the FORMATTED explain, whose Arguments lines
    # carry each leaf RDD's provenance ("at localCheckpoint" vs
    # "applySchemaToPythonRDD") — the signal the mode column needs.
    detail = detail if detail is not None else plan
    return {
        "global_window": len(global_windows(plan)),
        "shuffles": len(
            re.findall(r"\+- Exchange (?:hash|range|RoundRobin|Single)", plan)
        ),
        "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "python": len(
            re.findall(
                r"BatchEvalPython|ArrowEval|FlatMapGroupsInPandas|MapInPandas",
                plan,
            )
        ),
        "scans": len(re.findall(r"FileScan parquet|Scan parquet", plan)),
        "pushed": "yes" if re.search(r"PushedFilters: \[[A-Za-z]", plan) else "-",
        # r8 (VERDICT r7 wrong-#3): a query whose explained plan reads
        # from a materialized intermediate is NOT free — its real cost
        # lives in the jobs that produced the intermediate.  Stamp the
        # row so 0-shuffle cannot be read as 0-cost.  The leaf's RDD
        # provenance string disambiguates (refined at r8 close):
        #   iterative    — a checkpoint leaf ("at localCheckpoint" /
        #                  "at checkpoint"): localCheckpoint rounds or
        #                  stage materialization (connected components,
        #                  the clean pipelines); per-round cost in code
        #   driver-mat.  — a collected-and-rewrapped result with NO
        #                  parquet scan left in the plan
        #                  (collect()+createDataFrame driver loops,
        #                  e.g. k-center seeds): LocalTableScan or an
        #                  applySchemaToPythonRDD ExistingRDD leaf
        #   lazy         — everything else; a LITERAL local relation
        #                  (e.g. an 11-row rules table) next to real
        #                  parquet scans does not hide any cost
        "mode": (
            "iterative"
            if re.search(r"at (local|reliable)?[Cc]heckpoint", detail)
            else (
                "driver-mat"
                if (
                    re.search(
                        r"LocalTableScan|applySchemaToPythonRDD", detail
                    )
                    and not re.search(r"FileScan parquet|Scan parquet", plan)
                )
                else "lazy"
            )
        ),
    }


def main() -> None:
    # audit-only: AQE off so codegen span markers print (loaders re-apply
    # RUNTIME_CONFS, so patch the dict, not just the live conf)
    session.RUNTIME_CONFS = dict(
        session.RUNTIME_CONFS, **{"spark.sql.adaptive.enabled": "false"}
    )
    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sf = "/root/testdata/sf0.01"
    rows = []
    # full registry, driver order; ungated library queries audited last
    audited = {**registry.QUERIES, **registry.UNGATED}
    for name in audited:
        df = audited[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )
        detail = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        rows.append((name, audit(plan, detail)))
    with open(os.path.join(ROOT, "PLANS.md"), "w") as fh:
        fh.write(
            "# PLANS — physical-plan audit of every registered query\n\n"
            "Generated by `tools/plan_audit.py` (`explain` at sf0.01, AQE\n"
            "disabled for readable codegen ids).  Columns: shuffle\n"
            "exchanges, broadcast exchanges, whole-stage-codegen spans,\n"
            "Python/Arrow operator boundaries, parquet scans, pushed\n"
            "filters on any scan.\n\n"
            "| query | shuffles | broadcasts | codegen | python | scans | pushdown | global_window | mode |\n"
            "|---|---|---|---|---|---|---|---|---|\n"
        )
        for name, a in rows:
            fh.write(
                f"| {name} | {a['shuffles']} | {a['broadcasts']} | "
                f"{a['codegen']} | {a['python']} | {a['scans']} | {a['pushed']} | "
                f"{a['global_window']} | {a['mode']} |\n"
            )
        fh.write(
            "\n## Reading notes\n\n"
            "- **mode** (r8; leaf provenance refined at round close):\n"
            "  `lazy` = the numbers above ARE the query's cost.\n"
            "  `iterative` = the plan reads a checkpoint-truncated lineage\n"
            "  (a leaf whose RDD provenance says `at localCheckpoint`):\n"
            "  the real cost is the per-round / per-stage jobs documented\n"
            "  at the operator (connected components, perplexity\n"
            "  cutpoints, clean-v4's checkpointed stages).  `driver-mat`\n"
            "  = the result was assembled on the driver from collect()ed\n"
            "  aggregates (k-center seeds): the cost is the pre-collect\n"
            "  jobs, not this local-relation scan.  A LITERAL local\n"
            "  relation (e.g. gopher_sensitivity's 11-row rules table)\n"
            "  beside real parquet scans does NOT mark a row non-lazy.\n"
            "  Never read a 0-shuffle non-`lazy` row as free.\n"
            "- **python > 0** only where Python is the design: outlier\n"
            "  consensus (`applyInPandas` numpy analyzers) and multimodal\n"
            "  decode (`mapInPandas`).  Everything else runs JVM-side in\n"
            "  whole-stage codegen.\n"
            "- **dedup_clusters** shows 0 scans/shuffles because the\n"
            "  audited object is the *converged* label table: the iterative\n"
            "  min-label propagation localCheckpoints each round (lineage\n"
            "  truncation is the point), so the explained plan is a scan of\n"
            "  the checkpointed labels.  Per-round work is one hash-agg\n"
            "  shuffle of compact (node, lbl) rows; see operators/dedup.py.\n"
            "  The perplexity cutpoint queries under-report scans the same\n"
            "  way: their doc-level score table is localCheckpoint-backed\n"
            "  (one materialization shared by the cutpoint branch and the\n"
            "  final rollup), so it prints as an ExistingRDD scan.\n"
            "- **pushdown '-'** is expected for queries over the synthesized\n"
            "  `logs` view (predicates apply to the computed `_raw` column)\n"
            "  and for whole-table ops (dedup/similarity read every row by\n"
            "  definition).  Partition pruning on the results table is\n"
            "  asserted by `test_search_from_filter_name_partition_pruned`.\n"
            "- **global_window > 0** means a partition-less WindowExec —\n"
            "  every input row through ONE task.  Acceptable only over\n"
            "  provably bounded inputs; each such query must appear in the\n"
            "  documented-exception list in\n"
            "  tests/test_relational_breadth.py::test_gate_has_no_unannotated_global_windows\n"
            "  (e.g. `search_supplier_rank`: WindowGroupLimit bounds the\n"
            "  global rank window to ~10 rows per upstream partition\n"
            "  whatever |suppliers| is; `corpus_perplexity_buckets` is the\n"
            "  oracle-stable NTILE audit twin of the production\n"
            "  `corpus_perplexity_cutpoints`, which is global-window-free;\n"
            "  `events_zorder_locality` replicates ntile distributed via\n"
            "  layout._exact_ntile_chunks and carries none).\n"
            "- **shuffles** is the scale-critical column: each is a\n"
            "  cluster-wide repartition at 100 TB.  Small dimensions\n"
            "  broadcast instead (broadcasts column); candidate-pair joins\n"
            "  shuffle on compact keys (band signatures, 8-byte hashes,\n"
            "  bucket ids) rather than raw text/vectors.\n"
        )
    print("wrote PLANS.md with", len(rows), "rows")
    spark.stop()


if __name__ == "__main__":
    main()
