"""Benchmark harness — runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Execution is measured with the noop sink (full pipeline execution, no
driver-side result transfer) except for small-result queries, which are
collected.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from cloudpelican_lsd_spark import registry  # noqa: E402
from cloudpelican_lsd_spark.session import get_spark  # noqa: E402

#: headline queries — one per operator family
HEADLINE = [
    "grep_pipeline",
    "filter_fanout_counts",
    "stats_rollup_minutely",
    "stats_gapfill",
    "stats_pivot_dual",
    "tail_last_n",
    "parse_extract_ts",
    "classifier_heuristic",
    "search_pricing_summary",
    "search_region_revenue",
    "search_shipping_priority",
    "topk_per_group",
    "naive_bayes_confusion",
    "outlier_consensus",
    "dedup_exact_groups",
    "dedup_clusters",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard_pairs",
    "simhash_fingerprints",
    "emb_cosine_topk",
    "emb_lsh_near_pairs",
    "text_quality_score",
    "text_fingerprint",
    "multimodal_features",
    "corpus_clean_pipeline",
    "parse_normalize",
    "text_bpe_token_count",
    "topk_per_group_salted",
    "distinct_users_per_type",
    "events_sessionize",
    "events_asof_attribution",
    "stats_moving_zscore",
    "events_range_join",
    "events_value_percentiles",
    "corpus_split_assign",
    "search_order_priority",
    "search_stalled_orders",
    "search_promo_revenue",
    "search_supplier_rank",
    "events_cube_day_type",
    "user_day_setops",
    "emb_centroid_per_label",
    "text_bigram_topk",
    "events_funnel_daily",
    "dedup_minhash_est_vs_true",
    "emb_ivf_recall",
    "text_repetition_ratio",
    "corpus_shingle_contamination",
    "emb_kmeans_assign",
    "text_length_quartiles",
    "search_small_qty_revenue",
    "events_grouping_sets",
    "dedup_pair_edit_distance",
    "corpus_lang_drift",
    "text_length_histogram",
    "corpus_pack_sequences",
    "corpus_source_mixture",
    "events_retention_cohorts",
    "emb_quantize_audit",
    "emb_kmeans_step_shift",
    "emb_rank_fusion",
    "logs_template_mining",
    "stats_rate_of_change",
    "corpus_token_budget_sample",
    "search_disjunctive_revenue",
    "search_custdist",
    "user_day_setops_all",
    "events_rolling_wau",
    "events_first_last_touch",
    "logs_pii_redact",
    "text_tfidf_topk",
    "text_unigram_logprob",
    "corpus_split_neardup_leakage",
    "events_transition_matrix",
    "events_burst_windows",
    "parse_sniff_types",
    "search_returned_revenue",
    "corpus_clean_yield",
    "emb_dim_health",
    "text_len_correlation",
    # round-3 late additions: retrieval + versioning + incremental-index
    "text_bm25_topk",
    "hybrid_retrieval_topk",
    "text_chunk_windows",
    "corpus_snapshot_diff",
    "corpus_source_divergence",
    "dedup_cross_source_matrix",
    "dedup_incremental_vs_index",
    # session additions: image phash dedup, perceptron, bloom, CMS
    "multimodal_phash_near_pairs",
    "text_perceptron_step",
    "dedup_bloom_prefilter",
    "text_cms_topk_audit",
]


#: full benchable surface: gated queries + the rows-only library queries
#: (UNGATED has no oracle, but its runtime still matters).
ALL_QUERIES = {**registry.QUERIES, **registry.UNGATED}


#: core-scaling subset (r9, VERDICT item 3): at sf0.1 every query is
#: overhead-dominated, so the driver's 8-vs-32-core ratio measures
#: scheduling, not parallelizability.  `SPARK_GRAFT_BENCH_QUERIES=heavy20`
#: (with SPARK_GRAFT_SF_DIR pointing at a scaled sf1 dir from
#: tools/scale_testdata.py) runs just the 20 heaviest operator chains so
#: the low/high-core ratio is meaningful and lands in BENCH_HISTORY
#: under its own sf tag.  The env is NEVER set by the driver: the
#: default bench surface and its one-line JSON contract are unchanged.
HEAVY20 = [
    "corpus_clean_v4",
    "corpus_clean_v2",
    "corpus_clean_v3",
    "corpus_clean_pipeline",
    "corpus_clean_yield",
    "corpus_gopher_by_source",
    "corpus_split_cluster_safe",
    "dedup_winnowing_pairs",
    "dedup_winnowing_clusters",
    "dedup_method_agreement",
    "dedup_cluster_keepers",
    "dedup_cluster_sizes_star",
    "dedup_ngram_jaccard_pairs",
    "dedup_semantic_prune",
    "emb_jl_audit",
    "emb_ivfpq_recall",
    "text_gopher_repetition",
    "text_gopher_sensitivity",
    "text_perceptron_step",
    "naive_bayes_confusion",
]


def headline_names(all_queries) -> list[str]:
    """The headline set, validated LOUD: a renamed/removed registry query
    left in HEADLINE used to be silently dropped, silently shrinking the
    published headline total and breaking cross-round history
    comparability (round-6 measurement-stack review)."""
    missing = [n for n in HEADLINE if n not in all_queries]
    if missing:
        raise SystemExit(
            f"bench: HEADLINE names not in the registry: {missing} — "
            "fix HEADLINE or the registry before publishing a bench"
        )
    return list(HEADLINE)


def run_one(spark, name: str, sf_dir: str) -> float:
    """Steady-state runtime: one untimed warm-up run (codegen compile,
    broadcast build, shuffle-file caches), then the MIN of two measured
    runs — the reference is a continuously-running topology, so warm
    throughput is the comparable number, and min-of-2 damps driver GC
    pauses that accumulate over a long single-JVM bench session."""
    fn = ALL_QUERIES[name]
    # Collect the garbage the *previous* query left (broadcasts, codegen
    # classes, shuffle bookkeeping) before timing this one: a 70-query
    # single-JVM session otherwise pays accumulated GC pauses inside later
    # measurements — observed 2-3x inflation vs the same query isolated.
    try:
        spark.sparkContext._jvm.System.gc()
    except Exception:
        pass
    times = []
    for i in range(3):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        # noop sink: executes the whole plan on the cluster, discards rows
        df.write.format("noop").mode("overwrite").save()
        times.append(time.perf_counter() - t0)
    return min(times[1:])


HISTORY_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_HISTORY.jsonl")


def _load_history(sf: float, cpus: str, subset: str) -> list[dict]:
    """Prior BENCH_HISTORY entries of the same kind of run, oldest first:
    same sf, same core count and same query subset (a full run records no
    subset).  A regression diff across core counts or subsets would flag
    the scaling signal itself."""
    try:
        with open(HISTORY_PATH) as fh:
            prior = [json.loads(line) for line in fh if line.strip()]
    except FileNotFoundError:
        return []
    return [
        p
        for p in prior
        if p.get("sf") == sf
        and p.get("cpus") == cpus
        and p.get("subset", "") == subset
    ]


def _compare_with_last(
    sf: float, cpus: str, subset: str, timings: dict[str, float]
) -> None:
    """Round-over-round tracking: diff against the newest prior history
    entry of the same kind of run (see _load_history) and flag per-query
    regressions on STDERR (stdout stays the one-JSON-line driver
    contract).  >=1.5x AND >=0.3s absolute — single-JVM noise sits well
    under both bounds (see BENCH notes)."""
    prior = _load_history(sf, cpus, subset)
    if not prior:
        return
    last = prior[-1]["queries"]
    regressed = {
        n: (last[n], t)
        for n, t in timings.items()
        if n in last and t > 1.5 * last[n] and t - last[n] > 0.3
    }
    improved = sum(1 for n, t in timings.items() if n in last and t < last[n])
    print(
        f"bench history: {len(last)} prior timings at sf={sf}; "
        f"{improved} faster, {len(regressed)} regressed (>=1.5x & >=0.3s)",
        file=sys.stderr,
    )
    for n, (old, new) in sorted(regressed.items(), key=lambda kv: -kv[1][1]):
        print(f"  REGRESSED {n}: {old:.3f}s -> {new:.3f}s", file=sys.stderr)


def parse_sf(sf_dir: str) -> float:
    """Scale factor from the data-dir name, LOUD on failure: defaulting a
    pattern-less dir to 0.1 would append foreign-scale timings into the
    sf=0.1 history and silently poison every later regression diff
    (round-6 measurement-stack review)."""
    m = re.search(r"sf([0-9]+(?:\.[0-9]+)?)", sf_dir)
    if not m:
        raise SystemExit(
            f"bench: cannot parse a scale factor from {sf_dir!r} — name "
            "the data dir sf<N> so history entries stay comparable"
        )
    return float(m.group(1))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = parse_sf(sf_dir)
    spark = get_spark("bench")
    # env-gated scaling subset (see HEAVY20); absent -> the full default
    # surface, byte-identical behavior to every prior round
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES", "").strip()
    if subset:
        names = HEAVY20 if subset == "heavy20" else subset.split(",")
        missing = [n for n in names if n not in ALL_QUERIES]
        if missing:
            raise SystemExit(f"bench: unknown subset queries: {missing}")
    else:
        names = headline_names(ALL_QUERIES)
    # warm-up: JVM + parquet footer caches, one light pass
    ALL_QUERIES[names[0]](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    timings: dict[str, float] = {}
    for name in names:
        timings[name] = round(run_one(spark, name, sf_dir), 4)
    # every registered query beyond the headline set ("no regressions" is
    # provable only if the whole surface is measured every round) —
    # skipped in subset mode, whose point is a focused scaling probe
    extras: dict[str, float] = {}
    for name in ALL_QUERIES if not subset else ():
        if name not in timings:
            extras[name] = round(run_one(spark, name, sf_dir), 4)
    merged = {**timings, **extras}
    total = round(sum(timings.values()), 4)
    # self-describing scaling artifacts (r9): a subset run at a
    # non-default core count must be attributable from the JSON alone
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or "all"
    try:
        _compare_with_last(sf, cpus, subset, merged)
        with open(HISTORY_PATH, "a") as fh:
            fh.write(
                json.dumps(
                    {
                        "ts": int(time.time()),
                        "sf": sf,
                        "cpus": cpus,
                        "value": total,
                        "queries": merged,
                        **({"subset": subset} if subset else {}),
                    }
                )
                + "\n"
            )
    except OSError:
        pass  # history is best-effort; the contract line below must print
    # untruncated copy for readers: the driver's log capture clips long
    # stdout lines (BENCH_r01.json recorded parsed:null), so the complete
    # result also lands in a file each run.  Guarded: an IO failure on
    # this convenience file must never block the stdout contract line
    # after minutes of measurement.
    try:
        with open(
            os.path.join(
                os.path.dirname(os.path.abspath(__file__)), "BENCH_LOCAL.json"
            ),
            "w",
        ) as fh:
            json.dump(
                {
                    "metric": "headline_queries_total_runtime",
                    "value": total,
                    "unit": "sec",
                    "queries": timings,
                    "extra_queries": extras,
                    "sf": sf,
                },
                fh,
                indent=1,
            )
    except OSError:
        pass
    print(_fit_stdout_line(timings, len(extras), sf, total))
    spark.stop()


def _fit_stdout_line(
    timings: dict[str, float],
    n_extras: int,
    sf: float,
    total: float,
    limit: int = 1900,
) -> str:
    """Stdout contract line, guaranteed standalone-parseable.  The
    driver's log capture keeps only the LAST ~2000 bytes (BENCH_r01.json:
    tail exactly 2000 bytes, head-truncated, parsed:null), and ~90 query
    names cannot fit under that — so the WHOLE line is fitted to
    ``limit`` bytes: the queries map keeps the slowest entries (the
    informative ones) and drops the fastest until the line fits, with the
    drop count recorded.  The captured tail is therefore always one
    complete JSON object; the untruncated map is in BENCH_LOCAL.json /
    BENCH_HISTORY.jsonl."""
    by_cost = sorted(timings, key=timings.get, reverse=True)
    keep = len(by_cost)
    while True:
        line = json.dumps(
            {
                "queries": {
                    k: round(timings[k], 2) for k in sorted(by_cost[:keep])
                },
                "queries_omitted": len(by_cost) - keep + n_extras,
                "full_results": "BENCH_LOCAL.json",
                "metric": "headline_queries_total_runtime",
                "unit": "sec",
                "sf": sf,
                "value": total,
            },
            separators=(",", ":"),
        )
        if len(line.encode()) <= limit or keep == 0:
            return line
        keep -= 1

if __name__ == "__main__":
    main()
