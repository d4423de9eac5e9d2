"""Relational-breadth queries (semi/anti joins, ranking windows, CUBE,
set ops) and the embedding-centroid / bigram / sketch north-star ops:
DuckDB oracle parity at sf0.001 plus semantic assertions the hash compare
can't express (sketch error bound, anti⊥semi complementarity).
"""

from __future__ import annotations

import math
from collections import Counter

import duckdb
import pytest

from cloudpelican_lsd_spark import registry

NEW_QUERIES = [
    "search_order_priority",
    "search_stalled_orders",
    "search_promo_revenue",
    "search_supplier_rank",
    "events_user_top3",
    "events_cube_day_type",
    "user_day_setops",
    "emb_centroid_per_label",
    "text_bigram_topk",
]


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in ("orders", "lineitem", "part", "supplier", "events",
              "documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", NEW_QUERIES)
def test_oracle_parity(spark, sf_dir, duck, name):
    sdf = registry.QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    rel = duck.sql(registry.ORACLES[name])
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    assert _multiset(srows, sdf.columns) == _multiset(drows, dcols)


def test_semi_anti_partition_orders(spark, sf_dir):
    """Semi ∪ anti on the same key+condition must partition the left side:
    every order either has or lacks a post-1998 shipment."""
    from pyspark.sql import functions as F

    from cloudpelican_lsd_spark.sources.tables import load_table

    o = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir).where(
        F.col("l_shipdate") >= F.lit("1998-01-01 00:00:00")
    )
    cond = F.col("l_orderkey") == F.col("o_orderkey")
    n_semi = o.join(li, cond, "left_semi").count()
    n_anti = o.join(li, cond, "left_anti").count()
    assert n_semi + n_anti == o.count()


def test_cube_marginals_consistent(spark, sf_dir):
    """CUBE grand total (gid=3) equals the sum of the finest cells
    (gid=0), and the two single-axis marginals each re-total to it."""
    rows = registry.QUERIES["events_cube_day_type"](spark, sf_dir).collect()
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, []).append(r)
    total = by_gid[3][0].n
    assert sum(r.n for r in by_gid[0]) == total
    assert sum(r.n for r in by_gid[1]) == total  # day marginal
    assert sum(r.n for r in by_gid[2]) == total  # type marginal


def test_setops_disjoint_and_bounded(spark, sf_dir):
    rows = registry.QUERIES["user_day_setops"](spark, sf_dir).collect()
    both = {(r.user_id, r.day_bucket) for r in rows
            if r.cohort == "click_and_purchase"}
    only = {(r.user_id, r.day_bucket) for r in rows
            if r.cohort == "click_only"}
    assert both.isdisjoint(only)
    assert len(both) + len(only) == len(rows)  # set semantics: no dups


def test_sketch_within_rsd(spark, sf_dir):
    """HLL++ estimate stays within a generous multiple of the 2% target
    rsd (sf0.001 strata are tiny, where HLL uses exact linear counting)."""
    for r in registry.UNGATED["distinct_users_sketch"](spark, sf_dir).collect():
        assert r.exact_users > 0
        assert abs(r.approx_users - r.exact_users) <= max(
            3, 0.1 * r.exact_users
        )


def test_funnel_daily_oracle_and_monotone(spark, sf_dir, duck):
    """Funnel stages must be monotone non-increasing per day, and the
    whole result must match the DuckDB oracle."""
    name = "events_funnel_daily"
    sdf = registry.QUERIES[name](spark, sf_dir)
    srows = sdf.collect()
    rel = duck.sql(registry.ORACLES[name])
    drows = rel.fetchall()
    dcols = [d[0] for d in rel.description]
    assert _multiset(srows, sdf.columns) == _multiset(drows, dcols)
    for r in srows:
        assert r.n_view >= r.n_view_click >= r.n_full_funnel >= 0


def test_funnel_ordering_semantics(spark):
    """Hand-built fixture: click before any view must NOT count; purchase
    before click must NOT count; same-second stages must NOT count
    (strict >); a proper chain counts once per user-day."""
    from pyspark.sql import functions as F

    from cloudpelican_lsd_spark.operators.funnel import funnel_stage_times

    rows = [
        # u1: view(10) -> click(20) -> purchase(30): full funnel
        (1, "view", 101, 10), (1, "click", 102, 20), (1, "purchase", 103, 30),
        # u2: click(5) precedes first view(10): no click stage
        (2, "click", 201, 5), (2, "view", 202, 10), (2, "purchase", 203, 20),
        # u3: purchase(15) between view(5) and click(25): no purchase stage
        (3, "view", 301, 5), (3, "purchase", 302, 15), (3, "click", 303, 25),
        # u4: same-second view+click: strict > rejects the click
        (4, "view", 401, 7), (4, "click", 402, 7),
    ]
    df = spark.createDataFrame(
        rows, ["user_id", "event_type", "event_id", "tse"]
    ).withColumn("day_bucket", F.col("tse") - F.col("tse") % 86400)
    out = funnel_stage_times(df).collect()
    got = {r.user_id: (r.t_view, r.t_click, r.t_purchase) for r in out}
    assert got[1] == (10, 20, 30)
    assert got[2] == (10, None, None)
    assert got[3] == (5, 25, None)
    assert got[4] == (7, None, None)


def test_grouping_sets_partition_totals(spark, sf_dir):
    from cloudpelican_lsd_spark.registry import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table

    rows = QUERIES["events_grouping_sets"](spark, sf_dir).collect()
    total = load_table(spark, "events", sf_dir).count()
    # gid 1 = grouped by event_type (day is the aggregated-away column),
    # gid 2 = grouped by day_bucket; each set partitions all events
    by_gid = {}
    for r in rows:
        by_gid.setdefault(r.gid, 0)
        by_gid[r.gid] += r.n
    assert set(by_gid) == {1, 2}
    assert by_gid[1] == total and by_gid[2] == total


def test_small_qty_revenue_threshold_is_strict(spark, sf_dir):
    from cloudpelican_lsd_spark.registry import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    out = {r.brand: r for r in QUERIES["search_small_qty_revenue"](spark, sf_dir).collect()}
    li = load_table(spark, "lineitem", sf_dir)
    # python-side reference for one brand's line count
    import collections

    rows = li.select("l_partkey", F.col("l_quantity").cast("long").alias("q"),
                     "l_extendedprice").collect()
    sums = collections.defaultdict(lambda: [0, 0])
    for r in rows:
        sums[r.l_partkey][0] += r.q
        sums[r.l_partkey][1] += 1
    part_brand = {
        r.p_partkey: r.p_brand
        for r in load_table(spark, "part", sf_dir).collect()
    }
    expect = collections.Counter()
    for r in rows:
        s, c = sums[r.l_partkey]
        if r.q < 0.2 * (s / c):
            expect[part_brand[r.l_partkey]] += 1
    for brand, cnt in expect.items():
        assert out[brand].small_qty_lines == cnt
    assert set(out) == set(expect)


def test_custdist_covers_all_customers(spark, sf_dir):
    from cloudpelican_lsd_spark.registry import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table

    rows = QUERIES["search_custdist"](spark, sf_dir).collect()
    total_customers = load_table(spark, "customer", sf_dir).count()
    assert sum(r.custdist for r in rows) == total_customers
    # zero-order customers bucket exists iff some customer has no open order
    assert all(r.c_count >= 0 for r in rows)


def test_disjunctive_revenue_plan_pushes_and_broadcasts(spark, sf_dir):
    """The part join is AQE-chosen (SF-linear side, no pinned hint), so
    collect() first — AQE finalizes the join strategy at execution, and
    at test scale it must land on a broadcast."""
    from cloudpelican_lsd_spark.registry import QUERIES

    df = QUERIES["search_disjunctive_revenue"](spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the quantity bounds reach the lineitem scan as pushed filters
    assert "PushedFilters" in plan


def test_bag_setops_multiplicity_invariant(spark, sf_dir):
    from cloudpelican_lsd_spark.registry import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table
    from cloudpelican_lsd_spark.operators import stats as stats_ops
    from pyspark.sql import functions as F
    from collections import Counter

    rows = QUERIES["user_day_setops_all"](spark, sf_dir).collect()
    ev = load_table(spark, "events", sf_dir).select(
        "event_type", "user_id",
        stats_ops.bucket_col("ts_epoch", 86400).alias("day"),
    ).collect()
    views = Counter((r.user_id, r.day) for r in ev if r.event_type == "view")
    clicks = Counter((r.user_id, r.day) for r in ev if r.event_type == "click")
    got_both = Counter(
        (r.user_id, r.day_bucket) for r in rows if r.cohort == "both_bag"
    )
    got_surplus = Counter(
        (r.user_id, r.day_bucket) for r in rows if r.cohort == "view_surplus"
    )
    for k in set(views) | set(clicks):
        assert got_both.get(k, 0) == min(views.get(k, 0), clicks.get(k, 0))
        assert got_surplus.get(k, 0) == max(views.get(k, 0) - clicks.get(k, 0), 0)


def test_first_last_touch_covers_all_users(spark, sf_dir):
    from cloudpelican_lsd_spark.registry import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table

    rows = QUERIES["events_first_last_touch"](spark, sf_dir).collect()
    users = load_table(spark, "events", sf_dir).select("user_id").distinct().count()
    assert sum(r.n_users for r in rows) == users
    types = {
        r.event_type
        for r in load_table(spark, "events", sf_dir)
        .select("event_type").distinct().collect()
    }
    for r in rows:
        assert r.first_touch in types and r.last_touch in types


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located equi-join: both sides bucketed on the key at write time
    -> the join plan contains no Exchange (the 100 TB contract: the
    shuffle happened once, at ingest)."""
    from pyspark.sql import functions as F

    from cloudpelican_lsd_spark.sources.bucketed import read_bucketed, write_bucketed
    from cloudpelican_lsd_spark.sources.tables import load_table

    orders = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    lineitem = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity"
    )
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # forbid broadcast so the test exercises the sort-merge path the
        # co-location is for (at real scale neither side broadcasts)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed(
            orders, "t_orders_b", ["o_orderkey"], 4, path=str(tmp_path / "o")
        )
        write_bucketed(
            lineitem, "t_lineitem_b", ["l_orderkey"], 4, path=str(tmp_path / "l")
        )
        j = read_bucketed(spark, "t_lineitem_b").join(
            read_bucketed(spark, "t_orders_b"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "SortMergeJoin" in plan, plan
        # and it still computes the right thing
        expected = lineitem.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
        assert j.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS t_orders_b")
        spark.sql("DROP TABLE IF EXISTS t_lineitem_b")


def test_aqe_splits_skewed_join(spark):
    """The 100 TB skew posture is AQE, not hand-salting, for plain joins:
    with a hot key dominating one side, the executed plan must carry
    SortMergeJoin(skew=true) — the skewed partition is split at runtime.
    Thresholds are lowered so the skew is visible at test scale."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(60500).select(
            F.when(F.col("id") < 60000, 0)
            .otherwise((F.col("id") % 500) + 1)
            .alias("k"),
            F.md5(F.col("id").cast("string")).alias("payload"),
        )
        right = spark.range(1000).select(
            (F.col("id") % 500).alias("k"), F.lit("dim").alias("d")
        )
        j = left.join(right, "k")
        # act on THIS DataFrame's QueryExecution so AQE finalizes it
        rows = j.collect()
        assert len(rows) == 60000 * 2 + 499 * 2
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_returned_revenue_top20(spark, sf_dir):
    out = registry.QUERIES["search_returned_revenue"](spark, sf_dir).collect()
    assert len(out) <= 20
    revs = [r.revenue for r in out]
    assert revs == sorted(revs, reverse=True)
    assert all(r.revenue > 0 for r in out)


def test_concurrent_query_submission(spark, sf_dir):
    """Four different operator families submitted concurrently from four
    driver threads against one session — the multi-user pattern a shared
    engine serves; all must return correct, independent results."""
    import concurrent.futures as cf

    names = [
        "search_pricing_summary",
        "text_token_count",
        "stats_rollup_minutely",
        "distinct_users_per_type",
    ]
    expected = {n: registry.QUERIES[n](spark, sf_dir).count() for n in names}

    def run(n):
        return n, registry.QUERIES[n](spark, sf_dir).count()

    with cf.ThreadPoolExecutor(max_workers=4) as ex:
        got = dict(ex.map(run, names))
    assert got == expected


def test_driver_order_lockstep():
    """DRIVER_ORDER and the registry must stay in lockstep; EVERY
    registered query must carry a full value-hash oracle (rows-only
    entries live in registry.UNGATED — a gate entry that cannot
    hash-match is a guaranteed red row); and every operator family must
    have hard driver signal: a member in the current 50-entry window or
    a green CORRECTNESS row from a prior round."""
    import json
    import os

    from cloudpelican_lsd_spark import registry

    names = list(registry.QUERIES)
    assert names == registry.DRIVER_ORDER
    assert all(n in registry.ORACLES for n in names)
    assert set(registry.UNGATED) == {
        "distinct_users_sketch", "outlier_consensus"
    }
    assert not set(registry.UNGATED) & set(registry.QUERIES)

    first50 = set(names[:50])
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # only GREEN rows count as prior hard signal — an errored/failed row
    # (rows_match null/false) must not satisfy a family's coverage
    ever_green: set[str] = set()
    for fn in sorted(os.listdir(repo)):
        if fn.startswith("CORRECTNESS_r") and fn.endswith(".json"):
            with open(os.path.join(repo, fn)) as fh:
                for q, row in json.load(fh).items():
                    if row.get("hash_match"):
                        ever_green.add(q)
    signal = first50 | ever_green
    # the prefix->family map lives in registry._core.FAMILIES — the ONE
    # definition this gate and the coverage-ledger dashboard both use
    families = registry.FAMILIES
    covered = {fam for n in signal for p, fam in families.items() if n.startswith(p)}
    assert covered == set(families.values()), set(families.values()) - covered


def test_coverage_doc_mentions_every_gated_query():
    """COVERAGE.md is the hand-written SURVEY §2 inventory the judge
    checks line by line; with 226 registry entries it drifts silently
    when a new query lands without a row (four did across rounds 2-6).
    Every gated query name must appear in the document, and the
    'Gate totals: N' line must match the registry size."""
    import os
    import re

    from cloudpelican_lsd_spark import registry

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "COVERAGE.md")) as fh:
        cov = fh.read()
    # word-boundary match, not substring: five registry names are
    # prefixes of longer names (topk_per_group/..._salted,
    # multimodal_resize/..._dims, ...) and a substring check would count
    # the longer query's row as covering the shorter one
    missing = [
        n for n in registry.QUERIES
        if not re.search(rf"\b{re.escape(n)}\b", cov)
    ]
    assert not missing, f"COVERAGE.md lacks a row mentioning: {missing}"
    m = re.search(r"Gate totals: (\d+)", cov)
    assert m, "COVERAGE.md lost its 'Gate totals: N' line"
    assert int(m.group(1)) == len(registry.QUERIES), (
        f"COVERAGE.md gate total {m.group(1)} != registry "
        f"{len(registry.QUERIES)}"
    )


#: Queries allowed to carry a partition-less WindowExec, each with the
#: boundedness argument that makes the single-task sort safe at 100 TB.
#: Anything else in the driver gate with a global window fails the lint.
GLOBAL_WINDOW_EXCEPTIONS = {
    "search_supplier_rank": (
        "WindowGroupLimit (rank<=10 filter) bounds the global window's "
        "input to ~10 rows per upstream partition, whatever |suppliers| is"
    ),
    "corpus_unimax_alloc": (
        "water-filling prefix sum over the |sources|-row aggregate"
    ),
    "stats_burn_rate": (
        "RANGE frame over the bounded minutely-bucket rollup of the "
        "alert window"
    ),
    "hybrid_retrieval_topk": (
        "row_number over the two <=k_each-row branch top-k lists"
    ),
    "corpus_perplexity_buckets": (
        "oracle-stable NTILE audit twin of corpus_perplexity_cutpoints "
        "(the production path, itself global-window-free)"
    ),
    "corpus_heaps_law": (
        "cumulative sums over the n_buckets(=20)-row checkpoint frame — "
        "input bounded by construction ((doc_id*20) DIV (max_id+1) has "
        "at most 20 values at any corpus size)"
    ),
    "text_zipf_audit": (
        "row_number over the <=topn(=100)-row post-TakeOrdered frame; "
        "the vocabulary-wide reduction is a TakeOrderedAndProject, "
        "never a window"
    ),
    # events_zorder_locality no longer needs an entry: round 5 replaced
    # its global ntile with layout._exact_ntile_chunks (two-level prefix
    # sums over the value-domain-bounded key histogram), plan-pinned below
}


def test_gate_has_no_unannotated_global_windows(spark, sf_dir):
    """Scale lint (VERDICT r4 #3): no driver-gate query may ship a
    partition-less WindowExec — the 'Moving all data to a single
    partition' shape — unless its input is provably bounded and the
    boundedness argument is recorded in GLOBAL_WINDOW_EXCEPTIONS.  Also
    pins the one production swap this lint exists for: the cutpoint
    perplexity split must stay global-window-free."""
    from tools.plan_audit import global_windows

    from cloudpelican_lsd_spark import registry

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "simple"
    )
    offenders = {}
    for name in list(registry.QUERIES)[:50]:
        df = registry.QUERIES[name](spark, sf_dir)
        hits = global_windows(df._jdf.queryExecution().explainString(mode))
        if hits and name not in GLOBAL_WINDOW_EXCEPTIONS:
            offenders[name] = hits
    assert not offenders, (
        "un-annotated partition-less windows in the driver gate "
        f"(add a boundedness justification or fix the plan): {offenders}"
    )
    # the production perplexity path is pinned clean; its NTILE twin is
    # pinned dirty (if the twin ever loses its global window the
    # exception entry — and the twin itself — are stale)
    cut = registry.QUERIES["corpus_perplexity_cutpoints"](spark, sf_dir)
    assert not global_windows(
        cut._jdf.queryExecution().explainString(mode)
    ), "corpus_perplexity_cutpoints grew a partition-less window"
    ntile = registry.QUERIES["corpus_perplexity_buckets"](spark, sf_dir)
    assert global_windows(ntile._jdf.queryExecution().explainString(mode))
    # zorder lost its global ntile in round 5 (exact distributed twin)
    zo = registry.QUERIES["events_zorder_locality"](spark, sf_dir)
    assert not global_windows(
        zo._jdf.queryExecution().explainString(mode)
    ), "events_zorder_locality regressed to a partition-less window"


def test_global_window_detector_handles_nested_brackets():
    """The lint must not be blinded by '[' inside a window expression
    list (array indexing like col#5[0]): top-level bracket groups are
    parsed balanced, not by a flat regex."""
    from tools.plan_audit import global_windows

    # partition-less window whose expr list contains an array index
    dirty = (
        "   +- Window [row_number() windowspecdefinition(parts#5[0] ASC "
        "NULLS FIRST, ...) AS rn#9], [parts#5[0] ASC NULLS FIRST]"
    )
    assert global_windows(dirty), "nested-bracket global window missed"
    # partitioned window with the same nested index: NOT flagged
    clean = (
        "   +- Window [sum(x#1L) windowspecdefinition(k#2, parts#5[0] ASC"
        " NULLS FIRST, ...) AS s#7L], [k#2], [parts#5[0] ASC NULLS FIRST]"
    )
    assert not global_windows(clean)


def test_perplexity_cutpoints_reject_degenerate_buckets(spark, sf_dir):
    """n_buckets=1 has zero interior boundaries: both cutpoint operators
    must refuse loudly instead of silently diverging from their oracles
    (all-NULL cuts -> 'middle' / empty inner join)."""
    import pytest

    from cloudpelican_lsd_spark.operators import corpus as C
    from cloudpelican_lsd_spark.sources.tables import load_table

    docs = load_table(spark, "documents", sf_dir)
    with pytest.raises(ValueError, match="n_buckets"):
        C.perplexity_cutpoints(docs, n_buckets=1)
    with pytest.raises(ValueError, match="n_buckets"):
        C.perplexity_by_lang(docs, n_buckets=1)


def test_exact_ntile_chunks_matches_window_ntile(spark):
    """layout._exact_ntile_chunks must reproduce
    ntile(chunks) OVER (ORDER BY key, event_id) exactly — including the
    uneven-tile boundary (N % chunks tiles get the extra row), heavy key
    ties, and the N < chunks degenerate case."""
    import random

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from cloudpelican_lsd_spark.operators.layout import _exact_ntile_chunks

    rng = random.Random(11)
    for n_rows, chunks, key_domain in ((137, 10, 16), (40, 7, 4), (3, 50, 8)):
        rows = [(rng.randrange(key_domain), i) for i in range(n_rows)]
        d = spark.createDataFrame(rows, "key long, event_id long")
        got = {
            (r.key, r.event_id): r.chunk
            for r in _exact_ntile_chunks(d, chunks, key_domain).collect()
        }
        w = Window.orderBy("key", "event_id")
        want = {
            (r.key, r.event_id): r.chunk
            for r in d.withColumn(
                "chunk", F.ntile(chunks).over(w)
            ).collect()
        }
        assert got == want, (n_rows, chunks, key_domain)


def test_driver_window_outputs_are_hashable(spark, sf_dir):
    """Round-1 regression guard: the driver canonicalizer sorts result
    columns with pandas and dies on unhashable cells (arrays/maps/structs
    — multimodal_features' float vector crashed the round-1 gate).  No
    query in the 50-entry correctness window may emit a complex type."""
    from pyspark.sql import types as T

    from cloudpelican_lsd_spark import registry

    bad = {}
    for name in list(registry.QUERIES)[:50]:
        df = registry.QUERIES[name](spark, sf_dir)
        complex_cols = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
        ]
        if complex_cols:
            bad[name] = complex_cols
    assert not bad, f"driver-unhashable columns in gate window: {bad}"


def test_window_float_queries_partition_invariant(spark, sf_dir):
    """In-suite sample of tools/determinism_probe.py: every gate-window
    query that emits a float/double column (the reduce-order-sensitive
    class) must produce the identical value multiset under a session with
    different shuffle partitioning and AQE off — the driver runs its own
    session config, so partition-dependent output would pass local parity
    and still hash-mismatch at the gate."""
    from collections import Counter

    from pyspark.sql import types as T

    from cloudpelican_lsd_spark import registry

    alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "7")
    alt.conf.set("spark.sql.adaptive.enabled", "false")

    def canon(df):
        order = sorted(range(len(df.columns)), key=lambda i: df.columns[i])
        return Counter(
            tuple(repr(r[i]) for i in order) for r in df.collect()
        )

    checked = []
    for name in list(registry.QUERIES)[:50]:
        fn = registry.QUERIES[name]
        df = fn(spark, sf_dir)
        if not any(
            isinstance(f.dataType, (T.DoubleType, T.FloatType))
            for f in df.schema.fields
        ):
            continue
        checked.append(name)
        assert canon(df) == canon(fn(alt, sf_dir)), name
    assert checked, "no float-output queries in the window?"


def test_new_operator_plan_shapes(spark, sf_dir):
    """Plan-shape pins for the operators added this round: the analyzer
    pipeline and line_dedup must stay join-free single-pipeline plans
    (a groupBy+join-back regression would re-evaluate the scan)."""
    from cloudpelican_lsd_spark.operators import outliers as O
    from cloudpelican_lsd_spark.operators.textstats import line_dedup
    from cloudpelican_lsd_spark.sources.tables import load_table, logs_view

    span = O.analyzer_span(O.event_series(logs_view(spark, sf_dir)))
    for check in (O.moving_average_check, O.zscore_check, O.regression_check,
                  O.random_walk_check, O.interval_check, O.time_bucket_check,
                  O.iqr_check):
        plan = check(span)._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, f"{check.__name__} grew a join:\n{plan}"

    lined = load_table(spark, "documents", sf_dir).select("doc_id", "text")
    ld = line_dedup(lined)
    plan = ld._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan
    assert plan.count("Relation") == 1  # single scan of the corpus
    # r8 pin: the reassembly agg must sit on an EXPLICIT-count doc_id
    # exchange (REPARTITION_BY_NUM) — a plain ENSURE_REQUIREMENTS
    # exchange is AQE-coalescible by bytes and serialized the whole
    # clean-pipeline fan-out (Gopher panel + C4 gate) onto one core
    # (measured; see line_dedup docstring)
    phys = ld._jdf.queryExecution().executedPlan().toString()
    assert "REPARTITION_BY_NUM" in phys, phys[:2000]


def test_gini_closed_form_and_bounds(spark, sf_dir):
    """Hand-computed Gini: perfectly equal counts give 0; one user
    holding everything approaches (n-1)/n; real data stays in [0, 1)."""
    from pyspark.sql import functions as F  # noqa: F401

    rows = (
        [(i, "eq") for i in range(4) for _ in range(5)]       # 4 users x 5
        + [(99, "skew")] * 97 + [(1, "skew"), (2, "skew"), (3, "skew")]
    )
    df = spark.createDataFrame(
        [(u, t, i) for i, (u, t) in enumerate(rows)],
        "user_id long, event_type string, event_id long",
    )
    import datetime as _dt

    df = df.withColumn("ts", F.lit(_dt.datetime(2024, 1, 1))).withColumn(
        "value", F.lit(0.0)
    ).withColumn("props", F.lit("{}"))
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        df.write.parquet(f"{td}/events.parquet")  # only events is read
        out = {r.event_type: r for r in registry.QUERIES[
            "events_gini_concentration"](spark, td).collect()}
    assert out["eq"].gini == 0.0
    # skew: counts ascending (1,1,1,97), n=4, tot=100,
    # six = 1*1+2*1+3*1+4*97 = 394 -> (788-500)/400 = 0.72
    assert out["skew"].gini == 0.72
    real = registry.QUERIES["events_gini_concentration"](spark, sf_dir).collect()
    assert all(0.0 <= r.gini < 1.0 for r in real)


def test_waiting_suppliers_decorrelation_equivalence(spark, sf_dir):
    """The aggregate decorrelation (n_supp/n_late) must equal the naive
    correlated form computed row-at-a-time in Python on the same data —
    independent of the DuckDB oracle."""
    from cloudpelican_lsd_spark.registry._core import QUERIES
    from cloudpelican_lsd_spark.sources.tables import load_table
    from collections import Counter as _Counter
    from collections import defaultdict
    from pyspark.sql import functions as F

    got = [
        (r["s_name"], r["numwait"])
        for r in QUERIES["search_waiting_suppliers"](spark, sf_dir).collect()
    ]

    o = {
        r["o_orderkey"]: r["o_orderdate"]
        for r in load_table(spark, "orders", sf_dir)
        .where(F.col("o_orderstatus") == "F")
        .collect()
    }
    li = defaultdict(list)
    for r in (
        load_table(spark, "lineitem", sf_dir)
        .select("l_orderkey", "l_suppkey", "l_shipdate")
        .collect()
    ):
        if r["l_orderkey"] in o:
            li[r["l_orderkey"]].append((r["l_suppkey"], r["l_shipdate"]))
    import datetime

    cnt = _Counter()
    for ok, rows in li.items():
        cutoff = o[ok] + datetime.timedelta(days=60)
        supps = {s for s, _ in rows}
        late_supps = {s for s, d in rows if d > cutoff}
        for s, d in rows:
            if d > cutoff and len(supps) > 1 and late_supps == {s}:
                cnt[s] += 1
    names = {
        r["s_suppkey"]: r["s_name"]
        for r in load_table(spark, "supplier", sf_dir).collect()
    }
    want = sorted(
        ((names[s], c) for s, c in cnt.items()),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    assert got == want


# Frozen per-file census of forced F.broadcast( pins in production code
# (round-7 boundedness audit).  Policy: a pin is only legal on a side
# bounded by a CONSTANT — 1-row/k-row aggregates, nation/region (25/5
# rows), limit-k / top-k, 2^bits value domains, backpressure-bounded
# micro-batches, n_eval-bounded slices, the reference's 1000-sample
# classifier memory.  Sides that grow with the corpus or scale factor
# (vocabularies, near-dup cluster/pair/drop sets, eval %-slices,
# part/supplier) must leave the strategy to AQE, which broadcasts them
# at harness scales and degrades to a shuffled join instead of OOMing
# the driver at the 100 TB shape.
BROADCAST_PIN_CENSUS = {
    "engine.py": 1,
    "operators/classifier.py": 5,
    "operators/corpus.py": 20,
    # r8: _group_pairs' hot-bucket anti-join pin removed — the cap is now
    # a window COUNT filter over the (single) group-key exchange, so the
    # upstream is computed once and no broadcast is involved
    "operators/dedup.py": 1,
    "operators/fanout.py": 1,
    "operators/layout.py": 4,
    "operators/similarity.py": 31,
    "operators/stats.py": 2,
    # r8 round close: +1 — gopher_sensitivity's lazy unpivot broadcasts
    # its ONE-ROW panel aggregate onto the 11-row literal rules relation
    # (bounded by construction: a global agg is exactly one row)
    "operators/textstats.py": 23,
    "registry/core_pipeline.py": 2,
    "registry/corpus.py": 3,
    "registry/relational.py": 2,
    "registry/search_ext.py": 2,
    "registry/search_joins.py": 8,
    "registry/search_outliers.py": 2,
}


def test_broadcast_pins_match_boundedness_census():
    """Scale lint (round-7 broadcast audit): every forced F.broadcast(
    in production code is accounted for in BROADCAST_PIN_CENSUS.  A new
    pin (or a moved one) fails this test until the census is updated —
    which is the point: updating it is the moment to answer 'is this
    side bounded by a constant, or does it grow with the corpus?'
    (policy in the census comment).  Counts, not line numbers, so
    refactors inside a file stay free."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(repo, "cloudpelican_lsd_spark")
    found = {}
    for dirpath, _dirs, files in os.walk(pkg):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            # count only non-comment code lines (r8, ADVICE item 4): a
            # comment or docstring narrating 'F.broadcast(' must not
            # count as a forced pin
            with open(path, encoding="utf-8") as fh:
                n = sum(
                    line.count("F.broadcast(")
                    for line in fh
                    if not line.lstrip().startswith("#")
                )
            if n:
                found[os.path.relpath(path, pkg)] = n
    drift = {
        k: (BROADCAST_PIN_CENSUS.get(k), found.get(k))
        for k in set(found) | set(BROADCAST_PIN_CENSUS)
        if BROADCAST_PIN_CENSUS.get(k) != found.get(k)
    }
    assert not drift, (
        "forced-broadcast census drift (file: expected, found) — before "
        "updating the census, check the new/changed pin against the "
        f"boundedness policy in the census comment: {drift}"
    )
