"""`library`: one client in a closed loop over registry queries.

A pass runs a fixed set of registry queries in seeded order over small
seeded tables: the console's operators (tail, stats chart, grep
pipeline) over the log view, one of the heaviest dedup chains, and
queries that cross the Arrow/Python boundary.  At this size every query
is bound by fixed cost (the driver-side plan build, Python plus py4j
round trips, and a few small Spark jobs), so a cut in per-query overhead
shows here and an executor-side speedup barely does.  A warm-up pass
runs first; then passes in seeded order run queries until the run's
seconds are used up (a query starts only inside the window, so the last
pass is usually cut short; the first always runs whole).  The streaming sinks are not exercised here.
"""

from __future__ import annotations

import math
import random
import time
from collections import Counter

import duckdb

import gen
from worker import median

#: what the console's tail, stats and cat|grep commands build
CONSOLE = ["tail_last_n", "stats_chart_series", "grep_pipeline"]
#: a heavy chain: shuffle-heavy n-gram dedup
HEAVY = ["dedup_ngram_jaccard_pairs"]
#: queries holding a Python/Arrow node (PLANS.md `python` column)
PYTHON = ["multimodal_features", "multimodal_phash_near_pairs", "outlier_consensus"]
QUERIES = CONSOLE + HEAVY + PYTHON
#: table sizes (rows): small, so execution stays cheap next to the build
N_DOCS, N_EMB, N_EVENTS = 300, 300, 5_000
SETUP_REPEATS = 5


def _query(name: str):
    from cloudpelican_lsd_spark import registry

    return registry.QUERIES.get(name) or registry.UNGATED[name]


def run(ctx) -> dict:
    setups, preps = [], []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        data = gen.write_tables(ctx.path(f"data{rep}"), ctx.seed, events=N_EVENTS,
                                documents=N_DOCS, embeddings=N_EMB)
        preps.append(time.perf_counter() - t0)
        _query("multimodal_features")(ctx.spark, data).count()
        setups.append(time.perf_counter() - t0)

    rng = random.Random(ctx.seed * 31 + 7)
    t0 = time.perf_counter()
    for name in QUERIES:
        _timed(ctx, f"warmup:{name}", name, data)
    warmup_s = time.perf_counter() - t0
    ctx.log(f"  set-up {sum(setups):.2f} s, warm-up {warmup_s:.2f} s")

    done = []  # (pass, name, ms, rows)
    start = time.perf_counter()
    deadline = start + ctx.seconds
    p = 0
    while time.perf_counter() < deadline:
        order = QUERIES[:]
        rng.shuffle(order)
        for name in order:
            # the first pass always runs whole, so every query is timed
            if p and time.perf_counter() >= deadline:
                break
            ms, rows = _timed(ctx, f"p{p}:{name}", name, data)
            done.append((p, name, ms, rows))
        p += 1
    busy_s = time.perf_counter() - start

    t_check = time.perf_counter()
    errors = check(data, done)
    ctx.log(f"  timed {busy_s:.2f} s, {len(done)} queries, checks "
            f"{time.perf_counter() - t_check:.2f} s")
    per_query = {}
    for _, name, ms, _ in done:
        per_query.setdefault(name, []).append(ms)
    typical = {n: median(v) for n, v in per_query.items()}
    for n, v in sorted(per_query.items()):
        ctx.log(f"  {n}: {', '.join(f'{x:.0f}' for x in v)} ms")
    # a pass made of each query's median time
    pass_s = sum(typical.values()) / 1000.0
    diag = {"queries": float(len(done)), "pass_s": pass_s}
    diag.update({f"{n}_ms": v for n, v in typical.items()})
    return {
        "e2e": {
            "setup_s": median(setups),
            # geometric mean of each query's median: every query in the set
            # counts, where a plain median over a mix of query kinds would
            # sit on the boundary between two of them and jump
            "latency_ms": math.exp(sum(math.log(v) for v in typical.values()) / len(typical)),
            # per second of that median pass: a pass cut short by the
            # window's end would weigh the queries it reached
            "throughput_per_s": len(typical) / pass_s,
        },
        "attempted": len(done),
        "failed": len(errors),
        "correct": not errors,
        "errors": errors,
        "timed_ops": [f"p{x[0]}:{x[1]}" for x in done],
        "layer": {"data_prep_s": median(preps), "warmup_s": warmup_s},
        "diag": diag,
    }


def _timed(ctx, op: str, name: str, data: str):
    tracer = ctx.tracer
    tracer.describe(op)
    t0 = time.perf_counter()
    with tracer.span(op, "build"):
        df = _query(name)(ctx.spark, data)
    with tracer.span(op, "action"):
        rows = df.collect()
        cols = df.columns
    return (time.perf_counter() - t0) * 1000.0, (cols, rows)


# -- correctness: registry oracles on DuckDB over the same parquet ---------------


def _cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _multiset(cols, rows) -> Counter:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return Counter(tuple(_cell(r[i]) for i in order) for r in rows)


def check(data: str, done: list) -> list[str]:
    from cloudpelican_lsd_spark import registry

    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    want: dict[str, tuple] = {}
    errors = []
    for p, name, _, (cols, rows) in done:
        try:
            if name not in want:
                if name in registry.ORACLES:
                    rel = con.sql(registry.ORACLES[name])
                    want[name] = ([d[0] for d in rel.description], rel.fetchall())
                else:
                    # no value oracle: one row per event-type series
                    (n,) = con.execute(
                        "SELECT COUNT(DISTINCT event_type) FROM events").fetchone()
                    want[name] = (None, n)
            wcols, wrows = want[name]
            if wcols is None:
                problem = None if len(rows) == wrows else (
                    f"{len(rows)} rows, expected {wrows}")
            elif sorted(cols) != sorted(wcols):
                problem = f"columns {sorted(cols)} vs {sorted(wcols)}"
            elif _multiset(cols, rows) != _multiset(wcols, wrows):
                problem = f"values differ ({len(rows)} vs {len(wrows)} rows)"
            else:
                problem = None
        except Exception as ex:  # noqa: BLE001 - a failed check is a failed op
            problem = f"check raised {type(ex).__name__}: {ex}"
        if problem:
            errors.append(f"pass {p} {name}: {problem}")
    return errors
