"""`stream-live`: open-loop log lines into the streaming engine.

Set-up starts a fresh engine and drains a small seeded backlog with an
`availableNow` trigger, three times; it is bound by the fixed cost of
starting a query and running one micro-batch.

The live phase runs the last set-up's engine with its default 1 s
trigger.  A generator thread writes seeded lines at a fixed rate on a
schedule that does not slow down when the engine does; each line's
timestamp is its creation (due) time.  One poller reads
`StreamingEngine.tail` of the watched filter every 200 ms (the reference
CLI's poll interval), another reads `StreamingEngine.stats` every
second.

The stopped engine then catches up three times: each time it finds a
seeded 30,000-line backlog in its source (the lines that piled up while
it was down, about ten live batches' worth) and drains it with
`availableNow` in one micro-batch.  More than half of such a batch's
time is the sinks' per-row cost (a 60,000-line drain took about 2.5 s
more than a 30,000-line one of about 4 s), which the live batches, bound
by their fixed cost, hide.  The drain rate is the median of the three.

Only `FilterCatalog`, `file_source`, `StreamingEngine.start`, `.tail`,
`.stats` and `.results` are used, so the stores behind them can change
without touching this file.
"""

from __future__ import annotations

import json
import math
import os
import random
import re
import threading
import time

import gen
from worker import median, percentile

RATE = 1000  # lines per second
TICK_S = 0.1  # one file per tick
TAIL_POLL_S = 0.2
STATS_POLL_S = 1.0
#: lines of the set-up backlog and of each timed catch-up
SETUP_LINES = 1_000
CATCHUP_LINES = 30_000
CATCHUP_REPEATS = 3
#: first sequence number of the catch-up lines (after every live line)
CATCHUP_SEQ = 10**7
SETUP_REPEATS = 3
#: limit on each availableNow drain
DRAIN_TIMEOUT_S = 120
#: generator lateness above this fails the run (its schedule no longer holds)
MAX_LATE_MS = 500.0


def _backlog_lines(seed: int, n: int, first_seq: int, day: int) -> list[str]:
    """`n` backlog lines spread over ten minutes of a fixed past day
    (`day` days after 2024-01-01), so the same seed gives the same
    backlog and its minute buckets never mix with the live ones."""
    rng = random.Random(seed * 65537 + 11 + day)
    t0 = (1704067200 + day * 86400) * 1000  # 2024-01-01T00:00:00Z + days
    step = 600_000 / n
    return [gen.stream_line(rng, first_seq + i, (t0 + i * step) / 1000.0)
            for i in range(n)]


def _write_backlog(src: str, name: str, lines: list[str]) -> None:
    """The backlog as eight files, as a client that buffered it would
    leave them."""
    per = -(-len(lines) // 8)
    for f in range(8):
        _write(os.path.join(src, f"{name}{f}.log"), lines[f * per:(f + 1) * per])


def _drain(spark, engine, src: str):
    """Run the engine once over everything in `src`; return the stopped
    query, or None when it did not finish in time."""
    from cloudpelican_lsd_spark.streaming.pipeline import file_source

    q = engine.start(file_source(spark, src), trigger={"availableNow": True})
    if q.awaitTermination(DRAIN_TIMEOUT_S):
        return q
    q.stop()
    return None


def _write(path: str, lines: list[str]) -> None:
    """Write a file atomically: Spark's file source skips dot-files."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, "." + name)
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    os.replace(tmp, path)


def run(ctx) -> dict:
    from cloudpelican_lsd_spark.catalog import FilterCatalog
    from cloudpelican_lsd_spark.streaming.pipeline import StreamingEngine

    filters = gen.filters(ctx.seed)
    catalog = FilterCatalog()
    fids = {name: catalog.create(name, rx).id for name, rx in filters}
    backlog = _backlog_lines(ctx.seed, SETUP_LINES, 0, day=0)
    tracer = ctx.tracer
    phase = {"name": ""}

    setups, preps = [], []
    for rep in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        src = ctx.path(f"src{rep}")
        os.makedirs(src)
        _write_backlog(src, "backlog", backlog)
        preps.append(time.perf_counter() - t0)
        engine = StreamingEngine(ctx.spark, catalog, base_dir=ctx.path(f"state{rep}"))
        _wrap_sinks(engine, tracer, phase)
        phase["name"] = f"setup{rep}"
        if _drain(ctx.spark, engine, src) is None:
            raise RuntimeError(f"stream-live set-up: backlog did not drain in "
                               f"{DRAIN_TIMEOUT_S} s")
        setups.append(time.perf_counter() - t0)
    ctx.log(f"  set-up {', '.join(f'{x:.2f}' for x in setups)} s")

    def catch_up(k: int, n: int) -> tuple[list[str], float, list[dict]]:
        """The stopped engine finds `n` backlog lines in its source and
        drains them; return the lines, the drain's seconds and its
        batches' progress."""
        lines = _backlog_lines(ctx.seed, n, CATCHUP_SEQ * (k + 1), day=k + 1)
        _write_backlog(src, f"catchup{k}-", lines)
        phase["name"] = f"catchup{k}"
        d0 = time.perf_counter()
        q = _drain(ctx.spark, engine, src)
        seconds = time.perf_counter() - d0
        batches = [json.loads(p.json) for p in q.recentProgress] if q else []
        batches = [p for p in batches if p["numInputRows"] > 0]
        rows = sum(p["numInputRows"] for p in batches)
        if rows != n:
            errors.append(f"catch-up {k} drained {rows} of {n} lines in {seconds:.1f} s")
        ctx.log(f"  catch-up {k}: {seconds:.2f} s in {len(batches)} batches: " + "; ".join(
            str({m: v for m, v in p["durationMs"].items() if v}) for p in batches))
        return lines, seconds, batches

    errors: list[str] = []
    phase["name"] = "live"
    live = _live(ctx, engine, src, fids["f0"], dict(filters)["f0"])
    errors += live["errors"]
    # the median drain leaves out a first one that still warms the
    # large-batch path
    drains = [catch_up(k, CATCHUP_LINES) for k in range(CATCHUP_REPEATS)]
    drain = [p for _, _, batches in drains for p in batches]
    attempted = live["attempted"] + CATCHUP_REPEATS

    # correctness: results and stats equal a recount of every line written
    t_check = time.perf_counter()
    all_lines = backlog + live["lines"] + [ln for lines, _, _ in drains for ln in lines]
    got_rows = {r["filter_id"]: r["count"]
                for r in engine.results().groupBy("filter_id").count().collect()}
    got_stats = {}
    for r in engine.stats().groupBy("filter_id", "metric").sum("cnt").collect():
        got_stats[(r["filter_id"], r["metric"])] = r["sum(cnt)"]
    from cloudpelican_lsd_spark.functions.parse import ERROR_WORDS

    is_error = [any(w in ln.lower() for w in ERROR_WORDS) for ln in all_lines]
    for name, rx in filters:
        attempted += 1
        search = re.compile(rx).search
        hits = [i for i, ln in enumerate(all_lines) if search(ln)]
        errs = sum(is_error[i] for i in hits)
        fid = fids[name]
        got = (got_rows.get(fid, 0), got_stats.get((fid, 1), 0), got_stats.get((fid, 2), 0))
        if got != (len(hits), len(hits), errs):
            errors.append(f"filter {name} {rx!r}: results/stats/errors {got}, "
                          f"recount {(len(hits), len(hits), errs)}")
    ctx.log(f"  checks {time.perf_counter() - t_check:.2f} s")

    base = engine.base_dir
    layer = dict(live["layer"])
    layer.update(
        data_prep_s=median(preps),
        # the first set-up's cold start of the stream path
        warmup_s=setups[0] - median(setups),
        catchup_batch_rows=median([p["numInputRows"] for p in drain]),
        catchup_addbatch_ms=median([p["durationMs"].get("addBatch", 0) for p in drain]),
        results_files=float(sum(
            1 for _, _, fs in os.walk(engine.results_path)
            for f in fs if f.endswith(".parquet"))),
        state_mb=sum(os.path.getsize(os.path.join(d, f))
                     for d, _, fs in os.walk(base) for f in fs) / 2**20,
    )
    diag = dict(live["diag"])
    diag["drain_lines_per_s"] = median([CATCHUP_LINES / s for _, s, _ in drains])
    diag["live_rows_per_s"] = live["rows_per_s"]
    return {
        "e2e": {
            "setup_s": median(setups),
            # the `tail` command's response time; the tail lag itself is
            # a per-layer figure (see README: it spreads too widely between
            # runs to gate)
            "latency_ms": layer["tail_read_ms"],
            "throughput_per_s": diag["drain_lines_per_s"],
        },
        "attempted": attempted,
        "failed": len(errors),
        "correct": not errors,
        "errors": errors,
        "timed_ops": live["timed_ops"],
        "layer": layer,
        "diag": diag,
        "sink_paths": {
            "results": engine.results_path,
            "stats": engine.stats_path,
            "classifier": os.path.join(base, "nb_state"),
        },
    }


def _wrap_sinks(engine, tracer, phase: dict) -> None:
    """In the traced run, label each micro-batch's jobs with the current
    `phase["name"]` and time the batch hook from the benchmark's side.
    The split between the three sinks comes from the event log."""
    if not tracer.enabled:
        return
    process_batch = engine.process_batch

    def traced_batch(batch_df, epoch_id):
        op = f"{phase['name']}-batch{int(epoch_id)}"
        tracer.describe(op)
        with tracer.span(op, "sink"):
            process_batch(batch_df, epoch_id)

    engine.process_batch = traced_batch


def _live(ctx, engine, src: str, watched_id: str, watched_rx: str) -> dict:
    from cloudpelican_lsd_spark.streaming.pipeline import file_source

    tracer = ctx.tracer
    t_begin = time.perf_counter()
    q = engine.start(file_source(ctx.spark, src))
    t_wait = time.monotonic() + 60
    while q.lastProgress is None and time.monotonic() < t_wait:
        time.sleep(0.05)
    n_before = len(q.recentProgress)

    rng = random.Random(ctx.seed * 2654435761 % 2**32)
    per_tick = int(RATE * TICK_S)
    files = []  # (first seq, lines, due perf_counter, created epoch ms)
    late_ms = []
    lines: list[str] = []
    stop = threading.Event()
    drained = threading.Event()
    polls = {"tail": [], "stats": []}  # (end_perf, value, ms)
    poll_errors: list[str] = []

    t_start = time.perf_counter()
    wall_start = time.time()
    n_ticks = int(round(ctx.seconds / TICK_S))

    def generate():
        seq = SETUP_LINES
        for k in range(n_ticks):
            due = t_start + k * TICK_S
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            created_ms = int((wall_start + k * TICK_S) * 1000)
            batch = [gen.stream_line(rng, seq + i, created_ms / 1000.0) for i in range(per_tick)]
            _write(os.path.join(src, f"live{k:06d}.log"), batch)
            late_ms.append((time.perf_counter() - due) * 1000.0)
            files.append((seq, batch, due, created_ms))
            lines.extend(batch)
            seq += per_tick

    def poll(kind: str, every: float, read):
        # fixed slots; a slot that passed while a read ran is skipped, as a
        # client that sleeps between reads would
        j = 0
        while True:
            j = max(j, math.ceil((time.perf_counter() - t_start) / every))
            delay = t_start + j * every - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            if stop.is_set():
                return
            last = drained.is_set()
            tracer.describe(f"{kind}-poll")
            t0 = time.perf_counter()
            try:
                value = read()
            except Exception as ex:  # noqa: BLE001 - a failed poll is a failed op
                poll_errors.append(f"{kind} poll: {type(ex).__name__}: {ex}")
                value = None
            t1 = time.perf_counter()
            polls[kind].append((t1, value, (t1 - t0) * 1000.0))
            j += 1
            if last:
                return  # one poll after the engine caught up

    def read_tail():
        # the newest row is the last one `tail` prints; its event second is
        # how new the tail is
        rows = engine.tail(watched_id, 100).collect()
        return rows[-1]["ts_epoch"] if rows else -1

    def read_stats():
        return {r["bucket"]: r["cnt"] for r in engine.stats(watched_id).collect()
                if r["metric"] == 1}

    threads = [
        threading.Thread(target=generate, name="generator"),
        threading.Thread(target=poll, args=("tail", TAIL_POLL_S, read_tail), name="tail"),
        threading.Thread(target=poll, args=("stats", STATS_POLL_S, read_stats), name="stats"),
    ]
    for t in threads:
        t.start()
    threads[0].join()
    ingested_at_end = sum(p.numInputRows for p in q.recentProgress[n_before:])
    backlog_end = len(lines) - ingested_at_end
    q.processAllAvailable()
    drained.set()
    for t in threads[1:]:
        t.join(timeout=60)
    stop.set()
    progress = [json.loads(p.json) for p in q.recentProgress[n_before:]]
    q.stop()
    ctx.log(f"  live: start {t_start - t_begin:.2f} s, window {ctx.seconds:.0f} s, "
            f"catching up after it {time.perf_counter() - t_start - ctx.seconds:.2f} s")

    # lags, per watched line, from its creation (due) time
    pat = re.compile(watched_rx)
    tail_polls = [(t, v) for t, v, _ in polls["tail"] if v is not None]
    stats_polls = [(t, v) for t, v, _ in polls["stats"] if v is not None]
    tail_lag, stats_lag, unseen = [], [], 0
    rank_in_bucket: dict[int, int] = {}
    for first, batch, due, created_ms in files:
        bucket = (created_ms // 1000) // 60 * 60
        for i, line in enumerate(batch):
            if not pat.search(line):
                continue
            rank_in_bucket[bucket] = rank_in_bucket.get(bucket, 0) + 1
            rank = rank_in_bucket[bucket]
            t_seen = next((t for t, v in tail_polls if v >= created_ms // 1000), None)
            s_seen = next((t for t, v in stats_polls if v.get(bucket, 0) >= rank), None)
            if t_seen is None or s_seen is None:
                unseen += 1
                continue
            tail_lag.append((t_seen - due) * 1000.0)
            stats_lag.append((s_seen - due) * 1000.0)

    batches = [p for p in progress if p["numInputRows"] > 0]
    for p in progress:
        ctx.log(f"    batch {p['batchId']} rows={p['numInputRows']} "
                f"{ {k: v for k, v in p['durationMs'].items() if v} }")
    dur = lambda k: [p["durationMs"].get(k, 0) for p in batches]  # noqa: E731
    rows_per_s = (sum(p["numInputRows"] for p in batches)
                  / max(1e-9, sum(dur("triggerExecution")) / 1000.0))
    max_batch = max((p["numInputRows"] for p in batches), default=0)

    errors = list(poll_errors)
    if unseen:
        errors.append(f"{unseen} watched lines never became visible")
    gen_late = max(late_ms, default=0.0)
    if gen_late > MAX_LATE_MS:
        errors.append(f"generator fell {gen_late:.0f} ms behind its schedule "
                      f"(limit {MAX_LATE_MS:.0f} ms)")
    # steady state holds about one batch in flight plus one filling; more
    # than three batches' worth at the end of the window means it grew
    if backlog_end > 3 * max(max_batch, per_tick):
        errors.append(f"backlog grew to {backlog_end} lines (largest batch {max_batch})")

    tail_ms = [ms for _, v, ms in polls["tail"] if v is not None]
    stats_ms = [ms for _, v, ms in polls["stats"] if v is not None]
    return {
        "lines": lines,
        "errors": errors,
        "attempted": len(polls["tail"]) + len(polls["stats"]) + 2,
        "rows_per_s": rows_per_s,
        "timed_ops": [f"live-batch{p['batchId']}" for p in batches],
        "layer": {
            "batch_trigger_ms": median(dur("triggerExecution")),
            "batch_addbatch_ms": median(dur("addBatch")),
            "batch_latestoffset_ms": median(dur("latestOffset")),
            "batch_planning_ms": median(dur("queryPlanning")),
            "batch_commit_ms": median(dur("commitOffsets")),
            "batch_rows": median([p["numInputRows"] for p in batches]),
            "batches": float(len(batches)),
            "tail_read_ms": median(tail_ms),
            "stats_read_ms": median(stats_ms),
            "backlog_lines": float(backlog_end),
            "gen_late_ms": gen_late,
        },
        "diag": {
            "tail_lag_p50_ms": median(tail_lag),
            "tail_lag_p90_ms": percentile(tail_lag, 90) if tail_lag else 0.0,
            "stats_lag_p50_ms": median(stats_lag),
            "watched_lines": float(len(tail_lag)),
            "live_batches": float(len(batches)),
            "backlog_end_lines": float(backlog_end),
            "gen_late_ms": gen_late,
            "batch_trigger_ms": median(dur("triggerExecution")),
        },
    }
