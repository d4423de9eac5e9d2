"""One benchmark run inside its own process (started by run.py).

Builds the engine's Spark session, runs one workload, checks its outputs,
and prints the result JSON as the last stdout line.  With `--trace 1` it
also reads the run's Spark event log and writes the per-layer table.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import resource
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracing import Tracer, mean_per_op, op_rows, parse_event_log, write_ms_by_path  # noqa: E402

#: end-to-end metrics, in BENCHMARK.json order
END_TO_END = {
    "setup_s": "s",
    "latency_ms": "ms",
    "throughput_per_s": "1/s",
}

#: per-layer metrics and their units, in BENCHMARK.json order
PER_LAYER = {
    # driver plan build and action, timed around engine/registry calls
    "build_ms": "ms", "py4j_calls": "count", "action_ms": "ms",
    # Catalyst (event log)
    "plan_ms": "ms", "sql_executions": "count",
    # Spark scheduling (event log)
    "jobs": "count", "stages": "count", "tasks": "count",
    # Spark execution (event log)
    "executor_run_s": "s", "executor_cpu_s": "s", "jvm_gc_s": "s",
    "shuffle_read_mb": "MB", "shuffle_write_mb": "MB", "spill_mb": "MB",
    "task_skew": "ratio",
    # Arrow/Python boundary (event log)
    "python_stage_s": "s",
    # streaming.pipeline (StreamingQueryProgress)
    "batch_trigger_ms": "ms", "batch_addbatch_ms": "ms",
    "batch_latestoffset_ms": "ms", "batch_planning_ms": "ms",
    "batch_commit_ms": "ms", "batch_rows": "count", "batches": "count",
    # streaming sinks, and the catch-up batch next to the live ones
    "sink_results_ms": "ms", "sink_stats_ms": "ms", "sink_classifier_ms": "ms",
    "catchup_batch_rows": "count", "catchup_addbatch_ms": "ms",
    # stream store and read path
    "tail_read_ms": "ms", "stats_read_ms": "ms", "results_files": "count",
    "state_mb": "MB", "backlog_lines": "count", "gen_late_ms": "ms",
    # session / sources set-up
    "session_start_s": "s", "data_prep_s": "s", "warmup_s": "s",
    "driver_rss_mb": "MB",
    # the workload's own figures, taken in the traced run
    "pass_s": "s",
    "tail_lag_p50_ms": "ms", "tail_lag_p90_ms": "ms", "stats_lag_p50_ms": "ms",
    "drain_lines_per_s": "1/s",
    "traced_setup_s": "s", "traced_latency_ms": "ms", "traced_throughput_per_s": "1/s",
}

#: event-log and span keys averaged per timed operation
_PER_OP_KEYS = [
    "build_ms", "action_ms", "py4j_calls", "plan_ms", "sql_executions", "jobs",
    "stages", "tasks", "executor_run_s", "executor_cpu_s", "jvm_gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "python_stage_s",
]


class Context:
    """What a workload gets: the session, its seed and time budget, a
    private work directory and the tracer."""

    def __init__(self, spark, args, tracer: Tracer) -> None:
        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = args.work
        self.workload = args.workload
        self.tracer = tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    @staticmethod
    def log(msg: str) -> None:
        print(msg, flush=True)


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sequence."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(round(q / 100.0 * len(s) + 0.5)) - 1))
    return float(s[k])


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def _workload(name: str):
    if name == "library":
        from library import run
    else:
        from stream_live import run
    return run


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-dir", required=True)
    args = ap.parse_args()
    run = _workload(args.workload)

    t0 = time.perf_counter()
    from cloudpelican_lsd_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - t0
    tracer = Tracer(bool(args.trace), args.workload)
    tracer.attach(spark)
    ctx = Context(spark, args, tracer)
    Context.log(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} "
                f"trace={args.trace} session_start_s={session_start_s:.3f}")
    out = run(ctx)
    out["layer"]["session_start_s"] = session_start_s
    out["layer"]["driver_rss_mb"] = rss_mb()
    for k, v in sorted(out["diag"].items()):
        Context.log(f"  {k} = {v:.6g}")
    Context.log(f"  attempted={out['attempted']} failed={out['failed']} "
                f"correct={out['correct']}")
    for msg in out.get("errors", [])[:20]:
        Context.log(f"  FAILED: {msg}")

    if args.trace:
        tracer.close()
        spark.stop()  # flushes the event log
        metrics = traced_metrics(args, out, tracer)
    else:
        metrics = {k: {"value": float(out["e2e"][k]), "unit": u}
                   for k, u in END_TO_END.items()}
        spark.stop()
    for k, m in metrics.items():
        Context.log(f"  {k} = {m['value']:.6g} {m['unit']}")
    print(json.dumps({
        "correct": bool(out["correct"]),
        "attempted": int(out["attempted"]),
        "failed": int(out["failed"]),
        "metrics": metrics,
    }), flush=True)
    return 0


def traced_metrics(args, out: dict, tracer: Tracer) -> dict:
    logs = glob.glob(os.path.join(args.work, "eventlog", "*"))
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    log = parse_event_log(logs[0])
    rows = op_rows(log, args.workload, tracer.spans)
    timed = out["timed_ops"]
    values = {k: 0.0 for k in PER_LAYER}
    values.update(mean_per_op(rows, _PER_OP_KEYS, timed))
    values["task_skew"] = max([rows[o]["task_skew"] for o in timed if o in rows] or [0.0])
    if out.get("sink_paths"):
        by_sink = write_ms_by_path({o: rows[o] for o in timed if o in rows},
                                   out["sink_paths"])
        for name, ms in by_sink.items():
            values[f"sink_{name}_ms"] = median(ms)
    values.update(out["layer"])
    values.update({k: v for k, v in out["diag"].items() if k in PER_LAYER})
    values["traced_setup_s"] = out["e2e"]["setup_s"]
    values["traced_latency_ms"] = out["e2e"]["latency_ms"]
    values["traced_throughput_per_s"] = out["e2e"]["throughput_per_s"]

    os.makedirs(args.trace_dir, exist_ok=True)
    table = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "workload_row": values,
        "op_rows": {
            op: {k: (v if k != "writes" else [[p, ms] for p, ms in v])
                 for k, v in r.items()}
            for op, r in sorted(rows.items())
        },
        "timed_ops": timed,
        "spans": tracer.spans,
    }
    dest = os.path.join(args.trace_dir, f"{args.workload}-seed{args.seed}.json")
    with open(dest, "w") as fh:
        json.dump(table, fh, indent=1, sort_keys=True)
    Context.log(f"  per-layer table: {dest}")
    return {k: {"value": float(values[k]), "unit": u} for k, u in PER_LAYER.items()}


if __name__ == "__main__":
    sys.exit(main())
