"""Tracing for the benchmark's traced run: spans around calls into the
engine, a py4j round-trip counter, and the Spark event-log parser that
turns one run's log into the per-layer table.

Nothing here touches engine code.  Spans are taken in the benchmark's own
files around public calls; Spark attributes each job to an operation
through `SparkContext.setJobDescription("<workload>/<op>")`, which the
event log carries on every `SparkListenerJobStart`.
"""

from __future__ import annotations

import json
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

#: RDD scope names of the physical operators that run Python workers
PYTHON_SCOPE_RE = re.compile(r"Pandas|Python|Arrow")
#: the write node's detail section in a formatted physical plan
_WRITE_PATH_RE = re.compile(
    r"\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: (?:file:)?([^,\s]+)"
)
_SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
_SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"


class Tracer:
    """Spans and py4j counts for one process.

    Disabled (the untraced run), it labels no jobs, counts nothing and
    records no spans, so timing pays one attribute check per span."""

    def __init__(self, enabled: bool, workload: str) -> None:
        self.enabled = enabled
        self.workload = workload
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._sc = None
        self._unpatch = None

    def attach(self, spark) -> None:
        """Start counting py4j round trips on every thread."""
        self._sc = spark.sparkContext
        if not self.enabled or self._unpatch is not None:
            return
        from py4j.java_gateway import GatewayClient

        original = GatewayClient.send_command
        local = self._local

        def counting(client, *args, **kwargs):
            local.py4j = getattr(local, "py4j", 0) + 1
            return original(client, *args, **kwargs)

        GatewayClient.send_command = counting

        def unpatch():
            GatewayClient.send_command = original

        self._unpatch = unpatch

    def close(self) -> None:
        if self._unpatch is not None:
            self._unpatch()
            self._unpatch = None

    def describe(self, op: str) -> None:
        """Label the Spark jobs this thread starts next."""
        if self.enabled and self._sc is not None:
            self._sc.setJobDescription(f"{self.workload}/{op}")

    @contextmanager
    def span(self, op: str, layer: str):
        """Time a call into one layer; in traced mode also count the py4j
        round trips this thread made inside it.  Spans of one thread may
        not nest: the inner span's round trips would count twice."""
        if not self.enabled:
            yield
            return
        if getattr(self._local, "open", False):
            raise RuntimeError(f"span {op}/{layer} opened inside another span")
        self._local.open = True
        before = getattr(self._local, "py4j", 0)
        t0 = time.perf_counter()
        start_ms = time.time() * 1000.0
        try:
            yield
        finally:
            self._local.open = False
            rec = {
                "op": op,
                "layer": layer,
                "start_ms": start_ms,
                "ms": (time.perf_counter() - t0) * 1000.0,
                "py4j": getattr(self._local, "py4j", 0) - before,
            }
            with self._lock:
                self.spans.append(rec)


# -- event log ---------------------------------------------------------------


def parse_event_log(path: str) -> dict:
    """Read an uncompressed, non-rolling Spark event log into jobs, stages,
    tasks and SQL executions.  Unknown events are skipped."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    sql: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            e = json.loads(line)
            ev = e.get("Event")
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                exec_id = props.get("spark.sql.execution.id")
                jobs[jid] = {
                    "desc": props.get("spark.job.description") or "",
                    "start": e["Submission Time"],
                    "end": None,
                    "sql": int(exec_id) if exec_id not in (None, "") else None,
                    "stages": list(e.get("Stage IDs", [])),
                }
                for sid in e.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif ev == "SparkListenerJobEnd":
                if e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                scopes = [r.get("Scope", "") for r in si.get("RDD Info", [])]
                st = stages.setdefault(si["Stage ID"], _new_stage())
                st["python"] = any(PYTHON_SCOPE_RE.search(s) for s in scopes)
                st["completed"] = True
            elif ev == "SparkListenerTaskEnd":
                st = stages.setdefault(e["Stage ID"], _new_stage())
                tm = e.get("Task Metrics") or {}
                info = e.get("Task Info") or {}
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                st["tasks"] += 1
                st["task_ms"].append(
                    (info.get("Finish Time") or 0) - (info.get("Launch Time") or 0)
                )
                st["run_ms"] += tm.get("Executor Run Time", 0)
                st["cpu_ns"] += tm.get("Executor CPU Time", 0)
                st["gc_ms"] += tm.get("JVM GC Time", 0)
                st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                st["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                st["spill"] += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0
                )
            elif ev == _SQL_START:
                m = _WRITE_PATH_RE.search(e.get("physicalPlanDescription") or "")
                sql[e["executionId"]] = {
                    "desc": e.get("description") or "",
                    "start": e["time"],
                    "end": None,
                    "write_path": m.group(1).rstrip("/") if m else None,
                }
            elif ev == _SQL_END:
                if e["executionId"] in sql:
                    sql[e["executionId"]]["end"] = e["time"]
    for sid, st in stages.items():
        st["job"] = stage_job.get(sid)
    return {"jobs": jobs, "stages": stages, "sql": sql}


def _new_stage() -> dict:
    return {
        "tasks": 0, "task_ms": [], "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
        "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "python": False,
        "completed": False, "job": None,
    }


def _op_of(desc: str, workload: str) -> str | None:
    prefix = workload + "/"
    return desc[len(prefix):] if desc.startswith(prefix) else None


def op_rows(log: dict, workload: str, spans: list[dict]) -> dict[str, dict]:
    """One per-layer row per operation label: the spans the benchmark took
    plus the Spark work the event log attributes to that label."""
    rows: dict[str, dict] = defaultdict(_new_row)
    for s in spans:
        r = rows[s["op"]]
        r[s["layer"] + "_ms"] += s["ms"]
        r[s["layer"] + "_calls"] += 1
        r["py4j_calls"] += s["py4j"]
    first_job: dict[int, int] = {}
    for jid, j in log["jobs"].items():
        op = _op_of(j["desc"], workload)
        if op is None:
            continue
        r = rows[op]
        r["jobs"] += 1
        if j["sql"] is not None:
            first_job[j["sql"]] = min(first_job.get(j["sql"], j["start"]), j["start"])
        for sid in j["stages"]:
            st = log["stages"].get(sid)
            if st is None or not st["tasks"]:
                continue  # skipped stage (its shuffle output was reused)
            r["stages"] += 1
            r["tasks"] += st["tasks"]
            r["executor_run_s"] += st["run_ms"] / 1000.0
            r["executor_cpu_s"] += st["cpu_ns"] / 1e9
            r["jvm_gc_s"] += st["gc_ms"] / 1000.0
            r["shuffle_read_mb"] += st["shuffle_read"] / 2**20
            r["shuffle_write_mb"] += st["shuffle_write"] / 2**20
            r["spill_mb"] += st["spill"] / 2**20
            if st["python"]:
                r["python_stage_s"] += st["run_ms"] / 1000.0
            if len(st["task_ms"]) > 1:
                med = statistics.median(st["task_ms"]) or 1
                r["task_skew"] = max(r["task_skew"], max(st["task_ms"]) / med)
    for eid, x in log["sql"].items():
        op = _op_of(x["desc"], workload)
        if op is None:
            continue
        r = rows[op]
        r["sql_executions"] += 1
        if eid in first_job:
            r["plan_ms"] += max(0, first_job[eid] - x["start"])
        if x["write_path"] and x["end"] is not None:
            r["writes"].append((x["write_path"], x["end"] - x["start"]))
    return dict(rows)


def _new_row() -> dict:
    row = defaultdict(float)
    row["writes"] = []
    return row


def write_ms_by_path(rows: dict[str, dict], paths: dict[str, str]) -> dict[str, list[float]]:
    """Per-write durations grouped by the sink whose directory was written
    (`paths` maps sink name -> output directory)."""
    out: dict[str, list[float]] = {k: [] for k in paths}
    for r in rows.values():
        for path, ms in r["writes"]:
            for name, root in paths.items():
                if path.rstrip("/").endswith(root.rstrip("/")):
                    out[name].append(float(ms))
    return out


def mean_per_op(rows: dict[str, dict], keys: list[str], ops: list[str]) -> dict[str, float]:
    """Average of each key over the operations named (one op = one timed
    query or micro-batch)."""
    picked = [rows[o] for o in ops if o in rows]
    n = max(1, len(picked))
    return {k: sum(r.get(k, 0.0) for r in picked) / n for k in keys}
