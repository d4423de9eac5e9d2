"""Benchmark entry point.

    python3 perfbench/run.py --workload library --seed 1 --seconds 20 --trace 0

Run from the repository root.  Each run starts one worker process
(`perfbench/worker.py`) with its own Spark driver, so no workload shares
a JVM with another.  Everything the run writes stays under
`perfbench/.work/`; a run that produced its result removes its own
directory there, a failed one keeps `worker.log`.  The last line of stdout is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`; with `--trace 1` the
metrics are the per-layer ones and the per-operation table is written to
`perfbench/.work/trace/`.  The exit code is 0 only when a result was
produced.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("library", "stream-live")
#: whole-run limit, under the 180 s a run may take
RUN_TIMEOUT_S = 170.0
#: a JVM can hang on shutdown after the result is printed; wait this long
EXIT_GRACE_S = 15.0
#: per-run local[N] core count, fixed so runs on one host compare
CPUS = 4


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def worker_env(work: str, trace: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.pop("PYTHONSTARTUP", None)
    env.update(
        PYTHONPATH=ROOT,
        PYTHONHASHSEED="0",
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM="3g",
        SPARK_GRAFT_DRIVER_JAVA_OPTS=(
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData "
            # C1 only: C2 compiler threads would compete with the timed work
            # for the four cores through most of a one-minute run
            "-XX:TieredStopAtLevel=1"
        ),
        OMP_NUM_THREADS="1",
    )
    confs = [
        ("spark.sql.warehouse.dir", os.path.join(work, "warehouse")),
        ("spark.sql.streaming.numRecentProgressUpdates", "1000"),
    ]
    if trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        confs += [
            ("spark.eventLog.enabled", "true"),
            ("spark.eventLog.dir", "file:" + evdir),
            ("spark.eventLog.compress", "false"),
            ("spark.eventLog.rolling.enabled", "false"),
        ]
    env["PYSPARK_SUBMIT_ARGS"] = (
        " ".join(f"--conf {k}={v}" for k, v in confs) + " pyspark-shell"
    )
    return env


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "cloudpelican_lsd_spark")):
        print("perfbench: engine package cloudpelican_lsd_spark not found "
              f"next to {HERE}", file=sys.stderr)
        return 2
    base = os.path.join(HERE, ".work")
    work = os.path.join(
        base, f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    )
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--trace-dir", os.path.join(base, "trace"),
    ]
    result = None
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=work, env=worker_env(work, bool(args.trace)),
            stdout=subprocess.PIPE, stderr=log, text=True,
            start_new_session=True,
        )
        lines: list[str] = []

        def pump():
            for line in proc.stdout:
                lines.append(line)
                if not line.startswith("{"):
                    print(line, end="", flush=True)

        reader = threading.Thread(target=pump, daemon=True)
        reader.start()
        # a run stopped from outside still stops the worker's process group
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, _stop)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        try:
            while proc.poll() is None and time.monotonic() < deadline:
                if lines and lines[-1].startswith("{"):
                    # result printed: allow a clean exit, then stop the JVM
                    try:
                        proc.wait(timeout=EXIT_GRACE_S)
                    except subprocess.TimeoutExpired:
                        pass
                    break
                time.sleep(0.2)
        finally:
            for sig in (signal.SIGTERM, signal.SIGINT):
                signal.signal(sig, signal.SIG_IGN)
            _kill_group(proc)
        reader.join(timeout=5)
        for line in reversed(lines):
            if line.startswith("{"):
                result = json.loads(line)
                break
    if result is None:
        print(f"perfbench: {args.workload} produced no result; "
              f"see {os.path.relpath(log_path, ROOT)}", file=sys.stderr)
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(tail, file=sys.stderr)
        return 1
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def _stop(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def _kill_group(proc: subprocess.Popen) -> None:
    """Stop the worker and everything it started (JVM, Python workers)."""
    try:
        os.killpg(proc.pid, signal.SIGTERM)
    except ProcessLookupError:
        pass
    try:
        proc.wait(timeout=5)
    except subprocess.TimeoutExpired:
        pass
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    # the group may outlive its leader: wait until no member is left
    for _ in range(50):
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
