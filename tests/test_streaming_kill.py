"""Kill-point harness for the stream's sinks: exactly-once when the
driver is *killed*, not when `process_batch` is called twice.

A child process runs `StreamingEngine` on a file source, one file per
micro-batch.  The test SIGKILLs the child's process group (the Python
driver and its JVM) from outside as soon as the on-disk state shows the
named point: the results of epoch N are written and its stats are not.
Nothing in the engine is hooked.  A second child restarts the query from
the checkpoint, which redelivers epoch N; the results (`row_id`
included), stats and classifier tables must then equal an uninterrupted
run's."""

from __future__ import annotations

import glob
import os
import random
import signal
import subprocess
import sys
import time

import pytest

from cloudpelican_lsd_spark.catalog import FilterCatalog
from cloudpelican_lsd_spark.streaming import pipeline as sp

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: (id, name, regex): fixed ids, so both runs write the same partitions
FILTERS = [
    ("f-err", "errors", "error"),
    ("f-warn", "warns", "warn|timeout"),
    ("f-all", "all", "app"),
]
N_FILES = 3
#: the epoch the kill lands in: epoch 0 is committed by then
KILL_EPOCH = 1

_CHILD = """
import sys
from cloudpelican_lsd_spark.catalog import FilterCatalog
from cloudpelican_lsd_spark.session import get_spark
from cloudpelican_lsd_spark.streaming.pipeline import StreamingEngine

src, base, filters = sys.argv[1], sys.argv[2], sys.argv[3:]
spark = get_spark("kill-point", cpus=2)
cat = FilterCatalog()
for fid, name, rx in zip(filters[::3], filters[1::3], filters[2::3]):
    cat.create(name, rx).id = fid
eng = StreamingEngine(spark, cat, base)
source = (
    spark.readStream.format("text").option("maxFilesPerTrigger", 1)
    .load(src).withColumnRenamed("value", "_raw")
)
eng.start(source, trigger={"availableNow": True}).awaitTermination()
spark.stop()
"""


def _source(spark, src: str):
    """The child's source: one file per micro-batch."""
    return (
        spark.readStream.format("text").option("maxFilesPerTrigger", 1)
        .load(src).withColumnRenamed("value", "_raw")
    )


def _write_source(src: str, seed: int) -> None:
    """`N_FILES` files of seeded lines, modification times 1000 s apart
    so the source takes them in the same order in every run."""
    rng = random.Random(seed)
    words = ["error failed", "warn slow", "timeout", "ok served", "ok"]
    os.makedirs(src)
    for k in range(N_FILES):
        lines = [
            f"2024-02-01T1{k}:{rng.randrange(60):02d}:{rng.randrange(60):02d}.000"
            f"+00:00 host{rng.randrange(4)} app: {rng.choice(words)} n={i}"
            for i in range(300)
        ]
        path = os.path.join(src, f"part-{k}.txt")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (1_700_000_000 + 1000 * k,) * 2)


def _child(src: str, base: str, log: str) -> subprocess.Popen:
    """The child in its own process group, its output in `log`."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    args = [a for f in FILTERS for a in f]
    with open(log, "w") as out:
        return subprocess.Popen(
            [sys.executable, "-c", _CHILD, src, base, *args],
            cwd=REPO, env=env, start_new_session=True,
            stdout=out, stderr=subprocess.STDOUT,
        )


def _at_kill_point(base: str) -> bool:
    results = glob.glob(
        os.path.join(base, "results", "filter_id=*", f"epoch={KILL_EPOCH}")
    )
    return bool(results) and not os.path.isdir(
        os.path.join(base, "stats", f"epoch={KILL_EPOCH}")
    )


def _kill_at_point(src: str, base: str) -> bool:
    """Run a child and SIGKILL its process group once `base` shows the
    kill point; True when the dead child left the table state of that
    point (a kill that lands after the stats write, or a child that
    finished first, is a miss)."""
    proc = _child(src, base, base + ".log")
    deadline = time.monotonic() + 300
    try:
        while proc.poll() is None and time.monotonic() < deadline:
            if _at_kill_point(base):
                os.killpg(proc.pid, signal.SIGKILL)
                break
            time.sleep(0.001)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    time.sleep(1)  # the JVM dies with its group; let its last exit land
    return proc.returncode == -signal.SIGKILL and _at_kill_point(base)


def _tables(spark, base: str) -> dict:
    cat = FilterCatalog()
    eng = sp.StreamingEngine(spark, cat, base)
    return {
        "results": sorted(map(tuple, eng.results().collect())),
        "stats": sorted(map(tuple, eng.stats_table.read().collect())),
        "nb_state": sorted(map(tuple, eng.nb_table.read().collect())),
    }


@pytest.mark.parametrize("seed", [1, 2])
def test_kill_between_results_and_stats_write(spark, tmp_path, seed):
    """SIGKILL between the results write and the stats write of epoch 1,
    restart from the checkpoint: every table equals an uninterrupted
    run's, row for row."""
    src = str(tmp_path / "src")
    _write_source(src, seed)

    # the uninterrupted run, in this session
    cat = FilterCatalog()
    for fid, name, rx in FILTERS:
        cat.create(name, rx).id = fid
    ref_base = str(tmp_path / "ref")
    ref = sp.StreamingEngine(spark, cat, ref_base)
    ref.start(_source(spark, src), trigger={"availableNow": True}).awaitTermination()
    want = _tables(spark, ref_base)
    assert len({r[4] >> 40 for r in want["results"]}) == N_FILES  # one epoch per file

    landed = False
    for attempt in range(3):
        base = str(tmp_path / f"killed{attempt}")
        if _kill_at_point(src, base):
            landed = True
            break
    assert landed, "no kill landed between the results and stats writes"

    restart = _child(src, base, base + ".restart.log")
    if restart.wait(timeout=600) != 0:
        with open(base + ".restart.log") as fh:
            pytest.fail(fh.read()[-4000:])
    got = _tables(spark, base)
    for table in want:
        assert got[table] == want[table], table
