"""Lineage-truncation tier: every truncation in the engine goes through
``checkpoint.materialize``, which takes the reliable ``checkpoint()``
tier when the session has a checkpoint directory and ``localCheckpoint``
otherwise.  The tier changes WHERE the materialized bytes live, never
WHAT they are.

A SparkContext's checkpoint directory cannot be unset, so the
reliable-tier cases run in a child process with its own session: set on
the shared test session, the directory would silently switch every later
test in the run to the reliable tier."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pytest

from cloudpelican_lsd_spark.checkpoint import materialize
from cloudpelican_lsd_spark.sources.tables import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the reliable-tier run: materialize the documents and run connected
#: components (whose rounds call materialize every iteration — the
#: hottest truncation path) under a configured checkpoint dir; then, in a
#: second dir, five materialize calls whose frames are each dropped and
#: garbage-collected on both sides of py4j, polling until the dir holds
#: no more than one live frame's files (or the timeout passes)
_RELIABLE_CHILD = """
import gc, os, pickle, sys, time
from cloudpelican_lsd_spark.checkpoint import materialize
from cloudpelican_lsd_spark.operators import dedup as D
from cloudpelican_lsd_spark.session import get_spark
from cloudpelican_lsd_spark.sources.tables import load_table

sf_dir, ckpt, probe, out = sys.argv[1:5]
spark = get_spark("checkpoint-tier-reliable", cpus=2)
spark.sparkContext.setCheckpointDir(ckpt)
docs = load_table(spark, "documents", sf_dir)
pairs = D.lsh_candidate_pairs(docs, num_hashes=12, rows_per_band=3, n=3)
held = materialize(docs)  # referenced until listed: the cleaner may not race
res = {"rows": sorted(map(tuple, held.collect()))}
res["files"] = [f for _dp, _dn, fn in os.walk(ckpt) for f in fn]
del held
res["cc"] = sorted(map(tuple, D.connected_components(pairs).collect()))

def n_files():
    return sum(len(fn) for _dp, _dn, fn in os.walk(probe))

def collect_garbage():
    gc.collect()
    spark.sparkContext._jvm.System.gc()

spark.sparkContext.setCheckpointDir(probe)
for i in range(5):
    frame = materialize(spark.range(1000))
    res.setdefault("one_frame", n_files())
    del frame
    collect_garbage()
deadline = time.monotonic() + 120
while n_files() > res["one_frame"] and time.monotonic() < deadline:
    time.sleep(0.5)
    collect_garbage()
res["left"] = n_files()
with open(out, "wb") as fh:
    pickle.dump(res, fh)
spark.stop()
"""


@pytest.fixture(scope="module")
def reliable_run(tmp_path_factory, sf_dir):
    """Run the reliable tier once in a child session; returns what it
    collected, the files its checkpoint dir held after the first
    materialize, and the cleaner probe's file counts."""
    tmp = tmp_path_factory.mktemp("reliable_tier")
    ckpt, probe, out = str(tmp / "ckpt"), str(tmp / "probe"), str(tmp / "out.pkl")
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", _RELIABLE_CHILD, sf_dir, ckpt, probe, out],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    with open(out, "rb") as fh:
        return pickle.load(fh)


def test_materialize_local_default(spark, sf_dir):
    """No checkpoint dir on the session: localCheckpoint, the plan leaf is
    an ExistingRDD, rows unchanged."""
    assert spark.sparkContext.getCheckpointDir() is None
    docs = load_table(spark, "documents", sf_dir).select("doc_id")
    out = materialize(docs)
    assert sorted(r.doc_id for r in out.collect()) == sorted(
        r.doc_id for r in docs.collect()
    )
    assert "ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()


def test_materialize_reliable_identical(spark, sf_dir, reliable_run):
    """Checkpoint dir set: rows byte-identical to the lazy plan, and the
    checkpoint dir actually holds the materialized RDD files."""
    docs = load_table(spark, "documents", sf_dir)
    assert reliable_run["rows"] == sorted(map(tuple, docs.collect()))
    assert reliable_run["files"], "reliable tier wrote nothing to the checkpoint dir"


def test_reliable_tier_through_an_operator(spark, sf_dir, reliable_run):
    """End-to-end through a checkpointing operator: connected-components
    clusters are identical under both tiers."""
    from cloudpelican_lsd_spark.operators import dedup as D

    assert spark.sparkContext.getCheckpointDir() is None  # local tier here
    docs = load_table(spark, "documents", sf_dir)
    pairs = D.lsh_candidate_pairs(docs, num_hashes=12, rows_per_band=3, n=3)
    local = sorted(map(tuple, D.connected_components(pairs).collect()))
    assert reliable_run["cc"] == local


def test_reliable_checkpoints_are_cleaned(reliable_run):
    """A reliable checkpoint's files go once its frame is garbage: after
    five materialize calls with every frame dropped, the dir falls back to
    at most what one live frame held (without the cleaner it keeps all
    five frames' files)."""
    assert reliable_run["one_frame"] > 0
    assert reliable_run["left"] <= reliable_run["one_frame"]
