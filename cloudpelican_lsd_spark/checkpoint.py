"""Lineage-truncating materialization whose durability tier follows the
session's configuration.

Every plan-truncation point in the engine (CC round state, the clean
pipelines' widest fan-out, shared fingerprint sets) calls
:func:`materialize` instead of ``DataFrame.localCheckpoint`` directly, and
the tier is read from what the session can observe:

- no checkpoint directory configured (the default): ``localCheckpoint``
  — executor-local storage, the right choice for a single-node driver and
  for any deployment that accepts recompute-on-executor-loss (losing an
  executor forces recompute of the truncated subtree, never a wrong
  result);
- a checkpoint directory configured (``SparkContext.setCheckpointDir``;
  on a real cluster point it at HDFS/object storage): ``checkpoint`` —
  the materialized rows are written there, so executor loss no longer
  recomputes the gated corpus / pair set, at the cost of one extra
  write+read of the compact materialized rows.

There is no fallback directory: a deployment that wants durable
truncation says where the bytes live, and one that configures nothing
gets the local tier, never a node-local directory posing as durable
storage.  The tier changes WHERE the materialized bytes live, never WHAT
they are — pinned by ``tests/test_checkpoint_tier.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Truncate ``df``'s lineage: reliable ``checkpoint`` when the session
    has a checkpoint directory, ``localCheckpoint`` otherwise."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint(eager=eager)
    return df.checkpoint(eager=eager)
