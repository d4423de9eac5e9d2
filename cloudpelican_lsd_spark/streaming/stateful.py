"""Exact-state streaming classifier — per-filter online naive Bayes with
the reference's bounded learning memory.

Reference semantics (storm .../classifier/Classifier.java): every learned
sample enters a memory queue capped at ``memoryCapacity = 1000``
(Classifier.java:32); when the queue overflows, the oldest sample is
forgotten — its category count and per-token feature counts are
decremented.  ErrorClassifierBolt keys one classifier per filter
(ErrorClassifierBolt.java:57-63) and labels training samples with the
keyword heuristic (:71-89).

Divergence (documented): the reference samples training input (all of the
first 10k, then 1-in-25 *random*, ErrorClassifierBolt.java:68) — random
sampling is non-reproducible, so this operator trains on every row.

Spark shape: ``applyInPandasWithState`` keyed by ``filter_id``.  State is
the (queue, feature-count, category-count) triple serialized as JSON —
bounded by construction (≤1000 samples), so state size is O(vocabulary of
1000 lines) per filter regardless of stream volume.  Arrow moves each
micro-batch's rows per filter into one pandas frame; the Python loop runs
over at most the batch rows, not history.
"""

from __future__ import annotations

import json
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

MEMORY_CAPACITY = 1000  # Classifier.java:32

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("filter_id", T.StringType(), False),
        T.StructField("samples_in_memory", T.LongType(), False),
        T.StructField("err_samples", T.LongType(), False),
        T.StructField("reg_samples", T.LongType(), False),
        T.StructField("vocab_size", T.LongType(), False),
    ]
)

STATE_SCHEMA = T.StructType([T.StructField("model_json", T.StringType(), True)])


def _learn(model: dict, label: str, tokens: list[str]) -> None:
    """learn + forget-oldest (Classifier.java learn/forget paths)."""
    model["queue"].append([label, tokens])
    model["cat"][label] = model["cat"].get(label, 0) + 1
    fc = model["feat"]
    for t in tokens:
        key = f"{label}\x00{t}"
        fc[key] = fc.get(key, 0) + 1
    if len(model["queue"]) > MEMORY_CAPACITY:
        old_label, old_tokens = model["queue"].pop(0)
        model["cat"][old_label] -= 1
        for t in old_tokens:
            key = f"{old_label}\x00{t}"
            fc[key] -= 1
            if fc[key] <= 0:
                del fc[key]


#: staleness eviction horizon — the reference drops per-filter state 10
#: minutes after its last data (OutlierDetectionBolt.java:100-111)
STATE_TTL_MS = 600_000


def _arm_ttl(state: GroupState) -> None:
    """Arm the idle-eviction timer iff the query runs with a
    processing-time timeout (no-op under NoTimeout)."""
    try:
        state.setTimeoutDuration(STATE_TTL_MS)
    except Exception:
        pass


def classifier_state_fn(
    key: tuple,
    pdf_iter: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        yield pd.DataFrame(columns=[f.name for f in OUTPUT_SCHEMA])
        return
    if state.exists:
        model = json.loads(state.get[0])
    else:
        model = {"queue": [], "cat": {}, "feat": {}}
    for pdf in pdf_iter:
        for _raw, label in zip(pdf["_raw"], pdf["label"]):
            _learn(model, str(label), str(_raw).split())
    state.update((json.dumps(model),))
    _arm_ttl(state)
    vocab = {k.split("\x00", 1)[1] for k in model["feat"]}
    yield pd.DataFrame(
        [
            {
                "filter_id": key[0],
                "samples_in_memory": len(model["queue"]),
                "err_samples": model["cat"].get("error", 0),
                "reg_samples": model["cat"].get("regular", 0),
                "vocab_size": len(vocab),
            }
        ]
    )


def streaming_classifier(
    labeled_matched: DataFrame, evict_stale: bool = False
) -> DataFrame:
    """`(filter_id, samples_in_memory, err_samples, reg_samples,
    vocab_size)` updated per micro-batch.

    Input: a *streaming* DataFrame with `filter_id`, `_raw`, `label`
    columns (fan-out output + heuristic label).

    `evict_stale=True` enables the reference's 10-min idle-state eviction
    (OutlierDetectionBolt.java:100-111) via a processing-time timeout —
    for continuously-running queries; availableNow/batch-drain runs stay
    alive until pending timeouts fire, so it defaults off."""
    return labeled_matched.groupBy("filter_id").applyInPandasWithState(
        classifier_state_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout
        if evict_stale
        else GroupStateTimeout.NoTimeout,
    )
