from __future__ import annotations

import os

from pyspark.sql import functions as F

from cloudpelican_lsd_spark.catalog import FilterCatalog
from cloudpelican_lsd_spark.operators.classifier import heuristic_label
from cloudpelican_lsd_spark.operators.fanout import match_filters_compiled
from cloudpelican_lsd_spark.streaming import pipeline as sp
from cloudpelican_lsd_spark.streaming.stateful import (
    MEMORY_CAPACITY,
    _learn,
    streaming_classifier,
)


def test_forget_queue_bounds_memory():
    model = {"queue": [], "cat": {}, "feat": {}}
    for i in range(MEMORY_CAPACITY + 50):
        _learn(model, "error" if i % 2 == 0 else "regular", [f"tok{i}", "common"])
    assert len(model["queue"]) == MEMORY_CAPACITY
    assert model["cat"]["error"] + model["cat"]["regular"] == MEMORY_CAPACITY
    # the first 50 samples' unique tokens were forgotten
    assert "error\x00tok0" not in model["feat"]
    assert model["feat"]["error\x00common"] + model["feat"]["regular\x00common"] == MEMORY_CAPACITY


def test_streaming_classifier_accumulates_state(spark, tmp_path):
    src = str(tmp_path / "in")
    os.makedirs(src)
    # two files -> two micro-batches (maxFilesPerTrigger=1)
    with open(os.path.join(src, "a.txt"), "w") as f:
        f.write("2024-02-01T10:00:00.000+00:00 app error failed hard\n" * 3)
    with open(os.path.join(src, "b.txt"), "w") as f:
        f.write("2024-02-01T10:01:00.000+00:00 app all good served\n" * 2)

    cat = FilterCatalog()
    cat.create("all_app", "app")
    stream = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", "1")
        .load(src)
        .withColumnRenamed("value", "_raw")
    )
    labeled = match_filters_compiled(
        sp.parse_stream(stream), cat.list(include_temp=True)
    ).withColumn("label", heuristic_label(F.col("_raw")))

    out = streaming_classifier(labeled)
    q = (
        out.writeStream.format("memory")
        .queryName("clf_state")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = spark.sql(
        "SELECT * FROM clf_state ORDER BY samples_in_memory"
    ).collect()
    # one snapshot per micro-batch; the final one saw all 5 samples
    assert len(rows) >= 2
    final = rows[-1]
    assert final.samples_in_memory == 5
    assert final.err_samples == 3
    assert final.reg_samples == 2
    assert final.vocab_size > 0


def test_timed_out_state_is_evicted():
    """The hasTimedOut branch removes state and emits nothing (the
    reference's 10-min idle eviction)."""
    import pandas as pd

    from cloudpelican_lsd_spark.streaming.stateful import classifier_state_fn

    class FakeState:
        hasTimedOut = True
        exists = True
        removed = False

        def remove(self):
            self.removed = True

    st = FakeState()
    out = list(classifier_state_fn(("f-1",), iter([pd.DataFrame()]), st))
    assert st.removed
    assert len(out) == 1 and out[0].empty
