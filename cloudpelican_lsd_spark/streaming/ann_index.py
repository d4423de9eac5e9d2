"""Streaming ANN index maintenance — embeddings arrive as a stream and
the persisted IVF index stays current without corpus re-scans.

The embedding analogue of :class:`~cloudpelican_lsd_spark.streaming.
pipeline.NearDupSuppressor`'s band store: the index is BOOTSTRAPPED once
from a seed corpus (centroids + initial assignments,
`similarity.build_ivf_index`), then every micro-batch of new vectors is
assigned to the FIXED broadcast centroids and appended
EPOCH-IDEMPOTENTLY into the assignment table.  Retrieval at any point
runs the same incremental probe join the batch path uses
(`similarity.ivf_index_topk`) against the merged table.

Layout: ``<base>/assign/epoch=<N>/cent_id=<M>/``, an
:class:`~cloudpelican_lsd_spark.streaming.epoch_table.EpochTable`: a
replayed micro-batch (Spark's at-least-once redelivery between write and
checkpoint commit) replaces exactly its own epoch's files, the
exactly-once discipline of every streaming sink here; `cent_id` stays a
partition column, so dynamic partition pruning still restricts
retrieval scans to the probed cells.  Centroids are fixed between
retrains — the standard IVF maintenance trade; drift is audited by
`similarity.ivf_recall`, not silently absorbed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudpelican_lsd_spark.operators.similarity import (
    assign_to_centroids,
    ivf_index_topk,
    normalize_vectors,
)
from cloudpelican_lsd_spark.streaming.epoch_table import EpochTable


class StreamingIvfIndexer:
    """foreachBatch sink maintaining a cent_id-partitioned IVF index."""

    #: the epoch table's directory under base_dir, and its empty schema
    _TABLE = "assign"
    _EMPTY = "cent_id BIGINT, vec_id BIGINT, emb ARRAY<DOUBLE>, nrm DOUBLE"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        n_centroids: int = 8,
    ) -> None:
        self.spark = spark
        self.n_centroids = n_centroids
        self.cent_path = os.path.join(base_dir, "centroids")
        self.assign_path = os.path.join(base_dir, self._TABLE)
        self.assign_table = EpochTable(
            spark, self.assign_path, ["epoch", "cent_id"]
        )

    # -- build ---------------------------------------------------------------

    def bootstrap(self, corpus: DataFrame) -> None:
        """Train-time build from a seed corpus `(vec_id, embedding)`:
        centroids (deterministic, `similarity.build_ivf_index`) + the
        corpus assignments under the reserved bootstrap epoch -1."""
        from cloudpelican_lsd_spark.operators.similarity import (
            build_ivf_index,
        )

        cents, assign = build_ivf_index(corpus, self.n_centroids)
        cents.write.mode("overwrite").parquet(self.cent_path)
        (
            assign.withColumn("epoch", F.lit(-1))
            .write.partitionBy("epoch", "cent_id")
            .mode("overwrite")
            .parquet(self.assign_path)
        )

    def centroids(self) -> DataFrame:
        return self.spark.read.parquet(self.cent_path)

    # -- maintain ------------------------------------------------------------

    def compact(self) -> None:
        """Fold every appended epoch into the reserved bootstrap
        partition — streaming appends accumulate one directory tree per
        micro-batch (the small-files problem at scale; at one epoch per
        minute a day adds 1 440 trees × n_centroids cells), and
        compaction rewrites the merged table as one file set per cell
        (`EpochTable.fold`: crash-safe swap, refused beside an active
        stream, the highest folded epoch marked in the same rename).  A
        re-pointed stream (fresh checkpoint, epoch ids from 0) needs a
        fresh base_dir, like every epoch-idempotent sink here."""
        self.assign_table.fold(into=-1)

    def _rows(self, batch_df: DataFrame) -> DataFrame:
        """A micro-batch's `(vec_id, embedding)` rows as table rows:
        assigned to the fixed centroids."""
        return assign_to_centroids(normalize_vectors(batch_df), self.centroids())

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Append a micro-batch of new `(vec_id, embedding)` rows under
        its own epoch partition — whole-epoch-idempotent on redelivery; a
        redelivery of an epoch :meth:`compact` folded into the bootstrap
        partition is skipped (its rows are already there)."""
        epoch = int(epoch_id)
        if epoch < 0:
            raise ValueError(f"epoch {epoch} is reserved for the bootstrap rows")
        if epoch <= self.assign_table.folded_through():
            return
        self.assign_table.write(self._rows(batch_df), epoch)

    def attach(self, stream: DataFrame, checkpoint: str, trigger=None):
        """Wire onto a streaming `(vec_id, embedding)` DataFrame."""
        writer = stream.writeStream.foreachBatch(self.process_batch).option(
            "checkpointLocation", checkpoint
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    # -- read ----------------------------------------------------------------

    def assignments(self) -> DataFrame:
        """The merged table (bootstrap + every appended epoch)."""
        df = self.assign_table.read()
        if df is None:
            return self.spark.createDataFrame([], self._EMPTY)
        return df.drop("epoch")

    def topk(
        self, queries: DataFrame, nprobe: int = 2, k: int = 10
    ) -> DataFrame:
        """`(qid, cid, cos)` — incremental retrieval against everything
        indexed so far (same plan as the batch path: broadcast probes,
        cent_id partition pruning)."""
        return ivf_index_topk(
            queries, self.centroids(), self.assignments(), nprobe, k
        )


class StreamingIvfPqIndexer(StreamingIvfIndexer):
    """foreachBatch sink maintaining a cent_id-partitioned **IVF-PQ
    code table** — the streaming maintenance of the combined index
    (similarity.build_ivfpq_index): same epoch-idempotent sink
    discipline as the plain IVF indexer, but each appended row is an
    m-subspace residual CODE, so the maintained table stays ~dim·8/m×
    smaller than the raw-vector assignment store while retrieval keeps
    the pruned-scan + ADC-only query plan (similarity.ivfpq_index_topk).
    Centroids AND codebook are fixed between retrains; drift is audited
    by `similarity.ivfpq_recall`."""

    # epoch dirs hold codes, not raw assignments
    _TABLE = "codes"
    _EMPTY = "cent_id BIGINT, vec_id BIGINT, s INT, code BIGINT"

    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        n_centroids: int = 8,
        m: int = 8,
        n_codes: int = 16,
        dim: int = 64,
    ) -> None:
        super().__init__(spark, base_dir, n_centroids)
        if m < 1 or n_codes < 1 or dim % m != 0:
            raise ValueError(
                f"m={m}, n_codes={n_codes}, dim={dim}: all must be >= 1 "
                "and m must divide dim — a non-dividing m silently "
                "mis-buckets the trailing dimensions"
            )
        self.m, self.n_codes, self.dim = m, n_codes, dim
        self.codebook_path = os.path.join(base_dir, "codebook")

    def bootstrap(self, corpus: DataFrame) -> None:
        """Train-time build: centroid elements + residual codebook +
        the seed corpus codes under the reserved bootstrap epoch -1."""
        from cloudpelican_lsd_spark.operators.similarity import (
            build_ivfpq_index,
        )

        cents, codebook, codes = build_ivfpq_index(
            corpus, self.n_centroids, self.m, self.n_codes, self.dim
        )
        cents.write.mode("overwrite").parquet(self.cent_path)
        codebook.write.mode("overwrite").parquet(self.codebook_path)
        (
            codes.withColumn("epoch", F.lit(-1))
            .write.partitionBy("epoch", "cent_id")
            .mode("overwrite")
            .parquet(self.assign_path)
        )

    def codebook(self) -> DataFrame:
        return self.spark.read.parquet(self.codebook_path)

    def _rows(self, batch_df: DataFrame) -> DataFrame:
        """A micro-batch's `(vec_id, embedding)` rows as table rows:
        encoded through the SAME residual/encode helpers the bootstrap
        used (fixed centroids + codebook)."""
        from cloudpelican_lsd_spark.operators.similarity import (
            _ivfpq_encode,
            _ivfpq_residuals,
            _quantize_elements,
        )

        rv = _ivfpq_residuals(
            _quantize_elements(batch_df), self.centroids(),
            self.dim // self.m,
        )
        return _ivfpq_encode(rv, self.codebook())

    def topk(
        self, queries: DataFrame, nprobe: int = 2, k: int = 10
    ) -> DataFrame:
        """`(qid, cid, adc)` — ADC retrieval against everything indexed
        so far (same plan as the batch path: broadcast residual LUTs,
        cent_id partition pruning, codes-only scan)."""
        from cloudpelican_lsd_spark.operators.similarity import (
            ivfpq_index_topk,
        )

        return ivfpq_index_topk(
            queries, self.centroids(), self.codebook(),
            self.assignments(), nprobe, k,
        )
