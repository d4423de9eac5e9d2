"""Structured Streaming ingest: the reference's Storm topology as ONE
streaming query.

Reference topology (storm .../Main.java:97-151):
    kafka spout → ParseBolt → MatchBolt → {SupervisorResultWriter,
    RollupStats → SupervisorStatsWriter, ErrorClassifier, BigQuerySink,
    OutlierDetection}

Spark shape: a single `readStream → parse → foreachBatch` query.  Inside
each micro-batch (trigger = 1s, matching the reference's result tick,
SupervisorResultWriterBolt.java:90):

- **results sink**: matched rows appended to a parquet table partitioned
  `filter_id/epoch/date` — the single table that replaces BigQuery's
  table-per-filter-per-day (BigQueryInsertRunnable.java:32-37).  A live
  tail or a one-filter search lists and scans one `filter_id=` directory;
  date pruning serves historical search.
- **stats sink**: per-batch minutely partial counts appended to a stats
  table; readers sum partials (merge-on-read).  This keeps the write path
  append-only and idempotent-friendly at any scale; the reference instead
  merges on the supervisor (filter_manager.go:106-142) — same semantics,
  different merge point.
- **classifier sink**: per-batch (filter, token, label) counts appended
  to `nb_state`, merged on read.

A micro-batch's fixed cost bounds both its latency and the rate it can
sustain, so the batch hook builds nothing per batch that does not
change per batch:

- `parse_stream` adds `is_err`, the 25-keyword likely-error flag,
  computed once per line before the fan-out; the `ingest` observation,
  the stats error count and the classifier label all read it.
- The filter-set match (`operators.fanout.filter_matches`) is built once
  per filter-set snapshot, keyed by each filter's (id, name, regex), and
  kept in one slot on the engine (`StreamingEngine._match`): a hot-swap
  takes effect on the very next batch, an unchanged catalog rebuilds
  nothing.  Names and regexes enter the plan as literals, never as SQL
  text.
- The results, stats and classifier projections are constant SQL text;
  only the epoch number is spliced in per batch.
- `parse_stream` and the `ingest` observation are built once per query
  start, not per batch (`ts_epoch`, `is_err` and the observation as SQL
  text, normalization and event-time extraction by the shared builders
  of `functions.parse`).

The read side follows the same rule: a store's files change once per
micro-batch, while a live tail polls every 200 ms.  `EpochTable.read`
hands back the same frame while the files it would list are unchanged,
and `tail`/`stats` keep the plan built on that frame
(`StreamingEngine._plans`), so a repeated poll runs only its Spark job.

Checkpointing gives at-least-once delivery (the reference's Storm acking
≈ Main.java:159-164); every sink here — the three tables above and the
near-duplicate suppressor's store and output — is an
`epoch_table.EpochTable`, whose drop-epoch-then-append writes make the
redelivery exactly-once and whose crash-safe swaps serve the retention
and compaction sweeps.  Kafka is the production source; file/rate
sources serve tests (no Kafka in the test container).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from cloudpelican_lsd_spark.catalog import FilterCatalog

from cloudpelican_lsd_spark.checkpoint import materialize
from cloudpelican_lsd_spark.functions.parse import (
    extract_event_time,
    normalize_lines,
)
from cloudpelican_lsd_spark.operators.classifier import CAT_ERROR, CAT_REGULAR
from cloudpelican_lsd_spark.operators.fanout import filter_matches
from cloudpelican_lsd_spark.operators.tail import tail_last_n
from cloudpelican_lsd_spark.operators.stats import METRIC_MATCH, METRIC_ERROR
from cloudpelican_lsd_spark.streaming.epoch_table import EpochTable
from cloudpelican_lsd_spark.functions.parse import (
    is_likely_error,
    is_likely_error_sql,
)


def kafka_reader_options(
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 18000,
) -> dict[str, str]:
    """The exact reader options the reference spout pins (Main.java:97-103):
    subscribe-by-topic, EarliestTime start offset, and the backpressure
    bound — the reference caps in-flight tuples at maxSpoutPending =
    6x1000xpartitions = 18,000 (Main.java:102,164); Spark's equivalent
    caps rows per micro-batch.  Exposed as a dict so the contract test
    can pin every option without a broker."""
    opts = {
        "kafka.bootstrap.servers": bootstrap_servers,
        "subscribe": topic,
        "startingOffsets": starting_offsets,
    }
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def kafka_wire_projection(records: DataFrame) -> DataFrame:
    """Kafka wire record -> raw line: CAST(value AS STRING), the
    StringScheme of the reference spout (Main.java:100).  Factored out so
    the fake-wire injection test runs the IDENTICAL projection the live
    kafka reader uses."""
    return records.selectExpr("CAST(value AS STRING) AS _raw")


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    max_offsets_per_trigger: int | None = 18000,
) -> DataFrame:
    """Production source — consume raw lines from Kafka starting at the
    earliest offset like the reference spout (Main.java:97-103)."""
    reader = spark.readStream.format("kafka").options(
        **kafka_reader_options(
            bootstrap_servers, topic, starting_offsets, max_offsets_per_trigger
        )
    )
    return kafka_wire_projection(reader.load())


def file_source(spark: SparkSession, path: str) -> DataFrame:
    """Test source — stream text files of raw syslog lines."""
    return spark.readStream.format("text").load(path).withColumnRenamed(
        "value", "_raw"
    )


def rate_source(spark: SparkSession, rows_per_second: int = 10) -> DataFrame:
    """Synthetic source reproducing the fake-data generator's `test <ts>`
    lines (tools/testing/fake-data-generator/main.go:36-42)."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
        .selectExpr(
            "concat('test ', date_format(timestamp, \"yyyy-MM-dd'T'HH:mm:ss.SSSXXX\")) AS _raw"
        )
    )


#: `monotonically_increasing_id()` split into its partition id and its
#: row number within the partition, as SQL text (the row_id packing and
#: its overflow observation both read them)
_PID = "shiftright(monotonically_increasing_id(), 33)"
_ROW = f"(monotonically_increasing_id() & {(1 << 33) - 1})"


def parse_stream(raw: DataFrame) -> DataFrame:
    """ParseBolt semantics: normalize + event-time extract with
    processing-time fallback (ParseBolt.java:49-93), plus `is_err`: the
    25-keyword likely-error flag (`is_likely_error_sql`), computed here
    once per line so the `ingest` observation, the stats sink's error
    count and the classifier label all read it instead of re-testing the
    keywords per matched row.  Output: the input's columns with `_raw`
    normalized, then `ts`, `ts_epoch`, `is_err`.

    Called once per query start (`StreamingEngine.start`), never per
    micro-batch; `ts_epoch` and `is_err` are SQL text constants."""
    ts = F.coalesce(
        extract_event_time(F.col("_raw")),
        F.expr("convert_timezone('UTC', current_timestamp())"),
    )
    return (
        normalize_lines(raw)
        .select("*", ts.alias("ts"))
        .selectExpr(
            "*",
            "CAST(timestampdiff(SECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
            " AS BIGINT) AS ts_epoch",
            f"{is_likely_error_sql('_raw')} AS is_err",
        )
    )


class StreamingEngine:
    """One streaming query maintaining results + stats tables."""

    def __init__(
        self,
        spark: SparkSession,
        catalog: FilterCatalog,
        base_dir: str,
        max_msgs_per_filter: int = 10000,
    ) -> None:
        self.spark = spark
        self.catalog = catalog
        self.base_dir = base_dir
        self.results_path = os.path.join(base_dir, "results")
        self.stats_path = os.path.join(base_dir, "stats")
        self.results_table = EpochTable(
            spark, self.results_path, ["filter_id", "epoch", "date"],
            self.RESULTS_SCHEMA,
        )
        self.stats_table = EpochTable(
            spark, self.stats_path, ["epoch"], self.STATS_SCHEMA
        )
        self.nb_table = EpochTable(
            spark, os.path.join(base_dir, "nb_state"), ["epoch"], self.NB_SCHEMA
        )
        if os.path.isdir(self.results_path) and any(
            d.startswith("epoch=") for d in os.listdir(self.results_path)
        ):
            # Spark would otherwise fail the first read with "Conflicting
            # directory structures" once both layouts share the table
            raise ValueError(
                f"StreamingEngine: {self.results_path} holds a results "
                "table in the old epoch-major layout (epoch=N/filter_id=X/"
                "date=D); this engine writes filter_id=X/epoch=N/date=D. "
                "Rewrite it with spark.read.parquet(old).write.partitionBy("
                "'filter_id', 'epoch', 'date').parquet(new), or start from "
                "an empty base_dir"
            )
        self.checkpoint = os.path.join(base_dir, "checkpoint")
        #: the reference's 10k msgs/filter (supervisor.go:52): the rows per
        #: filter compact_results keeps, and the page size of the
        #: supervisor's result route
        self.max_msgs_per_filter = max_msgs_per_filter
        #: the one filter-set snapshot slot: ((id, name, regex) per
        #: filter, the matched projection built for that set)
        self._match: tuple[tuple, list[Column]] | None = None
        #: the tail and stats plans, one slot per (kind, filter id): (the
        #: store frame it was built on, its argument, the plan)
        self._plans: dict[tuple, tuple[DataFrame, object, DataFrame]] = {}

    # -- batch hook ---------------------------------------------------------

    def _matched_columns(self) -> list[Column]:
        """The matched projection for the catalog's current filter set:
        `_raw, ts, ts_epoch, is_err, date` plus one `filter_id,
        filter_name` row per matching filter (`filter_matches`).

        The filter set is re-read per batch — the reference's 1 s hot-swap
        poll (MatchBolt.java:89-97) — but the projection is rebuilt only
        when a filter's (id, name, regex) changed, into the one slot
        `self._match`, so a hot-swap takes effect on the very next batch
        and an unchanged catalog costs no Column builds."""
        filters = self.catalog.list(include_temp=True)
        key = tuple((f.id, f.name, f.regex) for f in filters)
        snapshot = self._match
        if snapshot is None or snapshot[0] != key:
            cols = [F.col(c) for c in ("_raw", "ts", "ts_epoch", "is_err")]
            cols.append(F.expr("date_format(ts, 'yyyy-MM-dd') AS date"))
            cols.append(F.inline(filter_matches(filters)))
            snapshot = self._match = (key, cols)
        return snapshot[1]

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One micro-batch of `parse_stream` rows into the three sinks.

        Per batch, Python builds no per-line expression (each `F.*` call
        is several py4j round trips): the matched projection comes from
        the filter-set snapshot slot (`_matched_columns`, rebuilt only
        when the catalog changed), and every sink projection is constant
        SQL text with the epoch spliced in as an integer.  The
        likely-error flag is the line's `is_err`, computed once per line
        by `parse_stream`; the stats error count and the classifier label
        read it.

        Each write goes through its `EpochTable` (heal an interrupted
        swap, drop the epoch, append): a redelivered micro-batch (Spark's
        at-least-once redelivery after a crash between write and
        checkpoint commit) replaces exactly its own epoch's data, so
        results stay unique and the merge-on-read SUMs (stats, classifier
        counts) don't double-count.  The results table is filter-MAJOR
        (`filter_id/epoch/date`): the hot read is the live tail, which
        polls one filter every 200 ms and so lists and scans that
        filter's directory alone; the epoch is dropped under every
        `filter_id=` directory, deleted filters' included.
        """
        from pyspark.sql import Observation

        matched = batch_df.select(*self._matched_columns())
        matched.persist()
        epoch = int(epoch_id)
        try:
            # results (S4/S5 analog).  row_id = epoch·2^40 + pid·2^25 + row
            # keeps ids unique and FIFO-ordered ACROSS batches
            # (monotonically_increasing_id alone restarts every batch, and
            # used raw it spends 2^33 per partition — 128 partitions would
            # overflow into the next epoch's range).  Caps: 2^15 partitions
            # per batch, 2^25 rows per partition per batch, 2^23 epochs —
            # ENFORCED, not just documented: the epoch cap up front, the
            # per-batch caps via observe() riding the write action (an
            # overflow fails the batch BEFORE the checkpoint commits, so
            # the replayed epoch is rewritten — loud stop, never a silent
            # row_id collision).
            if epoch >= (1 << 23):
                raise RuntimeError(
                    f"process_batch: epoch {epoch} exceeds the 2^23 "
                    "row_id epoch slot — widen the packing"
                )
            caps = Observation(f"row_id_caps_{epoch}")
            self.results_table.write(
                matched.selectExpr(
                    "filter_id", "filter_name", "_raw", "ts", "ts_epoch", "date",
                    f"{epoch << 40} + {_PID} * {1 << 25} + {_ROW} AS row_id",
                ).observe(
                    caps,
                    F.expr(f"max({_PID}) AS max_pid"),
                    F.expr(f"max({_ROW}) AS max_row"),
                ),
                epoch,
            )
            got = caps.get
            if (got["max_pid"] or 0) >= (1 << 15) or (got["max_row"] or 0) >= (
                1 << 25
            ):
                raise RuntimeError(
                    f"process_batch: row_id packing overflow (max_pid="
                    f"{got['max_pid']}, max_row={got['max_row']}) — lower "
                    "maxOffsetsPerTrigger or widen the packing; failing "
                    "the batch before checkpoint commit so no collided "
                    "ids are ever exposed"
                )
            # stats: minutely partial counts, merge-on-read (A2/A3 analog)
            stats = (
                matched.selectExpr(
                    "filter_id", "ts_epoch - ts_epoch % 60 AS bucket", "is_err"
                )
                .groupBy("filter_id", "bucket")
                .agg(
                    F.expr("count(1) AS match_cnt"),
                    F.expr("sum(CASE WHEN is_err THEN 1 ELSE 0 END) AS err_cnt"),
                )
                .selectExpr(
                    "filter_id",
                    "bucket",
                    f"stack(2, {METRIC_MATCH}, match_cnt, {METRIC_ERROR}, err_cnt)"
                    " AS (metric, cnt)",
                )
                .where("cnt > 0")
            )
            self.stats_table.write(stats, epoch)
            # classifier training feed (ErrorClassifierBolt trains on
            # matched tuples)
            self.update_classifier_state(matched, epoch)
        finally:
            matched.unpersist()

    # -- query lifecycle ----------------------------------------------------

    def start(self, source: DataFrame, trigger: dict | None = None):
        """Start the streaming query.  ``trigger`` defaults to the
        reference's 1s result tick; pass {"availableNow": True} in tests.

        The parsed stream carries ``observe()`` metrics — per micro-batch
        line count, likely-error count (the sum of `is_err`), and max event
        time — surfaced in every StreamingQueryProgress under
        ``observedMetrics['ingest']``.
        This is the engine-side monitoring the reference approximates
        with its 5% Storm stats sampling (Main.java:165): exact, free
        (computed inside the existing pass), and queryable from the
        driver without touching the data path."""
        observed = parse_stream(source).observe(
            "ingest",
            F.expr("count(1) AS n_lines"),
            F.expr("sum(CAST(is_err AS BIGINT)) AS n_likely_errors"),
            F.expr("max(ts) AS max_event_ts"),
        )
        writer = (
            observed
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", self.checkpoint)
        )
        writer = writer.trigger(**(trigger or {"processingTime": "1 second"}))
        return writer.start()

    # -- read side ----------------------------------------------------------

    # Every read names its store's declared schema: inferring it would run
    # a footer-reading Spark job on every call, and the tail polls every
    # 200 ms.

    #: results-table schema, in the column order every results() read has
    RESULTS_SCHEMA = (
        "filter_name STRING, _raw STRING, ts TIMESTAMP_NTZ, ts_epoch BIGINT,"
        " row_id BIGINT, epoch INT, filter_id STRING, date DATE"
    )

    def results(self, filter_id: str | None = None) -> DataFrame:
        """The results table, or one filter's directory of it."""
        return self.results_table.read(filter_id)

    def tail(self, filter_id: str, n: int = 100) -> DataFrame:
        """Live tail: last n rows for a filter (cloudpelican-lsd.go:630-636).

        A poll that finds the filter's files unchanged gets the frame of
        the previous poll back: `results` hands back the same store frame
        (`EpochTable.read`), so the plan built on it is kept, and its
        collect runs the one Spark job with no py4j round trip, analysis
        or planning before it."""
        return self._kept_plan(
            ("tail", filter_id), self.results(filter_id), n,
            lambda base: tail_last_n(base, n, tiebreak_col="row_id"),
        )

    #: stats-table schema (empty reads before the first batch / after purge)
    STATS_SCHEMA = "filter_id STRING, bucket BIGINT, metric INT, cnt BIGINT, epoch INT"

    def stats(self, filter_id: str | None = None) -> DataFrame:
        """Merged stats view: sum the appended partials (merge-on-read).
        Kept like `tail`'s plan while the stats table's files are
        unchanged."""

        def merged(df: DataFrame) -> DataFrame:
            if filter_id is not None:
                df = df.where(F.col("filter_id") == filter_id)
            return df.groupBy("filter_id", "metric", "bucket").agg(
                F.sum("cnt").cast("long").alias("cnt")
            )

        return self._kept_plan(
            ("stats", filter_id), self.stats_table.read(), None, merged
        )

    def _kept_plan(self, slot: tuple, base: DataFrame, arg, build) -> DataFrame:
        """`build(base)`, kept in the one slot `slot` and rebuilt only when
        `base` is another frame object (the store's files changed) or
        `arg` differs."""
        kept = self._plans.get(slot)
        if kept is None or kept[0] is not base or kept[1] != arg:
            kept = self._plans[slot] = (base, arg, build(base))
        return kept[2]

    # -- analytics reads ------------------------------------------------------

    def _stats_series(self) -> DataFrame:
        """The maintained minutely stats table keyed for the analyzers:
        `(series_key, bucket, cnt)` with series_key = filter_id:metric —
        the one series shape outliers() and analyzer_flags() share."""
        return (
            self.stats()
            .withColumn(
                "series_key",
                F.concat_ws(
                    ":", F.col("filter_id"), F.col("metric").cast("string")
                ),
            )
            .select("series_key", "bucket", "cnt")
        )

    def outliers(self, min_score: float = 0.5):
        """Consensus outlier pass over the maintained stats series —
        OutlierDetectionBolt's 60s-tick job as an on-demand batch over the
        streaming stats table (same applyInPandas analyzers)."""
        from cloudpelican_lsd_spark.operators.outliers import detect_outliers

        # the maintained stats table is MINUTELY (bucket_col 60 in
        # process_batch) — the gap-fill grid must match or 4/5 of the
        # counts silently vanish into collapsed slots
        return detect_outliers(
            self._stats_series(), min_score=min_score, bucket_sec=60
        )

    def analyzer_flags(self, min_points: int | None = None) -> DataFrame:
        """The five oracle-gated analyzer twins (moving-average, z-score,
        simple-regression, EWMA, seasonal-naive; operators/outliers.py)
        over the SAME maintained
        minutely stats series the consensus pass reads — one row per
        (series, analyzer) with the exact integer-math outlier decision.
        ``min_points`` loosens the >=10-point history requirement for
        short test streams."""
        from cloudpelican_lsd_spark.operators.outliers import (
            MIN_POINTS,
            analyzer_span,
            ewma_check,
            moving_average_check,
            regression_check,
            seasonal_naive_check,
            zscore_check,
        )

        # the five analyzer branches below each consume span; materialize
        # it once (localCheckpoint) so the stats scan + merge + gap-fill
        # run one time, not five (the documented two-consumer trap)
        span = analyzer_span(
            self._stats_series(),
            bucket_sec=60,
            min_points=MIN_POINTS if min_points is None else min_points,
        ).transform(materialize, eager=False)
        cols = ["series_key", "bucket", "actual", "is_outlier"]
        parts = [
            moving_average_check(span, bucket_sec=60)
            .select(*cols)
            .withColumn("analyzer", F.lit("moving_average")),
            zscore_check(span).select(*cols).withColumn("analyzer", F.lit("zscore")),
            regression_check(span)
            .select(*cols)
            .withColumn("analyzer", F.lit("regression")),
            ewma_check(span)
            .select(*cols)
            .withColumn("analyzer", F.lit("ewma")),
            seasonal_naive_check(span, period_sec=3600, bucket_sec=60)
            .select(*cols)
            .withColumn("analyzer", F.lit("seasonal_naive")),
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- classifier state (batch-incremental, SURVEY §7 risk-register path) ----

    def update_classifier_state(self, batch_df: DataFrame, epoch: int = 0) -> None:
        """Write per-batch (token, label) counts into the model state table
        under the batch's epoch partition (idempotent on replay).

        ``batch_df`` is the matched batch (`filter_id`, `_raw`, `is_err`):
        the label is the line's `is_err` from `parse_stream` (the
        reference's keyword heuristic, `heuristic_label`), read here, not
        re-tested per matched row; the projection is constant SQL text.

        The reference trains online per filter with a 1000-sample forget
        queue (ErrorClassifierBolt.java:57-63); the Spark-shaped equivalent
        is a per-epoch count table merged on read — exactly-once under
        redelivery (each epoch overwrites itself) and shuffle-light
        (map-side combine per batch).
        """
        # keyed by filter_id: the reference trains one classifier PER
        # FILTER (fieldsGrouping(filter_id), ErrorClassifierBolt); a global
        # model over the fanned-out stream would count a line once per
        # matching filter, weighting the model by filter overlap
        toks = (
            batch_df.selectExpr(
                "filter_id",
                f"CASE WHEN is_err THEN '{CAT_ERROR}' ELSE '{CAT_REGULAR}' END"
                " AS label",
                r"explode(split(_raw, '\\s+')) AS tok",
            )
            .groupBy("filter_id", "tok", "label")
            .agg(F.expr("count(1) AS cnt"))
        )
        self.nb_table.write(toks, epoch)

    #: classifier-state schema (empty reads before the first batch)
    NB_SCHEMA = (
        "filter_id STRING, tok STRING, label STRING, cnt BIGINT, epoch INT"
    )

    def classifier_model(self, filter_id: str | None = None) -> DataFrame:
        """Merged (filter_id, tok, label, cnt) frequency table — one model
        per filter (reference semantics); pass `filter_id` for one."""
        df = self.nb_table.read()
        if filter_id is not None:
            df = df.where(F.col("filter_id") == filter_id)
        return (
            df.groupBy("filter_id", "tok", "label")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )

    # -- maintenance (TTL semantics) -----------------------------------------

    def expire_results(self, before_date: str) -> None:
        """Retention: drop date partitions older than `before_date` — the
        168h table TTL analog (BigQuerySinkBolt.java:147-152) — and every
        `epoch=` directory this empties, so the directories a `tail`
        lists do not outgrow the retained data."""
        self.results_table.drop_before("date", before_date)

    def expire_stats(self, before_bucket: int) -> None:
        """7-day stats purge (filter_manager.go:519-576, age check
        :541-542): compact the stats table to buckets >= `before_bucket`.
        At scale the stats table is date-partitioned like results and this
        is a partition drop; here it's a rewrite of a small table."""
        self.stats_table.rewrite(
            self.stats_table.read().where(F.col("bucket") >= before_bucket)
        )

    def compact_results(self) -> None:
        """Ring-buffer truncation: keep only the newest
        ``max_msgs_per_filter`` rows per filter (the reference's 10k
        in-memory FIFO cap with truncate-oldest, filter_manager.go:315-356;
        cap supervisor.go:52).  One window rank per filter partition; at
        scale this runs per-partition with no global shuffle because the
        table is partitioned by filter_id."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("filter_id").orderBy(
            F.col("ts_epoch").desc(), F.col("row_id").desc()
        )
        self.results_table.rewrite(
            self.results()
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= self.max_msgs_per_filter)
            .drop("_rn")
        )

    def maintenance(self, now_unix: int) -> dict:
        """One maintenance tick = the reference's three TTL sweeps: temp
        filters >1h (Filter.java:64-75), result partitions >168h
        (BigQuerySinkBolt.java:147-152), stats buckets >7d
        (filter_manager.go:541-542)."""
        import datetime

        cutoff_results = datetime.datetime.fromtimestamp(
            now_unix - 168 * 3600, tz=datetime.timezone.utc
        ).strftime("%Y-%m-%d")
        # all-or-nothing: the two rewrites run first, since they refuse
        # beside an active stream before anything is dropped.  Truncating
        # before the date drop keeps the same rows as the other order: a
        # date cut keeps a newest-first prefix of each filter's rows.
        self.expire_stats(now_unix - 7 * 86400)
        self.compact_results()
        self.expire_results(cutoff_results)
        return {
            "dropped_temp_filters": self.catalog.expire_temp(now_unix),
            "results_before": cutoff_results,
            "stats_before": now_unix - 7 * 86400,
        }


def windowed_stats_stream(
    matched: DataFrame, lateness: str = "1 hour", width: str = "1 minute"
) -> DataFrame:
    """A2/A3 as a *native* Structured Streaming windowed aggregation:
    `(filter_id, metric, bucket, cnt)` maintained by Spark's streaming
    state store instead of foreachBatch merge-on-read.

    - watermark bounds state: the reference accepts arbitrarily-late
      counts (filter_manager.go:121 adds into any bucket); Spark needs a
      lateness horizon to ever drop window state, so `lateness` is the
      documented divergence knob — generous by default.
    - partial aggregation before the shuffle is automatic
      (HashAggregateExec partial -> state store update), the same
      reduce-before-network the 1s RollupStatsBolt implements by hand.
    """
    fanned = matched.select(
        "filter_id",
        # watermarks require TIMESTAMP (tz-aware); the engine's NTZ event
        # time is UTC by construction (session tz pinned), so the cast is a
        # reinterpretation, not a shift
        F.col("ts").cast("timestamp").alias("ts"),
        F.explode(
            F.when(
                is_likely_error(F.col("_raw")),
                F.array(F.lit(METRIC_MATCH), F.lit(METRIC_ERROR)),
            ).otherwise(F.array(F.lit(METRIC_MATCH)))
        ).alias("metric"),
    )
    return (
        fanned.withWatermark("ts", lateness)
        .groupBy("filter_id", "metric", F.window("ts", width).alias("win"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "filter_id",
            "metric",
            F.unix_timestamp(F.col("win.start")).alias("bucket"),
            "cnt",
        )
    )


def session_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    lateness: str = "1 hour",
) -> DataFrame:
    """Streaming gap-sessionization — the `session_window` analog of the
    batch operator (operators/sessions.sessionize): Spark's state store
    merges windows that keep receiving events within ``gap`` and emits a
    session once the watermark passes its close.

    Boundary divergence to document: the batch operator starts a new
    session when delta > gap (strict), ``session_window`` when
    delta >= gap (window end = last_event + gap, end-exclusive).  Equal-
    to-gap deltas are measure-zero in real data but the tests avoid them.

    Scale: state is per open session keyed by (key, merged-window) —
    bounded by the watermark horizon, shuffled once on the grouping key.
    """
    # NTZ event time is UTC by construction (session tz pinned); the cast
    # to the tz-aware type watermarks require is a reinterpretation
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, lateness)
        .groupBy(
            F.col(key_col),
            F.session_window(F.col(ts_col), gap).alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            key_col,
            F.unix_timestamp("sw.start").alias("start_epoch"),
            F.unix_timestamp("sw.end").alias("end_epoch"),
            "n_events",
        )
    )


def dedup_stream(
    lines: DataFrame,
    keys: list[str] | None = None,
    ts_col: str = "ts",
    horizon: str = "10 minutes",
) -> DataFrame:
    """Streaming exact deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keeps one row per key and expires
    the key's state once the watermark passes ``horizon`` — the
    streaming face of the batch exact-dedup family (operators/dedup.py).

    Unbounded `dropDuplicates` on a stream would grow state forever; the
    horizon bounds it to keys seen in the last window, which is the
    practical contract for log/event streams (replays and producer
    retries arrive close together).  Keys should be compact — hash the
    payload first (`xxhash64(_raw)`) so state stores 8-byte keys, not
    raw lines.
    """
    keyed = lines.withColumn("_k", F.xxhash64(*(keys or ["_raw"]))).withColumn(
        ts_col, F.col(ts_col).cast("timestamp")
    )
    return (
        keyed.withWatermark(ts_col, horizon)
        .dropDuplicatesWithinWatermark(["_k"])
        .drop("_k")
    )


def interval_join_stream(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    upper_s: int = 3600,
    lateness: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream interval join: each left event pairs with
    the right events of the same ``key`` that occur in
    ``[left_ts, left_ts + upper_s]`` — the streaming face of the batch
    range join (operators/ranges.interval_join) and the attribution
    pattern of the as-of operator (operators/asof.py).

    Both sides MUST be watermarked and the join MUST carry a time bound:
    that pair is what lets Spark expire buffered rows — state per side is
    bounded by lateness + upper_s instead of growing forever.  The join
    shuffles both streams on ``key``; rows co-locate in the state store
    and matches emit incrementally in append mode.

    Column layout: the right side's key/ts are renamed (``r_<key>``,
    ``r_ts``) so the output schema is join-order unambiguous.
    """
    # NTZ event time is UTC by construction; cast is a reinterpretation
    lw = left.withColumn(left_ts, F.col(left_ts).cast("timestamp")).withWatermark(
        left_ts, lateness
    )
    rw = (
        right.withColumnRenamed(key, f"r_{key}")
        .withColumnRenamed(right_ts, "r_ts")
        .withColumn("r_ts", F.col("r_ts").cast("timestamp"))
        .withWatermark("r_ts", lateness)
    )
    cond = (
        (F.col(f"r_{key}") == F.col(key))
        & (F.col("r_ts") >= F.col(left_ts))
        & (F.col("r_ts") <= F.col(left_ts) + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    return lw.join(rw, cond, "inner")


def template_stream(
    parsed: DataFrame, lateness: str = "1 hour", width: str = "5 minutes"
) -> DataFrame:
    """Streaming twin of the batch `logs_template_mining` query:
    digit-masked message templates counted per tumbling window —
    `(win_start, template, cnt)` in update mode.  New log shapes surface
    as new template rows within one window of arriving; the watermark
    bounds template-count state exactly like windowed_stats_stream.
    Template cardinality ≪ line rate, so the shuffle carries map-side
    partials keyed by (template, window) — the same
    reduce-before-network contract as the stats rollup."""
    masked = parsed.select(
        F.col("ts").cast("timestamp").alias("ts"),
        F.regexp_replace("_raw", "[0-9]+", "#").alias("template"),
    )
    return (
        masked.withWatermark("ts", lateness)
        .groupBy(F.window("ts", width).alias("win"), "template")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("win_start"),
            "template",
            "cnt",
        )
    )


def windowed_distinct_stream(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    width: str = "1 minute",
    lateness: str = "1 hour",
    rsd: float = 0.05,
) -> DataFrame:
    """`(bucket, approx_distinct)` — HyperLogLog++ distinct keys per
    tumbling window, maintained incrementally by the streaming state
    store.  The streaming twin of the batch `distinct_users_sketch`
    query: exact streaming distinct would hold every key seen per window
    in state (unbounded for high-cardinality keys); the sketch bounds
    state at ~1.5KB per window regardless of cardinality, with the same
    rsd error contract as batch HLL++."""
    return (
        events.select(
            F.col(key_col).alias("k"),
            F.col(ts_col).cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", lateness)
        .groupBy(F.window("ts", width).alias("win"))
        .agg(F.approx_count_distinct("k", rsd=rsd).alias("approx_distinct"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("bucket"),
            "approx_distinct",
        )
    )


def windowed_topk_counts_stream(
    events: DataFrame,
    key_col: str = "event_type",
    ts_col: str = "ts",
    width: str = "1 minute",
    lateness: str = "1 hour",
) -> DataFrame:
    """`(bucket, key, cnt)` — per-key counts per tumbling event-time
    window, maintained incrementally by the streaming state store.

    Heavy-hitters building block: ranking is NOT applied here because
    window functions cannot run on an open streaming aggregate — the
    counts stream appends once the watermark closes a window, and
    `topk_per_bucket` ranks at read time (the same merge-on-read idiom
    as the stats table).  State per window is bounded by key cardinality
    (event types / filters), not event volume."""
    return (
        events.select(
            F.col(key_col).alias("key"),
            F.col(ts_col).cast("timestamp").alias("ts"),
        )
        .withWatermark("ts", lateness)
        .groupBy(F.window("ts", width).alias("win"), "key")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_timestamp(F.col("win.start")).alias("bucket"), "key", "cnt"
        )
    )


def topk_per_bucket(counts: DataFrame, k: int = 3) -> DataFrame:
    """`(bucket, key, cnt, rank)` — deterministic heavy hitters per
    window from the maintained counts table (cnt DESC, key ASC ties)."""
    from pyspark.sql.window import Window as W

    w = W.partitionBy("bucket").orderBy(F.col("cnt").desc(), F.col("key").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("bucket", "key", "cnt", "rank")
    )


# ---------------------------------------------------------------------------
# Streaming near-duplicate suppression (the streaming face of MinHash/LSH)
# ---------------------------------------------------------------------------


class NearDupSuppressor:
    """Suppress near-duplicate documents arriving on a stream.

    The streaming face of the batch MinHash/LSH dedup family
    (operators/dedup.py): each micro-batch's documents are banded
    (minhash_band_signatures), compared against (a) every signature
    accumulated from prior epochs and (b) lower-id documents in the same
    batch, and only NOVEL documents pass through; their signatures join
    the store.  Cross-key state (a doc is a dup if ANY of its bands
    matches) cannot live in a per-key state store, so this is a
    ``foreachBatch`` operator over a signature table — the standard Spark
    shape for cross-key streaming dedup.

    Policy (documented greedy): a document is suppressed when any band
    signature matches the store or a lower-id same-batch document —
    including one that was itself suppressed (the LSH
    keep-one-per-candidate-cluster behavior; exact per-pair verification
    is the batch family's job).

    Exactly-once: the store and the output are each an `EpochTable`
    (``store_table``, ``out_table``; local paths only), so a replayed
    micro-batch (at-least-once redelivery after a crash between write and
    checkpoint commit) replaces exactly its own epoch — same contract as
    StreamingEngine.process_batch.  A replay is checked against the store
    without its own epoch's signatures, and a replay of an epoch
    :meth:`compact` folded is skipped whole.

    100 TB shape: the store is only `(band, sig)` — 12/3 = 4 rows of a
    few bytes per kept document, NOT the text; the batch-vs-store check
    scans the store once against the BROADCAST batch signatures (the
    batch is backpressure-bounded, so the store never shuffles or sorts
    per batch); in-batch suppression is one window MIN over the same
    key.  Store growth is bounded by novel-doc
    rate; `expire(before_epoch)` drops old epochs wholesale (retention =
    dedup horizon, the same trade dropDuplicatesWithinWatermark makes).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        out_path: str,
        num_hashes: int = 12,
        rows_per_band: int = 3,
        n: int = 3,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        self.spark = spark
        self.store_path = store_path
        self.out_path = out_path
        self.store_table = EpochTable(spark, store_path, ["epoch"])
        self.out_table = EpochTable(spark, out_path, ["epoch"])
        self.num_hashes = num_hashes
        self.rows_per_band = rows_per_band
        self.n = n
        self.id_col = id_col
        self.text_col = text_col

    def compact(self) -> None:
        """Fold every store epoch into ONE partition keyed by the
        HIGHEST folded epoch — streaming appends accumulate one
        directory tree per micro-batch (at a minutely trigger a day
        adds 1 440 trees: the small-files problem at scale), and
        compaction rewrites the signature store as one healthy file
        set.

        Unlike the StreamingIvfIndexer (whose index keeps everything,
        so it folds into the reserved bootstrap partition), the
        suppressor's store is RETENTION-managed: `expire(before_epoch)`
        drops epoch dirs older than the dedup horizon.  Folding into
        `epoch=<max folded>` keeps that working — an expire whose bound
        passes the folded epoch drops the whole consolidated segment
        wholesale; TTL granularity coarsens to the compaction interval,
        the standard segment-merge trade.

        Exactly-once: `EpochTable.fold` (crash-safe swap, refused beside
        an active stream, the highest folded epoch marked in the same
        rename); process_batch skips a replay of a folded epoch whole.
        A re-pointed stream (fresh checkpoint, epoch ids from 0) needs
        fresh store/out dirs, as every epoch-idempotent sink does."""
        self.store_table.fold()

    def _signatures(self, docs: DataFrame) -> DataFrame:
        """(doc_id, band, sig) rows for a batch — the suppression key
        space.  Subclasses swap the fingerprint family; the sink/replay
        discipline in process_batch is shared."""
        from cloudpelican_lsd_spark.operators.dedup import (
            minhash_band_signatures,
        )

        return minhash_band_signatures(
            docs, self.num_hashes, self.rows_per_band, self.n
        )

    def _dup_ids(self, sigs: DataFrame, store: DataFrame | None) -> DataFrame:
        """doc_ids suppressed this batch: any band signature shared with a
        lower-id same-batch doc or with the store (the LSH
        keep-one-per-candidate-cluster greedy)."""
        from pyspark.sql.window import Window

        w = Window.partitionBy("band", "sig")
        in_batch_dup = (
            sigs.withColumn("min_id", F.min("doc_id").over(w))
            .where(F.col("doc_id") > F.col("min_id"))
            .select("doc_id")
        )
        if store is None:
            return in_batch_dup
        # inner-join the STORE against the broadcast batch, not a
        # LeftSemi with the store as build side: Spark only builds the
        # right of a semi-join, so `sigs LEFT SEMI store` sort-merges —
        # shuffling the ENTIRE store every micro-batch.  The batch is
        # bounded (ingest backpressure caps it at ~18k docs), so
        # broadcasting it keeps the store scan-only: no shuffle, no
        # sort, and the matched output (then distinct) is batch-sized.
        vs_store = (
            store.select("band", "sig")
            .join(F.broadcast(sigs), ["band", "sig"])
            .select("doc_id")
            .distinct()
        )
        return in_batch_dup.unionByName(vs_store)

    def _update_store(self, sigs: DataFrame, novel: DataFrame, epoch: int) -> None:
        """Accumulate the kept docs' signatures into the store.
        Index-backed subclasses override to a no-op (their store is a
        static index written once, never grown by the stream)."""
        self.store_table.write(
            sigs.join(novel.select("doc_id"), "doc_id", "left_semi")
            .select("band", "sig", "doc_id"),
            epoch,
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        from pyspark.sql.types import IntegerType

        epoch = int(epoch_id)
        if epoch <= self.store_table.folded_through():
            # a redelivery of an epoch compact() folded: its rows are in
            # the folded partition (compact ran after the batch
            # committed), which a replay of the epoch it is keyed on would
            # delete — skipped whole, out included
            return
        docs = batch_df.select(
            F.col(self.id_col).alias("doc_id"),
            F.col(self.text_col).alias("text"),
        )
        sigs = self._signatures(docs)
        sigs.persist()
        try:
            store = self.store_table.read()
            if store is not None and "epoch" in store.columns:
                # a replay must not match its own first attempt's
                # signatures; the pruned partition is never opened, so
                # the store write below may drop it
                store = store.where(F.col("epoch") != epoch)
            dup_ids = self._dup_ids(sigs, store)
            novel = docs.join(dup_ids.distinct(), "doc_id", "left_anti")
            self.out_table.write(novel, epoch)
            # persist the full output schema once so kept() can return a
            # correctly-typed empty frame before the first batch is
            # readable again (underscore-prefixed → invisible to readers)
            schema_file = os.path.join(self.out_path, "_kept_schema.json")
            if not os.path.exists(schema_file):
                with open(schema_file, "w") as fh:
                    fh.write(novel.schema.add("epoch", IntegerType(), False).json())
            self._update_store(sigs, novel, epoch)
        finally:
            sigs.unpersist()

    def attach(self, doc_stream: DataFrame, checkpoint: str, trigger: dict | None = None):
        """Wire onto a streaming DataFrame of documents via foreachBatch."""
        writer = (
            doc_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint)
        )
        if trigger:
            writer = writer.trigger(**trigger)
        return writer.start()

    def kept(self) -> DataFrame:
        """All documents that passed suppression so far.  Before the
        first committed batch (or after a full expiry) the out table has
        no parquet — return a typed empty frame with the FULL output
        schema persisted at first write (so callers selecting payload
        columns don't hit an AnalysisException on the empty table); if no
        batch has ever flowed, fall back to the id/epoch contract
        columns, matching the guarded readers on StreamingEngine."""
        df = self.out_table.read()
        if df is not None:
            return df
        schema_file = os.path.join(self.out_path, "_kept_schema.json")
        if os.path.exists(schema_file):
            import json as _json

            from pyspark.sql.types import StructType

            with open(schema_file) as fh:
                schema = StructType.fromJson(_json.load(fh))
            return self.spark.createDataFrame([], schema)
        # output columns are always aliased to doc_id in process_batch
        return self.spark.createDataFrame([], "doc_id LONG, epoch INT")

    def expire(self, before_epoch: int) -> None:
        """Retention: drop store epochs older than the dedup horizon."""
        self.store_table.drop_before("epoch", int(before_epoch))


class WinnowDupSuppressor(NearDupSuppressor):
    """Streaming MOSS: near-VERBATIM reuse suppression over winnowed
    k-gram fingerprints (textstats.winnowing_fingerprints — the same
    selection the batch dedup_winnowing_pairs family is built on, so the
    stream and the batch audit can never fork on what counts as a
    match).

    Where the MinHash parent suppresses bag-of-shingles similarity, this
    subclass carries the winnowing GUARANTEE into the stream: any shared
    substring of length >= w + k - 1 between a new document and a stored
    (or lower-id same-batch) one surfaces shared fingerprints, and the
    document is suppressed when at least ``min_shared`` of its
    fingerprints match one single prior document (pairwise MOSS
    semantics, NOT any-match: one shared common phrase is not
    plagiarism).

    Boilerplate discipline: fingerprints present in more than ``max_df``
    distinct documents across (store ∪ batch) are HOT and excluded from
    matching — the same df<=8 prune as the batch pair generator, so
    license headers and navigation chrome cannot quadratically explode
    the match join.  The per-batch df re-aggregation scans the store's
    compact (fph, doc_id) relation; a long-horizon production deployment
    materializes the df in a maintained sidecar exactly like the
    StreamingIvfIndexer's `_compacted_through` watermark (documented
    trade, same class).

    Store schema compatibility: `band = sig = fph` — the parent's
    epoch-partitioned (band, sig, doc_id) store, exactly-once replay,
    `_kept_schema.json` fallback, and `expire()` retention all apply
    unchanged.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        out_path: str,
        k: int = 8,
        w: int = 4,
        min_shared: int = 3,
        max_df: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        super().__init__(
            spark, store_path, out_path, id_col=id_col, text_col=text_col
        )
        if w < 1 or k < 1:
            raise ValueError(f"WinnowDupSuppressor: k={k} w={w} must be >= 1")
        if min_shared < 1:
            raise ValueError(
                f"WinnowDupSuppressor: min_shared={min_shared} must be >= 1"
            )
        self.k, self.w = int(k), int(w)
        self.min_shared, self.max_df = int(min_shared), int(max_df)

    def _signatures(self, docs: DataFrame) -> DataFrame:
        from cloudpelican_lsd_spark.operators.textstats import (
            winnowing_fingerprints,
        )

        fp = winnowing_fingerprints(docs, k=self.k, w=self.w)
        return fp.select(
            "doc_id", F.col("fph").alias("band"), F.col("fph").alias("sig")
        ).distinct()

    def _dup_ids(self, sigs: DataFrame, store: DataFrame | None) -> DataFrame:
        """Pairwise MOSS count: suppressed iff some single prior document
        (stored, or lower-id in-batch) shares >= min_shared non-hot
        fingerprints."""
        new_fp = sigs.select("doc_id", F.col("sig").alias("fph"))
        if store is not None:
            # no store-wide distinct: the df aggregation below already
            # counts DISTINCT doc_ids, and the match count uses
            # countDistinct(fph) — a per-batch shuffle of the whole
            # store just to dedup would dominate at scale
            old_fp = store.select("doc_id", F.col("sig").alias("fph"))
            all_fp = new_fp.unionByName(old_fp)
        else:
            old_fp = None
            all_fp = new_fp
        hot = (
            all_fp.groupBy("fph")
            .agg(F.countDistinct("doc_id").alias("df"))
            .where(F.col("df") > self.max_df)
            .select("fph")
        )
        cold = new_fp.join(hot, "fph", "left_anti")
        a = cold.select(F.col("doc_id").alias("new_doc"), "fph")
        b = cold.select(F.col("doc_id").alias("old_doc"), "fph")
        in_batch = (
            a.join(b, "fph")
            .where(F.col("new_doc") > F.col("old_doc"))
            .groupBy("new_doc", "old_doc")
            .agg(F.count(F.lit(1)).alias("shared"))
            .where(F.col("shared") >= self.min_shared)
            .select(F.col("new_doc").alias("doc_id"))
        )
        if old_fp is None:
            return in_batch
        # broadcast the (batch-bounded) cold new-doc fingerprints so the
        # store side stays scan-only (same BuildRight reasoning as the
        # parent's vs_store probe); countDistinct(fph) makes the shared
        # count robust to any duplicate store rows without a store-wide
        # pre-distinct — only the MATCHED pairs (batch-sized) shuffle
        vs_store = (
            old_fp.join(hot, "fph", "left_anti")
            .select(F.col("doc_id").alias("old_doc"), "fph")
            .join(F.broadcast(a), "fph")
            .groupBy("new_doc", "old_doc")
            .agg(F.countDistinct("fph").alias("shared"))
            .where(F.col("shared") >= self.min_shared)
            .select(F.col("new_doc").alias("doc_id"))
        )
        return in_batch.unionByName(vs_store)


class EvalContaminationSuppressor(NearDupSuppressor):
    """Streaming eval-set decontamination: drop arriving documents that
    share ANY word n-gram with a STATIC held-out benchmark index — the
    streaming face of `corpus.eval_decontaminate` (the GPT-3 appendix-C
    rule applied at ingest time, before a contaminated doc ever lands in
    the training store).

    Three deliberate departures from the near-dup parent, each a hook:

    - the "store" is a read-only shingle INDEX written once from the
      benchmark corpus (`write_eval_index`) — `_update_store` is a no-op,
      so the stream never writes, drops or grows the index (growing it would silently turn decontamination into
      stream-self-dedup);
    - suppression is ONLY against the index: two training docs sharing a
      phrase is not contamination, so there is no in-batch rule;
    - a MISSING index is a loud RuntimeError, not an empty suppression
      set — decontamination that silently passes everything because the
      index path is wrong is the worst failure mode this operator has;
      the same guard covers a rule-length mismatch: the index is stamped
      with the n it was built at and a suppressor configured with a
      different n (disjoint shingle spaces — zero matches ever) raises
      instead of silently passing.

    100 TB shape: the index is benchmark-sized (MBs of distinct
    n-grams); the per-batch check is one shingle explode + LEFT SEMI
    against it — no store scan grows with stream history, and `expire`
    is inherited-but-inert (the index has no epoch partitions).
    Exactly-once is the parent's epoch-replace discipline on out_path.
    """

    def __init__(
        self,
        spark: SparkSession,
        index_path: str,
        out_path: str,
        n: int = 8,
        id_col: str = "doc_id",
        text_col: str = "text",
    ) -> None:
        super().__init__(
            spark, index_path, out_path, n=n, id_col=id_col, text_col=text_col
        )
        self._index_n_validated = False

    @staticmethod
    def write_eval_index(eval_docs: DataFrame, index_path: str, n: int = 8,
                         text_col: str = "text") -> None:
        """One-time index build: DISTINCT word n-grams of the benchmark
        corpus (column `shingle`), stamped with the rule length `n` they
        were built at (a constant RLE column — bytes on disk) so a
        suppressor configured with a DIFFERENT n fails loudly instead of
        semi-joining disjoint shingle spaces and silently passing every
        contaminated document.  Re-running overwrites atomically via
        Spark's overwrite mode."""
        from cloudpelican_lsd_spark.operators.dedup import shingle_rows

        (
            shingle_rows(
                eval_docs.select(F.col(text_col).alias("text"),
                                 F.lit(0).cast("long").alias("doc_id")),
                n,
            )
            .select("shingle")
            .distinct()
            .withColumn("n", F.lit(n).cast("int"))
            .write.mode("overwrite")
            .parquet(index_path)
        )

    def _validate_index_n(self, store: DataFrame) -> None:
        """Loud n-mismatch guard (checked once per suppressor, not per
        batch): an index built at a different rule length than the
        suppressor's `n` would produce shingles that can never match —
        exactly the silent-pass failure mode the missing-index
        RuntimeError exists to prevent."""
        if self._index_n_validated:
            return
        if "n" not in store.columns:
            raise RuntimeError(
                f"EvalContaminationSuppressor: eval index at "
                f"{self.store_path!r} carries no rule-length stamp — "
                "rebuild it with write_eval_index (indexes written "
                "before n-stamping cannot be validated against this "
                f"suppressor's n={self.n})"
            )
        row = store.agg(
            F.min("n").alias("lo"), F.max("n").alias("hi")
        ).first()
        if row.lo != self.n or row.hi != self.n:
            raise RuntimeError(
                f"EvalContaminationSuppressor: eval index at "
                f"{self.store_path!r} was built with n={row.lo}"
                + (f"..{row.hi}" if row.hi != row.lo else "")
                + f" but this suppressor is configured with n={self.n} — "
                "the shingle spaces are disjoint and every document "
                "would silently pass; rebuild the index or match n"
            )
        self._index_n_validated = True

    def _update_store(self, sigs: DataFrame, novel: DataFrame, epoch: int) -> None:
        return  # read-only index: the stream never grows it

    def _signatures(self, docs: DataFrame) -> DataFrame:
        from cloudpelican_lsd_spark.operators.dedup import shingle_rows

        return shingle_rows(docs, self.n)

    def _dup_ids(self, sigs: DataFrame, store: DataFrame | None) -> DataFrame:
        if store is None:
            raise RuntimeError(
                f"EvalContaminationSuppressor: no eval index at "
                f"{self.store_path!r} — refusing to pass documents "
                "unchecked (build it with write_eval_index first)"
            )
        self._validate_index_n(store)
        return sigs.join(
            F.broadcast(store.select("shingle")), "shingle", "left_semi"
        ).select("doc_id")
