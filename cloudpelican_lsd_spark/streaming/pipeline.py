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
≈ Main.java:159-164); each of the three sinks above is an
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
    is_likely_error_sql,
    normalize_lines,
)
from cloudpelican_lsd_spark.operators.classifier import CAT_ERROR, CAT_REGULAR
from cloudpelican_lsd_spark.operators.fanout import filter_matches
from cloudpelican_lsd_spark.operators.tail import tail_last_n
from cloudpelican_lsd_spark.operators.stats import METRIC_MATCH, METRIC_ERROR
from cloudpelican_lsd_spark.streaming.epoch_table import EpochTable


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
