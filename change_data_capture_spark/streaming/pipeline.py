"""Structured Streaming pipeline — Spark-native parity for the reference's
transport half (SURVEY.md S4-S7, E2):

    Debezium → Kafka topics → Kafka-Connect S3 sink (at-least-once JSONL)

becomes ONE fault domain:

    readStream(file-or-kafka, typed envelope) → watermark + (id,lsn) dedup
      → writeStream(parquet, checkpoint, partitionBy)   # exactly-once

The reference needs four processes and delivers at-least-once
(``connectors/s3-sink.json``); the checkpointed file sink here is
exactly-once, strictly stronger (SURVEY.md §3 E2).

Kafka note: ``format("kafka")`` is the drop-in source for live topics
(``option("subscribe", "debezium.commerce.*")``); this environment has no
broker, so tests drive the identical query graph from the file source — the
transformation/sink code is source-agnostic by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from change_data_capture_spark.functions.envelope import decode_envelope
from change_data_capture_spark.sources.ndjson import read_envelope_ndjson


def kafka_envelope_stream(
    spark: SparkSession, brokers: str, topics: str
) -> DataFrame:
    """S4/S5: consume Debezium topics from Kafka and parse the typed
    envelope (``value`` is the JSON envelope bytes) through its read
    projection, ``schemas.PRODUCTS_ENVELOPE_READ`` — the fields the decode
    reads, as the file source parses them. Requires a live broker — the
    file-source twin below has the identical downstream graph."""
    from change_data_capture_spark.schemas import PRODUCTS_ENVELOPE_READ

    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topics)
        .option("startingOffsets", "earliest")
        .load()
    )
    return raw.select(
        F.from_json(F.col("value").cast("string"), PRODUCTS_ENVELOPE_READ).alias("v")
    ).select("v.*")


def ingest_stream(
    spark: SparkSession,
    source_dir: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    hourly_partitions: bool = False,
    state_partitions: int | None = None,
) -> StreamingQuery:
    """S6/S7 upgrade: stream the NDJSON change log into partitioned parquet
    with exactly-once semantics.

    - watermark on event time bounds dedup state (late replays beyond 1 hour
      age out — at 100 TB unbounded state is the failure mode);
    - ``dropDuplicatesWithinWatermark`` on (id, lsn) repairs the at-least-once
      transport;
    - checkpointed file sink commits atomically per micro-batch (the Spark
      replacement for Kafka-Connect's offset topics).

    Partition layout: the reference uses hour-granularity paths
    (s3-sink.json:14). Partition count must track data volume, so the
    default here is **daily** directories with ``ingest_hour`` kept as a
    data column (hour pruning still works via min/max stats); pass
    ``hourly_partitions=True`` at volumes where an hour holds file-sized
    data. The pre-sink ``repartition`` on the partition keys gives one file
    per partition per micro-batch — the small-files guard; real deployments
    add a hash-bucket column to that repartition for write parallelism.
    """
    env = read_envelope_ndjson(spark, source_dir, streaming=True)
    prev_shuffle = None
    if state_partitions is not None:
        # State-store task count is captured from this conf at FIRST stream
        # start and pinned in the checkpoint thereafter. It should track the
        # per-batch keyed-state volume: a small CDC topic wants far fewer
        # than a batch-analytics shuffle (each state partition pays a
        # per-batch commit), while a 100 TB firehose wants hundreds. Callers
        # size it per topic. Set AFTER building the source: the loaders'
        # ensure_runtime_confs would reset it to the session default. The
        # previous value is restored right after ``start()`` — the conf is
        # only read at stream start, and leaving it mutated would silently
        # shrink every later batch query's shuffle width for the session.
        prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    part_cols = ["ingest_date", "ingest_hour"] if hourly_partitions else ["ingest_date"]
    decoded = (
        decode_envelope(env)
        .withWatermark("source_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["id", "lsn"])
        .withColumn("ingest_date", F.date_format("source_ts", "yyyy-MM-dd"))
        .withColumn("ingest_hour", F.date_format("source_ts", "HH"))
        .repartition(*part_cols)
    )
    writer = (
        decoded.writeStream.format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", checkpoint_dir)
        .partitionBy(*part_cols)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    try:
        return writer.start()
    finally:
        if prev_shuffle is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)


def rate_source_events(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """S8 live twin: a continuous synthetic event stream from the built-in
    ``rate`` source (the reference's datagen loop, but unbounded and
    backpressure-aware). Deterministic *per offset*: every attribute derives
    arithmetically from the rate source's ``value`` counter, so replays
    produce identical events — the property checkpoint recovery needs."""
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    v = F.col("value")
    return rate.select(
        v.alias("event_id"),
        F.col("timestamp").alias("ts"),
        (v % 150).alias("user_id"),
        F.element_at(
            F.array(*[F.lit(t) for t in ("click", "error", "purchase", "signup", "view")]),
            (v % 5 + 1).cast("int"),
        ).alias("event_type"),
        ((v * 37 % 50000) / F.lit(100.0)).alias("value"),
        F.to_json(F.struct((v % 100).alias("k"))).alias("props"),
    )


def windowed_event_counts(
    spark: SparkSession, events: DataFrame, gap: str | None = None
) -> DataFrame:
    """Streaming tumbling (1h) or session (gap) window aggregation with a
    watermark — the streaming twins of ``events_tumbling_hourly`` /
    ``events_sessionization`` (events_queries.py). Works on any streaming
    DataFrame with (ts, user_id, event_type, value)."""
    e = events.withWatermark("ts", "2 hours")
    if gap is None:
        win = F.window("ts", "1 hour")
        keys = [win.alias("w"), F.col("event_type")]
    else:
        win = F.session_window("ts", gap)
        keys = [win.alias("w"), F.col("user_id")]
    return e.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
