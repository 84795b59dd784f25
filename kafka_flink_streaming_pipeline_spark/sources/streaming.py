"""Streaming sources (reference S1/S2/S10/S11 — SURVEY.md §2.1).

Ways to get a streaming DataFrame:

- `kafka_stream`: the production path, mapping the reference's Flink
  Kafka source DDL (events_postgres_sink.sql:14-32) option-for-option:
  subscribe topic, earliest offsets, JSON value decoded with a declared
  schema, event_time derived, watermark assigned. Untestable in this
  container (no broker) but the code path is the real one.
- `replay_stream`: file-based replay — the testable stand-in for the
  reference's producer replay (kafka_stream_producer.py:324-435): rows
  land as parquet chunk files and are consumed in arrival order with
  `maxFilesPerTrigger=1`, so each chunk plays the role of one
  micro-batch of Kafka messages.
- `prepare_replay_chunks`: writes a bounded events table into N
  timestamp-ordered chunk files for `replay_stream` to consume —
  timestamp-ordered merge replay like the reference producer (without
  the wall-clock sleeps; correctness tests don't need pacing).
- `producer_frames`: the keyed JSON frames a producer writes for an
  events table, which `parse_kafka_frame` decodes.
- `file_batches`: any bounded frame (documents, vectors, forget
  requests) replayed as N files, one per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_streaming_pipeline_spark.session import EPOCH_ANCHOR_MS

#: Streamed clickstream row as it appears on the wire (testdata shape).
WIRE_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def parse_kafka_frame(
    raw: DataFrame, schema: T.StructType, watermark: str = "5 seconds"
) -> DataFrame:
    """The S1/S2 decode stage, shared verbatim by `kafka_stream` (real
    broker) and `sources.kafka_replay.kafka_replay_stream` (broker-less
    wire twin): JSON value decoded with the declared schema, event_time
    derived, watermark assigned. `raw` must carry the Kafka connector's
    output columns (at least `key binary, value binary`).

    Because both sources route through THIS function, the decode /
    event-time / watermark logic is live-tested in this container even
    though `.format("kafka")` itself cannot run (no broker, no jar) —
    see tests/test_kafka_replay_source.py."""
    parsed = raw.select(
        F.col("key").cast("string").alias("kafka_key"),
        F.from_json(F.col("value").cast("string"), schema).alias("data"),
    ).select("kafka_key", "data.*")
    if "timestamp" in parsed.columns:  # reference schema: ms offset + anchor
        parsed = parsed.withColumn(
            "event_time", F.timestamp_millis(F.col("timestamp") + F.lit(EPOCH_ANCHOR_MS))
        )
    elif "ts" in parsed.columns:  # testdata shape: absolute timestamp
        parsed = parsed.withColumn("event_time", F.col("ts"))
    elif "ts_us" in parsed.columns:  # wire-exact shape: unix microseconds
        parsed = parsed.withColumn("event_time", F.timestamp_micros(F.col("ts_us")))
    return parsed.withWatermark("event_time", watermark)


#: DDL of the `producer_frames` JSON payload, for decoding it back.
FRAME_PAYLOAD_DDL = (
    "event_id bigint, ts_us bigint, user_id bigint, "
    "event_type string, value double, props string"
)


def producer_frames(events: DataFrame) -> DataFrame:
    """The S11 producer frame of each event (kafka_stream_producer.py:
    374-424): key = user_id (a keyed producer), value = JSON of the full
    row with ts as unix micros (`FRAME_PAYLOAD_DDL`), so the round trip
    is bit-exact with no datetime-format dependence. `ts` and `seq`
    (the event_id) ride along as `produce_topic_log`'s send order."""
    payload = F.struct(
        "event_id",
        F.unix_micros("ts").alias("ts_us"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    return events.select(
        F.col("user_id").cast("string").alias("key"),
        F.to_json(payload).alias("value"),
        "ts",
        F.col("event_id").alias("seq"),
    )


def kafka_stream(
    spark: SparkSession,
    topic: str,
    schema: T.StructType,
    brokers: str = "localhost:9092",
    watermark: str = "5 seconds",
    starting_offsets: str = "earliest",
) -> DataFrame:
    """S1/S2: Kafka JSON source with declared schema + watermark.

    Mirrors `CREATE TABLE events_src ... WITH ('connector'='kafka',
    'format'='json', 'scan.startup.mode'='group-offsets',
    'properties.auto.offset.reset'='earliest')` plus the computed
    `event_time` column and 5 s watermark
    (events_postgres_sink.sql:14-32).
    """
    raw = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", brokers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .load()
    )
    return parse_kafka_frame(raw, schema, watermark=watermark)


def assign_time_chunks(events: DataFrame, n_chunks: int) -> DataFrame:
    """Add a 1-based `chunk` column splitting `events` into contiguous
    time slices of ~equal row count.

    Implemented with approximate ts-quantile boundaries (one
    distributed aggregation pass; only the bounded quantile summary and
    n_chunks-1 cut values reach the driver) and a CASE bucket
    assignment — NOT `ntile() OVER (ORDER BY ts)`, whose
    empty-partition window is a single task sorting the whole table
    (the scale anti-pattern the reference's driver-loop producer has,
    kafka_stream_producer.py:324-435). relativeError stays nonzero:
    exact quantiles (0.0) would retain every value in the merged
    summary — a driver-side O(N) bottleneck in different clothes.
    Chunk sizes are approximately equal by construction (ties and the
    epsilon both shift a few rows across a boundary); replay semantics
    only need the slices time-ordered, not exactly sized."""
    with_us = events.withColumn("_us", F.unix_micros("ts").cast("double"))
    cuts = with_us.approxQuantile(
        "_us", [i / n_chunks for i in range(1, n_chunks)], 1e-4
    )
    chunk = F.lit(n_chunks)
    for i in range(len(cuts) - 1, -1, -1):
        chunk = F.when(F.col("_us") <= F.lit(cuts[i]), F.lit(i + 1)).otherwise(chunk)
    return with_us.withColumn("chunk", chunk).drop("_us")


def prepare_replay_chunks(
    spark: SparkSession, events: DataFrame, chunk_dir: str, n_chunks: int = 8
) -> None:
    """Write `events` as n timestamp-ordered single-file parquet chunks
    in a flat watch directory (chunk_0001.parquet, ...).

    One shuffle: chunk boundaries from `assign_time_chunks`, then a
    single partitioned write (each chunk hash-clusters to one task →
    one file per chunk directory), sorted WITHIN each task on ts so
    every chunk file is internally timestamp-ordered (a local sort, no
    extra shuffle) — a watermarked consumer must not see intra-chunk
    disorder the original table didn't have. The flat-dir copies run
    in chunk order so file mtimes match replay order (Spark's file
    stream source orders by modification time)."""
    import glob
    import os
    import shutil

    os.makedirs(chunk_dir, exist_ok=True)
    staging = chunk_dir.rstrip("/") + "__staging"
    (
        assign_time_chunks(events, n_chunks)
        .repartition(n_chunks, "chunk")
        # sort on (chunk, ts), not ts alone: the dynamic-partition
        # writer requires a sort on the partition column and would
        # insert its own, preserving ts order only by luck of a stable
        # in-memory sort; leading with chunk satisfies the writer's
        # required ordering directly so no re-sort is inserted
        .sortWithinPartitions("chunk", "ts")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(staging)
    )
    import time

    # Backdate the ladder so every chunk mtime is strictly in the PAST
    # (base + n_chunks < now). The r13 order-dependent streaming-test
    # flake was exactly this race: chunk mtimes ran up to n_chunks
    # seconds into the future, so a sentinel/extra file copied into the
    # watch dir within that window (fast warm-JVM test runs) sorted
    # BEFORE the last real chunks in the file source's mtime order —
    # its far-future watermark then dropped the newest real windows as
    # late data. Backdating keeps the strictly-increasing replay order
    # AND guarantees any later-created file replays after every chunk.
    base = time.time() - (n_chunks + 1)
    for i in range(1, n_chunks + 1):
        parts = glob.glob(f"{staging}/chunk={i}/part-*.parquet")
        if not parts:  # quantile ties can leave a trailing chunk empty
            continue
        if len(parts) != 1:  # load-bearing: a split chunk would replay
            # partially; RuntimeError, not assert (stripped under -O)
            raise RuntimeError(f"chunk {i} not clustered to one file: {parts}")
        dst = f"{chunk_dir}/chunk_{i:04d}.parquet"
        shutil.copy(parts[0], dst)
        # strictly increasing mtimes: the file stream source replays in
        # modification-time order, and sub-ms copies would tie
        os.utime(dst, (base + i, base + i))
    shutil.rmtree(staging, ignore_errors=True)


def replay_stream(
    spark: SparkSession, chunk_dir: str, watermark: str = "5 seconds"
) -> DataFrame:
    """File-source replay: one chunk file per micro-batch, declared
    schema, event_time + watermark — semantically the kafka_stream
    shape without a broker."""
    return (
        spark.readStream.schema(WIRE_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(chunk_dir)
        .withColumn("event_time", F.col("ts"))
        .withWatermark("event_time", watermark)
    )


def file_batches(
    spark: SparkSession, frame: DataFrame, in_dir: str, n: int
) -> DataFrame:
    """Write `frame` as `n` parquet files under `in_dir` and return a
    file stream over them that admits one file per trigger: a bounded
    input that replays as n micro-batches (unordered — for jobs whose
    result does not depend on how rows are batched)."""
    frame.repartition(n).write.parquet(in_dir)
    return (
        spark.readStream.schema(frame.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
