"""Run the reference's full streaming topology end-to-end, broker-less:

    events table ──► keyed producer frames (S11 wire: key=user, JSON)
                 ──► partitioned topic log            (produce_topic_log)
                 ──► kafka_replay source, consumer group "pipeline"
                       (7-col Kafka wire schema, per-partition offsets,
                        group-offsets cursor tracking alongside)
                 ──► parse_kafka_frame (the S1 decode stage)
                 ──► fanout_stream_job: ONE read, TWO sinks
                       ├─► raw events append table  (events_postgres_sink)
                       └─► 5-min per-type rollup    (keyed upsert)

This is the pipeline the reference runs as kafka_stream_producer.py →
Kafka → two Flink jobs (events_postgres_sink.sql, redis feature sink),
composed from the engine's own parts, with the broker replaced by the
wire-contract replay source — the ONLY line of the reference topology
this container cannot execute is the broker dial itself.

The run verifies itself: raw table == events exactly (no loss, no
dupes), rollup == batch recompute, and a
second segment produced while the consumer is DOWN is picked up by the
restarted consumer exactly where it left off (engine checkpoint; the
consumer-group cursor — the reference's scan.startup.mode=
group-offsets, proven separately in tests/test_kafka_replay_source.py —
tracks alongside and is printed at the end).

Run:  python examples/kafka_pipeline_end_to_end.py \
          [--sf-dir /root/testdata/sf0.001] [--out /tmp/kfsp_kafka_e2e]
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", default="/tmp/kfsp_kafka_e2e")
    p.add_argument("--partitions", type=int, default=4)
    args = p.parse_args()

    from pyspark.sql import functions as F

    from kafka_flink_streaming_pipeline_spark import get_spark
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
    from kafka_flink_streaming_pipeline_spark.sources.kafka_replay import (
        kafka_replay_stream,
        produce_topic_log,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        drain,
        fanout_stream_job,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
        read_append_table,
    )

    spark = get_spark("kfsp-kafka-e2e")
    spark.sparkContext.setLogLevel("ERROR")

    shutil.rmtree(args.out, ignore_errors=True)
    log = os.path.join(args.out, "topic_log")
    raw_p = os.path.join(args.out, "raw_events")
    rollup_p = os.path.join(args.out, "rollup_5m")
    ck = os.path.join(args.out, "checkpoint")

    events = load_table(spark, args.sf_dir, "events")
    n_events = events.count()

    def frames(df):
        return df.select(
            F.col("user_id").cast("string").alias("key"),
            F.to_json(
                F.struct(
                    F.col("event_id"),
                    F.unix_micros("ts").alias("ts_us"),
                    F.col("user_id"),
                    F.col("event_type"),
                    F.col("value"),
                    F.col("props"),
                )
            ).alias("value"),
            F.col("ts"),
            F.col("event_id").alias("seq"),
        )

    # ---- produce: two segments, like a producer that keeps running ----
    early = events.filter(F.col("event_id") % 5 != 0)
    late = events.filter(F.col("event_id") % 5 == 0)
    produce_topic_log(
        frames(early), log, n_partitions=args.partitions,
        segment=0, order_cols=("ts", "seq"),
    )
    print(f"produced segment 0: {early.count()} frames across "
          f"{args.partitions} partitions")

    payload_ddl = (
        "event_id bigint, ts_us bigint, user_id bigint, "
        "event_type string, value double, props string"
    )

    def consume():
        # no rate cap here: fanout_stream_job triggers availableNow,
        # where the engine captures latestOffset once (see
        # sources/kafka_replay.py docstring) — rate-capped draining
        # under a processing-time trigger is demonstrated by
        # tests/test_kafka_replay_source.py, and perfbench stream_ingest
        # measures the sustained rate
        stream = kafka_replay_stream(
            spark, log, payload_ddl, group_id="pipeline"
        ).drop("kafka_key")
        return fanout_stream_job(stream, raw_p, rollup_p, ck)

    # ---- consume run 1: drains segment 0, then terminates ------------
    drain(consume(), "consumer run 1")
    print(f"consumer run 1 drained {read_append_table(spark, raw_p).count()} rows")

    # ---- more production while the consumer is DOWN -------------------
    produce_topic_log(
        frames(late), log, n_partitions=args.partitions,
        segment=1, order_cols=("ts", "seq"),
    )
    print(f"produced segment 1 while consumer down: {late.count()} frames")

    # ---- consume run 2: same group resumes from the group cursor ------
    drain(consume(), "consumer run 2")

    # ---- verify: the pipeline is lossless and the rollup exact --------
    raw = read_append_table(spark, raw_p).drop("batch_id")
    assert raw.count() == n_events, (raw.count(), n_events)
    assert raw.select("event_id").distinct().count() == n_events
    got = {
        (r.window_end, r.event_type, r.n)
        for r in spark.read.parquet(rollup_p).collect()
    }
    want = {
        (r.window_end, r.event_type, r.n)
        for r in events.groupBy(
            F.window("ts", "5 minutes").alias("w"), "event_type"
        )
        .agg(F.count("*").alias("n"))
        .select(F.col("w.end").alias("window_end"), "event_type", "n")
        .collect()
    }
    assert got == want, "rollup != batch recompute"
    import json

    cursor = json.load(open(os.path.join(log, "_groups", "pipeline.json")))
    print(f"raw table: {n_events} rows exactly once; rollup windows: "
          f"{len(got)} all equal to batch recompute")
    print(f"consumer-group cursor at end: {cursor}")
    print(f"artifacts under {args.out}: raw_events/ rollup_5m/ topic_log/")


if __name__ == "__main__":
    main()
