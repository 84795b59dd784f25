"""Streaming job launcher — FP1 raw sink and FP2 feature jobs as a CLI
(the 02/03 shell-script entry points of the reference, SURVEY.md §3.1/3.2).

    python -m kafka_flink_streaming_pipeline_spark.jobs.stream_jobs \
        --job features --source file --chunks /tmp/replay \
        --table /tmp/features --checkpoint /tmp/ckpt

`--source kafka --topic events --brokers host:9092` switches to the
Kafka source (needs a broker); the job bodies are identical — source
choice is orthogonal to the pipeline, exactly as in the reference where
the same Flink SQL runs on any Kafka cluster.
"""

from __future__ import annotations

import argparse


def main() -> None:
    p = argparse.ArgumentParser(description="streaming jobs (FP1 raw / FP2 features)")
    p.add_argument("--job", choices=["raw", "features", "global", "fanout"], required=True)
    p.add_argument("--source", choices=["file", "kafka"], default="file")
    p.add_argument("--chunks", help="watch dir (file source)")
    p.add_argument("--topic", default="events")
    p.add_argument("--brokers", default="localhost:9092")
    p.add_argument("--table", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--watermark", default="5 seconds")
    args = p.parse_args()

    from kafka_flink_streaming_pipeline_spark import get_spark
    from kafka_flink_streaming_pipeline_spark.sources.streaming import (
        WIRE_SCHEMA,
        kafka_stream,
        replay_stream,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        drain,
        feature_stream_job,
        raw_sink_job,
    )

    spark = get_spark(f"stream-{args.job}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.source == "file":
        stream = replay_stream(spark, args.chunks, watermark=args.watermark)
    else:
        stream = kafka_stream(
            spark, args.topic, WIRE_SCHEMA, brokers=args.brokers, watermark=args.watermark
        )
    if args.job == "fanout":
        from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
            fanout_stream_job,
        )
        from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
            read_append_table,
        )

        q = fanout_stream_job(
            stream, f"{args.table}/raw", f"{args.table}/rollup", args.checkpoint
        )
        drain(q, "fanout job")
        n_raw = read_append_table(spark, f"{args.table}/raw").count()
        n_roll = spark.read.parquet(f"{args.table}/rollup").count()
        print(f"fanout: {n_raw} raw rows, {n_roll} rollup rows")
        return
    if args.job == "global":
        from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
            global_features_stream_jobs,
        )

        qs = global_features_stream_jobs(
            stream, f"{args.table}/actives", f"{args.table}/geo", args.checkpoint
        )
        for q in qs:
            drain(q, "global features job")
        n = spark.read.parquet(f"{args.table}/actives").count()
        print(f"global features: {n} active-user windows")
        return
    job = raw_sink_job if args.job == "raw" else feature_stream_job
    q = job(stream, args.table, args.checkpoint)
    drain(q, f"{args.job} job")
    n = spark.read.parquet(args.table).count()
    print(f"{args.job} table rows: {n}")


if __name__ == "__main__":
    main()
