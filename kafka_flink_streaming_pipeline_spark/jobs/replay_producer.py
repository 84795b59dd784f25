"""Replay producer — the reference's Kafka stream producer re-expressed
(streaming/kafka_stream_producer.py: timestamp-ordered merge replay with
time_scale_factor pacing, SURVEY.md §3 honorable-mention entry point).

Reads a bounded events table, splits it into timestamp-contiguous
chunks, and drops them into a watch directory that `replay_stream`
consumes — optionally sleeping scaled inter-chunk deltas like the
reference producer (`time_scale_factor`, kafka_config.yml:43). With a
real broker, swap the file drop for `sinks.write_kafka` of the
`kafka_wire_frame` projection; the pacing loop is identical.

    python -m kafka_flink_streaming_pipeline_spark.jobs.replay_producer \
        --sf-dir /root/testdata/sf0.001 --out /tmp/replay --chunks 10 \
        --time-scale 0.0
"""

from __future__ import annotations

import argparse
import os
import shutil
import time

from pyspark.sql import functions as F


def main() -> None:
    p = argparse.ArgumentParser(description="timestamp-ordered replay producer")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", required=True, help="watch directory for replay_stream")
    p.add_argument("--chunks", type=int, default=10)
    p.add_argument(
        "--time-scale",
        type=float,
        default=0.0,
        help="sleep scale x (chunk time-span); 0 = no pacing (correctness runs)",
    )
    args = p.parse_args()

    from kafka_flink_streaming_pipeline_spark import get_spark
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
    from kafka_flink_streaming_pipeline_spark.sources.streaming import (
        prepare_replay_chunks,
    )

    spark = get_spark("replay-producer")
    spark.sparkContext.setLogLevel("ERROR")

    # The chunks are staged by `prepare_replay_chunks`: one shuffle
    # writes them all, and their mtimes step strictly upward in chunk
    # order. The file source replays in mtime order, so the moves below
    # keep that order (os.replace keeps the mtime); files copied in a
    # tight loop would tie and replay out of order, their rows dropped
    # behind the watermark. The driver only paces the moves.
    staging = args.out.rstrip("/") + "__staging"
    prepare_replay_chunks(
        spark, load_table(spark, args.sf_dir, "events"), staging, args.chunks
    )
    stats = sorted(
        (os.path.basename(r.path), r.n, r.lo, r.hi)
        for r in spark.read.parquet(staging)
        .groupBy(F.input_file_name().alias("path"))
        .agg(F.count("*").alias("n"), F.min("ts").alias("lo"), F.max("ts").alias("hi"))
        .collect()
    )
    os.makedirs(args.out, exist_ok=True)
    total = 0
    t_start = time.time()
    for name, n, lo, hi in stats:
        os.replace(f"{staging}/{name}", f"{args.out}/{name}")
        total += n
        if args.time_scale > 0:
            time.sleep((hi - lo).total_seconds() * args.time_scale)
        rate = total / max(time.time() - t_start, 1e-9)
        print(f"{name}: {n} rows [{lo} .. {hi}] cum_rate={rate:.1f} msg/s")
    shutil.rmtree(staging, ignore_errors=True)
    print(f"replayed {total} rows in {time.time() - t_start:.1f}s")


if __name__ == "__main__":
    main()
