"""Streaming sustained-throughput probe.

The nine writeStream-produced registry entries are CORRECTNESS
witnesses at 4 micro-batches; this tool measures the heaviest
foreachBatch jobs as a RATE: documents stream through
`bloom_gate_stream_job` (exact-span contamination gate: span-hash →
broadcast Bloom probe → verify join on bloom hits) and
`ann_ingest_stream_job` equivalents at sf0.1 with N micro-batches,
with the package's own `RateListener` attached — the same scrape
surface `prometheus_text` serves — and reports sustained rows/s and
per-trigger latency percentiles from the listener's progress events.

Run:  python tools/stream_rate_bench.py [n_batches] [sf_dir]
Prints one JSON line per job and a final summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> int:
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 16
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )

    from pyspark.sql import functions as F

    from kafka_flink_streaming_pipeline_spark import get_spark
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
    from kafka_flink_streaming_pipeline_spark.sources.streaming import file_batches
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        bloom_gate_stream_job,
        build_bloom_index,
        dedup_index_stream_job,
        drain,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.monitoring import (
        RateListener,
    )

    spark = get_spark("kfsp-stream-rate")
    spark.sparkContext.setLogLevel("ERROR")

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    results = {}

    def run(job_name: str, start_job) -> None:
        listener = RateListener()
        spark.streams.addListener(listener)
        work = tempfile.mkdtemp(prefix=f"rate_{job_name}_")
        try:
            drain(start_job(work), job_name)
            # progress events are delivered asynchronously; drain them
            import time as _t

            deadline = _t.time() + 30
            while len(listener.batches) < n_batches and _t.time() < deadline:
                _t.sleep(0.2)
        finally:
            spark.streams.removeListener(listener)
            shutil.rmtree(work, ignore_errors=True)
        lat = sorted(b["duration_ms"] or 0 for b in listener.batches)
        n = len(lat)
        row = {
            "job": job_name,
            "micro_batches": n,
            "rows": listener.total_rows(),
            "sustained_rows_per_sec": round(listener.throughput(), 1),
            "trigger_ms_p50": lat[n // 2] if n else None,
            "trigger_ms_max": lat[-1] if n else None,
        }
        results[job_name] = row
        print(json.dumps(row), flush=True)

    def start_bloom(work: str):
        index_path = os.path.join(work, "index")
        build_bloom_index(docs.filter(F.col("doc_id") % 3 != 0), index_path)
        stream = file_batches(
            spark,
            docs.filter(F.col("doc_id") % 3 == 0),
            os.path.join(work, "incoming"),
            n_batches,
        )
        return bloom_gate_stream_job(
            stream,
            index_path,
            os.path.join(work, "verdicts"),
            os.path.join(work, "ckpt"),
        )

    def start_dedup(work: str):
        from kafka_flink_streaming_pipeline_spark.operators.dedup import lsh_bands

        index_path = os.path.join(work, "index")
        lsh_bands(docs.filter(F.col("doc_id") % 3 != 0)).write.parquet(index_path)
        stream = file_batches(
            spark,
            docs.filter(F.col("doc_id") % 3 == 0),
            os.path.join(work, "incoming"),
            n_batches,
        )
        return dedup_index_stream_job(
            stream,
            index_path,
            os.path.join(work, "flags"),
            os.path.join(work, "ckpt"),
        )

    def start_ann_ingest(work: str):
        from kafka_flink_streaming_pipeline_spark.operators.similarity import (
            build_ann_index,
        )
        from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
            ann_ingest_stream_job,
        )

        emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        index_path = os.path.join(work, "index")
        # base index from 2/3 of the store (centroid seeds included),
        # seeded at batch=-1 — the maintained index's two-level
        # batch/cell layout (the test_ann_ingest contract); the
        # remaining third streams in as index maintenance
        build_ann_index(
            emb.filter((F.col("vec_id") % 3 != 0) | (F.col("vec_id") < 64)),
            os.path.join(index_path, "batch=-1"),
        )
        stream = file_batches(
            spark,
            emb.filter((F.col("vec_id") % 3 == 0) & (F.col("vec_id") >= 64)),
            os.path.join(work, "incoming"),
            n_batches,
        )
        return ann_ingest_stream_job(
            stream, index_path, os.path.join(work, "ckpt")
        )

    def run_polled(job_name: str, start_job, expected_rows: int, out_of) -> None:
        """Like run(), for jobs on sources without availableNow
        admission control (the kafka_replay wire source): drive with a
        continuous trigger, poll the sink row count to `expected_rows`,
        then stop. `out_of(work)` -> sink path to poll."""
        import time as _t

        listener = RateListener()
        spark.streams.addListener(listener)
        work = tempfile.mkdtemp(prefix=f"rate_{job_name}_")
        try:
            q = start_job(work)
            sink = out_of(work)
            deadline = _t.time() + 600
            while _t.time() < deadline:
                try:
                    if spark.read.parquet(sink).count() >= expected_rows:
                        break
                except Exception:
                    pass
                _t.sleep(0.5)
            q.stop()
            q.awaitTermination(60)
            got = spark.read.parquet(sink).count()
            if got < expected_rows:
                raise TimeoutError(f"{job_name}: {got}/{expected_rows} in 600s")
            deadline = _t.time() + 30
            while len(listener.batches) < n_batches and _t.time() < deadline:
                _t.sleep(0.2)
        finally:
            spark.streams.removeListener(listener)
            shutil.rmtree(work, ignore_errors=True)
        lat = sorted(b["duration_ms"] or 0 for b in listener.batches)
        n = len(lat)
        row = {
            "job": job_name,
            "micro_batches": n,
            "rows": listener.total_rows(),
            "sustained_rows_per_sec": round(listener.throughput(), 1),
            "trigger_ms_p50": lat[n // 2] if n else None,
            "trigger_ms_max": lat[-1] if n else None,
        }
        results[job_name] = row
        print(json.dumps(row), flush=True)

    def start_kafka_wire(work: str):
        # the Kafka-wire consume path as a RATE — producer frames
        # through the kafka_replay source (offset-planned delivery,
        # maxOffsetsPerTrigger-capped micro-batches) and the S1 decode
        # stage into a parquet sink; compare against the reference
        # producer's ~536 msg/s Prometheus baseline (BASELINE.md)
        from kafka_flink_streaming_pipeline_spark.sources.kafka_replay import (
            kafka_replay_stream,
            produce_topic_log,
        )

        events = load_table(spark, sf_dir, "events")
        frame = events.select(
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
        log = os.path.join(work, "log")
        produce_topic_log(frame, log, n_partitions=4, order_cols=("ts", "seq"))
        cap = max(1, events.count() // n_batches)
        stream = kafka_replay_stream(
            spark,
            log,
            "event_id bigint, ts_us bigint, user_id bigint, "
            "event_type string, value double, props string",
            max_records_per_trigger=cap,
            group_id="rate_bench",  # group cursor => cap binds from batch 0
        )
        return (
            stream.select("event_id", "event_type", "value")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", os.path.join(work, "out"))
            .option("checkpointLocation", os.path.join(work, "ckpt"))
            .trigger(processingTime="0 seconds")
            .start()
        )

    # optional argv[3]: comma-separated job filter (sf1 runs are long;
    # lets a scaling probe time one job without paying for the others)
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
    jobs = [
        ("bloom_gate", start_bloom),
        ("dedup_gate", start_dedup),
        # sustained-rate + per-trigger
        # index-maintenance latency for the streaming IVF ingest
        ("ann_ingest", start_ann_ingest),
    ]
    for name, starter in jobs:
        if only is None or name in only:
            run(name, starter)
    if only is None or "kafka_wire" in only:
        n_events = load_table(spark, sf_dir, "events").count()
        run_polled(
            "kafka_wire",
            start_kafka_wire,
            n_events,
            lambda work: os.path.join(work, "out"),
        )

    print(
        json.dumps(
            {"sf_dir": sf_dir, "n_batches": n_batches, "jobs": results}
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
