"""Kafka-wire replay source (T7/S1 semantics live, broker-less).

The `kafka_replay` Python Data Source reproduces the spark-sql-kafka
connector's CONTRACT — 7-column wire schema, per-partition ordered
logs with dense offsets, startingOffsets earliest/JSON,
maxOffsetsPerTrigger-style caps, engine-checkpointed resume — so these
tests witness the offset semantics the reference relies on
(`scan.startup.mode`, consumer-group resume:
flink-jobs/events_postgres_sink.sql:24-31) executing for real, and the
S1 decode stage (`parse_kafka_frame`) running on a live stream.
"""

from __future__ import annotations

import json

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hypothesis import given, settings
from hypothesis import strategies as st

from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
from kafka_flink_streaming_pipeline_spark.sources.kafka_replay import (
    register_kafka_replay,
    distribute_cap,
    kafka_replay_stream,
    produce_topic_log,
)
from kafka_flink_streaming_pipeline_spark.sources.streaming import (
    FRAME_PAYLOAD_DDL,
    producer_frames,
)

from tests.conftest import SF_SMOKE

N_PARTS = 4


def _produce(spark, log_dir, segment=0, pred=None):
    events = load_table(spark, SF_SMOKE, "events")
    if pred is not None:
        events = events.filter(pred)
    produce_topic_log(
        producer_frames(events), log_dir, n_partitions=N_PARTS, segment=segment,
        order_cols=("ts", "seq"),
    )
    return events


def _run_to_parquet(stream, out, ck, max_sec=300):
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(max_sec), "stream did not drain in time"


def test_roundtrip_exact_and_per_partition_order(spark, tmp_path):
    """produce → kafka_replay → parse_kafka_frame must return every
    event exactly once with values intact (wire round-trip, VERDICT
    missing #1 minus the broker dial); the raw wire must show dense
    per-partition offsets and ts-monotone log order (what a keyed
    producer + one-partition-one-consumer Kafka guarantees)."""
    log = str(tmp_path / "log")
    events = _produce(spark, log)
    n = events.count()

    # raw wire: offsets dense from 0 per partition, ts monotone in offset
    register_kafka_replay(spark)
    raw_q_out = str(tmp_path / "raw_out")
    raw = (
        spark.readStream.format("kafka_replay").option("path", log).load()
    )
    _run_to_parquet(raw, raw_q_out, str(tmp_path / "raw_ck"))
    wire = spark.read.parquet(raw_q_out)
    assert wire.count() == n
    per = (
        wire.groupBy("partition")
        .agg(F.min("offset"), F.max("offset"), F.count("*"))
        .collect()
    )
    assert {r[0] for r in per} == set(range(N_PARTS))
    for _pid, lo, hi, cnt in per:
        assert lo == 0 and hi == cnt - 1  # dense, zero-based
    disorder = (
        wire.withColumn(
            "prev_ts",
            F.lag("timestamp").over(Window.partitionBy("partition").orderBy("offset")),
        )
        .filter(F.col("prev_ts") > F.col("timestamp"))
        .count()
    )
    assert disorder == 0
    # key-hash partitioning: a key never spans partitions
    assert (
        wire.select(F.col("key").cast("string").alias("k"), "partition")
        .groupBy("k").agg(F.count_distinct("partition").alias("np"))
        .filter("np > 1").count() == 0
    )

    # parsed round-trip through the SAME S1 decode stage kafka_stream uses
    out = str(tmp_path / "out")
    stream = kafka_replay_stream(spark, log, FRAME_PAYLOAD_DDL)
    _run_to_parquet(stream, out, str(tmp_path / "ck"))
    got = spark.read.parquet(out).select(
        "event_id",
        F.timestamp_micros("ts_us").alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    assert got.count() == n
    assert got.exceptAll(events).count() == 0
    assert events.exceptAll(got).count() == 0


def test_starting_offsets_json_skips_exact_prefix(spark, tmp_path):
    """The connector's per-partition JSON startingOffsets shape: start
    partition 0 at offset 7 and partition 2 at 3 — delivery must begin
    at EXACTLY those offsets, everything else from 0."""
    log = str(tmp_path / "log")
    _produce(spark, log)
    register_kafka_replay(spark)
    starting = json.dumps({"events": {"0": 7, "2": 3}})
    raw = (
        spark.readStream.format("kafka_replay")
        .option("path", log)
        .option("startingOffsets", starting)
        .load()
    )
    out = str(tmp_path / "out")
    _run_to_parquet(raw, out, str(tmp_path / "ck"))
    got = spark.read.parquet(out)
    mins = {r[0]: r[1] for r in got.groupBy("partition").agg(F.min("offset")).collect()}
    assert mins == {0: 7, 1: 0, 2: 3, 3: 0}


def test_rate_limit_and_checkpoint_restart_exactly_once(spark, tmp_path):
    """maxRecordsPerTrigger caps every planned micro-batch; stopping
    mid-stream, producing a NEW segment while down, and restarting from
    the checkpoint delivers everything exactly once — the T7
    consumer-group resume semantics (scan.startup.mode=group-offsets)
    executed against the engine's offset log."""
    log = str(tmp_path / "log")
    first = _produce(spark, log, segment=0, pred=F.col("event_id") % 3 != 0)
    cap = 40

    register_kafka_replay(spark)

    def start():
        raw = (
            spark.readStream.format("kafka_replay")
            .option("path", log)
            .option("maxRecordsPerTrigger", str(cap))
            .load()
        )
        return (
            raw.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(processingTime="0 seconds")
            .start()
        )

    q = start()
    # let a few capped batches commit, then stop mid-stream
    import time

    deadline = time.time() + 120
    while time.time() < deadline:
        prog = q.lastProgress
        if prog and prog["batchId"] >= 3:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    # new records arrive while the consumer is down (a later segment:
    # existing offsets never move, logs only extend)
    _produce(spark, log, segment=1, pred=F.col("event_id") % 3 == 0)

    q = start()
    n_all = load_table(spark, SF_SMOKE, "events").count()
    deadline = time.time() + 240
    while time.time() < deadline:
        try:
            if spark.read.parquet(str(tmp_path / "out")).count() >= n_all:
                break
        except Exception:
            pass
        time.sleep(1)
    q.stop()
    q.awaitTermination(60)

    got = spark.read.parquet(str(tmp_path / "out"))
    # exactly once: every event exactly one wire record, no offset dupes
    assert got.count() == n_all
    assert got.select("partition", "offset").distinct().count() == n_all
    # batch sizes reconstructed from the engine's offset log (the
    # source of truth for planning): without a consumer group the cap
    # binds every batch except at most one per READER GENERATION (two
    # here: fresh start + restart) — the Python API's latestOffset()
    # has no admission-control handshake and may be asked for available
    # offsets before the reader learns any position, where the safe
    # degradation is one uncapped batch (see
    # KafkaReplayStreamReader.__init__). The group-offsets test below
    # pins the strict every-batch cap.
    import glob as g

    offs = sorted(
        g.glob(str(tmp_path / "ck" / "offsets" / "*")),
        key=lambda p: int(p.rsplit("/", 1)[1]),
    )
    sizes, prev = [], None
    for path in offs:
        lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
        payload = json.loads(lines[-1])
        per_pid = payload["events"] if "events" in payload else payload
        cur = {k: int(v) for k, v in per_pid.items()}
        if prev is not None:
            sizes.append(sum(cur[k] - prev.get(k, 0) for k in cur))
        prev = cur
    over = [s for s in sizes if s > cap]
    assert len(over) <= 2, f"more uncapped batches than reader generations: {sizes}"


@settings(max_examples=300, deadline=None)
@given(
    parts=st.dictionaries(
        st.integers(min_value=0, max_value=12).map(str),
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # cur
            st.integers(min_value=0, max_value=10_000),  # extra lag
        ),
        min_size=1,
        max_size=13,
    ),
    cap=st.integers(min_value=1, max_value=30_000),
)
def test_distribute_cap_invariants(parts, cap):
    """The admission-control arithmetic, property-tested as a pure
    function (no Spark): never regresses below the current position,
    never exceeds the log, releases EXACTLY min(cap, total lag) — the
    cap is fully used whenever lag remains (the single remainder pass
    is sufficient: at least `remainder` partitions have a nonzero
    fractional share), and the result is deterministic."""
    cur = {k: c for k, (c, _) in parts.items()}
    lens = {k: c + extra for k, (c, extra) in parts.items()}
    end = distribute_cap(cur, lens, cap)

    assert set(end) == set(lens)
    for k in lens:
        assert cur[k] <= end[k] <= lens[k], (k, cur[k], end[k], lens[k])
    released = sum(end[k] - cur[k] for k in lens)
    total_lag = sum(lens[k] - cur[k] for k in lens)
    assert released == min(cap, total_lag), (released, cap, total_lag)
    assert end == distribute_cap(cur, lens, cap)  # deterministic


def test_available_now_with_cap_drains_capped_prefix(spark, tmp_path):
    """Pins the documented contract difference vs the real connector
    (sources/kafka_replay.py docstring): under trigger availableNow the
    engine captures this reader's latestOffset ONCE — Python sources
    get no admission-control handshake — so a capped availableNow run
    drains exactly min(cap, lag) records and terminates; the next run
    in the same checkpoint continues from there. If a future pyspark
    adds the handshake and this starts draining the full log in capped
    batches, this test fails and the caveat can be removed."""
    log = str(tmp_path / "log")
    events = _produce(spark, log)
    n_all = events.count()
    cap = 100
    assert n_all > 2 * cap

    register_kafka_replay(spark)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def run_once():
        raw = (
            spark.readStream.format("kafka_replay")
            .option("path", log)
            .option("maxRecordsPerTrigger", str(cap))
            .option("groupId", "g_an")
            .load()
        )
        q = (
            raw.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    run_once()
    first = spark.read.parquet(out).count()
    run_once()
    second = spark.read.parquet(out).count()
    assert first == cap and second == 2 * cap, (first, second)
    # no dupes across the two runs
    assert spark.read.parquet(out).select("partition", "offset").distinct().count() == 2 * cap


def test_group_offsets_cap_binds_on_every_batch(spark, tmp_path):
    """With a consumer group (the reference's scan.startup.mode=
    group-offsets, events_postgres_sink.sql:24-31), the committed
    cursor persists in the group sidecar, so maxRecordsPerTrigger binds
    on EVERY planned batch — including the first and every batch after
    a restart (without a group, the first batch of a fresh reader is
    uncapped by design: the Python API never tells the reader the
    engine's committed position). Also proves group-offsets resume:
    a NEW query in the same group with a FRESH checkpoint starts from
    the group cursor, not from earliest."""
    log = str(tmp_path / "log")
    events = _produce(spark, log)
    n_all = events.count()
    cap = 50

    register_kafka_replay(spark)

    def start(ck, out):
        raw = (
            spark.readStream.format("kafka_replay")
            .option("path", log)
            .option("maxRecordsPerTrigger", str(cap))
            .option("groupId", "g1")
            .load()
        )
        return (
            raw.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(processingTime="0 seconds")
            .start()
        )

    import time

    out1 = str(tmp_path / "out1")
    q = start(str(tmp_path / "ck1"), out1)
    deadline = time.time() + 120
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 4:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    # every planned batch respected the cap — no uncapped first batch
    import glob as g

    def batch_sizes(ck, base=None):
        offs = sorted(
            g.glob(str(tmp_path / ck / "offsets" / "*")),
            key=lambda p: int(p.rsplit("/", 1)[1]),
        )
        sizes, prev = [], dict(base or {})
        for path in offs:
            lines = [l for l in open(path).read().splitlines() if l.startswith("{")]
            per_pid = json.loads(lines[-1])
            per_pid = per_pid.get("events", per_pid)
            cur = {k: int(v) for k, v in per_pid.items()}
            sizes.append(sum(cur[k] - prev.get(k, 0) for k in cur))
            prev = cur
        return sizes, prev

    sizes1, _ = batch_sizes("ck1")
    assert sizes1 and all(s <= cap for s in sizes1), sizes1
    # run 2's authoritative resume point is the GROUP CURSOR (written
    # at planning time; ck1's offsets log can be one batch ahead if
    # stop() landed between the engine's offset-log write and its
    # partitions() call)
    end1 = {k: int(v) for k, v in json.load(open(f"{log}/_groups/g1.json")).items()}
    delivered1 = sum(end1.values())
    assert 0 < delivered1 < n_all  # stopped mid-stream

    # same group, FRESH checkpoint: initialOffset = group cursor (not
    # earliest), so the already-delivered prefix is NOT re-delivered
    out2 = str(tmp_path / "out2")
    q = start(str(tmp_path / "ck2"), out2)
    deadline = time.time() + 240
    while time.time() < deadline:
        try:
            if spark.read.parquet(out2).count() >= n_all - delivered1:
                break
        except Exception:
            pass
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    sizes2, _ = batch_sizes("ck2", base=end1)
    assert all(s <= cap for s in sizes2), sizes2
    got2 = spark.read.parquet(out2)
    assert got2.count() == n_all - delivered1
    # run 2's first delivered offset per partition is exactly run 1's
    # committed end — the group cursor, not earliest
    first2 = {
        r[0]: r[1] for r in got2.groupBy("partition").agg(F.min("offset")).collect()
    }
    for pid, off in first2.items():
        assert off == end1[str(pid)], (pid, off, end1)
