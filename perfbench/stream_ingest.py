"""`stream_ingest`: the reference topology over the Kafka-wire replay log.

FP1 (`raw_passthrough` -> `upsert_sink` on ``event_id``) and FP2
(`user_features_5m` -> `upsert_sink` on ``(uuid, window_end)``) run as
two streaming queries over `kafka_replay_stream`, each with its own
checkpoint and the 5 s watermark, as the reference runs two Flink jobs.
They use a processing-time trigger (the package's `raw_sink_job` and
`feature_stream_job` are fixed to availableNow, which cannot follow a
growing log) and otherwise call the same transforms and sink.

Phase A (closed loop): about 80 % of the events form a backlog that was
produced while the consumer was down; both queries drain it.
Phase B (open loop): a generator thread appends one 0.5 s tick of
events at the reference's 536 msg/s on schedule, whether or not the
consumer keeps up. Each tick is timed from its due time to the end of
the first trigger, in each query, whose end offsets cover it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from datetime import datetime, timezone

import numpy as np

from inputs import WireEvents
from probe import EngineCounters, median, pct, probe

RATE = 536.0  # msg/s, the reference producer (528.35 + 7.42)
TICK_S = 0.5
PARTITIONS = 4
USERS = 750
TICK_LIMIT_S = 10.0  # the reference sink's checkpoint interval
CATCHUP_LIMIT_S = 60.0
WARMUP_TICKS = 4  # rows both queries drain before the timed catch-up
# Processing-time triggers fire on the wall-clock grid of multiples of
# the interval. With an interval about twice a live trigger's duration,
# FP1 and FP2 start every trigger together; with a shorter one they run
# back to back, drift apart by a random phase, and a tick's wait for the
# later of the two commits varies by ±15 % from run to run. The
# generator is phased on the same grid (backlog published just before a
# grid point, ticks due half a tick after one), so every run samples the
# same waits.
TRIGGER_S = 5
PUBLISH_LEAD_S = 0.1


def _next_grid(t: float) -> float:
    """The first trigger grid point after wall-clock time `t`."""
    return (int(t // TRIGGER_S) + 1) * TRIGGER_S


def _sleep_until(t: float) -> None:
    delay = t - time.time()
    if delay > 0:
        time.sleep(delay)


def _commit_time(p: dict) -> float:
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=timezone.utc).timestamp() + p["durationMs"]["triggerExecution"] / 1e3


def _end_offsets(p: dict) -> dict[str, int]:
    end = p["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return {k: int(v) for k, v in (end or {}).get("events", {}).items()}


def _covers(end: dict[str, int], need: dict[str, int]) -> bool:
    return all(end.get(k, 0) >= v for k, v in need.items())


def _first_commit(progress: list[dict], need: dict[str, int]) -> float | None:
    for p in progress:
        if _covers(_end_offsets(p), need):
            return _commit_time(p)
    return None


def _publish(side_dir: str, log_dir: str) -> None:
    """Move the staged backlog segment of every partition into the log."""
    for p in os.listdir(side_dir):
        for f in os.listdir(os.path.join(side_dir, p)):
            os.replace(os.path.join(side_dir, p, f), os.path.join(log_dir, p, f))


class _Queries:
    """FP1 and FP2 over one topic log, with optional per-call timing of
    the upsert sink."""

    def __init__(self, spark, work: str, log_dir: str, trace: bool):
        from pyspark.sql import functions as F

        from kafka_flink_streaming_pipeline_spark.sources.kafka_replay import kafka_replay_stream
        from kafka_flink_streaming_pipeline_spark.sources.streaming import WIRE_SCHEMA
        from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
            raw_passthrough,
            user_features_5m,
        )
        from kafka_flink_streaming_pipeline_spark.streaming.upsert import upsert_sink

        self.fp1_path, self.fp2_path = f"{work}/fp1_raw", f"{work}/fp2_features"
        self.upsert_ms: dict[str, list[float]] = {"fp1": [], "fp2": []}
        self.trace_s = 0.0  # time spent in the timing wrappers themselves
        sink1 = upsert_sink(spark, self.fp1_path, ["event_id"], "act_load_time")
        sink2 = upsert_sink(spark, self.fp2_path, ["uuid", "window_end"], "batch_seq")

        def timed(name, sink):
            if not trace:
                return sink

            def call(df, bid):
                t0 = time.perf_counter()
                sink(df, bid)
                t1 = time.perf_counter()
                self.upsert_ms[name].append((t1 - t0) * 1e3)
                self.trace_s += time.perf_counter() - t1

            return call

        fp1_sink = timed("fp1", sink1)
        fp2_sink = timed("fp2", lambda df, bid: sink2(df.withColumn("batch_seq", F.lit(bid)), bid))
        trigger = f"{TRIGGER_S} seconds"
        self.fp1 = (
            raw_passthrough(kafka_replay_stream(spark, log_dir, WIRE_SCHEMA))
            .writeStream.outputMode("append")
            .foreachBatch(fp1_sink)
            .option("checkpointLocation", f"{work}/ckpt_fp1")
            .trigger(processingTime=trigger)
            .start()
        )
        self.fp2 = (
            user_features_5m(kafka_replay_stream(spark, log_dir, WIRE_SCHEMA))
            .withColumn("batch_seq", F.lit(0).cast("long"))
            .writeStream.outputMode("update")
            .foreachBatch(fp2_sink)
            .option("checkpointLocation", f"{work}/ckpt_fp2")
            .trigger(processingTime=trigger)
            .start()
        )

    @property
    def both(self):
        return (self.fp1, self.fp2)

    def covered(self, need: dict[str, int]) -> bool:
        for q in self.both:
            if q.exception() is not None:
                raise RuntimeError(f"streaming query failed: {q.exception()}")
            p = q.lastProgress
            if p is None or not _covers(_end_offsets(json.loads(p.json)), need):
                return False
        return True

    def busy(self) -> bool:
        return any(q.status["isTriggerActive"] for q in self.both)

    def wait_covered(self, need: dict[str, int], deadline: float) -> bool:
        while time.time() < deadline:
            if self.covered(need):
                return True
            time.sleep(0.02)
        return False

    def stop(self) -> list[list[dict]]:
        out = []
        for q in self.both:
            out.append([json.loads(p.json) for p in q.recentProgress])
            q.stop()
        return out


def _catch_up(spark, work: str, log_dir: str, side_dir: str, need: list[dict], trace: bool):
    """Start both queries, let them drain the warm-up rows, then publish
    the backlog just before a trigger grid point at which both are idle,
    and wait until both have committed it. Returns (queries, time the
    backlog was published, whether it was committed in time)."""
    qs = _Queries(spark, work, log_dir, trace)
    if not qs.wait_covered(need[0], time.time() + CATCHUP_LIMIT_S):
        return qs, time.time(), False
    # FP2's watermark moved, so it runs one batch without new rows after
    # the warm-up; the backlog must not queue behind it
    while True:
        while qs.busy():
            time.sleep(0.02)
        _sleep_until(_next_grid(time.time() + PUBLISH_LEAD_S) - PUBLISH_LEAD_S)
        if not qs.busy():
            break
    t0 = time.time()
    _publish(side_dir, log_dir)
    return qs, t0, qs.wait_covered(need[1], t0 + CATCHUP_LIMIT_S)


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from kafka_flink_streaming_pipeline_spark.sources.streaming import (
        WIRE_SCHEMA,
        parse_kafka_frame,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import user_features_5m

    spark = ctx.spark
    rng = np.random.default_rng(ctx.seed)
    split = float(rng.uniform(0.79, 0.81))
    ticks = int(round(ctx.seconds / TICK_S))
    per_tick = int(RATE * TICK_S)
    backlog = int(round(ticks * per_tick * split / (1 - split)))
    warm = WARMUP_TICKS * per_tick
    n = backlog + ticks * per_tick

    # --- setup: generate the wire frames and stage the topic log --------
    def stage(i: int) -> tuple[str, str, WireEvents]:
        # rows [0, warm) are in the log when the consumer starts; rows
        # [warm, backlog) are published in one append when catch-up starts
        ev = WireEvents(np.random.default_rng(ctx.seed), n, RATE, USERS, PARTITIONS)
        log_dir, side_dir = f"{ctx.work}/topic_{i}", f"{ctx.work}/backlog_{i}"
        ev.append_segment(log_dir, 0, warm, segment=0)
        ev.append_segment(side_dir, warm, backlog, segment=1)
        return log_dir, side_dir, ev

    staged = ctx.setup_repeated(stage)
    log_dir, side_dir, ev = staged[-1]

    def cumulative(hi: int) -> dict[str, int]:
        return {str(p): int((ev.pid[:hi] == p).sum()) for p in range(PARTITIONS)}

    need = [cumulative(warm), cumulative(backlog)]
    bounds = [(backlog + k * per_tick, backlog + (k + 1) * per_tick) for k in range(ticks)]
    tick_need = [cumulative(hi) for _, hi in bounds]

    counters = EngineCounters(spark)
    jobs_before = set(counters.all_job_ids()) if ctx.trace else set()

    # --- phase A: catch-up (closed loop) ------------------------------
    qs, t_start, caught_up = _catch_up(spark, ctx.work, log_dir, side_dir, need, ctx.trace)
    ctx.attempted += 1
    if not caught_up:
        ctx.failed += 1

    # --- phase B: live ticks (open loop) -------------------------------
    g0 = _next_grid(time.time())
    due = [g0 + TICK_S / 2 + k * TICK_S for k in range(ticks)] if caught_up else []
    published: list[float] = []

    def generator() -> None:
        for k, d in enumerate(due):
            _sleep_until(d)
            ev.append_segment(log_dir, *bounds[k], segment=k + 2)
            published.append(time.time())

    gen = threading.Thread(target=generator, name="tick-generator", daemon=True)
    gen.start()
    gen.join(timeout=ticks * TICK_S + TRIGGER_S + 30)
    if due:
        qs.wait_covered(tick_need[-1], due[-1] + TICK_LIMIT_S)
    progress = qs.stop()
    t_end = time.time()

    # --- latencies, from the progress events read after the window ----
    commits = [_first_commit(pr, need[1]) for pr in progress]
    catchup_s = (max(commits) - t_start) if caught_up and None not in commits else None
    latencies = []
    for k, d in enumerate(due):
        c = [_first_commit(pr, tick_need[k]) for pr in progress]
        lat = (max(c) - d) if None not in c else None
        ctx.attempted += 1
        if lat is None or lat > TICK_LIMIT_S:
            ctx.failed += 1
        latencies.append(lat if lat is not None else TICK_LIMIT_S)
    lateness = [pub - d for pub, d in zip(published, due)]

    # --- correctness gates (outside the timed window) ------------------
    fp1 = spark.read.parquet(qs.fp1_path).agg(
        F.count("*").alias("n"),
        F.countDistinct("event_id").alias("d"),
        F.min("event_id").alias("lo"),
        F.max("event_id").alias("hi"),
    ).collect()[0]
    exactly_once = (fp1.n, fp1.d, fp1.lo, fp1.hi) == (n, n, 0, n - 1)
    batch = user_features_5m(parse_kafka_frame(spark.read.parquet(log_dir), WIRE_SCHEMA))
    fp2_equal = probe(batch) == probe(spark.read.parquet(qs.fp2_path).select(*batch.columns))
    dropped = sum(
        s.get("numRowsDroppedByWatermark", 0) for p in progress[1] for s in p.get("stateOperators", [])
    )
    for ok in (exactly_once, fp2_equal, dropped == 0):
        ctx.check(ok)
    if not exactly_once:
        ctx.note(f"FP1 table (rows, distinct, min, max) = {tuple(fp1)}, expected ids 0..{n - 1} once")
    if not fp2_equal:
        ctx.note("FP2 table differs from user_features_5m recomputed in batch")
    if dropped:
        ctx.note(f"{dropped} rows dropped by the watermark")

    catchup_rps = (backlog - warm) / catchup_s if catchup_s else 0.0
    ctx.record(
        latency_p50_s=pct(latencies, 0.5),
        latency_p90_s=pct(latencies, 0.9),
        throughput_per_s=catchup_rps,
    )
    ctx.report(
        backlog_rows=backlog - warm,
        live_ticks=len(due),
        catchup_s=catchup_s,
        catchup_rows_per_s=catchup_rps,
        live_latency_p50_s=pct(latencies, 0.5),
        live_latency_p90_s=pct(latencies, 0.9),
        generator_lateness_max_s=max(lateness, default=0.0),
    )
    if not ctx.trace:
        return

    # --- per-layer metrics (traced run only) ----------------------------
    data = [p for pr in progress for p in pr if p.get("numInputRows", 0) > 0]

    def dur(phase: str) -> list[int]:
        return [p["durationMs"].get(phase, 0) for p in data]

    # rows in the log minus rows the query has committed, at each commit
    backlog_rows = []
    for pr in progress:
        for p in pr:
            c = _commit_time(p)
            have = sum(need[1 if c >= t_start else 0].values())
            for t, tick in zip(published, tick_need):
                if t <= c:
                    have = sum(tick.values())
            backlog_rows.append(have - sum(_end_offsets(p).values()))
    fp2_state = [s for p in progress[1] for s in p.get("stateOperators", [])]
    jobs = [j for j in counters.all_job_ids() if j not in jobs_before]
    eng = counters.totals(jobs)
    ctx.record(
        **{
            "generator.lateness_max_s": max(lateness, default=0.0),
            "kafka_replay.latest_offset_ms_p50": median(dur("latestOffset")),
            "kafka_replay.backlog_rows_max": max(backlog_rows, default=0),
            "streaming.trigger_ms_p50": median(dur("triggerExecution")),
            "streaming.add_batch_ms_p50": median(dur("addBatch")),
            "streaming.query_planning_ms_p50": median(dur("queryPlanning")),
            "streaming.commit_ms_p50": median(
                [a + b for a, b in zip(dur("walCommit"), dur("commitOffsets"))]
            ),
            "streaming.batches": len(data),
            "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in data]),
            "streaming.upsert_fp1_ms_p50": median(qs.upsert_ms["fp1"]),
            "streaming.upsert_fp2_ms_p50": median(qs.upsert_ms["fp2"]),
            "streaming.state_rows": fp2_state[-1]["numRowsTotal"] if fp2_state else 0,
            "streaming.state_memory_bytes": fp2_state[-1]["memoryUsedBytes"] if fp2_state else 0,
            "streaming.late_rows_dropped": dropped,
            "streaming.executor_cpu_s": eng["executor_cpu_s"],
            "streaming.shuffle_write_bytes": eng["shuffle_write_bytes"],
            "streaming.spill_bytes": eng["spill_bytes"],
            "streaming.task_skew": median(eng["skews"]),
            "trace.overhead_pct": 100.0 * qs.trace_s / (t_end - t_start),
        }
    )

    # single-threaded baseline: the same catch-up on local[1]
    spark = ctx.restart_spark("local[1]")
    base_log, base_side, _ = staged[0]
    base = f"{ctx.work}/local1"
    os.makedirs(base, exist_ok=True)
    qs1, t1, ok1 = _catch_up(spark, base, base_log, base_side, need, False)
    c1 = [_first_commit(pr, need[1]) for pr in qs1.stop()]
    ctx.record(
        **{
            "baseline.catchup_rows_per_s_local1": (backlog - warm) / (max(c1) - t1)
            if ok1 and None not in c1
            else 0.0
        }
    )
