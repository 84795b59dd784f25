"""Streaming semantics tests (SURVEY.md §5.3): streaming ≡ batch for
FP2, upsert idempotency under redelivery, watermark late-drop."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
from kafka_flink_streaming_pipeline_spark.sources.streaming import (
    WIRE_SCHEMA,
    prepare_replay_chunks,
    replay_stream,
)
from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
    feature_stream_job,
    raw_sink_job,
)
from kafka_flink_streaming_pipeline_spark.streaming.monitoring import late_rows_dropped

from tests.conftest import SF_CORRECT, SF_SMOKE


def assert_no_watermark_drops(*queries) -> None:
    """Fail on late data directly: no stateful operator of these
    finished queries may have dropped a row behind the watermark
    (`late_rows_dropped`), rather than surfacing later as missing rows."""
    dropped = late_rows_dropped(*queries)
    assert dropped == 0, f"{dropped} rows dropped behind the watermark"


@pytest.fixture(scope="module")
def chunks(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("chunks"))
    events = load_table(spark, SF_SMOKE, "events")
    prepare_replay_chunks(spark, events, d, n_chunks=6)
    return d


def test_replay_chunk_mtimes_precede_later_files(spark, tmp_path):
    """Regression test for the r13 order-dependent streaming flake: the
    chunk mtime ladder ran up to n_chunks seconds into the FUTURE, so a
    sentinel file copied into the watch dir within that window (fast
    warm-JVM runs) sorted BEFORE the last real chunks in the file
    source's modification-time replay order — its far-future watermark
    then dropped the newest real windows as late data. The ladder must
    stay strictly increasing AND entirely in the past, so any file
    created after prepare_replay_chunks() returns replays last."""
    import glob
    import os
    import time

    events = load_table(spark, SF_SMOKE, "events")
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=6)
    now = time.time()
    sentinel = f"{chunk_dir}/zz_sentinel.parquet"
    with open(sentinel, "wb") as fh:
        fh.write(b"")
    mtimes = sorted(
        os.path.getmtime(p) for p in glob.glob(f"{chunk_dir}/chunk_*.parquet")
    )
    assert mtimes == sorted(set(mtimes))  # strictly increasing ladder
    assert mtimes[-1] < now  # nothing in the future
    assert mtimes[-1] < os.path.getmtime(sentinel)  # sentinel replays last


def test_fp2_streaming_equals_batch(spark, tmp_path, chunks):
    """Replaying the bounded events through the streaming FP2 job must
    produce exactly the batch FP2 result (J1 restructuring proof)."""
    table = str(tmp_path / "features")
    q = feature_stream_job(
        replay_stream(spark, chunks), table, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    assert_no_watermark_drops(q)

    from kafka_flink_streaming_pipeline_spark.plans.clickstream import _fp2

    batch = {
        (r.uuid, r.window_end, r.click5m, r.view5m, r.redis_key)
        for r in _fp2(spark, SF_SMOKE).collect()
    }
    streamed = {
        (
            r.uuid,
            r.window_end.strftime("%Y-%m-%d %H:%M:%S"),
            r.click5m,
            r.view5m,
            r.redis_key,
        )
        for r in spark.read.parquet(table).collect()
    }
    assert streamed == batch


def test_fp1_upsert_idempotent(spark, tmp_path, chunks):
    """Re-delivering every batch (fresh checkpoint, same sink table)
    must leave one row per key — the reference's PK-upsert idempotency
    concern (README.md:43-47)."""
    table = str(tmp_path / "raw")
    for run in range(2):
        q = raw_sink_job(
            replay_stream(spark, chunks), table, str(tmp_path / f"ckpt{run}")
        )
        q.awaitTermination(300)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    got = spark.read.parquet(table)
    assert got.count() == n_events
    assert got.select("event_id").distinct().count() == n_events


def test_session_window_streaming_matches_batch(spark, tmp_path, chunks):
    """T9: native session_window under streaming append mode must emit
    exactly the batch sessions whose window closed before the final
    watermark (the still-open tail sessions are legitimately withheld)."""
    from kafka_flink_streaming_pipeline_spark.sources.streaming import replay_stream

    stream = replay_stream(spark, chunks).filter(F.col("event_type") == "view")
    sessions = (
        stream.groupBy(
            F.col("user_id").alias("uuid"),
            F.session_window("event_time", "30 minutes").alias("w"),
        )
        .agg(F.count("*").alias("n"))
        .select("uuid", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    out = str(tmp_path / "sessions")
    q = (
        sessions.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert_no_watermark_drops(q)
    streamed = {
        (r.uuid, r.s, r.n) for r in spark.read.parquet(out).collect()
    }

    ev = load_table(spark, SF_SMOKE, "events").filter(F.col("event_type") == "view")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    batch = (
        ev.groupBy(
            F.col("user_id").alias("uuid"),
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
        )
        .agg(F.count("*").alias("n"))
        .select("uuid", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    import datetime

    wm = max_ts - datetime.timedelta(seconds=5)
    closed = {(r.uuid, r.s, r.n) for r in batch.collect() if r.e < wm}
    assert streamed == closed
    assert len(streamed) > 0


def test_global_features_streaming_matches_batch(spark, tmp_path, chunks):
    """⊘ J5 streaming-side: the two-query split (chained dedup→count
    actives; foreachBatch top-1 geo) must reproduce the batch
    global-features join exactly. Two far-future 'view' sentinel chunks
    push the watermark past every real window so all of them flush
    under availableNow (sentinels must be of a SURVIVING event_type:
    Catalyst pushes the click/view filter below the watermark operator,
    so filtered-out rows never advance the watermark). The sentinels'
    own far-future windows are excluded from the comparison."""
    import glob
    import shutil

    from kafka_flink_streaming_pipeline_spark.plans.feature_store import (
        global_features_5m,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        global_features_stream_jobs,
    )

    events = load_table(spark, SF_SMOKE, "events")
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=4)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    staging = str(tmp_path / "staging")
    for i, days in enumerate((10, 20), start=1):
        row = [
            (10**12 + i, max_ts + datetime.timedelta(days=days), -1, "view", 0.0, "{}")
        ]
        spark.createDataFrame(row, WIRE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0],
            f"{chunk_dir}/zz_sentinel_{i}.parquet",
        )

    actives_p = str(tmp_path / "actives")
    geo_p = str(tmp_path / "geo")
    qs = global_features_stream_jobs(
        replay_stream(spark, chunk_dir), actives_p, geo_p, str(tmp_path / "ck")
    )
    for q in qs:
        q.awaitTermination(300)
    assert_no_watermark_drops(*qs)

    actives = spark.read.parquet(actives_p)
    geo = spark.read.parquet(geo_p).drop("batch_seq")
    horizon = max_ts + datetime.timedelta(minutes=10)  # excludes sentinel windows
    streamed = {
        (
            r.window_end.strftime("%Y-%m-%d %H:%M:%S"),
            r.top_geo,
            r.top_total,
            r.active_users,
        )
        for r in geo.join(actives, "window_end").collect()
        if r.window_end <= horizon
    }
    batch = {
        (r.window_end, r.top_geo, r.top_total, r.active_users)
        for r in global_features_5m(spark, SF_SMOKE).collect()
    }
    assert len(streamed) > 0
    assert streamed == batch


def test_stream_stream_interval_join_matches_batch(spark, tmp_path, chunks):
    """Native stream-stream join with event-time range condition must
    produce exactly the batch banded-interval-join pairs (inner join
    emits eagerly — nothing withheld at the end of a bounded replay)."""
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        stream_stream_attribution,
    )

    # sf0.001 events are sparse — no same-user pairs inside 5 minutes —
    # so the test uses a 24 h bound (the operator is bound-parameterized)
    bound = "24 hours"
    s1 = replay_stream(spark, chunks).filter(F.col("event_type") == "click")
    s2 = replay_stream(spark, chunks).filter(F.col("event_type") == "view")
    out = str(tmp_path / "pairs")
    q = (
        stream_stream_attribution(s1, s2, bound=bound)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert_no_watermark_drops(q)
    streamed = {
        (r.uuid, r.click_id, r.view_id, r.lag_ms)
        for r in spark.read.parquet(out).collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uuid"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uuid"),
        F.col("event_id").alias("view_id"),
        F.unix_micros("ts").alias("v_us"),
    )
    bound_us = 24 * 3600 * 1_000_000
    batch = {
        (r.uuid, r.click_id, r.view_id, r.lag_ms)
        for r in c.join(v, F.col("uuid") == F.col("v_uuid"))
        .filter((F.col("v_us") >= F.col("c_us")) & (F.col("v_us") <= F.col("c_us") + bound_us))
        .select(
            "uuid",
            "click_id",
            "view_id",
            ((F.col("v_us") - F.col("c_us")) / 1000).cast("long").alias("lag_ms"),
        )
        .collect()
    }
    assert len(streamed) > 0
    assert streamed == batch


def test_ingest_rate_exceeds_reference_baseline(spark, tmp_path):
    """BASELINE.md ingest target: the reference's producers sustained
    ~536 msg/s aggregate (README.md:84). The FP1 ingest path (replay →
    watermark → projection → keyed upsert) must beat that end-to-end,
    including all micro-batch and MERGE overhead; the 536 threshold
    leaves margin for a loaded machine. The upsert must reference each
    micro-batch once, so the progress rows sum to the event count."""
    import time

    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table as lt

    events = lt(spark, "/root/testdata/sf0.01", "events")
    n = events.count()
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=3)
    t0 = time.time()
    q = raw_sink_job(
        replay_stream(spark, chunk_dir), str(tmp_path / "raw"), str(tmp_path / "ck")
    )
    q.awaitTermination(300)
    rate = n / (time.time() - t0)
    assert rate > 536, f"ingest rate {rate:.0f} msg/s below reference baseline"
    per_batch = [p["numInputRows"] for p in q.recentProgress]
    assert sum(per_batch) == n, f"micro-batches read {per_batch} rows for {n} events"


def test_stateful_sessionizer_matches_batch_lag(spark, tmp_path):
    """The applyInPandasWithState sessionizer must emit exactly the
    sessions the reference's batch LAG formulation produces (gap > 30
    min rule), once sentinel rows push the watermark past every real
    session's timeout."""
    import glob
    import os
    import shutil

    from pyspark.sql import Window

    from kafka_flink_streaming_pipeline_spark.streaming.stateful import (
        stateful_session_job,
    )

    events = load_table(spark, SF_SMOKE, "events")
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=4)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    staging = str(tmp_path / "staging")
    for i, days in enumerate((10, 20), start=1):
        row = [(10**12 + i, max_ts + datetime.timedelta(days=days), -1, "view", 0.0, "{}")]
        spark.createDataFrame(row, WIRE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0],
            f"{chunk_dir}/zz_sentinel_{i}.parquet",
        )

    out = str(tmp_path / "sessions")
    q = stateful_session_job(
        replay_stream(spark, chunk_dir), out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    streamed = {
        (r.uuid, r.session_start, r.session_end, r.n_events, r.n_clicks)
        for r in spark.read.parquet(out).filter(F.col("uuid") != -1).collect()
    }

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marks = events.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) > 30 * 60 * 1_000_000),
            1,
        ).otherwise(0),
    )
    sess = marks.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    batch = {
        (r.uuid, r.session_start, r.session_end, r.n_events, r.n_clicks)
        for r in sess.groupBy(F.col("user_id").alias("uuid"), "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
            F.count(F.when(F.col("event_type") == "click", 1)).alias("n_clicks"),
        )
        .drop("session_id")
        .collect()
    }
    assert len(streamed) > 0
    assert streamed == batch


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving after the watermark passed its window must be
    dropped by the window aggregate (T3 — Flink default, no allowed
    lateness)."""
    t = datetime.datetime(2024, 3, 1, 10, 0, 0)

    def row(eid, minutes, etype="click", uid=1):
        return (eid, t + datetime.timedelta(minutes=minutes), uid, etype, 1.0, "{}")

    chunk_dir = str(tmp_path / "chunks")
    # chunk 1: on-time clicks 10:00-10:20 → watermark advances to ~10:19:55
    c1 = spark.createDataFrame([row(i, i) for i in range(20)], WIRE_SCHEMA)
    # chunk 2: one click an hour EARLIER (09:00) — far below the watermark
    c2 = spark.createDataFrame([row(100, -60), row(101, 21)], WIRE_SCHEMA)
    import os

    os.makedirs(chunk_dir)
    c1.coalesce(1).write.mode("append").parquet(chunk_dir + "/stage1")
    c2.coalesce(1).write.mode("append").parquet(chunk_dir + "/stage2")
    import glob
    import shutil

    shutil.copy(glob.glob(chunk_dir + "/stage1/part-*.parquet")[0], chunk_dir + "/c1.parquet")
    table = str(tmp_path / "features")
    q = feature_stream_job(replay_stream(spark, chunk_dir), table, str(tmp_path / "ck"))
    q.awaitTermination(300)
    shutil.copy(glob.glob(chunk_dir + "/stage2/part-*.parquet")[0], chunk_dir + "/c2.parquet")
    q2 = feature_stream_job(replay_stream(spark, chunk_dir), table, str(tmp_path / "ck"))
    q2.awaitTermination(300)

    got = spark.read.parquet(table)
    windows = {r.window_end.strftime("%H:%M") for r in got.collect()}
    # on-time windows present, including the 10:21 row from chunk 2
    assert "10:05" in windows and "10:25" in windows
    # the 09:00 late row's window (end 09:05) must have been dropped
    assert "09:05" not in windows


def test_streaming_dedup_exactly_once_under_redelivery(spark, tmp_path):
    """Every event delivered TWICE through the stream; the
    dropDuplicatesWithinWatermark job must emit each event_id exactly
    once and match the batch distinct of the original table. Duplicate
    copies share an event time, so chunking by time keeps each pair
    within the watermark horizon — the redelivery pattern the state
    bound is designed for."""
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import dedup_stream_job

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    doubled = events.unionByName(events)
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, doubled, chunk_dir, n_chunks=6)

    out = str(tmp_path / "deduped")
    q = dedup_stream_job(
        replay_stream(spark, chunk_dir), out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out)
    n_events = events.count()
    assert got.count() == n_events  # one row per original event
    assert got.select("event_id").distinct().count() == n_events


def test_stream_static_enrich_matches_batch(spark, tmp_path, chunks):
    """The stream-static enrichment job (events ⋈ documents dim,
    5-min windowed views per language) must reproduce the batch plan
    exactly. Sentinels carry a real document_id ({"k": 0}) so the
    dimension join cannot drop them before they advance the watermark;
    their own far-future windows are excluded from the comparison."""
    import glob
    import shutil

    from kafka_flink_streaming_pipeline_spark.operators.datasets import (
        stream_enrich_lang_counts,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import enrich_stream_job

    events = load_table(spark, SF_SMOKE, "events")
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=4)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    staging = str(tmp_path / "staging")
    for i, days in enumerate((10, 20), start=1):
        row = [
            (
                10**12 + i,
                max_ts + datetime.timedelta(days=days),
                -1,
                "view",
                0.0,
                '{"k": 0}',
            )
        ]
        spark.createDataFrame(row, WIRE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0],
            f"{chunk_dir}/zz_sentinel_{i}.parquet",
        )

    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "enriched")
    q = enrich_stream_job(
        replay_stream(spark, chunk_dir), docs, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)

    horizon = max_ts + datetime.timedelta(minutes=10)
    streamed = {
        (r.window_end.strftime("%Y-%m-%d %H:%M:%S"), r.lang, r.views)
        for r in spark.read.parquet(out).collect()
        if r.window_end <= horizon
    }
    batch = {
        (r.window_end, r.lang, r.views)
        for r in stream_enrich_lang_counts(spark, SF_SMOKE).collect()
    }
    assert len(streamed) > 0
    assert streamed == batch


def test_hop_window_streaming_matches_batch(spark, tmp_path, chunks):
    """Sliding (HOP) 10m/5m window with EXACT distinct users: the
    chained dedup→count streaming job must equal the batch
    count_distinct plan window-for-window. Two far-future 'view'
    sentinels flush every real window under availableNow (the window
    generator doubles rows, but the watermark still advances off the
    raw event_time); sentinel windows past the horizon are excluded."""
    import glob
    import shutil

    from kafka_flink_streaming_pipeline_spark.plans.feature_store import (
        hop_active_users_10m_5m,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        hop_active_users_stream_job,
    )

    events = load_table(spark, SF_SMOKE, "events")
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=4)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    staging = str(tmp_path / "staging")
    for i, days in enumerate((10, 20), start=1):
        row = [
            (10**12 + i, max_ts + datetime.timedelta(days=days), -1, "view", 0.0, "{}")
        ]
        spark.createDataFrame(row, WIRE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0],
            f"{chunk_dir}/zz_sentinel_{i}.parquet",
        )

    out = str(tmp_path / "hop")
    q = hop_active_users_stream_job(
        replay_stream(spark, chunk_dir), out, str(tmp_path / "ckpt")
    )
    q.awaitTermination(300)
    assert_no_watermark_drops(q)

    # hop windows close up to 10 min after the last event's slide bucket
    horizon = max_ts + datetime.timedelta(minutes=15)
    streamed = {
        (r.window_end.strftime("%Y-%m-%d %H:%M:%S"), r.active_users)
        for r in spark.read.parquet(out).collect()
        if r.window_end <= horizon
    }
    batch = {
        (r.window_end, r.active_users)
        for r in hop_active_users_10m_5m(spark, SF_SMOKE).collect()
    }
    assert len(streamed) > 0
    assert streamed == batch


def test_stream_stream_outer_join_emits_unmatched(spark, tmp_path):
    """LEFT OUTER stream-stream interval join: matched clicks pair
    eagerly; unmatched clicks are withheld until the watermark proves no
    view can still arrive, then emit with NULLs. Sentinel click+view
    rows push both sides' watermarks past every real click's horizon so
    the bounded replay flushes the full outer result; the result must
    equal the batch banded LEFT join row-for-row."""
    import glob
    import shutil

    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        stream_stream_attribution_outer,
    )

    events = load_table(spark, SF_SMOKE, "events")
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=4)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    staging = str(tmp_path / "staging")
    # both join inputs filter by event_type, so BOTH need a surviving
    # sentinel (min-of-watermarks governs outer emission)
    for i, (days, etype) in enumerate(
        [(40, "click"), (41, "view"), (50, "click"), (51, "view")], start=1
    ):
        row = [(10**12 + i, max_ts + datetime.timedelta(days=days), -1, etype, 0.0, "{}")]
        spark.createDataFrame(row, WIRE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0],
            f"{chunk_dir}/zz_sentinel_{i}.parquet",
        )

    bound = "24 hours"
    s1 = replay_stream(spark, chunk_dir).filter(F.col("event_type") == "click")
    s2 = replay_stream(spark, chunk_dir).filter(F.col("event_type") == "view")
    out = str(tmp_path / "pairs_outer")
    q = (
        stream_stream_attribution_outer(s1, s2, bound=bound)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    streamed = {
        (r.uuid, r.click_id, r.view_id, r.lag_ms)
        for r in spark.read.parquet(out).filter(F.col("uuid") != -1).collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uuid"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uuid"),
        F.col("event_id").alias("view_id"),
        F.unix_micros("ts").alias("v_us"),
    )
    bound_us = 24 * 3600 * 1_000_000
    batch = {
        (r.uuid, r.click_id, r.view_id, r.lag_ms)
        for r in c.join(
            v,
            (F.col("uuid") == F.col("v_uuid"))
            & (F.col("v_us") >= F.col("c_us"))
            & (F.col("v_us") <= F.col("c_us") + bound_us),
            "left_outer",
        )
        .select(
            "uuid",
            "click_id",
            "view_id",
            ((F.col("v_us") - F.col("c_us")) / 1000).cast("long").alias("lag_ms"),
        )
        .collect()
    }
    assert any(r[2] is None for r in batch), "fixture must contain unmatched clicks"
    assert len(streamed) > 0
    assert streamed == batch


def test_stream_stream_full_outer_join_matches_batch(spark, tmp_path):
    """FULL OUTER stream-stream interval join: matched pairs eagerly,
    unmatched clicks AND unmatched views emitted with NULLs once the
    watermark proves no partner can still arrive. Same sentinel-flush
    fixture as the LEFT OUTER test; the result must equal the batch
    banded FULL OUTER join row-for-row (coalesced key)."""
    import glob
    import shutil

    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        stream_stream_attribution_full,
    )

    events = load_table(spark, SF_SMOKE, "events")
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=4)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    staging = str(tmp_path / "staging")
    for i, (days, etype) in enumerate(
        [(40, "click"), (41, "view"), (50, "click"), (51, "view")], start=1
    ):
        row = [(10**12 + i, max_ts + datetime.timedelta(days=days), -1, etype, 0.0, "{}")]
        spark.createDataFrame(row, WIRE_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(staging)
        shutil.copy(
            glob.glob(f"{staging}/part-*.parquet")[0],
            f"{chunk_dir}/zz_sentinel_{i}.parquet",
        )

    bound = "24 hours"
    s1 = replay_stream(spark, chunk_dir).filter(F.col("event_type") == "click")
    s2 = replay_stream(spark, chunk_dir).filter(F.col("event_type") == "view")
    out = str(tmp_path / "pairs_full")
    q = (
        stream_stream_attribution_full(s1, s2, bound=bound)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert_no_watermark_drops(q)
    streamed = {
        (r.uuid, r.click_id, r.view_id, r.lag_ms)
        for r in spark.read.parquet(out).filter(F.col("uuid") != -1).collect()
    }

    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("uuid"),
        F.col("event_id").alias("click_id"),
        F.unix_micros("ts").alias("c_us"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_uuid"),
        F.col("event_id").alias("view_id"),
        F.unix_micros("ts").alias("v_us"),
    )
    bound_us = 24 * 3600 * 1_000_000
    batch = {
        (r.uuid, r.click_id, r.view_id, r.lag_ms)
        for r in c.join(
            v,
            (F.col("uuid") == F.col("v_uuid"))
            & (F.col("v_us") >= F.col("c_us"))
            & (F.col("v_us") <= F.col("c_us") + bound_us),
            "full_outer",
        )
        .select(
            F.coalesce("uuid", "v_uuid").alias("uuid"),
            "click_id",
            "view_id",
            ((F.col("v_us") - F.col("c_us")) / 1000).cast("long").alias("lag_ms"),
        )
        .collect()
    }
    assert any(r[1] is None for r in batch), "fixture must contain unmatched views"
    assert any(r[2] is None for r in batch), "fixture must contain unmatched clicks"
    assert len(streamed) > 0
    assert streamed == batch


def test_rate_listener_and_observed_metrics(spark, tmp_path):
    """Observability parity with the reference's Prometheus monitoring
    (README.md:79-86): per-batch input rows / rates via a
    StreamingQueryListener, and business metrics via df.observe riding
    the query itself. The listener's lifetime row count must equal the
    replayed input exactly, and every batch must carry the observed
    ingest metrics."""
    import time as _time

    from kafka_flink_streaming_pipeline_spark.streaming.monitoring import (
        RateListener,
        observe_ingest,
    )

    events = load_table(spark, SF_SMOKE, "events")
    n_events = events.count()
    chunk_dir = str(tmp_path / "chunks")
    prepare_replay_chunks(spark, events, chunk_dir, n_chunks=4)

    listener = RateListener()
    spark.streams.addListener(listener)
    try:
        stream = observe_ingest(replay_stream(spark, chunk_dir))
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        # listener events are delivered asynchronously
        for _ in range(60):
            if listener.total_rows() >= n_events:
                break
            _time.sleep(0.5)
    finally:
        spark.streams.removeListener(listener)

    assert listener.total_rows() == n_events
    assert listener.throughput() > 0
    observed_rows = sum(
        b["observed"].get("rows", 0) for b in listener.batches if b["observed"]
    )
    assert observed_rows == n_events
    assert all(
        b["observed"].get("max_event_time") is not None
        for b in listener.batches
        if b["num_input_rows"] > 0 and b["observed"]
    )

    # Prometheus text exposition of the same listener — the scrape
    # surface mirroring the reference's kafka-exporter metrics
    # (analysis/prometheus.yml:5-8); validate format + counter values
    from kafka_flink_streaming_pipeline_spark.streaming.monitoring import (
        prometheus_text,
    )

    text = prometheus_text(listener)
    metrics = {}
    for line in text.splitlines():
        if line.startswith("#") or not line.strip():
            continue
        name_labels, val = line.rsplit(" ", 1)
        metrics[name_labels.split("{")[0]] = float(val)
    assert metrics["kfsp_input_rows_total"] == n_events
    assert metrics["kfsp_batches_total"] == len(listener.batches)
    assert metrics["kfsp_throughput_rows_per_second"] > 0
    assert "kfsp_observed_rows" in metrics  # df.observe rode along


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """T6/T7 end-to-end: stop a stream mid-input, restart from the SAME
    checkpoint with new input present — the restarted query must resume
    from the recorded offset (no reprocessing, no gaps), and explicit
    redelivery of a batch through the append sink must be idempotent
    (batch-addressed overwrite). Final table == full input exactly once."""
    import glob
    import shutil

    from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
        read_append_table,
        txn_append_sink,
    )

    events = load_table(spark, SF_SMOKE, "events")
    n_events = events.count()
    all_chunks = str(tmp_path / "all_chunks")
    prepare_replay_chunks(spark, events, all_chunks, n_chunks=6)
    files = sorted(glob.glob(f"{all_chunks}/*.parquet"))
    assert len(files) == 6

    live = str(tmp_path / "live")
    table = str(tmp_path / "append_table")
    ck = str(tmp_path / "ck")
    import os

    os.makedirs(live)
    for f in files[:3]:
        shutil.copy(f, live)

    def run_once():
        q = (
            replay_stream(spark, live)
            .writeStream.foreachBatch(txn_append_sink(table))
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run_once()
    mid = read_append_table(spark, table)
    n_mid = mid.drop("batch_id").count()
    assert 0 < n_mid < n_events

    # new data arrives while the query is DOWN; restart from checkpoint
    for f in files[3:]:
        shutil.copy(f, live)
    run_once()

    final = read_append_table(spark, table).drop("batch_id")
    assert final.count() == n_events  # no gaps, no duplicates
    assert (
        final.select("event_id").subtract(events.select("event_id")).count() == 0
        and events.select("event_id").subtract(final.select("event_id")).count() == 0
    )

    # explicit redelivery: re-running a committed batch is a no-op
    # (materialized first — a real redelivery arrives from the SOURCE,
    # not lazily from the directory the sink is about to overwrite)
    some_batch = spark.read.parquet(f"{table}/batch_id=0").localCheckpoint(eager=True)
    txn_append_sink(table)(some_batch, 0)
    txn_append_sink(table)(some_batch, 0)
    assert read_append_table(spark, table).drop("batch_id").count() == n_events


def test_fanout_one_read_two_sinks(spark, tmp_path, chunks):
    """Fan-out: one source read serves the raw append table AND the
    5-min rollup (the reference runs two Flink jobs reading the same
    topics twice). Raw must equal the input exactly; the rollup must
    equal the batch recompute; a full redelivery (fresh checkpoint)
    must change neither — the pipeline is idempotent end-to-end."""
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import fanout_stream_job

    events = load_table(spark, SF_SMOKE, "events")
    n_events = events.count()
    raw_p = str(tmp_path / "raw")
    rollup_p = str(tmp_path / "rollup")

    for run in range(2):  # second run = full redelivery, fresh checkpoint
        q = fanout_stream_job(
            replay_stream(spark, chunks), raw_p, rollup_p, str(tmp_path / f"ck{run}")
        )
        q.awaitTermination(300)

    from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
        read_append_table,
    )

    raw = read_append_table(spark, raw_p).drop("batch_id")
    assert raw.count() == n_events
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
    assert got == want


def test_streaming_dedup_gate_matches_batch(spark, tmp_path):
    """The streaming ingest near-dup gate (LSH index probe per
    micro-batch) must produce exactly the batch twin's verdicts, with
    the incoming docs arriving across SEVERAL micro-batches — proving
    the per-batch signing + stream-static index probe composes to the
    corpus-level answer (the gate is per-doc, so batch boundaries must
    not matter). Redelivery safety comes from the batch-addressed sink
    (covered by test_checkpoint_restart_resumes_exactly_once's
    machinery)."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        dedup_incoming_vs_corpus,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        build_dedup_index,
        dedup_index_stream_job,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
        read_append_table,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    incoming = docs.filter(F.col("doc_id") % 3 == 0)

    index_path = str(tmp_path / "lsh_index")
    build_dedup_index(corpus, index_path)

    # incoming docs as a file stream, 4 files -> 4 micro-batches
    in_dir = str(tmp_path / "incoming")
    incoming.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )

    out = str(tmp_path / "verdicts")
    q = dedup_index_stream_job(stream, index_path, out, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    got = (
        read_append_table(spark, out)
        .select("incoming_doc", "is_dup", "matched_doc", "est_jaccard")
    )
    want = dedup_incoming_vs_corpus(spark, SF_CORRECT)
    assert got.count() == incoming.count()
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
    # the gate must actually catch something at this SF
    assert got.filter(F.col("is_dup")).count() > 0


def test_prometheus_text_dedupes_sanitized_name_collisions():
    """Sanitization is lossy ('rows.a' and 'rows a' both map to
    'rows_a'); the exposition must still never emit duplicate series —
    Prometheus rejects the whole scrape otherwise. Later collisions get
    a numeric suffix."""
    from kafka_flink_streaming_pipeline_spark.streaming.monitoring import (
        RateListener,
        prometheus_text,
    )

    listener = RateListener()
    listener.batches.append(
        {
            "batch_id": 0,
            "num_input_rows": 5,
            "duration_ms": 10,
            "observed": {"rows.a": 1, "rows a": 2, "rows_a": 3},
        }
    )
    text = prometheus_text(listener)
    names = [
        line.rsplit(" ", 1)[0].split("{")[0]
        for line in text.splitlines()
        if line and not line.startswith("#")
    ]
    assert len(names) == len(set(names)), names
    for expected in ("kfsp_observed_rows_a", "kfsp_observed_rows_a_2",
                     "kfsp_observed_rows_a_3"):
        assert expected in names


def test_ann_probe_stream_matches_batch(spark, tmp_path):
    """Streaming vector search == batch probe: stream the query batch
    through `ann_probe_stream_job` (persisted IVF index, partition-
    pruned per-batch probe, batch-addressed append sink) and compare
    row-for-row against the oracled batch entry
    `sim_ann_ivf_persisted`."""
    from kafka_flink_streaming_pipeline_spark.operators.similarity import (
        ann_index_path,
        ann_ivf_persisted,
    )
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        ann_probe_stream_job,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
        read_append_table,
    )

    index_path = ann_index_path(spark, SF_CORRECT)
    queries = (
        load_table(spark, SF_CORRECT, "embeddings")
        .filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )

    in_dir = str(tmp_path / "queries")
    queries.repartition(2).write.parquet(in_dir)  # 2 files -> 2 batches
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    out = str(tmp_path / "topk")
    q = ann_probe_stream_job(stream, index_path, out, str(tmp_path / "ckpt"))
    q.awaitTermination(300)

    got = read_append_table(spark, out).select(
        "query_id", "cand_id", "cosine", "rank"
    )
    want = ann_ivf_persisted(spark, SF_CORRECT)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_index_extension_closes_the_loop(spark, tmp_path):
    """The ingest-dedup LOOP: gate a batch against the corpus index,
    admit the non-duplicates, extend the index with them
    (`extend_dedup_index`), then gate the SAME documents again — every
    one must now be flagged as a near-duplicate (est_jaccard 1.0 match
    of itself), proving batch-N admissions defend against batch-N+1
    without a rebuild."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        incoming_flags,
        lsh_bands,
    )
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        build_dedup_index,
        extend_dedup_index,
    )

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 3 != 0)
    incoming = docs.filter(F.col("doc_id") % 3 == 0)

    index_path = str(tmp_path / "lsh_index")
    build_dedup_index(corpus, index_path)

    first = incoming_flags(
        spark.read.parquet(index_path), lsh_bands(incoming), incoming
    )
    admitted = incoming.join(
        first.filter(~F.col("is_dup")).select(
            F.col("incoming_doc").alias("doc_id")
        ),
        "doc_id",
    )
    n_admitted = admitted.count()
    assert n_admitted > 0
    extend_dedup_index(admitted, index_path)

    retry = incoming_flags(
        spark.read.parquet(index_path), lsh_bands(admitted), admitted
    )
    flagged = retry.filter(F.col("is_dup") & (F.col("est_jaccard") == 1.0))
    assert flagged.count() == n_admitted


def test_rollup_stream_restart_converges_to_batch(spark, tmp_path):
    """The incremental-rollup stream job (r6) across a mid-input
    restart: run on half the files, stop, drop in the rest, restart
    from the SAME checkpoint — the maintained rollup must equal the
    one-shot batch rollup over all events (no double-counted dates,
    no gaps), and a third run with no new input must be a no-op."""
    import glob
    import os
    import shutil

    from kafka_flink_streaming_pipeline_spark.jobs.incremental_rollup import (
        read_rollup,
        rollup_frame,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        rollup_stream_job,
    )

    events = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    src = str(tmp_path / "src")
    events.repartition(4).write.parquet(src)
    files = sorted(glob.glob(f"{src}/part-*.parquet"))
    assert len(files) == 4

    live = str(tmp_path / "live")
    os.makedirs(live)
    facts = str(tmp_path / "facts")
    rollup = str(tmp_path / "rollup")
    ck = str(tmp_path / "ck")

    def run_once():
        stream = (
            spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(live)
        )
        q = rollup_stream_job(stream, facts, rollup, ck)
        assert q.awaitTermination(300)

    for f in files[:2]:
        shutil.copy(f, live)
    run_once()
    partial = read_rollup(spark, rollup)
    assert 0 < partial.agg(F.sum("n")).first()[0] < events.count()

    for f in files[2:]:
        shutil.copy(f, live)
    run_once()

    def canon(df):
        return {
            (str(r.d), r.event_type, r.n, r.value_cents, r.users)
            for r in df.collect()
        }

    want = canon(rollup_frame(events))
    assert canon(read_rollup(spark, rollup)) == want

    run_once()  # no new files: must converge, not duplicate
    assert canon(read_rollup(spark, rollup)) == want


def test_streaming_bloom_gate_matches_batch(spark, tmp_path):
    """The streaming exact-span contamination gate (persisted Bloom +
    span-set index probed per micro-batch) must produce exactly the
    batch twin's verdicts with the incoming docs split across several
    micro-batches — the gate is per-doc, so batch boundaries must not
    matter. Redelivery safety comes from the batch-addressed sink."""
    from pyspark.sql import functions as F

    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        dedup_bloom_gate,
    )
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        bloom_gate_stream_job,
        build_bloom_index,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
        read_append_table,
    )
    from tests.conftest import SF_CORRECT

    docs = load_table(spark, SF_CORRECT, "documents").select("doc_id", "text")
    index = str(tmp_path / "bloom_index")
    build_bloom_index(docs.filter(F.col("doc_id") % 3 != 0), index)

    incoming = docs.filter(F.col("doc_id") % 3 == 0)
    in_dir = str(tmp_path / "incoming")
    incoming.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = bloom_gate_stream_job(
        stream, index, str(tmp_path / "verdicts"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(600)

    streamed = {
        tuple(r)
        for r in read_append_table(spark, str(tmp_path / "verdicts"))
        .select("doc_id", "n_spans", "n_bloom_hits", "n_true_hits", "contaminated")
        .collect()
    }
    batch = {tuple(r) for r in dedup_bloom_gate(spark, SF_CORRECT).collect()}
    assert streamed == batch
    assert any(r[4] for r in batch)  # the equality is over real signal


def test_erasure_stream_equals_batch_anti_join(spark, tmp_path):
    """The streamed forget-request job must leave the store exactly
    equal to the one-shot batch anti-join, across 4 micro-batches of
    forget ids, including the per-batch tombstone ledger covering the
    full forget set."""
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        _ERASE_BUCKETS,
        erasure_stream_job,
    )

    events = load_table(spark, SF_CORRECT, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    store = str(tmp_path / "store")
    events.withColumn("bucket", F.col("user_id") % _ERASE_BUCKETS).write.partitionBy(
        "bucket"
    ).parquet(store)

    forgets = events.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
    assert forgets.count() > 0
    in_dir = str(tmp_path / "forgets")
    forgets.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema("user_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = erasure_stream_job(
        stream, store, str(tmp_path / "ledger"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(600)

    survivors = {
        tuple(r)
        for r in spark.read.option("basePath", store)
        .parquet(store)
        .select("event_id", "user_id")
        .collect()
    }
    expected = {
        tuple(r)
        for r in events.join(forgets, "user_id", "left_anti")
        .select("event_id", "user_id")
        .collect()
    }
    assert survivors == expected
    ledger = spark.read.option("basePath", str(tmp_path / "ledger")).parquet(
        str(tmp_path / "ledger")
    )
    assert {r.user_id for r in ledger.collect()} == {
        r.user_id for r in forgets.collect()
    }


def test_erasure_vanished_bucket_is_removed(spark, tmp_path):
    """A bucket whose EVERY row is erased must disappear from the
    store: dynamic partition overwrite writes no survivor partition
    there, so the job has to remove it explicitly — this is the case
    that silently resurrects deleted users if unhandled."""
    import os

    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        _ERASE_BUCKETS,
        erasure_stream_job,
    )

    # bucket 0 holds only user 16*97 (a forgettable id); bucket 1 mixed
    u_gone = 16 * 97 * _ERASE_BUCKETS  # % 16 == 0 and % 97 == 0
    rows = [(1, u_gone), (2, u_gone), (3, 1), (4, 97 * 16 + 1)]
    df = spark.createDataFrame(rows, "event_id BIGINT, user_id BIGINT")
    store = str(tmp_path / "store")
    df.withColumn("bucket", F.col("user_id") % _ERASE_BUCKETS).write.partitionBy(
        "bucket"
    ).parquet(store)
    assert os.path.isdir(f"{store}/bucket=0")

    spark.createDataFrame([(u_gone,)], "user_id BIGINT").write.parquet(
        str(tmp_path / "forgets")
    )
    stream = (
        spark.readStream.schema("user_id BIGINT")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path / "forgets"))
    )
    q = erasure_stream_job(
        stream, store, str(tmp_path / "ledger"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(600)

    assert not os.path.isdir(f"{store}/bucket=0")
    left = {
        r.user_id
        for r in spark.read.option("basePath", store).parquet(store).collect()
    }
    assert left == {1, 97 * 16 + 1}


def test_ann_ingest_stream_index_probes_like_batch(spark, tmp_path):
    """An IVF index grown by the streaming ingest job must answer
    probes exactly like the in-memory batch IVF: same membership
    (assignment vs index-resident centroids), same top-k — across 4
    vector micro-batches and the two-level batch/cell layout."""
    from kafka_flink_streaming_pipeline_spark.operators.similarity import (
        _IVF_K,
        _N_QUERIES,
        _dot,
        ann_ivf,
        probe_ann_index,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        ann_ingest_stream_job,
    )

    e = load_table(spark, SF_CORRECT, "embeddings").select("vec_id", "embedding")
    index = str(tmp_path / "index")
    seeds = e.filter(
        (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + _IVF_K)
    ).select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
        F.col("vec_id").alias("centroid_id"),
    )
    seeds.write.partitionBy("centroid_id").parquet(f"{index}/batch=-1")
    incoming = e.filter(
        (F.col("vec_id") < _N_QUERIES) | (F.col("vec_id") >= _N_QUERIES + _IVF_K)
    )
    in_dir = str(tmp_path / "incoming")
    incoming.repartition(4).write.parquet(in_dir)
    stream = (
        spark.readStream.schema(incoming.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(in_dir)
    )
    q = ann_ingest_stream_job(stream, index, str(tmp_path / "ckpt"))
    assert q.awaitTermination(600)

    queries = e.filter(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    streamed = {
        (r.query_id, r.cand_id, r.rank)
        for r in probe_ann_index(spark, index, queries).collect()
    }
    batch = {
        (r.query_id, r.cand_id, r.rank) for r in ann_ivf(spark, SF_CORRECT).collect()
    }
    assert streamed == batch and streamed


def test_manifest_stream_redelivery_idempotent(spark, tmp_path):
    """The incremental-manifest partials must make redelivery harmless:
    re-running the whole stream with a FRESH checkpoint re-assigns the
    same batch ids and overwrites the same batch directories, leaving
    the combined manifest identical — the property a running xor total
    provably lacks (xor is self-inverse, a re-applied batch would
    cancel). Also pins stream == one-shot batch manifest."""
    from pyspark.sql import functions as F

    from kafka_flink_streaming_pipeline_spark.operators.corpus import (
        manifest_partial,
    )
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        manifest_stream_job,
        read_manifest,
    )

    sf_dir = SF_SMOKE
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    in_dir = str(tmp_path / "incoming")
    docs.repartition(3).write.parquet(in_dir)
    out = str(tmp_path / "manifest")

    def run(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(in_dir)
        )
        q = manifest_stream_job(stream, out, ckpt)
        assert q.awaitTermination(600)

    run(str(tmp_path / "ckpt1"))
    first = {
        (r["source"], r["split"]): (
            r["n_docs"],
            r["n_tokens"],
            r["n_chars"],
            r["content_digest"],
        )
        for r in read_manifest(spark, out).collect()
    }
    # full redelivery: fresh checkpoint, same sink
    run(str(tmp_path / "ckpt2"))
    second = {
        (r["source"], r["split"]): (
            r["n_docs"],
            r["n_tokens"],
            r["n_chars"],
            r["content_digest"],
        )
        for r in read_manifest(spark, out).collect()
    }
    assert second == first

    batch = {
        (r["source"], r["split"]): (
            r["n_docs"],
            r["n_tokens"],
            r["n_chars"],
            r["content_digest"],
        )
        for r in manifest_partial(docs).collect()
    }
    assert first == batch


def test_manifest_stream_kill_midway_restart_converges(spark, tmp_path):
    """Failure injection for the partial-manifest/xor family (r7
    verdict ask #5): kill the manifest job MID-STREAM, tear one sink
    directory the way a crash between the parquet write and the
    checkpoint commit would (a batch-addressed dir holding WRONG
    partial rows for a batch id the checkpoint never committed), add
    late-arriving input, restart from the SAME checkpoint — the
    combined digest must equal the one-shot batch manifest
    (`corpus_release_manifest` semantics via `manifest_partial`).
    This is the property the docstring claims (xor self-inverse makes
    running totals unsafe, batch-addressed partials safe): the
    redelivered ids overwrite their directories byte-for-byte,
    including the torn one."""
    import glob
    import os
    import shutil
    import time

    from kafka_flink_streaming_pipeline_spark.operators.corpus import (
        manifest_partial,
    )
    from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
        manifest_stream_job,
        read_manifest,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    all_chunks = str(tmp_path / "all_chunks")
    docs.repartition(6).write.parquet(all_chunks)
    files = sorted(glob.glob(f"{all_chunks}/part-*.parquet"))
    assert len(files) == 6

    live = str(tmp_path / "live")
    os.makedirs(live)
    for f in files[:3]:
        shutil.copy(f, live)

    out = str(tmp_path / "manifest")
    ckpt = str(tmp_path / "ckpt")

    def start():
        stream = (
            spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(live)
        )
        return manifest_stream_job(stream, out, ckpt)

    # run 1: kill as soon as at least one partial landed (mid-stream —
    # the in-flight batch may leave a genuinely torn parquet dir too)
    q = start()
    deadline = time.time() + 120
    while time.time() < deadline and len(glob.glob(f"{out}/batch_id=*")) < 2:
        time.sleep(0.05)
    q.stop()
    q.awaitTermination(120)
    done_ids = sorted(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{out}/batch_id=*")
    )
    assert done_ids, "kill happened before any partial landed"

    # injected torn write: the NEXT batch id gets a directory full of
    # wrong rows, as if the crash hit after the sink write started but
    # before the checkpoint committed the batch
    torn_id = max(done_ids) + 1
    poison = manifest_partial(
        docs.limit(7).withColumn("text", F.lit("POISONED CONTENT"))
    )
    poison.write.mode("overwrite").parquet(f"{out}/batch_id={torn_id}")

    # late data arrives while the job is down; restart from the SAME
    # checkpoint must redeliver through torn_id (file-source batch ids
    # are sequential) and overwrite the poisoned directory
    for f in files[3:]:
        shutil.copy(f, live)
    q2 = start()
    assert q2.awaitTermination(600)
    assert max(
        int(p.rsplit("=", 1)[1]) for p in glob.glob(f"{out}/batch_id=*")
    ) >= torn_id, "restart never reached the torn batch id"

    combined = {
        (r["source"], r["split"]): (
            r["n_docs"],
            r["n_tokens"],
            r["n_chars"],
            r["content_digest"],
        )
        for r in read_manifest(spark, out).collect()
    }
    batch = {
        (r["source"], r["split"]): (
            r["n_docs"],
            r["n_tokens"],
            r["n_chars"],
            r["content_digest"],
        )
        for r in manifest_partial(docs).collect()
    }
    assert combined == batch
