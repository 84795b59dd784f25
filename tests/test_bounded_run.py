"""The bounded-run core: `drain`'s failure contract and the work-dir
lifecycle of the writeStream-produced registry entries."""

from __future__ import annotations

import datetime
import glob
import shutil
import tempfile

import pytest

from kafka_flink_streaming_pipeline_spark.plans import stateful_stream
from kafka_flink_streaming_pipeline_spark.sources.streaming import (
    WIRE_SCHEMA,
    replay_stream,
)
from kafka_flink_streaming_pipeline_spark.streaming import jobs
from tests.conftest import SF_SMOKE


def test_drain_stops_a_run_that_never_ends(spark, tmp_path, monkeypatch):
    """A query that does not terminate within the drain timeout is
    stopped, and the TimeoutError names the job."""
    monkeypatch.setattr(jobs, "DRAIN_TIMEOUT_S", 1)
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        with pytest.raises(TimeoutError, match="endless_rate_job"):
            jobs.drain(q, "endless_rate_job")
        assert not q.isActive
    finally:
        q.stop()


def test_drain_fails_on_watermark_drops(spark, tmp_path):
    """A row arriving behind the watermark makes `drain` raise instead
    of leaving a silently short sink."""
    t = datetime.datetime(2024, 3, 1, 10, 0, 0)
    chunk_dir = tmp_path / "chunks"
    chunk_dir.mkdir()

    def add_chunk(name: str, minutes: list[int]) -> None:
        rows = [
            (i, t + datetime.timedelta(minutes=m), 1, "click", 1.0, "{}")
            for i, m in enumerate(minutes)
        ]
        stage = str(tmp_path / name)
        spark.createDataFrame(rows, WIRE_SCHEMA).coalesce(1).write.parquet(stage)
        shutil.copy(glob.glob(f"{stage}/part-*.parquet")[0], chunk_dir / f"{name}.parquet")

    def run():
        return jobs.feature_stream_job(
            replay_stream(spark, str(chunk_dir)), str(tmp_path / "features"), str(tmp_path / "ck")
        )

    add_chunk("c1", list(range(20)))  # 10:00-10:19: the watermark reaches ~10:19:55
    jobs.drain(run(), "on-time chunk")
    add_chunk("c2", [-60, 21])  # a 09:00 click, an hour behind the watermark
    with pytest.raises(RuntimeError, match="late chunk: .* rows dropped behind the watermark"):
        jobs.drain(run(), "late chunk")


def test_stateful_sessions_stream_leaves_no_work_dir(spark, tmp_path, monkeypatch):
    """The sessionizer entry's result is materialized, so it survives
    the removal of its work dir, and a rebuild gives the same rows."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    build = stateful_stream.QUERIES["stateful_sessions_stream"].build
    first = build(spark, SF_SMOKE)
    second = build(spark, SF_SMOKE)
    assert first.count() == second.count() > 0
    assert glob.glob(str(tmp_path / "stateful_sessions_*")) == []


def test_materialized_removes_work_dir_when_build_fails(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))

    def build(work: str):
        raise TimeoutError(f"job in {work} did not finish")

    with pytest.raises(TimeoutError):
        stateful_stream._materialized("failing_build_", build)
    assert glob.glob(str(tmp_path / "failing_build_*")) == []
