"""The FP3 backfill job (`jobs/feature_batch_job.py`): a day's run is
an idempotent keyed upsert whose rows are the day-scoped FP3 entry's."""

from __future__ import annotations

from kafka_flink_streaming_pipeline_spark.jobs.feature_batch_job import run
from kafka_flink_streaming_pipeline_spark.plans.clickstream import (
    _DAY_LO,
    _FP3_DAY_ORACLE,
    _fp3_day,
)

from tests.conftest import SF_SMOKE, make_duck


def test_backfill_day_is_idempotent_and_equals_day_entry(spark, tmp_path):
    """Running one day twice (an Airflow backfill rerun) leaves the row
    count unchanged, and the table holds exactly the rows of the
    `fp3_features_20m_day` entry, which is oracle-checked on its own."""
    out = str(tmp_path / "features_20m")
    day = _DAY_LO[:10]
    first = run(spark, SF_SMOKE, day, out)
    assert run(spark, SF_SMOKE, day, out) == first > 0
    got = {
        (r.uuid, r.window_end.strftime("%Y-%m-%d %H:%M:%S"), r.click20m, r.view20m)
        for r in spark.read.parquet(out).collect()
    }
    assert got == {tuple(r) for r in _fp3_day(spark, SF_SMOKE).collect()}
    assert got == set(make_duck(SF_SMOKE).execute(_FP3_DAY_ORACLE).fetchall())
