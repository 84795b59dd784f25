"""FP3 daily batch feature job — the Airflow-scheduled PyFlink job
re-expressed as a plain PySpark batch app (SURVEY.md §3.3).

Reference: airflow/dags/20m_feature_update.py submits
flink-jobs/feature_batch_update.py with `--processingDate '{{ ds }}'`;
the job reads the day slice [day 00:00, day+1 00:00) over JDBC, computes
20-minute per-user click/view counts with a RIGHT JOIN + COALESCE, and
PK-upserts into features_20m on (uuid, window_end).

Here: any scheduler runs
    python -m kafka_flink_streaming_pipeline_spark.jobs.feature_batch_job \
        --processing-date 2024-01-05 --sf-dir /root/testdata/sf0.001 \
        --out /tmp/features_20m
The day filter is a parquet-pushable literal range (the Flink version
filtered post-scan — SURVEY.md §4), the aggregation is the union-pivot
single pass, and the write is the idempotent keyed MERGE — rerunning a
day (Airflow backfill semantics) converges to the same table.
"""

from __future__ import annotations

import argparse
import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.streaming.jobs import user_features_20m


def build_day_features(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    """FP3 features (`user_features_20m`) of the day slice [day, day+1)."""
    from kafka_flink_streaming_pipeline_spark.plans.clickstream import _events

    lo = datetime.date.fromisoformat(day)
    hi = lo + datetime.timedelta(days=1)
    return user_features_20m(
        _events(spark, sf_dir).filter(
            (F.col("event_time") >= F.lit(str(lo)).cast("timestamp"))
            & (F.col("event_time") < F.lit(str(hi)).cast("timestamp"))
        )
    )


def run(spark: SparkSession, sf_dir: str, day: str, out: str) -> int:
    from kafka_flink_streaming_pipeline_spark.streaming.upsert import merge_upsert

    feats = build_day_features(spark, sf_dir, day).withColumn(
        "computed_at", F.current_timestamp()
    )
    merge_upsert(spark, feats, out, ["uuid", "window_end"], "computed_at")
    return spark.read.parquet(out).count()


def main() -> None:
    p = argparse.ArgumentParser(description="20-min batch feature job (FP3)")
    p.add_argument("--processing-date", required=True, help="YYYY-MM-DD day slice")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p.add_argument("--out", required=True, help="feature table path (parquet)")
    args = p.parse_args()

    from kafka_flink_streaming_pipeline_spark import get_spark

    spark = get_spark("fp3-batch")
    spark.sparkContext.setLogLevel("ERROR")
    n = run(spark, args.sf_dir, args.processing_date, args.out)
    print(f"features_20m rows after upsert: {n}")


if __name__ == "__main__":
    main()
