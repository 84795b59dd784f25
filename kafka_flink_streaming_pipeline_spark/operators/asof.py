"""Point-in-time (as-of) feature join — the feature-store primitive the
reference's architecture implies but Flink SQL never names: "for each
event, the latest FP3 feature row whose window closed at or before the
event". Training pipelines need exactly this to avoid label leakage
when joining features to examples.

Spark has no ASOF JOIN operator. The idiomatic composition (task-brief
"custom operators → composition of existing DataFrame ops") is the
union + last_value trick:

    union(features tagged 0, events tagged 1)
      → one hash shuffle on uuid
      → window last(value, ignorenulls) over (partition by uuid
                                              order by t, tag)
      → keep event rows

ONE shuffle, no range-join row explosion (a naive e.ts >= f.t theta
join is |events|x|features| per user before picking the max). Feature
rows sort before events at equal timestamps (tag 0 < 1), giving the
inclusive `event_time >= window_end` semantics. At 100 TB both sides
shuffle once on the join key and the window scan is a sorted
single pass per user — the same shape as a sort-merge join.

Oracle: DuckDB's native ASOF LEFT JOIN over the identical FP3 feature
CTE — an independent implementation of the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
from kafka_flink_streaming_pipeline_spark.streaming.jobs import user_features_20m

_TS_FMT = "yyyy-MM-dd HH:mm:ss"
_WIN20_US = 20 * 60 * 1_000_000


def asof_feature_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from kafka_flink_streaming_pipeline_spark.plans.clickstream import _events

    events = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("user_id").alias("uuid"),
        F.col("ts").alias("t"),
        F.lit(1).alias("tag"),
        F.lit(None).cast("long").alias("click20m"),
        F.lit(None).cast("long").alias("view20m"),
    )
    # the FP3 rows with a TIMESTAMP window_end (the registered fp3
    # query formats it to a string for its oracle)
    feats = user_features_20m(_events(spark, sf_dir)).select(
        F.lit(None).cast("long").alias("event_id"),
        "uuid",
        F.col("window_end").alias("t"),
        F.lit(0).alias("tag"),
        "click20m",
        "view20m",
    )
    w = Window.partitionBy("uuid").orderBy("t", "tag").rowsBetween(
        Window.unboundedPreceding, 0
    )
    carried = feats.unionByName(events).select(
        "event_id",
        "uuid",
        "t",
        "tag",
        F.last("click20m", ignorenulls=True).over(w).alias("click20m_asof"),
        F.last("view20m", ignorenulls=True).over(w).alias("view20m_asof"),
    )
    return carried.filter(F.col("tag") == 1).select(
        "event_id",
        "uuid",
        F.date_format("t", _TS_FMT).alias("event_time"),
        "click20m_asof",
        "view20m_asof",
    )  # unsorted: one row per event — fact-sized at scale


# The feature CTE mirrors _FP3_ORACLE (clickstream.py) with raw
# timestamps; the join itself is DuckDB's native ASOF LEFT JOIN.
ASOF_ORACLE = f"""
WITH enriched AS (
  SELECT user_id AS uuid, ts AS event_time, event_type FROM events
),
base AS (
  SELECT uuid, event_type,
         make_timestamp((epoch_us(event_time) // {_WIN20_US} + 1) * {_WIN20_US}) AS win_end
  FROM enriched
  WHERE event_type IN ('click', 'view')
),
c AS (SELECT uuid, win_end, count(*) AS click20m FROM base WHERE event_type = 'click'
      GROUP BY uuid, win_end),
v AS (SELECT uuid, win_end, count(*) AS view20m FROM base WHERE event_type = 'view'
      GROUP BY uuid, win_end),
f AS (
  SELECT COALESCE(c.uuid, v.uuid) AS uuid,
         COALESCE(c.win_end, v.win_end) AS win_end,
         COALESCE(c.click20m, 0) AS click20m,
         COALESCE(v.view20m, 0) AS view20m
  FROM c RIGHT JOIN v ON c.uuid = v.uuid AND c.win_end = v.win_end
)
SELECT e.event_id,
       e.user_id AS uuid,
       strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_time,
       f.click20m AS click20m_asof,
       f.view20m AS view20m_asof
FROM events e
ASOF LEFT JOIN f ON e.user_id = f.uuid AND e.ts >= f.win_end
"""


QUERIES: dict[str, QuerySpec] = {
    "asof_feature_join": QuerySpec(
        "asof_feature_join",
        asof_feature_join,
        ASOF_ORACLE,
        "point-in-time feature join (union+last_value vs DuckDB ASOF)",
    ),
}
