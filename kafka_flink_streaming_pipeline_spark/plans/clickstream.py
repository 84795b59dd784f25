"""The nine analytical queries + feature pipelines (SURVEY.md §2.11),
adapted to the driver testdata `events` table.

The reference's corpus (`analysis/flink-analysis.sql`, cited per query
below) runs over Outbrain `events`/`page_views`. The driver testdata has
one generic `events` table (event_id, ts, user_id, event_type, value,
props) — so we map the reference's data model onto it deterministically,
identically on the Spark side and in the DuckDB oracle:

- uuid          ← user_id
- event_time    ← ts
- document_id   ← CAST(json k of props AS BIGINT)   (F17 JSON decode)
- "clicks"      ← rows with event_type = 'click'
- "page_views"  ← rows with event_type = 'view'
- geo_location  ← synthesized `CC>STATE>DMA` string (functions.synth_geo)
- traffic_source← user_id % 4  (exercises CASE ... ELSE 'Other')

Every query keeps the reference's exact shape: the 1-row max-timestamp
CTE cross join (J4 — Catalyst broadcasts it), relative-time filters
(P4), date_trunc buckets, LAG sessionization, ROW_NUMBER top-N.

Scale notes (100 TB):
- The max-timestamp aggregate is a full-column min/max scan → parquet
  footer statistics make it cheap; the subsequent filter is pushed down.
- All aggregations are two-phase hash aggs (map-side partial) — no
  driver-side state; per-group cardinality (users, docs, minutes) is
  bounded, so no skew beyond AQE's handling.
- Timestamp outputs are formatted to strings in BOTH engines so value
  hashing is timezone- and driver-representation-proof.
- Double averages are computed as exact-integer sums divided once, so
  the result is order-independent and bit-equal across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.functions import decode_traffic_source
from kafka_flink_streaming_pipeline_spark.functions.core import det_round
from kafka_flink_streaming_pipeline_spark.jobs.feature_batch_job import build_day_features
from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
    enrich,
    user_features_5m,
    user_features_20m,
)

TS_FMT = "yyyy-MM-dd HH:mm:ss"

# Shared CTE prefix for every DuckDB oracle — the SQL form of
# `streaming.jobs.enrich`, which `_enriched` applies to the events table.
ENRICHED_SQL = """
WITH enriched AS (
  SELECT user_id                                              AS uuid,
         ts                                                   AS event_time,
         CAST(json_extract_string(props, '$.k') AS BIGINT)    AS document_id,
         upper(substr(event_type, 1, 2)) || '>' ||
           CAST(user_id % 5 AS VARCHAR) || '>' ||
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10
                AS VARCHAR)                                   AS geo_location,
         user_id % 4                                          AS traffic_source,
         event_type
  FROM events
),
latest AS (SELECT max(event_time) AS max_ts FROM enriched)
"""


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table in the parsed wire shape that the shared
    transforms of `streaming/jobs.py` read: ts renamed to event_time."""
    return load_table(spark, sf_dir, "events").withColumnRenamed("ts", "event_time")


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    return enrich(_events(spark, sf_dir))


def _formatted(feats: DataFrame) -> DataFrame:
    """Feature rows as the oracles emit them: window_end formatted,
    ordered by (uuid, window_end)."""
    return feats.withColumn("window_end", F.date_format("window_end", TS_FMT)).orderBy(
        "uuid", "window_end"
    )


def _with_latest(e: DataFrame) -> DataFrame:
    """J4 — cross join with the 1-row max(event_time) aggregate
    (flink-analysis.sql:13-17). broadcast() makes the physical plan a
    BroadcastNestedLoopJoin over a single row: no shuffle of the fact
    side, and the derived filter is evaluated scan-side."""
    mx = e.agg(F.max("event_time").alias("max_ts"))
    return e.crossJoin(F.broadcast(mx))


def _views(e: DataFrame) -> DataFrame:
    return e.filter(F.col("event_type") == "view")


# --- Q1: events per minute, last hour (flink-analysis.sql:9-35) ----------


def _q1(event_filter: str | None, out_col: str):
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = _enriched(spark, sf_dir)
        scoped = e.filter(F.col("event_type") == event_filter) if event_filter else e
        mx = e.agg(F.max("event_time").alias("max_ts"))
        return (
            scoped.crossJoin(F.broadcast(mx))
            .filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 1 HOUR"))
            .select(
                F.date_format(F.date_trunc("minute", "event_time"), TS_FMT).alias("minute_ts")
            )
            .groupBy("minute_ts")
            .agg(F.count("*").alias(out_col))
            .orderBy("minute_ts")
        )

    where = f"AND event_type = '{event_filter}'" if event_filter else ""
    oracle = f"""{ENRICHED_SQL}
SELECT strftime(date_trunc('minute', event_time), '%Y-%m-%d %H:%M:%S') AS minute_ts,
       count(*) AS {out_col}
FROM enriched, latest
WHERE event_time >= latest.max_ts - INTERVAL 1 HOUR {where}
GROUP BY minute_ts
ORDER BY minute_ts
"""
    return build, oracle


_q1_build, _q1_oracle = _q1(None, "events_per_min")
_q1b_build, _q1b_oracle = _q1("view", "page_views_per_min")


# --- Q2: top-10 documents by impressions, 6 h (flink-analysis.sql:38-50) --


def _q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_latest(_enriched(spark, sf_dir))
    return (
        e.filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 6 HOURS"))
        .groupBy("document_id")
        .agg(F.count("*").alias("impressions"))
        # document_id tiebreak so the LIMIT frontier is deterministic
        # across engines (the reference orders by impressions only).
        .orderBy(F.desc("impressions"), F.asc("document_id"))
        .limit(10)
    )


_Q2_ORACLE = f"""{ENRICHED_SQL}
SELECT e.document_id, count(*) AS impressions
FROM enriched e, latest
WHERE e.event_time >= latest.max_ts - INTERVAL 6 HOURS
GROUP BY e.document_id
ORDER BY impressions DESC, e.document_id ASC
LIMIT 10
"""


# --- Q3: PV by geo triple, 24 h (flink-analysis.sql:54-68) ----------------


def _q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    mx = e.agg(F.max("event_time").alias("max_ts"))
    return (
        _views(e)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 24 HOURS"))
        .select(
            F.split_part(F.col("geo_location"), F.lit(">"), F.lit(1)).alias("country"),
            F.split_part(F.col("geo_location"), F.lit(">"), F.lit(2)).alias("state"),
            F.split_part(F.col("geo_location"), F.lit(">"), F.lit(3)).alias("dma"),
        )
        .groupBy("country", "state", "dma")
        .agg(F.count("*").alias("pv"))
        .orderBy(F.desc("pv"), "country", "state", "dma")
    )


_Q3_ORACLE = f"""{ENRICHED_SQL}
SELECT split_part(p.geo_location, '>', 1) AS country,
       split_part(p.geo_location, '>', 2) AS state,
       split_part(p.geo_location, '>', 3) AS dma,
       count(*) AS pv
FROM enriched p, latest
WHERE p.event_type = 'view'
  AND p.event_time >= latest.max_ts - INTERVAL 24 HOURS
GROUP BY country, state, dma
ORDER BY pv DESC, country, state, dma
"""


# --- Q4: traffic-source distribution, 24 h (flink-analysis.sql:72-90) -----


def _q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    mx = e.agg(F.max("event_time").alias("max_ts"))
    return (
        _views(e)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 24 HOURS"))
        .select(decode_traffic_source(F.col("traffic_source")).alias("traffic_source_label"))
        .groupBy("traffic_source_label")
        .agg(F.count("*").alias("clicks"))
        .orderBy(F.desc("clicks"), "traffic_source_label")
    )


_Q4_ORACLE = f"""{ENRICHED_SQL}
SELECT CASE p.traffic_source
         WHEN 1 THEN 'Desktop'
         WHEN 2 THEN 'Mobile'
         WHEN 3 THEN 'Tablet'
         ELSE 'Other'
       END AS traffic_source_label,
       count(*) AS clicks
FROM enriched p, latest
WHERE p.event_type = 'view'
  AND p.event_time >= latest.max_ts - INTERVAL 24 HOURS
GROUP BY traffic_source_label
ORDER BY clicks DESC, traffic_source_label
"""


# --- Q5: sessionization + session stats (flink-analysis.sql:94-152) -------

_GAP_US = 30 * 60 * 1_000_000  # 30-minute idle rule


def _q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    mx = e.agg(F.max("event_time").alias("max_ts"))
    w = Window.partitionBy("uuid").orderBy("event_time")
    ordered = (
        _views(e)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 12 HOURS"))
        .withColumn("prev_time", F.lag("event_time").over(w))
    )
    marks = ordered.withColumn(
        "new_session",
        F.when(
            F.col("prev_time").isNull()
            | (
                (F.unix_micros("event_time") - F.unix_micros("prev_time")) > F.lit(_GAP_US)
            ),
            1,
        ).otherwise(0),
    )
    session_ids = marks.withColumn("session_id", F.sum("new_session").over(w))
    per_session = session_ids.groupBy("uuid", "session_id").agg(
        F.count("*").alias("events_per_session")
    )
    # count(*) over the grouped frame == count(DISTINCT (uuid, session_id));
    # avg as exact-long-sum / count for cross-engine bit equality.
    return per_session.agg(
        F.count("*").alias("sessions_12h"),
        det_round(
            F.sum("events_per_session").cast("double") / F.count("*"), 2
        ).alias("avg_pages_per_session"),
    )


_Q5_ORACLE = f"""{ENRICHED_SQL},
ordered AS (
  SELECT uuid, event_time,
         lag(event_time) OVER (PARTITION BY uuid ORDER BY event_time) AS prev_time
  FROM enriched p, latest
  WHERE p.event_type = 'view'
    AND p.event_time >= latest.max_ts - INTERVAL 12 HOURS
),
session_marks AS (
  SELECT uuid, event_time,
         CASE WHEN prev_time IS NULL
                OR date_diff('microsecond', prev_time, event_time) > {_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
session_ids AS (
  SELECT uuid, event_time,
         sum(new_session) OVER (PARTITION BY uuid ORDER BY event_time) AS session_id
  FROM session_marks
)
SELECT count(*) AS sessions_12h,
       (floor((CAST(sum(events_per_session) AS DOUBLE) / count(*)) * 100.0 + 0.5) / 100.0) AS avg_pages_per_session
FROM (
  SELECT uuid, session_id, count(*) AS events_per_session
  FROM session_ids
  GROUP BY uuid, session_id
) t
"""


# --- Q5a: per-row session marks (flink-analysis.sql:100-121, stmt 1) ------


def _q5a(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    mx = e.agg(F.max("event_time").alias("max_ts"))
    w = Window.partitionBy("uuid").orderBy("event_time")
    ordered = (
        _views(e)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 12 HOURS"))
        .withColumn("prev_time", F.lag("event_time").over(w))
    )
    return ordered.select(
        "uuid",
        F.date_format("event_time", TS_FMT).alias("event_time"),
        F.when(
            F.col("prev_time").isNull()
            | ((F.unix_micros("event_time") - F.unix_micros("prev_time")) > F.lit(_GAP_US)),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    ).orderBy("uuid", "event_time")


_Q5A_ORACLE = f"""{ENRICHED_SQL},
ordered AS (
  SELECT uuid, event_time,
         lag(event_time) OVER (PARTITION BY uuid ORDER BY event_time) AS prev_time
  FROM enriched p, latest
  WHERE p.event_type = 'view'
    AND p.event_time >= latest.max_ts - INTERVAL 12 HOURS
)
SELECT uuid,
       strftime(event_time, '%Y-%m-%d %H:%M:%S') AS event_time,
       CASE WHEN prev_time IS NULL
              OR date_diff('microsecond', prev_time, event_time) > {_GAP_US}
            THEN 1 ELSE 0 END AS new_session
FROM ordered
ORDER BY uuid, event_time
"""


# --- session_window variant (T9 — Spark-native sessionization) ------------


def _session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same 30-min-idle sessions built with Spark's native
    `session_window` (usable in batch AND streaming, unlike the LAG
    formulation which is batch-only). Note the boundary difference:
    session_window starts a new session at gap >= 30 min, the
    reference's LAG rule at gap > 30 min — identical on real
    (microsecond) data, and the oracle below uses the >= rule."""
    e = _enriched(spark, sf_dir)
    return (
        _views(e)
        .groupBy("uuid", F.session_window("event_time", "30 minutes").alias("w"))
        .agg(F.count("*").alias("events_per_session"))
        .select(
            "uuid",
            F.date_format("w.start", TS_FMT).alias("session_start"),
            "events_per_session",
        )
        .orderBy("uuid", "session_start")
    )


_SESSION_WINDOW_ORACLE = f"""{ENRICHED_SQL},
ordered AS (
  SELECT uuid, event_time,
         lag(event_time) OVER (PARTITION BY uuid ORDER BY event_time) AS prev_time
  FROM enriched WHERE event_type = 'view'
),
marks AS (
  SELECT uuid, event_time,
         CASE WHEN prev_time IS NULL
                OR date_diff('microsecond', prev_time, event_time) >= {_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sess AS (
  SELECT uuid, event_time,
         sum(new_session) OVER (PARTITION BY uuid ORDER BY event_time) AS session_id
  FROM marks
)
SELECT uuid,
       strftime(min(event_time), '%Y-%m-%d %H:%M:%S') AS session_start,
       count(*) AS events_per_session
FROM sess
GROUP BY uuid, session_id
ORDER BY uuid, session_start
"""


# --- Q6: end-to-end delay monitor, 5 min (flink-analysis.sql:156-164) -----


def _q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _with_latest(_enriched(spark, sf_dir))
    return (
        e.filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 5 MINUTES"))
        .select((F.unix_micros("max_ts") - F.unix_micros("event_time")).alias("delay_us"))
        .agg(
            det_round(F.sum("delay_us").cast("double") / F.count("*") / 1000.0, 0).alias(
                "avg_ms_delay"
            )
        )
    )


_Q6_ORACLE = f"""{ENRICHED_SQL}
SELECT (floor((CAST(sum(delay_us) AS DOUBLE) / count(*) / 1000.0) * 1.0 + 0.5) / 1.0) AS avg_ms_delay
FROM (
  SELECT date_diff('microsecond', event_time, latest.max_ts) AS delay_us
  FROM enriched, latest
  WHERE event_time >= latest.max_ts - INTERVAL 5 MINUTES
) d
"""


# --- Q7: hour x weekday heatmap, 7 d (flink-analysis.sql:168-177) ---------


def _q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    mx = e.agg(F.max("event_time").alias("max_ts"))
    return (
        _views(e)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 7 DAYS"))
        .select(
            F.date_format("event_time", "HH").alias("hour"),
            F.date_format("event_time", "E").alias("weekday"),
        )
        .groupBy("hour", "weekday")
        .agg(F.count("*").alias("pv"))
    )


_Q7_ORACLE = f"""{ENRICHED_SQL}
SELECT strftime(event_time, '%H') AS hour,
       strftime(event_time, '%a') AS weekday,
       count(*) AS pv
FROM enriched p, latest
WHERE p.event_type = 'view'
  AND p.event_time >= latest.max_ts - INTERVAL 7 DAYS
GROUP BY hour, weekday
"""


# --- Q8: hourly top-20 documents, 24 h (flink-analysis.sql:181-206) -------


def _q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    mx = e.agg(F.max("event_time").alias("max_ts"))
    hourly = (
        _views(e)
        .crossJoin(F.broadcast(mx))
        .filter(F.col("event_time") >= F.col("max_ts") - F.expr("INTERVAL 24 HOURS"))
        .groupBy(
            F.date_format(F.date_trunc("hour", "event_time"), TS_FMT).alias("hour_bucket"),
            "document_id",
        )
        .agg(F.count("*").alias("pv"))
    )
    w = Window.partitionBy("hour_bucket").orderBy(F.desc("pv"), F.asc("document_id"))
    return (
        hourly.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 20)
        .select("hour_bucket", "document_id", "pv")
        .orderBy("hour_bucket", F.desc("pv"), "document_id")
    )


_Q8_ORACLE = f"""{ENRICHED_SQL},
hourly AS (
  SELECT document_id,
         strftime(date_trunc('hour', event_time), '%Y-%m-%d %H:%M:%S') AS hour_bucket,
         count(*) AS pv
  FROM enriched p, latest
  WHERE p.event_type = 'view'
    AND p.event_time >= latest.max_ts - INTERVAL 24 HOURS
  GROUP BY hour_bucket, document_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY hour_bucket
                               ORDER BY pv DESC, document_id ASC) AS rn
  FROM hourly
)
SELECT hour_bucket, document_id, pv
FROM ranked
WHERE rn <= 20
ORDER BY hour_bucket, pv DESC, document_id
"""


# --- Q9: D0-D7 retention (flink-analysis.sql:210-230) ---------------------

_DAY_US = 86_400_000_000


def _q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    first_seen = e.groupBy("uuid").agg(F.min("event_time").alias("first_time"))
    day_n = (
        e.join(first_seen, "uuid")
        .filter(F.col("event_time") < F.col("first_time") + F.expr("INTERVAL 8 DAYS"))
        .select(
            "uuid",
            F.expr(
                f"cast((unix_micros(event_time) - unix_micros(first_time)) div {_DAY_US} as int)"
            ).alias("day_delta"),
        )
    )
    return (
        day_n.groupBy("day_delta")
        .agg(F.count_distinct("uuid").alias("returning_users"))
        .orderBy("day_delta")
    )


_Q9_ORACLE = f"""{ENRICHED_SQL},
first_seen AS (
  SELECT uuid, min(event_time) AS first_time
  FROM enriched
  GROUP BY uuid
),
day_n AS (
  SELECT e.uuid,
         CAST(date_diff('microsecond', f.first_time, e.event_time) // {_DAY_US} AS INT)
           AS day_delta
  FROM enriched e
  JOIN first_seen f USING (uuid)
  WHERE e.event_time < f.first_time + INTERVAL 8 DAYS
)
SELECT day_delta, count(DISTINCT uuid) AS returning_users
FROM day_n
GROUP BY day_delta
ORDER BY day_delta
"""


# --- FP2: 5-min user click/view features (redis_sink copy.sql:64-181) -----
#
# The reference LEFT JOINs two streaming windowed aggregates (J1). The
# plan is `streaming.jobs.user_features_5m`, the single union-pivot
# aggregation (one shuffle, the same row set) that the FP2 stream job
# runs too; test_fp2_streaming_equals_batch replays the stream job
# against this entry, whose oracle below keeps the literal LEFT JOIN.


def _fp2(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _formatted(user_features_5m(_events(spark, sf_dir)))


_WIN5_US = 5 * 60 * 1_000_000

_FP2_ORACLE = f"""{ENRICHED_SQL},
base AS (
  SELECT uuid, event_type,
         make_timestamp((epoch_us(event_time) // {_WIN5_US} + 1) * {_WIN5_US}) AS win_end
  FROM enriched
  WHERE event_type IN ('click', 'view')
),
uc AS (SELECT uuid, win_end, count(*) AS click5m FROM base WHERE event_type = 'click'
       GROUP BY uuid, win_end),
uv AS (SELECT uuid, win_end, count(*) AS view5m  FROM base WHERE event_type = 'view'
       GROUP BY uuid, win_end)
SELECT uc.uuid,
       strftime(uc.win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
       uc.click5m AS click5m,
       COALESCE(uv.view5m, 0) AS view5m,
       'feat:user:{{' || CAST(uc.uuid AS VARCHAR) || '}}:' ||
         strftime(uc.win_end, '%Y%m%d%H%M') AS redis_key
FROM uc LEFT JOIN uv ON uc.uuid = uv.uuid AND uc.win_end = uv.win_end
ORDER BY uc.uuid, window_end
"""


# --- FP3: 20-min batch features (feature_batch_update.py:85-113) ----------
#
# The reference RIGHT JOINs the click aggregate into the view aggregate
# (COALESCE on both key sides suggests full-outer intent; we replicate
# RIGHT exactly — SURVEY.md §7 risks). `streaming.jobs.user_features_20m`
# is the same row set from one union-pivot aggregation, one shuffle
# instead of two.


def _fp3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _formatted(user_features_20m(_events(spark, sf_dir)))


_WIN20_US = 20 * 60 * 1_000_000

_FP3_ORACLE = f"""{ENRICHED_SQL},
base AS (
  SELECT uuid, event_type,
         make_timestamp((epoch_us(event_time) // {_WIN20_US} + 1) * {_WIN20_US}) AS win_end
  FROM enriched
  WHERE event_type IN ('click', 'view')
),
c AS (SELECT uuid, win_end, count(*) AS click20m FROM base WHERE event_type = 'click'
      GROUP BY uuid, win_end),
v AS (SELECT uuid, win_end, count(*) AS view20m FROM base WHERE event_type = 'view'
      GROUP BY uuid, win_end)
SELECT COALESCE(c.uuid, v.uuid) AS uuid,
       strftime(COALESCE(c.win_end, v.win_end), '%Y-%m-%d %H:%M:%S') AS window_end,
       COALESCE(c.click20m, 0) AS click20m,
       COALESCE(v.view20m, 0) AS view20m
FROM c RIGHT JOIN v ON c.uuid = v.uuid AND c.win_end = v.win_end
ORDER BY uuid, window_end
"""


# --- FP3 day-scoped variant (P3: feature_batch_update.py:98-99,108-109) ---


_DAY_LO = "2024-01-05 00:00:00"
_DAY_HI = "2024-01-06 00:00:00"


def _fp3_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FP3 backfill job's features for `_DAY_LO`'s date."""
    return _formatted(build_day_features(spark, sf_dir, _DAY_LO[:10]))


_FP3_DAY_ORACLE = f"""{ENRICHED_SQL},
base AS (
  SELECT uuid, event_type,
         make_timestamp((epoch_us(event_time) // {_WIN20_US} + 1) * {_WIN20_US}) AS win_end
  FROM enriched
  WHERE event_type IN ('click', 'view')
    AND event_time >= TIMESTAMP '{_DAY_LO}'
    AND event_time <  TIMESTAMP '{_DAY_HI}'
),
c AS (SELECT uuid, win_end, count(*) AS click20m FROM base WHERE event_type = 'click'
      GROUP BY uuid, win_end),
v AS (SELECT uuid, win_end, count(*) AS view20m FROM base WHERE event_type = 'view'
      GROUP BY uuid, win_end)
SELECT v.uuid AS uuid,
       strftime(v.win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
       COALESCE(c.click20m, 0) AS click20m,
       v.view20m AS view20m
FROM c RIGHT JOIN v ON c.uuid = v.uuid AND c.win_end = v.win_end
ORDER BY uuid, window_end
"""


QUERIES: dict[str, QuerySpec] = {
    "q1_events_per_min": QuerySpec(
        "q1_events_per_min", _q1_build, _q1_oracle, "events/min last hour (Q1a)"
    ),
    "q1_views_per_min": QuerySpec(
        "q1_views_per_min", _q1b_build, _q1b_oracle, "page_views/min last hour (Q1b)"
    ),
    "q2_top_docs_6h": QuerySpec("q2_top_docs_6h", _q2, _Q2_ORACLE, "top-10 docs 6h (Q2)"),
    "q3_geo_pv_24h": QuerySpec("q3_geo_pv_24h", _q3, _Q3_ORACLE, "PV by geo triple (Q3)"),
    "q4_traffic_source_24h": QuerySpec(
        "q4_traffic_source_24h", _q4, _Q4_ORACLE, "traffic source distribution (Q4)"
    ),
    "q5_session_stats_12h": QuerySpec(
        "q5_session_stats_12h", _q5, _Q5_ORACLE, "sessionization stats (Q5)"
    ),
    "q5a_session_marks_12h": QuerySpec(
        "q5a_session_marks_12h", _q5a, _Q5A_ORACLE, "per-row session marks (Q5 stmt 1)"
    ),
    "session_window_stats": QuerySpec(
        "session_window_stats",
        _session_windows,
        _SESSION_WINDOW_ORACLE,
        "native session_window sessions (T9)",
    ),
    "q6_avg_delay_5m": QuerySpec("q6_avg_delay_5m", _q6, _Q6_ORACLE, "delay monitor (Q6)"),
    "q7_heatmap_7d": QuerySpec("q7_heatmap_7d", _q7, _Q7_ORACLE, "hour x weekday heatmap (Q7)"),
    "q8_hourly_top20_24h": QuerySpec(
        "q8_hourly_top20_24h", _q8, _Q8_ORACLE, "hourly top-20 docs (Q8)"
    ),
    "q9_retention_d7": QuerySpec("q9_retention_d7", _q9, _Q9_ORACLE, "D0-D7 retention (Q9)"),
    "fp2_user_features_5m": QuerySpec(
        "fp2_user_features_5m", _fp2, _FP2_ORACLE, "5-min user click/view features (FP2)"
    ),
    "fp3_features_20m": QuerySpec(
        "fp3_features_20m", _fp3, _FP3_ORACLE, "20-min batch features (FP3)"
    ),
    "fp3_features_20m_day": QuerySpec(
        "fp3_features_20m_day", _fp3_day, _FP3_DAY_ORACLE, "day-scoped FP3 (P3 predicate)"
    ),
}
