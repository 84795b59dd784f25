"""Feature-store extras — the ⊘ declared-capability surface.

The reference's `redis_sink copy.sql` carries a commented-out feature
catalogue that the README advertises (README.md:56-67): per-document
window counts, top geo per window (FIRST_VALUE — W4), active users per
window over a UNION of both streams (U1 + A6), and the global-feature
join of two window aggregates (J5). These plans implement that surface
batch-first (oracle-checked). `fp2_kv_rows` projects the FP2 transform
the stream job runs (`streaming.jobs.user_features_5m`). The streaming
twins of the active-user, top-geo and global plans
(`streaming.jobs.global_features_stream_jobs`,
`hop_active_users_stream_job`) are written apart on purpose: Spark
forbids `count_distinct` and a `first_value` window in a streaming
query, so they restructure the aggregate (dedup → count, a per-batch
top-1), and tests/test_streaming.py proves them equal to these plans.

Also here:
- the Redis hash row itself (F6 `MAP[...]` constructor → `create_map`
  serialized to JSON for engine-comparable output), and
- the Kafka producer wire frame (S11/F17): key = uuid, value =
  `to_json(struct(...))` — the reference producer's JSON encoding
  (kafka_stream_producer.py:374-424) as a declarative projection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.plans.clickstream import (
    ENRICHED_SQL,
    TS_FMT,
    _enriched,
    _events,
)
from kafka_flink_streaming_pipeline_spark.streaming.jobs import user_features_5m

_WIN5_US = 5 * 60 * 1_000_000

_BASE5_SQL = f"""{ENRICHED_SQL},
base AS (
  SELECT uuid, event_type, document_id, geo_location,
         make_timestamp((epoch_us(event_time) // {_WIN5_US} + 1) * {_WIN5_US}) AS win_end
  FROM enriched
)
"""


def _win5(df: DataFrame) -> F.Column:
    return F.window("event_time", "5 minutes")


# --- per-document view counts per 5-min window (⊘ doc_view_cnt_5m) --------


def doc_counts_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir).filter(F.col("event_type") == "view")
    return (
        e.groupBy(F.col("document_id"), _win5(e).alias("w"))
        .agg(F.count("*").alias("view5m"))
        .select(
            "document_id",
            F.date_format("w.end", TS_FMT).alias("window_end"),
            "view5m",
        )
        .orderBy("document_id", "window_end")
    )


DOC_COUNTS_ORACLE = f"""{_BASE5_SQL}
SELECT document_id,
       strftime(win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
       count(*) AS view5m
FROM base
WHERE event_type = 'view'
GROUP BY document_id, win_end
ORDER BY document_id, window_end
"""


# --- top geo per 5-min window (⊘ geo_top_5m — W4 FIRST_VALUE) -------------


def geo_top_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir).filter(F.col("event_type") == "view")
    counts = (
        e.groupBy(F.col("geo_location"), _win5(e).alias("w"))
        .agg(F.count("*").alias("total"))
        .select("geo_location", F.col("w.end").alias("win_end"), "total")
    )
    w = Window.partitionBy("win_end").orderBy(F.desc("total"), F.asc("geo_location"))
    return (
        counts.withColumn("top_geo", F.first_value("geo_location").over(w))
        .withColumn("top_total", F.first_value("total").over(w))
        .select(
            F.date_format("win_end", TS_FMT).alias("window_end"), "top_geo", "top_total"
        )
        .distinct()
        .orderBy("window_end")
    )


GEO_TOP_ORACLE = f"""{_BASE5_SQL},
counts AS (
  SELECT geo_location, win_end, count(*) AS total
  FROM base WHERE event_type = 'view'
  GROUP BY geo_location, win_end
)
SELECT DISTINCT strftime(win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
       first_value(geo_location)
         OVER (PARTITION BY win_end ORDER BY total DESC, geo_location ASC) AS top_geo,
       first_value(total)
         OVER (PARTITION BY win_end ORDER BY total DESC, geo_location ASC) AS top_total
FROM counts
ORDER BY window_end
"""


# --- top-1 document per geo x window (⊘ geo_top_doc_5m — W1 rank) ---------


def geo_top_doc_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference (C) view `geo_top_doc_5m` (redis_sink copy.sql:98-116):
    per (geo, 5-min window) document counts → ROW_NUMBER rank → rn = 1.
    Tiebreak on document_id makes the frontier deterministic in both
    engines (the reference's bare `ORDER BY cnt DESC` is ambiguous)."""
    e = _enriched(spark, sf_dir).filter(F.col("event_type") == "view")
    counts = (
        e.groupBy("geo_location", "document_id", _win5(e).alias("w"))
        .agg(F.count("*").alias("cnt"))
        .select(
            "geo_location",
            "document_id",
            F.col("w.end").alias("win_end"),
            "cnt",
        )
    )
    w = Window.partitionBy("geo_location", "win_end").orderBy(
        F.desc("cnt"), F.asc("document_id")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "geo_location",
            F.date_format("win_end", TS_FMT).alias("window_end"),
            "document_id",
            "cnt",
        )
    )  # unsorted: one row per (geo, window) — fact-sized at scale


GEO_TOP_DOC_ORACLE = f"""{_BASE5_SQL},
counts AS (
  SELECT geo_location, document_id, win_end, count(*) AS cnt
  FROM base WHERE event_type = 'view'
  GROUP BY geo_location, document_id, win_end
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY geo_location, win_end
                               ORDER BY cnt DESC, document_id ASC) AS rn
  FROM counts
)
SELECT geo_location,
       strftime(win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
       document_id, cnt
FROM ranked WHERE rn = 1
"""


# --- active users per window over UNION of streams (⊘ U1 + A6) ------------


def active_users_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _enriched(spark, sf_dir)
    clicks = e.filter(F.col("event_type") == "click").select("uuid", "event_time")
    views = e.filter(F.col("event_type") == "view").select("uuid", "event_time")
    both = clicks.unionByName(views)
    return (
        both.groupBy(F.window("event_time", "5 minutes").alias("w"))
        .agg(F.count_distinct("uuid").alias("active_users"))
        .select(F.date_format("w.end", TS_FMT).alias("window_end"), "active_users")
        .orderBy("window_end")
    )


ACTIVE_USERS_ORACLE = f"""{_BASE5_SQL}
SELECT strftime(win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
       count(DISTINCT uuid) AS active_users
FROM (
  SELECT uuid, win_end FROM base WHERE event_type = 'click'
  UNION ALL
  SELECT uuid, win_end FROM base WHERE event_type = 'view'
) u
GROUP BY win_end
ORDER BY window_end
"""


def active_users_5m_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH ACCURACY TWIN of the streaming-legal approx distinct.

    The streaming deployment keeps ONLY `approx_count_distinct` (exact
    distinct isn't supported under streaming append mode — SURVEY.md
    A6; this documents the deviation). This batch twin adds the exact
    count beside it to carry the HASHABLE contract: HLL estimates
    differ across engines, so the oracle checks the accuracy claim —
    exact distinct plus a `within_tol` boolean over the internal
    estimate, same pattern as `sketch_rollup_active_users`. Tolerance =
    max(5% relative, ±1 user absolute): rsd=0.01 puts the 5% bound at
    5 sigma for real cardinalities, and the ±1 floor covers the tiny
    windows (3-8 users at sf0.1) where a sub-user estimator wobble is
    a large RELATIVE error but an irrelevant absolute one — a pure
    relative bound is ill-defined as exact → 1."""
    e = _enriched(spark, sf_dir)
    both = e.filter(F.col("event_type").isin("click", "view")).select("uuid", "event_time")
    est = F.col("approx_users").cast("double")
    exact = F.col("active_users")
    return (
        both.groupBy(F.window("event_time", "5 minutes").alias("w"))
        .agg(
            F.approx_count_distinct("uuid", rsd=0.01).alias("approx_users"),
            F.countDistinct("uuid").alias("active_users"),
        )
        .select(
            F.date_format("w.end", TS_FMT).alias("window_end"),
            "active_users",
            (
                F.abs(est - exact) <= F.greatest(F.lit(1.0), F.lit(0.05) * exact)
            ).alias("within_tol"),
        )
        .orderBy("window_end")
    )


ACTIVE_USERS_APPROX_ORACLE = f"""{_BASE5_SQL}
SELECT strftime(win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
       count(DISTINCT uuid) AS active_users, TRUE AS within_tol
FROM (
  SELECT uuid, win_end FROM base WHERE event_type = 'click'
  UNION ALL
  SELECT uuid, win_end FROM base WHERE event_type = 'view'
) u
GROUP BY win_end
ORDER BY window_end
"""


# --- global features: join of two window aggregates (⊘ J5) ----------------


def global_features_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    top = geo_top_5m(spark, sf_dir)
    active = active_users_5m(spark, sf_dir)
    return top.join(active, "window_end").orderBy("window_end")


GLOBAL_FEATURES_ORACLE = f"""{_BASE5_SQL},
counts AS (
  SELECT geo_location, win_end, count(*) AS total
  FROM base WHERE event_type = 'view'
  GROUP BY geo_location, win_end
),
geo_top AS (
  SELECT DISTINCT strftime(win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
         first_value(geo_location)
           OVER (PARTITION BY win_end ORDER BY total DESC, geo_location ASC) AS top_geo,
         first_value(total)
           OVER (PARTITION BY win_end ORDER BY total DESC, geo_location ASC) AS top_total
  FROM counts
),
active AS (
  SELECT strftime(win_end, '%Y-%m-%d %H:%M:%S') AS window_end,
         count(DISTINCT uuid) AS active_users
  FROM (
    SELECT uuid, win_end FROM base WHERE event_type = 'click'
    UNION ALL
    SELECT uuid, win_end FROM base WHERE event_type = 'view'
  ) u
  GROUP BY win_end
)
SELECT g.window_end, g.top_geo, g.top_total, a.active_users
FROM geo_top g JOIN active a USING (window_end)
ORDER BY g.window_end
"""


# --- FP2 as Redis KV rows (F6 MAP constructor) ----------------------------


def fp2_kv_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = user_features_5m(_events(spark, sf_dir))
    redis_hash = F.create_map(
        F.lit("click5m"),
        F.col("click5m").cast("string"),
        F.lit("view5m"),
        F.col("view5m").cast("string"),
    )
    return feats.select(
        "redis_key", F.to_json(redis_hash).alias("redis_hash_json")
    ).orderBy("redis_key")


#: the reference's declared feature TTLs (`flink-jobs/redis_sink
#: copy.sql:167-168`, comment-level design): 600 s for the per-user /
#: per-item 5-minute feature hashes, 300 s for the global ones
FP2_FEATURE_TTL_S = 600


def fp2_kv_write(spark: SparkSession, sf_dir: str, writer_factory) -> None:
    """Materialize `fp2_kv_rows` into a KV store with the reference's
    user-feature TTL: hash json decoded back to a map executor-side,
    then `foreach_partition_kv_writer` with ttl_seconds so every HSET
    is paired with an EXPIRE — the full redis_sink contract including
    the key-aging the reference declares (S4 + the TTL nit from the
    r10 verdict)."""
    from kafka_flink_streaming_pipeline_spark.sinks import foreach_partition_kv_writer

    rows = fp2_kv_rows(spark, sf_dir).select(
        "redis_key",
        F.from_json("redis_hash_json", "map<string,string>").alias("redis_hash"),
    )
    foreach_partition_kv_writer(rows, writer_factory, ttl_seconds=FP2_FEATURE_TTL_S)


FP2_KV_ORACLE = f"""{_BASE5_SQL},
agg AS (
  SELECT uuid, win_end,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS click5m,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS view5m
  FROM base WHERE event_type IN ('click', 'view')
  GROUP BY uuid, win_end
)
SELECT 'feat:user:{{' || CAST(uuid AS VARCHAR) || '}}:' ||
         strftime(win_end, '%Y%m%d%H%M') AS redis_key,
       '{{"click5m":"' || CAST(click5m AS VARCHAR) ||
         '","view5m":"' || CAST(view5m AS VARCHAR) || '"}}' AS redis_hash_json
FROM agg
WHERE click5m > 0
ORDER BY redis_key
"""


# --- Kafka producer wire frame (S11 + F17) --------------------------------


def kafka_wire_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The replay producer's wire format as a declarative projection:
    key = uuid, value = compact JSON of the enriched row — what
    `df.write.format("kafka")` would ship (kafka_stream_producer.py:
    374-424 does this row-by-row in Python; one Spark projection
    replaces the whole loop)."""
    e = _enriched(spark, sf_dir)
    payload = F.struct(
        F.col("uuid"),
        F.col("document_id"),
        F.date_format("event_time", TS_FMT).alias("event_time"),
        F.col("event_type"),
    )
    return e.select(
        F.col("uuid").cast("string").alias("key"), F.to_json(payload).alias("value")
    ).orderBy("key", "value")


KAFKA_WIRE_ORACLE = f"""{ENRICHED_SQL}
SELECT CAST(uuid AS VARCHAR) AS key,
       '{{"uuid":' || CAST(uuid AS VARCHAR) ||
       ',"document_id":' || CAST(document_id AS VARCHAR) ||
       ',"event_time":"' || strftime(event_time, '%Y-%m-%d %H:%M:%S') ||
       '","event_type":"' || event_type || '"}}' AS value
FROM enriched
ORDER BY key, value
"""


# --- sliding (HOP) window: 10-min span every 5 min ------------------------


def hop_active_users_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Active users per 10-minute window sliding every 5 minutes.

    The Flink HOP window (SURVEY.md §2.9 T2 family covers tumbling;
    this is the sliding variant). Spark's `window(ts, '10 minutes',
    '5 minutes')` assigns each row to size/slide = 2 windows via a
    generator BEFORE the aggregation — the expansion happens map-side
    and partial aggregation still applies, so the shuffle carries
    (window, uuid) pairs, not duplicated raw rows. Same plan shape a
    1000-executor run wants: expand → partial agg → one shuffle.
    """
    e = _enriched(spark, sf_dir)
    return (
        e.groupBy(F.window("event_time", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count_distinct("uuid").alias("active_users"))
        .select(F.date_format("w.end", TS_FMT).alias("window_end"), "active_users")
        .orderBy("window_end")
    )


HOP_ACTIVE_USERS_ORACLE = f"""{_BASE5_SQL}
SELECT strftime(win_end2, '%Y-%m-%d %H:%M:%S') AS window_end,
       count(DISTINCT uuid) AS active_users
FROM (
  SELECT uuid, win_end + k * (INTERVAL 5 MINUTE) AS win_end2
  FROM base, (VALUES (0), (1)) t(k)
) hopped
GROUP BY win_end2
ORDER BY window_end
"""


# --- trending docs per sliding window (HOP + rank) ------------------------


def hop_trending_docs_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 trending documents per 10-min window sliding every 5
    minutes — the HOP generator expansion composed with the W1 rank
    pattern: expand map-side (2 windows/row), partial-agg before the
    one shuffle on (window, doc), then WindowGroupLimit keeps 3 rows
    per window at the exchange. The 'what's hot right now' feed every
    clickstream product ships; windows and ranks both carry explicit
    tiebreaks."""
    e = _enriched(spark, sf_dir)
    counts = e.groupBy(
        F.window("event_time", "10 minutes", "5 minutes").alias("w"), "document_id"
    ).agg(F.count("*").alias("views"))
    rank_w = Window.partitionBy("w").orderBy(F.desc("views"), F.asc("document_id"))
    return (
        counts.withColumn("rn", F.row_number().over(rank_w))
        .filter(F.col("rn") <= 3)
        .select(
            F.date_format("w.end", TS_FMT).alias("window_end"),
            "document_id",
            "views",
            "rn",
        )
        .orderBy("window_end", "rn")
    )


HOP_TRENDING_ORACLE = f"""{_BASE5_SQL}
, hopped AS (
  SELECT document_id, win_end + k * (INTERVAL 5 MINUTE) AS win_end2
  FROM base, (VALUES (0), (1)) t(k)
),
counts AS (
  SELECT win_end2, document_id, count(*) AS views
  FROM hopped GROUP BY win_end2, document_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY win_end2
                               ORDER BY views DESC, document_id ASC) AS rn
  FROM counts
)
SELECT strftime(win_end2, '%Y-%m-%d %H:%M:%S') AS window_end,
       document_id, views, rn
FROM ranked WHERE rn <= 3
ORDER BY window_end, rn
"""


QUERIES: dict[str, QuerySpec] = {
    "fp_hop_trending_docs_10m_5m": QuerySpec(
        "fp_hop_trending_docs_10m_5m",
        hop_trending_docs_10m_5m,
        HOP_TRENDING_ORACLE,
        "sliding-window trending top-3 docs: HOP expansion + WindowGroupLimit rank",
    ),
    "fp_hop_active_users_10m_5m": QuerySpec(
        "fp_hop_active_users_10m_5m",
        hop_active_users_10m_5m,
        HOP_ACTIVE_USERS_ORACLE,
        "sliding HOP window distinct count (10m span / 5m slide)",
    ),
    "fp_doc_counts_5m": QuerySpec(
        "fp_doc_counts_5m", doc_counts_5m, DOC_COUNTS_ORACLE, "per-doc 5m view counts (⊘)"
    ),
    "fp_geo_top_doc_5m": QuerySpec(
        "fp_geo_top_doc_5m",
        geo_top_doc_5m,
        GEO_TOP_DOC_ORACLE,
        "top-1 document per geo x 5-min window (⊘ C view, W1 rank)",
    ),
    "fp_geo_top_5m": QuerySpec(
        "fp_geo_top_5m", geo_top_5m, GEO_TOP_ORACLE, "top geo per window — FIRST_VALUE (⊘ W4)"
    ),
    "fp_active_users_5m": QuerySpec(
        "fp_active_users_5m",
        active_users_5m,
        ACTIVE_USERS_ORACLE,
        "union of streams + exact distinct (⊘ U1/A6)",
    ),
    "fp_active_users_5m_approx": QuerySpec(
        "fp_active_users_5m_approx",
        active_users_5m_approx,
        ACTIVE_USERS_APPROX_ORACLE,  # hashable contract = accuracy claim
        "streaming-legal approx distinct (A6 deviation); "
        "exact + within_tol (max of 5pct, 1 user) boolean is the oracle contract",
    ),
    "fp_global_features_5m": QuerySpec(
        "fp_global_features_5m",
        global_features_5m,
        GLOBAL_FEATURES_ORACLE,
        "join of two window aggregates (⊘ J5)",
    ),
    "fp2_kv_rows": QuerySpec(
        "fp2_kv_rows", fp2_kv_rows, FP2_KV_ORACLE, "Redis KV rows — MAP constructor (F6)"
    ),
    "kafka_wire_frame": QuerySpec(
        "kafka_wire_frame", kafka_wire_frame, KAFKA_WIRE_ORACLE, "producer wire JSON (S11/F17)"
    ),
}
