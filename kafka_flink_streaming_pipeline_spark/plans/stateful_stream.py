"""The nine registry entries produced by a real writeStream job.

Each entry runs one streaming job from `streaming/` as a bounded
replay over the testdata tables and hands the job's sink, read back,
to the driver, which hashes it against a batch-SQL oracle. A green
entry therefore witnesses the streaming path end to end: source,
micro-batching, state, sink semantics.

Every builder has the same shape, inputs → job → `drain` → read-back
frame, run inside `_materialized(prefix, build)`:

- `_materialized` owns the temp work dir (inputs, checkpoints, sink
  tables): it returns the read-back frame `localCheckpoint()`ed, so the
  result no longer depends on the dir, and removes the dir on every
  exit — success, timeout and job failure alike;
- `drain` (`streaming/jobs.py`) bounds the wait and raises if the run
  timed out or any stateful operator dropped rows behind the
  watermark, so a late drop fails the entry instead of showing up as a
  row mismatch.

Inputs are either timestamp-ordered replay chunks
(`prepare_replay_chunks` + `replay_stream`, for jobs whose watermark
must only ever move forward) or `file_batches` — N unordered files,
one per micro-batch — for jobs whose result must not depend on the
batching.
"""

from __future__ import annotations

import datetime
import glob
import os
import shutil
import tempfile
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.jobs.incremental_rollup import read_rollup
from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.sources.batch import load_table
from kafka_flink_streaming_pipeline_spark.sources.kafka_replay import (
    kafka_replay_stream,
    produce_topic_log,
)
from kafka_flink_streaming_pipeline_spark.sources.streaming import (
    WIRE_SCHEMA,
    file_batches,
    prepare_replay_chunks,
    replay_stream,
)
from kafka_flink_streaming_pipeline_spark.streaming.jobs import (
    _ERASE_BUCKETS,
    _parquet_job,
    ann_ingest_stream_job,
    bloom_gate_stream_job,
    build_bloom_index,
    build_dedup_index,
    dedup_index_stream_job,
    drain,
    erasure_stream_job,
    feature_stream_job,
    manifest_stream_job,
    read_manifest,
    rollup_stream_job,
)
from kafka_flink_streaming_pipeline_spark.streaming.stateful import (
    stateful_session_job,
)
from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
    read_append_table,
)

_GAP_US = 30 * 60 * 1_000_000
_TS_FMT = "yyyy-MM-dd HH:mm:ss"


def _materialized(prefix: str, build: Callable[[str], DataFrame]) -> DataFrame:
    """`build(work)` in a fresh temp dir named `prefix*`, its frame
    materialized with `localCheckpoint()` before the dir is removed —
    whether `build` returned, timed out or raised."""
    work = tempfile.mkdtemp(prefix=prefix)
    try:
        return build(work).localCheckpoint()
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _stateful_sessions_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom keyed-state sessionizer (`streaming/stateful.py`,
    `applyInPandasWithState` with event-time timeouts) over a 2-chunk
    replay of the events table, against the reference's LAG +
    running-SUM sessionization (analysis/flink-analysis.sql:94-152).

    Flushing relies on two far-future sentinel events (user_id = -1,
    filtered from the output), each added after the previous drain
    finished and drained alone on the SAME checkpoint (the restart
    pattern): the first moves the persisted watermark past every real
    session's last_ts + gap, the second runs a batch under that
    watermark and fires the timeouts. A drain whose only new file is
    one sentinel can never batch a sentinel with real events — real
    rows arriving 10 days below an advanced watermark would be late.
    The sentinel user's own open session is the only state withheld."""

    def build(work: str) -> DataFrame:
        chunks = os.path.join(work, "chunks")
        events = load_table(spark, sf_dir, "events")
        prepare_replay_chunks(spark, events, chunks, n_chunks=2)
        out = os.path.join(work, "sessions")
        ckpt = os.path.join(work, "ckpt")

        def run() -> None:
            q = stateful_session_job(replay_stream(spark, chunks), out, ckpt)
            drain(q, "sessionizer drain")

        run()
        max_ts = events.agg(F.max("ts")).collect()[0][0]
        staging = os.path.join(work, "staging")
        for i, days in enumerate((10, 20), start=1):
            row = [(10**12 + i, max_ts + datetime.timedelta(days=days), -1, "view", 0.0, "{}")]
            spark.createDataFrame(row, WIRE_SCHEMA).coalesce(1).write.mode(
                "overwrite"
            ).parquet(staging)
            shutil.copy(
                glob.glob(f"{staging}/part-*.parquet")[0],
                f"{chunks}/zz_sentinel_{i}.parquet",
            )
            run()
        return (
            spark.read.parquet(out)
            .filter(F.col("uuid") != -1)
            .select(
                "uuid",
                F.date_format("session_start", _TS_FMT).alias("session_start"),
                F.date_format("session_end", _TS_FMT).alias("session_end"),
                "n_events",
                "n_clicks",
            )
        )

    return _materialized("stateful_sessions_", build)


_STATEFUL_SESSIONS_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, event_id, ts, event_type,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
marks AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN prev_ts IS NULL
                OR date_diff('microsecond', prev_ts, ts) > {_GAP_US}
              THEN 1 ELSE 0 END AS new_session
  FROM ordered
),
sess AS (
  SELECT user_id, ts, event_type,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marks
)
SELECT user_id AS uuid,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       count(*) AS n_events,
       count(*) FILTER (WHERE event_type = 'click') AS n_clicks
FROM sess
GROUP BY user_id, session_id
"""


def _fp2_stream_materialized_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FP2 through `feature_stream_job` (windowed union-pivot aggregate,
    update mode, foreachBatch keyed upsert — the Redis HSET sink
    analogue) over a 4-chunk replay, against the batch FP2 oracle of
    `fp2_user_features_5m`: witnesses the watermark, the stateful
    window operator and changelog upsert idempotency (later triggers
    refine earlier rows). Streaming == batch at any sf because the
    replay is chunk-ordered and intra-chunk sorted, so no row is ever
    behind the watermark (`drain` checks it)."""

    def build(work: str) -> DataFrame:
        chunks = os.path.join(work, "chunks")
        prepare_replay_chunks(
            spark, load_table(spark, sf_dir, "events"), chunks, n_chunks=4
        )
        table = os.path.join(work, "features")
        q = feature_stream_job(
            replay_stream(spark, chunks), table, os.path.join(work, "ckpt")
        )
        drain(q, "fp2 replay stream")
        return spark.read.parquet(table).select(
            "uuid",
            F.date_format("window_end", _TS_FMT).alias("window_end"),
            "click5m",
            "view5m",
            "redis_key",
        )

    return _materialized("fp2_stream_", build)


def _fp2_stream_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.plans.clickstream import _FP2_ORACLE

    return _FP2_ORACLE


_KAFKA_ROUNDTRIP_ORACLE = """
SELECT event_id,
       epoch_us(ts) AS ts_us,
       user_id, event_type, value, props
FROM events
ORDER BY event_id
"""


def _kafka_roundtrip_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Kafka wire round-trip, broker excepted: events → keyed
    producer frames (key = user_id, value = JSON; the S11 wire,
    kafka_stream_producer.py:374-424) → `produce_topic_log` partitioned
    topic log → the `kafka_replay` source (the spark-sql-kafka 7-column
    schema, real per-partition offsets) → `parse_kafka_frame`, the S1
    decode stage `kafka_stream` uses → parquet sink, read back.

    The oracle is the events table itself: nothing lost, duplicated or
    altered across produce → partition → offset-planned delivery →
    JSON decode. ts rides the wire as unix micros (bit-exact); doubles
    survive because JSON shortest-repr round-trips exactly.
    Offset/restart/rate-limit semantics are pytest-witnessed in
    tests/test_kafka_replay_source.py."""
    cols = ("event_id", "ts_us", "user_id", "event_type", "value", "props")

    def build(work: str) -> DataFrame:
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
        payload_ddl = (
            "event_id bigint, ts_us bigint, user_id bigint, "
            "event_type string, value double, props string"
        )
        out = os.path.join(work, "out")
        q = _parquet_job(
            kafka_replay_stream(spark, log, payload_ddl).select(*cols),
            out,
            os.path.join(work, "ck"),
        )
        drain(q, "kafka round-trip stream")
        return spark.read.parquet(out).select(*cols).orderBy("event_id")

    return _materialized("kafka_rt_", build)


def _dedup_gate_stream_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest near-dup gate: corpus docs (doc_id % 3 != 0) indexed
    once by `build_dedup_index`, the rest streamed in 4 micro-batches
    through `dedup_index_stream_job` (minhash-sign each batch, probe
    the persisted index, append per-doc verdicts). The gate is per-doc,
    so the streamed union must equal the batch twin
    `dedup_incoming_vs_corpus`, whose oracle this is hashed against."""

    def build(work: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        index_path = os.path.join(work, "lsh_index")
        build_dedup_index(docs.filter(F.col("doc_id") % 3 != 0), index_path)
        stream = file_batches(
            spark,
            docs.filter(F.col("doc_id") % 3 == 0),
            os.path.join(work, "incoming"),
            4,
        )
        verdicts = os.path.join(work, "verdicts")
        q = dedup_index_stream_job(
            stream, index_path, verdicts, os.path.join(work, "ckpt")
        )
        drain(q, "dedup gate stream")
        return read_append_table(spark, verdicts).select(
            "incoming_doc", "is_dup", "matched_doc", "est_jaccard"
        )

    return _materialized("dedup_gate_stream_", build)


def _bloom_gate_stream_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact-span contamination gate: corpus docs (doc_id % 3 != 0)
    indexed once by `build_bloom_index` (span key set + derived Bloom
    filter), the rest streamed in 4 micro-batches through
    `bloom_gate_stream_job` (probe, verify bloom hits, append per-doc
    verdicts). The gate is per-doc, so the streamed union must equal
    the batch twin `dedup_bloom_gate`, whose oracle this is hashed
    against."""

    def build(work: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
        index_path = os.path.join(work, "bloom_index")
        build_bloom_index(docs.filter(F.col("doc_id") % 3 != 0), index_path)
        stream = file_batches(
            spark,
            docs.filter(F.col("doc_id") % 3 == 0),
            os.path.join(work, "incoming"),
            4,
        )
        verdicts = os.path.join(work, "verdicts")
        q = bloom_gate_stream_job(
            stream, index_path, verdicts, os.path.join(work, "ckpt")
        )
        drain(q, "bloom gate stream")
        return read_append_table(spark, verdicts).select(
            "doc_id", "n_spans", "n_bloom_hits", "n_true_hits", "contaminated"
        )

    return _materialized("bloom_gate_stream_", build)


def _bloom_gate_stream_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        _bloom_gate_oracle,
    )

    return _bloom_gate_oracle()


def _rollup_stream_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: events streamed in 4 micro-batches
    through `rollup_stream_job` (per-batch staged facts, affected-date
    recompute, dynamic-partition overwrite). The finished rollup must
    equal the one-shot batch rollup over all events with no ordering
    assumption: any date recompute uses all facts accumulated so far,
    so the final pass is complete."""

    def build(work: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        stream = file_batches(spark, events, os.path.join(work, "incoming"), 4)
        rollup = os.path.join(work, "rollup")
        q = rollup_stream_job(
            stream, os.path.join(work, "facts"), rollup, os.path.join(work, "ckpt")
        )
        drain(q, "rollup stream")
        return read_rollup(spark, rollup).select(
            F.col("d").cast("string").alias("d"),
            "event_type",
            "n",
            "value_cents",
            "users",
        )

    return _materialized("rollup_stream_", build)


_ROLLUP_STREAM_ORACLE = """
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS d,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS value_cents,
       count(DISTINCT user_id) AS users
FROM events
GROUP BY 1, 2
ORDER BY 1, 2
"""


def _dedup_gate_stream_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        DEDUP_INCOMING_ORACLE,
    )

    return DEDUP_INCOMING_ORACLE


def _manifest_stream_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dataset-card maintenance: documents streamed in 4
    micro-batches through `manifest_stream_job` (one batch-addressed
    PARTIAL manifest per batch — xor is self-inverse, so a running
    total would cancel under redelivery), combined by `read_manifest`
    (sum/xor). Every manifest column is batch-decomposable, so the
    result must equal the one-shot batch `corpus_release_manifest`
    however the docs were batched."""

    def build(work: str) -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "text"
        )
        stream = file_batches(spark, docs, os.path.join(work, "incoming"), 4)
        out = os.path.join(work, "manifest")
        q = manifest_stream_job(stream, out, os.path.join(work, "ckpt"))
        drain(q, "manifest stream")
        return read_manifest(spark, out).orderBy("source", "split")

    return _materialized("manifest_stream_", build)


def _manifest_stream_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.operators.corpus import (
        RELEASE_MANIFEST_ORACLE,
    )

    return RELEASE_MANIFEST_ORACLE


def _erasure_stream_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE semantics: the events table materialized as a user store
    partitioned by `bucket = user_id % 16`, the forget set (the
    standing `% 97 == 0` ids `privacy_erasure_audit` accounts for)
    streamed in 4 micro-batches through `erasure_stream_job`
    (partition-pruned anti-join delete, dynamic-partition overwrite).
    The finished store must equal the one-shot batch anti-join — per
    bucket::

        bucket | n_rows | n_users
    """

    def build(work: str) -> DataFrame:
        events = load_table(spark, sf_dir, "events").select(
            "event_id", "ts", "user_id", "event_type", "value"
        )
        store = os.path.join(work, "store")
        events.withColumn(
            "bucket", F.col("user_id") % _ERASE_BUCKETS
        ).write.partitionBy("bucket").parquet(store)
        forgets = events.filter(F.col("user_id") % 97 == 0).select("user_id").distinct()
        stream = file_batches(spark, forgets, os.path.join(work, "forgets"), 4)
        q = erasure_stream_job(
            stream, store, os.path.join(work, "ledger"), os.path.join(work, "ckpt")
        )
        drain(q, "erasure stream")
        return (
            spark.read.option("basePath", store)
            .parquet(store)
            .groupBy("bucket")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                F.count_distinct("user_id").cast("bigint").alias("n_users"),
            )
            .select(F.col("bucket").cast("bigint").alias("bucket"), "n_rows", "n_users")
            .orderBy("bucket")
        )

    return _materialized("erasure_stream_", build)


_ERASURE_STREAM_ORACLE = """
SELECT CAST(user_id % 16 AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM events
WHERE user_id % 97 <> 0
GROUP BY bucket
ORDER BY bucket
"""


def _ann_ingest_stream_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming index maintenance for the vector store: the on-disk
    IVF index bootstrapped with only the K seed centroids (batch=-1,
    each its own cell), every other embedding streamed in 4
    micro-batches through `ann_ingest_stream_job` (assign against the
    centroids read from the index itself, append batch-addressed cell
    partitions). The maintained index's per-cell membership must equal
    the one-shot batch assignment of the whole embedding table::

        centroid_id | n_vectors | n_seeds
    """
    from kafka_flink_streaming_pipeline_spark.operators.similarity import (
        _IVF_K,
        _N_QUERIES,
        _vectors,
    )

    def build(work: str) -> DataFrame:
        e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
        is_seed = (F.col("vec_id") >= _N_QUERIES) & (
            F.col("vec_id") < _N_QUERIES + _IVF_K
        )
        index = os.path.join(work, "index")
        _vectors(e.filter(is_seed)).withColumn(
            "centroid_id", F.col("vec_id")  # a seed's cell is itself
        ).write.partitionBy("centroid_id").parquet(f"{index}/batch=-1")
        stream = file_batches(spark, e.filter(~is_seed), os.path.join(work, "incoming"), 4)
        q = ann_ingest_stream_job(stream, index, os.path.join(work, "ckpt"))
        drain(q, "ann ingest stream")
        return (
            spark.read.option("basePath", index)
            .parquet(index)
            .groupBy("centroid_id")
            .agg(
                F.count("*").cast("bigint").alias("n_vectors"),
                F.sum(F.when(is_seed, 1).otherwise(0)).cast("bigint").alias("n_seeds"),
            )
            .select(
                F.col("centroid_id").cast("bigint").alias("centroid_id"),
                "n_vectors",
                "n_seeds",
            )
            .orderBy("centroid_id")
        )

    return _materialized("ann_ingest_stream_", build)


def _ann_ingest_stream_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.operators.similarity import (
        _DUCK_CENT_COS,
        _DUCK_EMB,
        _IVF_K,
        _N_QUERIES,
    )

    return f"""
WITH e AS ({_DUCK_EMB}),
cents AS (
  SELECT vec_id AS centroid_id, v FROM e
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}
),
assign_scored AS (
  SELECT a.vec_id, k.centroid_id, {_DUCK_CENT_COS} AS ccos
  FROM e a CROSS JOIN (SELECT centroid_id, v FROM cents) k
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
)
SELECT CAST(centroid_id AS BIGINT) AS centroid_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(CASE WHEN vec_id >= {_N_QUERIES}
                      AND vec_id < {_N_QUERIES + _IVF_K}
                THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds
FROM assigned
GROUP BY centroid_id
ORDER BY centroid_id
"""


QUERIES: dict[str, QuerySpec] = {
    "bloom_gate_stream_materialized": QuerySpec(
        "bloom_gate_stream_materialized",
        _bloom_gate_stream_build,
        _bloom_gate_stream_oracle(),
        "exact-span contamination gate via the real foreachBatch stream "
        "job read back (persisted bloom + span-set index)",
    ),
    "dedup_gate_stream_materialized": QuerySpec(
        "dedup_gate_stream_materialized",
        _dedup_gate_stream_build,
        _dedup_gate_stream_oracle(),
        "ingest near-dup gate via the real foreachBatch stream job read back",
    ),
    "stateful_sessions_stream": QuerySpec(
        "stateful_sessions_stream",
        _stateful_sessions_build,
        _STATEFUL_SESSIONS_ORACLE,
        "applyInPandasWithState 30-min sessionizer vs batch LAG oracle (T9 custom)",
    ),
    "manifest_stream_materialized": QuerySpec(
        "manifest_stream_materialized",
        _manifest_stream_build,
        _manifest_stream_oracle(),
        "incremental release-manifest maintenance from batch-addressed "
        "partials (sum/xor combine) via the real foreachBatch stream job",
    ),
    "ann_ingest_stream_materialized": QuerySpec(
        "ann_ingest_stream_materialized",
        _ann_ingest_stream_build,
        _ann_ingest_stream_oracle(),
        "IVF index maintained by the streaming vector-ingest job "
        "(batch-addressed cell partitions) read back, per-cell rollup",
    ),
    "erasure_stream_materialized": QuerySpec(
        "erasure_stream_materialized",
        _erasure_stream_build,
        _ERASURE_STREAM_ORACLE,
        "user store after the streaming forget-request job (partition-"
        "pruned anti-join deletes in foreachBatch) read back, per-bucket",
    ),
    "fp2_stream_materialized": QuerySpec(
        "fp2_stream_materialized",
        _fp2_stream_materialized_build,
        _fp2_stream_oracle(),
        "FP2 via the real writeStream job (update-mode upsert sink) read back",
    ),
    "rollup_stream_materialized": QuerySpec(
        "rollup_stream_materialized",
        _rollup_stream_build,
        _ROLLUP_STREAM_ORACLE,
        "daily rollup maintained incrementally by the real foreachBatch "
        "stream job (dynamic-partition overwrite) read back",
    ),
    "kafka_roundtrip_stream_materialized": QuerySpec(
        "kafka_roundtrip_stream_materialized",
        _kafka_roundtrip_build,
        _KAFKA_ROUNDTRIP_ORACLE,
        "events -> keyed producer frames -> kafka_replay wire source "
        "(7-col Kafka schema, per-partition offsets) -> parse_kafka_frame "
        "(the S1 decode stage) -> sink, read back: the Kafka round-trip "
        "minus only the broker dial",
    ),
}
