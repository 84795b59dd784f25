"""Streaming jobs — FP1 raw pass-through and FP2 windowed features
(SURVEY.md §2.11, reference flink-jobs/*).

FP1 (events_postgres_sink.sql:62-73): project the declared columns, add
`act_load_time = current_timestamp()` (the PROCTIME() analogue — stamped
per micro-batch), upsert into the raw table on the event key.

FP2 (redis_sink copy.sql:64-181): per-user 5-minute tumbling click/view
counts. The reference LEFT JOINs two streaming window aggregates; Spark
forbids joining two streaming aggregates, and the idiomatic answer is a
single union-pivot aggregation (conditional counts in one groupBy) —
one stateful operator, one shuffle, identical semantics (J1 analysis in
SURVEY.md). Output mode `update` + keyed upsert sink mirrors Flink's
changelog upsert into Redis: every trigger refines the (uuid,
window_end) row, late rows beyond the 5 s watermark are dropped by the
window operator exactly as Flink drops them.

State at scale: per-(user, 5-min-window) counters, evicted when the
watermark passes — bounded by active users per window, not by history.

Bounded runs: the reference runs each job as a long-lived Flink job;
here every job is started by `start_bounded` (checkpointed, trigger
`availableNow`: drain what the source holds at start, then stop) and
finished by `drain`, which bounds the wait and turns the engine's own
progress reports into loud failures (timeout, rows dropped behind the
watermark) instead of a silently short sink.
"""

from __future__ import annotations

import shutil
from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from kafka_flink_streaming_pipeline_spark.functions import redis_feature_key, synth_geo
from kafka_flink_streaming_pipeline_spark.streaming.monitoring import late_rows_dropped
from kafka_flink_streaming_pipeline_spark.streaming.txn_sink import (
    read_append_table,
    txn_append_sink,
)
from kafka_flink_streaming_pipeline_spark.streaming.upsert import merge_upsert, upsert_sink

#: How long `drain` waits for a bounded run before stopping it.
DRAIN_TIMEOUT_S = 600


def start_bounded(writer: DataStreamWriter, checkpoint: str) -> StreamingQuery:
    """Start `writer` as a bounded run: checkpointed at `checkpoint`,
    trigger availableNow (every offset the source holds at start, in
    its own rate-limited micro-batches, then the query terminates)."""
    return (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def drain(q: StreamingQuery, what: str) -> None:
    """Wait for the bounded run `q` (named `what` in errors) to finish.

    Still running after `DRAIN_TIMEOUT_S`: stop it and raise
    TimeoutError — its sink is incomplete and must not be read. Any
    stateful operator that dropped rows behind the watermark
    (`late_rows_dropped`) raises too: late data fails here, not later
    as missing rows. A failed query re-raises its own error."""
    if not q.awaitTermination(DRAIN_TIMEOUT_S):
        q.stop()
        raise TimeoutError(
            f"{what} did not finish within {DRAIN_TIMEOUT_S}s; its sink is "
            "incomplete — not reading it"
        )
    dropped = late_rows_dropped(q)
    if dropped:
        raise RuntimeError(f"{what}: {dropped} rows dropped behind the watermark")


def _parquet_job(frame: DataFrame, table_path: str, checkpoint: str) -> StreamingQuery:
    """Bounded append-mode run of `frame` into a parquet table."""
    return start_bounded(
        frame.writeStream.outputMode("append")
        .format("parquet")
        .option("path", table_path),
        checkpoint,
    )


def raw_passthrough(stream: DataFrame) -> DataFrame:
    """FP1 projection: declared columns + act_load_time (P1/P2/F2)."""
    return stream.select(
        "event_id",
        "user_id",
        "event_type",
        "event_time",
        "value",
        "props",
        F.current_timestamp().alias("act_load_time"),
    )


def raw_sink_job(stream: DataFrame, table_path: str, checkpoint: str) -> StreamingQuery:
    """FP1 end-to-end: pass-through projection upserted on event_id —
    the S3 JDBC-upsert analogue, idempotent under redelivery."""
    spark = stream.sparkSession
    return start_bounded(
        raw_passthrough(stream)
        .writeStream.outputMode("append")
        .foreachBatch(upsert_sink(spark, table_path, ["event_id"], "act_load_time")),
        checkpoint,
    )


def user_features_5m(stream: DataFrame) -> DataFrame:
    """FP2 as union-pivot single aggregation over the streamed events.

    Emits (uuid, window_end, click5m, view5m, redis_key) — the same
    row set as the reference's click-agg ⟕ view-agg (clicks > 0 filter
    applied in the sink query, mirroring the LEFT side preservation).
    """
    return (
        stream.filter(F.col("event_type").isin("click", "view"))
        .groupBy(
            F.col("user_id").alias("uuid"),
            F.window("event_time", "5 minutes").alias("w"),
        )
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("click5m"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("view5m"),
        )
        .filter(F.col("click5m") > 0)
        .select(
            "uuid",
            F.col("w.end").alias("window_end"),
            "click5m",
            "view5m",
            redis_feature_key(F.col("uuid"), F.col("w.end")).alias("redis_key"),
        )
    )


def global_features_stream_jobs(
    stream: DataFrame, actives_path: str, geo_path: str, checkpoint_dir: str
) -> list[StreamingQuery]:
    """⊘ J5 surface, streaming-side (redis_sink copy.sql:139-162,229-231):
    per-window exact active users and top geo, as two streaming queries
    over the same source — exactly how the reference splits them into
    views before joining.

    - actives: chained stateful operators (streaming dedup on
      (uuid, window) → windowed count), append mode — Spark ≥3.4
      multi-stateful support; state for both stages evicts at the
      watermark. This is the EXACT distinct the reference declares
      (count(DISTINCT uuid)), not the approx fallback.
    - top geo: per-(geo, window) counts close atomically when the
      watermark passes the window end, so the FIRST_VALUE/rank top-1 is
      computed per emitted batch in foreachBatch and upserted on
      window_end — the J5/W4 foreachBatch treatment (SURVEY.md §4).

    The batch `global_features_5m` plan then equals actives ⋈ geo_top
    over the closed windows (proven in tests)."""
    spark = stream.sparkSession
    base = stream.filter(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("uuid"),
        "event_time",
        F.window("event_time", "5 minutes").alias("w"),
        synth_geo_from_stream().alias("geo_location"),
    )
    actives_q = _parquet_job(
        base.dropDuplicates(["uuid", "w"])
        .groupBy("w")
        .agg(F.count("*").alias("active_users"))
        .select(F.col("w.end").alias("window_end"), "active_users"),
        actives_path,
        f"{checkpoint_dir}/actives",
    )

    def top1_upsert(df: DataFrame, batch_id: int) -> None:
        rnk = Window.partitionBy("window_end").orderBy(
            F.desc("total"), F.asc("geo_location")
        )
        top = (
            df.withColumn("rn", F.row_number().over(rnk))
            .filter(F.col("rn") == 1)
            .select("window_end", F.col("geo_location").alias("top_geo"),
                    F.col("total").alias("top_total"))
            .withColumn("batch_seq", F.lit(batch_id).cast("long"))
        )
        upsert_sink(spark, geo_path, ["window_end"], "batch_seq")(top, batch_id)

    geo_q = start_bounded(
        base.filter(F.col("geo_location").isNotNull())
        .groupBy("w", "geo_location")
        .agg(F.count("*").alias("total"))
        .select(F.col("w.end").alias("window_end"), "geo_location", "total")
        .writeStream.outputMode("append")
        .foreachBatch(top1_upsert),
        f"{checkpoint_dir}/geo",
    )
    return [actives_q, geo_q]


def synth_geo_from_stream():
    """The enrichment geo expression over the wire columns (matches
    plans.clickstream._enriched's synth_geo mapping for view rows)."""
    doc_id = F.get_json_object("props", "$.k").cast("bigint")
    return F.when(
        F.col("event_type") == "view",
        synth_geo(F.col("event_type"), F.col("user_id"), doc_id),
    )


def _interval_join(
    clicks: DataFrame, views: DataFrame, bound: str, how: str
) -> DataFrame:
    """(uuid, click_id, view_id, lag_ms): every view by the same user
    within `bound` after a click, joined `how` (inner / leftOuter /
    fullOuter). Both inputs arrive from kafka_stream/replay_stream with
    the 5 s watermark already attached; it follows the renamed
    attributes (re-applying would be a disallowed watermark
    redefinition). The event-time range condition lets Spark bound
    each side's join state to the interval, evicting as the watermark
    moves."""
    c = clicks.select(
        F.col("user_id").alias("uuid"),
        F.col("event_id").alias("click_id"),
        F.col("event_time").alias("click_time"),
    )
    v = views.select(
        F.col("user_id").alias("v_uuid"),
        F.col("event_id").alias("view_id"),
        F.col("event_time").alias("view_time"),
    )
    # a full outer row may have survived from either side
    uuid = F.coalesce("uuid", "v_uuid") if how == "fullOuter" else F.col("uuid")
    return c.join(
        v,
        F.expr(
            f"""uuid = v_uuid
                AND view_time >= click_time
                AND view_time <= click_time + INTERVAL {bound}"""
        ),
        how,
    ).select(
        uuid.alias("uuid"),
        "click_id",
        "view_id",
        ((F.unix_micros("view_time") - F.unix_micros("click_time")) / 1000)
        .cast("long")
        .alias("lag_ms"),
    )


def stream_stream_attribution(
    clicks: DataFrame, views: DataFrame, bound: str = "5 minutes"
) -> DataFrame:
    """Native stream-stream interval join (Flink interval-join analogue,
    batch form in operators/interval_join.py), inner: matches emit
    eagerly (no withholding), so a bounded replay yields the complete
    batch-equal pair set."""
    return _interval_join(clicks, views, bound, "inner")


def stream_stream_attribution_outer(
    clicks: DataFrame, views: DataFrame, bound: str = "5 minutes"
) -> DataFrame:
    """LEFT OUTER interval join: every click, attributed if a same-user
    view follows within `bound`, emitted with NULLs if none ever does.
    Spark WITHHOLDS an unmatched click until the watermark proves no
    matching view can still arrive (wm > click_time + bound) — Flink's
    interval join with outer emission. Under availableNow replay the
    final unmatched clicks need the watermark pushed past their horizon
    (sentinel rows in tests — the flush rule every bounded replay here
    follows)."""
    return _interval_join(clicks, views, bound, "leftOuter")


def stream_stream_attribution_full(
    clicks: DataFrame, views: DataFrame, bound: str = "5 minutes"
) -> DataFrame:
    """FULL OUTER interval join: unmatched clicks emit with a NULL view
    once the watermark passes click_time + bound, unmatched views with a
    NULL click once no click interval can still cover them. The output
    key is COALESCEd from whichever side survived — the streaming twin
    of the batch FULL OUTER + COALESCE canonicalization
    (`plans/tpch.py` `_cust_full_outer`)."""
    return _interval_join(clicks, views, bound, "fullOuter")


def feature_stream_job(stream: DataFrame, table_path: str, checkpoint: str) -> StreamingQuery:
    """FP2 end-to-end: windowed features upserted on (uuid, window_end)
    each trigger — the Redis HSET sink analogue (S4), keyed exactly like
    `feat:user:{uuid}:yyyyMMddHHmm`."""
    spark = stream.sparkSession
    feats = user_features_5m(stream)
    return start_bounded(
        feats.withColumn("batch_seq", F.lit(0).cast("long"))
        .writeStream.outputMode("update")
        .foreachBatch(
            lambda df, bid: upsert_sink(
                spark, table_path, ["uuid", "window_end"], "batch_seq"
            )(df.withColumn("batch_seq", F.lit(bid)), bid)
        ),
        checkpoint,
    )


def dedup_stream_job(
    stream: DataFrame, table_path: str, checkpoint: str
) -> StreamingQuery:
    """Exactly-once event delivery from an at-least-once transport:
    native streaming dedup on the event key.

    `dropDuplicatesWithinWatermark` keeps one state entry per event_id
    and evicts it once the watermark passes that event's time + delay —
    so state is bounded by the redelivery horizon (what a Kafka
    producer can actually re-send), NOT by the stream's full history.
    A plain `dropDuplicates` in streaming would grow state forever at
    100 TB/day; this is the scale-safe form. Output is append-mode raw
    events, deduplicated — the front door a real ingest pipeline puts
    before every downstream aggregate. The eviction horizon is the
    source's watermark delay (kafka_stream/replay_stream both assign
    one — redefining it here is disallowed by Spark)."""
    deduped = stream.dropDuplicatesWithinWatermark(["event_id"])
    return _parquet_job(
        deduped.select(
            "event_id", "user_id", "event_type", "event_time", "value", "props"
        ),
        table_path,
        checkpoint,
    )


def hop_active_users_stream_job(
    stream: DataFrame, table_path: str, checkpoint: str
) -> StreamingQuery:
    """Sliding (HOP) window active users, streaming side.

    The streaming twin of the batch `fp_hop_active_users_10m_5m` plan:
    10-minute windows sliding every 5, EXACT distinct users. Exact
    COUNT(DISTINCT) is illegal in streaming append mode, so it is
    restructured as chained stateful operators — streaming dedup on
    (uuid, window) followed by a windowed count — the same rewrite the
    tumbling global-features job uses, here over the window GENERATOR
    (each row expands to size/slide = 2 windows map-side before any
    state). Both stages' state evicts at the watermark, so state size
    is bounded by (distinct users per window) × (2 open windows per
    instant), independent of stream length."""
    base = stream.select(
        F.col("user_id").alias("uuid"),
        "event_time",
        F.window("event_time", "10 minutes", "5 minutes").alias("w"),
    )
    return _parquet_job(
        base.dropDuplicates(["uuid", "w"])
        .groupBy("w")
        .agg(F.count("*").alias("active_users"))
        .select(F.col("w.end").alias("window_end"), "active_users"),
        table_path,
        checkpoint,
    )


def enrich_stream_job(
    stream: DataFrame, static_docs: DataFrame, table_path: str, checkpoint: str
) -> StreamingQuery:
    """Stream-static enrichment join: the streamed events decode their
    document_id and join the bounded `documents` dimension, then count
    5-min windowed views per language.

    Stream-static joins are STATELESS on the stream side — the static
    DataFrame is re-read every micro-batch (so dimension updates are
    picked up at batch granularity), and broadcasting it keeps each
    micro-batch join shuffle-free. The windowed aggregate closes per
    watermark; append mode emits each (window, lang) row exactly once.
    Batch-equivalent plan: operators/datasets.py
    stream_enrich_lang_counts."""
    enriched = (
        stream.withColumn(
            "document_id", F.get_json_object("props", "$.k").cast("bigint")
        )
        .join(
            F.broadcast(static_docs.select("doc_id", "lang")),
            F.col("document_id") == F.col("doc_id"),
        )
        .groupBy(F.window("event_time", "5 minutes").alias("w"), "lang")
        .agg(F.count("*").alias("views"))
        .select(F.col("w.end").alias("window_end"), "lang", "views")
    )
    return _parquet_job(enriched, table_path, checkpoint)


def fanout_stream_job(
    stream: DataFrame, raw_path: str, rollup_path: str, checkpoint: str
) -> StreamingQuery:
    """One source read, two sinks. The reference consumes the SAME Kafka
    topics in two separate Flink jobs (events_postgres_sink.sql and
    redis_sink — each with its own consumer group, deserialization and
    network read); at 100 TB that doubles broker egress and decode CPU.
    The Spark-native fan-out is one foreachBatch whose persisted batch
    serves both sinks:

    1. raw events → batch-addressed append table (txn_sink pattern,
       idempotent under redelivery);
    2. 5-min per-type rollup — recomputed FROM THE RAW TABLE for the
       windows touched by this batch, then keyed-overwritten via
       merge_upsert. Deriving sink 2 from sink 1 (instead of adding
       batch partials) makes the whole pipeline idempotent: a replayed
       batch overwrites its raw directory, then recomputes the same
       window rows to the same values. At lake scale the recompute
       prunes to the touched windows' partitions (incremental_rollup
       pattern); counters-in-a-transaction (Delta MERGE +=) is the
       alternative when raw retention is shorter than the rollup's.
    """
    raw_sink = txn_append_sink(raw_path)

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df.persist()
        try:
            raw_sink(batch_df, batch_id)
            touched = (
                batch_df.select(
                    F.window("event_time", "5 minutes").alias("w")
                )
                .select(F.col("w.end").alias("window_end"))
                .distinct()
            )
            raw = read_append_table(spark, raw_path)
            recomputed = (
                raw.groupBy(
                    F.window("event_time", "5 minutes").alias("w"), "event_type"
                )
                .agg(F.count("*").alias("n"))
                .select(F.col("w.end").alias("window_end"), "event_type", "n")
                .join(F.broadcast(touched), "window_end")
            )
            merge_upsert(
                spark, recomputed, rollup_path, ["window_end", "event_type"], "n"
            )
        finally:
            batch_df.unpersist()

    return start_bounded(stream.writeStream.foreachBatch(_sink), checkpoint)


def _append_job(
    stream: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    out_path: str,
    checkpoint: str,
) -> StreamingQuery:
    """Bounded foreachBatch run appending `transform(batch)` to the
    batch-addressed table at `out_path` (`txn_append_sink`: idempotent
    under redelivery). The shape of the stateless ingest gates: each
    input row arrives whole, and any index `transform` reads is re-read
    per batch, so an index-extension job can grow it between triggers
    (the stream-static contract)."""
    write_batch = txn_append_sink(out_path)
    return start_bounded(
        stream.writeStream.foreachBatch(
            lambda batch_df, batch_id: write_batch(transform(batch_df), batch_id)
        ),
        checkpoint,
    )


def build_dedup_index(docs: DataFrame, index_path: str) -> None:
    """Materialize the corpus LSH index — (doc_id, sig, band, band_key)
    parquet, ~200 bytes/doc. Built once from the corpus-so-far, then
    probed by every `dedup_index_stream_job` micro-batch; extend it
    with `extend_dedup_index` as documents are admitted."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import lsh_bands

    lsh_bands(docs).write.mode("overwrite").parquet(index_path)


def extend_dedup_index(admitted_docs: DataFrame, index_path: str) -> None:
    """Grow the corpus: append the admitted documents' band rows to the
    persisted index (same schema, same signature pipeline) — the second
    half of the ingest loop. The gate's stream-static contract re-reads
    the index per micro-batch, so documents admitted by batch N are
    candidate matches for batch N+1 without restarting anything; a
    re-delivered document is caught as a near-duplicate OF ITSELF on
    the retry (proven in `test_index_extension_closes_the_loop`).
    Parquet append is one file-add per writer task — no rewrite of the
    existing index."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import lsh_bands

    lsh_bands(admitted_docs).write.mode("append").parquet(index_path)


def ann_probe_stream_job(
    stream: DataFrame, index_path: str, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming vector search: every micro-batch of incoming query
    embeddings is probed against the persisted IVF index
    (`operators/similarity.build_ann_index`) and its top-k neighbor
    lists appended batch-addressed — the embedding-side twin of
    `dedup_index_stream_job`. Each batch's scan touches only the
    batch's probed cells (partition pruning), so probe cost is
    batch-sized, never corpus-sized."""
    from kafka_flink_streaming_pipeline_spark.operators.similarity import (
        probe_ann_index,
    )

    return _append_job(
        stream,
        lambda batch_df: probe_ann_index(batch_df.sparkSession, index_path, batch_df),
        out_path,
        checkpoint,
    )


def build_bloom_index(docs: DataFrame, index_path: str) -> None:
    """Materialize the exact-span contamination index: the corpus span
    KEY SET (`spans/` — one md5 per distinct 8-word span, the verify
    side) and its Bloom filter (`bloom/` — the (word, bits) relation,
    at most m_bits/32 rows ≈ 32 KiB, the probe side). Built once from
    the corpus-so-far, then probed by every `bloom_gate_stream_job`
    micro-batch. The filter is derived FROM the key set, so the two
    artifacts cannot drift."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        bloom_bits,
        doc_span_keys,
    )

    keys = doc_span_keys(docs).select("key").distinct()
    keys.write.mode("overwrite").parquet(f"{index_path}/spans")
    bloom_bits(keys).write.mode("overwrite").parquet(f"{index_path}/bloom")


def bloom_gate_stream_job(
    stream: DataFrame, index_path: str, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming exact-span contamination gate: every micro-batch of
    incoming documents is span-hashed (the same Catalyst pipeline as
    the batch `dedup_bloom_gate`, its oracled twin), probed against the
    persisted Bloom filter (broadcast — 32 KiB), and only bloom-hit
    spans pay the verify join against the persisted span key set;
    per-doc verdicts are appended batch-addressed."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        bloom_probe,
        doc_span_keys,
    )

    def _gate(batch_df: DataFrame) -> DataFrame:
        spark = batch_df.sparkSession
        bloom = spark.read.parquet(f"{index_path}/bloom")
        corpus_keys = spark.read.parquet(f"{index_path}/spans")
        return bloom_probe(doc_span_keys(batch_df), bloom, corpus_keys)

    return _append_job(stream, _gate, out_path, checkpoint)


def dedup_index_stream_job(
    stream: DataFrame, index_path: str, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming ingest near-dup gate: every micro-batch of incoming
    documents is minhash-signed (the same Catalyst pipeline as the
    batch `dedup_minhash_lsh`, running inside foreachBatch) and probed
    against the persisted corpus index; each doc gets an admission
    verdict (is_dup, matched_doc, est_jaccard) appended batch-addressed
    — idempotent under redelivery, exactly like the reference's upsert
    sinks are for keyed rows. The streaming half of
    `dedup_incoming_vs_corpus` (the oracled batch twin)."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        incoming_flags,
        lsh_bands,
    )

    return _append_job(
        stream,
        lambda batch_df: incoming_flags(
            batch_df.sparkSession.read.parquet(index_path), lsh_bands(batch_df), batch_df
        ),
        out_path,
        checkpoint,
    )


def rollup_stream_job(
    stream: DataFrame, facts_path: str, rollup_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming incremental-view maintenance of the daily rollup —
    the foreachBatch twin of `jobs/incremental_rollup.py` (which the
    reference recomputes in a daily Airflow batch,
    `airflow/dags/20m_feature_update.py`): each micro-batch

    1. stages its facts idempotently (per-batch directory, mode
       overwrite — a retried batch rewrites the same path), partitioned
       by event date so later maintenance scans prune;
    2. derives the batch's affected dates (a bounded-cardinality
       collect — dates per batch, not rows);
    3. calls `update_rollup` over the facts accumulated SO FAR for
       exactly those dates — dynamic partition overwrite, so untouched
       rollup history is never read or rewritten, and re-running a
       batch converges to the same table.

    A date that straddles micro-batches is simply recomputed from the
    larger accumulated fact set next time it appears — eventual
    equality with the batch rollup needs no ordering assumption, which
    is a strictly weaker premise than the fp2 artifact's chunk-ordered
    replay. State: none in the streaming engine (the rollup table IS
    the state), so the job is restart-safe from the checkpoint alone."""
    from kafka_flink_streaming_pipeline_spark.jobs.incremental_rollup import (
        update_rollup,
    )

    def _maintain(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        staged = batch_df.withColumn("d", F.to_date("ts"))
        staged.write.mode("overwrite").partitionBy("d").parquet(
            f"{facts_path}/batch={batch_id}"
        )
        dates = [r["d"] for r in staged.select("d").distinct().collect()]
        facts = spark.read.option("basePath", facts_path).parquet(facts_path)
        update_rollup(spark, facts, rollup_path, dates)

    return start_bounded(stream.writeStream.foreachBatch(_maintain), checkpoint)


# --- incremental release-manifest maintenance -------------------------------


def manifest_stream_job(
    stream: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Incremental dataset-card maintenance at ingest time: every
    micro-batch of incoming documents contributes a PARTIAL manifest
    (per (source, split): docs, token/char mass, xor content digest —
    `operators/corpus.py manifest_partial`, the same expressions as the
    batch entry), written batch-addressed via `txn_append_sink`; the
    combined manifest is re-derived from partials by `read_manifest`.

    Why partials, not a running total: xor is SELF-INVERSE, so a
    redelivered batch applied to a running digest would CANCEL itself
    out — the one aggregate where at-least-once delivery silently
    corrupts instead of duplicating. Batch-addressed partials make
    redelivery overwrite the same directory byte-for-byte (the txn_sink
    contract), and the combine is exact because every manifest column
    is batch-decomposable (counts add, digests xor — commutative and
    associative). At 100 TB the partial per batch is a handful of rows
    per (source, split); the combine reads partials only, never the
    corpus."""
    from kafka_flink_streaming_pipeline_spark.operators.corpus import (
        manifest_partial,
    )

    return _append_job(stream, manifest_partial, out_path, checkpoint)


def read_manifest(spark, out_path: str) -> DataFrame:
    """Combine the batch-addressed partial manifests into the current
    manifest — sums for the additive columns, xor for the digest."""
    return (
        read_append_table(spark, out_path)
        .groupBy("source", "split")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.expr("bit_xor(content_digest)").alias("content_digest"),
        )
    )


# --- right-to-be-forgotten tombstone propagation ---------------------------

_ERASE_BUCKETS = 16  # store partition fan-out: a delete rewrites 1/16th


def erasure_stream_job(
    forget_stream: DataFrame, store_path: str, ledger_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming right-to-be-forgotten propagation — the DELETE-mode
    sibling of the upsert/rollup foreachBatch jobs: each micro-batch of
    forget requests (user_ids) is applied to a materialized user store
    partitioned by `bucket = user_id % {_ERASE_BUCKETS}`:

    1. the batch's distinct ids and their affected buckets are tiny
       (bounded by the batch, never the store);
    2. ONLY the affected bucket partitions are read (partition-pruned
       scan), anti-joined against the batch's forget set, materialized
       (`localCheckpoint` — the poor man's snapshot; a lakehouse table
       format would give this MVCC swap natively), and written back
       with dynamic partition overwrite — untouched buckets are never
       read or rewritten;
    3. a bucket whose every row is erased produces NO survivor
       partition, which dynamic overwrite would silently leave stale —
       so vanished buckets are removed explicitly (pinned by
       `test_erasure_vanished_bucket_is_removed`);
    4. the batch appends an idempotent tombstone ledger (per-batch
       directory, mode overwrite) — the audit trail
       `privacy_erasure_audit` reports against.

    Deleting an already-deleted id is a no-op, so redelivered batches
    converge — the same idempotency contract as the upsert sink."""

    def _erase(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        forgets = batch_df.select("user_id").distinct().localCheckpoint()
        buckets = [
            r["bucket"]
            for r in forgets.select(
                (F.col("user_id") % _ERASE_BUCKETS).alias("bucket")
            )
            .distinct()
            .collect()
        ]
        if buckets:
            store = spark.read.option("basePath", store_path).parquet(store_path)
            affected = store.filter(F.col("bucket").isin(buckets))
            survivors = affected.join(
                forgets, "user_id", "left_anti"
            ).localCheckpoint()  # materialize BEFORE overwriting the source path
            kept = {
                r["bucket"]
                for r in survivors.select("bucket").distinct().collect()
            }
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                survivors.write.mode("overwrite").partitionBy("bucket").parquet(
                    store_path
                )
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
            for b in set(buckets) - kept:  # fully-erased partitions
                shutil.rmtree(f"{store_path}/bucket={b}", ignore_errors=True)
        forgets.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(f"{ledger_path}/batch={batch_id}")

    return start_bounded(forget_stream.writeStream.foreachBatch(_erase), checkpoint)


# --- streaming vector ingest into the persisted IVF index ------------------


def ann_ingest_stream_job(
    vector_stream: DataFrame, index_path: str, checkpoint: str
) -> StreamingQuery:
    """Streaming INDEX MAINTENANCE for the on-disk IVF inverted file —
    the ingest-side twin of `ann_probe_stream_job` (which only reads):
    each micro-batch of new vectors is normed and assigned to its
    coarse cell against the centroids READ FROM THE INDEX ITSELF
    (`_ivf_assign(..., seeds=index)` — the index stays self-contained,
    same device as the probe), then written to a batch-addressed
    subtree::

        {index}/batch=<id>/centroid_id=<c>/...

    mode("overwrite") on the batch's own directory makes redelivery
    idempotent (the txn-sink device), and the two-level layout keeps
    `centroid_id` a partition column — probes over the maintained
    index still prune cells at the parquet scan, now across batches.
    At 100 TB this is how a vector store actually grows: appends land
    in their cells without touching existing files; a compaction pass
    (`compact_partitions`) folds small batch files when cells fragment."""
    from kafka_flink_streaming_pipeline_spark.operators.similarity import (
        _ivf_assign,
        _vectors,
    )

    def _ingest(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx = spark.read.option("basePath", index_path).parquet(index_path)
        v = _vectors(batch_df).localCheckpoint()  # one read of the batch, used twice
        _ivf_assign(v, seeds=idx).join(v, "vec_id").write.mode(
            "overwrite"
        ).partitionBy("centroid_id").parquet(f"{index_path}/batch={batch_id}")

    return start_bounded(vector_stream.writeStream.foreachBatch(_ingest), checkpoint)
