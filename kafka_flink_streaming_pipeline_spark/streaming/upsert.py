"""Keyed upsert sink — the one piece of real engine work (SURVEY.md §4).

Flink infers upsert mode from a PRIMARY KEY on the sink table
(`page_views_postgres_sink.sql:47`: PK ⇒ upsert, no PK ⇒ append +
duplicate-key errors). Spark has no such inference, so we implement
MERGE semantics in `foreachBatch`: each micro-batch is merged into a
keyed parquet table, latest row per key wins.

One pass per call: the table's rows (tagged 0) and the micro-batch's
rows (tagged 1) are unioned by name and `dedupe_latest` keeps one row
per key, ordered by tag, then `order_col`, both descending. So a batch
row always beats a table row on its key, and within a batch the highest
`order_col` wins. The batch is referenced once, so a streaming source
(and any stateful operator above it) runs once per trigger, and the
merge is one exchange and one write — no driver collects.

Swap: the merge is written to `<table>.next`, then `<table>` is renamed
to `<table>.old`, `.next` to `<table>`, and `.old` is removed. A call
that finds `.old` finishes the swap a crash interrupted: it restores
`.old` when `<table>` is missing and removes it otherwise, so the table
is never lost and a redelivered batch converges.

Idempotency: re-delivering a batch leaves the table unchanged (batch
rows win on identical keys), which is what makes checkpoint-replay
effectively-once — the same property the reference leans on with
PK-upserts into Postgres (README.md:43-47).

Scale notes: the local implementation rewrites the table (fine for
feature tables ≤ memory; the test contract). At 100 TB the same
`merge_upsert` call sites swap in Delta `MERGE INTO` or dynamic
partition overwrite on the key's partition column — the surrounding
job code (sinks receive (batch_df, batch_id)) is unchanged.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

_FROM_BATCH = "__from_batch"


def dedupe_latest(df: DataFrame, keys: list[str], *order_cols: str) -> DataFrame:
    """Keep one row per key — the one highest on `order_cols`, compared
    in turn (ties broken arbitrarily-but-deterministically by the
    remaining columns' row_number order)."""
    w = Window.partitionBy(*keys).orderBy(*(F.desc(c) for c in order_cols))
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def _finish_swap(table: str, old: str) -> None:
    """Complete a swap that died part-way: restore `old` if the table
    was renamed away, else drop the stale copy."""
    if os.path.exists(old):
        if os.path.exists(table):
            shutil.rmtree(old)
        else:
            os.replace(old, table)


def merge_upsert(
    spark: SparkSession,
    batch: DataFrame,
    table_path: str,
    keys: list[str],
    order_col: str,
) -> None:
    """MERGE `batch` into the parquet table at `table_path` on `keys`.

    matched → replace with the batch row (latest wins);
    not matched → insert. Equivalent to Flink's PK-upsert JDBC sink
    (events_postgres_sink.sql:37-57) and to `MERGE INTO t USING b ON
    keys WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`.
    """
    table = table_path.rstrip("/")
    staged, old = table + ".next", table + ".old"
    _finish_swap(table, old)
    existed = os.path.exists(table)
    rows = batch.withColumn(_FROM_BATCH, F.lit(1))
    if existed:
        current = spark.read.parquet(table).withColumn(_FROM_BATCH, F.lit(0))
        rows = current.unionByName(rows)
    merged = dedupe_latest(rows, keys, _FROM_BATCH, order_col).drop(_FROM_BATCH)
    merged.write.mode("overwrite").parquet(staged)
    if existed:
        os.replace(table, old)
    os.replace(staged, table)
    if existed:
        shutil.rmtree(old)


def upsert_sink(spark: SparkSession, table_path: str, keys: list[str], order_col: str):
    """foreachBatch callback with MERGE semantics (S3/S7 analogue)."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(spark, batch_df, table_path, keys, order_col)

    return _sink
