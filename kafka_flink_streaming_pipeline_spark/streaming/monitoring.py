"""Pipeline observability — the Spark-native analogue of the reference's
Prometheus monitoring.

The reference watches its pipeline from the outside: kafka-exporter →
Prometheus, with rate/lag PromQL (`README.md:79-86`,
`analysis/prometheus.yml:5-8`):

    sum(rate(kafka_topic_partition_current_offset[1m])) by (topic)   # throughput
    sum(kafka_consumergroup_lag) by (consumergroup, topic)           # backlog

Spark surfaces the same two signals from the inside, per micro-batch:
`StreamingQueryProgress.inputRowsPerSecond` / `processedRowsPerSecond`
(throughput) and the source's backlog via `numInputRows` against the
trigger cadence; custom business metrics ride `df.observe(...)` and
arrive in `progress.observedMetrics` — computed ON the executors as an
aggregate piggybacked on the running query, never a second scan.

Three pieces:
- `RateListener` — a `StreamingQueryListener` that accumulates per-batch
  progress (rows, rates, observed metrics) in memory; `throughput()`
  gives the job-lifetime rate, the per-batch list is the scrape surface
  a metrics exporter would poll.
- `observe_ingest(df)` — attaches the standard ingest metric set
  (row count, distinct-key-bearing rows, max event_time) to any
  streaming or batch DataFrame under the well-known name
  ``kfsp_ingest``. For batch, pair with `pyspark.sql.Observation`.
- `late_rows_dropped(*queries)` — rows the queries' stateful operators
  dropped behind the watermark, read from their progress.

At scale this is the operationally correct design: metrics are
aggregates computed inside the job's own stages (zero extra scans, no
driver collect), and the listener holds only O(batches) scalars.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

OBSERVATION_NAME = "kfsp_ingest"


def observe_ingest(df: DataFrame, time_col: str = "event_time") -> DataFrame:
    """Attach the standard ingest metrics as an observation riding the
    query itself (executor-side aggregate, no extra scan). Works on
    streaming DataFrames (metrics appear in every batch's
    `progress.observedMetrics['kfsp_ingest']`)."""
    return df.observe(
        OBSERVATION_NAME,
        F.count(F.lit(1)).alias("rows"),
        F.max(F.col(time_col)).alias("max_event_time"),
    )


def late_rows_dropped(*queries: StreamingQuery) -> int:
    """Rows dropped behind the watermark by the queries' stateful
    operators: `stateOperators[*].numRowsDroppedByWatermark`, summed
    over every progress update the queries still hold."""
    return sum(
        op["numRowsDroppedByWatermark"]
        for q in queries
        for p in q.recentProgress
        for op in p["stateOperators"]
    )


class RateListener(StreamingQueryListener):
    """In-memory per-batch progress accumulator — the scrape surface.

    Collects `(batchId, numInputRows, inputRowsPerSecond,
    processedRowsPerSecond, observedMetrics)` per progress event.
    `total_rows()` and `throughput()` aggregate the job lifetime —
    the Spark-side equivalent of the reference's
    `sum(rate(...current_offset[1m])) by (topic)` PromQL."""

    def __init__(self) -> None:
        self.batches: list[dict[str, Any]] = []

    # QueryStarted/Terminated/Idle are part of the listener ABC
    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        p = event.progress
        observed = {}
        try:
            om = p.observedMetrics
            if om and OBSERVATION_NAME in om:
                observed = om[OBSERVATION_NAME].asDict()
        except Exception:
            pass  # observedMetrics shape varies when nothing observed
        self.batches.append(
            {
                "batch_id": p.batchId,
                "num_input_rows": p.numInputRows,
                "input_rows_per_second": p.inputRowsPerSecond,
                "processed_rows_per_second": p.processedRowsPerSecond,
                "duration_ms": (p.durationMs or {}).get("triggerExecution"),
                "observed": observed,
            }
        )

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        pass

    def total_rows(self) -> int:
        return sum(b["num_input_rows"] for b in self.batches)

    def throughput(self) -> float:
        """Lifetime rows/sec over wall-clock spent executing triggers."""
        ms = sum(b["duration_ms"] or 0 for b in self.batches)
        return self.total_rows() / (ms / 1000.0) if ms else 0.0


def prometheus_text(listener: RateListener, job: str = "kfsp") -> str:
    """Render the listener's accumulated progress in the Prometheus text
    exposition format — the scrape surface the reference gets from
    kafka-exporter (`analysis/prometheus.yml:5-8`). Serve this string
    from any HTTP endpoint (see `examples/prometheus_scrape_endpoint.py`)
    and the reference's PromQL carries over:

        reference (kafka-exporter)                      this engine
        ------------------------------------------      -----------------------------
        sum(rate(kafka_topic_partition_current_offset   rate(kfsp_input_rows_total[1m])
            [1m])) by (topic)
        sum(kafka_consumergroup_lag) by (...)           kfsp_batch_input_rows (backlog
                                                        drained per trigger) together
                                                        with kfsp_trigger_duration_ms

    Counter/gauge naming follows prometheus conventions (_total suffix
    for monotonic counters); observed-metric keys are sanitized to the
    exposition charset and the job label is escaped, so one
    non-conforming observe() alias cannot invalidate the whole scrape.
    Pure formatting over O(batches) scalars — no Spark work at scrape
    time."""
    import re

    job = job.replace("\\", r"\\").replace('"', r"\"").replace("\n", r"\n")
    last = listener.batches[-1] if listener.batches else {}
    lines = [
        "# HELP kfsp_input_rows_total Rows ingested across all batches.",
        "# TYPE kfsp_input_rows_total counter",
        f'kfsp_input_rows_total{{job="{job}"}} {listener.total_rows()}',
        "# HELP kfsp_throughput_rows_per_second Lifetime processed rate.",
        "# TYPE kfsp_throughput_rows_per_second gauge",
        f'kfsp_throughput_rows_per_second{{job="{job}"}} {listener.throughput():.3f}',
        "# HELP kfsp_batches_total Micro-batches executed.",
        "# TYPE kfsp_batches_total counter",
        f'kfsp_batches_total{{job="{job}"}} {len(listener.batches)}',
        "# HELP kfsp_batch_input_rows Input rows of the latest batch.",
        "# TYPE kfsp_batch_input_rows gauge",
        f'kfsp_batch_input_rows{{job="{job}"}} {last.get("num_input_rows", 0)}',
        "# HELP kfsp_trigger_duration_ms Latest trigger execution time.",
        "# TYPE kfsp_trigger_duration_ms gauge",
        f'kfsp_trigger_duration_ms{{job="{job}"}} {last.get("duration_ms") or 0}',
    ]
    # sanitization is lossy ('rows.a' and 'rows:a' both -> 'rows_a'):
    # suffix later collisions so the exposition never emits duplicate
    # series, which Prometheus rejects as an invalid scrape
    # track FINAL emitted names, not just pre-suffix ones: a natural
    # metric named 'rows_a_2' alongside colliding 'rows.a'/'rows a'
    # must not produce a duplicate 'rows_a_2' series either
    emitted: set[str] = set()
    for k, v in (last.get("observed") or {}).items():
        if isinstance(v, (int, float)):
            base = re.sub(r"[^a-zA-Z0-9_:]", "_", str(k))
            name, n = base, 1
            while name in emitted:
                n += 1
                name = f"{base}_{n}"
            emitted.add(name)
            lines += [
                f"# TYPE kfsp_observed_{name} gauge",
                f'kfsp_observed_{name}{{job="{job}"}} {v}',
            ]
    return "\n".join(lines) + "\n"
