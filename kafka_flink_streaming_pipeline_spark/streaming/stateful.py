"""Custom stateful streaming operator: 30-min-idle sessionization via
`applyInPandasWithState` (SURVEY.md §2.9 T9, reference
analysis/flink-analysis.sql:94-152).

The reference computes sessions in batch with LAG + running SUM; the
native streaming analogue (`session_window`) only yields built-in
aggregates. This operator is the *custom* stateful path the engine
offers when a session summary needs arbitrary per-session logic (here:
event + click counts and exact start/end — but the shape generalizes
to any per-session accumulator). Semantics match the reference's LAG
rule exactly: a new session starts when the gap since the previous
event is strictly greater than the idle timeout.

Mechanics (Spark-first):
- keyed state per user: (session_start_us, last_ts_us, n_events,
  n_clicks) — four longs, microsecond epoch, tiny and bounded by the
  number of *concurrently open* sessions, not by history;
- each micro-batch's rows for a user are sorted and split on
  gap > timeout; all closed segments are emitted immediately, the
  trailing open segment is carried in state;
- an event-time timeout fires once the watermark passes
  last_ts + gap, flushing the session even if the user never returns —
  exactly Flink's session-gap trigger.

At 100 TB the state is one 32-byte row per active user — the shuffle
is the same single hash exchange the windowed aggregates use, and the
Python boundary is Arrow-batched (one pdf per user per trigger).
The UDF is built by a factory so cloudpickle serializes it by value
(executors don't need this repo on sys.path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kafka_flink_streaming_pipeline_spark.streaming.jobs import _parquet_job

#: Closed-session row emitted by the operator.
SESSION_SCHEMA = T.StructType(
    [
        T.StructField("uuid", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_clicks", T.LongType()),
    ]
)

#: Open-session accumulator carried between triggers.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_clicks", T.LongType()),
    ]
)


def _make_sessionizer(gap_ms: int):
    """Factory returning the per-group stateful function (closure so it
    pickles by value — see module docstring)."""
    gap_us = gap_ms * 1000

    def sessionize(key, pdf_iter, state):
        import pandas as pd

        def emit(start_us, last_us, n, clicks):
            return pd.DataFrame(
                {
                    "uuid": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "n_clicks": [clicks],
                }
            )

        if state.hasTimedOut:
            start_us, last_us, n, clicks = state.get
            state.remove()
            yield emit(start_us, last_us, n, clicks)
            return

        rows = pd.concat(list(pdf_iter), ignore_index=True)
        if len(rows) == 0:  # defensive; Spark shouldn't hand us this
            return
        rows = rows.sort_values(["event_time", "event_id"])
        ts = rows["event_time"].to_numpy().astype("datetime64[us]").astype("int64")
        clicks_v = (rows["event_type"] == "click").to_numpy()

        # Carry the open session in as a virtual previous segment.
        if state.exists:
            cur_start, cur_last, cur_n, cur_clicks = state.get
        else:
            cur_start, cur_last, cur_n, cur_clicks = None, None, 0, 0

        out = []
        seg_from = 0
        for i in range(len(ts)):
            prev = ts[i - 1] if i > 0 else cur_last
            if prev is not None and ts[i] - prev > gap_us:
                if i > seg_from or cur_start is None:
                    # close the in-batch segment [seg_from, i)
                    seg = slice(seg_from, i)
                    if cur_start is not None:
                        out.append(
                            (
                                cur_start,
                                ts[i - 1],
                                cur_n + (i - seg_from),
                                cur_clicks + int(clicks_v[seg].sum()),
                            )
                        )
                    elif i > seg_from:
                        out.append(
                            (
                                ts[seg_from],
                                ts[i - 1],
                                i - seg_from,
                                int(clicks_v[seg].sum()),
                            )
                        )
                else:
                    # gap right at the batch boundary: close carried state alone
                    out.append((cur_start, cur_last, cur_n, cur_clicks))
                cur_start, cur_last, cur_n, cur_clicks = None, None, 0, 0
                seg_from = i
        # trailing open segment -> state
        tail = slice(seg_from, len(ts))
        if cur_start is None:
            new_state = (
                int(ts[seg_from]),
                int(ts[-1]),
                len(ts) - seg_from,
                int(clicks_v[tail].sum()),
            )
        else:
            new_state = (
                int(cur_start),
                int(ts[-1]),
                cur_n + (len(ts) - seg_from),
                cur_clicks + int(clicks_v[tail].sum()),
            )
        state.update(new_state)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(new_state[1] // 1000 + gap_ms, wm + 1))
        if out:
            yield pd.concat([emit(*o) for o in out], ignore_index=True)

    return sessionize


def stateful_sessions(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Sessionize a watermarked clickstream with a custom keyed-state
    operator; returns the closed-session stream (append mode)."""
    n, unit = gap.split()
    per = {"second": 1000, "minute": 60_000, "hour": 3_600_000}[unit.rstrip("s")]
    gap_ms = int(n) * per
    return (
        stream.select("user_id", "event_id", "event_time", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(gap_ms),
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf="EventTimeTimeout",
        )
    )


def stateful_session_job(stream: DataFrame, out_path: str, checkpoint: str):
    """Run the sessionizer over a (replay) stream into a parquet table."""
    return _parquet_job(stateful_sessions(stream), out_path, checkpoint)
