"""Seeded inputs for the benchmark workloads.

Every table is generated from the workload seed with NumPy and written
as one parquet file per table, in the shape the package's batch loaders
read (`sources.batch.load_table`: ``<dir>/<table>.parquet``). The
distributions follow the shape of the engine's own test tables: uniform
users and event types over a 30-day January 2024 timeline, a 30-word
vocabulary with ~5 % near-duplicate documents, unit-norm 64-d embeddings
weakly clustered by label. The same seed always gives the same bytes of
row data.

The streaming inputs are Kafka-wire frames (``key``, ``value`` JSON,
``ts``) in the `kafka_replay` topic-log layout: ``<log>/p=<pid>/`` with
one parquet segment per append, key-hash partitioned with
``crc32(key) mod partitions`` exactly as `produce_topic_log` does, rows
within a segment in send order.
"""

from __future__ import annotations

import json
import os
import zlib
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
DAY_US = 86_400 * 1_000_000


def _epoch_us(day: datetime) -> int:
    return int((day - datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


def _props(k: np.ndarray) -> list[str]:
    return [f'{{"k": {int(v)}}}' for v in k]


def events_table(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    """`events`: event_id dense 0..n-1 in timestamp order over 30 days."""
    lo = _epoch_us(datetime(2024, 1, 1))
    ts = np.sort(rng.integers(lo, lo + 30 * DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(_props(rng.integers(0, 100, n))),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    """`documents`: 10-100 word texts; 5 % are a copy of an earlier doc
    with " dup" appended (near-duplicates), 0.2 % exact copies."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": pa.array(ids),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=LANG_P)]),
            "source": pa.array([f"src{i % 20}" for i in ids]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """`embeddings`: unit-norm float vectors, 10 labels with a weak
    per-label centroid (cosine structure the ANN/k-means entries use)."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    x = rng.normal(0.0, 1.0, (n, dim)) + 0.6 * centroids[labels]
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))


# --- streaming: Kafka-wire frames -----------------------------------------


class WireEvents:
    """A send-ordered event stream at a fixed producer rate.

    Event ``i`` is created at ``i / rate`` seconds after a fixed virtual
    epoch, with up to 0.2 s of creation jitter (well inside the 5 s
    watermark), so event time is deterministic per seed while the
    benchmark replays it against the wall clock.
    """

    EPOCH_US = _epoch_us(datetime(2024, 1, 1, 9, 0, 0))

    def __init__(self, rng: np.random.Generator, n: int, rate: float, users: int, partitions: int):
        self.n = n
        self.partitions = partitions
        ts = self.EPOCH_US + (np.arange(n) * 1_000_000 / rate).astype(np.int64)
        ts += rng.integers(0, 200_000, n)
        self.ts = ts
        self.user_id = rng.integers(0, users, n, dtype=np.int64)
        etype = np.array(EVENT_TYPES)[rng.integers(0, 5, n)]
        value = np.round(rng.exponential(50.0, n), 2)
        k = rng.integers(0, 100, n)
        self.keys = [str(u).encode() for u in self.user_id]
        self.pid = np.array([zlib.crc32(kb) % partitions for kb in self.keys], dtype=np.int32)
        self.values = [
            json.dumps(
                {
                    "event_id": i,
                    "ts": datetime.utcfromtimestamp(int(ts[i]) / 1e6).isoformat(),
                    "user_id": int(self.user_id[i]),
                    "event_type": str(etype[i]),
                    "value": float(value[i]),
                    "props": f'{{"k": {int(k[i])}}}',
                }
            ).encode()
            for i in range(n)
        ]

    def append_segment(self, log_dir: str, lo: int, hi: int, segment: int) -> dict[str, int]:
        """Append rows ``[lo, hi)`` as one new segment per partition and
        return the number of rows each partition received.

        Each file is written under a name the source does not list and
        then renamed into place, and the renames of one segment follow
        each other directly, so a reader never sees a torn file."""
        sel = np.arange(lo, hi)
        staged = []
        counts: dict[str, int] = {}
        for p in range(self.partitions):
            rows = sel[self.pid[lo:hi] == p]
            counts[str(p)] = len(rows)
            if not len(rows):
                continue
            t = pa.table(
                {
                    "key": pa.array([self.keys[i] for i in rows], type=pa.binary()),
                    "value": pa.array([self.values[i] for i in rows], type=pa.binary()),
                    "ts": pa.array(self.ts[rows], type=pa.timestamp("us")),
                }
            )
            pdir = os.path.join(log_dir, f"p={p}")
            os.makedirs(pdir, exist_ok=True)
            final = os.path.join(pdir, f"segment_{segment:06d}.parquet")
            tmp = os.path.join(pdir, f".segment_{segment:06d}.tmp")
            pq.write_table(t, tmp)
            staged.append((tmp, final))
        for tmp, final in staged:
            os.replace(tmp, final)
        return counts
