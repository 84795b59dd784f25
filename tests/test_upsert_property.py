"""Property-based tests for the keyed MERGE upsert (streaming/upsert.py)
— the engine's substitute for Flink's PK-inferred upsert sink. The model
is a dict: after any sequence of batches (each possibly redelivered, as
checkpoint replay does), the table holds exactly the latest row per key.
"""

from __future__ import annotations

import os
import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from kafka_flink_streaming_pipeline_spark.streaming import upsert
from kafka_flink_streaming_pipeline_spark.streaming.upsert import merge_upsert

# each batch: list of (key, value); seq is assigned globally in order
BATCHES = st.lists(
    st.lists(
        st.tuples(st.integers(min_value=0, max_value=5), st.integers(0, 100)),
        min_size=1,
        max_size=6,
    ),
    min_size=1,
    max_size=3,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(batches=BATCHES, redeliver=st.booleans())
def test_merge_upsert_matches_dict_model(spark, tmp_path_factory, batches, redeliver):
    table = str(tmp_path_factory.mktemp("upsert") / "t")
    model: dict[int, tuple[int, int]] = {}
    seq = 0
    for batch in batches:
        rows = []
        for k, v in batch:
            rows.append((k, v, seq))
            model[k] = (v, seq)
            seq += 1
        df = spark.createDataFrame(rows, "key int, value int, seq long")
        merge_upsert(spark, df, table, ["key"], "seq")
        if redeliver:  # checkpoint replay: the same batch arrives again
            merge_upsert(spark, df, table, ["key"], "seq")
    got = {r.key: (r.value, r.seq) for r in spark.read.parquet(table).collect()}
    assert got == model


def test_merge_upsert_late_batch_loses_on_order_col(spark, tmp_path_factory):
    """Within one batch the HIGHEST order_col wins the key (dedupe
    before merge) — the contract FP2 relies on when a trigger carries
    several refinements of the same window."""
    table = str(tmp_path_factory.mktemp("upsert") / "t")
    df = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2), (2, 30, 7)], "key int, value int, seq long"
    )
    merge_upsert(spark, df, table, ["key"], "seq")
    got = {r.key: r.value for r in spark.read.parquet(table).collect()}
    assert got == {1: 20, 2: 30}


SCHEMA = "key int, value int, seq long"


def _table(spark, table: str) -> dict[int, tuple[int, int]]:
    return {r.key: (r.value, r.seq) for r in spark.read.parquet(table).collect()}


def _siblings(table: str) -> list[str]:
    """Directories next to the table that only a swap in flight may own."""
    return sorted(set(os.listdir(os.path.dirname(table))) - {os.path.basename(table)})


def test_merge_upsert_leaves_no_sibling_dirs(spark, tmp_path):
    """A successful call leaves the table alone in its directory: no
    `.next` staging copy, no `.old` swap copy, no stale full copy."""
    table = str(tmp_path / "t")
    for seq in range(2):
        df = spark.createDataFrame([(1, seq, seq)], SCHEMA)
        merge_upsert(spark, df, table, ["key"], "seq")
        assert _siblings(table) == []
    assert _table(spark, table) == {1: (1, 1)}


@pytest.mark.parametrize(
    "fn, nth",
    [("replace", 0), ("replace", 1), ("rmtree", 0)],
    ids=["table-to-old", "next-to-table", "remove-old"],
)
def test_merge_upsert_redelivery_converges_after_a_crash_in_the_swap(
    spark, tmp_path, monkeypatch, fn, nth
):
    """Kill the call at each step of the rename swap, then redeliver the
    batch (what a restarted query does): the table equals the dict model
    and no swap directory is left behind."""
    table = str(tmp_path / "t")
    first = spark.createDataFrame([(1, 10, 0), (2, 20, 1)], SCHEMA)
    merge_upsert(spark, first, table, ["key"], "seq")
    batch = spark.createDataFrame([(2, 21, 2), (3, 30, 3)], SCHEMA)

    owner = upsert.os if fn == "replace" else upsert.shutil
    real, calls = getattr(owner, fn), []

    def dies_once(path, *rest, **kw):
        if str(path).startswith(table):
            calls.append(path)
            if len(calls) == nth + 1:
                raise OSError(f"killed in {fn} #{nth}")
        return real(path, *rest, **kw)

    monkeypatch.setattr(owner, fn, dies_once)
    with pytest.raises(OSError, match="killed"):
        merge_upsert(spark, batch, table, ["key"], "seq")
    monkeypatch.undo()

    merge_upsert(spark, batch, table, ["key"], "seq")
    assert _table(spark, table) == {1: (10, 0), 2: (21, 2), 3: (30, 3)}
    assert _siblings(table) == []


def test_merge_upsert_into_existing_table_runs_at_most_three_jobs(spark, tmp_path):
    """Per-trigger fixed cost guard: one upsert into an existing table
    is a table-schema read, one shuffle stage and one write."""
    table = str(tmp_path / "t")
    first = spark.createDataFrame([(i % 50, i, i) for i in range(200)], SCHEMA)
    merge_upsert(spark, first, table, ["key"], "seq")
    batch = spark.createDataFrame([(i % 70, i, 1000 + i) for i in range(100)], SCHEMA)
    sc = spark.sparkContext
    group = f"merge-upsert-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "merge_upsert job count")
    try:
        merge_upsert(spark, batch, table, ["key"], "seq")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 3, f"merge_upsert ran {len(jobs)} Spark jobs"
    assert len(_table(spark, table)) == 70
