"""Bench-harness measurement-policy tests: the materialization probe,
the refusal of skipped shared artifacts, the exact-anchor auto-skip
set, the canary verdicts and the emitted JSON documents.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

import bench


def test_materialize_raises_on_execution_failure(spark):
    """Only an analysis-time rejection of the hash probe (a VARIANT
    column) falls back to count(). A column that fails while executing
    must fail the entry: count() could prune that column and time the
    broken entry as if it worked."""
    from pyspark.sql import functions as F

    broken = spark.range(3).withColumn(
        "bad", F.expr("if(id > 1, raise_error('boom'), id)")
    )
    assert broken.count() == 3  # the pruned count never evaluates `bad`
    with pytest.raises(Exception, match="boom"):
        bench._materialize(broken)
    assert bench._materialize(spark.range(3)) == 3
    variant = spark.range(2).selectExpr("parse_json(cast(id AS string)) AS v")
    assert bench._materialize(variant) == 2


def test_prebuild_skip_fail_fast(tmp_path, monkeypatch):
    """A skipped shared artifact is refused: its consumer raises before
    anything is built, naming both the entry and the artifact, and
    leaves no memo entry and no cache directory behind. RuntimeError
    (not assert) so the refusal survives python -O."""
    from types import SimpleNamespace

    from kafka_flink_streaming_pipeline_spark.operators import shared_cache

    monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE", "1")
    monkeypatch.setattr(shared_cache, "_ROOT", tmp_path / "shared_cache")
    monkeypatch.setattr(shared_cache, "SHARED", {})
    monkeypatch.setattr(shared_cache, "_MEMO", {})
    built = []

    @shared_cache.artifact("shared_probe_vector", kind="json")
    def probe(spark, sf_dir):
        built.append(1)
        return [1, 2, 3]

    spark = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="app-1"))
    with shared_cache.recording("probe_consumer", refuse={"shared_probe_vector"}):
        with pytest.raises(RuntimeError) as e:
            probe(spark, str(tmp_path))
    assert "probe_consumer" in str(e.value)
    assert "shared_probe_vector" in str(e.value)
    assert not built and not shared_cache._MEMO
    assert not (tmp_path / "shared_cache").exists()
    # unrefused, the same access builds once and records what happened
    with shared_cache.recording("probe_consumer") as rec:
        assert probe(spark, str(tmp_path)) == [1, 2, 3]
        assert probe(spark, str(tmp_path)) == [1, 2, 3]
    assert rec == {"shared_probe_vector": "build"} and built == [1]
    shared_cache.clear()
    with shared_cache.recording("probe_consumer") as rec:
        probe(spark, str(tmp_path))
    assert rec == {"shared_probe_vector": "disk"} and built == [1]


def test_exact_anchor_set_closed_under_prebuild_consumers(spark):
    """The sf>=1 auto-skip must itself be legal: with every
    EXACT_ANCHORS name skipped, no other shared artifact or battery
    entry may need a skipped artifact. Each is built the way bench.py
    builds it, under `recording(name, refuse=...)`, so a consumer
    missing from EXACT_ANCHORS raises."""
    from kafka_flink_streaming_pipeline_spark.operators import shared_cache
    from kafka_flink_streaming_pipeline_spark.plans import merged

    from tests.conftest import SF_SMOKE

    plans = merged()
    skip = set(bench.EXACT_ANCHORS)
    refused = skip & set(shared_cache.SHARED)
    assert refused
    for name in shared_cache.SHARED:
        if name not in skip:
            with shared_cache.recording(name, refused):
                shared_cache.get(spark, SF_SMOKE, name)
    for name in bench.HEADLINE:
        if name in plans and name not in skip:
            with shared_cache.recording(name, refused):
                plans[name].build(spark, SF_SMOKE)
    # the refusal is live: a skipped consumer of the exact graph is refused
    with pytest.raises(RuntimeError, match="dedup_components"):
        with shared_cache.recording("dedup_components", refused):
            plans["dedup_components"].build(spark, SF_SMOKE)


def test_exact_anchors_and_artifact_names_resolve():
    """Every EXACT_ANCHORS name is a registry entry or a declared
    shared artifact, and no artifact name shadows a registry entry
    (the name doubles as a bench pseudo-entry and skip token)."""
    from kafka_flink_streaming_pipeline_spark.operators import shared_cache
    from kafka_flink_streaming_pipeline_spark.plans import merged

    plans = merged()
    assert shared_cache.SHARED
    assert not set(shared_cache.SHARED) & set(plans)
    for n in bench.EXACT_ANCHORS:
        assert n in plans or n in shared_cache.SHARED, n


def test_dirty_start_warning_fires_only_on_contaminated_start():
    # the r10 sf1 case: 6.52 s start vs 0.365 settled -> warn
    w = bench._dirty_start_warning(6.52, 0.365)
    assert w is not None and "dirty battery start" in w
    # clean boots (r10 sf0.1: 0.619 -> 0.387) stay silent
    assert bench._dirty_start_warning(0.619, 0.387) is None
    # exactly at the factor is NOT dirty (strict >), and a zero end
    # canary must not divide/flag
    assert bench._dirty_start_warning(1.2, 0.4) is None
    assert bench._dirty_start_warning(0.5, 0.0) is None


def test_canary_stable_band():
    # r12 verdict ask #4: the headline verdict uses the same 1.3x band
    # bench_diff refuses to normalize across. Stable pairs (r13's
    # 0.382/0.314 = 1.22x) pass; the r12 sf1 transition pairs fail.
    assert bench._canary_stable(0.382, 0.314) is True
    assert bench._canary_stable(0.4, 0.4) is True
    assert bench._canary_stable(0.458, 0.265) is False  # 1.73x
    assert bench._canary_stable(6.52, 0.365) is False  # r10 dirty start
    # missing/zero canaries are NOT stable (no evidence either way)
    assert bench._canary_stable(0.0, 0.4) is False
    assert bench._canary_stable(0.4, 0.0) is False


def test_bench_headline_line_carries_canary_stable(tmp_path):
    """Run bench.py as the driver does (subprocess, sf0.001) with every
    entry skipped: the battery degenerates to warmup + canaries, and
    BOTH emitted JSON documents must carry the canary_stable verdict."""
    import os
    import shutil
    import subprocess

    from kafka_flink_streaming_pipeline_spark.operators import shared_cache
    from kafka_flink_streaming_pipeline_spark.plans import merged

    # run a copy: bench.py writes BENCH_DETAIL.json next to itself, and
    # the repo-root file holds the last real battery
    shutil.copy(REPO / "bench.py", tmp_path / "bench.py")
    skip = sorted(set(merged()) | set(shared_cache.SHARED))
    env = dict(
        os.environ,
        PYTHONPATH=str(REPO),
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_BENCH_SKIP=",".join(skip),
        SPARK_GRAFT_SHUFFLE="8",
    )
    out = subprocess.run(
        [sys.executable, str(tmp_path / "bench.py")],
        capture_output=True,
        text=True,
        env=env,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    docs = [json.loads(l) for l in lines]
    headline = docs[-1]
    assert headline["metric"] == "headline_queries_wall_clock"
    assert isinstance(headline.get("canary_stable"), bool)
    detail = [d for d in docs if "canary_s" in d]
    assert detail and all(
        isinstance(d.get("canary_stable"), bool) for d in detail
    )
    assert json.loads((tmp_path / "BENCH_DETAIL.json").read_text())["shared"] == {}


def test_bench_diff_min_abs_is_canary_normalized(tmp_path):
    # A raw +0.25 s "regression" that is fully explained by a 2x slower
    # boot (canary 0.4 -> 0.8) must NOT pass the min_abs gate once the
    # delta is normalized: 0.75/2 - 0.5 = -0.125 s (ADVICE r10 #3 —
    # previously the ratio gate normalized but the abs-delta gate
    # compared raw seconds, so the two gates could disagree).
    import subprocess

    old = {"value": 0.5, "queries": {"q": 0.5}, "canary_s": {"start": 0.4, "end": 0.5}}
    new = {"value": 0.75, "queries": {"q": 0.75}, "canary_s": {"start": 0.8, "end": 0.9}}
    (tmp_path / "old.json").write_text(json.dumps(old))
    (tmp_path / "new.json").write_text(json.dumps(new))
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_diff.py"),
         str(tmp_path / "old.json"), str(tmp_path / "new.json"),
         "--ratio", "1.2", "--min-abs", "0.2"],
        capture_output=True, text=True, check=True,
    ).stdout
    assert "no per-query regressions" in out
    # and a REAL regression that survives normalization still fires:
    # 2.0 -> 6.0 with the same 2x boot factor is 3.0 normalized seconds
    # vs 2.0 -> delta 1.0 >= 0.2 and ratio 1.5x > 1.2
    old["queries"]["q"] = 2.0
    new["queries"]["q"] = 6.0
    (tmp_path / "old.json").write_text(json.dumps(old))
    (tmp_path / "new.json").write_text(json.dumps(new))
    out = subprocess.run(
        [sys.executable, str(REPO / "tools" / "bench_diff.py"),
         str(tmp_path / "old.json"), str(tmp_path / "new.json"),
         "--ratio", "1.2", "--min-abs", "0.2"],
        capture_output=True, text=True, check=True,
    ).stdout
    assert "regressed" in out and "q: 2.0 -> 6.0" in out


def test_bench_diff_warns_on_unstable_canary_pair(tmp_path):
    # r12: both sf1 batteries produced phantom normalized regressions
    # because their OWN start/end canaries disagreed (box settling
    # mid-run) — one factor cannot normalize a battery that spanned a
    # machine-context transition. bench_diff must warn and point at
    # the raw column; a stable pair must stay silent.
    import subprocess

    def run(old, new):
        (tmp_path / "old.json").write_text(json.dumps(old))
        (tmp_path / "new.json").write_text(json.dumps(new))
        return subprocess.run(
            [sys.executable, str(REPO / "tools" / "bench_diff.py"),
             str(tmp_path / "old.json"), str(tmp_path / "new.json")],
            capture_output=True, text=True, check=True,
        ).stdout

    stable = {"value": 1.0, "queries": {"q": 1.0},
              "canary_s": {"start": 0.40, "end": 0.44}}
    unstable = {"value": 1.0, "queries": {"q": 1.0},
                "canary_s": {"start": 0.499, "end": 0.267}}
    out = run(stable, unstable)
    assert "WARNING: NEW battery's own canary pair is unstable" in out
    assert "read the RAW ratio column" in out
    out = run(unstable, stable)
    assert "WARNING: OLD battery's own canary pair is unstable" in out
    out = run(stable, stable)
    assert "unstable" not in out
