"""Disk-backed shared-artifact cache (operators/shared_cache.py):
round-trip equality, cross-"process" (cold-memo) serving, mtime
invalidation, and the empty-result guard. The rest of the suite runs
with SPARK_GRAFT_SHARED_CACHE=0 (conftest) so build paths stay
exercised; this module opts in against its own temp root."""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


@pytest.fixture()
def cache(monkeypatch, tmp_path):
    from kafka_flink_streaming_pipeline_spark.operators import shared_cache

    monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE", "1")
    monkeypatch.setattr(shared_cache, "_ROOT", tmp_path / "shared_cache")
    return shared_cache


@pytest.fixture()
def sf_copy(tmp_path):
    d = tmp_path / "sf"
    d.mkdir()
    shutil.copy(Path(SF_SMOKE) / "documents.parquet", d / "documents.parquet")
    return str(d)


def test_df_round_trip_and_disk_serving(spark, cache, sf_copy):
    builds = []

    def build():
        builds.append(1)
        return (
            spark.read.parquet(f"{sf_copy}/documents.parquet")
            .groupBy("source")
            .agg(F.count("*").alias("n"))
        )

    first = {(r["source"], r["n"]) for r in
             cache.get_or_build_df(spark, sf_copy, "t1", build).collect()}
    # second call: same fingerprint → served from disk, build not re-run
    second = {(r["source"], r["n"]) for r in
              cache.get_or_build_df(spark, sf_copy, "t1", build).collect()}
    assert first == second and len(builds) == 1
    assert (cache.artifact_dir("t1", sf_copy) / "_SUCCESS").exists()


def test_mtime_invalidation(spark, cache, sf_copy):
    def build():
        return spark.range(3).withColumnRenamed("id", "x")

    cache.get_or_build_df(spark, sf_copy, "t2", build).collect()
    d1 = cache.artifact_dir("t2", sf_copy)
    # regenerate the source table → new mtime → new fingerprint
    time.sleep(0.01)
    Path(sf_copy, "documents.parquet").touch()
    d2 = cache.artifact_dir("t2", sf_copy)
    assert d1 != d2 and d1.exists() and not d2.exists()


def test_empty_result_not_cached(spark, cache, sf_copy):
    def build():
        return spark.range(5).filter("id < 0")

    out = cache.get_or_build_df(spark, sf_copy, "t3", build)
    assert out.count() == 0
    assert not cache.artifact_dir("t3", sf_copy).exists()


def test_json_artifact(cache, sf_copy):
    calls = []

    def build():
        calls.append(1)
        return [1, 2, 3]

    assert cache.get_or_build_json(sf_copy, "vec", build) == [1, 2, 3]
    assert cache.get_or_build_json(sf_copy, "vec", build) == [1, 2, 3]
    assert len(calls) == 1


def test_path_artifact_promotion(spark, cache, sf_copy):
    def build_into(p: str) -> None:
        spark.range(4).write.mode("overwrite").parquet(p)

    p1 = cache.get_or_build_path("idx", sf_copy, build_into)
    p2 = cache.get_or_build_path("idx", sf_copy, build_into)
    assert p1 == p2
    assert spark.read.parquet(p1).count() == 4


def test_uncached_path_artifact_removed_at_exit(tmp_path):
    """With the disk cache off, a path artifact lives in a fresh temp
    dir for the life of the process and is removed when it exits."""
    import os
    import subprocess
    import sys

    code = (
        "from pathlib import Path\n"
        "from kafka_flink_streaming_pipeline_spark.operators import shared_cache\n"
        "def build_into(p):\n"
        "    Path(p, 'part-0').write_text('x')\n"
        "p = shared_cache.get_or_build_path('idx', '.', build_into)\n"
        "assert Path(p, 'part-0').exists()\n"
        "print(p)\n"
    )
    env = dict(os.environ, SPARK_GRAFT_SHARED_CACHE="0", TMPDIR=str(tmp_path))
    built = subprocess.run(
        [sys.executable, "-c", code], cwd=Path(__file__).resolve().parents[1],
        env=env, capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert Path(built).parent == tmp_path
    assert not Path(built).exists()


# --- r9: cache-poisoning coverage (VERDICT ask #3, ADVICE medium) ----------


def _index_dir_around_edit(tmp_path, head: str) -> tuple[str, str]:
    """The on-disk IVF index's cache directory name before and after
    tagging the `def` line `head` in a copy of operators/similarity.py,
    each taken in a fresh interpreter (the code fingerprint is computed
    once per process)."""
    import subprocess
    import sys

    from kafka_flink_streaming_pipeline_spark.operators import similarity

    pkg = "kafka_flink_streaming_pipeline_spark"
    shutil.copytree(
        Path(similarity.__file__).resolve().parents[1],
        tmp_path / pkg,
        ignore=shutil.ignore_patterns("__pycache__"),
    )

    def index_dir() -> str:
        code = (
            f"from {pkg}.operators import shared_cache; "
            f"print(shared_cache.artifact_dir('shared_ann_index', {SF_SMOKE!r}).name)"
        )
        return subprocess.run(
            [sys.executable, "-c", code], cwd=tmp_path, capture_output=True,
            text=True, check=True,
        ).stdout.strip()

    before = index_dir()
    src = tmp_path / pkg / "operators" / "similarity.py"
    text = src.read_text()
    assert text.count(head) == 1
    src.write_text(text.replace(head, head + "  # edited\n", 1))
    after = index_dir()
    assert before.startswith("shared_ann_index__")
    return before, after


def test_builder_source_change_invalidates(tmp_path):
    """Same key + same data, DIFFERENT builder logic → different
    artifact: editing the on-disk IVF index builder itself must move
    the index's cache directory."""
    before, after = _index_dir_around_edit(tmp_path, "def ann_index_path(")
    assert before != after


def test_referenced_helper_change_invalidates(tmp_path):
    """An edit two calls below a builder invalidates its artifact: the
    IVF index builder calls `build_ann_index`, which calls
    `_ivf_assign`, and editing `_ivf_assign` alone must move the
    index's cache directory."""
    import inspect

    from kafka_flink_streaming_pipeline_spark.operators import similarity

    assert "build_ann_index(" in inspect.getsource(similarity.ann_index_path)
    assert "_ivf_assign(" in inspect.getsource(similarity.build_ann_index)
    before, after = _index_dir_around_edit(tmp_path, "def _ivf_assign(")
    assert before != after


def test_torn_publish_rebuilds(spark, cache, sf_copy):
    """A final dir missing _SUCCESS (torn publish / partial restore)
    must be discarded and rebuilt, not served."""
    builds = []

    def build():
        builds.append(1)
        return spark.range(4).withColumnRenamed("id", "x")

    cache.get_or_build_df(spark, sf_copy, "torn", build).collect()
    final = cache.artifact_dir("torn", sf_copy)
    (final / "_SUCCESS").unlink()  # simulate the torn write
    out = cache.get_or_build_df(spark, sf_copy, "torn", build)
    assert out.count() == 4
    assert len(builds) == 2  # rebuilt, not served torn
    assert (final / "_SUCCESS").exists()


def test_torn_path_artifact_rebuilds(spark, cache, sf_copy):
    def build_into(p: str) -> None:
        spark.range(4).write.mode("overwrite").parquet(p)

    p1 = Path(cache.get_or_build_path("tornidx", sf_copy, build_into))
    (p1 / cache._OK_MARKER).unlink()
    p2 = Path(cache.get_or_build_path("tornidx", sf_copy, build_into))
    assert p2 == p1 and (p2 / cache._OK_MARKER).exists()
    assert spark.read.parquet(str(p2)).count() == 4


def test_crashed_build_leaves_no_tmp_and_dead_tmp_swept(spark, cache, sf_copy):
    """build_into raising must not leak the pid tmp dir (try/finally);
    a tmp dir from a DEAD pid is swept by the next build."""

    def boom(p: str) -> None:
        Path(p).mkdir(parents=True)
        raise RuntimeError("mid-build crash")

    with pytest.raises(RuntimeError):
        cache.get_or_build_path("crash", sf_copy, boom)

    def build_into(p: str) -> None:
        spark.range(2).write.mode("overwrite").parquet(p)

    final = cache.artifact_dir("crash2", sf_copy)
    dead = final.with_name(final.name + ".tmp.999999999")
    dead.mkdir(parents=True)
    cache.get_or_build_path("crash2", sf_copy, build_into)
    assert not dead.exists()
    assert not list(cache._ROOT.glob("*.tmp.*"))


def test_enabled_cache_parity_real_operator(spark, cache, monkeypatch):
    """ADVICE r8 (medium): the suite disables the cache, so CI never
    exercised the disk-served path against a real operator. Run an
    LSH-graph consumer three ways — cache OFF, cache cold (builds +
    publishes), cache warm (served from disk) — and demand identical
    rows."""
    from kafka_flink_streaming_pipeline_spark.plans import merged

    spec = merged()["dedup_minhash_lsh"]

    def rows():
        return sorted(tuple(r) for r in spec.build(spark, SF_SMOKE).collect())

    monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE", "0")
    cache.clear()
    baseline = rows()
    monkeypatch.setenv("SPARK_GRAFT_SHARED_CACHE", "1")
    cache.clear()
    cold = rows()  # builds, publishes into the tmp root
    cache.clear()
    warm = rows()  # must be served from disk
    cache.clear()
    assert baseline == cold == warm
    assert list(cache._ROOT.glob("*__*"))  # something was actually cached


def test_publish_prunes_superseded_versions(spark, cache, sf_copy, monkeypatch, tmp_path):
    """A code edit moves every artifact to a new fingerprint; publishing
    the rebuilt one must remove the old version for the same sf_dir,
    and keep the other sf_dir's artifact and a live build's temp dir."""
    import os

    other_sf = tmp_path / "sf_other"
    shutil.copytree(sf_copy, other_sf)

    def build():
        return spark.range(3).withColumnRenamed("id", "x")

    cache.get_or_build_df(spark, sf_copy, "t5", build).collect()
    cache.get_or_build_df(spark, str(other_sf), "t5", build).collect()
    old, other = cache.artifact_dir("t5", sf_copy), cache.artifact_dir("t5", str(other_sf))
    live_tmp = old.with_name(old.name + f".tmp.{os.getpid()}")
    live_tmp.mkdir()

    monkeypatch.setattr(cache, "code_fingerprint", lambda: "edited")
    cache.get_or_build_df(spark, sf_copy, "t5", build).collect()
    new = cache.artifact_dir("t5", sf_copy)
    assert new != old and (new / "_SUCCESS").exists()
    assert sorted(cache._ROOT.iterdir()) == sorted([new, other, live_tmp])
