"""Session-shared artifacts: the one place that knows about them.

A handful of operator subtrees are built once per corpus and composed
by many registry entries: the near-dup pair graphs and their component
labelings, the exact cosine top-k anchor, the PQ code tables, the
trained IVF cells, the on-disk IVF index and the power-iteration
direction. A production curation DAG materializes each of these once
and every downstream consumer reads it from storage; this module makes
the local engine do the same.

Declaration. Each artifact is declared exactly once, by decorating its
builder `fn(spark, sf_dir)` with `@artifact(name)`; the decorator
returns the accessor that serves it. `SHARED` holds the declarations
in import order, which is dependency order (a module imports the
module whose artifacts it builds on, and within a module a builder is
declared after the artifacts it reads). The name is the same
everywhere: memo key, cache directory, bench.py pseudo-entry and
SPARK_GRAFT_BENCH_SKIP token.

Memo. `get` serves each artifact once per (applicationId, sf_dir,
name); entries of a previous SparkSession are dropped with its JVM
state. `clear()` forgets every artifact, so the next access rebuilds.
DataFrame artifacts are materialized with an eager localCheckpoint
(not persist) so they survive `spark.catalog.clearCache()`.

Access record. Inside `recording(entry, refuse=...)` every access is
recorded as name -> "hit" (memo), "disk" (read from the cache below)
or "build", and an access to a refused name raises before anything is
built, naming the entry and the artifact. bench.py uses the record as
its per-entry consumer map and refuses the artifacts it was told to
skip, so no consumer is ever timed over a one-time build.

Disk cache. Artifacts land under
`spark-warehouse/shared_cache/<name>__<fingerprint>/`, where the
fingerprint covers

- the resolved sf_dir path,
- (name, mtime_ns, size) of every parquet file in it — the testdata
  is immutable per sf_dir, so any regeneration invalidates the key,
- the md5 of every `.py` file in this package. Any edit anywhere in
  the package, however many calls below a builder, rebuilds every
  artifact once; a per-builder hash cannot see helpers, closures or
  module constants, and served stale artifacts when it missed one.

Crash/torn-write safety: builds write to a pid-suffixed temp dir and
`os.rename` into place — first writer wins, losers read the winner's
artifact. A validity marker (`_SUCCESS` for Spark-written parquet,
`_CACHE_OK` for path artifacts) distinguishes a published artifact
from a torn one: a final dir missing its marker is deleted and
rebuilt. Temp dirs from crashed builders (pid no longer alive) are
swept before each build. `try/finally` removes this process's temp
dir on any build failure.

Set SPARK_GRAFT_SHARED_CACHE=0 to disable the disk cache (the memo
stays on); path artifacts then live in temp dirs removed at
interpreter exit.
"""

from __future__ import annotations

import atexit
import functools
import hashlib
import json
import os
import shutil
from contextlib import contextmanager
from pathlib import Path

_PKG = Path(__file__).resolve().parents[1]
_ROOT = _PKG.parent / "spark-warehouse" / "shared_cache"

#: our own marker for artifacts not written by Spark (get_or_build_path
#: builders write Spark parquet INSIDE the dir, but the dir itself may
#: hold extra sidecar files — mark the whole publish unit).
_OK_MARKER = "_CACHE_OK"

#: name -> (kind, builder), in declaration (= dependency) order. kind
#: "df": builder returns a DataFrame; "json": a JSON-able value; "path":
#: builder(spark, sf_dir, path) writes the artifact into `path`.
SHARED: dict[str, tuple[str, object]] = {}

_MEMO: dict[tuple[str, str, str], object] = {}

#: (entry, record, refused) of the innermost `recording` block
_RECORDING: tuple[str | None, dict[str, str] | None, frozenset] = (
    None,
    None,
    frozenset(),
)


def enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_SHARED_CACHE", "1") != "0"


def artifact(name: str, kind: str = "df"):
    """Declare `build` as the builder of shared artifact `name`; the
    decorated name becomes its memoized, disk-cached accessor."""

    def register(build):
        if name in SHARED:
            raise ValueError(f"shared artifact {name} declared twice")
        SHARED[name] = (kind, build)

        @functools.wraps(build)
        def accessor(spark, sf_dir: str):
            return get(spark, sf_dir, name)

        return accessor

    return register


def get(spark, sf_dir: str, name: str):
    """Serve artifact `name` for `sf_dir`: memo, else disk, else build."""
    entry, record, refused = _RECORDING
    if name in refused:
        raise RuntimeError(
            f"{entry} needs shared artifact {name}, which is skipped — add "
            f"{entry} to SPARK_GRAFT_BENCH_SKIP or stop skipping {name}"
        )
    app = spark.sparkContext.applicationId
    for stale in [k for k in _MEMO if k[0] != app]:
        del _MEMO[stale]  # dropped with the old session's JVM state
    key = (app, sf_dir, name)
    event = "hit"
    if key not in _MEMO:
        kind, build = SHARED[name]
        built = []

        def run(*path):
            built.append(1)
            return build(spark, sf_dir, *path)

        if kind == "df":
            _MEMO[key] = get_or_build_df(spark, sf_dir, name, run)
        elif kind == "json":
            _MEMO[key] = get_or_build_json(sf_dir, name, run)
        else:
            _MEMO[key] = get_or_build_path(name, sf_dir, run)
        event = "build" if built else "disk"
    if record is not None:
        record.setdefault(name, event)
    return _MEMO[key]


def clear() -> None:
    """Forget every memoized artifact: the next access rebuilds (or
    re-reads the disk cache, when it is on)."""
    _MEMO.clear()


@contextmanager
def recording(entry: str, refuse=()):
    """Record the artifacts `entry` touches into the yielded dict
    (name -> "hit" | "disk" | "build", first access wins) and refuse
    every artifact named in `refuse`."""
    global _RECORDING
    prev = _RECORDING
    record: dict[str, str] = {}
    _RECORDING = (entry, record, frozenset(refuse))
    try:
        yield record
    finally:
        _RECORDING = prev


@functools.cache
def code_fingerprint() -> str:
    """md5 over the path and bytes of every `.py` file in the package."""
    h = hashlib.md5()
    for f in sorted(_PKG.rglob("*.py")):
        h.update(str(f.relative_to(_PKG)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def sf_fingerprint(sf_dir: str) -> str:
    p = Path(sf_dir).resolve()
    stats = []
    for f in sorted(p.glob("*.parquet")):
        st = f.stat()
        stats.append((f.name, st.st_mtime_ns, st.st_size))
    blob = json.dumps([str(p), code_fingerprint(), stats]).encode()
    return hashlib.md5(blob).hexdigest()[:16]


def artifact_dir(key: str, sf_dir: str) -> Path:
    return _ROOT / f"{key}__{sf_fingerprint(sf_dir)}"


def _sweep_stale_tmp(final: Path) -> None:
    """Remove `<name>.tmp.<pid>` siblings left by builders that died
    mid-write. Only dirs whose owning pid is no longer alive are
    removed — a concurrent live build keeps its temp dir."""
    for tmp in final.parent.glob(final.name + ".tmp.*"):
        pid_txt = tmp.name.rsplit(".", 1)[-1]
        if not pid_txt.isdigit():
            continue
        pid = int(pid_txt)
        try:
            os.kill(pid, 0)
        except ProcessLookupError:
            shutil.rmtree(tmp, ignore_errors=True)
        except PermissionError:
            pass  # pid alive under another uid — leave it


def publish(tmp: Path, final: Path) -> Path:
    """Atomically promote a freshly built artifact; on a race the
    first writer wins and the loser's copy is discarded."""
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
        if not final.exists():
            raise
    return final


def _valid(final: Path, marker: str) -> bool:
    return (final / marker).exists()


def _clear_torn(final: Path, marker: str) -> None:
    """A final dir without its validity marker is a torn publish (e.g.
    a crash between mkdir and marker write under a non-atomic fs, or a
    partial copy restored from backup) — delete it so the caller
    rebuilds rather than serving garbage."""
    if final.exists() and not _valid(final, marker):
        shutil.rmtree(final, ignore_errors=True)


def get_or_build_df(spark, sf_dir: str, key: str, build):
    """DataFrame-valued artifact: serve `spark.read.parquet` from the
    cache when fresh, else build(), persist, and serve the parquet
    round-trip (so first and later processes read IDENTICAL bytes).
    Empty results are never cached (a 0-row build may be legitimate
    at tiny SF; writing it can produce a schema-less directory)."""
    if not enabled():
        return build().localCheckpoint()
    final = artifact_dir(key, sf_dir)
    _clear_torn(final, "_SUCCESS")
    if not _valid(final, "_SUCCESS"):
        df = build().localCheckpoint()
        if df.isEmpty():
            return df
        _ROOT.mkdir(parents=True, exist_ok=True)
        _sweep_stale_tmp(final)
        tmp = final.with_name(final.name + f".tmp.{os.getpid()}")
        try:
            df.write.mode("overwrite").parquet(str(tmp))
            publish(tmp, final)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return spark.read.parquet(str(final))


def get_or_build_json(sf_dir: str, key: str, build):
    """Small python-valued artifact (e.g. the 64-int power-iteration
    direction): json file next to the parquet artifacts. The write is
    a same-directory `os.replace`, so torn files cannot be observed."""
    if not enabled():
        return build()
    final = artifact_dir(key, sf_dir).with_suffix(".json")
    if final.exists():
        return json.loads(final.read_text())
    value = build()
    _ROOT.mkdir(parents=True, exist_ok=True)
    tmp = final.with_name(final.name + f".tmp.{os.getpid()}")
    try:
        tmp.write_text(json.dumps(value))
        os.replace(tmp, final)
    finally:
        if tmp.exists():
            tmp.unlink(missing_ok=True)
    return value


def get_or_build_path(key: str, sf_dir: str, build_into) -> str:
    """Path-valued artifact (the partitioned IVF inverted file):
    `build_into(tmp_path)` writes the artifact, which is then promoted
    into the cache; returns the final directory path. With the disk
    cache off the artifact is built into a fresh temp dir, removed
    when the interpreter exits."""
    if not enabled():
        import tempfile

        path = tempfile.mkdtemp(prefix=f"{key}_")
        atexit.register(shutil.rmtree, path, ignore_errors=True)
        build_into(path)
        return path
    final = artifact_dir(key, sf_dir)
    _clear_torn(final, _OK_MARKER)
    if not _valid(final, _OK_MARKER):
        _ROOT.mkdir(parents=True, exist_ok=True)
        _sweep_stale_tmp(final)
        tmp = final.with_name(final.name + f".tmp.{os.getpid()}")
        try:
            build_into(str(tmp))
            (Path(tmp) / _OK_MARKER).touch()
            publish(tmp, final)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return str(final)
