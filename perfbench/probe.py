"""Measurement helpers shared by the workloads: the materialisation
probe, the DuckDB oracle comparison, peak memory, and the engine's own
counters read back through the JVM status store after a timed window.
"""

from __future__ import annotations

import hashlib
import os
import statistics

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _probe_cols(df: DataFrame) -> list:
    cols = ", ".join(f"`{c}`" for c in df.columns)
    return [F.count("*").alias("n"), F.expr(f"bit_xor(xxhash64({cols}))").alias("h")]


def probe(df: DataFrame) -> tuple[int, int]:
    """Materialise every column of `df` and return ``(rows, xxhash)``.

    The same all-column ``bit_xor(xxhash64(*))`` aggregate `bench.py`
    uses: a bare ``count()`` would let the optimiser prune the columns
    whose computation is being measured."""
    row = df.select(*_probe_cols(df)).collect()[0]
    return int(row["n"]), int(row["h"] or 0)


def vhash(cols: list[str], rows) -> str:
    """Order-insensitive value hash of a result, columns matched by name
    (the comparison the oracle gate of this repository uses)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(str(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


class Oracle:
    """DuckDB over the generated parquet tables of one input directory."""

    def __init__(self, data_dir: str, tables: list[str]):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def matches(self, sql: str, cols: list[str], rows: list) -> bool:
        res = self.con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        return (
            len(drows) == len(rows)
            and sorted(dcols) == sorted(cols)
            and vhash(dcols, drows) == vhash(cols, [tuple(r) for r in rows])
        )

    def close(self) -> None:
        self.con.close()


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def peak_rss_mb() -> float:
    """Peak resident memory of this driver process plus its JVM, from
    the kernel's high-water marks (no sampling, so no missed peaks)."""
    me = os.getpid()
    kb = _hwm_kb(me)
    for c in _children(me):
        try:
            with open(f"/proc/{c}/cmdline", "rb") as f:
                if b"java" in f.read().split(b"\0")[0]:
                    kb += _hwm_kb(c)
        except OSError:
            pass
    return kb / 1024.0


def pct(values: list[float], q: float) -> float:
    """Percentile with linear interpolation between closest ranks (0 for
    an empty list)."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class EngineCounters:
    """Executor-side totals of a set of jobs, read from the JVM status
    store (works with ``spark.ui.enabled=false``)."""

    FIELDS = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.tracker = sc.statusTracker()
        self.store = sc._jsc.sc().statusStore()
        gw = sc._gateway
        self.as_java = gw.jvm.scala.jdk.javaapi.CollectionConverters.asJava
        self.quantiles = gw.new_array(gw.jvm.double, 2)
        self.quantiles[0], self.quantiles[1] = 0.5, 1.0

    def job_ids_for_group(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def all_job_ids(self) -> list[int]:
        return [int(j.jobId()) for j in self.as_java(self.store.jobsList(None))]

    def totals(self, job_ids) -> dict[str, float]:
        out = dict.fromkeys(self.FIELDS, 0.0)
        out["skews"] = []
        seen: set[int] = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            out["jobs"] += 1
            for s in info.stageIds:
                if s in seen:
                    continue
                seen.add(s)
                try:
                    sd = self.store.lastStageAttempt(s)
                except Exception:  # stage never ran (skipped by AQE reuse)
                    continue
                done = sd.numCompleteTasks()
                if not done:
                    continue
                out["stages"] += 1
                out["tasks"] += done
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                if done >= 2:
                    summ = self.store.taskSummary(s, sd.attemptId(), self.quantiles)
                    if summ.isDefined():
                        rt = summ.get().executorRunTime()
                        med, mx = rt.apply(0), rt.apply(1)
                        if med > 0:
                            out["skews"].append(mx / med)
        return out
