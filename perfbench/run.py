"""Benchmark entry point.

    python3 perfbench/run.py --workload <stream_ingest|batch_refresh> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed``; all
files the run writes (inputs, tables, checkpoints, Spark local dirs,
temp files) live in one temporary directory under the repository root
that is removed at exit. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
metric of BENCHMARK.json when ``--trace 0`` and every per-layer metric
when ``--trace 1``. Metric meanings per workload are in README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

import batch
import stream_ingest
from probe import peak_rss_mb

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "kafka_flink_streaming_pipeline_spark"
SETUP_REPEATS = 3
# The JVM starts with its whole heap (-Xms = -Xmx): a heap that grows
# while a run is timed made the first passes of some runs 20 % slower
# than those of others.
DRIVER_MEM = "2g"


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, args, work: str):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.work = work
        self.data = os.path.join(work, "data")
        self.spark = None
        self.attempted = self.failed = 0
        self.correct = True
        self.staging_s = 0.0
        self.metrics: dict[str, float] = {}
        self.summary: dict[str, object] = {}

    def start_spark(self, shuffle_partitions: int | None, master: str | None = None) -> float:
        from kafka_flink_streaming_pipeline_spark import get_spark

        if master:
            os.environ["SPARK_MASTER"] = master
        self.shuffle_partitions = shuffle_partitions
        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            shuffle_partitions,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp -XX:-UsePerfData -Xms{DRIVER_MEM}",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        started = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return started

    def restart_spark(self, master: str):
        self.spark.stop()
        self.start_spark(self.shuffle_partitions, master)
        return self.spark

    def setup_repeated(self, stage):
        """Run the input staging `SETUP_REPEATS` times and keep the median
        time; returns every stage result (the last one is used)."""
        times, out = [], []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            out.append(stage(i))
            times.append(time.perf_counter() - t0)
        self.staging_s = sorted(times)[len(times) // 2]
        return out

    def check(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.correct = False
            self.note(f"correctness check failed: {what}")

    def note(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def record(self, **metrics) -> None:
        self.metrics.update(metrics)

    def report(self, **kw) -> None:
        self.summary.update(kw)


def _workload(name: str):
    """(workload function, shuffle partitions or None for the package
    default). The streaming topology runs with one shuffle partition per
    topic partition, as the reference sets Flink parallelism to the
    Kafka partition count."""
    return {
        "stream_ingest": (stream_ingest.run, stream_ingest.PARTITIONS),
        "batch_refresh": (batch.run, None),
    }[name]


def _isolate(work: str) -> None:
    """Point every scratch location of Spark, the JVM and Python at the
    run's temporary directory, and turn the cross-process artifact cache
    off so every pass repeats the same work."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_SHARED_CACHE="0",
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    )
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)


def _stop(spark) -> None:
    """Stop the session, then its JVM, which exits when its stdin closes;
    wait for it so that no process of the run outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["stream_ingest", "batch_refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec(PACKAGE) is None:
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    cwd = os.getcwd()
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    run = Run(args, work)
    try:
        _isolate(work)
        workload, shuffle_partitions = _workload(args.workload)
        session_s = run.start_spark(shuffle_partitions)
        workload(run)
        run.metrics["setup_s"] = session_s + run.staging_s
        run.metrics["session.start_s"] = session_s
        run.metrics["session.peak_rss_mb"] = peak_rss_mb()
        run.summary.update(setup_s=run.metrics["setup_s"], staging_s=run.staging_s)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run.spark is not None:
            _stop(run.spark)
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        if not args.trace and m["name"] not in run.metrics:
            raise RuntimeError(f"workload {args.workload} did not measure {m['name']}")
        # a per-layer metric of a layer this workload bypasses reads 0
        metrics[m["name"]] = {"value": float(run.metrics.get(m["name"], 0.0)), "unit": m["unit"]}
    print(json.dumps({"workload": args.workload, "seed": args.seed, **run.summary}))
    print(
        json.dumps(
            {
                "correct": run.correct,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
