"""`batch_refresh`: closed-loop passes over registry entries, one client.

A pass executes every entry once, in an order shuffled from the seed,
each as ``QuerySpec.build`` followed by the all-column probe: the nine
dashboard plans and the four feature plans (layer `plans`), and three
curation operators (layer `operators`). It then runs the FP3 backfill
(`jobs.feature_batch_job.run`) for one seed-chosen day, the write
beside the reads.

Before timing, one gate pass executes every entry once: it warms the
session, compares the result with the entry's DuckDB oracle, and keeps
its ``(rows, xxhash)``, which every timed execution must reproduce.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

import inputs
from probe import EngineCounters, Oracle, median, pct, probe

PLANS = (
    "q1_events_per_min",
    "q1_views_per_min",
    "q2_top_docs_6h",
    "q3_geo_pv_24h",
    "q4_traffic_source_24h",
    "q5_session_stats_12h",
    "q6_avg_delay_5m",
    "q7_heatmap_7d",
    "q8_hourly_top20_24h",
    "q9_retention_d7",
    "fp2_user_features_5m",
    "fp3_features_20m",
    "fp2_kv_rows",
    "fp_global_features_5m",
)
# Curation entries that consume no session-shared artifact, so every pass
# repeats the same work: two iterative builders whose driver build
# dominates (ROADMAP item 2) and one execution-heavy scrub.
OPERATORS = (
    "sim_kmeans_train",
    "hybrid_retrieval_mmr",
    "dedup_span_scrub",
)
LAYER = {**dict.fromkeys(PLANS, "plans"), **dict.fromkeys(OPERATORS, "operators")}
TABLES = ["events", "documents", "embeddings"]
EVENTS = 50_000
USERS = 750
DOCS = 800
VECS = 500
GATE_THREADS = 4
NOMINAL_PASS_S = 14.0


def _inputs(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    inputs.write_tables(
        out,
        {
            "events": inputs.events_table(rng, EVENTS, USERS),
            "documents": inputs.documents_table(rng, DOCS),
            "embeddings": inputs.embeddings_table(rng, VECS),
        },
    )


class _Fp3:
    """The FP3 backfill for one day, checked against the day-scoped FP3
    oracle, with optional timing of its two package calls."""

    def __init__(self, ctx, day: str):
        self.ctx, self.day = ctx, day
        self.out = f"{ctx.work}/features_20m"
        self.build_s: list[float] = []
        self.merge_s: list[float] = []

    def run(self, traced: bool) -> int:
        from kafka_flink_streaming_pipeline_spark.jobs import feature_batch_job
        from kafka_flink_streaming_pipeline_spark.streaming import upsert

        if not traced:
            return feature_batch_job.run(self.ctx.spark, self.ctx.data, self.day, self.out)
        build, merge = feature_batch_job.build_day_features, upsert.merge_upsert

        def timed(fn, sink):
            def call(*a, **k):
                t0 = time.perf_counter()
                try:
                    return fn(*a, **k)
                finally:
                    sink.append(time.perf_counter() - t0)

            return call

        feature_batch_job.build_day_features = timed(build, self.build_s)
        upsert.merge_upsert = timed(merge, self.merge_s)
        try:
            return feature_batch_job.run(self.ctx.spark, self.ctx.data, self.day, self.out)
        finally:
            feature_batch_job.build_day_features, upsert.merge_upsert = build, merge

    def table(self):
        return self.ctx.spark.read.parquet(self.out).drop("computed_at")

    def gate(self, oracle: Oracle) -> tuple[int, tuple[int, int]]:
        """Run the backfill once, check the table against the oracle and
        return (rows, probe of the table)."""
        from kafka_flink_streaming_pipeline_spark.plans import clickstream

        n = self.run(False)
        df = self.table().persist()
        rows = df.collect()
        hi = str(np.datetime64(self.day) + np.timedelta64(1, "D"))
        sql = (
            clickstream._FP3_DAY_ORACLE.replace(clickstream._DAY_LO, "{lo}")
            .replace(clickstream._DAY_HI, "{hi}")
            .replace("{lo}", f"{self.day} 00:00:00")
            .replace("{hi}", f"{hi} 00:00:00")
        )
        # the feature table keeps window_end as a timestamp: compare as text
        cols = df.columns
        text = [tuple(str(v)[:19] if c == "window_end" else v for c, v in zip(cols, r)) for r in rows]
        self.ctx.check(oracle.matches(sql, cols, text) and n == len(rows), "fp3 backfill")
        ref = probe(df)
        df.unpersist()
        return n, ref


def run(ctx) -> None:
    from kafka_flink_streaming_pipeline_spark.plans import merged

    ctx.setup_repeated(lambda i: _inputs(ctx.seed, ctx.data))
    rng = np.random.default_rng(ctx.seed)
    day = str(np.datetime64("2024-01-01") + np.timedelta64(int(rng.integers(0, 30)), "D"))
    fp3 = _Fp3(ctx, day)
    spark = ctx.spark
    specs = merged()
    names = tuple(LAYER)

    # --- gate pass: warm-up + oracle + reference probe values ----------
    t_gate = time.perf_counter()

    def gate(name: str):
        # the probe as the timed passes run it, then the rows for the
        # oracle from a second execution of the same plan
        df = specs[name].build(spark, ctx.data)
        return probe(df), df.columns, df.collect()

    # four threads: the cold pass overlaps one entry's driver build with
    # another's execution (on 4 cores, 22 s for the plans against 28 s
    # one entry at a time)
    with ThreadPoolExecutor(GATE_THREADS) as pool:
        gated = list(pool.map(gate, names))
    oracle = Oracle(ctx.data, TABLES)
    ref = {}  # what every timed execution must reproduce
    for name, (got, cols, rows) in zip(names, gated):
        ok = got[0] == len(rows) and (specs[name].oracle is None or oracle.matches(specs[name].oracle, cols, rows))
        ctx.check(ok, name)
        ref[name] = got
    fp3_rows, fp3_ref = fp3.gate(oracle)
    oracle.close()
    gate_s = time.perf_counter() - t_gate

    # --- timed passes ----------------------------------------------------
    counters = EngineCounters(spark)
    sc = spark.sparkContext
    latencies: list[float] = []
    passes: dict[bool, list[float]] = {False: [], True: []}
    build: list[dict[str, float]] = []  # per pass, per layer
    execu: list[dict[str, float]] = []
    fp3_s: list[float] = []
    entry_s: dict[str, list[float]] = {}
    pass_times: list[float] = []
    # whole passes filling about --seconds, a count fixed by the settings
    # so every run times the same work. The first pass after the gate is
    # still ~20 % slower than later ones, so a traced run makes it an
    # untraced warm pass and then runs a traced and an untraced pass per
    # nominal pass; the difference between the two kinds is the tracing
    # overhead.
    n_passes = max(1, round(ctx.seconds / NOMINAL_PASS_S))
    if ctx.trace:
        n_passes = 1 + 2 * n_passes
    t_window = time.time()
    for i in range(n_passes):
        traced = ctx.trace and i % 2 == 1
        order = [names[j] for j in rng.permutation(len(names))]
        t_pass = time.perf_counter()
        build.append(dict.fromkeys(("plans", "operators"), 0.0))
        execu.append(dict.fromkeys(("plans", "operators"), 0.0))
        for name in order:
            if traced:
                sc.setJobGroup(f"{i}:{name}", name)
            t0 = time.perf_counter()
            df = specs[name].build(spark, ctx.data)
            t1 = time.perf_counter()
            got = probe(df)
            t2 = time.perf_counter()
            latencies.append(t2 - t0)
            entry_s.setdefault(name, []).append(t2 - t0)
            build[i][LAYER[name]] += t1 - t0
            execu[i][LAYER[name]] += t2 - t1
            ctx.attempted += 1
            if got != ref[name]:
                ctx.failed += 1
                ctx.note(f"{name}: {got} != gate {ref[name]}")
        if traced:
            sc._jsc.clearJobGroup()
        t0 = time.perf_counter()
        n = fp3.run(traced)
        fp3_s.append(time.perf_counter() - t0)
        ctx.attempted += 1
        if n != fp3_rows:
            ctx.failed += 1
            ctx.note(f"fp3 backfill: {n} rows != gate {fp3_rows}")
        pass_times.append(time.perf_counter() - t_pass)
        passes[traced].append(pass_times[-1])

    # the backfill converged to the gate's table
    ctx.check(probe(fp3.table()) == fp3_ref, "fp3 table after backfills")

    pass_s = median(passes[False])
    ctx.record(
        latency_p50_s=pct(latencies, 0.5),
        latency_p90_s=pct(latencies, 0.9),
        throughput_per_s=(len(names) + 1) / pass_s,
    )
    ctx.report(
        gate_s=gate_s,
        window_s=time.time() - t_window,
        passes=n_passes,
        latency_samples=len(latencies),
        pass_s=pass_s,
        fp3_upsert_s=median(fp3_s),
        pass_times_s=[round(t, 3) for t in pass_times],
        entry_median_s={k: round(median(v), 3) for k, v in sorted(entry_s.items())},
    )
    if not ctx.trace:
        return

    # --- per-layer metrics (traced passes, read after the window) -------
    traced_ids = range(1, n_passes, 2)
    metrics = {}
    for layer in ("plans", "operators"):
        per_pass = [
            counters.totals(
                [j for name in names if LAYER[name] == layer for j in counters.job_ids_for_group(f"{k}:{name}")]
            )
            for k in traced_ids
        ]
        b = median([build[k][layer] for k in traced_ids])
        e = median([execu[k][layer] for k in traced_ids])
        metrics[f"{layer}.build_s"] = b
        metrics[f"{layer}.exec_s"] = e
        metrics[f"{layer}.task_skew"] = median([s for t in per_pass for s in t["skews"]])
        for f in EngineCounters.FIELDS:
            metrics[f"{layer}.{f}"] = median([t[f] for t in per_pass])
    metrics["operators.build_share"] = metrics["operators.build_s"] / (
        metrics["operators.build_s"] + metrics["operators.exec_s"]
    )
    metrics["jobs.feature_batch.build_s"] = median(fp3.build_s)
    metrics["jobs.feature_batch.merge_s"] = median(fp3.merge_s)
    metrics["trace.overhead_pct"] = 100.0 * (median(passes[True]) / median(passes[False][1:]) - 1.0)
    ctx.record(**metrics)
