"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output protocol (round-3 fix): the driver parses the LAST JSON line of
stdout with a bounded capture tail, and the r2 line (~60 per-query
entries) was long enough that its head was truncated away — rc 0 but
"parsed": null. So the per-query map now goes to BENCH_DETAIL.json (and
is echoed as an EARLIER stdout line), while the final line is a SHORT
summary: {"metric": ..., "value": total_sec, "unit": "sec", "sf": ...,
"n_queries": N, "queries": {"slowest3 only"}}.

Battery: every `merged()` registry entry, in registry order, except
the `UNBENCHED` ones, each of which carries its reason. Session-shared
artifacts are timed once each as `shared_*` pseudo-entries before it.

Methodology: steady-state wall-clock. Each entry runs once to absorb
one-time machinery (Catalyst codegen compile for the plan shape, Python
worker pool spin-up for Arrow UDF stages); then, SPARK_GRAFT_BENCH_RUNS
times (default 2), all Spark-side caches of intermediate DATA are
dropped (`clearCache`) and the entry is fully re-built and
re-materialized. The fastest of those runs is reported: the number a
long-lived cluster sees per query, with persisted intermediates (e.g.
minhash signature tables) honestly inside the measured run, and robust
to a stop-the-world pause landing on one run.

Focused or scaled runs need no other tool: SPARK_GRAFT_SF_DIR names
the data and SPARK_GRAFT_BENCH_SKIP (a comma list) drops the rest of
the battery. To time one entry on a scaled-up copy of the data:

    SPARK_GRAFT_SF_DIR=$SF_DIR SPARK_GRAFT_BENCH_SKIP=$(python -c \\
      'import bench; print(",".join(set(bench.HEADLINE) - {"sim_ann_ivf"}))') \\
      python bench.py

The shared artifacts are still built and timed; skipping one refuses
it to every entry that reads it. bench.py writes BENCH_DETAIL.json next
to itself, so run a copy of it when that file must stay as it is.

Materialization (round-5 fix): every column of the result is forced
through a JVM-side bit_xor of xxhash64, because a bare `.count()` lets
Catalyst column-prune the very work being measured (a LEFT-join-shaped
output counts its rows without running its joins or projections).
Totals from before round 5 therefore UNDERSTATE per-doc projection
entries; the r5 PERF.md close-out records the re-based battery.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from kafka_flink_streaming_pipeline_spark.plans import merged, stateful_stream

_HISTORY = (
    "kept out so the battery total stays comparable with `BENCH_DETAIL_r*.json`"
)

#: Registry entries the battery does not time, each with its reason.
#: Every other `merged()` entry is benched, in registry order, so a new
#: entry is timed unless it is given a reason here.
UNBENCHED: dict[str, str] = {
    **dict.fromkeys(
        stateful_stream.QUERIES,
        "writeStream entry: times tempdir replay machinery, not a query plan",
    ),
    "q1_views_per_min": "the q1_events_per_min builder filtered to page views",
    "q5a_session_marks_12h": "statement 1 of q5_session_stats_12h (per-row marks)",
    "fp3_features_20m_day": "fp3_features_20m restricted to one day",
    "q2_sql_api_variant": "q2_top_docs_6h authored as SQL; Catalyst plans it identically",
    "fp_active_users_5m_approx": "batch accuracy twin of fp_active_users_5m",
    "sim_topk_cosine_pandas": "sim_topk_cosine's query and oracle through a pandas_udf",
    "sim_ann_lsh": "the single-probe form of sim_ann_lsh_multiprobe",
    "sim_kmeans_centroids": "the codebook of sim_kmeans_train's Lloyd loop",
    "dedup_ngram_jaccard": "the edge set timed once as `shared_exact_pairs`",
    "dedup_ngram_jaccard_prefix": "the `shared_exact_pairs` edge set via prefix "
    "filtering, measured 297 s vs 60 s naive at 10x data",
    **dict.fromkeys(
        ("text_fingerprints", "dedup_exact"),
        "the exact-dedup stage of the benched curation_pipeline",
    ),
    **dict.fromkeys(
        ("dedup_word_jaccard", "dedup_embedding_cosine", "dedup_simhash_pairs"),
        "all-pairs self-join: quadratic in the posting or bucket size",
    ),
    **dict.fromkeys(
        (
            "tpch_q2_max_balance_supplier",
            "set_ops_customer_cohorts",
            "cube_order_status_priority",
            "pivot_priority_by_status",
            "percentiles_order_totals",
            "window_analytics_suite",
            "text_langid_confusion",
            "dedup_simhash",
            "tpch_q12_priority_mix",
            "tpch_q14_promo_share",
            "tpch_q22_idle_balances",
            "fp_doc_counts_5m",
            "tpch_q10_returned_items",
            "top_supplier_per_nation",
            "order_priority_semi_join",
            "customers_without_orders_anti_join",
            "customer_order_counts_left_join",
            "order_items_right_join",
            "tpch_q8_market_share",
            "tpch_q15_top_supplier",
            "tpch_q16_parts_supplier_cnt",
            "tpch_q20_part_promotion",
            "nation_revenue_share",
            "fp_geo_top_5m",
            "fp_global_features_5m",
            "fp2_kv_rows",
            "kafka_wire_frame",
            "preprocess_clean_events",
            "text_vocabulary",
            "text_token_stats",
            "embedding_quantize_int8",
            "multimodal_resize",
            "skew_salted_counts",
            "attrib_click_to_view_5m",
            "token_histogram",
            "curation_stratified_cap",
            "dataset_mixture_expand",
            "pii_redact_props",
            "sample_orders_hash",
        ),
        _HISTORY,
    ),
}

HEADLINE = [n for n in merged() if n not in UNBENCHED]


# Documented-quadratic oracle anchors (exact all-pairs / within-block
# pairwise) and the entries that compose them. At sf >= 1 these are
# auto-skipped unless SPARK_GRAFT_BENCH_EXACT=1: the r9 100x run died
# on disk (the exact pair graph's all-pairs shuffle > 77 GB free)
# before the manual skip knob was applied — the policy now lives here
# instead of in tribal knowledge. The skip list is printed. Every
# battery entry that touches the exact graph must be listed, or it
# would be refused the skipped artifact: tests/test_plans.py checks
# that closure against the recorded shared-artifact accesses.
EXACT_ANCHORS = (
    "shared_exact_pairs",
    "shared_components_exact",
    "dedup_components",
    "dedup_keep_best_per_component",
    "split_leakage_check",
    "dedup_lsh_calibration",
    "dedup_containment",
    "fuzzy_match_part_names",
)


def _materialize(df) -> int:
    """Run `df` to completion through the every-column hash probe (see
    Materialization above) and return its row count. Only a probe that
    fails analysis, on a type the hash rejects (VARIANT), falls back to
    count(), before any execution. An error while executing is the
    entry's own and propagates: count() could prune the failing column
    and time a broken entry as if it worked."""
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    try:
        # XOR, not SUM: summing random 64-bit hashes overflows under ANSI
        probe = df.select(
            F.count("*").alias("n"),
            F.expr(
                "bit_xor(xxhash64(" + ", ".join(f"`{c}`" for c in df.columns) + "))"
            ).alias("h"),
        )
        probe.schema  # analyze now: unsupported types fail HERE
    except AnalysisException:
        return df.count()
    return probe.collect()[0]["n"]


def _canary_job(spark) -> float:
    """One run of the canary job: a fixed scan→shuffle→agg over a
    constant range DF. Returns its wall time in seconds."""
    t0 = time.time()
    n = (
        spark.range(8_000_000)
        .selectExpr("id % 997 AS k")
        .groupBy("k")
        .count()
        .selectExpr("sum(count) AS n", "count(*) AS g")
        .collect()[0]["n"]
    )
    if n != 8_000_000:  # RuntimeError, not assert: must survive -O
        raise RuntimeError(f"canary job returned {n}, expected 8000000")
    return time.time() - t0


def _canary(spark) -> float:
    """Boot-calibration canary: min-of-3 `_canary_job`. Timed at
    battery start and end and recorded in the detail file, so
    cross-round comparisons can separate 'this box/boot is slower'
    from 'this plan regressed' (the r9 battery drifted 1.13x vs r8
    with only a narrative attribution to boot context)."""
    return round(min(_canary_job(spark) for _ in range(3)), 3)


#: Canary settling: in a fresh session the canary job keeps getting
#: faster for ~10 runs after the warm-up (its own codegen and JIT), so
#: a start reading taken at once compares a cold job with the warm end
#: reading. It runs untimed until `_CANARY_SETTLE_RUNS` runs in a row
#: set no new minimum (by more than `_CANARY_SETTLE_GAIN`), at most
#: `_CANARY_SETTLE_MAX` runs.
_CANARY_SETTLE_RUNS = 5
_CANARY_SETTLE_GAIN = 0.05
_CANARY_SETTLE_MAX = 30


def _settle_canary(spark) -> int:
    """Run the canary job untimed until its timings settle (see above);
    returns the number of runs."""
    best, stale = float("inf"), 0
    for i in range(1, _CANARY_SETTLE_MAX + 1):
        dt = _canary_job(spark)
        stale = 0 if dt < best * (1 - _CANARY_SETTLE_GAIN) else stale + 1
        best = min(best, dt)
        if stale == _CANARY_SETTLE_RUNS:
            break
    return i


def _canary_data(spark, sf_dir: str) -> dict:
    """Data-touching canary (r11 verdict ask #2): the CPU canary above
    runs on a constant range DF and is therefore BLIND to page-cache
    state on the data files — exactly the blind spot that made
    `dataset_interleave_shards` read as a 1.57x "normalized regression"
    on untouched code in r11 (r10's run had the parquet hot; the
    adjudication needed a five-round history + 6x same-boot re-measure
    to see it). This canary scans a fixed shard (full `text` column of
    documents.parquet — a real data-page read, not a count() metadata
    skim) three times and records BOTH the first pass and the min:
    `first`/`min` >> 1 means the battery started page-cache-cold, and
    `min` is the boot's warm scan+decode calibrator. bench_diff reads
    the pair to separate cache-cold from code-slow."""
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table

    times = []
    for _ in range(3):
        t0 = time.time()
        n = (
            load_table(spark, sf_dir, "documents")
            .selectExpr("sum(length(text)) AS b")
            .collect()[0]["b"]
        )
        if not n or n <= 0:  # RuntimeError, not assert: must survive -O
            raise RuntimeError(f"data canary read {n} bytes of text")
        times.append(time.time() - t0)
    return {"first": round(times[0], 3), "min": round(min(times), 3)}


def _mem_stats() -> dict | None:
    """MemAvailable/MemFree snapshot (r11 verdict ask #7): the
    containment-LSH sf10 readings are memory-pressure bimodal
    (58–148 s across boots); recording the boot's memory state next to
    every battery makes that attribution evidenced, not asserted."""
    try:
        kv = {}
        with open("/proc/meminfo") as fh:
            for line in fh:
                k, v = line.split(":", 1)
                if k in ("MemTotal", "MemFree", "MemAvailable", "Cached"):
                    kv[k] = int(v.strip().split()[0]) // 1024  # MiB
        return kv or None
    except OSError:
        return None


#: Dirty-start detection (VERDICT r10 #6): the r10 sf1 battery started
#: on a contaminated box (canary 6.52 s vs 0.365 settled) and nothing
#: flagged it until the detail file was read back. A start canary >3x
#: the end canary means the early entries ran under a materially
#: different machine context than the late ones — warn at RUN time so
#: the operator can rerun before the file is graded.
_DIRTY_START_FACTOR = 3.0

#: Canary-pair stability band (r14, carried r12 verdict ask #4): the
#: same 1.3x threshold tools/bench_diff.py uses to refuse single-factor
#: normalization of a battery that spanned a machine-context transition.
_CANARY_STABLE_FACTOR = 1.3


def _canary_stable(canary_start: float, canary_end: float) -> bool:
    """True iff the battery's own start/end canary pair agrees within
    `_CANARY_STABLE_FACTOR` — i.e. the run did NOT span a
    machine-context transition and one factor can normalize it."""
    if not canary_start or not canary_end:
        return False
    pair = (canary_start, canary_end)
    return max(pair) / min(pair) <= _CANARY_STABLE_FACTOR


def _dirty_start_warning(canary_start: float, canary_end: float) -> str | None:
    if canary_end > 0 and canary_start > _DIRTY_START_FACTOR * canary_end:
        return (
            f"WARNING: dirty battery start — canary start {canary_start}s > "
            f"{_DIRTY_START_FACTOR}x end {canary_end}s; early entries were "
            "measured under load, rerun advised"
        )
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    from kafka_flink_streaming_pipeline_spark import get_spark

    spark = get_spark("kfsp-bench")
    spark.sparkContext.setLogLevel("ERROR")
    plans = merged()

    # warm-up: absorb JVM/codegen cold start and first-touch of the two
    # big fact tables (a long-lived cluster's steady state)
    spark.range(1000).selectExpr("sum(id)").collect()
    # data canary BEFORE the fact-table first-touch: its `first` pass
    # must see the page-cache state the battery's early entries face
    # (the range job above has already absorbed JVM cold start)
    mem_start = _mem_stats()
    canary_data_start = _canary_data(spark, sf_dir)
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table

    for t in ("events", "lineitem"):
        load_table(spark, sf_dir, t).count()

    # scaling runs may exclude known-quadratic entries (e.g.
    # SPARK_GRAFT_BENCH_SKIP=fuzzy_match_part_names at 100x, where the
    # within-block pair count is the measured wall — see PERF.md);
    # the driver's default run sets nothing and measures everything
    skip = set(filter(None, os.environ.get("SPARK_GRAFT_BENCH_SKIP", "").split(",")))
    if sf is not None and sf >= 1 and os.environ.get("SPARK_GRAFT_BENCH_EXACT") != "1":
        auto = [n for n in EXACT_ANCHORS if n not in skip]
        skip.update(auto)
        print(
            json.dumps(
                {
                    "note": "exact-anchor family auto-skipped at sf>=1 "
                    "(documented quadratics; SPARK_GRAFT_BENCH_EXACT=1 overrides)",
                    "auto_skipped": auto,
                }
            )
        )
    per_query: dict[str, float] = {}
    canary_settle_runs = _settle_canary(spark)
    canary_start = _canary(spark)
    # Min of SPARK_GRAFT_BENCH_RUNS measured runs (round-6 fix): single
    # measured runs showed multi-second stop-the-world pauses landing
    # on RANDOM entries — the same battery run back-to-back put 10.8 s
    # on one query and 3.0 s on it the next time. Min over fully
    # rebuilt, cache-cleared executions is the standard straggler-robust
    # steady-state estimator; every candidate is a complete rebuild, so
    # nothing is hidden.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

    # Session-shared artifacts (operators/shared_cache.py: pair graphs,
    # component labels, top-k anchor, PQ codes, IVF cells and index,
    # power-iteration vector) are built once and composed by many
    # entries, as a production DAG materializes each once. Each build
    # is timed HERE as its own pseudo-entry, in declaration (=
    # dependency) order, so the battery total carries it once and its
    # consumers show their steady-state marginal cost. Skipping one
    # (e.g. the exact pair graph at 100x, whose shuffle exceeds local
    # disk) refuses it: a consumer still measured raises before
    # building it, so no entry is ever timed over a one-time build.
    # Every entry's accesses (hit / disk / build) are recorded into
    # `shared`, the consumer map of the detail file.
    from kafka_flink_streaming_pipeline_spark.operators import shared_cache

    refused = skip & set(shared_cache.SHARED)
    shared: dict[str, dict[str, str]] = {}

    def _record(name: str, rec: dict[str, str]) -> None:
        if rec:
            shared.setdefault(name, rec)

    for name in shared_cache.SHARED:
        if name in skip:
            continue
        t0 = time.time()
        with shared_cache.recording(name, refused) as rec:
            shared_cache.get(spark, sf_dir, name)
        per_query[name] = round(time.time() - t0, 3)
        _record(name, rec)

    def _measure(name: str) -> float:
        with shared_cache.recording(name, refused) as rec:
            warm_n = _materialize(plans[name].build(spark, sf_dir))
            best = None
            for _ in range(runs):
                spark.catalog.clearCache()
                t0 = time.time()
                n = _materialize(plans[name].build(spark, sf_dir))
                dt = time.time() - t0
                best = dt if best is None else min(best, dt)
                if n != warm_n:  # RuntimeError, not assert: must survive -O
                    raise RuntimeError(
                        f"{name}: measured run returned {n} rows, warm run {warm_n}"
                    )
        _record(name, rec)
        return best

    for name in HEADLINE:
        if name not in skip:
            per_query[name] = round(_measure(name), 3)
    canary_end = _canary(spark)
    canary_data_end = _canary_data(spark, sf_dir)
    mem_end = _mem_stats()
    # Canary-pair stability verdict (carried r12 verdict ask #4): a
    # battery whose OWN start/end canaries disagree by >1.3x spanned a
    # machine-context transition, so one factor cannot normalize its
    # entries (tools/bench_diff.py prints the same warning at compare
    # time — this puts the verdict in the headline line itself, where
    # cross-round comparisons start).
    canary_stable = _canary_stable(canary_start, canary_end)
    warn = _dirty_start_warning(canary_start, canary_end)
    if warn:
        print(warn, file=sys.stderr)
    total = round(sum(per_query.values()), 3)
    # 1-min load average at battery end: the r3 driver total ran 1.2x
    # the idle-box total purely from machine contention — recording
    # load lets future rounds separate noise from regression at a
    # glance (VERDICT r3 #8)
    load1 = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
    detail = {
        "metric": "headline_queries_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "loadavg_1m": load1,
        "runs": runs,
        # fixed-job machine calibration at battery start/end: divide a
        # cross-round per-entry ratio by (canary_r10 / canary_r9) to
        # separate boot context from plan regression
        "canary_s": {"start": canary_start, "end": canary_end},
        # untimed canary runs before the start reading (`_settle_canary`)
        "canary_settle_runs": canary_settle_runs,
        "canary_stable": canary_stable,
        # data-touching twin (r12): fixed parquet-shard scan, first
        # pass + warm min at battery start/end — first/min >> 1 at
        # start = page-cache-cold boot; bench_diff reads the pair to
        # separate cache-cold from code-slow on data-bound entries
        "canary_data_s": {"start": canary_data_start, "end": canary_data_end},
        # boot memory state (r12): containment-LSH-class entries are
        # memory-pressure bimodal; MiB snapshots make that evidenced
        "mem_mib": {"start": mem_start, "end": mem_end},
        "skipped": sorted(skip) or None,
        # entry -> {artifact: "hit" | "disk" | "build"}: the recorded
        # consumer map (entries touching no shared artifact are absent)
        "shared": shared,
    }
    # full per-query map: file + an early stdout line (NOT the last line)
    Path(__file__).resolve().parent.joinpath("BENCH_DETAIL.json").write_text(
        json.dumps(detail, indent=1) + "\n"
    )
    print(json.dumps(detail))
    slowest = dict(sorted(per_query.items(), key=lambda kv: -kv[1])[:3])
    print(
        json.dumps(
            {
                "metric": "headline_queries_wall_clock",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "n_queries": len(per_query),
                "loadavg_1m": load1,
                "canary_stable": canary_stable,
                "queries": slowest,
            }
        )
    )


if __name__ == "__main__":
    main()
