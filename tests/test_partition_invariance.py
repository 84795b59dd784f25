"""Partitioning-invariance witness for the determinism contracts.

Every hashed value in the registry is CLAIMED to be a pure function of
the input data — independent of shuffle width, task scheduling, and
accumulation order. That claim is what the integer-contract devices
(det_round, micro-unit rounding before sums, exact decimal moments,
fold-order-free integer dots) exist to deliver, and this test checks
it directly: each representative device-heavy query is executed under
the suite's default shuffle width AND again under a deliberately
hostile width (7 — coprime to everything, forcing different partial
aggregation trees and merge orders), and the order-insensitive value
multiset must be IDENTICAL.

Representatives cover each device family rather than all 212 entries
(runtime budget): the token-budget chain (LSH closure + quality gate +
ppm division), the DSIR race (transcendentals rounded once +
integer sums), k-means (iterative integer means), power iteration
(iterative integer matvec), BPE training (string-fold merge loop), exact decimal moments
(z-scores), and the islands window. Every session-shared
artifact (operators/shared_cache.py) is cleared before each run, so the
LSH closure and the power iteration are rebuilt under both widths
rather than served from the first run's memo. A failure here is a
determinism BUG even if the DuckDB oracle happens to agree on the
default width.
"""

from __future__ import annotations

import pytest

from kafka_flink_streaming_pipeline_spark.plans import merged

from tests.conftest import SF_CORRECT

REPRESENTATIVES = [
    "curation_token_budget",
    "curation_dsir_resample",
    "sim_kmeans_train",
    "embedding_top_pc",
    "tokenizer_bpe_train",
    "zscore_order_totals",
    "dedup_span_islands",
    "corpus_pack_sequences",  # two-level distributed prefix sum
    # r8: the int8-BLAS family — mapInPandas assignment + cogrouped
    # applyInPandas cell matmul; Arrow batch boundaries and cogroup
    # bucketing both change with the width, and the exact-integer
    # dgemm argument says values must not
    "knn_label_agreement",
]


def _value_multiset(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_values_invariant_under_shuffle_width(spark, name):
    from kafka_flink_streaming_pipeline_spark.operators import shared_cache

    spec = merged()[name]
    default_width = spark.conf.get("spark.sql.shuffle.partitions")
    shared_cache.clear()  # rebuild every shared artifact in BOTH runs
    base = _value_multiset(spec.build(spark, SF_CORRECT))
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        shared_cache.clear()
        hostile = _value_multiset(spec.build(spark, SF_CORRECT))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default_width)
    assert hostile == base
