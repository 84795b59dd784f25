"""Invariant tests pinning `dedup_containment_profile` to its
candidate set (the estimated-containment decile rollup added in r11 as
the scale-battery face of `dedup_containment_lsh`)."""

from __future__ import annotations

from tests.conftest import SF_CORRECT


def test_containment_profile_conserves_pair_mass(spark):
    """Invariants that pin the profile to its candidate set:
    - sum(n_pairs) == 2 * |LSH candidate pairs| (each pair contributes
      exactly one directed row per side, unthresholded),
    - every decile in [0, 9],
    - n_contained_docs <= n_pairs per decile, and
    - sum_containment_ppm sits inside the decile's ppm bounds
      (bucket 9 is open-topped: the jaccard->containment inversion is
      capped at min(c1,c2)/c_self <= ... <= c_other/c_self, so ppm can
      exceed 1e6 only via the det-round half-up, never the cap)."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        dedup_containment_profile,
        dedup_minhash_lsh,
    )

    rows = dedup_containment_profile(spark, SF_CORRECT).collect()
    n_cand = dedup_minhash_lsh(spark, SF_CORRECT).count()
    assert sum(r.n_pairs for r in rows) == 2 * n_cand
    for r in rows:
        assert 0 <= r.decile <= 9
        assert 1 <= r.n_contained_docs <= r.n_pairs
        lo, hi = r.decile * 100_000, (r.decile + 1) * 100_000
        assert r.sum_containment_ppm >= lo * r.n_pairs
        if r.decile < 9:
            assert r.sum_containment_ppm < hi * r.n_pairs


def test_containment_bounded_subset_of_anchor(spark):
    """The bounded variant (estimate-screened exact verify, r12) must be
    a SUBSET of the unscreened anchor `dedup_containment_lsh` with
    IDENTICAL containment values on the surviving rows — the screen may
    only remove rows (estimate undershoot), never change or add one.
    At this SF the screen margin loses nothing (subset == equal), which
    also exercises the screen's pass path end-to-end."""
    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        dedup_containment_bounded,
        dedup_containment_lsh,
    )

    anchor = {
        (r.contained_doc, r.container_doc): r.containment
        for r in dedup_containment_lsh(spark, SF_CORRECT).collect()
    }
    bounded = {
        (r.contained_doc, r.container_doc): r.containment
        for r in dedup_containment_bounded(spark, SF_CORRECT).collect()
    }
    assert bounded, "screen must admit the high-containment pairs"
    assert set(bounded) <= set(anchor)
    for k, v in bounded.items():
        assert v == anchor[k], k
    # measured at this SF: the 0.8 estimate screen admits every >=0.9
    # exact pair (no recall loss at oracle scale) — a deliberate
    # change-detector like the MMR overlap pin
    assert set(bounded) == set(anchor)


def test_containment_bounded_duplicate_text_expansion(spark):
    """The collapsed (representative) form must equal the DIRECT
    screened form on a frame WITH exact-duplicate texts — sf0.01 has
    none, so the expansion path (cross-group inheritance + within-group
    identity pairs + zero-shingle guard) is exercised here against the
    oracle SQL, which is deliberately the uncollapsed formulation."""
    import duckdb
    import pandas as pd

    from kafka_flink_streaming_pipeline_spark.operators.dedup import (
        DEDUP_CONTAINMENT_BOUNDED_ORACLE,
        _containment_bounded_docs,
        lsh_pairs,
    )
    from kafka_flink_streaming_pipeline_spark.sources.batch import load_table

    base = (
        load_table(spark, SF_CORRECT, "documents")
        .select("doc_id", "text")
        .orderBy("doc_id")
        .limit(40)
        .collect()
    )
    rows = [(r.doc_id, r.text) for r in base]
    next_id = max(r[0] for r in rows) + 1
    for i in range(10):  # 2 extra exact copies of each of the first 10
        for _ in range(2):
            rows.append((next_id, rows[i][1]))
            next_id += 1
    short_a, short_b = next_id, next_id + 1  # zero-shingle (<3 words) dup group
    rows.append((short_a, "too short"))
    rows.append((short_b, "too short"))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text"])
    docs = spark.createDataFrame(pdf)
    got = {
        (r.contained_doc, r.container_doc): r.containment
        for r in _containment_bounded_docs(docs, lsh_pairs(docs)).collect()
    }
    con = duckdb.connect()
    con.register("documents", pdf)
    exp = {
        (d1, d2): v
        for d1, d2, v in con.execute(DEDUP_CONTAINMENT_BOUNDED_ORACLE).fetchall()
    }
    assert got == exp
    # the dup group {base0, copy, copy} yields all 6 ordered identity pairs
    b0, c1, c2 = rows[0][0], rows[40][0], rows[41][0]
    for a, b in [(b0, c1), (c1, b0), (b0, c2), (c2, b0), (c1, c2), (c2, c1)]:
        assert got[(a, b)] == 1.0, (a, b)
    # zero-shingle duplicates must NOT appear (no minhash signature)
    assert (short_a, short_b) not in got and (short_b, short_a) not in got
