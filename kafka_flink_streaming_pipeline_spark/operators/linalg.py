"""Embedding linear algebra: power-iteration top principal direction
and the anisotropy share it implies.

Embedding-store QA that every retrieval/curation stack wants next to
its ANN index: how CONCENTRATED is the corpus energy? A healthy
general-purpose embedding space is near-isotropic (top direction
carries ~1/d of the energy); a collapsed or domain-skewed store shows
a dominant direction (the known anisotropy problem of contextual
embeddings — Ethayarajh, EMNLP 2019 — and the reason whitening/ABTT
post-processing exists, Mu & Viswanath ICLR 2018). Two registered
queries measure it in-engine:

- `embedding_top_pc` — the top principal direction of the UNCENTERED
  second-moment operator M = Σ_x x xᵀ, by `_PI_ROUNDS` unrolled power
  iterations (the Gram operator is PSD, so no sign flapping).
- `embedding_anisotropy` — the Rayleigh share of that direction: the
  fraction of total corpus energy it carries (isotropic 64-dim ≈
  15,625 ppm; a collapsed store → 1e6).

Honest convergence claim (measured, tests/test_linalg.py): power
iteration converges at rate (λ₂/λ₁)^K, so on data with a REAL dominant
direction — the regime this diagnostic exists to flag — 6 rounds
recover it to |cos| ≥ 0.99 (planted-spike testbed). On the driver's
isotropic embeddings the spectrum is a tight Marchenko-Pastur bulk
(λ₂/λ₁ ≈ 1) and no small-K iteration separates near-equal directions;
what the report then gives is a valid Rayleigh LOWER BOUND on the top
share (measured 25,577 ppm vs the numpy-exact 27,634 at sf0.01) that
never overstates anisotropy — exactly the safe failure mode for an
alarm metric. The anisotropy ppm is BY CONSTRUCTION the Rayleigh
quotient of the emitted vector, pinned to numpy equality in tests.

Determinism contract (the k-means/BPE discipline, every device
documented in the sibling operators):

- components quantize ONCE to integer micro-units
  (``floor(x·1e6 + 0.5)``, the `_km_points` convention);
- the per-vector score s = xᵀv and the direction update w_d = Σ s·x_d
  are EXACT integer sums (order-independent — no double accumulation
  anywhere). s fits BIGINT (64 · 1e6 · ~4e6); the update is summed in
  DECIMAL(38,0)/HUGEINT because s·x_d alone can exceed 2^63;
- each round renormalizes v to max-abs = 1e6 with ONE double division
  of exact integers (both engines cast the identical exact integer to
  double, divide, and floor-round — the divide-once-then-round rule);
  power iteration only needs direction, so max-abs replaces the L2
  norm and keeps sqrt out of the loop entirely;
- the Spark loop collects the 64-value w per round (bounded by the
  DIMENSION, not the data — the IVF probe-list precedent) and feeds
  the next round as a literal array, so the plan never grows with
  iteration count (no localCheckpoint needed, unlike k-means);
- the Rayleigh share divides once in doubles at the very end, rounded
  to integer ppm.

Scale shape at 100 TB: each round is one map-side zip_with fold over
the packed vectors plus one 64-key groupBy of partial sums (map-side
combine does the work) — the same shuffle profile as one k-means
round, with a 64-row driver collect per round. The oracle unrolls the
identical rounds as a linear CTE chain (single-reference per pass,
the token-budget flatten rule).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.operators import shared_cache
from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.sources.batch import load_table

_PI_DIM = 64
_PI_ROUNDS = 6
#: round-0 direction: a positive constant vector (exactly representable
#: micro value). Overlap with the top eigendirection of a PSD operator
#: is almost surely nonzero; 6 rounds of the Gram operator then
#: dominate any component mix the start vector has.
_PI_V0 = 125_000


def _emb_micro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, xarr ARRAY<BIGINT>): components quantized once to
    integer micro-units — the shared input of both passes."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * 1_000_000 + F.lit(0.5)).cast(
                "long"
            ),
        ).alias("xarr"),
    )


def _dot_with(v: list[int]) -> F.Column:
    """Exact integer xᵀv over the packed micro array (any fold order —
    integer addition commutes, unlike the float folds in the cosine
    operators)."""
    return F.aggregate(
        F.zip_with("xarr", F.lit(v), lambda x, w: x * w),
        F.lit(0).cast("long"),
        lambda acc, el: acc + el,
    )


@shared_cache.artifact("shared_power_iteration", kind="json")
def _power_iterate(spark: SparkSession, sf_dir: str) -> list[int]:
    """Run `_PI_ROUNDS` rounds; return the final v_micro list. A
    session-shared artifact: `embedding_anisotropy` composes the SAME
    deterministic vector `embedding_top_pc` converged to, so the
    6-round iteration runs once, and cache hits pay NOTHING — the
    corpus frame is built only when the iteration must run."""
    pts = _emb_micro(spark, sf_dir).localCheckpoint()
    v = [_PI_V0] * _PI_DIM
    for _ in range(_PI_ROUNDS):
        w_rows = (
            pts.select(
                F.posexplode("xarr").alias("dim", "xm"),
                _dot_with(v).cast("decimal(38,0)").alias("s"),
            )
            .groupBy("dim")
            .agg(F.sum(F.col("s") * F.col("xm")).alias("w"))
            .collect()
        )
        w = [0] * _PI_DIM
        for r in w_rows:
            w[r["dim"]] = int(r["w"])
        # identical double ops to the oracle's CAST/abs/max/floor chain
        mx = max(abs(float(x)) for x in w)
        if mx == 0.0:
            # degenerate store (all-zero embeddings, or a start vector
            # exactly orthogonal to the data): restart from v0 instead
            # of dividing by zero. The oracle's CASE mirror keeps both
            # engines on the same loud-but-deterministic degrade.
            v = [_PI_V0] * _PI_DIM
            continue
        v = [math.floor(float(x) / mx * 1_000_000 + 0.5) for x in w]
    return v


def embedding_top_pc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(dim, v_micro): the converged (K-round) top principal direction
    in max-abs-normalized integer micro-units — 64 rows, the vector a
    whitening/ABTT post-processor would project out."""
    v = _power_iterate(spark, sf_dir)
    return spark.createDataFrame(
        [(d, v[d]) for d in range(_PI_DIM)], "dim int, v_micro bigint"
    ).orderBy("dim")


def embedding_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row anisotropy report: n_vecs and the Rayleigh share
    λ_top/trace(M) in ppm — Σ(xᵀv)² / (‖v‖²·Σ‖x‖²), every sum exact
    integer, one double division rounded once (units cancel exactly:
    micro⁴ / (micro²·micro²))."""
    v = _power_iterate(spark, sf_dir)
    pts = _emb_micro(spark, sf_dir)  # single pass — no checkpoint needed
    sums = pts.select(
        _dot_with(v).cast("decimal(38,0)").alias("s"),
        F.aggregate(
            F.transform("xarr", lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, el: acc + el,
        )
        .cast("decimal(38,0)")
        .alias("xx"),
    ).agg(
        F.count("*").cast("bigint").alias("n_vecs"),
        F.sum(F.col("s") * F.col("s")).alias("num"),
        F.sum("xx").alias("tr"),
    )
    vv = float(sum(x * x for x in v))
    return sums.select(
        "n_vecs",
        F.floor(
            F.col("num").cast("double")
            / (F.lit(vv) * F.col("tr").cast("double"))
            * 1_000_000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("top_share_ppm"),
    )


def _pi_ctes() -> str:
    """Unrolled power-iteration CTE chain ending in
    ``v{_PI_ROUNDS}(dim, vm)`` — strictly linear, every pass CTE
    referenced once (`pts` is re-referenced per pass, the same bounded
    K-copies cost the token-budget chain accepts)."""
    parts = [
        f"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
pts AS (
  SELECT vec_id, dim,
         CAST(floor(ev[dim + 1] * 1000000 + 0.5) AS BIGINT) AS xm
  FROM e0 CROSS JOIN (SELECT unnest(range(0, {_PI_DIM})) AS dim) dims
),
v0 AS (SELECT unnest(range(0, {_PI_DIM})) AS dim, CAST({_PI_V0} AS BIGINT) AS vm)"""
    ]
    for i in range(1, _PI_ROUNDS + 1):
        parts.append(
            f"""s{i} AS (
  SELECT p.vec_id, CAST(sum(p.xm * v.vm) AS BIGINT) AS s
  FROM pts p JOIN v{i - 1} v USING (dim)
  GROUP BY p.vec_id
),
w{i} AS (
  SELECT p.dim, sum(CAST(s{i}.s AS HUGEINT) * p.xm) AS w
  FROM pts p JOIN s{i} USING (vec_id)
  GROUP BY p.dim
),
v{i} AS (
  SELECT dim,
         CASE WHEN mx = 0 THEN CAST({_PI_V0} AS BIGINT)
              ELSE CAST(floor(CAST(w AS DOUBLE) / mx * 1000000 + 0.5) AS BIGINT)
         END AS vm
  FROM (SELECT dim, w, max(abs(CAST(w AS DOUBLE))) OVER () AS mx FROM w{i})
)"""
        )
    return ",\n".join(parts)


TOP_PC_ORACLE = f"""
WITH {_pi_ctes()}
SELECT CAST(dim AS INTEGER) AS dim, vm AS v_micro
FROM v{_PI_ROUNDS}
ORDER BY dim
"""

ANISOTROPY_ORACLE = f"""
WITH {_pi_ctes()},
sf AS (
  SELECT p.vec_id, CAST(sum(p.xm * v.vm) AS BIGINT) AS s
  FROM pts p JOIN v{_PI_ROUNDS} v USING (dim)
  GROUP BY p.vec_id
),
xsq AS (
  SELECT vec_id, CAST(sum(xm * xm) AS BIGINT) AS xx FROM pts GROUP BY vec_id
),
vv AS (
  SELECT CAST(sum(CAST(vm AS DOUBLE) * CAST(vm AS DOUBLE)) AS DOUBLE) AS vv2
  FROM v{_PI_ROUNDS}
)
SELECT CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(floor(CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE)
                  / (vv2 * CAST(sum(CAST(xx AS HUGEINT)) AS DOUBLE))
                  * 1000000 + 0.5) AS BIGINT) AS top_share_ppm
FROM sf JOIN xsq USING (vec_id), vv
GROUP BY vv2
"""


def embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-indexing embedding-store QA: per label, vector count,
    zero-vector count (unindexable — cosine is undefined), and the
    L2-norm quartiles in integer micro units. A healthy store has a
    tight norm distribution; a wide or bimodal one means mixed
    normalization regimes (and ADC/IVF distance comparisons silently
    favor one regime), and zero vectors crash or no-op downstream —
    this is the report that catches both BEFORE an index build.

    Determinism: ‖x‖² is an exact integer sum of micro-unit squares,
    sqrt is IEEE correctly-rounded (the playbook's one exact
    transcendental), so ``floor(sqrt(ss) + 0.5)`` is engine-exact —
    the norm stays in micro units because the components were micro.
    Quartiles via percentile_disc ≡ DuckDB quantile_disc (equivalence
    pinned across group-size residues in tests/test_corpus_reports).
    One aggregation per label — map-side, no shuffle of vectors."""
    pts = _emb_micro(spark, sf_dir)
    labels = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    ss = F.aggregate(
        F.transform("xarr", lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, el: acc + el,
    )
    norms = pts.join(labels, "vec_id").select(
        "label",
        F.floor(F.sqrt(ss.cast("double")) + F.lit(0.5))
        .cast("long")
        .alias("norm_micro"),
    )
    return (
        norms.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum((F.col("norm_micro") == 0).cast("long"))
            .cast("bigint")
            .alias("n_zero"),
            F.expr(
                "CAST(percentile_disc(0.25) WITHIN GROUP (ORDER BY norm_micro)"
                " AS BIGINT)"
            ).alias("norm_p25_micro"),
            F.expr(
                "CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY norm_micro)"
                " AS BIGINT)"
            ).alias("norm_p50_micro"),
            F.expr(
                "CAST(percentile_disc(0.75) WITHIN GROUP (ORDER BY norm_micro)"
                " AS BIGINT)"
            ).alias("norm_p75_micro"),
        )
        .orderBy("label")
    )


NORM_PROFILE_ORACLE = f"""
WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ev
            FROM embeddings),
pts AS (
  SELECT vec_id, label,
         CAST(floor(ev[dim + 1] * 1000000 + 0.5) AS BIGINT) AS xm
  FROM e0 CROSS JOIN (SELECT unnest(range(0, {_PI_DIM})) AS dim) dims
),
norms AS (
  SELECT label,
         CAST(floor(sqrt(CAST(sum(xm * xm) AS DOUBLE)) + 0.5) AS BIGINT)
           AS norm_micro
  FROM pts GROUP BY vec_id, label
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN norm_micro = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero,
       CAST(quantile_disc(norm_micro, 0.25) AS BIGINT) AS norm_p25_micro,
       CAST(quantile_disc(norm_micro, 0.5) AS BIGINT) AS norm_p50_micro,
       CAST(quantile_disc(norm_micro, 0.75) AS BIGINT) AS norm_p75_micro
FROM norms
GROUP BY label
ORDER BY label
"""


QUERIES: dict[str, QuerySpec] = {
    "embedding_norm_profile": QuerySpec(
        "embedding_norm_profile",
        embedding_norm_profile,
        NORM_PROFILE_ORACLE,
        "per-label L2-norm quartiles + zero-vector count (pre-indexing "
        "embedding-store QA; exact-sqrt micro-unit contract)",
    ),
    "embedding_top_pc": QuerySpec(
        "embedding_top_pc",
        embedding_top_pc,
        TOP_PC_ORACLE,
        f"top principal direction of the embedding second moment "
        f"({_PI_ROUNDS} unrolled power-iteration rounds, integer "
        "micro-unit contract)",
    ),
    "embedding_anisotropy": QuerySpec(
        "embedding_anisotropy",
        embedding_anisotropy,
        ANISOTROPY_ORACLE,
        "Rayleigh share of the top direction (embedding-store "
        "anisotropy in ppm; isotropic 64-dim corpus ~ 15625)",
    ),
}
