"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Every top-k entry here is one pipeline, candidate → score → rank
(`_topk`), the partition → local index → prune/verify shape of
distributed top-k (REPOSE, ICDE 2021). A method only decides how
candidates are generated: a query side and a candidate side that
share a join key.

- brute force (`sim_topk_cosine`, its pandas-UDF and int8 twins,
  the Matryoshka prefixes): no key — the broadcast query vectors
  meet every candidate once. The exactness anchor; at 100 TB one
  full scan per query batch.
- LSH (Charikar 2002): 8 deterministic sign-random hyperplanes
  (entries ±1 from md5 parity) hash every vector to an 8-bit
  `bucket`; multi-probe (Lv et al., VLDB 2007) also probes the 8
  buckets at Hamming distance 1.
- IVF (Jégou, Douze & Schmid, TPAMI 2011): the cell of a coarse
  quantizer — fixed seed centroids (nprobe 1 or 2, in memory or
  persisted as centroid-partitioned parquet) or the k-means-trained
  codebook.
- PQ / IVFPQ: product-quantization codes score candidates by
  asymmetric distance (ADC) against a per-query lookup table; the
  top-50 shortlist `cand_id` is the key of an exact refine.

The scorer is a column over the joined row: exact cosine by default,
the pandas UDF, the int8 codes or the integer ADC fold. Ranking is
one `(score desc, cand_id asc)` row_number cut (`_rank_topk`).

Also here: the int8 and PQ encodings, recall reports against the
exact anchor, hybrid lexical+vector retrieval (rerank, RRF, MMR),
embedding near-dup pairs (the fifth dedup modality), SemDeDup,
Lloyd's k-means, and the int8 IVF cell scorers behind
`knn_label_agreement` and `split_leakage_semantic`.

Determinism: dot products are computed with `F.zip_with` +
`F.aggregate` (sequential double fold, fixed order) on the Spark side
and with `list_dot_product` in DuckDB; cosine = dot/sqrt(n1)/sqrt(n2)
with the same expression shape in both engines, rounded to 6 decimals
before ranking, with vec_id tiebreaks — so the top-k frontier is
identical across engines.
"""

from __future__ import annotations

import functools
import math

import pandas as pd  # module-global so stringified pandas_udf type
                     # hints ('pd.Series') resolve under PEP 563

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.functions.core import det_round, det_round_sql
from kafka_flink_streaming_pipeline_spark.operators import shared_cache
from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.sources.batch import load_table

_N_QUERIES = 5  # vec_id < 5 are the query vectors
_TOP_K = 10
_NEAR_DUP_T = 0.4
_N_PLANES = 8


def _dot(a: Column, b: Column) -> Column:
    """Sequential double fold over zip_with products — order-fixed."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vectors(e: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm): every vector with sqrt(dot(v, v)),
    the one place the norm is computed. The pairwise scorer then does
    ONE array fold per pair instead of three, with the same arithmetic
    (dot / sqrt(na) / sqrt(nb)), so oracle values are unchanged."""
    return e.select(
        "vec_id",
        "embedding",
        F.sqrt(_dot(F.col("embedding"), F.col("embedding"))).alias("nrm"),
    )


def _pair_cosine(qv: Column, cv: Column, q_nrm: Column, c_nrm: Column) -> Column:
    return det_round(_dot(qv, cv) / q_nrm / c_nrm, 6)


def _side(v: DataFrame, side: str, *keys: str) -> DataFrame:
    """One side of the candidate join, from a `_vectors`-shaped frame:
    side "q" gives (query_id, *keys, qv, q_nrm), side "c" gives
    (cand_id, *keys, cv, c_nrm)."""
    return v.select(
        F.col("vec_id").alias("query_id" if side == "q" else "cand_id"),
        *keys,
        F.col("embedding").alias(f"{side}v"),
        F.col("nrm").alias(f"{side}_nrm"),
    )


def _queries(v: DataFrame, *keys: str) -> DataFrame:
    """The query side of the fixed query vectors (vec_id < _N_QUERIES)."""
    return _side(v.filter(F.col("vec_id") < _N_QUERIES), "q", *keys)


def _side_cosine() -> Column:
    """Exact cosine of a joined (qv, q_nrm) × (cv, c_nrm) row."""
    return _pair_cosine(F.col("qv"), F.col("cv"), F.col("q_nrm"), F.col("c_nrm"))


def _rank_topk(scored: DataFrame, score: str, k: int = _TOP_K) -> DataFrame:
    """The per-query top-`k` cut: row_number over (`score` desc,
    cand_id asc). The cand_id tiebreak makes the frontier identical in
    both engines."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _topk(
    q: DataFrame,
    c: DataFrame,
    on: str | None = None,
    score: Column | None = None,
    name: str = "cosine",
    k: int = _TOP_K,
) -> DataFrame:
    """Candidate → score → rank: join the query side `q` to the
    candidate side `c` on their shared key `on` (every pair when None),
    drop self-pairs, score each pair as `name` (exact cosine unless
    `score` is given) and keep the top `k` per query:
    (query_id, cand_id, `name`, rank), unordered."""
    pairs = q.crossJoin(c) if on is None else q.join(c, on)
    scored = pairs.filter(F.col("query_id") != F.col("cand_id")).select(
        "query_id", "cand_id", (_side_cosine() if score is None else score).alias(name)
    )
    return _rank_topk(scored, name, k)


# DuckDB: same formula over DOUBLE[] lists (list_dot_product folds in
# list order, matching the Spark-side sequential fold).
_DUCK_COS = (
    "(floor((list_dot_product(q.v, c.v) / sqrt(list_dot_product(q.v, q.v))"
    " / sqrt(list_dot_product(c.v, c.v))) * 1000000.0 + 0.5) / 1000000.0)"
)
_DUCK_EMB = "SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"


# --- brute-force cosine top-k --------------------------------------------


def topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-{_TOP_K} anchor, SESSION-SHARED (r11 verdict
    ask #5): beyond its own registered entry (`sim_topk_cosine`) this
    is the TRUTH side of `sim_ann_recall_report` (5 method compares),
    `sim_int8_topk_agreement`, `sim_matryoshka_recall`, and the MMR
    overlap pytest — the recall report alone was recomputing the
    corpus×queries scan that three other consumers also build. Like
    the PQ code table it is the artifact a production retrieval stack
    materializes once per index rebuild and scores every method
    against. Values are exact ppm multiples (det_round), so the
    parquet round-trip through the disk cache is bit-lossless; the
    ORDER BY is re-applied after the cache read (parquet preserves no
    row order contract)."""
    return _topk_cosine_shared(spark, sf_dir).orderBy("query_id", "rank")


@shared_cache.artifact("shared_exact_topk")
def _topk_cosine_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    return _topk(F.broadcast(_queries(v)), _side(v, "c")).orderBy("query_id", "rank")


TOPK_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {_DUCK_COS} AS cosine
  FROM e q CROSS JOIN e c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


# --- embedding-cosine near-dup pairs (dedup modality #5) ------------------


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    return (
        _side(v, "q")
        .join(_side(v, "c"), F.col("query_id") < F.col("cand_id"))
        .select(
            F.col("query_id").alias("v1"),
            F.col("cand_id").alias("v2"),
            _side_cosine().alias("cosine"),
        )
        .filter(F.col("cosine") >= _NEAR_DUP_T)
        .orderBy("v1", "v2")
    )


NEAR_DUP_ORACLE = f"""
WITH e AS ({_DUCK_EMB})
SELECT q.vec_id AS v1, c.vec_id AS v2, {_DUCK_COS} AS cosine
FROM e q JOIN e c ON q.vec_id < c.vec_id
WHERE {_DUCK_COS} >= {_NEAR_DUP_T}
ORDER BY v1, v2
"""


# --- LSH-bucketed ANN -----------------------------------------------------


def _planes(spark: SparkSession) -> DataFrame:
    """(plane, i, w): ±1 hyperplane entries from md5 parity — fully
    deterministic, reproducible in SQL on any engine."""
    p = spark.range(_N_PLANES).select(F.col("id").cast("int").alias("plane"))
    d = spark.range(64).select(F.col("id").cast("int").alias("i"))
    return p.crossJoin(d).select(
        "plane",
        "i",
        F.when(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("plane").cast("string"), F.lit("_"), F.col("i").cast("string")
                    ).cast("binary")
                ),
                1,
                1,
            )
            <= "7",
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("w"),
    )


def _buckets(e: DataFrame, spark: SparkSession) -> DataFrame:
    """8-bit sign bucket per vector via relational dot products."""
    comp = e.select(
        "vec_id", F.posexplode("embedding").alias("i", "x")
    ).withColumn("x", F.col("x").cast("double"))
    proj = (
        comp.join(F.broadcast(_planes(spark)), "i")
        .groupBy("vec_id", "plane")
        .agg(F.sum(F.col("w") * F.col("x")).alias("proj"))
    )
    return (
        proj.withColumn("bit", F.when(F.col("proj") > 0, "1").otherwise("0"))
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("plane", "bit"))),
                    lambda s: s["bit"],
                ),
                "",
            ).alias("bucket")
        )
    )


def _lsh_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`_vectors` plus each vector's LSH `bucket`."""
    e = load_table(spark, sf_dir, "embeddings")
    return _buckets(e, spark).join(_vectors(e), "vec_id")


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = _lsh_vectors(spark, sf_dir)
    return _topk(_queries(v, "bucket"), _side(v, "c", "bucket"), "bucket").orderBy(
        "query_id", "rank"
    )


ANN_LSH_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
planes AS (
  SELECT p.plane, i.i,
         CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)), 1, 1)
                   <= '7' THEN 1.0 ELSE -1.0 END AS w
  FROM (SELECT unnest(range(0, {_N_PLANES})) AS plane) p
  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
),
comp AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e
),
proj AS (
  SELECT c.vec_id, p.plane, sum(p.w * c.x) AS proj
  FROM comp c JOIN planes p ON c.i = p.i
  GROUP BY c.vec_id, p.plane
),
buckets AS (
  SELECT vec_id,
         string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
  FROM proj GROUP BY vec_id
),
scored AS (
  SELECT bq.vec_id AS query_id, bc.vec_id AS cand_id, {_DUCK_COS} AS cosine
  FROM buckets bq
  JOIN buckets bc ON bq.bucket = bc.bucket AND bq.vec_id <> bc.vec_id
  JOIN e q ON q.vec_id = bq.vec_id
  JOIN e c ON c.vec_id = bc.vec_id
  WHERE bq.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


_PROBE_EXPR = f"""
CASE WHEN j = 0 THEN bucket
     ELSE concat(substring(bucket, 1, j - 1),
                 CASE WHEN substring(bucket, j, 1) = '1' THEN '0' ELSE '1' END,
                 substring(bucket, j + 1, {_N_PLANES}))
END
"""


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: each query also probes the 8 buckets at Hamming
    distance 1 (one sign bit flipped).

    The standard recall repair for sign-random-projection LSH (Lv et
    al., "Multi-probe LSH", VLDB 2007): a near neighbor that landed
    just across ONE hyperplane is recovered without adding hash tables.
    Cost shape mirrors IVF nprobe: the probe explosion multiplies only
    the tiny query side (×9 here); the corpus bucket table is built and
    scanned once. At 100 TB that is the difference between re-hashing
    the corpus into more tables and replicating a handful of query
    rows."""
    v = _lsh_vectors(spark, sf_dir)
    probes = (
        v.filter(F.col("vec_id") < _N_QUERIES)
        .withColumn("j", F.explode(F.sequence(F.lit(0), F.lit(_N_PLANES))))
        .withColumn("bucket", F.expr(_PROBE_EXPR))
    )
    return _topk(
        _side(probes, "q", "bucket"), _side(v, "c", "bucket"), "bucket"
    ).orderBy("query_id", "rank")


ANN_LSH_MULTIPROBE_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
planes AS (
  SELECT p.plane, i.i,
         CASE WHEN substr(md5(CAST(p.plane AS VARCHAR) || '_' || CAST(i.i AS VARCHAR)), 1, 1)
                   <= '7' THEN 1.0 ELSE -1.0 END AS w
  FROM (SELECT unnest(range(0, {_N_PLANES})) AS plane) p
  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
),
comp AS (
  SELECT vec_id, generate_subscripts(v, 1) - 1 AS i, unnest(v) AS x FROM e
),
proj AS (
  SELECT c.vec_id, p.plane, sum(p.w * c.x) AS proj
  FROM comp c JOIN planes p ON c.i = p.i
  GROUP BY c.vec_id, p.plane
),
buckets AS (
  SELECT vec_id,
         string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY plane) AS bucket
  FROM proj GROUP BY vec_id
),
probes AS (
  SELECT vec_id,
         CASE WHEN j = 0 THEN bucket
              ELSE substr(bucket, 1, CAST(j - 1 AS INT)) ||
                   (CASE WHEN substr(bucket, CAST(j AS INT), 1) = '1'
                         THEN '0' ELSE '1' END) ||
                   substr(bucket, CAST(j + 1 AS INT), {_N_PLANES})
         END AS probe
  FROM buckets, (SELECT unnest(range(0, {_N_PLANES + 1})) AS j) js
  WHERE vec_id < {_N_QUERIES}
),
scored AS (
  SELECT bq.vec_id AS query_id, bc.vec_id AS cand_id, {_DUCK_COS} AS cosine
  FROM probes bq
  JOIN buckets bc ON bq.probe = bc.bucket AND bq.vec_id <> bc.vec_id
  JOIN e q ON q.vec_id = bq.vec_id
  JOIN e c ON c.vec_id = bc.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


# --- brute-force top-k, Arrow-vectorized variant --------------------------


def make_cosine_pandas_udf():
    """Arrow-batched cosine scorer: vectorized across ROWS with numpy,
    but accumulated dimension-by-dimension IN ORDER so every pair's
    float64 addition sequence is identical to the JVM-side sequential
    `F.aggregate` fold (and DuckDB's list_dot_product) — bit-equal
    results, which blind np.dot (pairwise/SIMD summation) would not
    guarantee at the rounding frontier. Factory-built closure so
    cloudpickle ships it by value."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def cos(qv: pd.Series, cv: pd.Series, qn: pd.Series, cn: pd.Series) -> pd.Series:
        import numpy as np

        a = np.stack(qv.to_numpy()).astype("float64")
        b = np.stack(cv.to_numpy()).astype("float64")
        acc = np.zeros(len(a))
        for i in range(a.shape[1]):
            acc = acc + a[:, i] * b[:, i]
        return pd.Series(acc / qn.to_numpy() / cn.to_numpy())

    return cos


def topk_cosine_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same query as `topk_cosine`, scored through the Arrow/pandas
    path — the shape to reach for when the per-pair math outgrows
    Catalyst expressions (learned metrics, quantized dot products)."""
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    cos_udf = make_cosine_pandas_udf()
    score = det_round(cos_udf(F.col("qv"), F.col("cv"), F.col("q_nrm"), F.col("c_nrm")), 6)
    return _topk(F.broadcast(_queries(v)), _side(v, "c"), score=score).orderBy(
        "query_id", "rank"
    )


# --- IVF-bucketed ANN -----------------------------------------------------

_IVF_K = 8  # coarse-quantizer cells; centroids = vec_ids [_N_QUERIES, _N_QUERIES+K)


def _ivf_assign(
    with_norm: DataFrame,
    nprobe: int = 1,
    k: int = _IVF_K,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, centroid_id): the `nprobe` nearest of `k` seed
    centroids by cosine — nprobe=1 is cell MEMBERSHIP (each vector
    lives in one cell); nprobe>1 is the query-side PROBE LIST.
    `with_norm` is a `_vectors` frame; the seed rows are read from
    `seeds` (same columns, e.g. the persisted index), by default from
    `with_norm` itself.

    The coarse quantizer uses K fixed seed vectors as centroids
    (training-free IVF — at 100 TB you'd k-means a sample, but the
    assign/probe dataflow is identical and the seeds keep the operator
    deterministic and oracle-checkable). Assignment is a broadcast
    cross-score + per-vector argmax: one pass over the corpus, no
    shuffle of the vectors themselves. K is the cost knob for every
    downstream within-cell stage (candidates ∝ N²/K): size it with
    the corpus (K ≈ N / target_cell_size), not as a constant."""
    cents = F.broadcast(
        (with_norm if seeds is None else seeds).filter(
            (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + k)
        ).select(
            F.col("vec_id").alias("centroid_id"),
            F.col("embedding").alias("cent"),
            F.col("nrm").alias("cent_nrm"),
        )
    )
    scored = with_norm.crossJoin(cents).select(
        "vec_id",
        "centroid_id",
        _pair_cosine(F.col("embedding"), F.col("cent"), F.col("nrm"), F.col("cent_nrm")).alias(
            "ccos"
        ),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select("vec_id", "centroid_id")
    )


def _ivf_cells(v: DataFrame, nprobe: int) -> tuple[DataFrame, DataFrame]:
    """IVF candidate generation over a `_vectors` frame: (probes,
    members), both (vec_id, centroid_id) — each query's `nprobe`
    nearest cells and every vector's one cell. A (query, candidate)
    pair is scored when they share a centroid_id, so the probe
    expansion multiplies only the tiny query side."""
    members = _ivf_assign(v)
    probes = members if nprobe == 1 else _ivf_assign(v, nprobe=nprobe)
    return probes.filter(F.col("vec_id") < _N_QUERIES), members


def _ivf_topk(spark: SparkSession, sf_dir: str, nprobe: int) -> DataFrame:
    """IVF top-k: each query scores only the members of its `nprobe`
    nearest cells."""
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    probes, members = _ivf_cells(v, nprobe)
    return _topk(
        _side(probes.join(v, "vec_id"), "q", "centroid_id"),
        _side(members.join(v, "vec_id"), "c", "centroid_id"),
        "centroid_id",
    ).orderBy("query_id", "rank")


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=1: queries score only their own cell — the
    inverted-file scale path (cells partition the corpus; each query
    touches |corpus|/K candidates instead of all of them)."""
    return _ivf_topk(spark, sf_dir, 1)


# --- persisted IVF index (inverted file on disk) ---------------------------

def build_ann_index(embeddings: DataFrame, index_path: str) -> None:
    """Write the IVF inverted file: every vector stored WITH its norm,
    as parquet PARTITIONED BY centroid_id — the embedding-side analogue
    of `dedup.build_dedup_index` (the persisted minhash-LSH index).

    The partition layout IS the index: a probe for cells {c1..cp} is a
    parquet scan with `PartitionFilters: [centroid_id IN (c1..cp)]`,
    so it reads nprobe/K of the corpus from disk and shuffles nothing
    (asserted by `test_persisted_ann_probe_prunes_partitions`). At
    100 TB this is the difference between an ANN lookup and a table
    scan; cell files are also contiguous, so each probe is a handful of
    sequential reads."""
    v = _vectors(embeddings)
    (
        _ivf_assign(v)
        .join(v, "vec_id")
        .repartition("centroid_id")  # one writer task per cell
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(index_path)
    )


def probe_ann_index(
    spark: SparkSession,
    index_path: str,
    queries: DataFrame,
    nprobe: int = 1,
    top_k: int = _TOP_K,
) -> DataFrame:
    """Answer a query batch against an on-disk IVF index: (query_id,
    embedding) → top-k (query_id, cand_id, cosine, rank).

    The index is self-contained — the K seed centroids are index
    members (vec_id in the seed range), so the probe needs NOTHING but
    the index path and the query batch. Flow: broadcast the K centroid
    rows, assign each query its `nprobe` cells, collect the distinct
    probed cells (|queries| × nprobe ids — the probe list is always
    tiny relative to the corpus), then scan ONLY those parquet
    partitions (PartitionFilters, asserted in tests) and rank within
    them. Works identically from the batch query entry and from each
    foreachBatch of the streaming probe job."""
    idx = spark.read.parquet(index_path)
    qv = _vectors(queries.select(F.col("query_id").alias("vec_id"), "embedding"))
    probes = _ivf_assign(qv, nprobe=nprobe, seeds=idx).join(qv, "vec_id")
    cells = [r.centroid_id for r in probes.select("centroid_id").distinct().collect()]
    return _topk(
        _side(probes, "q", "centroid_id"),
        _side(idx.filter(F.col("centroid_id").isin(cells)), "c", "centroid_id"),
        "centroid_id",
        k=top_k,
    )


@shared_cache.artifact("shared_ann_index", kind="path")
def ann_index_path(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The on-disk IVF index for a testdata dir, written once per
    session (the production lifecycle: the inverted file is WRITTEN
    once, probed forever). Builds into `path`; the declared accessor
    `ann_index_path(spark, sf_dir)` returns the published directory."""
    build_ann_index(load_table(spark, sf_dir, "embeddings"), path)


def ann_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sim_ann_ivf` THROUGH the on-disk inverted file: build the index
    once per session (`build_ann_index`), probe via `probe_ann_index`.
    Output is bit-identical to the in-memory `ann_ivf` (same oracle) —
    the parquet round-trip preserves every float exactly."""
    path = ann_index_path(spark, sf_dir)
    queries = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    return probe_ann_index(spark, path, queries).orderBy("query_id", "rank")


_DUCK_CENT_COS = (
    "(floor((list_dot_product(a.v, k.v) / sqrt(list_dot_product(a.v, a.v))"
    " / sqrt(list_dot_product(k.v, k.v))) * 1000000.0 + 0.5) / 1000000.0)"
)

ANN_IVF_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
cents AS (
  SELECT vec_id AS centroid_id, v FROM e
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}
),
assign_scored AS (
  SELECT a.vec_id, k.centroid_id, {_DUCK_CENT_COS} AS ccos
  FROM e a CROSS JOIN (SELECT centroid_id, v FROM cents) k
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
scored AS (
  SELECT aq.vec_id AS query_id, ac.vec_id AS cand_id, {_DUCK_COS} AS cosine
  FROM assigned aq
  JOIN assigned ac ON aq.centroid_id = ac.centroid_id AND aq.vec_id <> ac.vec_id
  JOIN e q ON q.vec_id = aq.vec_id
  JOIN e c ON c.vec_id = ac.vec_id
  WHERE aq.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


_NPROBE = 2


def ann_ivf_nprobe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2: each query scores its two nearest cells.

    The recall/cost knob every IVF deployment tunes — nprobe/K of the
    corpus is touched per query (2/8 here vs 1/8 for `sim_ann_ivf`),
    recovering neighbors that fell just across a cell boundary.
    Candidates still live in exactly one cell, so the probe expansion
    duplicates only the tiny query side of the join — the candidate
    stream is scanned once regardless of nprobe."""
    return _ivf_topk(spark, sf_dir, _NPROBE)


ANN_IVF_NPROBE2_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
cents AS (
  SELECT vec_id AS centroid_id, v FROM e
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}
),
assign_scored AS (
  SELECT a.vec_id, k.centroid_id, {_DUCK_CENT_COS} AS ccos
  FROM e a CROSS JOIN (SELECT centroid_id, v FROM cents) k
),
ranked_assign AS (
  SELECT *, row_number() OVER (PARTITION BY vec_id
                               ORDER BY ccos DESC, centroid_id ASC) AS rn
  FROM assign_scored
),
membership AS (SELECT vec_id, centroid_id FROM ranked_assign WHERE rn = 1),
probes AS (SELECT vec_id, centroid_id FROM ranked_assign WHERE rn <= {_NPROBE}),
scored AS (
  SELECT aq.vec_id AS query_id, ac.vec_id AS cand_id, {_DUCK_COS} AS cosine
  FROM probes aq
  JOIN membership ac ON aq.centroid_id = ac.centroid_id AND aq.vec_id <> ac.vec_id
  JOIN e q ON q.vec_id = aq.vec_id
  JOIN e c ON c.vec_id = ac.vec_id
  WHERE aq.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


# --- product quantization (Jégou/Douze/Schmid TPAMI'11) -------------------
#
# The production memory lever past int8: each L2-normalized vector is
# split into M subvectors, each encoded as the id of its nearest
# codebook anchor — 64 dims × 4 B shrink to M=8 single-byte codes
# (32× vs float32). Search is asymmetric distance computation (ADC):
# the query precomputes one M×K lookup table of subvector dot products
# and every candidate's score is the sum of M table entries — no
# candidate vector is ever decoded. Relationally: the code table is
# (vec_id, m, code) skinny rows, the LUT is a broadcast-sized frame,
# and scoring is one broadcast join + an integer-sum aggregation.
#
# Determinism discipline: codebooks are FIXED seed vectors (the same
# device as the IVF coarse quantizer — vec_ids right after the query
# block), not trained k-means, so both engines derive identical
# codebooks from the data alone; assignment distances and LUT entries
# are floor-rounded to integer micro-units BEFORE any comparison or
# sum, so argmin ties and the ADC total are exact integer arithmetic —
# order-independent and hash-stable on any engine.

_PQ_M = 8  # subspaces (embedding dim 64 → 8 dims per subspace)
_PQ_D = 8
_PQ_K = 16  # codebook anchors per subspace: vec_ids [_N_QUERIES, _N_QUERIES+16)


def _pq_normalized(e: DataFrame) -> DataFrame:
    """(vec_id, v): L2-normalized double vectors — PQ for cosine search
    encodes normalized vectors, so ADC dot ≈ cosine directly."""
    v0 = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", v0.alias("v0"), F.sqrt(_dot(v0, v0)).alias("nrm"))
    return d.filter(F.col("nrm") > 0).select(
        "vec_id", F.transform("v0", lambda x: x / F.col("nrm")).alias("v")
    )


def _pq_subvecs(df: DataFrame) -> DataFrame:
    """(vec_id, m, sv): the M per-subspace slices of each vector."""
    ms = F.sequence(F.lit(0), F.lit(_PQ_M - 1))
    return df.select("vec_id", F.explode(ms).alias("m"), "v").select(
        "vec_id", "m", F.slice("v", F.col("m") * _PQ_D + 1, _PQ_D).alias("sv")
    )


def _pq_anchors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(m, anchor_id, av): the fixed-seed codebook, per subspace."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = _pq_normalized(e).filter(
        (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + _PQ_K)
    )
    return _pq_subvecs(seeds).select(
        F.col("vec_id").alias("anchor_id"), "m", F.col("sv").alias("av")
    )


@shared_cache.artifact("shared_pq_codes")
def _pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, m, code): every vector's per-subspace nearest anchor —
    SESSION-SHARED like the dedup pair graphs (`shared_cache`): the
    encode is the one-time index build a production DAG persists once
    per corpus snapshot (exactly like the on-disk IVF file), and both
    the codes entry and the ADC search compose it. bench.py times the
    build as its own `shared_pq_codes` entry. The encode: N×M×K
    assignment rows stream through one (vec_id, m)-partitioned rank
    window — 16 rows per partition, shuffle payload is 3 ints + one
    nano-unit distance."""
    e = load_table(spark, sf_dir, "embeddings")
    sub = _pq_subvecs(_pq_normalized(e))
    a = _pq_anchors(spark, sf_dir)
    # squared L2 via three sequential-fold dots (bit-identical per
    # engine), floored to nano-units before ANY comparison
    dist = _dot(F.col("sv"), F.col("sv")) - 2 * _dot(F.col("sv"), F.col("av")) + _dot(
        F.col("av"), F.col("av")
    )
    w = Window.partitionBy("vec_id", "m").orderBy("dist_nano", "anchor_id")
    return (
        sub.join(F.broadcast(a), "m")
        .select(
            "vec_id",
            "m",
            "anchor_id",
            F.floor(dist * F.lit(1_000_000_000.0) + F.lit(0.5)).cast("long").alias(
                "dist_nano"
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "m", F.col("anchor_id").alias("code"))
    )


@shared_cache.artifact("shared_pq_codes_packed")
def _pq_codes_packed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, codes): the PACKED index layout — one row per vector,
    codes as an M-element array of LOCAL anchor indices (0..K-1) in
    subspace order. This, not the skinny (vec_id, m, code) long form,
    is what "M bytes per vector" means physically: the 100× probe
    showed the skinny ADC join+groupBy scanning M× the rows and losing
    to the 64-dim linear scan it exists to replace; with the packed
    layout ADC is one map-side projection (8 array lookups into the
    broadcast LUT per vector) and the only shuffle left is the top-k.
    Derived from the session-shared skinny codes (one groupBy,
    amortized across every ADC consumer) and session-shared itself."""
    return (
        _pq_codes(spark, sf_dir)
        .groupBy("vec_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "code"))),
                lambda s: (s.code - _N_QUERIES).cast("int"),
            ).alias("codes")
        )
    )


def _pq_query_luts(spark: SparkSession, sf_dir: str, is_query: Column) -> DataFrame:
    """(query_id, lut): the ADC lookup table of every vector selected
    by `is_query` — its M×K subvector · anchor dot products, floored to
    integer micro-units so each ADC score is an exact integer sum, as
    one `_pq_query_lut_arrays` array per query."""
    e = load_table(spark, sf_dir, "embeddings")
    qsub = _pq_subvecs(_pq_normalized(e).filter(is_query)).select(
        F.col("vec_id").alias("query_id"), "m", F.col("sv").alias("qv")
    )
    lut = qsub.join(_pq_anchors(spark, sf_dir), "m").select(
        "query_id",
        "m",
        "anchor_id",
        F.floor(_dot(F.col("qv"), F.col("av")) * F.lit(1_000_000.0) + F.lit(0.5))
        .cast("long")
        .alias("dot_micro"),
    )
    return _pq_query_lut_arrays(lut)


def _pq_query_lut_arrays(lut: DataFrame) -> DataFrame:
    """Fold a skinny per-query LUT (query_id, m, anchor_id, dot_micro)
    into one M·K-element array per query, indexed m·K + local_code —
    the broadcast side of the packed-ADC projection."""
    return lut.groupBy("query_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (F.col("m") * _PQ_K + F.col("anchor_id") - _N_QUERIES)
                        .cast("int")
                        .alias("idx"),
                        F.col("dot_micro").alias("v"),
                    )
                )
            ),
            lambda s: s.v,
        ).alias("lut")
    )


def _adc_micro() -> Column:
    """The ADC score of a joined (codes, lut) row: one exact-integer
    fold of M lookups into the query's LUT array — identical sums to
    the skinny join+groupBy formulation (same ints, same adds), so
    every oracle stays valid."""
    return F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(_PQ_M - 1)),
            lambda c, m: F.element_at(F.col("lut"), m * _PQ_K + c + 1),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _packed_adc_scores(packed: DataFrame, lut_arrays: DataFrame) -> DataFrame:
    """(query_id, vec_id, adc_micro) via the packed layout: broadcast
    the per-query LUT arrays, one `_adc_micro` fold per (vec, query)."""
    return (
        packed.crossJoin(F.broadcast(lut_arrays))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", _adc_micro().alias("adc_micro"))
    )


def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted PQ index artifact, one row per vector: codes
    comma-joined in subspace order (array cells are unhashable in the
    driver's canonicalizer — same portable contract as `qvec`)."""
    return (
        _pq_codes(spark, sf_dir)
        .groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("m", "code"))),
                    lambda s: s.code.cast("string"),
                ),
                ",",
            ).alias("codes")
        )
    )  # unsorted: one row per vector — corpus-sized at scale


_PQ_SHORTLIST = 50  # ADC shortlist width fed to the exact refine stage


def _adc_shortlist_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, cand_id): the width-{_PQ_SHORTLIST} per-query PQ-ADC
    shortlist — broadcast query LUT, packed-code integer fold, rank
    window with cand_id tiebreak. Shared by `topk_cosine_pq` (exact
    refine consumer) and `hybrid_retrieval_mmr_ann` (greedy-MMR
    consumer) so the shortlist definition cannot drift between them;
    `hybrid_retrieval_rrf_ann` keeps its own single-query
    (vec_id == 0) TakeOrdered variant of the same stages."""
    scored = _packed_adc_scores(
        _pq_codes_packed(spark, sf_dir),
        _pq_query_luts(spark, sf_dir, F.col("vec_id") < _N_QUERIES),
    ).withColumnRenamed("vec_id", "cand_id")
    return _rank_topk(scored, "adc_micro", _PQ_SHORTLIST).select("query_id", "cand_id")


def _refine(v: DataFrame, shortlist: DataFrame) -> DataFrame:
    """Exact refine of a (query_id, cand_id) shortlist: only the
    shortlisted candidates are decoded (a key-lookup join into the
    full-precision `_vectors` store, never a corpus scan), keyed by
    query_id against the broadcast query vectors, and re-ranked to the
    exact-cosine top-{_TOP_K}."""
    c = shortlist.select("query_id", "cand_id").join(_side(v, "c"), "cand_id")
    return _topk(F.broadcast(_queries(v)), c, "query_id").orderBy("query_id", "rank")


#: the shortlist's DuckDB twin (lut → adc → ``adc_shortlist``) —
#: composes after `_PQ_SUB_SQL`; shared by TOPK_PQ_ORACLE and
#: `_mmr_ann_oracle` exactly as `_adc_shortlist_ids` is Spark-side
_PQ_ADC_SL_SQL = f"""lut AS (
  SELECT s.vec_id AS query_id, s.m, a.anchor_id,
         CAST(floor(list_dot_product(s.sv, a.av) * 1000000.0 + 0.5) AS BIGINT)
           AS dot_micro
  FROM sub s JOIN anch a USING (m)
  WHERE s.vec_id < {_N_QUERIES}
),
adc AS (
  SELECT l.query_id, c.vec_id AS cand_id,
         CAST(sum(l.dot_micro) AS BIGINT) AS adc_micro
  FROM codes c JOIN lut l ON l.m = c.m AND l.anchor_id = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY l.query_id, c.vec_id
),
adc_shortlist AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_micro DESC, cand_id ASC) AS rn
    FROM adc
  ) WHERE rn <= {_PQ_SHORTLIST}
)"""


def topk_cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC shortlist + exact refine (the FAISS IVFPQ+refine shape):
    the query's M×K dot-product LUT (micro-unit BIGINTs)
    broadcast-joins the code table on (m, code), each candidate's ADC
    score is an exact integer sum of M entries, the top
    {_PQ_SHORTLIST} per query form the shortlist, and ONLY those rows
    join back to the embedding store for an exact cosine rerank to
    top-k.

    Pure ADC cannot be the final ranker: every member of a tight
    cluster shares the same code vector, so within-cluster order is
    pure tiebreak (measured recall ~0.14 on the clustered testbed).
    With the refine stage the decode cost is {_PQ_SHORTLIST} vectors
    per query while the SCAN side stays the M-byte-per-vector code
    table — at 100 TB the full-precision store is touched only by a
    key-lookup join on the shortlist. The ADC stage runs over the
    PACKED code layout (`_pq_codes_packed`): one map-side fold of 8
    broadcast-LUT lookups per (vector, query), no join rows, no
    groupBy — the 100× probe showed the skinny (vec, m) join+groupBy
    formulation scanning M× the rows and losing to the linear scan it
    replaces; the packed sums are the identical integers, so the
    oracle is unchanged."""
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    return _refine(v, _adc_shortlist_ids(spark, sf_dir))


_PQ_SUB_SQL = f"""
e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v0 FROM embeddings),
ne AS (
  SELECT vec_id, list_transform(v0, x -> x / nrm) AS v
  FROM (SELECT vec_id, v0, sqrt(list_dot_product(v0, v0)) AS nrm FROM e0)
  WHERE nrm > 0
),
sub AS (
  SELECT vec_id, m, v[m * {_PQ_D} + 1 : m * {_PQ_D} + {_PQ_D}] AS sv
  FROM ne CROSS JOIN (SELECT unnest(range(0, {_PQ_M})) AS m) ms
),
anch AS (
  SELECT vec_id AS anchor_id, m, sv AS av FROM sub
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _PQ_K}
),
assign AS (
  SELECT s.vec_id, s.m, a.anchor_id,
         CAST(floor((list_dot_product(s.sv, s.sv)
                     - 2 * list_dot_product(s.sv, a.av)
                     + list_dot_product(a.av, a.av)) * 1000000000.0 + 0.5)
              AS BIGINT) AS dist_nano
  FROM sub s JOIN anch a USING (m)
),
codes AS (
  SELECT vec_id, m, anchor_id AS code FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY dist_nano, anchor_id) AS rn
    FROM assign
  ) WHERE rn = 1
)
"""

PQ_CODES_ORACLE = f"""
WITH
{_PQ_SUB_SQL}
SELECT vec_id, string_agg(code, ',' ORDER BY m) AS codes
FROM codes
GROUP BY vec_id
"""

TOPK_PQ_ORACLE = f"""
WITH
{_PQ_SUB_SQL},
{_PQ_ADC_SL_SQL},
e AS ({_DUCK_EMB}),
refined AS (
  SELECT s.query_id, s.cand_id, {_DUCK_COS} AS cosine
  FROM adc_shortlist s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e c ON c.vec_id = s.cand_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM refined
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


# --- int8 quantization (the 4x memory lever for embedding stores) ---------


def quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|x| / 127,
    q_i = trunc(x_i / scale). Truncation (not rounding) is used because
    Spark's int cast truncates while SQL round() ties differ across
    engines — and for storage quantization the 0.5-ulp difference is
    immaterial. Output stays relational (array<int> + scale column), so
    the quantized table drops straight into the same ANN plans at a
    quarter of the shuffle width.

    The registry entry emits `qvec` comma-joined as a string: array
    cells are unhashable in a pandas-based result canonicalizer (the
    driver's), so the portable contract is the joined form. A pipeline
    materializing the quantized store keeps the typed array<int> (drop
    the array_join)."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    scale = (amax / F.lit(127.0)).alias("scale")
    q = F.transform(v, lambda x: (x / (amax / F.lit(127.0))).cast("int"))
    qjoined = F.array_join(F.transform(q, lambda x: x.cast("string")), ",").alias("qvec")
    return e.select("vec_id", scale, qjoined).filter(F.col("scale") > 0)
    # unsorted: one row per vector — corpus-sized at scale


QUANTIZE_ORACLE = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
s AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
  FROM e
)
SELECT vec_id, scale,
       array_to_string(
         list_transform(v, x -> CAST(CAST(trunc(x / scale) AS INT) AS VARCHAR)),
         ',') AS qvec
FROM s
WHERE scale > 0
"""


# --- asymmetric int8 scoring (ADC over the quantized store) ---------------


def topk_cosine_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric top-k over the int8-quantized store (the ADC pattern
    from the IVF/PQ literature): full-precision query vectors score
    against int8 candidate codes. The per-vector scale CANCELS out of
    cosine — cos(q, dequant(c)) = dot(q, c8) / (‖q‖ · sqrt(dot(c8, c8)))
    — so scoring never dequantizes: the candidate side of the shuffle
    is a quarter the bytes of the float store with zero extra work at
    scoring time. Candidate codes are exact integers, so cross-engine
    determinism is strictly better than the float path."""
    e = load_table(spark, sf_dir, "embeddings")
    # the int8 codes stand in for the candidate vectors: same cosine
    # expression, dot(q, c8) / ‖q‖ / sqrt(dot(c8, c8))
    codes = _int8_scoring_codes(e).select(
        "vec_id", F.col("c8").alias("embedding"), F.col("nrm8").alias("nrm")
    )
    return _topk(
        F.broadcast(_queries(_vectors(e))), _side(codes, "c"), name="cosine8"
    ).orderBy("query_id", "rank")


TOPK_INT8_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
s AS (
  SELECT vec_id, v,
         list_aggregate(list_transform(v, x -> abs(x)), 'max') / 127.0 AS scale
  FROM e
),
qz AS (
  SELECT vec_id, list_transform(v, x -> CAST(CAST(trunc(x / scale) AS INT) AS DOUBLE)) AS c8
  FROM s WHERE scale > 0
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         (floor((list_dot_product(q.v, c.c8) / sqrt(list_dot_product(q.v, q.v)) / sqrt(list_dot_product(c.c8, c.c8))) * 1000000.0 + 0.5) / 1000000.0) AS cosine8
  FROM e q CROSS JOIN qz c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine8 DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine8, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


def int8_topk_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization QA for the int8 scoring layout: per query, how many
    of the float-exact top-{_TOP_K} neighbors survive in the int8-ADC
    top-{_TOP_K} (overlap count + integer ppm). This is the measured
    justification for serving ANN from int8 codes (and for
    `knn_label_agreement`'s symmetric-int8 move): if quantization
    reordered the neighborhood, it shows up HERE, per query, before
    anything downstream trusts the quarter-width store. Composes the
    two registered rankings (`sim_topk_cosine`, `sim_topk_cosine_int8`)
    unchanged, so this report can never drift from what those entries
    actually serve. Cost: both sides are 5-query×corpus scans (the
    fixed-query ANN shape — linear, broadcast queries, no extra
    shuffle beyond the two rankings)."""
    f = topk_cosine(spark, sf_dir).select("query_id", "cand_id")
    i8 = topk_cosine_int8(spark, sf_dir).select("query_id", "cand_id")
    matches = (
        f.join(i8, ["query_id", "cand_id"])
        .groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    return (
        f.groupBy("query_id")
        .agg(F.count("*").cast("bigint").alias("k"))
        .join(matches, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("bigint").alias("n_common"),
            F.expr(
                "CAST(coalesce(n_common, 0) * 1000000 DIV k AS BIGINT)"
            ).alias("overlap_ppm"),
        )
        .orderBy("query_id")
    )


INT8_TOPK_AGREEMENT_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
fscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {_DUCK_COS} AS cosine
  FROM e q CROSS JOIN e c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
),
franked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM fscored
),
ftop AS (SELECT query_id, cand_id FROM franked WHERE rank <= {_TOP_K}),
qz AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(CAST(trunc(x / (amax / 127.0)) AS INT)
                                     AS DOUBLE)) AS c8
  FROM (SELECT vec_id, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
        FROM e)
  WHERE amax > 0
),
iscored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
         (floor((list_dot_product(q.v, c.c8)
                 / sqrt(list_dot_product(q.v, q.v))
                 / sqrt(list_dot_product(c.c8, c.c8))) * 1000000.0 + 0.5)
          / 1000000.0) AS cosine8
  FROM e q CROSS JOIN qz c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
),
iranked AS (
  SELECT query_id, cand_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine8 DESC, cand_id ASC) AS rank
  FROM iscored
),
itop AS (SELECT query_id, cand_id FROM iranked WHERE rank <= {_TOP_K}),
m AS (
  SELECT f.query_id, count(*) AS n_common
  FROM ftop f JOIN itop i ON i.query_id = f.query_id AND i.cand_id = f.cand_id
  GROUP BY f.query_id
),
base AS (SELECT query_id, count(*) AS k FROM ftop GROUP BY query_id)
SELECT b.query_id,
       CAST(coalesce(m.n_common, 0) AS BIGINT) AS n_common,
       CAST(coalesce(m.n_common, 0) * 1000000 // b.k AS BIGINT) AS overlap_ppm
FROM base b LEFT JOIN m USING (query_id)
ORDER BY query_id
"""


# --- hybrid two-stage retrieval (lexical recall → vector rerank) -----------

_HYBRID_RECALL = 50
_HYBRID_K = 10


def hybrid_retrieval_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG-standard hybrid retriever: BM25 lexical recall (top-50
    candidates out of `operators/text.py bm25_scores` — the term-filtered
    tf shuffle, nothing corpus-sized moves) followed by an exact
    embedding-cosine rerank of ONLY those candidates against the query
    vector (vec_id 0, a 1-row broadcast; vec_id ≡ doc_id in the
    testdata). The candidate set bounds the vector scoring to k' rows,
    so rerank cost is independent of corpus size — the composition that
    makes exact cosine affordable at 100 TB: recall cheap and wide,
    precision expensive and narrow."""
    from kafka_flink_streaming_pipeline_spark.operators.text import bm25_scores

    cands = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_HYBRID_RECALL)
    )
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    cv = _side(v, "c")
    return (
        cands.join(cv, cands["doc_id"] == cv["cand_id"])
        .crossJoin(F.broadcast(_query0(v)))
        .select("doc_id", "bm25", _side_cosine().alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(_HYBRID_K)
    )


def _query0(v: DataFrame) -> DataFrame:
    """(qv, q_nrm): the hybrid retrievers' single query, vec_id 0."""
    return _side(v.filter(F.col("vec_id") == 0), "q").select("qv", "q_nrm")


def _hybrid_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.operators.text import BM25_SCORES_SQL

    return f"""
WITH cand AS (
  SELECT * FROM ({BM25_SCORES_SQL}) ORDER BY bm25 DESC, doc_id LIMIT {_HYBRID_RECALL}
),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v FROM e WHERE vec_id = 0)
SELECT c.doc_id, c.bm25,
       (floor((list_dot_product(q.v, ce.v) / sqrt(list_dot_product(q.v, q.v)) / sqrt(list_dot_product(ce.v, ce.v))) * 1000000.0 + 0.5) / 1000000.0) AS cosine
FROM cand c
JOIN e ce ON ce.vec_id = c.doc_id
CROSS JOIN q
ORDER BY cosine DESC, c.doc_id
LIMIT {_HYBRID_K}
"""


def hybrid_retrieval_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion — the OTHER standard hybrid-search
    combiner (vs `hybrid_retrieval_rerank`'s cascade): BM25 top-50 and
    exact-cosine top-50 are retrieved INDEPENDENTLY, then fused by
    score = Σ 1/(60+rank) over the lists each doc appears in (the
    Cormack/Clarke/Buettcher k=60 constant). RRF needs no score
    calibration between retrievers — only ranks — which is why it wins
    when lexical and vector scores live on incomparable scales.

    Hash contract: the OUTPUT is all-integer (fused_rank, doc_id,
    r_bm25, r_cosine; absent-from-list ranks are NULL). The float RRF
    score exists only as an ordering key and is computed as the same
    two-term IEEE sum in fixed written order in both engines, with
    doc_id breaking exact ties — deterministic without ever hashing a
    double. Scale shape: each list is TakeOrdered (distributed top-50)
    and only the two 50-row lists meet in the fusion join; the final
    window runs over ≤100 rows."""
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    cos = (
        _side(v, "c")
        .crossJoin(F.broadcast(_query0(v)))
        .select(F.col("cand_id").alias("doc_id"), _side_cosine().alias("cosine"))
        .orderBy(F.desc("cosine"), "doc_id")
        .limit(_HYBRID_RECALL)
    )
    return _rrf_fuse(spark, sf_dir, cos)


def _rrf_fuse(spark: SparkSession, sf_dir: str, cos: DataFrame) -> DataFrame:
    """Fuse the BM25 top-{_HYBRID_RECALL} arm with a vector arm `cos`
    (doc_id, cosine) by reciprocal rank: (fused_rank, doc_id, r_bm25,
    r_cosine), top-{_HYBRID_K}."""
    from kafka_flink_streaming_pipeline_spark.operators.text import bm25_scores

    bm = (
        bm25_scores(spark, sf_dir)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_HYBRID_RECALL)
    )
    r_b = bm.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("bigint")
        .alias("r_bm25"),
    )
    r_c = cos.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "doc_id"))
        .cast("bigint")
        .alias("r_cosine"),
    )
    score = F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("r_bm25")), F.lit(0.0)) + (
        F.coalesce(F.lit(1.0) / (F.lit(60.0) + F.col("r_cosine")), F.lit(0.0))
    )
    fused = r_b.join(r_c, "doc_id", "full_outer").select(
        "doc_id", "r_bm25", "r_cosine", score.alias("rrf")
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(_HYBRID_K)
        .select(
            F.row_number()
            .over(Window.orderBy(F.desc("rrf"), "doc_id"))
            .cast("bigint")
            .alias("fused_rank"),
            "doc_id",
            "r_bm25",
            "r_cosine",
        )
    )


def _rrf_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.operators.text import BM25_SCORES_SQL

    return f"""
WITH bm AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS r_bm25
  FROM (SELECT * FROM ({BM25_SCORES_SQL})
        ORDER BY bm25 DESC, doc_id LIMIT {_HYBRID_RECALL})
),
e AS ({_DUCK_EMB}),
q AS (SELECT v FROM e WHERE vec_id = 0),
cosr AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
           AS r_cosine
  FROM (
    SELECT c.vec_id AS doc_id, {_DUCK_COS} AS cosine
    FROM e c CROSS JOIN q
    ORDER BY cosine DESC, doc_id LIMIT {_HYBRID_RECALL}
  )
),
fused AS (
  SELECT doc_id, r_bm25, r_cosine,
         coalesce(1.0 / (60.0 + r_bm25), 0.0)
           + coalesce(1.0 / (60.0 + r_cosine), 0.0) AS rrf
  FROM bm FULL JOIN cosr USING (doc_id)
)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank,
       doc_id, r_bm25, r_cosine
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {_HYBRID_K}
"""


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with exact refine — the full FAISS IVFPQ composition
    (Jégou et al. TPAMI'11) assembled from the repo's two persisted
    index artifacts: the coarse quantizer prunes the corpus to each
    query's two nearest CELLS (the inverted-file step, nprobe=2 —
    candidates ∝ nprobe·N/K), the PACKED PQ code table scores only
    those candidates with the integer-ADC fold (8 broadcast-LUT
    lookups per candidate, no full-precision decode), and the
    {_PQ_SHORTLIST}-wide shortlist alone joins back to the embedding
    store for the exact cosine top-{_TOP_K}.

    This is the shape a 100 TB vector store actually serves: the scan
    is nprobe/K of the CODE table (M bytes/vector), and the
    full-precision store is touched by a {_PQ_SHORTLIST}-row key
    lookup per query. `sim_ann_ivf*` (cell pruning, full-precision
    scoring) and `sim_topk_cosine_pq` (ADC over everything) each
    witness one half; this entry witnesses the composition, with the
    same fixed-seed determinism devices so both engines hash
    identically."""
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    probes, members = _ivf_cells(v, _NPROBE)
    pairs = (
        probes.select(F.col("vec_id").alias("query_id"), "centroid_id")
        .join(
            members.select(F.col("vec_id").alias("cand_id"), "centroid_id"),
            "centroid_id",
        )
        .select("query_id", "cand_id")
    )
    packed = _pq_codes_packed(spark, sf_dir)
    luts = _pq_query_luts(spark, sf_dir, F.col("vec_id") < _N_QUERIES)
    scored = (
        pairs.filter(F.col("query_id") != F.col("cand_id"))
        .join(packed, pairs["cand_id"] == packed["vec_id"])
        .join(F.broadcast(luts), "query_id")
        .select("query_id", "cand_id", _adc_micro().alias("adc_micro"))
    )
    return _refine(v, _rank_topk(scored, "adc_micro", _PQ_SHORTLIST))


ANN_IVFPQ_ORACLE = f"""
WITH
{_PQ_SUB_SQL},
e AS ({_DUCK_EMB}),
cents AS (
  SELECT vec_id AS centroid_id, v FROM e
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}
),
assign_scored AS (
  SELECT a.vec_id, k.centroid_id, {_DUCK_CENT_COS} AS ccos
  FROM e a CROSS JOIN (SELECT centroid_id, v FROM cents) k
),
member AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
probe AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn <= {_NPROBE} AND vec_id < {_N_QUERIES}
),
cand AS (
  SELECT p.vec_id AS query_id, mm.vec_id AS cand_id
  FROM probe p JOIN member mm ON p.centroid_id = mm.centroid_id
  WHERE p.vec_id <> mm.vec_id
),
lut AS (
  SELECT s.vec_id AS query_id, s.m, a.anchor_id,
         CAST(floor(list_dot_product(s.sv, a.av) * 1000000.0 + 0.5) AS BIGINT)
           AS dot_micro
  FROM sub s JOIN anch a USING (m)
  WHERE s.vec_id < {_N_QUERIES}
),
adc AS (
  SELECT cn.query_id, cn.cand_id, CAST(sum(l.dot_micro) AS BIGINT) AS adc_micro
  FROM cand cn
  JOIN codes cd ON cd.vec_id = cn.cand_id
  JOIN lut l ON l.query_id = cn.query_id AND l.m = cd.m AND l.anchor_id = cd.code
  GROUP BY cn.query_id, cn.cand_id
),
shortlist AS (
  SELECT query_id, cand_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc_micro DESC, cand_id ASC) AS rn
    FROM adc
  ) WHERE rn <= {_PQ_SHORTLIST}
),
refined AS (
  SELECT s.query_id, s.cand_id, {_DUCK_COS} AS cosine
  FROM shortlist s
  JOIN e q ON q.vec_id = s.query_id
  JOIN e c ON c.vec_id = s.cand_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM refined
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


def hybrid_retrieval_rrf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hybrid_retrieval_rrf` with the vector arm swapped from the
    linear cosine scan to the PQ-ADC shortlist + exact refine — the
    swap the RRF docstring promises at corpus scale, now a checked
    contract of its own. The BM25 arm is unchanged (a distributed
    TakeOrdered top-{_HYBRID_RECALL}); the vector arm scans only the
    M-byte-per-vector PQ code table (integer ADC over the broadcast
    query LUT), takes the width-{_PQ_SHORTLIST} shortlist, decodes
    JUST those rows for an exact-cosine rank — so at 100 TB neither
    arm touches the full-precision embedding store beyond a
    {_PQ_SHORTLIST}-row key lookup. Fusion, hash contract (all-integer
    output, float RRF score only as an ordering key, doc_id
    tiebreak), and k=60 constant are identical to
    `hybrid_retrieval_rrf`; ranks differ from it exactly where the PQ
    shortlist disagrees with the exact top-{_HYBRID_RECALL} (the PQ
    pipeline also excludes the query's own vector, as
    `sim_topk_cosine_pq` does — fused output documents the ANN arm,
    not the anchor).

    Measured honestly (PERF.md round 6): at the 100× testbed
    (200k × 64-dim, in-memory) the two vector arms are at PARITY
    (~0.55 s each; whole-stage-codegen'd dot products are that cheap
    at this size, and both RRF totals are dominated by the ~3.7 s
    BM25 arm). The ADC arm's advantage is structural — 8 bytes/vector
    scanned vs 512, full-precision store touched only by a 50-row
    lookup — and materializes when the embedding store stops fitting
    in memory, not at this testbed's scale."""
    shortlist = (
        _packed_adc_scores(
            _pq_codes_packed(spark, sf_dir),
            _pq_query_luts(spark, sf_dir, F.col("vec_id") == 0),
        )
        .select(F.col("vec_id").alias("doc_id"), "adc_micro")
        .orderBy(F.desc("adc_micro"), "doc_id")
        .limit(_PQ_SHORTLIST)
        .select("doc_id")
    )
    v = _vectors(load_table(spark, sf_dir, "embeddings"))
    cv = _side(v, "c")
    cos = (
        shortlist.join(cv, shortlist["doc_id"] == cv["cand_id"])
        .crossJoin(F.broadcast(_query0(v)))
        .select("doc_id", _side_cosine().alias("cosine"))
    )
    return _rrf_fuse(spark, sf_dir, cos)


def _rrf_ann_oracle() -> str:
    from kafka_flink_streaming_pipeline_spark.operators.text import BM25_SCORES_SQL

    return f"""
WITH
{_PQ_SUB_SQL},
bm AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25 DESC, doc_id) AS BIGINT)
           AS r_bm25
  FROM (SELECT * FROM ({BM25_SCORES_SQL})
        ORDER BY bm25 DESC, doc_id LIMIT {_HYBRID_RECALL})
),
lut AS (
  SELECT s.vec_id AS query_id, s.m, a.anchor_id,
         CAST(floor(list_dot_product(s.sv, a.av) * 1000000.0 + 0.5) AS BIGINT)
           AS dot_micro
  FROM sub s JOIN anch a USING (m)
  WHERE s.vec_id = 0
),
shortlist AS (
  SELECT c.vec_id AS doc_id, CAST(sum(l.dot_micro) AS BIGINT) AS adc_micro
  FROM codes c JOIN lut l ON l.m = c.m AND l.anchor_id = c.code
  WHERE c.vec_id <> l.query_id
  GROUP BY c.vec_id
  ORDER BY adc_micro DESC, doc_id LIMIT {_PQ_SHORTLIST}
),
e AS ({_DUCK_EMB}),
q AS (SELECT v FROM e WHERE vec_id = 0),
cosr AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
           AS r_cosine
  FROM (
    SELECT s.doc_id, {_DUCK_COS} AS cosine
    FROM shortlist s JOIN e c ON c.vec_id = s.doc_id CROSS JOIN q
  )
),
fused AS (
  SELECT doc_id, r_bm25, r_cosine,
         coalesce(1.0 / (60.0 + r_bm25), 0.0)
           + coalesce(1.0 / (60.0 + r_cosine), 0.0) AS rrf
  FROM bm FULL JOIN cosr USING (doc_id)
)
SELECT CAST(row_number() OVER (ORDER BY rrf DESC, doc_id) AS BIGINT) AS fused_rank,
       doc_id, r_bm25, r_cosine
FROM fused
ORDER BY rrf DESC, doc_id
LIMIT {_HYBRID_K}
"""


def sim_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality monitoring as a registered query: micro-averaged
    recall@{_TOP_K} of every approximate vector-search method against
    the exact cosine top-k, on the same queries — the number a
    production retrieval stack tracks per index rebuild (the vector
    sibling of `dedup_lsh_calibration`). Per method: queries covered,
    truth rows, hits, and integer-ppm micro-recall
    (Σhits·10⁶ DIV Σtruth).

    The per-method recall FLOORS are already pinned by the pytest
    recall suites; this entry makes the measurement itself a
    driver-hashable artifact. Each method subtree is the registered
    query's own plan (PQ reuses the session-shared code table), the
    truth side is computed once, and each comparison is a
    (query_id, cand_id) left join onto ≤ N_QUERIES×{_TOP_K} truth
    rows — report cost is dominated by the methods themselves."""
    exact = topk_cosine(spark, sf_dir).select("query_id", "cand_id")
    methods = [
        ("ivf_nprobe1", ann_ivf),
        ("ivf_nprobe2", ann_ivf_nprobe2),
        ("ivf_kmeans", ann_ivf_trained),
        ("lsh_multiprobe", ann_lsh_multiprobe),
        ("pq_adc_refine", topk_cosine_pq),
    ]
    return functools.reduce(
        DataFrame.unionAll,
        [
            _recall(exact, fn(spark, sf_dir), F.lit(name).alias("method"))
            for name, fn in methods
        ],
    ).orderBy("method")


def _recall(truth: DataFrame, found: DataFrame, label: Column) -> DataFrame:
    """One recall row, (label, n_queries, total_truth, total_hits,
    recall_ppm): the micro-averaged recall of `found`'s (query_id,
    cand_id) pairs against `truth`'s, in integer ppm
    (Σhits·10⁶ DIV Σtruth)."""
    hits = found.select("query_id", "cand_id", F.lit(1).alias("hit"))
    return (
        truth.join(hits, ["query_id", "cand_id"], "left")
        .agg(
            F.countDistinct("query_id").alias("n_queries"),
            F.count("*").alias("total_truth"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("total_hits"),
        )
        .select(
            label,
            "n_queries",
            "total_truth",
            "total_hits",
            F.expr("CAST(total_hits * 1000000 DIV total_truth AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )


def _recall_report_oracle() -> str:
    blocks = []
    for name, oracle in [
        ("ivf_nprobe1", ANN_IVF_ORACLE),
        ("ivf_nprobe2", ANN_IVF_NPROBE2_ORACLE),
        ("ivf_kmeans", _ann_ivf_trained_oracle()),
        ("lsh_multiprobe", ANN_LSH_MULTIPROBE_ORACLE),
        ("pq_adc_refine", TOPK_PQ_ORACLE),
    ]:
        blocks.append(f"""
SELECT '{name}' AS method,
       CAST(count(DISTINCT e.query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS total_truth,
       CAST(sum(CASE WHEN m.hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS total_hits,
       CAST(sum(CASE WHEN m.hit IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN (SELECT query_id, cand_id, 1 AS hit FROM ({oracle})) m
  USING (query_id, cand_id)""")
    union = "\nUNION ALL\n".join(blocks)
    return f"""
WITH exact AS (SELECT query_id, cand_id FROM ({TOPK_ORACLE}))
SELECT * FROM ({union})
ORDER BY method
"""


# --- Matryoshka truncation-dimension recall -------------------------------

_MRL_DIMS = (8, 16, 32, 64)  # prefix dims evaluated (64 = full = sanity row)


def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka evaluation (Kusupati et al., NeurIPS 2022): how much
    recall@{_TOP_K} survives when vectors are TRUNCATED to their first
    d dimensions? MRL-trained embeddings keep most of it at d ≪ full —
    the published basis for shortlist-with-8-dims / refine-with-full
    retrieval stacks. Per prefix dim: exact cosine top-k over the
    sliced vectors on the same {_N_QUERIES} queries, scored against
    the full-dimension truth; output is all-integer (dim, n_queries,
    total_truth, total_hits, recall_ppm), with the d=64 row a built-in
    sanity anchor (recall ≡ 1e6 — truncation to full width IS the
    truth).

    These driver embeddings are NOT MRL-trained, so the measured curve
    is the cautionary baseline (prefix dims of an isotropic embedding
    carry d/64 of the energy); the operator contract is the
    measurement, which is what a pipeline runs BEFORE deciding to
    truncate its store. Like `sim_ann_recall_report`, a per-rebuild QA
    report: exact scans at sample scale, each dim one broadcast
    crossJoin + rank — 4 slims of the same plan the brute-force anchor
    already documents."""
    truth = topk_cosine(spark, sf_dir).select("query_id", "cand_id")
    e = load_table(spark, sf_dir, "embeddings")
    parts = []
    for d in _MRL_DIMS:
        v = _vectors(e.select("vec_id", F.slice("embedding", 1, d).alias("embedding")))
        topd = _topk(F.broadcast(_queries(v)), _side(v, "c"))
        parts.append(_recall(truth, topd, F.lit(d).cast("bigint").alias("dim")))
    return functools.reduce(DataFrame.unionAll, parts).orderBy("dim")


def _matryoshka_oracle() -> str:
    blocks = []
    for d in _MRL_DIMS:
        blocks.append(f"""
SELECT CAST({d} AS BIGINT) AS dim,
       CAST(count(DISTINCT e.query_id) AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS total_truth,
       CAST(sum(CASE WHEN m.hit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS total_hits,
       CAST(sum(CASE WHEN m.hit IS NOT NULL THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS recall_ppm
FROM exact e
LEFT JOIN (
  SELECT query_id, cand_id, 1 AS hit FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cosine DESC, cand_id ASC) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS cand_id, {_DUCK_COS} AS cosine
      FROM sliced_{d} q CROSS JOIN sliced_{d} c
      WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
    )
  ) WHERE rank <= {_TOP_K}
) m USING (query_id, cand_id)""")
    slices = ",\n".join(
        f"sliced_{d} AS (SELECT vec_id, v[1:{d}] AS v FROM e)" for d in _MRL_DIMS
    )
    union = "\nUNION ALL\n".join(blocks)
    return f"""
WITH e AS ({_DUCK_EMB}),
{slices},
exact AS (SELECT query_id, cand_id FROM ({TOPK_ORACLE}))
SELECT * FROM ({union})
ORDER BY dim
"""


# --- semantic dedup within coarse-quantizer cells (SemDeDup) --------------


#: pair-row : assignment-row cost ratio for the auto-derived quantizer
#: size. SemDeDup's two stages cost N·K (brute-force centroid
#: assignment) + N²/K (within-cell pairs); the sum is minimized at
#: K* = √(N·w) where w weighs a candidate-pair row against an
#: assignment row — pair rows carry two embeddings through a shuffle,
#: assignment rows stay map-side, so pairs are ~8× heavier →
#: K = ceil(√(N/8)). This keeps BOTH stages O(N^1.5): at the driver's
#: oracle scale (N=500) it derives exactly 8 = _IVF_K (the pinned
#: oracle configuration), and at 100× testdata (N=500k) it derives 250
#: — the K=256 regime round-3 measured as the 100× sweet spot (76 s vs
#: >20 min at K=8). A fixed target CELL size would instead make
#: assignment N²/cell — quadratic.
_SEM_PAIR_WEIGHT = 8

#: per-(sub)cell population cap (r10 verdict ask #3): auto-K bounds the
#: AVERAGE cell to √(8N), but a skewed store can still put Θ(N) vectors
#: in one cell (N² pairs), and even the balanced case pays N·√(8N) pair
#: rows — the measured 44× tail at 100×. Capping every pairwise group
#: at CAP members bounds TOTAL pair mass to N·CAP/2 — linear in N,
#: skew-proof. Oversized cells are re-split into ceil(|cell|/CAP)
#: sub-cells by a two-round LCG id-hash taking the HIGH 16 bits
#: (x = id mod 2^32; twice x = (x·1103515245 + 12345) mod 2^32; then
#: x >> 16, mod n_sub) — pure BIGINT ops that agree bit-for-bit in
#: Spark and DuckDB, and overflow-safe under ANSI mode (the mod-2^32
#: pre-reduction keeps every |product| < 2^63 for any BIGINT id, where
#: a 2^31-sized Knuth multiplier on a raw 1e11-range id overflowed
#: long multiply). PRECONDITION of the parity claim: vec_id >= 0
#: (true of every testdata id and any production row number) — both
#: engines use truncated % and arithmetic shift, so a NEGATIVE id
#: flows negative intermediates through to sub_id; the ops still match
#: engine-to-engine but the "non-negative" framing and the high-bit
#: balance argument only hold on the non-negative domain (r11 ADVICE).
#: Two rounds + high bits matter: a
#: single multiply taken mod n_sub keeps the LCG's weak low bits and
#: the replicated-id stride, measured max sub-cell 300 vs cap 48 at
#: 100×; the high-bits variant measures max 72, p99 61 — multinomial
#: balance.
#: Pairs across sub-cells of an oversized cell are forgone — the same
#: recall trade SemDeDup already makes across cells, applied
#: recursively; production would re-split by a sub-quantizer (the
#: FAISS IMI move), the id-hash keeps the operator deterministic and
#: oracle-checkable. 48 ≈ the sf0.01 oracle's mean cell (500/8), so
#: the split path is exercised — and driver-hashed — at oracle scale.
_SEM_CELL_CAP = 48
_SEM_HASH_MULT = 1103515245
_SEM_HASH_INC = 12345


def dedup_semantic_clusters(
    spark: SparkSession, sf_dir: str, n_cells: int | None = None
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): cluster the embedding
    space coarsely, then drop near-identical vectors WITHIN each
    cluster, keeping the lowest id. Reuses the IVF coarse quantizer for
    the clustering, so the pairwise stage is bounded to |cell|² per
    cell instead of all-pairs — the property that makes semantic dedup
    tractable on billion-vector corpora (cross-cell near-dups are
    forgone by design; tighten K/nprobe to trade recall for cost).

    `n_cells` is the GRANULARITY KNOB: K must grow with the corpus
    (SemDeDup itself uses 50k clusters for 5B embeddings). When
    `n_cells` is None (the registered default) K is AUTO-DERIVED as
    ceil(√(N/{_SEM_PAIR_WEIGHT})) from a one-row count — the
    balanced-cost choice (see `_SEM_PAIR_WEIGHT`) that keeps the
    centroid assignment (N·K) at O(N^1.5): measured at 100× testdata
    (500k vectors) a pinned K=8 diverges (>20 min) while K=64 → 228 s
    and K=256 → 76 s with 99.97%-identical drop lists (PERF.md round
    3); the derivation lands at K=250, the measured sweet-spot regime.

    The PAIRWISE stage is additionally bounded by `_SEM_CELL_CAP`:
    every cell is re-split into ceil(|cell|/CAP) sub-cells by a
    deterministic multiplicative id-hash before the within-cell join,
    so total candidate-pair mass is ≤ N·CAP/2 — LINEAR in N and
    immune to cell skew (pre-cap, the 100× battery spent ~69 of 76 s
    in ~500M within-cell pair rows; see `_SEM_CELL_CAP` for the
    recall trade and why the hash agrees bit-for-bit with DuckDB).

    ORACLE SCOPE: `DEDUP_SEMANTIC_ORACLE` derives the SAME K from a
    count(*) inside the SQL (sqrt is IEEE-correctly-rounded in both
    engines, so ceil(√(N/8)) agrees bit-for-bit) AND mirrors the
    cap re-split (per-cell counts + the pure-BIGINT id-hash), so
    parity holds for the registered default at ANY scale — verified
    at sf0.01 (K=8, cells split 2-way at CAP=48) and sf0.1 (K=25).
    An EXPLICIT n_cells override is outside oracle coverage unless it
    happens to equal the derived K; never hash-compare an override
    run.

    Output: one row per DROPPED vector — (vec_id, centroid_id, dup_of
    = lowest-id same-cell vector with cosine ≥ t, n_similar)."""
    e = load_table(spark, sf_dir, "embeddings")
    if n_cells is None:
        n_vecs = e.count()
        n_cells = int(min(65536, max(1, math.ceil(math.sqrt(n_vecs / _SEM_PAIR_WEIGHT)))))
    v = _vectors(e)
    m = _ivf_assign(v, k=n_cells).join(v, "vec_id")
    # cap enforcement: K-row size table broadcast back onto the
    # assignment, then a pure-BIGINT hash split — no extra shuffle of
    # the vectors (the pair join's shuffle key just widens to include
    # sub_id)
    sizes = m.groupBy("centroid_id").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(float(_SEM_CELL_CAP))).alias("n_sub")
    )
    x = F.col("vec_id") % F.lit(4294967296)
    for _ in range(2):
        x = (x * F.lit(_SEM_HASH_MULT) + F.lit(_SEM_HASH_INC)) % F.lit(4294967296)
    m = m.join(F.broadcast(sizes), "centroid_id").withColumn(
        "sub_id", F.shiftright(x, 16) % F.col("n_sub")
    )
    keys = ("centroid_id", "sub_id")
    return (
        _side(m, "q", *keys)
        .join(_side(m, "c", *keys), list(keys))
        .filter(F.col("query_id") < F.col("cand_id"))
        .select("centroid_id", "query_id", "cand_id", _side_cosine().alias("cosine"))
        .filter(F.col("cosine") >= _NEAR_DUP_T)
        .groupBy(F.col("cand_id").alias("vec_id"))
        .agg(
            F.first("centroid_id").alias("centroid_id"),
            F.min("query_id").alias("dup_of"),
            F.count("*").alias("n_similar"),
        )
    )  # dropped-vector list: corpus-sized at scale, unsorted


DEDUP_SEMANTIC_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
kq AS (
  SELECT LEAST(65536, GREATEST(1,
           CAST(ceil(sqrt(count(*) / {_SEM_PAIR_WEIGHT}.0)) AS BIGINT))) AS k
  FROM e
),
cents AS (
  SELECT vec_id AS centroid_id, v FROM e, kq
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES} + kq.k
),
assign_scored AS (
  SELECT a.vec_id, k.centroid_id, {_DUCK_CENT_COS} AS ccos
  FROM e a CROSS JOIN (SELECT centroid_id, v FROM cents) k
),
assigned AS (
  SELECT vec_id, centroid_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY ccos DESC, centroid_id ASC) AS rn
    FROM assign_scored
  ) WHERE rn = 1
),
sized AS (
  SELECT centroid_id, CAST(ceil(count(*) / {_SEM_CELL_CAP}.0) AS BIGINT) AS n_sub
  FROM assigned GROUP BY centroid_id
),
subbed AS (
  SELECT a.vec_id, a.centroid_id,
         ((((((a.vec_id % 4294967296) * {_SEM_HASH_MULT} + {_SEM_HASH_INC})
              % 4294967296) * {_SEM_HASH_MULT} + {_SEM_HASH_INC})
              % 4294967296) >> 16)
           % s.n_sub AS sub_id
  FROM assigned a JOIN sized s USING (centroid_id)
),
pairs AS (
  SELECT a1.centroid_id, a1.vec_id AS v1, a2.vec_id AS v2, {_DUCK_COS} AS cosine
  FROM subbed a1
  JOIN subbed a2 ON a1.centroid_id = a2.centroid_id
               AND a1.sub_id = a2.sub_id AND a1.vec_id < a2.vec_id
  JOIN e q ON q.vec_id = a1.vec_id
  JOIN e c ON c.vec_id = a2.vec_id
)
SELECT v2 AS vec_id, min(centroid_id) AS centroid_id,
       min(v1) AS dup_of, count(*) AS n_similar
FROM pairs WHERE cosine >= {_NEAR_DUP_T}
GROUP BY v2
"""


# --- Lloyd's k-means training loop (trains the IVF coarse quantizer) -------

_KM_ROUNDS = 3
_KM_DIM = 64
#: positive-domain shift: every micro-unit dim value (|x| < 2.0 in this
#: embedding family, asserted in tests) becomes non-negative, so the
#: centroid-update integer division is floor == truncate in BOTH
#: engines. Spark's `DIV` truncates toward zero while DuckDB's `//`
#: floors toward -inf — they agree only on non-negative operands, and
#: L2 distances are shift-invariant, so shifting is free correctness.
_KM_SHIFT = 2_000_000


def _km_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, dim, xm): exploded per-dimension BIGINT micro-units,
    shifted into the non-negative domain (see `_KM_SHIFT`)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.posexplode("embedding").alias("dim", "x")).select(
        "vec_id",
        "dim",
        (
            F.floor(F.col("x").cast("double") * 1_000_000 + F.lit(0.5)).cast("bigint")
            + F.lit(_KM_SHIFT)
        ).alias("xm"),
    )


def _km_assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment step: (vec_id, cid, d) — nearest centroid
    by integer squared-L2 with cid tiebreak. Centroids broadcast; the
    argmin groupBy is the only shuffle."""
    diff = F.col("xm") - F.col("cm")
    dists = (
        pts.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "cid")
        .agg(F.sum(diff * diff).cast("bigint").alias("d"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.asc("d"), F.asc("cid"))
    return (
        dists.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "d")
    )


def _km_train(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame, DataFrame, DataFrame]:
    """Run {_KM_ROUNDS} Lloyd iterations; return (per-round 1-row
    report DFs, final centroids, final assignment).

    The driver loop is rounds-only (3 iterations); each round is fully
    distributed: assignment is a broadcast join of the K×{_KM_DIM}
    centroid table against the exploded point table + a groupBy argmin,
    update is a groupBy mean. `localCheckpoint` per round, or the plan
    re-embeds every prior round and doubles per iteration (the BPE-loop
    lesson). All arithmetic is BIGINT: squared L2 in shifted micro
    units, centroid update by non-negative integer floor division —
    no doubles anywhere, so the hash contract is engine-exact.

    At 100 TB: the point table is the only big side and is never
    shuffled for assignment (centroids broadcast); the update groupBy
    shuffles K×{_KM_DIM} = 512 keys of partial sums (map-side combine
    does the heavy lifting). Inertia is reported as sum(d DIV 1000);
    at ~1e9+ vectors the sum needs a DECIMAL(38) internal accumulator —
    an internal (unhashed) representation choice, not a contract one."""
    pts = _km_points(spark, sf_dir).localCheckpoint()
    # r13: only the ASSIGNMENT is checkpointed per round. The centroid
    # frames are K×dim rows consumed exactly once (by the next round's
    # assign, or by the final consumer), and the assign checkpoints
    # already bound lineage at depth 2 — so the per-round centroid
    # localCheckpoint jobs (3 of the 8 eager jobs in this loop, ~0.8 s
    # of the 2.3 s build at bench scale) were pure overhead; at scale
    # each corpus-sized assign⋈pts aggregation still runs exactly once,
    # inside the next checkpoint job.
    cent = pts.filter(
        (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + _IVF_K)
    ).select(
        (F.col("vec_id") - _N_QUERIES).cast("int").alias("cid"),
        "dim",
        F.col("xm").alias("cm"),
    )
    reports: list[DataFrame] = []
    prev = None
    assign = None
    for r in range(1, _KM_ROUNDS + 1):
        assign = _km_assign(pts, cent).localCheckpoint()
        if prev is None:
            rep = assign.agg(
                F.count("*").cast("bigint").alias("n_moved"),
                F.sum(F.expr("d DIV 1000")).cast("bigint").alias("inertia_milli"),
            )
        else:
            rep = (
                assign.join(prev.select("vec_id", F.col("cid").alias("prev_cid")), "vec_id")
                .agg(
                    F.sum(
                        F.when(F.col("cid") != F.col("prev_cid"), 1).otherwise(0)
                    )
                    .cast("bigint")
                    .alias("n_moved"),
                    F.sum(F.expr("d DIV 1000")).cast("bigint").alias("inertia_milli"),
                )
            )
        reports.append(rep.select(F.lit(r).alias("iter"), "n_moved", "inertia_milli"))
        prev = assign
        cent = (
            assign.join(pts, "vec_id")
            .groupBy("cid", "dim")
            .agg(F.expr("CAST(sum(xm) DIV count(*) AS BIGINT)").alias("cm"))
        )
    return reports, cent, assign, pts


def sim_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding store — the
    training loop the IVF docstring defers to ("at 100 TB you'd k-means
    a sample"). K={_IVF_K} centroids seeded from the same vectors the
    training-free IVF uses, {_KM_ROUNDS} rounds, squared-L2 in integer
    micro units. One report row per round::

        iter | n_moved | inertia_milli

    n_moved is the count of vectors whose cell changed vs the previous
    round (round 1: every vector, by definition); inertia_milli is the
    clustering objective Σ min-dist, in milli-micro² units. Lloyd's
    monotonicity (inertia non-increasing) is pinned by a pytest
    invariant up to the integer-mean rounding slack."""
    reports, _, _, _ = _km_train(spark, sf_dir)
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionByName(rep)
    return out.orderBy("iter")


def sim_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained coarse-quantizer codebook itself — what a production
    IVF build persists and every ingest probe loads: per final cell,
    its member count and the centroid as a comma-joined micro-unit
    vector (the driver canonicalizer hashes strings, not arrays)::

        cid | n_members | centroid_csv
    """
    _, cent, assign, _ = _km_train(spark, sf_dir)
    members = assign.groupBy("cid").agg(F.count("*").cast("bigint").alias("n_members"))
    vec = cent.groupBy("cid").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("dim"), F.col("cm")))
                ),
                lambda s: s["cm"].cast("string"),
            ),
        ).alias("centroid_csv")
    )
    return (
        members.join(vec, "cid")
        .select(F.col("cid").cast("int").alias("cid"), "n_members", "centroid_csv")
        .orderBy("cid")
    )


def _km_oracle_ctes() -> str:
    """Unrolled {_KM_ROUNDS}-round Lloyd CTE chain (DuckDB). The Spark
    side iterates a driver loop; SQL can't, so the oracle unrolls the
    same fixed number of rounds — identical integer arithmetic."""
    parts = [
        f"""e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pts AS (
  SELECT vec_id, dim,
         CAST(floor(v[dim + 1] * 1000000 + 0.5) AS BIGINT) + {_KM_SHIFT} AS xm
  FROM e0 CROSS JOIN (SELECT unnest(range(0, {_KM_DIM})) AS dim) dims
),
c0 AS (
  SELECT CAST(vec_id - {_N_QUERIES} AS INTEGER) AS cid, dim, xm AS cm
  FROM pts WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES + _IVF_K}
)"""
    ]
    for r in range(1, _KM_ROUNDS + 1):
        parts.append(
            f"""d{r} AS (
  SELECT p.vec_id, c.cid, CAST(sum((p.xm - c.cm) * (p.xm - c.cm)) AS BIGINT) AS d
  FROM pts p JOIN c{r - 1} c USING (dim) GROUP BY p.vec_id, c.cid
),
a{r} AS (
  SELECT vec_id, cid, d FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM d{r}
  ) WHERE rn = 1
),
c{r} AS (
  SELECT cid, dim, CAST(CAST(sum(p.xm) AS BIGINT) // count(*) AS BIGINT) AS cm
  FROM a{r} JOIN pts p USING (vec_id) GROUP BY cid, dim
)"""
        )
    return ",\n".join(parts)


def _kmeans_train_oracle() -> str:
    rounds = [
        f"""SELECT 1 AS iter, CAST(count(*) AS BIGINT) AS n_moved,
       CAST(sum(d // 1000) AS BIGINT) AS inertia_milli
FROM a1"""
    ]
    for r in range(2, _KM_ROUNDS + 1):
        rounds.append(
            f"""SELECT {r} AS iter,
       CAST(sum(CASE WHEN a.cid <> p.cid THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
       CAST(sum(a.d // 1000) AS BIGINT) AS inertia_milli
FROM a{r} a JOIN a{r - 1} p USING (vec_id)"""
        )
    body = "\nUNION ALL\n".join(rounds)
    return f"""
WITH {_km_oracle_ctes()}
SELECT * FROM ({body})
ORDER BY iter
"""


def _kmeans_centroids_oracle() -> str:
    last = _KM_ROUNDS
    return f"""
WITH {_km_oracle_ctes()},
members AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_members FROM a{last} GROUP BY cid),
vecs AS (
  SELECT cid, string_agg(CAST(cm AS VARCHAR), ',' ORDER BY dim) AS centroid_csv
  FROM c{last} GROUP BY cid
)
SELECT cid, n_members, centroid_csv
FROM members JOIN vecs USING (cid)
ORDER BY cid
"""


@shared_cache.artifact("shared_ivf_trained_cells")
def _ivf_trained_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, cid): every vector's final-codebook cell — the trained
    index build, SESSION-SHARED + disk-cached (r12, extending r11
    verdict ask #5 past the exact anchor): `sim_ann_ivf_trained` and
    `sim_ann_recall_report` each re-ran the full 3-round Lloyd loop
    (~2.5–3.3 s at sf0.1, the report's dominant arm) to rebuild an
    artifact a production stack trains once per index rebuild —
    exactly the on-disk-IVF/PQ-code-table precedent. The training
    PROCESS entries (`sim_kmeans_train` / `sim_kmeans_centroids`)
    deliberately keep calling `_km_train` — the iteration log IS their
    output; this cache holds only the payoff assignment."""
    _, cent, _, pts = _km_train(spark, sf_dir)
    return _km_assign(pts, cent).select("vec_id", "cid")


def ann_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe over the TRAINED codebook (nprobe=1): the payoff
    query for `sim_kmeans_train` — index build assigns every vector to
    its nearest FINAL centroid (one extra Lloyd assignment step under
    c_final, so corpus cells and query probes use the same codebook),
    queries score only their own cell, exact cosine rerank to
    top-{_TOP_K}. Same output shape as `sim_ann_ivf`, so the recall
    report compares seed-IVF vs trained-IVF on identical truth — the
    measured answer to "did training the quantizer help?".

    At 100 TB the cell assignment is the index build (written once,
    like `build_ann_index`); per query the candidate set is one cell,
    ~|corpus|/K rows."""
    cells = _ivf_trained_cells(spark, sf_dir)
    v = _vectors(load_table(spark, sf_dir, "embeddings")).join(cells, "vec_id")
    return _topk(_queries(v, "cid"), _side(v, "c", "cid"), "cid").orderBy(
        "query_id", "rank"
    )


def _ann_ivf_trained_oracle() -> str:
    last = _KM_ROUNDS
    return f"""
WITH {_km_oracle_ctes()},
dfin AS (
  SELECT p.vec_id, c.cid, CAST(sum((p.xm - c.cm) * (p.xm - c.cm)) AS BIGINT) AS d
  FROM pts p JOIN c{last} c USING (dim) GROUP BY p.vec_id, c.cid
),
cells AS (
  SELECT vec_id, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
    FROM dfin
  ) WHERE rn = 1
),
e AS ({_DUCK_EMB}),
scored AS (
  SELECT cq.vec_id AS query_id, cc.vec_id AS cand_id, {_DUCK_COS} AS cosine
  FROM cells cq
  JOIN cells cc ON cc.cid = cq.cid AND cc.vec_id <> cq.vec_id
  JOIN e q ON q.vec_id = cq.vec_id
  JOIN e c ON c.vec_id = cc.vec_id
  WHERE cq.vec_id < {_N_QUERIES}
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, cand_id ASC) AS rank
  FROM scored
)
SELECT query_id, cand_id, cosine, rank
FROM ranked WHERE rank <= {_TOP_K}
ORDER BY query_id, rank
"""


# --- cross-split semantic leakage --------------------------------------------


def split_leakage_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination in EMBEDDING space — the semantic
    sibling of the shingle-based `split_leakage_check`: for every
    test-split vector, its best cosine match among TRAIN-split vectors,
    rolled up as a 5-percentage-point histogram of best-match cosine.
    A mass of near-1.0 best matches means eval examples have semantic
    near-twins in training (paraphrases, re-crawls, translations) that
    exact/shingle dedup cannot see — the gap SemDeDup (Abbas et al.
    2023) targets within a corpus, here applied ACROSS the split
    boundary where it corrupts evaluation.

    Split membership is the standing md5-bucket device
    (`datasets._split_name`, applied to vec_id). The search is the IVF
    cell path, not the quadratic scan: train vectors carry their
    nprobe=1 cell membership, test queries probe their nprobe=2 cells,
    and only cell-sharing pairs are scored — per query ~2/K of the
    train side, exactly `sim_ann_ivf_nprobe2`'s cost shape (the exact
    brute-force sibling stays unregistered; the shingle-based
    `split_leakage_check` already carries an exact anchor for the
    family). Best-match selection is a max(struct) argmax — map-side
    combinable, no per-query window sort. Test vectors whose probed
    cells contain no train vector (possible only under extreme split
    skew) report bucket -999 so coverage loss is visible, never
    silent (-999 is outside the reachable bucket range [-100, 100]:
    the r7 sentinel -100 collided with the real floor(cos·20)·5
    bucket for best_cos ∈ [-1.0, -0.95)).

    UNLIKE the fixed-query ANN entries (5 queries however big the
    corpus), here the query side GROWS with the corpus, so a fixed
    K=8 would make the cell join quadratic — measured 2.0 s at sf0.1
    but 45 s at 10x before the fix. K therefore auto-sizes with the
    corpus (max(8, N DIV 256) — constant ~256-vector cells), computed
    by BOTH engines from count(*) with the same integer formula, so
    per-query candidate work stays flat and the total linear. The one
    count() collect is a 1-row scalar (the `_with_latest`
    precedent).

    r8: scoring runs on the shared symmetric-int8 layout
    (`int8_assign2` assignment + `_make_cell_best_scorer`'s cogrouped
    BLAS matmul per cell — the `knn_label_agreement` move): the float
    N×K assignment fold was the 100× wall (53.8 s measured), now one
    dgemm per Arrow batch. The bucket is exact integer arithmetic on
    the int8 cosine micro score: floor(cos_micro / 50000)·5 ≡
    floor(cos·20)·5 (quotients m/50000 are ≥ 2e-5 from the nearest
    integer unless exact, so the double division cannot mis-floor),
    and the oracle pins the identical int8 arithmetic."""
    from kafka_flink_streaming_pipeline_spark.operators.datasets import (
        _split_name,
    )

    e = load_table(spark, sf_dir, "embeddings")
    k = max(_IVF_K, e.count() // _LEAK_CELL)
    assign2 = int8_assign2(e, k).withColumn("split", _split_name(F.col("vec_id")))
    train = (
        assign2.filter((F.col("rn") == 1) & (F.col("split") == "train"))
        .select(F.col("vec_id").alias("cand_id"), "centroid_id", "c8")
    )
    tests = assign2.filter(F.col("split") == "test").select(
        F.col("vec_id").alias("query_id"),
        "centroid_id",
        F.col("c8").alias("q8"),
    )
    cell_best = (
        tests.groupBy("centroid_id")
        .cogroup(train.groupBy("centroid_id"))
        .applyInPandas(
            _make_cell_best_scorer(), "query_id bigint, cos_micro bigint"
        )
    )
    best = cell_best.groupBy("query_id").agg(F.max("cos_micro").alias("best_micro"))
    all_tests = e.select("vec_id").filter(
        _split_name(F.col("vec_id")) == "test"
    ).select(F.col("vec_id").alias("query_id"))
    return (
        all_tests.join(best, "query_id", "left")
        .select(
            F.coalesce(
                (F.floor(F.col("best_micro") / F.lit(50000.0)) * 5).cast("int"),
                F.lit(-999),
            ).alias("cos_bucket_pct")
        )
        .groupBy("cos_bucket_pct")
        .agg(F.count("*").cast("bigint").alias("n_test"))
        .orderBy("cos_bucket_pct")
    )


_LEAK_CELL = 256  # target IVF cell size for the leakage scan

def _split_leakage_semantic_oracle() -> str:
    return f"""
WITH e AS ({_DUCK_EMB}),
{duck_int8_assign_ctes()},
sp AS (
  SELECT vec_id,
         CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM (
    SELECT vec_id,
           CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 4))
                AS INTEGER) % 100 AS b
    FROM e
  )
),
train AS (
  SELECT q8.vec_id AS cand_id, q8.c8, a.centroid_id
  FROM q8
  JOIN assign_scored a ON a.vec_id = q8.vec_id AND a.rn = 1
  JOIN sp ON sp.vec_id = q8.vec_id AND sp.split = 'train'
),
tests AS (
  SELECT q8.vec_id AS query_id, q8.c8, a.centroid_id
  FROM q8
  JOIN assign_scored a ON a.vec_id = q8.vec_id AND a.rn <= 2
  JOIN sp ON sp.vec_id = q8.vec_id AND sp.split = 'test'
),
best AS (
  SELECT t.query_id, max({_duck_cos8_micro('t', 'tr')}) AS best_micro
  FROM tests t
  JOIN train tr USING (centroid_id)
  WHERE t.query_id <> tr.cand_id
  GROUP BY t.query_id
)
SELECT coalesce(CAST(floor(best_micro / 50000.0) * 5 AS INTEGER), -999)
         AS cos_bucket_pct,
       CAST(count(*) AS BIGINT) AS n_test
FROM (SELECT vec_id AS query_id FROM sp WHERE split = 'test')
LEFT JOIN best USING (query_id)
GROUP BY cos_bucket_pct
ORDER BY cos_bucket_pct
"""


def _make_cell_knn_scorer():
    """Factory for the per-cell 1-NN scorer (closure, never
    module-level — cloudpickle serializes module functions by
    reference and the grading driver's Python workers don't have
    /root/repo on sys.path; the driver-sim gotcha).

    Cogrouped per IVF cell: probes (nq, 64 int8 codes) × members
    (nc, 64) score as ONE numpy int64 matmul — exact integer dot
    products (≤ 64·127² ≈ 1M, nowhere near 2^53), so the cosine micro
    value floor(d / (√qq·√cc) · 1e6 + 0.5) is a deterministic integer
    in every engine (sqrt/χ/· each correctly rounded over exact
    inputs; numpy applies each ufunc as a separate pass, so no FMA
    contraction can re-associate the expression)."""
    import numpy as np
    import pandas as pd

    _EMPTY = {
        "query_id": np.array([], dtype=np.int64),
        "cos_micro": np.array([], dtype=np.int64),
        "neg_cand": np.array([], dtype=np.int64),
        "nn_label": np.array([], dtype=np.int32),
    }
    _NEG = np.iinfo(np.int64).min

    def score(probes: pd.DataFrame, members: pd.DataFrame) -> pd.DataFrame:
        if len(probes) == 0 or len(members) == 0:
            return pd.DataFrame(_EMPTY)
        # float64 BLAS matmul of int8 codes is EXACT: every product
        # (≤127²) and partial sum (≤64·127² ≈ 1M) is an integer far
        # below 2^53, so dgemm's accumulation order cannot round.
        q = np.stack(probes["q8"].to_numpy()).astype(np.float64)
        c = np.stack(members["c8"].to_numpy()).astype(np.float64)
        qid = probes["query_id"].to_numpy(dtype=np.int64)
        cid = members["cand_id"].to_numpy(dtype=np.int64)
        clab = members["cand_label"].to_numpy(dtype=np.int32)
        qn = np.sqrt((q * q).sum(axis=1))
        cn = np.sqrt((c * c).sum(axis=1))
        d = q @ c.T
        s = np.floor(d / (qn[:, None] * cn[None, :]) * 1e6 + 0.5).astype(np.int64)
        s[qid[:, None] == cid[None, :]] = _NEG  # never your own 1-NN
        best = s.max(axis=1)
        hit = best > _NEG
        # tiebreak: among max-score cands, the smallest cand_id
        tied_cand = np.where(s == best[:, None], cid[None, :], np.iinfo(np.int64).max)
        j = tied_cand.argmin(axis=1)
        return pd.DataFrame(
            {
                "query_id": qid[hit],
                "cos_micro": best[hit],
                "neg_cand": -cid[j][hit],
                "nn_label": clab[j][hit],
            }
        )

    return score


def _make_cell_best_scorer():
    """Factory for the per-cell best-cosine scorer (closure; same
    cloudpickle rule): like `_make_cell_knn_scorer` but label-free —
    emits each query's best int8 cosine micro score among the cell's
    members (self-pairs excluded). Used by `split_leakage_semantic`,
    where only the best-match VALUE is bucketed."""
    import numpy as np
    import pandas as pd

    _EMPTY = {
        "query_id": np.array([], dtype=np.int64),
        "cos_micro": np.array([], dtype=np.int64),
    }
    _NEG = np.iinfo(np.int64).min

    def score(probes: pd.DataFrame, members: pd.DataFrame) -> pd.DataFrame:
        if len(probes) == 0 or len(members) == 0:
            return pd.DataFrame(_EMPTY)
        q = np.stack(probes["q8"].to_numpy()).astype(np.float64)
        c = np.stack(members["c8"].to_numpy()).astype(np.float64)
        qid = probes["query_id"].to_numpy(dtype=np.int64)
        cid = members["cand_id"].to_numpy(dtype=np.int64)
        qn = np.sqrt((q * q).sum(axis=1))
        cn = np.sqrt((c * c).sum(axis=1))
        s = np.floor(
            (q @ c.T) / (qn[:, None] * cn[None, :]) * 1e6 + 0.5
        ).astype(np.int64)
        s[qid[:, None] == cid[None, :]] = _NEG
        best = s.max(axis=1)
        hit = best > _NEG
        return pd.DataFrame({"query_id": qid[hit], "cos_micro": best[hit]})

    return score


def _make_cell_assigner(cent_ids, cent_codes):
    """Factory for the int8 coarse-quantizer assignment (closure; same
    cloudpickle rule as the scorer). Captures the K×64 centroid code
    matrix — driver-collected bounded metadata, the IVF probe-list
    precedent (~500 KB at 100×) — and emits each vector's top-2 cells
    by int8 cosine micro score.

    Ranking key: score_micro·K − centroid_rank. Distinct micro scores
    differ by ≥1, so the ·K stride strictly dominates the rank term —
    argmax IS (score desc, centroid_id asc) with zero float
    comparisons. Scores are exact (same <2^53 integer-dot argument as
    the scorer), so both engines rank identically."""
    import numpy as np
    import pandas as pd

    order = np.argsort(np.asarray(cent_ids, dtype=np.int64))
    cids = np.asarray(cent_ids, dtype=np.int64)[order]
    cmat = np.asarray(cent_codes, dtype=np.float64)[order]  # (K, 64)
    k = len(cids)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["c8"].to_numpy()).astype(np.float64)
            xn = np.sqrt((x * x).sum(axis=1))
            s = np.floor(
                (x @ cmat.T) / (xn[:, None] * cnorm[None, :]) * 1e6 + 0.5
            ).astype(np.int64)
            key = s * np.int64(k) - np.arange(k, dtype=np.int64)[None, :]
            top1 = key.argmax(axis=1)
            key[np.arange(len(pdf)), top1] = np.iinfo(np.int64).min
            top2 = key.argmax(axis=1)
            out = pd.concat(
                [
                    pdf.assign(centroid_id=cids[top1], rn=np.int32(1)),
                    pdf.assign(centroid_id=cids[top2], rn=np.int32(2)),
                ],
                ignore_index=True,
            )
            yield out[["vec_id", "label", "c8", "centroid_id", "rn"]]

    return assign


def int8_assign2(e: DataFrame, k: int) -> DataFrame:
    """Shared int8 coarse-quantizer assignment: quantize every vector
    to the symmetric int8 code (`quantize_int8` layout, amax>0 guard),
    collect the K seed-centroid codes to the driver (K×64 ints —
    bounded metadata, the IVF probe-list precedent) and emit the top-2
    cells per vector via `_make_cell_assigner`'s BLAS matmul. ONE
    assignment pass serves both cell membership (rn=1) and the probe
    list (rn<=2); the result is materialized once (localCheckpoint)
    for its multiple consumers — this IS the inverted-file build, the
    thing `ann_ivf_persisted` keeps on disk at corpus scale.
    Consumers: `knn_label_agreement`, `curation_diversity_sample`
    (oracle twin: `duck_int8_assign_ctes`)."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    code = F.transform(v, lambda x: (x / (amax / F.lit(127.0))).cast("int"))
    codes = e.select(
        "vec_id",
        F.col("label").cast("int").alias("label"),
        amax.alias("amax"),
        code.alias("c8"),
    ).filter(F.col("amax") > 0)
    cent_rows = (
        codes.filter(
            (F.col("vec_id") >= _N_QUERIES) & (F.col("vec_id") < _N_QUERIES + k)
        )
        .select("vec_id", "c8")
        .collect()
    )
    schema = "vec_id bigint, label int, c8 array<int>, centroid_id bigint, rn int"
    if not cent_rows:
        # Degenerate store: no seed centroid in [_N_QUERIES, _N_QUERIES+k)
        # survived the amax>0 filter. The DuckDB twin's `cents8` CTE is
        # empty and `assign_scored` degrades to zero rows; match that
        # instead of letting `_make_cell_assigner` matmul a zero-width
        # centroid matrix inside mapInPandas (divergent failure modes —
        # ADVICE r8).
        return codes.sparkSession.createDataFrame([], schema)
    return codes.mapInPandas(
        _make_cell_assigner(
            [r["vec_id"] for r in cent_rows], [list(r["c8"]) for r in cent_rows]
        ),
        schema,
    ).localCheckpoint()


def duck_int8_assign_ctes() -> str:
    """DuckDB twin of `int8_assign2` as a linear CTE chain ending in
    ``assign_scored(vec_id, centroid_id, rn)`` — expects ``e`` (the
    `_DUCK_EMB` frame) already defined upstream."""
    return f"""kk AS (SELECT GREATEST({_IVF_K}, count(*) // {_LEAK_CELL}) AS k FROM e),
q8 AS (
  SELECT vec_id, label,
         list_transform(v, x -> CAST(trunc(x / (amax / 127.0)) AS DOUBLE))
           AS c8
  FROM (SELECT vec_id, label, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
        FROM e)
  WHERE amax > 0
),
cents8 AS (
  SELECT vec_id AS centroid_id, c8 FROM q8, kk
  WHERE vec_id >= {_N_QUERIES} AND vec_id < {_N_QUERIES} + kk.k
),
assign_scored AS (
  SELECT a.vec_id, k.centroid_id,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY {_DUCK_CENT_COS8_MICRO} DESC,
                                     k.centroid_id ASC) AS rn
  FROM (SELECT vec_id, c8 FROM q8) a
  CROSS JOIN (SELECT centroid_id, c8 FROM cents8) k
)"""


def knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label confusion matrix — the standard embedding-quality
    probe run in-engine: every vector finds its nearest OTHER vector
    (via the same auto-sized IVF cell path as `split_leakage_semantic`:
    nprobe=1 membership, nprobe=2 probes, only cell-sharing pairs
    scored) and the matrix counts (label, nn_label) pairs. A strong
    embedding puts same-label points together (diagonal mass = 1-NN
    accuracy, the metric embedding papers report); heavy off-diagonal
    cells name the confusable label PAIRS — mislabeled data or a
    collapsed embedding, per cell. Vectors whose probed cells hold no
    other vector report nn_label = -1 (coverage loss stays visible).

    r8 scoring layout (the r7 verdict ask): every-vector-is-a-query
    ops cannot afford Spark's interpreted higher-order fold per pair
    (7.0 s at sf0.1, the battery's heaviest constant). The WHOLE
    pipeline — coarse-quantizer assignment AND pair scoring — now
    runs on SYMMETRIC int8 codes: trunc(x / (max|x|/127)), exact
    integers, the `quantize_int8` layout. Assignment is one
    `mapInPandas` BLAS matmul per Arrow batch against the
    driver-collected K×64 centroid codes (bounded metadata, the IVF
    probe-list precedent); pair scoring cogroups per cell through one
    `applyInPandas` matmul (the per-cell block never exceeds
    ~cell²·8 B ≈ 1 MB because K auto-sizes to constant
    ~256-vector cells). float64 dgemm over int8 codes is EXACT
    (every product and partial sum is an integer < 2^53), so the
    oracle pins the identical arithmetic and cross-engine determinism
    is strictly better than the float fold it replaces: no float
    fold-order anywhere. The shuffle moves int8-width codes instead
    of float64 vectors (4× narrower both sides). Per-cell winners
    (≤2 rows per query) reduce with max(struct) — map-side
    combinable, no per-query window sort.

    K auto-sizes as max({_IVF_K}, N DIV {_LEAK_CELL}) in both engines
    (the `split_leakage_semantic` lesson: the query side grows with
    the corpus, so fixed K is quadratic)."""
    e = load_table(spark, sf_dir, "embeddings")
    k = max(_IVF_K, e.count() // _LEAK_CELL)
    assign2 = int8_assign2(e, k)
    members = assign2.filter(F.col("rn") == 1).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        "centroid_id",
        "c8",
    )
    probes = assign2.select(
        F.col("vec_id").alias("query_id"),
        "centroid_id",
        F.col("c8").alias("q8"),
    )
    cell_best = (
        probes.groupBy("centroid_id")
        .cogroup(members.groupBy("centroid_id"))
        .applyInPandas(
            _make_cell_knn_scorer(),
            "query_id bigint, cos_micro bigint, neg_cand bigint, nn_label int",
        )
    )
    best = (
        cell_best.groupBy("query_id")
        .agg(F.max(F.struct("cos_micro", "neg_cand", "nn_label")).alias("b"))
        .select("query_id", F.col("b.nn_label").alias("nn_label"))
    )
    base = e.select("vec_id", "label")
    return (
        base.join(best, base.vec_id == best.query_id, "left")
        .select(
            "label",
            F.coalesce(F.col("nn_label"), F.lit(-1)).cast("int").alias("nn_label"),
        )
        .groupBy("label", "nn_label")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy("label", "nn_label")
    )


def _duck_cos8_micro(l: str, r: str) -> str:
    """The exact expression the numpy scorers evaluate: exact integer
    dot over int8 codes (integer-valued DOUBLEs on the DuckDB side —
    exact below 2^53), sqrt·sqrt product, one division, micro
    floor-round."""
    return (
        f"CAST(floor((list_dot_product({l}.c8, {r}.c8)"
        f" / (sqrt(list_dot_product({l}.c8, {l}.c8))"
        f" * sqrt(list_dot_product({r}.c8, {r}.c8))))"
        " * 1000000.0 + 0.5) AS BIGINT)"
    )


_DUCK_COS8_MICRO = _duck_cos8_micro("p", "m")
_DUCK_CENT_COS8_MICRO = _duck_cos8_micro("a", "k")

KNN_LABEL_AGREEMENT_ORACLE = f"""
WITH e AS ({_DUCK_EMB}),
{duck_int8_assign_ctes()},
members AS (
  SELECT q8.vec_id AS cand_id, q8.label AS cand_label, q8.c8, a.centroid_id
  FROM q8 JOIN assign_scored a ON a.vec_id = q8.vec_id AND a.rn = 1
),
probes AS (
  SELECT q8.vec_id AS query_id, q8.c8, a.centroid_id
  FROM q8 JOIN assign_scored a ON a.vec_id = q8.vec_id AND a.rn <= 2
),
best AS (
  SELECT query_id, nn_label FROM (
    SELECT p.query_id, m.cand_label AS nn_label,
           row_number() OVER (PARTITION BY p.query_id
                              ORDER BY {_DUCK_COS8_MICRO} DESC, m.cand_id ASC)
             AS rn
    FROM probes p
    JOIN members m USING (centroid_id)
    WHERE p.query_id <> m.cand_id
  ) WHERE rn = 1
)
SELECT e.label,
       CAST(coalesce(b.nn_label, -1) AS INTEGER) AS nn_label,
       CAST(count(*) AS BIGINT) AS n
FROM e LEFT JOIN best b ON b.query_id = e.vec_id
GROUP BY e.label, coalesce(b.nn_label, -1)
ORDER BY label, nn_label
"""


# --- MMR diversified retrieval (Carbonell & Goldstein, SIGIR 1998) --------

_MMR_SHORTLIST = 50  # relevance shortlist fed to the greedy selection
_MMR_K = 10  # diversified results returned per query
_MMR_LAMBDA = 0.7  # relevance weight; repr() round-trips to the same double
_MMR_MU = 0.3  # redundancy penalty — EXPLICIT literal, not 1-λ (which is
               # 0.30000000000000004 in binary and would diverge from the
               # SQL literal 0.3)


def hybrid_retrieval_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance diversification (Carbonell &
    Goldstein, SIGIR 1998) of a per-query relevance shortlist: greedily
    pick argmax over unpicked candidates of
    ``λ·rel(q,c) − (1−λ)·max_{s∈picked} sim(c,s)`` for {_MMR_K} rounds
    — the classic redundancy-penalized reranker between retrieval and
    the context window (RAG result diversification, few-shot example
    selection).

    Engine design — no pair table, no Python stage: the greedy loop is
    {_MMR_K} unrolled rounds of ONE unordered window aggregate over the
    shortlist state table (one row per (query, candidate) carrying the
    int8 code, the current max-similarity-to-picked and the pick rank).
    Per round, ``max(struct(unpicked, score, -cand_id, code, norm))``
    over the query partition is a map-side-combinable argmax (the
    `_keep_best` pattern) that simultaneously ELECTS the new pick and
    BROADCASTS its code/norm to every row of the partition; each
    unpicked row then updates its ``maxsim`` with ONE similarity
    evaluation against that pick. The whole loop is one exchange on
    query_id + K chained whole-partition aggregates of
    {_MMR_SHORTLIST} rows per query — no per-round sort, no join, cost
    O(K·S·d) per query, independent of corpus size.

    Determinism: symmetric int8 codes (the `knn_label_agreement`
    layout) make every dot product an exact int64; norms/similarities
    derive from those integers via correctly-rounded IEEE ops (sqrt,
    div, mul, sub), so doubles are bit-identical cross-engine and the
    greedy argmax (tie-break cand_id) picks the same candidate in both.
    λ and the redundancy weight are interpolated as the literals 0.7 /
    0.3 in both engines (NOT computed as 1−λ, which differs in the
    last ulp).

    At 100 TB the shortlist should come from the ANN index — that
    composition is registered as `hybrid_retrieval_mmr_ann` (PQ-ADC
    shortlist, shared greedy core); the exact int8 scan here anchors
    the oracle, same convention as `hybrid_retrieval_rerank`.
    """
    codes = _int8_scoring_codes(load_table(spark, sf_dir, "embeddings"))
    queries = F.broadcast(
        codes.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("c8").alias("q8"),
            F.col("nrm8").alias("qn"),
        )
    )
    rel = (
        queries.crossJoin(
            codes.select(
                F.col("vec_id").alias("cand_id"),
                F.col("c8").alias("cv8"),
                F.col("nrm8").alias("cn"),
            )
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            "cv8",
            "cn",
            (_dot(F.col("q8"), F.col("cv8")) / F.col("qn") / F.col("cn")).alias(
                "rel"
            ),
        )
    )
    w_rel = Window.partitionBy("query_id").orderBy(F.desc("rel"), F.asc("cand_id"))
    shortlist = (
        rel.withColumn("rn0", F.row_number().over(w_rel))
        .filter(F.col("rn0") <= _MMR_SHORTLIST)
        .drop("rn0")
    )
    return _mmr_greedy(shortlist)


def _int8_scoring_codes(e: DataFrame) -> DataFrame:
    """(vec_id, c8, nrm8): the symmetric int8 scoring layout — integer
    codes so every dot is an exact int64. Shared by the MMR family and
    `topk_cosine_int8`'s candidate side; `int8_assign2` builds the same
    quantization inline because it carries `label` and defers norms to
    its BLAS assigner (change the scale rule there in lockstep)."""
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.array_max(F.transform(v, F.abs))
    code = F.transform(v, lambda x: (x / (amax / F.lit(127.0))).cast("int"))
    return (
        e.select(F.col("vec_id"), amax.alias("amax"), code.alias("c8"))
        .filter(F.col("amax") > 0)
        .withColumn("nrm8", F.sqrt(_dot(F.col("c8"), F.col("c8"))))
        .drop("amax")
    )


def _mmr_greedy(shortlist: DataFrame) -> DataFrame:
    """The shared {_MMR_K}-round greedy core over a shortlist of
    (query_id, cand_id, cv8, cn, rel) rows — both the exact anchor and
    the ANN-armed variant run THIS loop, so the greedy semantics cannot
    drift between them.

    ``maxsim`` is the TRUE max over picked similarities — NULL until
    the candidate has any picked neighbor (exactly round 1, where the
    paper's max-over-empty-set convention makes the first pick the
    pure relevance argmax), and thereafter allowed to be NEGATIVE:
    cosines to the picked set below zero must BOOST the candidate
    (−μ·maxsim > 0), which a 0-floored accumulator would silently
    clamp away (caught in review — the first cut initialized maxsim
    to 0.0). The NULL/greatest handling is explicit CASE/COALESCE in
    both engines, never greatest-ignores-NULL semantics."""
    # localCheckpoint truncates the upstream lineage so the K unrolled
    # rounds below optimize over a tiny leaf, not the full scan.
    state = shortlist.select(
        "query_id",
        "cand_id",
        "cv8",
        "cn",
        "rel",
        F.lit(None).cast("double").alias("maxsim"),
        F.lit(None).cast("int").alias("prk"),
        F.lit(None).cast("double").alias("pick_score"),
    ).localCheckpoint()
    lam, mu = F.lit(_MMR_LAMBDA), F.lit(_MMR_MU)
    w_q = Window.partitionBy("query_id")
    # round-invariant expression columns hoisted out of the loop (r13:
    # the K unrolled rounds spent ~2.6 s of DRIVER time re-building and
    # re-analyzing these trees per round — plan construction, not
    # execution, dominated the entry); each round is now two
    # projections with identical semantics.
    # struct-max argmax: unpicked-first, then score, then min cand_id
    # (via max of the negation); the winner's code/norm ride along in
    # the struct so no second pass is needed
    score = F.when(F.col("maxsim").isNull(), lam * F.col("rel")).otherwise(
        lam * F.col("rel") - mu * F.col("maxsim")
    )
    best = F.max(
        F.struct(
            F.col("prk").isNull().alias("u"),
            score.alias("s"),
            (-F.col("cand_id")).alias("nid"),
            F.col("cv8").alias("c8"),
            F.col("cn").alias("n"),
        )
    ).over(w_q)
    is_pick = (
        F.col("best.u")
        & F.col("prk").isNull()
        & (F.col("cand_id") == -F.col("best.nid"))
    )
    sim_to_best = (
        _dot(F.col("cv8"), F.col("best.c8")) / F.col("cn") / F.col("best.n")
    )
    new_maxsim = (
        F.when(
            F.col("best.u")
            & F.col("prk").isNull()
            & (F.col("cand_id") != -F.col("best.nid")),
            F.when(F.col("maxsim").isNull(), sim_to_best).otherwise(
                F.greatest(F.col("maxsim"), sim_to_best)
            ),
        )
        .otherwise(F.col("maxsim"))
        .alias("maxsim")
    )
    new_pick_score = (
        F.when(is_pick, F.col("score"))
        .otherwise(F.col("pick_score"))
        .alias("pick_score")
    )
    for r in range(1, _MMR_K + 1):
        st = state.select(
            "query_id",
            "cand_id",
            "cv8",
            "cn",
            "rel",
            "maxsim",
            "prk",
            "pick_score",
            score.alias("score"),
            best.alias("best"),
        )
        state = st.select(
            "query_id",
            "cand_id",
            "cv8",
            "cn",
            "rel",
            new_maxsim,
            F.when(is_pick, F.lit(r)).otherwise(F.col("prk")).alias("prk"),
            new_pick_score,
        )
    return (
        state.filter(F.col("prk").isNotNull())
        .select(
            "query_id",
            F.col("prk").alias("rank"),
            "cand_id",
            det_round(F.col("rel"), 6).alias("rel6"),
            det_round(F.col("pick_score"), 6).alias("mmr6"),
        )
        .orderBy("query_id", "rank")
    )


def _mmr_round_ctes() -> str:
    """The {_MMR_K} unrolled greedy rounds as single-reference CTEs
    (each ``st{{r}}`` reads ``st{{r-1}}`` EXACTLY once — the
    `lsh_components_unrolled_ctes` lesson: DuckDB inlines a CTE per
    reference, so a twice-referenced round would double the upstream
    subtree per pass). Each round's pick election + code broadcast is
    the same unordered ``max(struct(unpicked, score, -cand_id, code,
    norm))`` window aggregate the Spark `_mmr_greedy` loop runs
    (struct comparison is lexicographic in both engines, booleans
    order false < true in both), so every double is bit-identical.
    Shared by the exact anchor and the ANN-armed variant, mirroring
    the shared Spark core."""
    rounds = []
    for r in range(1, _MMR_K + 1):
        rounds.append(
            f"""st{r} AS (
  SELECT query_id, cand_id, cv8, cn, rel,
         CASE WHEN best.u AND prk IS NULL AND cand_id <> -best.nid
              THEN CASE WHEN maxsim IS NULL
                        THEN list_dot_product(cv8, best.c8) / cn / best.n
                        ELSE greatest(maxsim,
                                      list_dot_product(cv8, best.c8) / cn / best.n)
                   END
              ELSE maxsim END AS maxsim,
         CASE WHEN best.u AND prk IS NULL AND cand_id = -best.nid
              THEN {r} ELSE prk END AS prk,
         CASE WHEN best.u AND prk IS NULL AND cand_id = -best.nid
              THEN score ELSE pick_score END AS pick_score
  FROM (
    SELECT *,
           max({{'u': prk IS NULL, 's': score, 'nid': -cand_id,
                 'c8': cv8, 'n': cn}})
             OVER (PARTITION BY query_id) AS best
    FROM (
      SELECT *, CASE WHEN maxsim IS NULL THEN {_MMR_LAMBDA} * rel
                     ELSE {_MMR_LAMBDA} * rel - {_MMR_MU} * maxsim
                END AS score
      FROM st{r - 1}
    )
  )
)"""
        )
    return ",\n".join(rounds)


#: symmetric-int8 scoring codes (DuckDB twin of `_int8_scoring_codes`)
_MMR_CODES_SQL = f"""e AS ({_DUCK_EMB}),
c8t AS (
  SELECT vec_id,
         list_transform(v, x -> CAST(CAST(trunc(x / (amax / 127.0)) AS INT)
                                     AS DOUBLE)) AS c8
  FROM (SELECT vec_id, v,
               list_aggregate(list_transform(v, x -> abs(x)), 'max') AS amax
        FROM e)
  WHERE amax > 0
),
n8 AS (SELECT vec_id, c8, sqrt(list_dot_product(c8, c8)) AS nrm FROM c8t)"""

_MMR_TAIL_SQL = f"""SELECT query_id, prk AS rank, cand_id,
       {det_round_sql('rel')} AS rel6,
       {det_round_sql('pick_score')} AS mmr6
FROM st{_MMR_K}
WHERE prk IS NOT NULL
ORDER BY query_id, rank"""


def _mmr_oracle() -> str:
    return f"""
WITH {_MMR_CODES_SQL},
relt AS (
  SELECT q.vec_id AS query_id, c.vec_id AS cand_id, c.c8 AS cv8, c.nrm AS cn,
         list_dot_product(q.c8, c.c8) / q.nrm / c.nrm AS rel
  FROM n8 q CROSS JOIN n8 c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
),
st0 AS (
  SELECT query_id, cand_id, cv8, cn, rel,
         CAST(NULL AS DOUBLE) AS maxsim, CAST(NULL AS INT) AS prk,
         CAST(NULL AS DOUBLE) AS pick_score
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, cand_id ASC) AS rn0
        FROM relt)
  WHERE rn0 <= {_MMR_SHORTLIST}
),
{_mmr_round_ctes()}
{_MMR_TAIL_SQL}
"""


def hybrid_retrieval_mmr_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`hybrid_retrieval_mmr`'s corpus-scale composition (the
    `hybrid_retrieval_rrf_ann` convention — every exact anchor gets its
    scale path registered beside it): the shortlist comes from the
    PQ-ADC integer scan (`sim_topk_cosine_pq`'s packed-code stage — the
    M-byte-per-vector code table is the only corpus-wide scan; the
    full-precision store is never touched), then the SAME 10-round
    greedy core (`_mmr_greedy`) diversifies it on the symmetric-int8
    scoring layout. Relevance inside the greedy is the int8 cosine —
    identical arithmetic to the anchor, so anchor-vs-ANN diffs isolate
    the shortlist, never the reranker."""
    e = load_table(spark, sf_dir, "embeddings")
    shortlist_ids = _adc_shortlist_ids(spark, sf_dir)
    codes = _int8_scoring_codes(e)
    queries = F.broadcast(
        codes.filter(F.col("vec_id") < _N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("c8").alias("q8"),
            F.col("nrm8").alias("qn"),
        )
    )
    shortlist = (
        shortlist_ids.join(
            codes.select(
                F.col("vec_id").alias("cand_id"),
                F.col("c8").alias("cv8"),
                F.col("nrm8").alias("cn"),
            ),
            "cand_id",
        )
        .join(queries, "query_id")
        .select(
            "query_id",
            "cand_id",
            "cv8",
            "cn",
            (_dot(F.col("q8"), F.col("cv8")) / F.col("qn") / F.col("cn")).alias(
                "rel"
            ),
        )
    )
    return _mmr_greedy(shortlist)


def _mmr_ann_oracle() -> str:
    return f"""
WITH
{_PQ_SUB_SQL},
{_PQ_ADC_SL_SQL},
{_MMR_CODES_SQL},
st0 AS (
  SELECT sl.query_id, sl.cand_id, c.c8 AS cv8, c.nrm AS cn,
         list_dot_product(q.c8, c.c8) / q.nrm / c.nrm AS rel,
         CAST(NULL AS DOUBLE) AS maxsim, CAST(NULL AS INT) AS prk,
         CAST(NULL AS DOUBLE) AS pick_score
  FROM adc_shortlist sl
  JOIN n8 q ON q.vec_id = sl.query_id
  JOIN n8 c ON c.vec_id = sl.cand_id
),
{_mmr_round_ctes()}
{_MMR_TAIL_SQL}
"""


QUERIES: dict[str, QuerySpec] = {
    "knn_label_agreement": QuerySpec(
        "knn_label_agreement",
        knn_label_agreement,
        KNN_LABEL_AGREEMENT_ORACLE,
        "1-NN label confusion matrix via auto-sized IVF cells on the "
        "symmetric-int8 scoring layout (exact BLAS integer dots; "
        "diagonal mass = 1-NN accuracy; off-diagonal names "
        "confusable label pairs)",
    ),
    "split_leakage_semantic": QuerySpec(
        "split_leakage_semantic",
        split_leakage_semantic,
        _split_leakage_semantic_oracle(),
        "test-vs-train best-cosine histogram via IVF cells: semantic "
        "near-twin contamination across the split boundary",
    ),
    "sim_ann_ivf_trained": QuerySpec(
        "sim_ann_ivf_trained",
        ann_ivf_trained,
        _ann_ivf_trained_oracle(),
        "IVF probe over the k-means-trained codebook (nprobe=1) with "
        "exact cosine rerank — the trained twin of sim_ann_ivf",
    ),
    "sim_kmeans_train": QuerySpec(
        "sim_kmeans_train",
        sim_kmeans_train,
        _kmeans_train_oracle(),
        "distributed Lloyd's k-means training loop: per-round moved-count "
        "and integer inertia (the IVF coarse-quantizer trainer)",
    ),
    "sim_kmeans_centroids": QuerySpec(
        "sim_kmeans_centroids",
        sim_kmeans_centroids,
        _kmeans_centroids_oracle(),
        "trained coarse-quantizer codebook: final centroids (micro-unit "
        "csv) + member counts after the Lloyd rounds",
    ),
    "dedup_semantic_clusters": QuerySpec(
        "dedup_semantic_clusters",
        dedup_semantic_clusters,
        DEDUP_SEMANTIC_ORACLE,
        "SemDeDup: within-cell cosine near-dup drop list over the IVF clustering",
    ),
    "hybrid_retrieval_rerank": QuerySpec(
        "hybrid_retrieval_rerank",
        hybrid_retrieval_rerank,
        _hybrid_oracle(),
        "two-stage retrieval: BM25 recall top-50 → exact cosine rerank top-10",
    ),
    "hybrid_retrieval_rrf": QuerySpec(
        "hybrid_retrieval_rrf",
        hybrid_retrieval_rrf,
        _rrf_oracle(),
        "reciprocal-rank fusion of independent BM25 and cosine top-50 lists",
    ),
    "hybrid_retrieval_mmr": QuerySpec(
        "hybrid_retrieval_mmr",
        hybrid_retrieval_mmr,
        _mmr_oracle(),
        "MMR diversified top-10 over the relevance shortlist: 10 "
        "unrolled greedy rounds of window argmax on the symmetric-int8 "
        "scoring layout (redundancy-penalized RAG reranker)",
    ),
    "hybrid_retrieval_mmr_ann": QuerySpec(
        "hybrid_retrieval_mmr_ann",
        hybrid_retrieval_mmr_ann,
        _mmr_ann_oracle(),
        "MMR over the PQ-ADC integer shortlist (the anchor's "
        "corpus-scale path: code-table scan only, shared greedy core)",
    ),
    "hybrid_retrieval_rrf_ann": QuerySpec(
        "hybrid_retrieval_rrf_ann",
        hybrid_retrieval_rrf_ann,
        _rrf_ann_oracle(),
        "RRF with the vector arm on the PQ-ADC shortlist + refine "
        "(the corpus-scale fusion: no linear scan of the embedding store)",
    ),
    "sim_ann_recall_report": QuerySpec(
        "sim_ann_recall_report",
        sim_ann_recall_report,
        _recall_report_oracle(),
        "micro-recall@k of every ANN method vs the exact top-k (index QA)",
    ),
    "sim_matryoshka_recall": QuerySpec(
        "sim_matryoshka_recall",
        matryoshka_recall,
        _matryoshka_oracle(),
        "recall@k of prefix-truncated (Matryoshka) vectors at dims "
        "8/16/32/64 vs full-dimension truth (truncate-the-store QA)",
    ),
    "sim_topk_cosine": QuerySpec(
        "sim_topk_cosine",
        topk_cosine,
        TOPK_ORACLE,
        "brute-force cosine top-k (exactness baseline/oracle anchor — "
        "NON-PRODUCTION at scale; use sim_ann_ivf / sim_ann_lsh_*)",
    ),
    "sim_int8_topk_agreement": QuerySpec(
        "sim_int8_topk_agreement",
        int8_topk_agreement,
        INT8_TOPK_AGREEMENT_ORACLE,
        "per-query overlap of float-exact vs int8-ADC top-k (the "
        "measured quantization-QA gate for serving from int8 codes)",
    ),
    "sim_topk_cosine_int8": QuerySpec(
        "sim_topk_cosine_int8",
        topk_cosine_int8,
        TOPK_INT8_ORACLE,
        "asymmetric int8 ADC top-k: scale-cancelled cosine over quantized codes",
    ),
    "embedding_quantize_int8": QuerySpec(
        "embedding_quantize_int8",
        quantize_int8,
        QUANTIZE_ORACLE,
        "symmetric per-vector int8 quantization",
    ),
    "sim_topk_cosine_pandas": QuerySpec(
        "sim_topk_cosine_pandas",
        topk_cosine_pandas,
        TOPK_ORACLE,
        "brute-force top-k via Arrow-vectorized pandas_udf (same oracle; "
        "NON-PRODUCTION at scale — ANN variants are the scale path)",
    ),
    "sim_ann_lsh_multiprobe": QuerySpec(
        "sim_ann_lsh_multiprobe",
        ann_lsh_multiprobe,
        ANN_LSH_MULTIPROBE_ORACLE,
        "multi-probe LSH (Hamming-1 bucket expansion)",
    ),
    "sim_ann_ivf_nprobe2": QuerySpec(
        "sim_ann_ivf_nprobe2",
        ann_ivf_nprobe2,
        ANN_IVF_NPROBE2_ORACLE,
        "IVF ANN, two-cell probe (recall/cost knob)",
    ),
    "sim_ann_ivf": QuerySpec(
        "sim_ann_ivf", ann_ivf, ANN_IVF_ORACLE, "IVF coarse-quantized approximate top-k"
    ),
    "sim_ann_ivfpq": QuerySpec(
        "sim_ann_ivfpq",
        ann_ivfpq,
        ANN_IVFPQ_ORACLE,
        "IVFADC + refine (the full FAISS IVFPQ composition): nprobe=2 "
        "cell pruning, packed-code integer ADC, 50-row exact rerank",
    ),
    "sim_ann_ivf_persisted": QuerySpec(
        "sim_ann_ivf_persisted",
        ann_ivf_persisted,
        ANN_IVF_ORACLE,
        "same IVF top-k probed through the on-disk inverted file "
        "(centroid-partitioned parquet, partition-pruned probe)",
    ),
    "dedup_embedding_cosine": QuerySpec(
        "dedup_embedding_cosine",
        embedding_near_dups,
        NEAR_DUP_ORACLE,
        "embedding near-dup pairs",
    ),
    "sim_ann_lsh": QuerySpec(
        "sim_ann_lsh", ann_lsh, ANN_LSH_ORACLE, "LSH-bucketed approximate top-k"
    ),
    "embedding_pq_codes": QuerySpec(
        "embedding_pq_codes",
        embedding_pq_codes,
        PQ_CODES_ORACLE,
        "product-quantization encode: per-subspace nearest-anchor codes "
        "(the 32x-vs-float32 persisted index artifact)",
    ),
    "sim_topk_cosine_pq": QuerySpec(
        "sim_topk_cosine_pq",
        topk_cosine_pq,
        TOPK_PQ_ORACLE,
        "PQ-ADC shortlist + exact refine: integer ADC over the code "
        "table picks 50/query, only those decode for the exact top-k",
    ),
}
