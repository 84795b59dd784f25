"""Deduplication operators over the `documents` table.

The near-dup PAIR family is one candidate filter then one exact refine
(or estimate), each step written once and composed by every pair entry:
token postings (`_doc_words`, `_doc_shingles`, `_shingles_from`) →
candidates, from the inverted-index token join (`_common_counts`,
prefix-filtered in `_jaccard_pairs_prefix`) or banded MinHash-LSH
(`lsh_bands` → `_band_est`: band-collision join + estimated jaccard;
`lsh_pairs` self-joins a corpus, `incoming_flags` probes a batch against
a corpus index) → exact verify `_verified_counts` (`array_intersect` of
shingle sets) or the estimate `_est_common`, sized by `_doc_counts` +
`_sized` → cut, `_jaccard_cut` or both containment directions
`_containment_dirs`. Beside it: exact fingerprint dedup, SimHash,
blocked fuzzy matching, span-level substring dedup (`span_*`,
`_scrub_*`), the LSH calibration and b-bit reports, and the
Bloom-filter span gate.

Algorithms are the standard public ones: MinHash resemblance sketches
(Broder, "On the resemblance and containment of documents", 1997) with
banded LSH candidate generation (Indyk & Motwani 1998; the banding
scheme as popularized by Mining of Massive Datasets ch. 3), and SimHash
(Charikar, "Similarity estimation techniques from rounding algorithms",
STOC 2002).

Hashing uses md5 hex strings in both engines (Spark `md5` and DuckDB
`md5` produce identical lowercase hex), so minima/equality agree
bit-for-bit and every operator is oracle-checkable.

Scale notes: the exact-jaccard self-joins shuffle |doc x word| rows on
the token — correct but quadratic in hot tokens; they exist as the
verification baseline. Production near-dup at 100 TB is the MinHash-LSH
plan: signature computation is one groupBy(doc, perm), banding is one
groupBy(doc, band), and the candidate join shuffles only band keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.functions.core import det_round, det_round_sql
from kafka_flink_streaming_pipeline_spark.operators import shared_cache
from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.sources.batch import load_table

# --- shared building blocks ----------------------------------------------

_WORDS_SQL = "SELECT doc_id, string_split(text, ' ') AS ws FROM documents"

def _docs_parallel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The documents scan, spread across the cluster. The testdata table
    is one small parquet file → one input split, which would serialize
    every downstream tokenize/hash stage onto a single task; a real
    100 TB corpus arrives as many splits, and this round-robin
    repartition (one cheap shuffle of the raw rows) restores that
    parallelism locally."""
    return load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )


def _doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word) distinct pairs — the inverted index."""
    d = _docs_parallel(spark, sf_dir)
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .distinct()
    )


_DOC_WORDS_SQL = f"""
  SELECT DISTINCT doc_id, unnest(ws) AS word FROM ({_WORDS_SQL}) w
"""


def _doc_shingles(
    spark: SparkSession, sf_dir: str, distinct: bool = True
) -> DataFrame:
    """(doc_id, 3-word shingle) pairs; ``distinct=True`` for set
    semantics (jaccard needs it — one dedup shuffle), ``False`` for the
    raw stream (minhash minima are duplicate-invariant, so skipping the
    distinct lets tokenize → hash → partial-min fuse into the scan
    stage with no shuffle before the per-doc combine).
    """
    return _shingles_from(_docs_parallel(spark, sf_dir), distinct=distinct)


def _shingles_from(docs: DataFrame, distinct: bool = True) -> DataFrame:
    """Shingle stream from any (doc_id, text) frame — shared by the
    batch dedup queries, the LSH index builder and the streaming
    ingest gate (the same Catalyst pipeline runs in a foreachBatch).

    The words array is materialized in its own projection FIRST: putting
    `split(text)` inline inside the transform lambda would embed the
    split into every element_at — re-tokenizing the document once per
    shingle (O(len²) per doc; measured 2x slower end-to-end at sf0.1).
    """
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    ws = F.col("ws")
    n = F.size(ws)
    idx = F.when(n >= 3, F.sequence(F.lit(1), n - 2)).otherwise(
        F.array().cast("array<int>")
    )
    shingles = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ",
            F.element_at(ws, i),
            F.element_at(ws, i + 1),
            F.element_at(ws, i + 2),
        ),
    )
    # set semantics are established INSIDE the array (array_distinct is
    # a per-doc, map-side dedup) rather than by a corpus-wide
    # `.distinct()` — same (doc_id, shingle) set, one less full-stream
    # exchange for every jaccard/containment/verify consumer (r13,
    # guide §2.4: remove shuffles outright)
    if distinct:
        return d.select(
            "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
        )
    return d.select("doc_id", F.explode(shingles).alias("shingle"))


_DOC_SHINGLES_SQL = f"""
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(ws) >= 3
                     THEN list_transform(range(1, len(ws) - 1),
                                         i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
                     ELSE CAST([] AS VARCHAR[]) END) AS shingle
  FROM ({_WORDS_SQL}) w
"""


def _doc_counts(tokens: DataFrame) -> DataFrame:
    """(doc_id, c): the size of each doc's token set."""
    return tokens.groupBy("doc_id").agg(F.count(F.lit(1)).alias("c"))


def _sized(pairs: DataFrame, per_doc: DataFrame, col: str = "c") -> DataFrame:
    """Attach a per-doc (doc_id, `col`) value to both sides of (d1, d2,
    ...) pairs as `col`1, `col`2 — by default the `_doc_counts` c1, c2."""
    return pairs.join(
        per_doc.select(F.col("doc_id").alias("d1"), F.col(col).alias(col + "1")), "d1"
    ).join(per_doc.select(F.col("doc_id").alias("d2"), F.col(col).alias(col + "2")), "d2")


def _common_counts(tokens: DataFrame, token_col: str) -> DataFrame:
    """Inverted-index common-count join shared by the jaccard and
    containment operators: (d1, d2, common, c1, c2) per unordered
    pair (d1 < d2) with any shared token."""
    a = tokens.select(F.col("doc_id").alias("d1"), F.col(token_col).alias("t"))
    b = tokens.select(F.col("doc_id").alias("d2"), F.col(token_col).alias("t"))
    common = (
        a.join(b, (a.t == b.t) & (F.col("d1") < F.col("d2")))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("common"))
    )
    return _sized(common, _doc_counts(tokens))


def _jaccard_cut(counts: DataFrame, threshold: float) -> DataFrame:
    """(d1, d2, common, c1, c2) → (d1, d2, jaccard) with jaccard ≥
    `threshold`, |A∪B| = |A|+|B|-common. No trailing global sort: pair
    output is corpus-sized at scale and the oracle compare is
    order-insensitive."""
    jac = det_round(
        F.col("common").cast("double") / (F.col("c1") + F.col("c2") - F.col("common")), 6
    )
    return counts.select("d1", "d2", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _jaccard_pairs(tokens: DataFrame, token_col: str, threshold: float) -> DataFrame:
    """Inverted-index exact jaccard: join token postings, count common
    tokens per pair, cut at `threshold`."""
    return _jaccard_cut(_common_counts(tokens, token_col), threshold)


def _jaccard_oracle(postings_sql: str, token_col: str, threshold: float) -> str:
    return f"""
WITH dw AS ({postings_sql}),
cnt AS (SELECT doc_id, count(*) AS c FROM dw GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM dw a JOIN dw b ON a.{token_col} = b.{token_col} AND a.doc_id < b.doc_id
  GROUP BY d1, d2
)
SELECT d1, d2,
       {det_round_sql('CAST(common AS DOUBLE) / (c1.c + c2.c - common)', 6)} AS jaccard
FROM common
JOIN cnt c1 ON c1.doc_id = d1
JOIN cnt c2 ON c2.doc_id = d2
WHERE {det_round_sql('CAST(common AS DOUBLE) / (c1.c + c2.c - common)', 6)} >= {threshold}
ORDER BY d1, d2
"""


def _jaccard_pairs_prefix(
    tokens: DataFrame, token_col: str, threshold: float
) -> DataFrame:
    """Exact jaccard pairs via PPJoin-style prefix filtering — the
    100 TB path for the same result `_jaccard_pairs` computes.

    The naive inverted-index join explodes quadratically on frequent
    tokens (a token in f docs yields f² join rows). Prefix filtering
    (Chaudhuri et al. ICDE'06; Xiao et al. WWW'08) is provably
    LOSSLESS for a jaccard threshold t: order tokens globally by
    ascending document frequency; any pair with jaccard ≥ t must share
    a token within each doc's first |d| - ceil(t·|d|) + 1 tokens. So
    the candidate join runs over prefixes only — and because prefixes
    are the RAREST tokens, the frequent-token blowup is gone. A length
    filter (t·|larger| ≤ |smaller|, also implied by jaccard ≥ t)
    prunes candidates before verification, and the exact common-count
    join then runs only over candidate pairs, not all pairs.

    Output is identical to `_jaccard_pairs` (asserted by
    `test_prefix_jaccard_equals_naive`), so the same DuckDB oracle
    verifies both."""
    cnt = _doc_counts(tokens)
    dfreq = tokens.groupBy(token_col).agg(F.count("*").alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", token_col)
    ranked = (
        tokens.join(dfreq, token_col)
        .withColumn("pos", F.row_number().over(w))
        .join(cnt, "doc_id")
    )
    # ceil(t·c) in EXACT integer arithmetic: float ceil of t*c can round
    # the product up past the true ceiling for an unlucky threshold,
    # silently shortening the prefix and breaking the lossless
    # guarantee. Represent t as the rational num/1e6 and use the
    # integer identity ceil(a/b) = floor((a + b - 1) / b). num is
    # FLOORED, not rounded: under-approximating t can only lengthen
    # the prefix (extra candidates, pruned later) — rounding up (e.g.
    # t=2/3 → 666667/1e6 > t) could shorten it and lose pairs.
    t_num, t_den = int(threshold * 1_000_000), 1_000_000
    ceil_tc = F.floor(
        (F.col("c").cast("long") * t_num + (t_den - 1)) / F.lit(t_den)
    )
    prefix = ranked.filter(F.col("pos") <= F.col("c") - ceil_tc + 1)
    a = prefix.select(F.col("doc_id").alias("d1"), F.col(token_col).alias("t"), F.col("c").alias("c1"))
    b = prefix.select(F.col("doc_id").alias("d2"), F.col(token_col).alias("t"), F.col("c").alias("c2"))
    cand = (
        a.join(
            b,
            (a.t == b.t)
            & (F.col("d1") < F.col("d2"))
            # length filter: jaccard ≥ t ⇒ t·max(|A|,|B|) ≤ min(|A|,|B|)
            & (
                F.least("c1", "c2")
                >= F.lit(threshold) * F.greatest("c1", "c2")
            ),
        )
        .select("d1", "d2")
        .distinct()
    )
    p1 = tokens.select(F.col("doc_id").alias("d1"), F.col(token_col).alias("t"))
    p2 = tokens.select(F.col("doc_id").alias("d2"), F.col(token_col).alias("t"))
    common = (
        cand.join(p1, "d1")
        .join(p2, ["d2", "t"])
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("common"))
    )
    return _jaccard_cut(_sized(common, cnt), threshold)


# --- exact dedup ----------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group on the content fingerprint, keep min doc_id."""
    d = load_table(spark, sf_dir, "documents")
    normalized = F.regexp_replace(F.lower(F.col("text")), r"[^a-z0-9]", "")
    return (
        d.select("doc_id", F.md5(normalized.cast("binary")).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("n_copies"))
    )  # unsorted: one row per unique doc — corpus-sized at scale


DEDUP_EXACT_ORACLE = """
SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint,
       min(doc_id) AS keeper_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY fingerprint
ORDER BY keeper_doc_id
"""


# --- exact jaccard (word / 3-gram) ----------------------------------------

_WORD_JACCARD_T = 0.9
_NGRAM_JACCARD_T = 0.5


def dedup_word_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word postings are Zipfian (stopwords hit nearly every doc), so
    the naive inverted-index join is quadratic in hot-word frequency —
    measured 104 s vs 36 s for the lossless prefix-filtered join at
    sf0.1. Shingle postings are near-unique, so the 3-gram variant
    keeps the naive join (2 s vs 7 s the other way): strategy follows
    token skew, output is identical either way."""
    return _jaccard_pairs_prefix(_doc_words(spark, sf_dir), "word", _WORD_JACCARD_T)


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _jaccard_pairs(_doc_shingles(spark, sf_dir), "shingle", _NGRAM_JACCARD_T)


def dedup_ngram_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same exact 3-gram jaccard pairs, prefix-filtered — the scale
    path (see `_jaccard_pairs_prefix`); verified against the identical
    DuckDB oracle as the naive variant."""
    return _jaccard_pairs_prefix(
        _doc_shingles(spark, sf_dir), "shingle", _NGRAM_JACCARD_T
    )


@shared_cache.artifact("shared_exact_pairs")
def exact_ngram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The session-shared EXACT near-dup edge set (3-gram jaccard ≥
    {_NGRAM_JACCARD_T}): the subtree `dedup_components`,
    `dedup_keep_best_per_component` and `split_leakage_check` all
    compose. Built once per session and materialized (see
    `operators/shared_cache.py`): Catalyst cannot share an exchange
    across separate query executions, so without it each consumer
    re-ran the whole shingle→join→aggregate edge pipeline. Uses the
    NAIVE inverted-index join, not prefix filtering: shingle postings
    are near-unique, so the naive join wins (strategy follows token
    skew — see `dedup_word_jaccard`; measured 10×: naive ~60 s vs
    prefix 297 s, the doc-frequency ranking window dominates when
    prefixes barely prune)."""
    return _jaccard_pairs(_doc_shingles(spark, sf_dir), "shingle", _NGRAM_JACCARD_T)


# --- MinHash + LSH --------------------------------------------------------

_N_PERM = 12
_BAND_SIZE = 4
_N_BANDS = _N_PERM // _BAND_SIZE


def _minhash_sigs_columnar(shingles: DataFrame) -> DataFrame:
    """(doc_id, h0..h11): perm p = the 16-hex-char half (p % 2) of
    md5((p // 2) || ':' || shingle) — each md5 digest yields TWO
    independent 64-bit hash functions, so 12 permutations cost 6 md5
    invocations per shingle. One projection computes them all, ONE
    groupBy(doc) takes all 12 minima — no 12x row explosion, no
    (doc, perm) shuffle key. String minima agree across engines. At
    100 TB this is a single map-side-combinable aggregation over the
    shingle stream, and md5 count is the dominant CPU term."""
    digests = [
        F.md5(F.concat(F.lit(f"{g}:"), F.col("shingle")).cast("binary"))
        for g in range(_N_PERM // 2)
    ]
    hashed = shingles.select(
        "doc_id",
        *[
            F.substring(digests[p // 2], 1 + 16 * (p % 2), 16).alias(f"x{p}")
            for p in range(_N_PERM)
        ],
    )
    return hashed.groupBy("doc_id").agg(
        *[F.min(f"x{p}").alias(f"h{p}") for p in range(_N_PERM)]
    )


def lsh_bands(docs: DataFrame) -> DataFrame:
    """(doc_id, sig ARRAY, band, band_key) for any (doc_id, text) frame:
    the LSH index rows `lsh_pairs` self-joins and the streaming gate
    persists and probes (`incoming_flags`). Band key b = concat of the
    signature values whose perm % _N_BANDS == b (same grouping as the
    oracle's perm % 3 with ORDER BY perm). The carried signature is
    UNHEXED to array<binary(8)>: the minima are 16 hex chars = 64 bits,
    the estimate only needs element EQUALITY, and halving the per-row
    payload halves the candidate join's shuffle (what spills at high
    duplication density — PERF.md round-2 scaling notes) and the
    persisted index width."""
    sigs = _minhash_sigs_columnar(_shingles_from(docs, distinct=False))
    sig_arr = F.array(*[F.unhex(F.col(f"h{p}")) for p in range(_N_PERM)]).alias("sig")
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(
                ",", *[F.col(f"h{p}") for p in range(_N_PERM) if p % _N_BANDS == b]
            ).alias("band_key"),
        )
        for b in range(_N_BANDS)
    ]
    return sigs.select(
        "doc_id", sig_arr, F.explode(F.array(*band_structs)).alias("bk")
    ).select("doc_id", "sig", "bk.band", "bk.band_key")


def _band_est(a: DataFrame, b: DataFrame) -> DataFrame:
    """Band-collision join of two `lsh_bands` frames → (d1, d2,
    est_jaccard), d1 from `a` and d2 from `b`, one row per colliding
    pair; est_jaccard is the share of the `_N_PERM` minima that agree,
    det-rounded to 6 dp. The signature ARRAY rides along into the join,
    so the estimate is computed on the joined rows — no second and
    third join back to a signature table (the naive 3-use plan
    recomputed the whole md5 pipeline per use)."""
    l = a.select(F.col("doc_id").alias("d1"), F.col("sig").alias("sig1"), "band", "band_key")
    r = b.select(F.col("doc_id").alias("d2"), F.col("sig").alias("sig2"), "band", "band_key")
    matches = F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y), lambda m: m))
    return (
        l.join(r, ["band", "band_key"])
        .select("d1", "d2", "sig1", "sig2")
        .distinct()  # sig arrays are functions of the doc ids — safe in the key
        .select(
            "d1",
            "d2",
            det_round(matches.cast("double") / _N_PERM, 6).alias("est_jaccard"),
        )
    )  # unsorted candidate pairs


#: serialized width of one candidate row in the band self-join shuffle:
#: two binary(8)x12 signature arrays + two doc ids + row overhead
_CAND_ROW_BYTES = 300
#: post-shuffle partition size target (matches AQE's 64 MB advisory)
_CAND_PARTITION_BYTES = 64 << 20


def _band_join_partitions(bands: DataFrame) -> int:
    """Derive the band self-join's shuffle width from the band-bucket
    histogram instead of hand-tuning `spark.sql.shuffle.partitions`.

    The join emits sum over buckets of n_b^2 rows (n_b = bucket size);
    that candidate volume — not the input — is what spills when the
    duplication density is high (round-2 scaling: 39-137 s run-to-run
    variance at ~25M candidate rows on the default 32 partitions). One
    cheap aggregation over the (persisted-upstream) band rows yields
    the exact candidate count, and the explicit repartition hash-
    partitions BOTH sides on the join keys, so the join reuses it (no
    extra exchange) and each task's build set stays ~64 MB."""
    # n*n as double, not bigint: a >3e9-row bucket would wrap int64
    # silently (non-ANSI), collapsing `need` to the floor — the exact
    # under-partitioned regression this helper prevents. Double loses
    # ulps at that magnitude, which is irrelevant for partition sizing.
    est = bands.groupBy("band", "band_key").agg(F.count("*").alias("n")).agg(
        F.sum(F.col("n").cast("double") * F.col("n")).alias("pairs")
    ).collect()[0][0] or 0
    need = (est * _CAND_ROW_BYTES + _CAND_PARTITION_BYTES - 1) // _CAND_PARTITION_BYTES
    lo = bands.sparkSession.sparkContext.defaultParallelism
    return int(max(lo, min(4096, need)))


def lsh_pairs(docs: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs (d1 < d2) with estimated jaccard over
    one (doc_id, text) frame: `_band_est` of its band rows with
    themselves. The band rows are persisted — the partition sizing and
    the join both read them, and at 100 TB they are |docs| x bands
    skinny rows, always worth caching, never worth recomputing from the
    shingle stream. The self-join's shuffle width is derived from the
    band-bucket histogram (`_band_join_partitions`), not hand-tuned."""
    bands = lsh_bands(docs).persist()
    parted = bands.repartition(_band_join_partitions(bands), "band", "band_key")
    return _band_est(parted, parted).filter(F.col("d1") < F.col("d2"))


@shared_cache.artifact("shared_lsh_pairs")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-shared banded-LSH candidate pairs with estimated jaccard
    over the corpus (`lsh_pairs`): the subtree every LSH-edged
    composite (`dedup_components_lsh`, `dedup_keep_best_lsh`,
    `split_leakage_check_lsh`, the containment family) composes, so it
    is built once per session and persisted (`operators/shared_cache.py`)
    — the round-3 battery showed the components family re-running
    this pipeline per query."""
    return lsh_pairs(_docs_parallel(spark, sf_dir))


DEDUP_MINHASH_ORACLE = f"""
WITH sh AS ({_DOC_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id, p.perm,
         min(substr(md5(CAST(p.perm // 2 AS VARCHAR) || ':' || shingle),
                    1 + 16 * (p.perm % 2), 16)) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, {_N_PERM})) AS perm) p
  GROUP BY doc_id, p.perm
),
bands AS (
  SELECT doc_id, perm % {_N_BANDS} AS band,
         string_agg(h, ',' ORDER BY perm) AS band_key
  FROM sigs
  GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT d1, d2,
       {det_round_sql(f'CAST(sum(CASE WHEN s1.h = s2.h THEN 1 ELSE 0 END) AS DOUBLE) / {_N_PERM}', 6)}
         AS est_jaccard
FROM cand
JOIN sigs s1 ON s1.doc_id = d1
JOIN sigs s2 ON s2.doc_id = d2 AND s2.perm = s1.perm
GROUP BY d1, d2
ORDER BY d1, d2
"""


# --- incoming-vs-corpus near-dup gate (the streaming dedup index) ----------

_DUP_THRESH = 0.5  # est_jaccard admission threshold (6 of 12 minima agree)

#: shared oracle CTE list reproducing the banded-LSH pipeline —
#: signatures, band keys, candidate pairs, estimated jaccard, and the
#: thresholded `lsh_pairs` edge set. Every LSH-edged oracle composes
#: THIS fragment (as `_COMPONENTS_SQL` does for the exact graph), so
#: the edge definition can never drift between the minhash query and
#: its downstream composites. DuckDB plans only the CTEs a query
#: references, so consumers that stop at `cand` (containment) pay
#: nothing for `est`.
LSH_EST_SQL = f"""
sh AS ({_DOC_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id, p.perm,
         min(substr(md5(CAST(p.perm // 2 AS VARCHAR) || ':' || shingle),
                    1 + 16 * (p.perm % 2), 16)) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, {_N_PERM})) AS perm) p
  GROUP BY doc_id, p.perm
),
bands AS (
  SELECT doc_id, perm % {_N_BANDS} AS band,
         string_agg(h, ',' ORDER BY perm) AS band_key
  FROM sigs
  GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
),
est AS (
  SELECT d1, d2,
         {det_round_sql(f'CAST(sum(CASE WHEN s1.h = s2.h THEN 1 ELSE 0 END) AS DOUBLE) / {_N_PERM}', 6)}
           AS est_jaccard
  FROM cand
  JOIN sigs s1 ON s1.doc_id = d1
  JOIN sigs s2 ON s2.doc_id = d2 AND s2.perm = s1.perm
  GROUP BY d1, d2
),
lsh_pairs AS (SELECT d1, d2 FROM est WHERE est_jaccard >= {_DUP_THRESH})"""


def incoming_flags(
    corpus_bands: DataFrame, incoming_bands: DataFrame, incoming_docs: DataFrame
) -> DataFrame:
    """Admission verdict per incoming doc against a pre-built corpus
    index: LSH band equi-join → zip_with signature verify → best match
    (rank-1 per incoming doc, jaccard DESC / corpus_doc ASC tiebreak)
    → LEFT join back so never-matched docs surface with is_dup=false.
    The corpus side is the INDEX (|corpus| × bands skinny rows), not
    the corpus text — at 100 TB the gate touches ~200 bytes per corpus
    doc and the incoming batch only."""
    scored = (
        _band_est(corpus_bands, incoming_bands)
        .filter(F.col("est_jaccard") >= _DUP_THRESH)
        .select(
            F.col("d1").alias("corpus_doc"),
            F.col("d2").alias("incoming_doc"),
            "est_jaccard",
        )
    )
    w = Window.partitionBy("incoming_doc").orderBy(
        F.desc("est_jaccard"), F.asc("corpus_doc")
    )
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        incoming_docs.select(F.col("doc_id").alias("incoming_doc"))
        .join(best, "incoming_doc", "left")
        .select(
            "incoming_doc",
            F.col("corpus_doc").isNotNull().alias("is_dup"),
            F.col("corpus_doc").alias("matched_doc"),
            "est_jaccard",
        )
    )  # unsorted: one row per incoming doc


def dedup_incoming_vs_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming ingest near-dup gate
    (`streaming/jobs.py dedup_index_stream_job`): corpus = docs with
    doc_id % 3 != 0, incoming = the rest; every incoming doc gets an
    admission verdict against the corpus LSH index. The split is the
    stand-in for corpus-so-far vs today's crawl."""
    d = _docs_parallel(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 3 != 0)
    incoming = d.filter(F.col("doc_id") % 3 == 0)
    return incoming_flags(lsh_bands(corpus), lsh_bands(incoming), incoming)


DEDUP_INCOMING_ORACLE = f"""
WITH sh AS ({_DOC_SHINGLES_SQL}),
sigs AS (
  SELECT doc_id, p.perm,
         min(substr(md5(CAST(p.perm // 2 AS VARCHAR) || ':' || shingle),
                    1 + 16 * (p.perm % 2), 16)) AS h
  FROM sh CROSS JOIN (SELECT unnest(range(0, {_N_PERM})) AS perm) p
  GROUP BY doc_id, p.perm
),
bands AS (
  SELECT doc_id, perm % {_N_BANDS} AS band,
         string_agg(h, ',' ORDER BY perm) AS band_key
  FROM sigs
  GROUP BY doc_id, band
),
cand AS (
  SELECT DISTINCT c.doc_id AS corpus_doc, i.doc_id AS incoming_doc
  FROM bands c JOIN bands i ON c.band = i.band AND c.band_key = i.band_key
  WHERE c.doc_id % 3 != 0 AND i.doc_id % 3 = 0
),
scored AS (
  SELECT corpus_doc, incoming_doc,
         {det_round_sql(f'CAST(sum(CASE WHEN s1.h = s2.h THEN 1 ELSE 0 END) AS DOUBLE) / {_N_PERM}', 6)}
           AS est_jaccard
  FROM cand
  JOIN sigs s1 ON s1.doc_id = corpus_doc
  JOIN sigs s2 ON s2.doc_id = incoming_doc AND s2.perm = s1.perm
  GROUP BY corpus_doc, incoming_doc
),
best AS (
  SELECT incoming_doc, corpus_doc, est_jaccard,
         row_number() OVER (PARTITION BY incoming_doc
                            ORDER BY est_jaccard DESC, corpus_doc) AS rn
  FROM scored
  WHERE est_jaccard >= {_DUP_THRESH}
)
SELECT d.doc_id AS incoming_doc,
       b.corpus_doc IS NOT NULL AS is_dup,
       b.corpus_doc AS matched_doc,
       b.est_jaccard
FROM documents d
LEFT JOIN best b ON b.incoming_doc = d.doc_id AND b.rn = 1
WHERE d.doc_id % 3 = 0
"""


# --- SimHash --------------------------------------------------------------

_SIMHASH_POS = 16  # one vote per hex position of md5(word)


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hex-granular simhash: for each of the 16 leading hex positions of
    md5(word), majority-vote (digit >= '8' → +1 else -1) over the doc's
    distinct words; the 16 resulting bits form the signature."""
    words = _doc_words(spark, sf_dir)
    pos = F.broadcast(
        words.sparkSession.range(1, _SIMHASH_POS + 1).select(
            F.col("id").cast("int").alias("pos")
        )
    )
    votes = (
        words.withColumn("wh", F.md5(F.col("word").cast("binary")))
        .crossJoin(pos)
        .select(
            "doc_id",
            "pos",
            F.when(F.substring("wh", F.col("pos"), F.lit(1)) >= "8", 1)
            .otherwise(-1)
            .alias("vote"),
        )
        .groupBy("doc_id", "pos")
        .agg(F.sum("vote").alias("v"))
    )
    return (
        votes.withColumn("bit", F.when(F.col("v") > 0, "1").otherwise("0"))
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "bit"))),
                    lambda s: s["bit"],
                ),
                "",
            ).alias("simhash")
        )
    )  # unsorted per-doc signatures


DEDUP_SIMHASH_ORACLE = f"""
WITH dw AS ({_DOC_WORDS_SQL}),
votes AS (
  SELECT doc_id, p.pos,
         sum(CASE WHEN substr(md5(word), p.pos, 1) >= '8' THEN 1 ELSE -1 END) AS v
  FROM dw CROSS JOIN (SELECT unnest(range(1, {_SIMHASH_POS + 1})) AS pos) p
  GROUP BY doc_id, p.pos
)
SELECT doc_id,
       string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
FROM votes
GROUP BY doc_id
ORDER BY doc_id
"""


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash candidate pairing: identical 16-bit signatures bucket
    together (hamming distance 0 — the degenerate band). At 100 TB the
    general hamming<=k search splits the signature into k+1 bands and
    equi-joins each, exactly the MinHash banding machinery; with this
    16-bit toy signature one band suffices to demonstrate the join."""
    sigs = dedup_simhash(spark, sf_dir)
    a = sigs.select(F.col("doc_id").alias("d1"), "simhash")
    b = sigs.select(F.col("doc_id").alias("d2"), "simhash")
    return (
        a.join(b, "simhash")
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "simhash")
    )  # unsorted candidate pairs


DEDUP_SIMHASH_PAIRS_ORACLE = f"""
WITH dw AS ({_DOC_WORDS_SQL}),
votes AS (
  SELECT doc_id, p.pos,
         sum(CASE WHEN substr(md5(word), p.pos, 1) >= '8' THEN 1 ELSE -1 END) AS v
  FROM dw CROSS JOIN (SELECT unnest(range(1, {_SIMHASH_POS + 1})) AS pos) p
  GROUP BY doc_id, p.pos
),
sigs AS (
  SELECT doc_id,
         string_agg(CASE WHEN v > 0 THEN '1' ELSE '0' END, '' ORDER BY pos) AS simhash
  FROM votes
  GROUP BY doc_id
)
SELECT a.doc_id AS d1, b.doc_id AS d2, a.simhash
FROM sigs a JOIN sigs b ON a.simhash = b.simhash AND a.doc_id < b.doc_id
"""


# --- blocked fuzzy matching (entity resolution) ---------------------------


_FUZZY_SALT = 16
_FUZZY_MAX_DIST = 2


def fuzzy_match_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by edit distance, made scale-safe twice over:

    - BLOCKING: candidate pairs only form within p_brand — a hash
      equi-join on the block key, never an all-pairs cross product.
      At 100 TB the blocking key bounds the quadratic term.
    - SALT + CHEAP PRE-FILTER: a blocking key alone gives at most
      |brands| join partitions (25 here) — one task per brand no
      matter how many cores, and every within-brand pair pays the
      levenshtein DP. Salting the join key to (brand, salt) with the
      probe side replicated _FUZZY_SALT ways restores full-cluster
      parallelism (pairs-per-task, not brands-per-task), and the
      |len(a)-len(b)| <= max_dist band (a lower bound on edit
      distance) prunes most pairs before the DP runs. Measured at
      sf0.1: 25.6 s -> ~2 s on local[32], same result set.
    - THRESHOLDED DP: `levenshtein(a, b, max_dist)` runs the banded
      O(max_dist·n) early-exit algorithm instead of the full O(n²)
      matrix, returning -1 past the threshold — the >=1 filter
      discards those. Measured at 10x scale (/tmp/sf1, 9.57M result
      pairs): 135 s -> ~45 s, identical output.

    The surviving-pair DP runs codegen-side. dist 0 (identical
    strings) is excluded — that's `dedup_exact`'s job. The oracle is
    salt-free, threshold-free SQL: neither may change the answer."""
    n_parts = spark.sparkContext.defaultParallelism
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_name")
    # explicit numPartitions pins the shuffle width: AQE coalesces
    # joins by shuffle BYTES, and this stage is CPU-bound (the DP), so
    # byte-based coalescing would serialize it onto one task
    a = (
        p.withColumn("salt", F.explode(F.sequence(F.lit(0), F.lit(_FUZZY_SALT - 1))))
        .repartition(n_parts, "p_brand", "salt")
        .alias("a")
    )
    b = (
        p.withColumn("salt", F.pmod("p_partkey", F.lit(_FUZZY_SALT)))
        .repartition(n_parts, "p_brand", "salt")
        .alias("b")
    )
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"), _FUZZY_MAX_DIST)
    len_band = (
        F.abs(F.length(F.col("a.p_name")) - F.length(F.col("b.p_name")))
        <= _FUZZY_MAX_DIST
    )
    return (
        a.join(
            b,
            (F.col("a.p_brand") == F.col("b.p_brand"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey"))
            & len_band,
        )
        .select(
            F.col("a.p_brand").alias("p_brand"),
            F.col("a.p_partkey").alias("k1"),
            F.col("b.p_partkey").alias("k2"),
            F.col("a.p_name").alias("name1"),
            F.col("b.p_name").alias("name2"),
            dist.alias("dist"),
        )
        .filter((F.col("dist") >= 1) & (F.col("dist") <= _FUZZY_MAX_DIST))
    )  # corpus-sized pair output: no global sort


FUZZY_MATCH_ORACLE = f"""
SELECT a.p_brand, a.p_partkey AS k1, b.p_partkey AS k2,
       a.p_name AS name1, b.p_name AS name2,
       levenshtein(a.p_name, b.p_name) AS dist
FROM part a JOIN part b
  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {_FUZZY_MAX_DIST}
"""


# --- asymmetric containment (doc-inside-doc) -------------------------------

_CONTAIN_T = 0.9


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT C(A,B) = |A∩B| / |A| over 3-gram shingle sets —
    Broder's asymmetric companion to resemblance (same 1997 paper):
    a short doc quoted wholesale inside a long one has jaccard ≈
    |A|/|B| (tiny) but containment ≈ 1. The signal that catches
    boilerplate, quotations and subset duplication that symmetric
    near-dup thresholds miss.

    The SHARED `_common_counts` inverted-index join computed ONCE per
    unordered pair; both directions are then emitted by a map-side
    explode (no second join), keeping rows where the CONTAINED side's
    coverage ≥ 0.9. Output (contained_doc, container_doc,
    containment) — corpus-sized, unsorted.

    This exact variant inherits the inverted-index all-pairs cost
    (quadratic in hot-shingle document frequency): it is the oracle
    baseline. `dedup_containment_lsh` is the corpus-scale sibling."""
    return _containment_dirs(_common_counts(_doc_shingles(spark, sf_dir), "shingle"))


def _containment_dirs(counts: DataFrame, threshold: float = _CONTAIN_T) -> DataFrame:
    """(d1, d2, common, c1, c2) → (contained_doc, container_doc,
    containment) for both directions via one map-side explode, kept
    where containment ≥ `threshold` (default `_CONTAIN_T`). The exact,
    LSH-verified and bounded containment pass the exact common count;
    `dedup_containment_profile` passes the estimate `_est_common` and
    0.0 to keep the full distribution (the estimate is > 0 on every
    candidate, so nothing at exactly 0 exists to include)."""
    both_dirs = F.array(
        F.struct(
            F.col("d1").alias("contained_doc"),
            F.col("d2").alias("container_doc"),
            det_round(F.col("common").cast("double") / F.col("c1"), 6).alias(
                "containment"
            ),
        ),
        F.struct(
            F.col("d2").alias("contained_doc"),
            F.col("d1").alias("container_doc"),
            det_round(F.col("common").cast("double") / F.col("c2"), 6).alias(
                "containment"
            ),
        ),
    )
    return (
        counts.select(F.explode(both_dirs).alias("p"))
        .select("p.contained_doc", "p.container_doc", "p.containment")
        .filter(F.col("containment") >= threshold)
    )


def dedup_containment_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment over banded-LSH CANDIDATE pairs — the corpus-scale
    sibling of `dedup_containment`, mirroring how `dedup_components_lsh`
    bounds `dedup_components`: the edge stage touches only band-bucket
    collisions, then the exact common-shingle count is verified for
    those candidates alone (candidate-verify), so cost tracks the true
    near-dup density instead of hot-shingle df².

    Uses the UNTHRESHOLDED candidate set (band collision only, no
    est_jaccard floor): jaccard bands under-recall high-containment
    short-in-long pairs (containment ≈ 1 can coexist with jaccard ≈
    |A|/|B| ≈ 0), so dropping the est floor keeps every collision. The
    remaining recall gap vs the exact variant — high-containment pairs
    that never collide in any band — is the documented LSH trade; the
    exact op stays registered as the baseline. The shared session
    subtree (`dedup_minhash_lsh`) makes the candidate set free when the
    components family already ran.

    Verify stage (r5 rework): each doc's shingle set is carried as ONE
    bounded array (≈ doc length, ~900 elements) and the exact common
    count is `size(array_intersect(s1, s2))` evaluated per candidate
    row — the intermediate stays |candidates| rows. The previous
    formulation joined candidates against per-shingle postings rows,
    materializing |candidates| x |shingles(doc)| intermediate rows
    before the count (~22 B rows at 100x replication — OOM'd; PERF.md
    r4). Two hash joins on doc_id replace one doc_id join plus one
    (doc_id, shingle) join, so shuffle volume DROPS to
    |docs| + 2|cand| rows."""
    cand = dedup_minhash_lsh(spark, sf_dir).select("d1", "d2")
    return _containment_dirs(_verified_counts(cand, _doc_shingles(spark, sf_dir)))


def _verified_counts(cand: DataFrame, sh: DataFrame) -> DataFrame:
    """Exact verify: (d1, d2) candidates + a distinct (doc_id, shingle)
    stream → (d1, d2, common, c1, c2) for every candidate with >= 1
    common shingle. Shingles are already distinct per doc, so the
    `collect_set` size is |set|."""
    sets_ = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("s"))
    return (
        _sized(cand, sets_, "s")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("s1", "s2")).alias("common"),
            F.size("s1").alias("c1"),
            F.size("s2").alias("c2"),
        )
        .filter(F.col("common") > 0)
    )


DEDUP_CONTAINMENT_ORACLE = f"""
WITH sh AS ({_DOC_SHINGLES_SQL}),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY d1, d2
),
dirs AS (
  SELECT d1 AS contained_doc, d2 AS container_doc,
         (floor((CAST(common AS DOUBLE) / c1.c) * 1000000.0 + 0.5) / 1000000.0) AS containment
  FROM common JOIN cnt c1 ON c1.doc_id = d1
  UNION ALL
  SELECT d2, d1, (floor((CAST(common AS DOUBLE) / c2.c) * 1000000.0 + 0.5) / 1000000.0)
  FROM common JOIN cnt c2 ON c2.doc_id = d2
)
SELECT contained_doc, container_doc, containment
FROM dirs WHERE containment >= {_CONTAIN_T}
"""

def dedup_containment_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-decile ESTIMATED-containment profile over the LSH candidate
    pairs — the scale-battery face of `dedup_containment_lsh` (r10
    verdict ask #4). The row-level sibling's 45× at 100× is NOT the
    output rows: component timing (PERF.md r11) shows the exact verify
    (two array-carrying joins + `array_intersect` per candidate) costs
    ~119 s at sf10 while the cached candidate set and the per-doc
    shingle counts cost ~2.5 s — so an aggregate that still verifies
    exactly would inherit the whole tail. A threshold-tuning pass needs
    the DISTRIBUTION, and a distribution is exactly where the minhash
    ESTIMATE is the right tool: est_jaccard is already carried on every
    candidate row (shared subtree, zero marginal cost), and containment
    follows from it via |A∩B| = J/(1+J)·(|A|+|B|), capped at
    min(|A|,|B|). No shingle arrays move; the plan is the cached
    candidate pairs + two narrow BIGINT count joins + a two-level
    map-side-combinable rollup. The row-level entry stays registered
    as the exact anchor; this entry is the screening statistic.

    UNTHRESHOLDED on purpose: the {_CONTAIN_T}-filtered row set lives
    entirely in decile 9, which would make a "profile" a single row —
    the tuning signal is the full candidate distribution (band
    collision implies ≥1 matching band, so est_jaccard > 0 on every
    row; deciles 0–9, with [0.9, ∞) capped into bucket 9 because the
    jaccard→containment inversion can overshoot min(|A|,|B|)/|A|).

    Integer-exact aggregation: each directed estimate (det-rounded to
    6 dp, an exact multiple of 1e-6) is carried as BIGINT ppm;
    `decile` = ppm DIV 100000 capped at 9 — pure non-negative integer
    ops that agree bit-for-bit with the DuckDB oracle — and the rollup
    is (decile, doc) partials then decile totals, so there is no
    count-distinct Expand and no float mean for partition order to
    move.

    Output: (decile, n_pairs, n_contained_docs, sum_containment_ppm),
    ≤10 rows at any corpus size."""
    sized = _sized(
        dedup_minhash_lsh(spark, sf_dir), _doc_counts(_doc_shingles(spark, sf_dir))
    )
    dirs = _containment_dirs(
        sized.select("d1", "d2", _est_common().alias("common"), "c1", "c2"), 0.0
    )
    per_doc = (
        dirs.select(
            "contained_doc",
            F.floor(F.col("containment") * F.lit(1_000_000) + F.lit(0.5))
            .cast("bigint")
            .alias("ppm"),
        )
        .select(
            "contained_doc", "ppm", F.expr("least(ppm DIV 100000, 9)").alias("decile")
        )
        .groupBy("decile", "contained_doc")
        .agg(F.count(F.lit(1)).alias("np"), F.sum("ppm").alias("sp"))
    )
    return per_doc.groupBy("decile").agg(
        F.sum("np").alias("n_pairs"),
        F.count(F.lit(1)).alias("n_contained_docs"),
        F.sum("sp").alias("sum_containment_ppm"),
    )


DEDUP_CONTAINMENT_LSH_ORACLE = f"""
WITH
{LSH_EST_SQL},
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
common AS (
  SELECT cd.d1, cd.d2, count(*) AS common
  FROM cand cd
  JOIN sh a ON a.doc_id = cd.d1
  JOIN sh b ON b.doc_id = cd.d2 AND b.shingle = a.shingle
  GROUP BY cd.d1, cd.d2
),
dirs AS (
  SELECT d1 AS contained_doc, d2 AS container_doc,
         (floor((CAST(common AS DOUBLE) / c1.c) * 1000000.0 + 0.5) / 1000000.0) AS containment
  FROM common JOIN cnt c1 ON c1.doc_id = d1
  UNION ALL
  SELECT d2, d1, (floor((CAST(common AS DOUBLE) / c2.c) * 1000000.0 + 0.5) / 1000000.0)
  FROM common JOIN cnt c2 ON c2.doc_id = d2
)
SELECT contained_doc, container_doc, containment
FROM dirs WHERE containment >= {_CONTAIN_T}
"""

DEDUP_CONTAINMENT_PROFILE_ORACLE = f"""
WITH
{LSH_EST_SQL},
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
sized AS (
  SELECT e.d1, e.d2, e.est_jaccard, c1.c AS c1, c2.c AS c2
  FROM est e
  JOIN cnt c1 ON c1.doc_id = e.d1
  JOIN cnt c2 ON c2.doc_id = e.d2
),
dirs AS (
  SELECT d1 AS contained_doc,
         {det_round_sql('LEAST(est_jaccard / (1.0 + est_jaccard) * (c1 + c2), CAST(c1 AS DOUBLE), CAST(c2 AS DOUBLE)) / c1', 6)} AS containment
  FROM sized
  UNION ALL
  SELECT d2,
         {det_round_sql('LEAST(est_jaccard / (1.0 + est_jaccard) * (c1 + c2), CAST(c1 AS DOUBLE), CAST(c2 AS DOUBLE)) / c2', 6)}
  FROM sized
),
ppm AS (
  -- unthresholded: the full candidate distribution (band collision
  -- implies est_jaccard > 0 on every row)
  SELECT contained_doc,
         CAST(floor(containment * 1000000.0 + 0.5) AS BIGINT) AS ppm
  FROM dirs
),
per_doc AS (
  SELECT LEAST(ppm // 100000, 9) AS decile, contained_doc,
         count(*) AS np, CAST(sum(ppm) AS BIGINT) AS sp
  FROM ppm GROUP BY decile, contained_doc
)
SELECT decile,
       CAST(sum(np) AS BIGINT) AS n_pairs,
       count(*) AS n_contained_docs,
       CAST(sum(sp) AS BIGINT) AS sum_containment_ppm
FROM per_doc GROUP BY decile
"""


_CONTAIN_SCREEN_T = 0.8  # estimated-containment admission floor (margin
# below the 0.9 exact threshold absorbs minhash estimate error)


def _est_common() -> Column:
    """Minhash-estimated |A∩B| of a `_sized` (d1, d2, est_jaccard, c1,
    c2) pair: J/(1+J)·(|A|+|B|), capped at min(|A|,|B|)."""
    return F.least(
        F.col("est_jaccard")
        / (F.lit(1.0) + F.col("est_jaccard"))
        * (F.col("c1") + F.col("c2")),
        F.col("c1").cast("double"),
        F.col("c2").cast("double"),
    )


def _containment_screen_verify(est: DataFrame, sh: DataFrame) -> DataFrame:
    """Shared screen→verify→threshold stage of the bounded containment:
    `est` = (d1, d2, est_jaccard) candidate pairs, `sh` = the matching
    distinct (doc_id, shingle) stream. Screens candidates on the
    minhash-estimated max-direction containment ≥ {_CONTAIN_SCREEN_T},
    builds shingle sets ONLY for screened ids (semi-join before
    `collect_set`), exact-verifies via `array_intersect`, and emits
    both thresholded directions (`_containment_dirs`).
    `_containment_bounded_docs` runs it over the representatives."""
    # det-rounded so the >= comparison is an exact-ppm-multiple compare
    # in both engines
    screened = (
        _sized(est, _doc_counts(sh))
        .filter(det_round(_est_common() / F.least("c1", "c2"), 6) >= _CONTAIN_SCREEN_T)
        .select("d1", "d2")
    )
    ids = screened.select(F.explode(F.array("d1", "d2")).alias("doc_id")).distinct()
    return _containment_dirs(_verified_counts(screened, sh.join(ids, "doc_id", "semi")))


def dedup_containment_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-cost exact containment (r11 verdict ask #3): the
    corpus-scale EXACT path the estimate-based
    `dedup_containment_profile` screens for. Two scale moves on top of
    the anchor `dedup_containment_lsh` (which exact-verifies EVERY band
    collision — ~119 s of its 125 s cold sf10 wall in the verify,
    PERF.md r11):

    1. EXACT-TEXT COLLAPSE FIRST (the canonical curation order —
       exact dedup before near-dup): every function downstream of the
       text (shingles, minhash signature, band key, estimated jaccard,
       exact containment) is TEXT-PURE, so docs with identical text are
       interchangeable. The whole candidate→screen→verify pipeline runs
       over one REPRESENTATIVE per distinct text, and the output is
       expanded exactly through the membership map (cross-group rows
       inherit the rep pair's containment; within-group ordered pairs
       are containment = 1.0 by identity). On a replication-heavy
       corpus this is the difference between Θ(dups²) verify work and
       Θ(distinct-candidates) + Θ(output) row generation — measured at
       sf10 (100×-replicated: 499,200 docs / 4,992 texts) the direct
       screened form verified 27.28 M doc pairs in 97–452 s while the
       collapsed form verifies ~2.7 k rep pairs; the 54.5 M output rows
       are the floor ANY exact row-level op pays.

    2. ESTIMATE SCREEN before the array-carrying verify: a rep pair
       reaches `collect_set` only when its minhash-estimated
       max-direction containment (|A∩B|_est / min(|A|,|B|), est via
       J/(1+J)·(|A|+|B|) capped at min — the profile's arithmetic) is
       ≥ {_CONTAIN_SCREEN_T}, so verify cost tracks true
       high-containment density; shingle sets are built only for
       screened reps (narrow semi-join before `collect_set`).

    The ORACLE is deliberately the DIRECT formulation (screen + verify
    over the full doc-level candidate set, no collapse): the two forms
    are provably equal on text-pure functions, so the driver's
    hash-compare doubles as a proof the collapse/expansion is exact.

    RECALL SCOPE (documented trade, mirrored by the oracle): on top of
    the LSH candidate recall gap this variant forgoes pairs whose
    ESTIMATE undershoots {_CONTAIN_SCREEN_T} while exact containment
    is ≥ {_CONTAIN_T} — the screen margin absorbs typical
    {_N_PERM}-perm estimate error. `dedup_containment_lsh` stays
    registered as the unscreened row-level anchor.

    Output: (contained_doc, container_doc, containment) with EXACT
    containment ≥ {_CONTAIN_T} — same schema/threshold as the anchor,
    restricted to screened candidates."""
    # r13 (r12 verdict ask #3, guide §2.4): the rep-level minhash/band
    # pipeline is a strict RESTRICTION of the session-shared doc-level
    # candidate subtree — signatures, band keys and est_jaccard are all
    # text-pure and every representative IS a document, so a rep pair
    # collides in a rep-level band iff it collides in the doc-level
    # band join, with the identical estimate. The candidates therefore
    # come from `dedup_minhash_lsh` (shared/disk-cached) semi-joined to
    # the rep ids instead of rebuilding 6 md5s/shingle + a band
    # self-join over the collapsed frame.
    return _containment_bounded_docs(
        _docs_parallel(spark, sf_dir), shared_est=dedup_minhash_lsh(spark, sf_dir)
    )


def _containment_bounded_docs(docs: DataFrame, shared_est: DataFrame) -> DataFrame:
    """The collapse→candidate→screen→verify→expand pipeline over any
    (doc_id, text) frame (factored for the duplicate-text pytest —
    the driver testdata has no exact-duplicate texts at sf0.01, so the
    expansion path needs a constructed frame to be exercised).

    ``shared_est``: pre-built doc-level (d1, d2, est_jaccard) candidate
    frame covering AT LEAST all rep pairs with identical estimates
    (`lsh_pairs(docs)` qualifies — text-pure signatures); rep-level
    candidates are its restriction to rep ids (two semi-joins)."""
    g = docs.select(
        "doc_id",
        "text",
        F.min("doc_id").over(Window.partitionBy("text")).alias("gid"),
    )
    members = g.select("doc_id", "gid")
    reps = g.filter(F.col("doc_id") == F.col("gid")).select("doc_id", "text")
    rep_ids = reps.select("doc_id")
    est = shared_est.join(
        rep_ids.select(F.col("doc_id").alias("d1")), "d1", "semi"
    ).join(rep_ids.select(F.col("doc_id").alias("d2")), "d2", "semi")
    sh = _shingles_from(reps)
    rep_dirs = _containment_screen_verify(est, sh)
    # exact expansion: cross-group rows inherit the rep pair's value
    # (text-pure), within-group ordered pairs are identity containment
    cross = (
        rep_dirs.join(
            members.select(
                F.col("gid").alias("contained_doc"), F.col("doc_id").alias("cd")
            ),
            "contained_doc",
        )
        .join(
            members.select(
                F.col("gid").alias("container_doc"), F.col("doc_id").alias("co")
            ),
            "container_doc",
        )
        .select(
            F.col("cd").alias("contained_doc"),
            F.col("co").alias("container_doc"),
            "containment",
        )
    )
    # zero-shingle guard: a <3-word text has no minhash signature in
    # the direct form (min over an empty shingle group emits no row),
    # so its duplicates are never candidates there — the identity
    # expansion must skip such groups or it would emit rows the
    # direct-form oracle cannot produce
    shingled_gids = _doc_counts(sh).select(F.col("doc_id").alias("gid"))
    within = (
        members.join(shingled_gids, "gid", "semi")
        .select("gid", F.col("doc_id").alias("contained_doc"))
        .join(members.select("gid", F.col("doc_id").alias("container_doc")), "gid")
        .filter(F.col("contained_doc") != F.col("container_doc"))
        .select(
            "contained_doc", "container_doc", F.lit(1.0).alias("containment")
        )
    )
    return cross.unionAll(within)


DEDUP_CONTAINMENT_BOUNDED_ORACLE = f"""
WITH
{LSH_EST_SQL},
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
sized AS (
  SELECT e.d1, e.d2, e.est_jaccard, c1.c AS c1, c2.c AS c2
  FROM est e
  JOIN cnt c1 ON c1.doc_id = e.d1
  JOIN cnt c2 ON c2.doc_id = e.d2
),
screened AS (
  SELECT d1, d2 FROM sized
  WHERE {det_round_sql('LEAST(est_jaccard / (1.0 + est_jaccard) * (c1 + c2), CAST(c1 AS DOUBLE), CAST(c2 AS DOUBLE)) / LEAST(c1, c2)', 6)}
        >= {_CONTAIN_SCREEN_T}
),
common AS (
  SELECT s.d1, s.d2, count(*) AS common
  FROM screened s
  JOIN sh a ON a.doc_id = s.d1
  JOIN sh b ON b.doc_id = s.d2 AND b.shingle = a.shingle
  GROUP BY s.d1, s.d2
),
dirs AS (
  SELECT d1 AS contained_doc, d2 AS container_doc,
         (floor((CAST(common AS DOUBLE) / c1.c) * 1000000.0 + 0.5) / 1000000.0) AS containment
  FROM common JOIN cnt c1 ON c1.doc_id = d1
  UNION ALL
  SELECT d2, d1, (floor((CAST(common AS DOUBLE) / c2.c) * 1000000.0 + 0.5) / 1000000.0)
  FROM common JOIN cnt c2 ON c2.doc_id = d2
)
SELECT contained_doc, container_doc, containment
FROM dirs WHERE containment >= {_CONTAIN_T}
"""


# --- cross-doc duplicated-span fraction (substring dedup signal) ----------

_SPAN_W = 8  # words per span — the "memorization-length" window


def _span_key(span: Column) -> Column:
    """16-byte BINARY grouping key for a span string — `unhex(md5(s))`.

    r14 key compaction (guide §2.3 'shuffle fewer bytes'): the span
    family groups/joins on {_SPAN_W}-word span strings (~50-60 B each)
    whose VALUE never reaches any output — only span IDENTITY matters
    (which occurrences collide). Substituting a 128-bit digest for the
    string keeps every exchange/aggregation semantically identical as
    long as no two distinct spans in the corpus share a digest:

    - words come from `split(text, ' ')`, so they contain no spaces and
      the space-joined span string is a BIJECTION of the word tuple —
      string equality is exactly tuple equality;
    - md5 is 128-bit: for S distinct spans the collision probability is
      ~S²/2¹²⁹; at 100 TB (~10¹³ spans) that is ~10⁻¹³ — far below any
      hardware error rate. (A 64-bit key, e.g. xxhash64, would NOT be
      safe at that scale: ~10²⁶/2⁶⁵ ≈ 0.3.)

    The digest is computed map-side in the same projection that builds
    the span, so the string itself never crosses an exchange. (A
    struct<xxhash64,xxhash64> key was also measured: grouping/joining
    on a nested struct lost badly to flat BINARY — 2× slower at sf10.)"""
    return F.unhex(F.md5(span))


def span_dup_fractions(docs: DataFrame) -> DataFrame:
    """Per-doc fraction of 8-word spans that also occur in ANOTHER doc —
    the exact-substring duplication signal behind suffix-array dedup of
    training corpora (Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022, approximated at fixed window
    width so it is one explode + two map-side-combinable aggregations
    instead of a suffix array). Takes any (doc_id, text) frame
    (property-tested against a pure-Python model in
    tests/test_span_dedup_property.py).

    Plan shape at 100 TB (r13 rework, guide §2.3/§2.4; r14 window
    form, §2.4): per-doc span sets are established map-side
    (`array_distinct` inside the array — no corpus-wide distinct
    exchange) over 16-byte `_span_key` digests (the span string never
    crosses an exchange — see `_span_key` for the collision argument).
    The per-doc distinct span stream then crosses the network ONCE: a
    count over a span-keyed window marks each row with its span's
    corpus doc-frequency (each doc contributes one row per span, so
    count(*) per key IS countDistinct(doc_id)), and one groupBy(doc_id)
    derives BOTH outputs from the marked rows — `n_spans` as the row
    count (the per-doc set size) and `n_dup_spans` as the rows whose
    span frequency exceeds 1. The r13 form paid a second span-keyed
    exchange (dup-set join) plus a second span-array build for
    `n_spans`; both are gone (sf10: 12.4 → 7.7 s). Output is one row
    per doc (corpus-sized — unsorted)."""
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    idx = F.when(n >= _SPAN_W, F.sequence(F.lit(1), n - (_SPAN_W - 1))).otherwise(
        F.array().cast("array<int>")
    )
    keys = F.transform(
        idx,
        lambda i: _span_key(
            F.concat_ws(
                " ", *[F.element_at(F.col("ws"), i + k) for k in range(_SPAN_W)]
            )
        ),
    )
    # set semantics per doc, established in the array domain (map-side);
    # |distinct keys| = |distinct spans| under the `_span_key` argument
    doc_spans = d.select("doc_id", F.explode(F.array_distinct(keys)).alias("k"))
    marked = doc_spans.select(
        "doc_id", F.count("*").over(Window.partitionBy("k")).alias("ndocs")
    )
    per_doc = marked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("ndocs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_spans"),
    )
    return (
        d.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.when(
                F.col("n_spans") > 0,
                det_round(F.col("n_dup_spans") / F.col("n_spans"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_span_frac"),
        )
    )


def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`span_dup_fractions` over the documents table."""
    return span_dup_fractions(_docs_parallel(spark, sf_dir))


def _hit_interval_cols(hs: Column) -> tuple[Column, Column]:
    """Merged covered intervals from a SORTED array of fixed-width hit
    starts: every hit covers [s, s + _SPAN_W - 1]; overlapping-or-
    adjacent intervals coalesce. Because starts are sorted and widths
    equal, interval ends are monotone, so a start opens a new merged
    interval iff it exceeds its predecessor by more than _SPAN_W.
    Returns (los, his) — equal-length arrays of interval bounds.
    CASE guards keep element_at off index 0 / past the end (ANSI).
    All array-domain: O(|hs|) per doc, no shuffle, no window."""
    m = F.size(hs)
    los = F.filter(
        hs,
        lambda s, i: F.when(i == 0, F.lit(True)).otherwise(
            s - F.element_at(hs, i) > _SPAN_W
        ),
    )
    run_ends = F.filter(
        hs,
        lambda s, i: F.when(i == m - 1, F.lit(True)).otherwise(
            F.element_at(hs, i + 2) - s > _SPAN_W
        ),
    )
    return los, F.transform(run_ends, lambda s: s + (_SPAN_W - 1))


def _scrub_clean_cols(ws: Column, hs: Column) -> tuple[Column, Column]:
    """(n_kept, clean_text) from the words array and the (possibly
    NULL) sorted array of removed-window starts: merge the hit windows
    into covered intervals, then re-assemble the doc from the GAP
    slices of the original words array — original order for free, no
    per-word rows, no collect_list/array_sort shuffle (r13 rework;
    guide §2.3 'shuffle keys and metadata instead of payloads')."""
    n = F.size(ws)
    los, his = _hit_interval_cols(F.coalesce(hs, F.array().cast("array<bigint>")))
    # gap k sits between covered intervals k-1 and k, with sentinels
    # hi_0 = 0 and lo_last = n_words + 1: slice (prev_hi+1 .. next_lo-1)
    prev_hi = F.concat(F.array(F.lit(0).cast("bigint")), his)
    next_lo = F.concat(los, F.array((n + 1).cast("bigint")))
    kept = F.flatten(
        F.zip_with(
            prev_hi,
            next_lo,
            lambda a, b: F.slice(ws, (a + 1).cast("int"), (b - a - 1).cast("int")),
        )
    )
    return F.size(kept).cast("long"), F.concat_ws(" ", kept)


def _scrub_reassemble(d: DataFrame, hits: DataFrame) -> DataFrame:
    """Shared scrub tail: `d` = (doc_id, ws), `hits` = (doc_id, start)
    rows of removed windows (unique per (doc_id, start)). One small
    aggregation of hit starts per doc (dup mass only), one doc-level
    join, and the gap-slice re-assembly — the corpus text crosses the
    network exactly once."""
    hit_starts = hits.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.col("start").cast("bigint"))).alias("hs")
    )
    n = F.size("ws")
    n_kept, clean_text = _scrub_clean_cols(F.col("ws"), F.col("hs"))
    return (
        d.join(hit_starts, "doc_id", "left")
        .select(
            "doc_id",
            n.cast("long").alias("n_words"),
            (n.cast("long") - n_kept).alias("n_removed"),
            clean_text.alias("clean_text"),
        )
    )  # scrubbed corpus: one row per doc, unsorted


DEDUP_SPAN_ORACLE = f"""
WITH d AS ({_WORDS_SQL}),
doc_spans AS (
  SELECT DISTINCT doc_id,
         unnest(CASE WHEN len(ws) >= {_SPAN_W}
                     THEN list_transform(range(1, len(ws) - {_SPAN_W - 2}),
                          i -> array_to_string(ws[i:i+{_SPAN_W - 1}], ' '))
                     ELSE [NULL] END) AS span
  FROM d
),
freq AS (
  SELECT span, count(*) AS ndocs FROM doc_spans
  WHERE span IS NOT NULL GROUP BY span
)
SELECT ds.doc_id,
       count(ds.span) AS n_spans,
       count(CASE WHEN f.ndocs > 1 THEN 1 END) AS n_dup_spans,
       CASE WHEN count(ds.span) > 0
            THEN (floor((count(CASE WHEN f.ndocs > 1 THEN 1 END) / CAST(count(ds.span) AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
            ELSE 0.0 END AS dup_span_frac
FROM doc_spans ds LEFT JOIN freq f ON ds.span = f.span
GROUP BY ds.doc_id
"""


def dedup_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring REMOVAL — the operator `dedup_span_exact` only
    profiles: every {_SPAN_W}-word span occurring in ≥ 2 distinct docs
    is excised from all docs except the span's keeper (min doc_id —
    the first-occurrence policy of Lee et al. ACL'22's ExactSubstr
    dedup, at fixed window width instead of a suffix array). Output is
    the scrubbed corpus: (doc_id, n_words, n_removed, clean_text),
    with clean_text the surviving words in original order ('' when a
    doc is scrubbed empty).

    Plan shape at 100 TB: span occurrences explode map-side and cross
    the network once as 16-byte digests (`_span_key`); hit-or-not is
    decided by min/max running aggregates of one span-keyed window (no
    dup-set join, no second occurrence build); only (doc_id, start)
    hit rows re-shuffle for the gap-slice re-assembly. No pair join
    anywhere — cost is O(corpus + dup mass)."""
    return span_scrub(_docs_parallel(spark, sf_dir))


def span_scrub(docs: DataFrame) -> DataFrame:
    """`dedup_span_scrub` over any (doc_id, text) frame — see that
    docstring; split out so the synthetic-corpus property test
    (tests/test_span_dedup_property.py) can drive it directly.

    r13 rework (guide §2.3/§2.4): the per-word posexplode → anti-join →
    collect_list/array_sort re-assembly shuffled the FULL word stream
    twice (once keyed (doc_id, pos) for the anti-join, once keyed
    doc_id to rebuild the text) plus the ±{_SPAN_W} covered-position
    explode+distinct. The covered set is fully determined by the HIT
    WINDOW STARTS, so only (doc_id, start) hit rows (dup mass) are
    shuffled now; the text is re-assembled per doc by slicing the
    original words array around the merged covered intervals
    (`_scrub_clean_cols`) — same output, the corpus text crosses the
    network once (the doc-level join) instead of three times.

    r14 (guide §2.3/§2.4): the span stream now crosses the network
    ONCE. Exchanges carry the 16-byte `_span_key` instead of the raw
    ~50-60 B span string (the span VALUE never reaches the output,
    only which occurrences collide), and the dups-aggregation +
    occ⋈dups join pair — which rebuilt the whole occurrence stream a
    SECOND time on the probe side (the explode+concat build measured
    ~7 s of the ~24 s sf10 entry) — collapses into one span-keyed
    window: `countDistinct(doc_id) >= 2` is exactly
    `min(doc_id) != max(doc_id)`, and the keeper IS `min(doc_id)`, so
    each occurrence row can decide hit-or-not from two running
    aggregates of its own window partition. One occ build, one
    exchange+sort, no join (sf10: 24.9 → ~14 s)."""
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    idx = F.when(n >= _SPAN_W, F.sequence(F.lit(1), n - (_SPAN_W - 1))).otherwise(
        F.array().cast("array<int>")
    )
    occ = d.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("start"),
                    _span_key(
                        F.concat_ws(" ", F.slice("ws", i, _SPAN_W))
                    ).alias("k"),
                ),
            )
        ).alias("o"),
    ).select("doc_id", "o.start", "o.k")
    w = Window.partitionBy("k")
    marked = occ.select(
        "doc_id",
        "start",
        F.min("doc_id").over(w).alias("keeper"),
        F.max("doc_id").over(w).alias("mx"),
    )
    hits = marked.filter(
        (F.col("keeper") != F.col("mx")) & (F.col("doc_id") != F.col("keeper"))
    ).select("doc_id", "start")
    return _scrub_reassemble(d, hits)


DEDUP_SPAN_SCRUB_ORACLE = f"""
WITH d AS ({_WORDS_SQL}),
words AS (
  SELECT doc_id,
         unnest(range(1, len(ws) + 1)) AS pos,
         unnest(ws) AS word
  FROM d
),
occ AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= {_SPAN_W}
                     THEN range(1, len(ws) - {_SPAN_W - 2})
                     ELSE CAST([] AS BIGINT[]) END) AS start,
         unnest(CASE WHEN len(ws) >= {_SPAN_W}
                     THEN list_transform(range(1, len(ws) - {_SPAN_W - 2}),
                          i -> array_to_string(ws[i:i+{_SPAN_W - 1}], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS span
  FROM d
),
dups AS (
  SELECT span, min(doc_id) AS keeper FROM occ
  GROUP BY span HAVING count(DISTINCT doc_id) >= 2
),
covered AS (
  SELECT DISTINCT o.doc_id, o.start + k.k AS pos
  FROM occ o JOIN dups USING (span)
  CROSS JOIN (SELECT unnest(range(0, {_SPAN_W})) AS k) k
  WHERE o.doc_id <> dups.keeper
),
kept AS (
  SELECT w.doc_id, w.pos, w.word
  FROM words w LEFT JOIN covered c ON c.doc_id = w.doc_id AND c.pos = w.pos
  WHERE c.doc_id IS NULL
),
clean AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.ws) AS BIGINT) AS n_words,
       CAST(len(d.ws) - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(c.clean_text, '') AS clean_text
FROM d LEFT JOIN clean c ON c.doc_id = d.doc_id
"""


def dedup_span_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated-region report — the per-doc memorization
    profile on top of the span machinery: every {_SPAN_W}-word span
    occurring in ≥ 2 distinct docs marks an interval
    [start, start+{_SPAN_W - 1}], and overlapping-or-adjacent intervals
    MERGE into maximal regions (gaps-and-islands), approximating the
    arbitrary-length repeated substrings of Lee et al. ACL'22's
    suffix-array ExactSubstr at fixed window granularity: a repeated
    run of L ≥ {_SPAN_W} words appears as L−{_SPAN_W - 1} overlapping
    hit windows that coalesce back into ONE region of exactly L words.
    Unlike `dedup_span_scrub` (which exempts each span's keeper — it
    decides what to DELETE), this reports duplicated content in EVERY
    doc carrying it: the audit view ("how much of this doc exists
    elsewhere"), not the mutation.

    Per doc: total words, region count, duplicated word mass, longest
    region, and the duplicated fraction in pure-BIGINT ppm. Plan shape
    at 100 TB: span occurrences explode map-side and cross the network
    once as 16-byte digests (`_span_key`); duplicated-or-not is decided
    by min/max running aggregates of one span-keyed window; the islands
    coalescence is an array-domain interval merge after one
    groupBy(doc_id) of the hit rows — no pair join anywhere."""
    return span_islands(_docs_parallel(spark, sf_dir))


def span_islands(docs: DataFrame) -> DataFrame:
    """`dedup_span_islands` over any (doc_id, text) frame — split out
    so the synthetic-corpus property test can drive it directly (the
    `span_scrub` convention)."""
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    idx = F.when(n >= _SPAN_W, F.sequence(F.lit(1), n - (_SPAN_W - 1))).otherwise(
        F.array().cast("array<int>")
    )
    occ = d.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("long").alias("start"),
                    _span_key(
                        F.concat_ws(" ", F.slice("ws", i, _SPAN_W))
                    ).alias("k"),
                ),
            )
        ).alias("o"),
    ).select("doc_id", "o.start", "o.k")
    # r13 rework (guide §2.4): the islands coalescence is fully
    # determined by each doc's sorted hit starts (fixed window width ⇒
    # monotone interval ends), so the per-doc window (shuffle + sort) +
    # regions/per-doc aggregations collapse into ONE groupBy(doc_id) of
    # the hit rows and a map-side interval merge (`_hit_interval_cols`).
    # r14 (guide §2.3/§2.4): the span stream crosses the network once —
    # 16-byte `_span_key` exchanges, and the dups aggregation + semi-
    # join pair (which rebuilt the occurrence stream a second time on
    # the probe side) collapses into one span-keyed window:
    # `countDistinct(doc_id) >= 2` is exactly `min(doc_id) !=
    # max(doc_id)` (sf10: 27.9 → ~14 s; see `span_scrub`).
    w = Window.partitionBy("k")
    hit = occ.select(
        "doc_id",
        "start",
        F.min("doc_id").over(w).alias("mn"),
        F.max("doc_id").over(w).alias("mx"),
    ).filter(F.col("mn") != F.col("mx"))
    hit_starts = hit.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.col("start"))).alias("hs")
    )
    los, his = _hit_interval_cols(F.col("hs"))
    lens = F.zip_with(his, los, lambda h, l: h - l + 1)
    per_doc = hit_starts.select(
        "doc_id",
        F.size(los).cast("long").alias("n_regions"),
        F.aggregate(
            lens, F.lit(0).cast("bigint"), lambda acc, x: acc + x
        ).alias("dup_words"),
        F.array_max(lens).cast("long").alias("max_region_words"),
    )
    return (
        d.select("doc_id", n.cast("long").alias("n_words"))
        .join(per_doc, "doc_id", "left")
        .na.fill({"n_regions": 0, "dup_words": 0, "max_region_words": 0})
        .select(
            "doc_id",
            "n_words",
            "n_regions",
            "dup_words",
            "max_region_words",
            F.expr(
                "(dup_words DIV n_words) * 1000000"
                " + ((dup_words % n_words) * 1000000) DIV n_words"
            ).alias("dup_ppm"),
        )
    )  # unsorted per-doc report (corpus-sized at scale)


DEDUP_SPAN_ISLANDS_ORACLE = f"""
WITH d AS ({_WORDS_SQL}),
occ AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= {_SPAN_W}
                     THEN range(1, len(ws) - {_SPAN_W - 2})
                     ELSE CAST([] AS BIGINT[]) END) AS start,
         unnest(CASE WHEN len(ws) >= {_SPAN_W}
                     THEN list_transform(range(1, len(ws) - {_SPAN_W - 2}),
                          i -> array_to_string(ws[i:i+{_SPAN_W - 1}], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS span
  FROM d
),
dups AS (
  SELECT span FROM occ GROUP BY span HAVING count(DISTINCT doc_id) >= 2
),
hits AS (
  SELECT doc_id, start, start + {_SPAN_W - 1} AS "end"
  FROM occ JOIN dups USING (span)
),
marked AS (
  SELECT doc_id, start, "end",
         CASE WHEN max("end") OVER (PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                    IS NULL
              OR start > max("end") OVER (PARTITION BY doc_id ORDER BY start
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
              THEN 1 ELSE 0 END AS is_new
  FROM hits
),
islands AS (
  SELECT doc_id, start, "end",
         sum(is_new) OVER (PARTITION BY doc_id ORDER BY start
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS island
  FROM marked
),
regions AS (
  SELECT doc_id, island, min(start) AS lo, max("end") AS hi
  FROM islands GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_regions,
         CAST(sum(hi - lo + 1) AS BIGINT) AS dup_words,
         CAST(max(hi - lo + 1) AS BIGINT) AS max_region_words
  FROM regions GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.ws) AS BIGINT) AS n_words,
       coalesce(p.n_regions, 0) AS n_regions,
       coalesce(p.dup_words, 0) AS dup_words,
       coalesce(p.max_region_words, 0) AS max_region_words,
       (coalesce(p.dup_words, 0) // CAST(len(d.ws) AS BIGINT)) * 1000000
         + ((coalesce(p.dup_words, 0) % CAST(len(d.ws) AS BIGINT)) * 1000000)
             // CAST(len(d.ws) AS BIGINT) AS dup_ppm
FROM d LEFT JOIN per_doc p ON p.doc_id = d.doc_id
"""


#: packs (doc_id, start) into one BIGINT so "first occurrence in corpus
#: order" is a plain MIN in both engines: doc_id·2^20 + start. Valid
#: while docs stay under 2^20 words (a 1M-word doc is ~100x the longest
#: web document; enforceable at ingest) and doc_id < 2^43.
_POS_STRIDE = 1 << 20


def dedup_exactsubstr_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length ExactSubstr scrub with Lee et al. ACL'22's
    ACTUAL dedup criterion and keeper policy — the two places
    `dedup_span_scrub` still diverged from the published method
    (r8 verdict stretch ask #5):

    1. **Within-doc duplicates count.** A span is duplicated when it
       has >= 2 OCCURRENCES anywhere in the corpus (the paper counts
       suffix-array matches, which do not care whether the second copy
       sits in the same document); `span_scrub` required >= 2 distinct
       docs, so a document that plagiarizes ITSELF (the classic
       boilerplate-repetition failure mode) passed untouched.
    2. **The keeper is an occurrence, not a document.** The paper keeps
       the first occurrence of each duplicated string in corpus order
       and removes every other; `span_scrub` exempted the whole keeper
       document. Corpus order here is (doc_id, start), packed into one
       BIGINT (`_POS_STRIDE`) so the keeper is a single MIN aggregate.

    Variable length falls out of the union: a duplicated run of
    L >= {_SPAN_W} words appears as L-{_SPAN_W}+1 overlapping
    fixed-width windows whose COVERED-POSITION UNION is exactly the
    positions inside some duplicated substring of length >= {_SPAN_W}
    — the same removal mask the suffix-array implementation computes
    with threshold {_SPAN_W}, without materializing suffixes (the
    islands coalescence argument, `dedup_span_islands`). Like the
    published tool, a kept first occurrence can still lose words to a
    DIFFERENT span's mask when duplicated regions overlap.

    Output: the scrubbed corpus (doc_id, n_words, n_removed,
    clean_text) — `span_scrub`'s shape, so the two policies diff
    directly.

    Plan shape at 100 TB: windows explode map-side and cross the
    network once as 16-byte digests (`_span_key`); (count, first
    occurrence) are running aggregates of one span-keyed window, so
    each occurrence row decides hit-or-not locally; only (doc_id,
    start) hit rows re-shuffle for the gap-slice reassembly. No pair
    join, no suffix array, O(corpus + dup mass).
    Reference analogue: the dedup step a training-data pipeline runs
    before tokenization (SURVEY.md LLM-ops family)."""
    return exactsubstr_scrub(_docs_parallel(spark, sf_dir))


def exactsubstr_scrub(docs: DataFrame) -> DataFrame:
    """`dedup_exactsubstr_scrub` over any (doc_id, text) frame — split
    out for the property test (the `span_scrub` convention). Same r13
    gap-slice re-assembly as `span_scrub` (see its docstring): only
    (doc_id, start) hit rows shuffle; the corpus text moves once.
    r14: one span-keyed window over the 16-byte `_span_key` instead of
    the dups aggregation + occ⋈dups join — the occurrence count and
    first-occurrence key are running aggregates of each row's own
    window partition, so the span stream is built and exchanged once
    (see `span_scrub`)."""
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    idx = F.when(n >= _SPAN_W, F.sequence(F.lit(1), n - (_SPAN_W - 1))).otherwise(
        F.array().cast("array<int>")
    )
    occ = d.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("long").alias("start"),
                    _span_key(
                        F.concat_ws(" ", F.slice("ws", i, _SPAN_W))
                    ).alias("k"),
                ),
            )
        ).alias("o"),
    ).select(
        "doc_id",
        "o.start",
        "o.k",
        (F.col("doc_id") * _POS_STRIDE + F.col("o.start")).alias("occkey"),
    )
    # occurrence count (NOT distinct docs) + first occurrence in corpus
    # order, as running aggregates over the span-keyed window
    w = Window.partitionBy("k")
    marked = occ.select(
        "doc_id",
        "start",
        "occkey",
        F.count("*").over(w).alias("nocc"),
        F.min("occkey").over(w).alias("keeper_key"),
    )
    hits = marked.filter(
        (F.col("nocc") >= 2) & (F.col("occkey") != F.col("keeper_key"))
    ).select("doc_id", "start")
    return _scrub_reassemble(d, hits)


DEDUP_EXACTSUBSTR_ORACLE = f"""
WITH d AS ({_WORDS_SQL}),
words AS (
  SELECT doc_id,
         unnest(range(1, len(ws) + 1)) AS pos,
         unnest(ws) AS word
  FROM d
),
occ AS (
  SELECT doc_id,
         unnest(CASE WHEN len(ws) >= {_SPAN_W}
                     THEN range(1, len(ws) - {_SPAN_W - 2})
                     ELSE CAST([] AS BIGINT[]) END) AS start,
         unnest(CASE WHEN len(ws) >= {_SPAN_W}
                     THEN list_transform(range(1, len(ws) - {_SPAN_W - 2}),
                          i -> array_to_string(ws[i:i+{_SPAN_W - 1}], ' '))
                     ELSE CAST([] AS VARCHAR[]) END) AS span
  FROM d
),
dups AS (
  SELECT span, min(doc_id * {_POS_STRIDE} + start) AS keeper_key
  FROM occ GROUP BY span HAVING count(*) >= 2
),
covered AS (
  SELECT DISTINCT o.doc_id, o.start + k.k AS pos
  FROM occ o JOIN dups USING (span)
  CROSS JOIN (SELECT unnest(range(0, {_SPAN_W})) AS k) k
  WHERE o.doc_id * {_POS_STRIDE} + o.start <> dups.keeper_key
),
kept AS (
  SELECT w.doc_id, w.pos, w.word
  FROM words w LEFT JOIN covered c ON c.doc_id = w.doc_id AND c.pos = w.pos
  WHERE c.doc_id IS NULL
),
clean AS (
  SELECT doc_id, count(*) AS n_kept,
         string_agg(word, ' ' ORDER BY pos) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id,
       CAST(len(d.ws) AS BIGINT) AS n_words,
       CAST(len(d.ws) - coalesce(c.n_kept, 0) AS BIGINT) AS n_removed,
       coalesce(c.clean_text, '') AS clean_text
FROM d LEFT JOIN clean c ON c.doc_id = d.doc_id
"""


# --- LSH-vs-exact calibration report ---------------------------------------


# calibration runs the EXACT pair graph; above this many docs it
# self-caps to a deterministic md5-bucket sample (see docstring)
_CAL_MAX_DOCS = 20_000
_CAL_BUCKETS = 10_000


def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured calibration of the banded-LSH estimator against its
    exact anchor — the report that justifies running the LSH family at
    100 TB where the exact graph cannot go: per TRUE-jaccard decile
    bucket, how many exact near-dup pairs exist, how many the LSH
    candidate stage recovered (recall, integer ppm), and the mean
    |estimated − true| jaccard error over recovered pairs (ppm).

    Both inputs are the session-shared pair graphs
    (`exact_ngram_pairs`, `dedup_minhash_lsh`), so after any dedup
    query this whole report is one (d1,d2) join + a 6-row aggregate;
    the join is pair-table-sized — result-bound like the family
    itself. All derived columns are integer ppm via the floor(x·10⁶
    + 0.5) device (IEEE-primitive-only, identical in both engines);
    the bucket comes from integer division of the ppm value, never
    from floating-point floor(jaccard*10). False-positive candidates
    (LSH pairs below the exact threshold) are out of scope — recall
    and error against TRUTH is the contract; the est-side threshold
    behavior is already pinned by `dedup_minhash_lsh`'s own oracle.

    SAMPLE-SCALE ENFORCEMENT (the 100-TB contract): calibration
    requires the exact pair graph — quadratic, and deliberately
    excluded from the repo's scaling claims. Production therefore runs
    it on a SAMPLE, and as of round 6 the operator enforces that
    itself instead of trusting the caller: when the corpus exceeds
    ``_CAL_MAX_DOCS`` documents, the exact side is built over a
    deterministic md5-bucket document sample sized to ~_CAL_MAX_DOCS
    (bucket = first 4 md5 hex chars of doc_id mod 10 000 — a pure
    function of the key, identical across engines/partitionings/
    retries; the same device as `curation_stratified_cap`). The LSH
    side stays FULL-corpus — that is the thing being calibrated. The
    applied fraction is emitted as ``sample_ppm`` (1 000 000 = no
    sampling) so a report consumer can never mistake a sampled recall
    for an exhaustive one. At testdata scale the cap is inactive and
    the exact side reuses the session-shared `exact_ngram_pairs`
    subtree. The corpus count that sizes the sample is a 1-row scalar
    aggregate (the repo's allowed collect class)."""
    n_docs = _docs_parallel(spark, sf_dir).count()
    keep = (
        _CAL_BUCKETS
        if n_docs <= _CAL_MAX_DOCS
        else _CAL_MAX_DOCS * _CAL_BUCKETS // n_docs
    )
    if keep >= _CAL_BUCKETS:
        true_pairs = exact_ngram_pairs(spark, sf_dir)
    else:
        bucket = (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
            ).cast("int")
            % _CAL_BUCKETS
        )
        true_pairs = _jaccard_pairs(
            _doc_shingles(spark, sf_dir).filter(bucket < F.lit(keep)),
            "shingle",
            _NGRAM_JACCARD_T,
        )
    est = dedup_minhash_lsh(spark, sf_dir).select("d1", "d2", "est_jaccard")
    tppm = F.floor(F.col("jaccard") * 1000000.0 + F.lit(0.5)).cast("bigint")
    eppm = F.floor(F.col("est_jaccard") * 1000000.0 + F.lit(0.5)).cast("bigint")
    joined = true_pairs.join(est, ["d1", "d2"], "left").select(
        F.least(
            F.expr(
                "CAST(floor(jaccard * 1000000.0 + 0.5) AS BIGINT) DIV 100000"
            ),
            F.lit(9).cast("bigint"),
        ).alias("bucket"),
        F.col("est_jaccard").isNotNull().alias("found"),
        F.when(F.col("est_jaccard").isNotNull(), F.abs(eppm - tppm)).alias("err_ppm"),
    )
    return (
        joined.groupBy("bucket")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.when(F.col("found"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_found"),
            F.sum("err_ppm").alias("err_sum"),
        )
        .select(
            "bucket",
            "n_true",
            "n_found",
            F.expr("CAST(n_found * 1000000 DIV n_true AS BIGINT)").alias(
                "recall_ppm"
            ),
            F.expr(
                "CAST(CASE WHEN n_found > 0 THEN err_sum DIV n_found END AS BIGINT)"
            ).alias("mean_abs_err_ppm"),
            F.lit(keep * (1_000_000 // _CAL_BUCKETS))
            .cast("bigint")
            .alias("sample_ppm"),
        )
        .orderBy("bucket")
    )


# the deterministic doc-sample cap, mirrored from the Spark side:
# keep-bucket width from the corpus count, md5-bucket membership test
_CAL_KEEP_SQL = f"""(SELECT CASE WHEN count(*) <= {_CAL_MAX_DOCS} THEN {_CAL_BUCKETS}
         ELSE {_CAL_MAX_DOCS} * {_CAL_BUCKETS} // count(*) END FROM documents)"""
_CAL_SAMPLED_SHINGLES_SQL = f"""
  SELECT doc_id, shingle FROM ({_DOC_SHINGLES_SQL})
  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
          % {_CAL_BUCKETS} < {_CAL_KEEP_SQL}
"""

DEDUP_LSH_CALIBRATION_ORACLE = f"""
WITH {LSH_EST_SQL},
truep AS (SELECT * FROM ({_jaccard_oracle(_CAL_SAMPLED_SHINGLES_SQL, "shingle", _NGRAM_JACCARD_T)})),
b AS (
  SELECT least(CAST(floor(t.jaccard * 1000000.0 + 0.5) AS BIGINT) // 100000, 9)
           AS bucket,
         e.est_jaccard IS NOT NULL AS found,
         CASE WHEN e.est_jaccard IS NOT NULL
              THEN abs(CAST(floor(e.est_jaccard * 1000000.0 + 0.5) AS BIGINT)
                       - CAST(floor(t.jaccard * 1000000.0 + 0.5) AS BIGINT))
         END AS err_ppm
  FROM truep t LEFT JOIN est e USING (d1, d2)
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(count(*) AS BIGINT) AS n_true,
       CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) AS BIGINT) AS n_found,
       CAST(sum(CASE WHEN found THEN 1 ELSE 0 END) * 1000000
            // count(*) AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN sum(CASE WHEN found THEN 1 ELSE 0 END) > 0
                 THEN sum(err_ppm) // sum(CASE WHEN found THEN 1 ELSE 0 END)
            END AS BIGINT) AS mean_abs_err_ppm,
       CAST({_CAL_KEEP_SQL} * {1_000_000 // _CAL_BUCKETS} AS BIGINT) AS sample_ppm
FROM b
GROUP BY bucket
ORDER BY bucket
"""


# --- b-bit minwise hashing (signature compression) -------------------------


def dedup_minhash_bbit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit minwise hashing (Li & König, WWW 2010): store only the
    LOWEST BIT of each minhash value — a 64× smaller signature — and
    estimate jaccard from bit agreement with the collision correction
    Ĵ = 2·(matched/k) − 1 (two unequal minima still agree with
    probability 1/2 at b=1). The published trade-off that makes
    billion-doc signature tables fit in memory; this report measures
    what the compression costs HERE, per true-similarity decile of the
    full-width estimator over the session-shared LSH candidate pairs:

        decile | n_pairs | mean_abs_err_ppm | n_overestimated

    All-integer contract: bit = parity of the minimum's last hex
    digit (same md5 device, both engines); matched-bit counts are
    exact; Ĵ in ppm is 2·(matched·10⁶ DIV {_N_PERM}) − 10⁶ (the only
    division is on a non-negative count); |Ĵ − J_full| sums exactly.

    Plan shape at 100 TB: candidates come from the shared banded-LSH
    subtree; the per-pair work is two joins against the |docs|-row
    signature table and a {_N_PERM}-term bit comparison. The POINT of
    b-bit in production is that the signature table those joins probe
    is 1 bit/perm instead of 64 — the report carries the accuracy
    half of that argument."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    sigs = _minhash_sigs_columnar(_doc_shingles(spark, sf_dir, distinct=False))
    parity = [
        F.conv(F.substring(F.col(f"h{p}"), 16, 1), 16, 10).cast("int") % 2
        for p in range(_N_PERM)
    ]
    bits = sigs.select("doc_id", F.array(*parity).alias("b"))
    matched = F.size(F.filter(F.zip_with("b1", "b2", lambda x, y: x == y), lambda m: m))
    full_ppm = F.floor(F.col("est_jaccard") * 1_000_000 + F.lit(0.5)).cast("bigint")
    scored = (
        _sized(pairs, bits, "b")
        .select(
            full_ppm.alias("full_ppm"),
            matched.cast("bigint").alias("matched"),
        )
        .select(
            "full_ppm",
            F.expr(f"2 * (matched * 1000000 DIV {_N_PERM}) - 1000000").alias(
                "b1_ppm"
            ),
        )
    )
    return (
        scored.select(
            F.least(F.expr("full_ppm DIV 100000"), F.lit(9)).alias("decile"),
            "full_ppm",
            "b1_ppm",
        )
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr("CAST(sum(abs(b1_ppm - full_ppm)) DIV count(*) AS BIGINT)").alias(
                "mean_abs_err_ppm"
            ),
            F.sum(F.when(F.col("b1_ppm") > F.col("full_ppm"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_overestimated"),
        )
        .orderBy("decile")
    )


def _bbit_oracle() -> str:
    bit1 = "CAST(('0x' || substr(s1.h, 16, 1)) AS INTEGER) % 2"
    bit2 = "CAST(('0x' || substr(s2.h, 16, 1)) AS INTEGER) % 2"
    return f"""
WITH {LSH_EST_SQL},
pairbits AS (
  SELECT e.d1, e.d2,
         CAST(floor(e.est_jaccard * 1000000 + 0.5) AS BIGINT) AS full_ppm,
         CAST(sum(CASE WHEN {bit1} = {bit2} THEN 1 ELSE 0 END) AS BIGINT)
           AS matched
  FROM est e
  JOIN sigs s1 ON s1.doc_id = e.d1
  JOIN sigs s2 ON s2.doc_id = e.d2 AND s2.perm = s1.perm
  GROUP BY e.d1, e.d2, e.est_jaccard
),
scored AS (
  SELECT least(full_ppm // 100000, 9) AS decile, full_ppm,
         2 * (matched * 1000000 // {_N_PERM}) - 1000000 AS b1_ppm
  FROM pairbits
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(CAST(sum(abs(b1_ppm - full_ppm)) AS BIGINT) // count(*) AS BIGINT)
         AS mean_abs_err_ppm,
       CAST(sum(CASE WHEN b1_ppm > full_ppm THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overestimated
FROM scored
GROUP BY decile
ORDER BY decile
"""


# --- Bloom-filter exact-span admission gate --------------------------------

_BLOOM_M_BITS = 1 << 18  # filter size (bits); size ~= 14 bits/key for <1% FPR
_BLOOM_K = 4  # hash functions (md5 hex slices)
_BLOOM_WORD = 32  # bits per filter word (shifts stay INT-safe in BIGINT)


def doc_span_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, key) — md5 of every {_SPAN_W}-word span per doc, set
    semantics (same span device as `span_dup_fractions`). Docs shorter
    than the window contribute no rows."""
    d = docs.select("doc_id", F.split("text", " ").alias("ws"))
    n = F.size("ws")
    idx = F.when(n >= _SPAN_W, F.sequence(F.lit(1), n - (_SPAN_W - 1))).otherwise(
        F.array().cast("array<int>")
    )
    spans = F.transform(
        idx,
        lambda i: F.md5(
            F.concat_ws(
                " ", *[F.element_at(F.col("ws"), i + j) for j in range(_SPAN_W)]
            )
        ),
    )
    # per-doc set semantics in the array domain (map-side), not a
    # corpus-wide distinct exchange (r13, guide §2.4)
    return d.select("doc_id", F.explode(F.array_distinct(spans)).alias("key"))


def _bloom_pos_rows(frame: DataFrame, cols: list, m_bits: int, k: int) -> DataFrame:
    hexpos = [
        F.conv(F.substring("key", 1 + 7 * j, 7), 16, 10).cast("bigint") % m_bits
        for j in range(k)
    ]
    return frame.select(*cols, F.explode(F.array(*hexpos)).alias("pos")).select(
        *cols,
        F.expr(f"pos DIV {_BLOOM_WORD}").alias("word"),
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), CAST(pos % {_BLOOM_WORD} AS INT))"
        ).alias("mask"),
    )


def bloom_bits(keys: DataFrame, m_bits: int = _BLOOM_M_BITS, k: int = _BLOOM_K) -> DataFrame:
    """The Bloom filter as a (word, bits) relation: map-side-combinable
    bit_or whose exchange carries at most m_bits/{_BLOOM_WORD} rows
    regardless of corpus size."""
    return (
        _bloom_pos_rows(keys, [], m_bits, k)
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )


def bloom_probe(
    incoming_spans: DataFrame,
    bloom: DataFrame,
    corpus_keys: DataFrame,
    m_bits: int = _BLOOM_M_BITS,
    k: int = _BLOOM_K,
) -> DataFrame:
    """Probe incoming (doc_id, key) span rows against the broadcast
    filter; only bloom-hit spans pay the verify join against the real
    corpus key set. One row per incoming doc.

    (r13 note: a k-way map-side broadcast-join formulation of the bit
    probes — no position explode, no (doc, key) exchange — was built
    and MEASURED SLOWER at sf0.1, 3.6 s vs 2.4 s: k chained broadcast
    joins plus the filter checkpoint cost more than the explode +
    partially-aggregated groupBy they replaced. Reverted; the explode
    rows collapse map-side, so the exchange already carries ~1 row per
    span.)"""
    incoming_docs = incoming_spans.select("doc_id").distinct()
    probe = (
        _bloom_pos_rows(incoming_spans, ["doc_id", "key"], m_bits, k)
        .join(F.broadcast(bloom), "word", "left")
        .groupBy("doc_id", "key")
        .agg(
            (
                F.sum(
                    F.when(
                        F.col("bits").isNotNull()
                        & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
                        1,
                    ).otherwise(0)
                )
                == k
            ).alias("bloom_hit")
        )
    )
    true_hits = (
        probe.filter("bloom_hit")
        .join(corpus_keys, "key", "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_true_hits"))
    )
    per_doc = probe.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_hits"),
    )
    return (
        incoming_docs.join(per_doc, "doc_id", "left")
        .join(true_hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce("n_bloom_hits", F.lit(0)).cast("bigint").alias("n_bloom_hits"),
            F.coalesce("n_true_hits", F.lit(0)).cast("bigint").alias("n_true_hits"),
            (F.coalesce("n_true_hits", F.lit(0)) >= 1).alias("contaminated"),
        )
    )  # one row per incoming doc — unsorted


def dedup_bloom_gate_impl(
    spark: SparkSession, sf_dir: str, m_bits: int = _BLOOM_M_BITS, k: int = _BLOOM_K
) -> DataFrame:
    """Bloom-filter ingest gate for EXACT-SUBSTRING contamination: does
    an incoming document repeat any {_SPAN_W}-word span already in the
    corpus (the Lee et al. ACL 2022 memorization window, same span
    device as `dedup_span_exact`)? The corpus side (doc_id % 3 != 0,
    the corpus-so-far split `dedup_incoming_vs_corpus` uses) collapses
    to an m-bit Bloom filter stored as m/{_BLOOM_WORD} (word, bits)
    BIGINT rows; every incoming span probes its k md5-derived bit
    positions against the broadcast filter; only BLOOM-HIT spans reach
    the exact verify join. Output per incoming doc: span totals, bloom
    hits, verified true hits, and the contamination verdict — with
    n_true_hits <= n_bloom_hits structurally (no false negatives;
    pinned in tests with a deliberately undersized filter that
    exhibits false positives while still admitting every true hit).

    Scale shape (100 TB): the corpus span stream feeds a bit_or
    aggregate that is map-side combinable and whose exchange carries
    at most m/{_BLOOM_WORD} rows REGARDLESS of corpus size; the filter
    broadcasts (m=2^18 → 32 KiB); incoming spans probe it without
    shuffling the corpus. Only the hit sliver (true hits + ~FPR of
    probes) pays the verify join against the real span set — the
    published reason ingest dedup fronts the span join with a Bloom
    filter. At production span cardinality m scales with the corpus
    (~14 bits per distinct span for sub-1% FPR at k=4) and the filter
    table stays broadcastable to ~10^10 spans (40 GB would not — at
    that point the same plan shards the filter by pos range and the
    probe co-partitions, one extra exchange on the INCOMING side
    only)."""
    d = _docs_parallel(spark, sf_dir).select("doc_id", "text")
    all_spans = doc_span_keys(d)
    corpus_keys = (
        all_spans.filter(F.col("doc_id") % 3 != 0).select("key").distinct()
    )
    incoming_spans = all_spans.filter(F.col("doc_id") % 3 == 0)
    return bloom_probe(
        incoming_spans, bloom_bits(corpus_keys, m_bits, k), corpus_keys, m_bits, k
    )


def dedup_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_bloom_gate_impl(spark, sf_dir)


def _bloom_gate_oracle(m_bits: int = _BLOOM_M_BITS, k: int = _BLOOM_K) -> str:
    return f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
doc_spans AS (
  SELECT DISTINCT doc_id,
         md5(list_aggregate(ws[CAST(u.i AS INTEGER):CAST(u.i AS INTEGER) + {_SPAN_W - 1}],
                            'string_agg', ' ')) AS key
  FROM w, unnest(range(1, len(ws) - {_SPAN_W - 2})) AS u(i)
),
corpus_keys AS (SELECT DISTINCT key FROM doc_spans WHERE doc_id % 3 != 0),
bloom AS (
  SELECT pos // {_BLOOM_WORD} AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % {_BLOOM_WORD} AS INTEGER)) AS bits
  FROM (
    SELECT DISTINCT
           CAST(('0x' || substr(key, 1 + 7 * u.j, 7)) AS BIGINT) % {m_bits} AS pos
    FROM corpus_keys, unnest(range(0, {k})) AS u(j)
  ) GROUP BY 1
),
ipos AS (
  SELECT doc_id, key,
         CAST(('0x' || substr(key, 1 + 7 * u.j, 7)) AS BIGINT) % {m_bits} AS pos
  FROM doc_spans, unnest(range(0, {k})) AS u(j)
  WHERE doc_id % 3 = 0
),
probe AS (
  SELECT i.doc_id, i.key,
         (sum(CASE WHEN b.bits IS NOT NULL
                    AND (b.bits & (CAST(1 AS BIGINT) << CAST(i.pos % {_BLOOM_WORD} AS INTEGER)))
                        = (CAST(1 AS BIGINT) << CAST(i.pos % {_BLOOM_WORD} AS INTEGER))
               THEN 1 ELSE 0 END) = {k}) AS bloom_hit
  FROM ipos i
  LEFT JOIN bloom b ON b.word = i.pos // {_BLOOM_WORD}
  GROUP BY i.doc_id, i.key
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_hits,
       CAST(sum(CASE WHEN bloom_hit AND key IN (SELECT key FROM corpus_keys)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_true_hits,
       sum(CASE WHEN bloom_hit AND key IN (SELECT key FROM corpus_keys)
           THEN 1 ELSE 0 END) >= 1 AS contaminated
FROM probe
GROUP BY doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_minhash_bbit": QuerySpec(
        "dedup_minhash_bbit",
        dedup_minhash_bbit,
        _bbit_oracle(),
        "b-bit minwise hashing accuracy report: 1-bit signature "
        "estimator vs the full-width estimator per similarity decile "
        "(the 64x signature-compression trade-off, measured)",
    ),
    "dedup_bloom_gate": QuerySpec(
        "dedup_bloom_gate",
        dedup_bloom_gate,
        _bloom_gate_oracle(),
        "Bloom-filter span-contamination ingest gate: corpus 8-word "
        "spans as a broadcast bit table, probe-then-verify (no false "
        "negatives; verify join pays only for bloom hits)",
    ),
    "dedup_lsh_calibration": QuerySpec(
        "dedup_lsh_calibration",
        dedup_lsh_calibration,
        DEDUP_LSH_CALIBRATION_ORACLE,
        "LSH recall + estimate error vs the exact jaccard anchor, per decile",
    ),
    "dedup_span_islands": QuerySpec(
        "dedup_span_islands",
        dedup_span_islands,
        DEDUP_SPAN_ISLANDS_ORACLE,
        "maximal duplicated regions per doc (gaps-and-islands over "
        "duplicated spans): n_regions, dup word mass, longest run, dup ppm",
    ),
    "dedup_span_scrub": QuerySpec(
        "dedup_span_scrub",
        dedup_span_scrub,
        DEDUP_SPAN_SCRUB_ORACLE,
        "exact-substring removal: cross-doc duplicated spans excised "
        "from all but the keeper doc (scrubbed corpus out)",
    ),
    "dedup_exactsubstr_scrub": QuerySpec(
        "dedup_exactsubstr_scrub",
        dedup_exactsubstr_scrub,
        DEDUP_EXACTSUBSTR_ORACLE,
        "ExactSubstr scrub with the Lee et al. ACL'22 policy: within-doc "
        "occurrences count as duplicates, keeper is the first occurrence "
        "in corpus order (variable-length via covered-position union)",
    ),
    "dedup_span_exact": QuerySpec(
        "dedup_span_exact",
        dedup_span_exact,
        DEDUP_SPAN_ORACLE,
        "per-doc duplicated 8-word-span fraction (fixed-window substring-dedup signal)",
    ),
    "dedup_containment": QuerySpec(
        "dedup_containment",
        dedup_containment,
        DEDUP_CONTAINMENT_ORACLE,
        "asymmetric shingle containment >= 0.9: doc-inside-doc detection",
    ),
    "dedup_containment_lsh": QuerySpec(
        "dedup_containment_lsh",
        dedup_containment_lsh,
        DEDUP_CONTAINMENT_LSH_ORACLE,
        "containment verified over banded-LSH candidate pairs (corpus-scale path)",
    ),
    "dedup_containment_profile": QuerySpec(
        "dedup_containment_profile",
        dedup_containment_profile,
        DEDUP_CONTAINMENT_PROFILE_ORACLE,
        "per-decile minhash-estimated containment distribution over the "
        "LSH candidates (aggregate scale face of dedup_containment_lsh)",
    ),
    "dedup_containment_bounded": QuerySpec(
        "dedup_containment_bounded",
        dedup_containment_bounded,
        DEDUP_CONTAINMENT_BOUNDED_ORACLE,
        "exact containment via exact-text collapse + estimate screen: "
        "verify runs over one representative per distinct text, output "
        "expanded exactly through the membership map (corpus-scale "
        "exact path; oracle is the uncollapsed direct form)",
    ),
    "dedup_incoming_vs_corpus": QuerySpec(
        "dedup_incoming_vs_corpus",
        dedup_incoming_vs_corpus,
        DEDUP_INCOMING_ORACLE,
        "per-doc admission verdict vs corpus LSH index (streaming gate's batch twin)",
    ),
    "dedup_exact": QuerySpec(
        "dedup_exact", dedup_exact, DEDUP_EXACT_ORACLE, "fingerprint hash-groupBy"
    ),
    "fuzzy_match_part_names": QuerySpec(
        "fuzzy_match_part_names",
        fuzzy_match_part_names,
        FUZZY_MATCH_ORACLE,
        "blocked edit-distance entity resolution",
    ),
    "dedup_simhash_pairs": QuerySpec(
        "dedup_simhash_pairs",
        dedup_simhash_pairs,
        DEDUP_SIMHASH_PAIRS_ORACLE,
        "simhash signature-bucket candidate pairs",
    ),
    "dedup_word_jaccard": QuerySpec(
        "dedup_word_jaccard",
        dedup_word_jaccard,
        _jaccard_oracle(_DOC_WORDS_SQL, "word", _WORD_JACCARD_T),
        "exact word-set jaccard pairs (prefix-filtered: word postings are skewed)",
    ),
    "dedup_ngram_jaccard": QuerySpec(
        "dedup_ngram_jaccard",
        dedup_ngram_jaccard,
        _jaccard_oracle(_DOC_SHINGLES_SQL, "shingle", _NGRAM_JACCARD_T),
        "exact 3-gram jaccard pairs (naive inverted-index baseline)",
    ),
    "dedup_ngram_jaccard_prefix": QuerySpec(
        "dedup_ngram_jaccard_prefix",
        dedup_ngram_jaccard_prefix,
        _jaccard_oracle(_DOC_SHINGLES_SQL, "shingle", _NGRAM_JACCARD_T),
        "exact 3-gram jaccard pairs via lossless prefix filtering (scale path)",
    ),
    "dedup_minhash_lsh": QuerySpec(
        "dedup_minhash_lsh",
        dedup_minhash_lsh,
        DEDUP_MINHASH_ORACLE,
        "banded minhash candidates + estimated jaccard",
    ),
    "dedup_simhash": QuerySpec(
        "dedup_simhash", dedup_simhash, DEDUP_SIMHASH_ORACLE, "16-bit simhash signatures"
    ),
}
