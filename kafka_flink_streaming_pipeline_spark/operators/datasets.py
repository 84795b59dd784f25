"""Dataset-assembly operators: the curation steps between "scored,
deduped documents" and "a training mixture you can actually ship".

Four operators a large-scale training-data pipeline runs after
dedup/quality (operators/dedup.py, operators/text.py):

- deterministic split assignment: train/val/test membership must be a
  pure function of the document identity — never of row order,
  partitioning, or a sampler's RNG state — so any job on any cluster
  reproduces the exact same split. Implemented as md5(doc_id) bucket
  arithmetic (engine-identical hex → int), the distributed-systems
  version of hash-mod sharding.
- token-count histogram: the length distribution that drives batch
  packing and truncation decisions; integer bucket arithmetic only.
- stratified quality cap: keep the top-N documents per language by
  quality score — the per-group rank pattern (W1) applied to corpus
  balancing, one shuffle on the group key.
- connected components over the near-dup graph: pairwise similarity
  (dedup_ngram_jaccard) gives EDGES; an actual dedup decision needs
  COMPONENTS (A~B, B~C ⇒ keep one of {A,B,C}). Implemented as
  iterative min-label propagation — each round is one distributed
  join+groupBy shuffled on node id, the driver only checks the
  converged count (no row data ever collects). Converges in
  O(diameter) rounds; near-dup components are small cliques, so the
  practical bound is a handful of rounds. At 100 TB scale the same
  loop holds (each round is a shuffle on node id); if components grow
  adversarially deep, swap the body for the large-star/small-star
  rounds of Kiveris et al., "Connected Components in MapReduce and
  Beyond" (SoCC 2014) — same loop skeleton, provably O(log^2 n)
  rounds. The DuckDB oracle computes the same components with a
  recursive transitive-closure CTE, so the distributed fixpoint is
  checked against an independent single-node algorithm.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kafka_flink_streaming_pipeline_spark.operators import shared_cache
from kafka_flink_streaming_pipeline_spark.operators.dedup import (
    _DUP_THRESH,
    _NGRAM_JACCARD_T,
    _DOC_SHINGLES_SQL,
    LSH_EST_SQL,
    dedup_minhash_lsh,
    exact_ngram_pairs,
)
from kafka_flink_streaming_pipeline_spark.operators.text import quality_cte, quality_scores
from kafka_flink_streaming_pipeline_spark.functions.core import det_round
from kafka_flink_streaming_pipeline_spark.plans import QuerySpec
from kafka_flink_streaming_pipeline_spark.sources.batch import load_table

# --- deterministic train/val/test split -----------------------------------

_TRAIN_PCT, _VAL_PCT = 80, 10  # test gets the remainder


def _split_bucket(key: F.Column | None = None) -> F.Column:
    """md5(key) first 4 hex chars → int mod 100. Pure function of
    the key: stable across engines, partitionings, and reruns."""
    key = F.col("doc_id") if key is None else key
    hex4 = F.substring(F.md5(key.cast("string")), 1, 4)
    return F.conv(hex4, 16, 10).cast("int") % 100


def _split_name(key: F.Column | None = None) -> F.Column:
    """train/val/test label — shared by assignment and leakage check."""
    bucket = _split_bucket(key)
    return (
        F.when(bucket < _TRAIN_PCT, "train")
        .when(bucket < _TRAIN_PCT + _VAL_PCT, "val")
        .otherwise("test")
    )


def dataset_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    split = _split_name()
    n_tokens = F.regexp_count("text", F.lit(r"[a-z0-9]+"))
    return (
        d.select(split.alias("split"), F.col("lang"), n_tokens.alias("n_tokens"))
        .groupBy("split", "lang")
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("total_tokens"))
        .orderBy("split", "lang")
    )


DATASET_SPLIT_ORACLE = f"""
WITH t AS (
  SELECT CASE
           WHEN b < {_TRAIN_PCT} THEN 'train'
           WHEN b < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
           ELSE 'test' END AS split,
         lang,
         length(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens
  FROM (
    SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER) % 100 AS b,
           lang, text
    FROM documents
  )
)
SELECT split, lang, count(*) AS docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM t GROUP BY split, lang
ORDER BY split, lang
"""


# --- token-count histogram ------------------------------------------------

_BUCKET = 25


def token_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed length distribution; integer arithmetic only (n - n%w)
    so bucket edges are exact in both engines."""
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.regexp_count("text", F.lit(r"[a-z0-9]+"))
    bucket = (n_tokens - n_tokens % _BUCKET).alias("bucket_lo")
    return (
        d.select(bucket)
        .groupBy("bucket_lo")
        .agg(F.count("*").alias("docs"))
        .orderBy("bucket_lo")
    )


TOKEN_HISTOGRAM_ORACLE = f"""
WITH t AS (
  SELECT length(regexp_extract_all(text, '[a-z0-9]+')) AS n FROM documents
)
SELECT n - n % {_BUCKET} AS bucket_lo, count(*) AS docs
FROM t GROUP BY bucket_lo
ORDER BY bucket_lo
"""


# --- stratified quality cap (top-N per language) --------------------------

_CAP_PER_LANG = 5


def curation_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus balancing: top-N docs per language by quality score.
    Rank runs on the already-rounded score so the frontier is
    deterministic (round-6 value, doc_id tiebreak) in both engines.
    One shuffle on lang; the scored input reuses the tested
    quality_scores plan."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    scored = quality_scores(spark, sf_dir).select("doc_id", "quality_score")
    w = Window.partitionBy("lang").orderBy(F.desc("quality_score"), F.asc("doc_id"))
    return (
        d.join(scored, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CAP_PER_LANG)
        .select("lang", "rn", "doc_id", "quality_score")
        .orderBy("lang", "rn")
    )


STRATIFIED_CAP_ORACLE = f"""
WITH {quality_cte()},
ranked AS (
  SELECT d.lang, q.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY d.lang
                            ORDER BY q.quality_score DESC, q.doc_id ASC) AS rn
  FROM q JOIN documents d ON q.doc_id = d.doc_id
)
SELECT lang, rn, doc_id, quality_score
FROM ranked WHERE rn <= {_CAP_PER_LANG}
ORDER BY lang, rn
"""


# --- weighted mixture expansion (epochs per source) -----------------------

_MIXTURE_EPOCHS = {"web": 1, "books": 3, "code": 2}  # default weight 1


def dataset_mixture_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize a weighted training mixture: each doc repeats
    epoch-count times for its source (books 3x, code 2x, web 1x). The
    row generator is declarative — explode(sequence(1, n)) — so it
    runs inside whole-stage codegen with no Python and no driver loop;
    at 100 TB this is the standard "repeat high-quality sources"
    mixture step, and the expansion multiplies rows map-side without
    any shuffle. Output aggregates the expanded corpus per source."""
    d = load_table(spark, sf_dir, "documents")
    epochs = F.coalesce(
        *[
            F.when(F.col("source") == s, F.lit(n))
            for s, n in sorted(_MIXTURE_EPOCHS.items())
        ],
        F.lit(1),
    )
    n_tokens = F.regexp_count("text", F.lit(r"[a-z0-9]+"))
    expanded = d.select(
        "source",
        F.col("doc_id"),
        n_tokens.alias("n_tokens"),
        F.explode(F.sequence(F.lit(1), epochs)).alias("epoch"),
    )
    return (
        expanded.groupBy("source")
        .agg(
            F.count("*").alias("expanded_docs"),
            F.count_distinct("doc_id").alias("unique_docs"),
            F.sum("n_tokens").alias("expanded_tokens"),
            F.max("epoch").alias("max_epoch"),
        )
        .orderBy("source")
    )


def dataset_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based mixture weights COMPUTED from the corpus
    (vs `dataset_mixture_expand`'s hand-fixed epochs): per source,
    sampling weight ∝ n_tokens^α with α=1/2 — the classic multilingual
    /multi-source re-balancing (mBERT/XLM-R exponential smoothing;
    T5's and Llama's source mixing use the same n^α family). Head
    sources get down-weighted below one epoch, tail sources upsampled
    above it — the output shows exactly that::

        source | n_docs | n_tokens | weight_ppm | alloc_tokens | epochs_milli

    weight_ppm is the normalized sampling weight; alloc_tokens is the
    source's token allocation out of a budget of one corpus-size pass
    (T = Σ n_tokens); epochs_milli = alloc/n — >1000 means the source
    repeats, <1000 means it's subsampled.

    Hash contract: the only non-integer step is sqrt, which IEEE 754
    requires to be CORRECTLY ROUNDED (unlike ln/exp) — so
    floor(sqrt(n)·1000 + 0.5) is engine-exact; everything after is
    pure-BIGINT two-step floor division (the `curation_token_budget`
    discipline). Overflow bound: the two-step remainder products stay
    under 2^63 for corpora below ~9e12 total tokens — beyond that,
    split the ppm scale into two 1000× steps.

    At 100 TB: one groupBy(source) over the corpus (map-side combine
    does nearly all the work; source cardinality is tiny), then a
    broadcast of the one-row total — no large shuffle anywhere."""
    n_tokens = F.regexp_count("text", F.lit(r"[a-z0-9]+"))
    per_src = (
        load_table(spark, sf_dir, "documents")
        .select("source", n_tokens.alias("n_tokens"))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens"))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.floor(F.sqrt(F.col("n_tokens").cast("double")) * 1000 + F.lit(0.5))
            .cast("bigint")
            .alias("mass"),
        )
    )
    totals = per_src.agg(
        F.sum("mass").alias("mt"), F.sum("n_tokens").alias("t_total")
    )
    return (
        per_src.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.expr(
                "(mass DIV mt) * 1000000 + ((mass % mt) * 1000000) DIV mt"
            ).alias("weight_ppm"),
            F.expr(
                "(t_total DIV mt) * mass + ((t_total % mt) * mass) DIV mt"
            ).alias("alloc_tokens"),
        )
        .select(
            "source",
            "n_docs",
            "n_tokens",
            "weight_ppm",
            "alloc_tokens",
            F.expr(
                "(alloc_tokens DIV n_tokens) * 1000"
                " + ((alloc_tokens % n_tokens) * 1000) DIV n_tokens"
            ).alias("epochs_milli"),
        )
        .orderBy("source")
    )


def dataset_mixture_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the COMPUTED temperature mixture — the step between
    `dataset_mixture_temperature`'s weights and a training run's data
    loader: every doc repeats floor(epochs) times, plus one more copy
    admitted by a deterministic md5 draw with probability equal to the
    FRACTIONAL epoch part (the device every weighted data loader uses:
    2.4 epochs = 2 full passes + a 40% sample). Per source, the report
    shows what the loader will actually see::

        source | unique_docs | expanded_docs | expanded_tokens | achieved_epochs_milli

    achieved_epochs_milli is expanded/unique docs ×1000 (two-step
    BIGINT) — on the md5-uniform draw it lands within sampling noise
    of the target epochs_milli, which the pytest invariant pins.

    At 100 TB: the repeat is explode(sequence(1, k)) — map-side, no
    shuffle; the fractional admit is one md5 comparison per doc; the
    per-source epochs (a ≤|sources|-row frame) broadcast onto the
    corpus scan. One groupBy(source) rollup closes it."""
    weights = dataset_mixture_temperature(spark, sf_dir).select(
        "source", "epochs_milli"
    )
    n_tokens = F.regexp_count("text", F.lit(r"[a-z0-9]+"))
    d = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", n_tokens.alias("n_tokens")
    )
    # deterministic per-doc draw in [0, 1000): an md5 bucket of the id
    draw = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix:"), F.col("doc_id").cast("string"))), 1, 6
            ),
            16,
            10,
        )
        .cast("bigint")
        % 1000
    )
    expanded = (
        d.join(F.broadcast(weights), "source")
        .select(
            "source",
            "doc_id",
            "n_tokens",
            (
                F.expr("epochs_milli DIV 1000")
                + F.when(draw < F.col("epochs_milli") % 1000, 1).otherwise(0)
            ).alias("k"),
        )
        .filter(F.col("k") > 0)
        .select(
            "source",
            "doc_id",
            "n_tokens",
            F.explode(F.sequence(F.lit(1), F.col("k"))).alias("copy"),
        )
    )
    totals = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    return (
        expanded.groupBy("source")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("unique_docs"),
            F.count("*").cast("bigint").alias("expanded_docs"),
            F.sum("n_tokens").cast("bigint").alias("expanded_tokens"),
        )
        .join(F.broadcast(totals), "source")
        .select(
            "source",
            "n_docs",
            "unique_docs",
            "expanded_docs",
            "expanded_tokens",
            # achieved epochs over the SOURCE total (docs the draw
            # dropped still count — epochs < 1 must show as < 1000)
            F.expr(
                "(expanded_docs DIV n_docs) * 1000"
                " + ((expanded_docs % n_docs) * 1000) DIV n_docs"
            ).alias("achieved_epochs_milli"),
        )
        .orderBy("source")
    )


DATASET_MIXTURE_APPLY_ORACLE = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(length(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
massed AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
           AS mass
  FROM per_src
),
tot AS (
  SELECT CAST(sum(mass) AS BIGINT) AS mt,
         CAST(sum(n_tokens) AS BIGINT) AS t_total
  FROM massed
),
alloc AS (
  SELECT source,
         (t_total // mt) * mass + ((t_total % mt) * mass) // mt AS alloc_tokens,
         n_tokens
  FROM massed, tot
),
weights AS (
  SELECT source,
         CAST((alloc_tokens // n_tokens) * 1000
              + ((alloc_tokens % n_tokens) * 1000) // n_tokens AS BIGINT)
           AS epochs_milli
  FROM alloc
),
docs AS (
  SELECT d.source, d.doc_id,
         CAST(length(regexp_extract_all(d.text, '[a-z0-9]+')) AS BIGINT)
           AS n_tokens,
         w.epochs_milli // 1000
         + CASE WHEN CAST(('0x' || substr(md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 6))
                     AS BIGINT) % 1000 < w.epochs_milli % 1000
                THEN 1 ELSE 0 END AS k
  FROM documents d JOIN weights w USING (source)
),
expanded AS (
  SELECT source, doc_id, n_tokens, unnest(range(1, 1 + k)) AS copy
  FROM docs WHERE k > 0
),
rolled AS (
  SELECT source,
         CAST(count(DISTINCT doc_id) AS BIGINT) AS unique_docs,
         CAST(count(*) AS BIGINT) AS expanded_docs,
         CAST(sum(n_tokens) AS BIGINT) AS expanded_tokens
  FROM expanded
  GROUP BY source
),
totals AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY source)
SELECT r.source, t.n_docs, r.unique_docs, r.expanded_docs, r.expanded_tokens,
       CAST((r.expanded_docs // t.n_docs) * 1000
            + ((r.expanded_docs % t.n_docs) * 1000) // t.n_docs AS BIGINT)
         AS achieved_epochs_milli
FROM rolled r JOIN totals t USING (source)
ORDER BY source
"""


DATASET_MIXTURE_TEMPERATURE_ORACLE = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(length(regexp_extract_all(text, '[a-z0-9]+'))) AS BIGINT)
           AS n_tokens
  FROM documents GROUP BY source
),
massed AS (
  SELECT source, n_docs, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1000 + 0.5) AS BIGINT)
           AS mass
  FROM per_src
),
tot AS (
  SELECT CAST(sum(mass) AS BIGINT) AS mt,
         CAST(sum(n_tokens) AS BIGINT) AS t_total
  FROM massed
),
alloc AS (
  SELECT source, n_docs, n_tokens,
         (mass // mt) * 1000000 + ((mass % mt) * 1000000) // mt AS weight_ppm,
         (t_total // mt) * mass + ((t_total % mt) * mass) // mt AS alloc_tokens
  FROM massed, tot
)
SELECT source, n_docs, n_tokens,
       CAST(weight_ppm AS BIGINT) AS weight_ppm,
       CAST(alloc_tokens AS BIGINT) AS alloc_tokens,
       CAST((alloc_tokens // n_tokens) * 1000
            + ((alloc_tokens % n_tokens) * 1000) // n_tokens AS BIGINT)
         AS epochs_milli
FROM alloc
ORDER BY source
"""


_MIXTURE_CASE = " ".join(
    f"WHEN '{s}' THEN {n}" for s, n in sorted(_MIXTURE_EPOCHS.items())
)

DATASET_MIXTURE_ORACLE = f"""
WITH expanded AS (
  SELECT source, doc_id,
         length(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens,
         unnest(range(1, 1 + (CASE source {_MIXTURE_CASE} ELSE 1 END))) AS epoch
  FROM documents
)
SELECT source,
       count(*) AS expanded_docs,
       count(DISTINCT doc_id) AS unique_docs,
       CAST(sum(n_tokens) AS BIGINT) AS expanded_tokens,
       max(epoch) AS max_epoch
FROM expanded GROUP BY source
ORDER BY source
"""


# --- winsorization: clip at a per-group exact percentile ------------------


def winsorize_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clipping: cap o_totalprice at its per-priority p99.
    The percentile aggregate produces one tiny row per group —
    broadcast back onto the fact table (J4 pattern generalized to
    per-group scalars), then clip and re-aggregate. Two passes over
    the fact table but zero fact-side shuffles beyond the final
    aggregation; the p99 frontier uses percentile_disc (an actual
    data value) so the clip threshold is bit-identical across
    engines."""
    orders = load_table(spark, sf_dir, "orders")
    p99 = F.broadcast(
        orders.groupBy("o_orderpriority").agg(
            F.expr(
                "percentile_disc(0.99) WITHIN GROUP (ORDER BY o_totalprice)"
            ).alias("p99")
        )
    )
    clipped = orders.join(p99, "o_orderpriority").select(
        "o_orderpriority",
        F.least(F.col("o_totalprice"), F.col("p99")).alias("clipped"),
        (F.col("o_totalprice") > F.col("p99")).cast("int").alias("was_clipped"),
    )
    return (
        clipped.groupBy("o_orderpriority")
        .agg(
            F.sum(F.col("clipped").cast("decimal(18,2)")).cast("double").alias("clipped_total"),
            F.sum("was_clipped").alias("clipped_rows"),
            F.count("*").alias("rows"),
        )
        .orderBy("o_orderpriority")
    )


WINSORIZE_ORACLE = """
WITH p AS (
  SELECT o_orderpriority, quantile_disc(o_totalprice, 0.99) AS p99
  FROM orders GROUP BY o_orderpriority
)
SELECT o.o_orderpriority,
       CAST(sum(CAST(least(o.o_totalprice, p.p99) AS DECIMAL(18,2))) AS DOUBLE)
         AS clipped_total,
       CAST(sum(CAST(o.o_totalprice > p.p99 AS INTEGER)) AS BIGINT) AS clipped_rows,
       count(*) AS rows
FROM orders o JOIN p USING (o_orderpriority)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


# --- stream-static enrichment: events x documents dimension ---------------

_WIN5_US = 5 * 60 * 1_000_000


def stream_enrich_lang_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch formulation of the stream-static enrichment: events decode
    their document_id from the JSON payload, join the `documents`
    dimension (broadcast — the dim is tiny relative to the event
    stream at any SF), and count 5-min windowed views per language.
    `·/streaming/jobs.py::enrich_stream_job` runs the SAME plan over
    the replayed stream (stream-static joins are stateless: the static
    side is re-read per micro-batch, picking up dimension updates);
    equivalence is proven in test_stream_static_enrich_matches_batch."""
    ev = load_table(spark, sf_dir, "events").select(
        "ts", F.get_json_object("props", "$.k").cast("bigint").alias("document_id")
    )
    docs = F.broadcast(load_table(spark, sf_dir, "documents").select("doc_id", "lang"))
    return (
        ev.join(docs, ev.document_id == docs.doc_id)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "lang")
        .agg(F.count("*").alias("views"))
        .select(
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("window_end"),
            "lang",
            "views",
        )
        .orderBy("window_end", "lang")
    )


STREAM_ENRICH_ORACLE = f"""
SELECT strftime(make_timestamp((epoch_us(ts) // {_WIN5_US} + 1) * {_WIN5_US}),
                '%Y-%m-%d %H:%M:%S') AS window_end,
       d.lang,
       count(*) AS views
FROM events e
JOIN documents d
  ON CAST(json_extract_string(e.props, '$.k') AS BIGINT) = d.doc_id
GROUP BY window_end, d.lang
ORDER BY window_end, d.lang
"""


# --- connected components over the near-dup graph -------------------------

_MAX_CC_ROUNDS = 20


def label_propagate(nodes: DataFrame, pairs: DataFrame) -> DataFrame:
    """Connected components by min-label propagation to a fixpoint.

    `nodes`: one column `node`; `pairs`: undirected edges as columns
    (d1, d2). Every node starts labeled with its own id; each round
    every node takes (a) the min of its label and its neighbors'
    labels, then (b) its label's label — the pointer-jumping shortcut.
    Step (a) alone converges in O(diameter) rounds, which is fine for
    near-dup cliques but not for adversarially deep graphs; (b) makes
    label chains collapse geometrically, so the combined round count
    is O(log n) even on a path graph (the same doubling idea as the
    large-star/small-star rounds of Kiveris et al., SoCC 2014).

    The loop is driver-orchestrated but fully distributed per round
    (joins + groupBy shuffled on node id; the driver only sees the
    converged count). `localCheckpoint` truncates lineage each round
    so the plan does not grow with iteration count. Returns
    (node, label) with label = min node id of the component; raises
    if the round cap is hit before the fixpoint (can't happen below
    ~2^20-diameter graphs)."""
    # symmetrize via explode, NOT union-of-two-selects: a union's two
    # branches each re-execute the (expensive) pair-generation subtree,
    # doubling the dominant cost; explode emits both directions from
    # one pass over the pairs
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("d1"), F.col("d2")),
                    F.struct(F.col("d2").alias("d1"), F.col("d1").alias("d2")),
                )
            ).alias("e")
        )
        .select("e.d1", "e.d2")
        .localCheckpoint()
    )

    # the sum-based convergence test below requires numeric node ids:
    # F.sum over a string column yields NULL, NULL == NULL is truthy,
    # and the loop would exit after one round with wrong components
    node_type = dict(nodes.dtypes)["node"]
    if node_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"label_propagate needs an integral node id column, got {node_type}"
        )

    labels = nodes.select("node", F.col("node").alias("label"))
    # labels only ever decrease, so sum(label) strictly decreases on any
    # change — a partial-aggregate scan of the checkpointed round output
    # is the convergence test, replacing a per-round join+filter+count.
    # Seeding with the identity-labeling sum lets an edge-free (already
    # converged) input exit after its first round. Sum in decimal(38,0):
    # summing int64 ids overflows long at corpus scale (ANSI mode would
    # throw; non-ANSI would wrap and could alias two distinct states).
    _label_sum = F.sum(F.col("label").cast("decimal(38,0)"))
    prev_sum = labels.agg(_label_sum).collect()[0][0]
    for _ in range(_MAX_CC_ROUNDS):
        nbr_min = (
            edges.join(labels, edges.d2 == labels.node)
            .groupBy(F.col("d1").alias("node"))
            .agg(F.min("label").alias("nbr_label"))
        )
        stepped = labels.join(nbr_min, "node", "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_label", "label")).alias("label"),
        )
        # pointer jumping: follow my label's label (labels only ever
        # decrease, and every label is itself a node, so the self-join
        # always matches)
        new_labels = (
            stepped.alias("a")
            .join(stepped.alias("b"), F.col("a.label") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
            .localCheckpoint()
        )
        new_sum = new_labels.agg(_label_sum).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:
            return labels
        prev_sum = new_sum
    raise RuntimeError(
        f"label_propagate did not converge in {_MAX_CC_ROUNDS} rounds"
    )


def _doc_nodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents").select(F.col("doc_id").alias("node"))


# Session-shared converged (node, label) for the exact and the LSH edge
# graph: components, keep-best and the leakage composites all consume
# the SAME labeling, and the iterative propagation is the expensive
# half of each (round-3 bench: the family re-ran it per query, ~10 s
# of the 52 s battery). The edge sets are the shared
# `exact_ngram_pairs` / `dedup_minhash_lsh` artifacts.
@shared_cache.artifact("shared_components_exact")
def _components_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return label_propagate(
        _doc_nodes(spark, sf_dir), exact_ngram_pairs(spark, sf_dir).select("d1", "d2")
    )


@shared_cache.artifact("shared_components_lsh")
def _components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("est_jaccard") >= _DUP_THRESH)
        .select("d1", "d2")
    )
    return label_propagate(_doc_nodes(spark, sf_dir), pairs)


def _labels_as_components(labels: DataFrame) -> DataFrame:
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("component_id"),
        (F.col("node") == F.col("label")).alias("is_canonical"),
    )  # corpus-sized output: no global sort (oracle compare is order-insensitive)


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the ngram-jaccard near-dup graph; the
    converged labeling maps every doc to min(doc_id) of its component
    and `is_canonical` marks the survivor each component keeps."""
    return _labels_as_components(_components_exact(spark, sf_dir))


#: the exact-jaccard transitive-closure CTE chain — shared by every
#: oracle that needs the near-dup components (components + keep-best),
#: so the edge/threshold definition can never drift between them
_COMPONENTS_SQL = f"""
dw AS ({_DOC_SHINGLES_SQL}),
cnt AS (SELECT doc_id, count(*) AS c FROM dw GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM dw a JOIN dw b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY d1, d2
),
pairs AS (
  SELECT d1, d2 FROM common
  JOIN cnt c1 ON c1.doc_id = d1
  JOIN cnt c2 ON c2.doc_id = d2
  WHERE (floor((CAST(common AS DOUBLE) / (c1.c + c2.c - common)) * 1000000.0 + 0.5) / 1000000.0) >= {_NGRAM_JACCARD_T}
),
edges AS (SELECT d1, d2 FROM pairs UNION ALL SELECT d2 AS d1, d1 AS d2 FROM pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d1, reach.r FROM edges e JOIN reach ON reach.node = e.d2
)"""

DEDUP_COMPONENTS_ORACLE = f"""
WITH RECURSIVE
{_COMPONENTS_SQL}
SELECT node AS doc_id,
       min(r) AS component_id,
       (node = min(r)) AS is_canonical
FROM reach GROUP BY node
"""


def dedup_components_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over MinHash-LSH candidate edges — the
    production path at corpus scale. The exact-jaccard edge generation
    behind `dedup_components` is the verifiable baseline, but its
    all-pairs common-count join grows quadratically with duplication
    density; the banded LSH candidate join touches only bucket
    collisions (near-dups by construction), so the edge stage scales
    with the number of ACTUAL near-dup pairs. The md5-based minhash is
    fully deterministic, so the whole pipeline — signatures, bands,
    candidate pairs, estimated jaccard threshold, transitive closure —
    is reproduced by the DuckDB oracle's recursive CTE."""
    return _labels_as_components(_components_lsh(spark, sf_dir))


#: LSH transitive-closure CTE chain (composes `LSH_EST_SQL`) — shared
#: by every oracle over the LSH component labeling, mirroring
#: `_COMPONENTS_SQL` for the exact graph so the edge definition cannot
#: drift between the composites
_LSH_CLOSURE_SQL = f"""
{LSH_EST_SQL},
edges AS (SELECT d1, d2 FROM lsh_pairs
          UNION ALL SELECT d2 AS d1, d1 AS d2 FROM lsh_pairs),
reach(node, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.d1, reach.r FROM edges e JOIN reach ON reach.node = e.d2
)"""


def lsh_components_unrolled_ctes(passes: int = 4) -> str:
    """NON-RECURSIVE LSH component labeling as a strict linear CTE
    chain ending in ``comp(doc_id, component_id)`` — the
    engine-divergence-hardened alternative to `_LSH_CLOSURE_SQL` for
    oracles that COMPOSE the labeling with further large CTEs.

    Why this exists: the r6 driver hash-failed exactly the two oracles
    that nested `WITH RECURSIVE` + a twice-instantiated QUALITY_ORACLE
    (`curation_token_budget{,_parts}`), while every
    single-instantiation sibling over the same data was green — a
    composition-level wrong-result in one engine, not arithmetic
    (VERDICT r6 §What's wrong #1). This builder removes BOTH suspect
    features and one more we measured locally: DuckDB 1.0 INLINES a
    CTE once per reference (no auto-materialization), so a
    multiply-referenced CTE silently duplicates its whole upstream
    subtree — a naive unrolled propagation referencing ``lab{{i-1}}``
    twice per pass is 2^K copies of the minhash pipeline (observed: a
    16 GB, minutes-long plan at sf0.01). Every CTE here is referenced
    EXACTLY ONCE per pass:

    - ``uedges`` carries both edge directions PLUS a self-loop per
      doc, so one ``edges JOIN labels GROUP BY`` both keeps the node's
      own label and takes the neighborhood min — no second reference
      to the previous pass.
    - the self-loop row also exports the node's previous label as
      ``prev_lab`` (``min(CASE WHEN e.d2 = e.d1 THEN l.lab END)``
      ranges over that single row), so convergence is checked inside
      the chain: the final ``comp`` keeps only ``lab = prev_lab``
      rows. An under-unrolled chain therefore LOSES rows — a loud
      rows_match failure in the driver, never a silent wrong hash.

    ``passes`` = 4 is a 4× margin over the measured component diameter
    (1 at sf0.01 AND sf0.1 — near-dup components in the driver testdata
    are duplicate-doc cliques; verified against the recursive closure
    at both SFs, see tests/test_curation_budget.py). min-label
    propagation needs eccentricity-from-min passes, so 4 covers any
    component of diameter ≤ 4; beyond that the guard drops rows rather
    than lying. ``uedges`` itself is referenced once per pass (K total
    inlined copies of the minhash subtree — linear, and bounded by the
    small fixed K)."""
    ctes = [
        LSH_EST_SQL,
        """uedges AS (SELECT d1, d2 FROM lsh_pairs
            UNION ALL SELECT d2 AS d1, d1 AS d2 FROM lsh_pairs
            UNION ALL SELECT doc_id AS d1, doc_id AS d2 FROM documents)""",
        "lab0 AS (SELECT doc_id AS node, doc_id AS lab FROM documents)",
    ]
    for i in range(1, passes + 1):
        ctes.append(
            f"""lab{i} AS (
  SELECT e.d1 AS node, min(l.lab) AS lab,
         min(CASE WHEN e.d2 = e.d1 THEN l.lab END) AS prev_lab
  FROM uedges e JOIN lab{i - 1} l ON l.node = e.d2
  GROUP BY e.d1
)"""
        )
    ctes.append(
        f"""comp AS (
  SELECT node AS doc_id, lab AS component_id
  FROM lab{passes} WHERE lab = prev_lab
)"""
    )
    return ",\n".join(ctes)


DEDUP_COMPONENTS_LSH_ORACLE = f"""
WITH RECURSIVE
{_LSH_CLOSURE_SQL}
SELECT node AS doc_id,
       min(r) AS component_id,
       (node = min(r)) AS is_canonical
FROM reach GROUP BY node
"""


# --- canonical-doc selection per near-dup component -------------------------


def dedup_keep_best_per_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of the dedup story: given the near-dup components
    and per-doc quality scores, keep the HIGHEST-QUALITY member of each
    component (tie-break min doc_id) — quality-aware canonical-doc
    selection instead of `dedup_components`' min-id default.

    One struct-max aggregation per component: `max(struct(quality,
    -doc_id))` is a map-side-combinable argmax, so no per-component
    window sort and no second shuffle. Output is one row per component
    (corpus-sized, unsorted).

    Composes the EXACT-jaccard components (oracle baseline);
    `dedup_keep_best_lsh` is the corpus-scale sibling over the
    banded-LSH edge graph."""
    return _keep_best(
        _labels_as_components(_components_exact(spark, sf_dir)),
        quality_scores(spark, sf_dir),
    )


def dedup_keep_best_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_keep_best_per_component` over the banded-LSH component
    labeling — the corpus-scale path: edge cost is bounded by true
    near-dup density (band-bucket collisions) instead of hot-shingle
    df², exactly as `dedup_components_lsh` bounds `dedup_components`.
    Shares the session-persisted LSH labeling, so composing it after
    the components query costs one join + one argmax aggregate."""
    return _keep_best(
        _labels_as_components(_components_lsh(spark, sf_dir)),
        quality_scores(spark, sf_dir),
    )


def _keep_best(components: DataFrame, quality: DataFrame) -> DataFrame:
    comp = components.select("doc_id", "component_id")
    q = quality.select("doc_id", "quality_score")
    return (
        comp.join(q, "doc_id")
        .groupBy("component_id")
        .agg(
            F.count("*").alias("n_members"),
            F.max(
                F.struct(
                    F.col("quality_score").alias("q"),
                    (-F.col("doc_id")).alias("nid"),
                )
            ).alias("best"),
        )
        .select(
            "component_id",
            (-F.col("best.nid")).alias("keeper_doc_id"),
            F.col("best.q").alias("keeper_quality"),
            "n_members",
            (F.col("n_members") - F.lit(1)).alias("n_dropped"),
        )
    )


KEEP_BEST_ORACLE = f"""
WITH RECURSIVE
{_COMPONENTS_SQL},
comp AS (SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node),
{quality_cte()},
ranked AS (
  SELECT c.component_id, c.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.component_id) AS n_members
  FROM comp c JOIN q USING (doc_id)
)
SELECT component_id, doc_id AS keeper_doc_id, quality_score AS keeper_quality,
       n_members, n_members - 1 AS n_dropped
FROM ranked WHERE rn = 1
"""

KEEP_BEST_LSH_ORACLE = f"""
WITH RECURSIVE
{_LSH_CLOSURE_SQL},
comp AS (SELECT node AS doc_id, min(r) AS component_id FROM reach GROUP BY node),
{quality_cte()},
ranked AS (
  SELECT c.component_id, c.doc_id, q.quality_score,
         row_number() OVER (PARTITION BY c.component_id
                            ORDER BY q.quality_score DESC, c.doc_id ASC) AS rn,
         count(*) OVER (PARTITION BY c.component_id) AS n_members
  FROM comp c JOIN q USING (doc_id)
)
SELECT component_id, doc_id AS keeper_doc_id, quality_score AS keeper_quality,
       n_members, n_members - 1 AS n_dropped
FROM ranked WHERE rn = 1
"""


# --- duplication profile (component-size histogram) ------------------------


def dedup_cluster_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus's DUPLICATION PROFILE: histogram of near-dup
    component sizes over the banded-LSH graph — the one-line answer to
    "how duplicated is this crawl?" that decides whether dedup is worth
    a full pass (a profile dominated by size-1 components says no; a
    heavy tail says the corpus shrinks materially). Composes the
    session-shared LSH labeling, so after any components-family query
    this is two tiny aggregations; `dup_frac` = share of all docs
    living in components of that size (exact integer count ratio)."""
    comp = _components_lsh(spark, sf_dir)
    sizes = comp.groupBy("label").agg(F.count("*").alias("cluster_size"))
    hist = sizes.groupBy("cluster_size").agg(F.count("*").alias("n_components"))
    total = hist.agg(
        F.sum(F.col("cluster_size") * F.col("n_components")).alias("n_total")
    )
    return (
        hist.crossJoin(F.broadcast(total))
        .select(
            "cluster_size",
            "n_components",
            (F.col("cluster_size") * F.col("n_components")).alias("n_docs"),
            det_round(
                (F.col("cluster_size") * F.col("n_components")) / F.col("n_total"), 6
            ).alias("dup_frac"),
        )
        .orderBy("cluster_size")
    )


DUP_CLUSTER_PROFILE_ORACLE = f"""
WITH RECURSIVE
{_LSH_CLOSURE_SQL},
comp AS (SELECT node, min(r) AS label FROM reach GROUP BY node),
sizes AS (SELECT label, count(*) AS cluster_size FROM comp GROUP BY label),
hist AS (SELECT cluster_size, count(*) AS n_components FROM sizes
         GROUP BY cluster_size),
tot AS (SELECT sum(cluster_size * n_components) AS n_total FROM hist)
SELECT cluster_size, n_components,
       cluster_size * n_components AS n_docs,
       (floor(((cluster_size * n_components) / CAST(n_total AS DOUBLE)) * 1000000.0 + 0.5) / 1000000.0)
         AS dup_frac
FROM hist, tot
ORDER BY cluster_size
"""


# --- split leakage check ---------------------------------------------------


def split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate leakage across the train/val/test boundary — the
    check every eval pipeline needs before trusting held-out numbers:
    a test doc whose near-duplicate sits in train is contamination
    (the cross-SPLIT twin of `decontaminate_against_eval`, which
    checks against an external eval set).

    Composes the exact 3-gram jaccard pair graph with the
    deterministic hash split: every near-dup pair is classified by its
    (lexicographically ordered) split pair, `leaks` = the two sides
    differ. Output is the grouped matrix (≤ 6 rows at any corpus
    size). The split is a pure md5 projection of the doc id, so the
    classification is computed directly on the pair rows' d1/d2 — no
    join back to the documents table, no extra shuffle of the
    corpus-sized pair set.

    EXACT edge graph = oracle baseline; `split_leakage_check_lsh` is
    the corpus-scale sibling over banded-LSH edges."""
    return _leakage_matrix(exact_ngram_pairs(spark, sf_dir))


def split_leakage_check_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`split_leakage_check` over the banded-LSH estimated-jaccard edge
    set — the corpus-scale path (edge cost bounded by band-bucket
    collisions, i.e. true near-dup density). Classification is the same
    pure-projection split arithmetic; the pair set is the shared
    session-persisted LSH subtree, so this is one groupBy over already-
    materialized pairs when the components family has run."""
    return _leakage_matrix(
        dedup_minhash_lsh(spark, sf_dir).filter(
            F.col("est_jaccard") >= _DUP_THRESH
        )
    )


def _leakage_matrix(pairs: DataFrame) -> DataFrame:
    sp1 = _split_name(F.col("d1"))
    sp2 = _split_name(F.col("d2"))
    return (
        pairs.select(
            F.least(sp1, sp2).alias("split_a"),
            F.greatest(sp1, sp2).alias("split_b"),
        )
        .groupBy("split_a", "split_b")
        .agg(F.count("*").alias("n_pairs"))
        .select(
            "split_a",
            "split_b",
            "n_pairs",
            (F.col("split_a") != F.col("split_b")).alias("leaks"),
        )
        .orderBy("split_a", "split_b")
    )


SPLIT_LEAKAGE_ORACLE = f"""
WITH sh AS ({_DOC_SHINGLES_SQL}),
cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
near AS (
  SELECT d1, d2
  FROM pairs JOIN cnt c1 ON c1.doc_id = d1 JOIN cnt c2 ON c2.doc_id = d2
  WHERE (floor((CAST(common AS DOUBLE) / (c1.c + c2.c - common)) * 1000000.0 + 0.5) / 1000000.0)
        >= {_NGRAM_JACCARD_T}
),
splits AS (
  SELECT doc_id,
         CASE WHEN b < {_TRAIN_PCT} THEN 'train'
              WHEN b < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                 % 100 AS b
        FROM documents)
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*) AS n_pairs,
       least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS leaks
FROM near JOIN splits sa ON sa.doc_id = near.d1
          JOIN splits sb ON sb.doc_id = near.d2
GROUP BY 1, 2
ORDER BY split_a, split_b
"""

SPLIT_LEAKAGE_LSH_ORACLE = f"""
WITH
{LSH_EST_SQL},
splits AS (
  SELECT doc_id,
         CASE WHEN b < {_TRAIN_PCT} THEN 'train'
              WHEN b < {_TRAIN_PCT + _VAL_PCT} THEN 'val'
              ELSE 'test' END AS split
  FROM (SELECT doc_id,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                 % 100 AS b
        FROM documents)
)
SELECT least(sa.split, sb.split) AS split_a,
       greatest(sa.split, sb.split) AS split_b,
       count(*) AS n_pairs,
       least(sa.split, sb.split) <> greatest(sa.split, sb.split) AS leaks
FROM lsh_pairs p JOIN splits sa ON sa.doc_id = p.d1
                 JOIN splits sb ON sb.doc_id = p.d2
GROUP BY 1, 2
ORDER BY split_a, split_b
"""


# --- soft dedup: reweight duplicated docs instead of dropping them ---------


def dedup_soft_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SoftDeDup-style duplication reweighting (He et al., "SoftDedup:
    an Efficient Data Reweighting Method for Speeding Up Language Model
    Pre-training", ACL 2024): instead of HARD-dropping near-duplicates
    (`dedup_keep_best_lsh`), every member of a near-dup component gets
    sampling weight 1/|component| — the component as a whole
    contributes one document's worth of expected training mass, but no
    individual copy (with its unique context) is discarded.

    Per-doc manifest over the shared banded-LSH component labeling:
    ``weight_ppm = 1_000_000 DIV comp_size`` (integer arithmetic, both
    engines truncate non-negative DIV identically). Component sizes
    come from ONE count window over the labeling — no sizes join, no
    second shuffle (and, oracle-side, no second reference to the
    closure CTE). Corpus-sized output, unsorted (the driver compare is
    order-insensitive). At 100 TB: the labeling is the
    `dedup_components_lsh` fixpoint (bounded by true near-dup density),
    the window is one shuffle on component_id, the documents join is
    key-co-partitioned on doc_id — nothing quadratic, nothing
    driver-sized."""
    comp = _labels_as_components(_components_lsh(spark, sf_dir)).select(
        "doc_id", "component_id"
    )
    sized = comp.withColumn(
        "comp_size", F.count("*").over(Window.partitionBy("component_id"))
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return sized.join(docs, "doc_id").select(
        "doc_id",
        "source",
        "component_id",
        "comp_size",
        F.expr("CAST(1000000 DIV comp_size AS BIGINT)").alias("weight_ppm"),
        "n_chars",
    )


def _soft_reweight_oracle() -> str:
    return f"""
WITH {lsh_components_unrolled_ctes()},
sized AS (
  SELECT doc_id, component_id,
         count(*) OVER (PARTITION BY component_id) AS comp_size
  FROM comp
)
SELECT s.doc_id, d.source, s.component_id, s.comp_size,
       1000000 // s.comp_size AS weight_ppm, d.n_chars
FROM sized s JOIN documents d ON d.doc_id = s.doc_id
"""


QUERIES: dict[str, QuerySpec] = {
    "dedup_soft_reweight": QuerySpec(
        "dedup_soft_reweight",
        dedup_soft_reweight,
        _soft_reweight_oracle(),
        "SoftDedup reweighting: per-doc sampling weight 1/|near-dup "
        "component| over the banded-LSH labeling (reweight-not-drop "
        "dedup, ACL 2024)",
    ),
    "split_leakage_check": QuerySpec(
        "split_leakage_check",
        split_leakage_check,
        SPLIT_LEAKAGE_ORACLE,
        "near-dup pairs crossing the train/val/test boundary (contamination matrix)",
    ),
    "split_leakage_check_lsh": QuerySpec(
        "split_leakage_check_lsh",
        split_leakage_check_lsh,
        SPLIT_LEAKAGE_LSH_ORACLE,
        "contamination matrix over banded-LSH near-dup edges (corpus-scale path)",
    ),
    "dedup_keep_best_lsh": QuerySpec(
        "dedup_keep_best_lsh",
        dedup_keep_best_lsh,
        KEEP_BEST_LSH_ORACLE,
        "quality-aware canonical doc over LSH components (corpus-scale path)",
    ),
    "dedup_cluster_size_profile": QuerySpec(
        "dedup_cluster_size_profile",
        dedup_cluster_size_profile,
        DUP_CLUSTER_PROFILE_ORACLE,
        "duplication profile: near-dup component-size histogram + corpus fractions",
    ),
    "dataset_split_assign": QuerySpec(
        "dataset_split_assign",
        dataset_split_assign,
        DATASET_SPLIT_ORACLE,
        "deterministic hash-bucket train/val/test split",
    ),
    "token_histogram": QuerySpec(
        "token_histogram",
        token_histogram,
        TOKEN_HISTOGRAM_ORACLE,
        "bucketed token-length distribution",
    ),
    "curation_stratified_cap": QuerySpec(
        "curation_stratified_cap",
        curation_stratified_cap,
        STRATIFIED_CAP_ORACLE,
        "top-N per language by quality score",
    ),
    "dedup_components": QuerySpec(
        "dedup_components",
        dedup_components,
        DEDUP_COMPONENTS_ORACLE,
        "connected components over near-dup pairs (iterative label propagation)",
    ),
    "dedup_components_lsh": QuerySpec(
        "dedup_components_lsh",
        dedup_components_lsh,
        DEDUP_COMPONENTS_LSH_ORACLE,
        "connected components over banded-LSH candidate edges (corpus-scale path)",
    ),
    "dedup_keep_best_per_component": QuerySpec(
        "dedup_keep_best_per_component",
        dedup_keep_best_per_component,
        KEEP_BEST_ORACLE,
        "quality-aware canonical doc per near-dup component (struct-max argmax)",
    ),
    "dataset_mixture_expand": QuerySpec(
        "dataset_mixture_expand",
        dataset_mixture_expand,
        DATASET_MIXTURE_ORACLE,
        "weighted mixture epochs via declarative row generator",
    ),
    "dataset_mixture_temperature": QuerySpec(
        "dataset_mixture_temperature",
        dataset_mixture_temperature,
        DATASET_MIXTURE_TEMPERATURE_ORACLE,
        "temperature-sampled (alpha=1/2) mixture weights computed from "
        "per-source token mass: weight_ppm, token allocation, effective epochs",
    ),
    "dataset_mixture_apply": QuerySpec(
        "dataset_mixture_apply",
        dataset_mixture_apply,
        DATASET_MIXTURE_APPLY_ORACLE,
        "materialize the computed temperature mixture: floor(epochs) "
        "repeats + md5-draw fractional admission, per-source rollup",
    ),
    "winsorize_order_totals": QuerySpec(
        "winsorize_order_totals",
        winsorize_order_totals,
        WINSORIZE_ORACLE,
        "per-group p99 clip via broadcast join-back",
    ),
    "stream_enrich_lang_counts": QuerySpec(
        "stream_enrich_lang_counts",
        stream_enrich_lang_counts,
        STREAM_ENRICH_ORACLE,
        "events x documents dimension enrichment, 5-min lang counts",
    ),
}
