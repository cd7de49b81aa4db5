"""Similarity search over embeddings (SURVEY.md §B.11).

Two tiers, as the mandate requires:
- brute-force cosine top-k — the exact baseline; one broadcast of the
  (small) query set against the full corpus, decimal-exact math so the
  DuckDB oracle matches bit-for-bit;
- random-hyperplane LSH buckets — the scale path: candidates come from an
  equi-join on (band, bucket) instead of a cross product, then exact
  re-scoring. Recall vs brute force is unit-tested.

At 100 TB the corpus side stays partitioned; only queries/hyperplanes are
broadcast, and the bucket join prunes the candidate set to ~corpus/2^bits
per band.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..catalog import load_table
from ..registry import register
from ._shared import ckpt as _ckpt
from ._shared import persisted_artifact, spread_small
from .crosshash import duck_md5_int, md5_int
from .exact import (
    descale,
    descale_sql,
    dot_exact,
    duck_dot_sql,
    duck_list,
    duck_sq_sql,
    np_dot,
    np_dot_scaled,
    spark_array,
    spark_dot_sql,
    spark_sq_sql,
)

TOP_K = 5
N_QUERIES = 20  # vec_id < 20 are the query vectors

# LSH: 4 bands × 12 hyperplanes (deterministic, seed pinned).
LSH_BANDS = 4
LSH_BITS = 12
_PLANES = np.random.default_rng(20240613).normal(
    size=(LSH_BANDS, LSH_BITS, 64)
).astype(np.float64)


def with_sq_norm(emb: DataFrame) -> DataFrame:
    return emb.withColumn("sq_norm", dot_exact(F.col("embedding"), F.col("embedding")))


# DuckDB twin of with_sq_norm's column, for the oracles
SQ_NORM_DUCK = descale_sql(duck_sq_sql("embedding"))


@register(
    "sim_cosine_topk",
    tags=("llm", "similarity", "topk"),
    oracle=f"""
WITH norms AS (
  SELECT vec_id, label, embedding,
         {SQ_NORM_DUCK} AS sq_norm
  FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {descale_sql(duck_dot_sql("q.embedding", "c.embedding"))}
         / (SQRT(q.sq_norm) * SQRT(c.sq_norm)) AS cosine
  FROM norms q JOIN norms c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, neighbor_id, neighbor_label, ROUND(cosine, 6) AS cosine, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM scored
)
WHERE rk <= {TOP_K}
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k for a query subset: broadcast the
    query vectors against the partitioned corpus, score JVM-side, keep the
    per-query top-k with a window (ties broken by neighbor_id)."""
    emb = with_sq_norm(spread_small(load_table(spark, sf_dir, "embeddings")))
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sq_norm").alias("q_sq"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.col("sq_norm").alias("c_sq"),
    )
    scored = (
        corpus.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine_raw",
            dot_exact(F.col("q_emb"), F.col("c_emb"))
            / (F.sqrt("q_sq") * F.sqrt("c_sq")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine_raw", 6).alias("cosine"),
            "rk",
        )
    )


def lsh_bucket_cols() -> list[Column]:
    """One bucket id per band: sign-bit signature against fixed hyperplanes.

    The hyperplane dot products are plain SQL folds — all JVM codegen.
    Planes are literals (broadcast with the plan), seed pinned for
    determinism. Each band is ONE generated-SQL F.expr, not a composed
    Column tree: 48 planes × 64 coefficients via the Column API costs
    tens of thousands of py4j round trips (~seconds of driver time).
    Sign bits come from the scaled-LONG integer fold (same trick as
    dot_exact), so buckets are order-insensitive and bit-identical to the
    DuckDB oracle's — which is what makes sim_ann_lsh oracle-checkable.
    """
    cols = []
    for band in range(LSH_BANDS):
        bits = []
        for bit in range(LSH_BITS):
            proj = spark_dot_sql("embedding", _PLANES[band, bit])
            bits.append(f"CASE WHEN {proj} > 0 THEN {1 << bit} ELSE 0 END")
        cols.append(F.expr(" + ".join(bits)).alias(f"bucket{band}"))
    return cols


def _lsh_sql_bucket(band: int) -> str:
    """DuckDB twin of lsh_bucket_cols for one band (bit-identical)."""
    bits = []
    for bit in range(LSH_BITS):
        sign = f"{duck_dot_sql('embedding', _PLANES[band, bit])} > 0"
        bits.append(f"CASE WHEN {sign} THEN {1 << bit} ELSE 0 END")
    return "(" + " + ".join(bits) + ")"


def _ann_lsh_oracle() -> str:
    buckets = ",\n         ".join(
        f"{_lsh_sql_bucket(b)} AS bucket{b}" for b in range(LSH_BANDS)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, {b} AS band, bucket{b} AS bucket FROM norms"
        for b in range(LSH_BANDS)
    )
    dot_ab = descale_sql(duck_dot_sql("na.embedding", "nb.embedding"))
    return f"""
WITH norms AS (
  SELECT vec_id, embedding,
         {SQ_NORM_DUCK} AS sq_norm,
         {buckets}
  FROM embeddings
), flat AS (
{band_rows}
), q AS (
  SELECT vec_id AS query_id, band, bucket FROM flat WHERE vec_id < {N_QUERIES}
), cand AS (
  SELECT DISTINCT f.vec_id AS neighbor_id, q.query_id
  FROM flat f JOIN q USING (band, bucket)
  WHERE f.vec_id <> q.query_id
), scored AS (
  SELECT c.query_id, c.neighbor_id,
         {dot_ab} / (SQRT(na.sq_norm) * SQRT(nb.sq_norm)) AS cosine_raw
  FROM cand c
  JOIN norms na ON na.vec_id = c.query_id
  JOIN norms nb ON nb.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, ROUND(cosine_raw, 6) AS cosine, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine_raw DESC, neighbor_id) AS rk
  FROM scored
)
WHERE rk <= {TOP_K}
"""


@register(
    "sim_ann_lsh",
    tags=("llm", "similarity", "lsh"),
    oracle=_ann_lsh_oracle(),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH candidate generation
    (equi-join on band buckets) + exact cosine re-scoring of candidates.

    Oracle-exact even though APPROXIMATE: bucket sign bits and the
    re-scoring dot both use the scaled-LONG integer fold, so DuckDB
    reproduces the same candidate set and the same top-k — the oracle
    checks the index algorithm, recall tests check its quality.

    Plan shape at scale: corpus → 4 bucket columns (map-only) → explode to
    (band, bucket) rows → shuffle join with the query buckets → candidate
    set ≪ corpus → exact scoring → per-query top-k window."""
    emb = with_sq_norm(spread_small(load_table(spark, sf_dir, "embeddings")))
    bucketed = emb.select(
        "vec_id", "label", "embedding", "sq_norm", *lsh_bucket_cols()
    )
    bands_arr = F.array(
        *[
            F.struct(F.lit(b).alias("band"), F.col(f"bucket{b}").alias("bucket"))
            for b in range(LSH_BANDS)
        ]
    )
    flat = bucketed.select(
        "vec_id", "label", "embedding", "sq_norm", F.explode(bands_arr).alias("bb")
    ).select(
        "vec_id", "label", "embedding", "sq_norm",
        F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"),
    )
    queries = flat.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sq_norm").alias("q_sq"),
        "band",
        "bucket",
    )
    cand = (
        flat.join(F.broadcast(queries), ["band", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "q_emb",
            "q_sq",
            F.col("embedding").alias("c_emb"),
            F.col("sq_norm").alias("c_sq"),
        )
        # a pair can collide in several bands; non-key cols are functionally
        # dependent on the pair so subset-dedup is deterministic
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cand.withColumn(
        "cosine_raw",
        dot_exact(F.col("q_emb"), F.col("c_emb")) / (F.sqrt("q_sq") * F.sqrt("c_sq")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_raw").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "neighbor_id", F.round("cosine_raw", 6).alias("cosine"), "rk")
    )


@register(
    "embedding_quantize_int8",
    tags=("llm", "embedding", "quantization"),
    oracle="""
WITH scaled AS (
  SELECT vec_id, label, embedding,
         127.0 / NULLIF(list_max(list_transform(embedding,
                                 x -> ABS(CAST(x AS DOUBLE)))), 0.0) AS scale
  FROM embeddings
), quant AS (
  SELECT vec_id, label, embedding, scale,
         list_transform(embedding,
             x -> GREATEST(-127, LEAST(127,
                  CAST(FLOOR(CAST(x AS DOUBLE) * scale + 0.5) AS BIGINT)))) AS q
  FROM scaled
)
SELECT vec_id, label, scale,
       array_to_string(q, ',') AS qvals,
       list_max(list_transform(list_zip(embedding, q),
           p -> CAST(FLOOR(ABS(CAST(struct_extract(p, 1) AS DOUBLE)
                               - struct_extract(p, 2) / scale) * 1e6) AS BIGINT)))
         AS max_err_e6
FROM quant
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of the embedding column — the 100 TB
    storage/IO lever: 4 bytes/dim float32 → 1 byte/dim int8 (plus one
    scale double per vector) cuts the corpus footprint ~4× and the ANN
    candidate-scan bandwidth with it. Per-vector max-abs scaling,
    round-half-up pinned as floor(x*scale + 0.5) on BOTH engines (no
    banker's-rounding ambiguity), clamp to [-127, 127].

    Everything is builtin higher-order array functions — zero Python, one
    map-only stage, no shuffle. The quantized vector is serialized CSV at
    the query boundary (driver-hashable); `max_err_e6` proves the
    round-trip error bound (≤ half a quantization step) per vector.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scaled = emb.withColumn("scale", F.lit(127.0) / F.nullif(max_abs, F.lit(0.0)))
    q = F.transform(
        "embedding",
        lambda x: F.greatest(
            F.lit(-127).cast("long"),
            F.least(
                F.lit(127).cast("long"),
                F.floor(x.cast("double") * F.col("scale") + F.lit(0.5)),
            ),
        ),
    )
    quant = scaled.withColumn("q", q)
    err = F.array_max(
        F.zip_with(
            "embedding",
            "q",
            lambda x, qi: F.floor(
                F.abs(x.cast("double") - qi.cast("double") / F.col("scale")) * F.lit(1e6)
            ),
        )
    )
    return quant.select(
        "vec_id",
        "label",
        "scale",
        F.concat_ws(",", F.transform("q", lambda v: v.cast("string"))).alias("qvals"),
        err.alias("max_err_e6"),
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the second scale path the mandate names ("an IVF
# or LSH-bucketed variant"). Fixed deterministic centroids stand in for an
# offline k-means codebook (at 100 TB you'd train pyspark.ml.KMeans on a
# sample and broadcast the cluster centers; the plan shape is identical).
# All centroid math is scaled-integer (exact in any engine), so assignment —
# and therefore the whole query, approximation included — is
# DuckDB-oracle-checkable, which neither LSH path is (those are
# recall-tested instead).
# ---------------------------------------------------------------------------

IVF_CENTROIDS = 16
IVF_NPROBE = 2

_IVF_RAW = np.random.default_rng(20240614).normal(size=(IVF_CENTROIDS, 64))
_IVF_CENTS = (_IVF_RAW / np.linalg.norm(_IVF_RAW, axis=1, keepdims=True)).astype(
    np.float64
)
# Python-computed scaled |c|² literal per centroid, embedded identically
# in both engines' SQL — no cross-engine float risk.
_IVF_C_SQ = [int(v) for v in np_dot_scaled(_IVF_CENTS, _IVF_CENTS)]


def _ivf_scores_spark() -> str:
    """Spark SQL for the 16-element BIGINT score array: element i is
    |cᵢ|²−2⟨x,cᵢ⟩ (scaled 1e12) — argmin over i is the nearest-centroid
    assignment (the |x|² term is constant per row and cancels). ONE array
    column, computed once; consumers argmin/explode the array instead of
    re-referencing 16 fold expressions (which Catalyst's project-collapse
    would otherwise inline 16× into a LEAST/CASE tree — a plan-size
    explosion that takes minutes to optimize)."""
    elems = []
    for i in range(IVF_CENTROIDS):
        dot = spark_dot_sql("embedding", _IVF_CENTS[i])
        elems.append(f"CAST({_IVF_C_SQ[i]} AS BIGINT) - 2 * ({dot})")
    return "array(" + ", ".join(elems) + ")"


def _ivf_scores_duck() -> str:
    elems = []
    for i in range(IVF_CENTROIDS):
        dot = duck_dot_sql("embedding", _IVF_CENTS[i])
        elems.append(f"CAST({_IVF_C_SQ[i]} AS BIGINT) - 2 * {dot}")
    return "[" + ", ".join(elems) + "]"


_IVF_ORACLE = f"""
WITH scored AS (
  SELECT vec_id, label, embedding,
         {SQ_NORM_DUCK} AS sq_norm,
         {_ivf_scores_duck()} AS scores,
         list_transform(generate_series(1, {IVF_CENTROIDS}),
                        i -> {{'s': scores[i], 'cid': i - 1}}) AS score_structs
  FROM embeddings
), assigned AS (
  SELECT vec_id, label, embedding, sq_norm,
         list_position(scores, list_min(scores)) - 1 AS cent
  FROM scored
), probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, sq_norm AS q_sq, cid AS cent
  FROM (
    SELECT vec_id, embedding, sq_norm, u.cid AS cid, u.s AS s,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY u.s, u.cid) AS prn
    FROM scored, UNNEST(score_structs) AS t(u)
    WHERE vec_id < {N_QUERIES}
  ) WHERE prn <= {IVF_NPROBE}
), cand AS (
  SELECT p.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {descale_sql(duck_dot_sql("p.q_emb", "c.embedding"))}
         / (SQRT(p.q_sq) * SQRT(c.sq_norm)) AS cosine
  FROM probes p JOIN assigned c ON c.cent = p.cent AND c.vec_id <> p.query_id
)
SELECT query_id, neighbor_id, neighbor_label, ROUND(cosine, 6) AS cosine, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
  FROM cand
)
WHERE rk <= {TOP_K}
"""


@register(
    "sim_ann_ivf",
    tags=("llm", "similarity", "ivf"),
    oracle=_IVF_ORACLE,
)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-k: every corpus vector is assigned to its nearest
    centroid (map-only argmin over one codegen'd score array — no shuffle,
    no explode on the corpus side); each query probes its IVF_NPROBE
    nearest centroid lists; candidates come from the equi-join on the
    centroid id and are exactly re-scored.

    Scale shape: the corpus side stays partitioned and is touched by one
    projection; the candidate set is ~NPROBE/IVF_CENTROIDS of the corpus
    per query (vs. the full corpus for brute force). Centroid scores are
    scaled-integer exact, so assignment is deterministic and the whole
    query — including the approximation — is hash-checked against the
    DuckDB twin."""
    emb = with_sq_norm(spread_small(load_table(spark, sf_dir, "embeddings")))
    scored = emb.select(
        "vec_id", "label", "embedding", "sq_norm",
        F.expr(_ivf_scores_spark()).alias("scores"),
    )
    corpus = scored.select(
        "vec_id", "label", "embedding", "sq_norm",
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
    )
    prn_w = Window.partitionBy("query_id").orderBy("s", "p_cent")
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("sq_norm").alias("q_sq"),
            F.posexplode("scores").alias("p_cent", "s"),
        )
        .withColumn("prn", F.row_number().over(prn_w))
        .filter(F.col("prn") <= IVF_NPROBE)
        .select("query_id", "q_emb", "q_sq", "p_cent")
    )
    cand = corpus.join(
        F.broadcast(probes),
        (F.col("cent") == F.col("p_cent")) & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        "q_emb", "q_sq", "embedding", "sq_norm",
    )
    scored_cand = cand.withColumn(
        "cosine_raw",
        dot_exact(F.col("q_emb"), F.col("embedding"))
        / (F.sqrt("q_sq") * F.sqrt("sq_norm")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_raw").desc(), F.col("neighbor_id")
    )
    return (
        scored_cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round("cosine_raw", 6).alias("cosine"),
            "rk",
        )
    )


def _recall_eval_oracle() -> str:
    """Compose the already-registered oracles: exact top-k as ground
    truth, each ANN index's top-k as a labeled run, recall@k per
    (method, query)."""
    from ..registry import REGISTRY

    exact_sql = REGISTRY["sim_cosine_topk"].oracle
    lsh_sql = _ann_lsh_oracle()
    ivf_sql = REGISTRY["sim_ann_ivf"].oracle
    return f"""
WITH exact_k AS (
  SELECT query_id, neighbor_id FROM ({exact_sql})
), ann_k AS (
  SELECT 'lsh' AS method, query_id, neighbor_id FROM ({lsh_sql})
  UNION ALL
  SELECT 'ivf' AS method, query_id, neighbor_id FROM ({ivf_sql})
), methods AS (SELECT DISTINCT method FROM ann_k)
SELECT m.method, e.query_id,
       COUNT(a.neighbor_id) AS hits,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM exact_k e
CROSS JOIN methods m
LEFT JOIN ann_k a
  ON a.method = m.method AND a.query_id = e.query_id
 AND a.neighbor_id = e.neighbor_id
GROUP BY m.method, e.query_id
"""


@register(
    "sim_ann_recall_eval",
    tags=("llm", "similarity", "eval"),
    oracle=_recall_eval_oracle(),
)
def sim_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-quality evaluation: recall@k of each ANN index (hyperplane
    LSH and IVF) against brute-force exact cosine top-k, per (method,
    query) — the side-by-side measurement that decides which approximate
    index may replace the exact path in a production pipeline. (On this
    near-random synthetic corpus the verdict is itself informative: IVF
    at nprobe=2/16 recalls ~25-30%; 4×12-bit hyperplane LSH ~0% — random
    data has weak neighborhood structure for sign-bit buckets.)
    Composes the registered queries unchanged, so the eval exercises the
    exact code a user would run; all sides are deterministic (integer
    scaled-long folds), which is what makes an *evaluation of an
    approximation* itself oracle-checkable. Plan: small top-k results
    (20 queries × k rows per method) left-joined on (query, neighbor) —
    the expensive parts are the underlying index scans, both already
    100 TB-shaped; the eval join is trivially broadcastable."""
    exact_k = _ann_artifact(spark, sf_dir, "exact_cosine_topk", sim_cosine_topk).select(
        "query_id", "neighbor_id"
    )
    ann_k = (
        _ann_artifact(spark, sf_dir, "ann_lsh_topk", sim_ann_lsh)
        .select(
            F.lit("lsh").alias("a_method"),
            F.col("query_id").alias("a_query_id"),
            F.col("neighbor_id").alias("a_neighbor_id"),
        )
        .unionAll(
            _ann_artifact(spark, sf_dir, "ann_ivf_topk", sim_ann_ivf).select(
                F.lit("ivf").alias("a_method"),
                F.col("query_id").alias("a_query_id"),
                F.col("neighbor_id").alias("a_neighbor_id"),
            )
        )
    )
    methods = ann_k.select(F.col("a_method").alias("method")).distinct()
    joined = exact_k.crossJoin(F.broadcast(methods)).join(
        ann_k,
        (F.col("method") == F.col("a_method"))
        & (F.col("query_id") == F.col("a_query_id"))
        & (F.col("neighbor_id") == F.col("a_neighbor_id")),
        "left",
    )
    return joined.groupBy("method", "query_id").agg(
        F.count("a_neighbor_id").alias("hits"),
        (F.count("a_neighbor_id").cast("double") / F.lit(TOP_K)).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
# cluster the embedding space with the fixed IVF centroids, then within each
# cluster mark every vector that sits inside the epsilon-ball (cosine >= tau)
# of an earlier-id vector as a semantic duplicate. The paper's keep-one rule
# is applied greedily by vec_id (content-addressed at ingest, so the rule is
# deterministic and engine-independent). Unlike dedup_embedding_cosine (LSH
# candidate pairs for NEAR-duplicates), this dedups by SEMANTIC neighborhood:
# clustering bounds the pairwise phase to within-cluster work.
# ---------------------------------------------------------------------------

SEM_TAU = 0.25
# Pairwise-phase guard: a cluster with k members contributes k^2/2 scorings,
# so one mass cluster would dominate the stage. Clusters over the cap skip
# the pairwise phase entirely (all members kept — bounded recall loss,
# mirrored exactly in the oracle). In production SemDeDup k grows with N
# (k ~ N/target_cluster_size), so expected occupancy stays constant; the
# cap is the backstop for skewed assignments, same rationale as
# dedup.EMB_BUCKET_CAP.
SEM_CLUSTER_CAP = 500

_SEMANTIC_ORACLE = f"""
WITH scored AS (
  SELECT vec_id, label, embedding,
         {SQ_NORM_DUCK} AS sq_norm,
         {{duck_scores}} AS scores
  FROM embeddings
), assigned AS (
  SELECT vec_id, label, embedding, sq_norm,
         CAST(list_position(scores, list_min(scores)) - 1 AS INTEGER) AS cent
  FROM scored
), sizes AS (
  SELECT cent, COUNT(*) AS csize FROM assigned GROUP BY cent
), small AS (
  SELECT a.* FROM assigned a JOIN sizes s USING (cent)
  WHERE s.csize <= {SEM_CLUSTER_CAP}
), close AS (
  SELECT b.vec_id AS b_id, a.vec_id AS a_id
  FROM small a JOIN small b ON a.cent = b.cent AND a.vec_id < b.vec_id
  WHERE {descale_sql(duck_dot_sql("a.embedding", "b.embedding"))}
        / (SQRT(a.sq_norm) * SQRT(b.sq_norm)) >= {SEM_TAU}
), dup AS (
  SELECT b_id, MIN(a_id) AS dup_of, COUNT(*) AS n_close FROM close GROUP BY b_id
)
SELECT v.vec_id, v.label, v.cent, d.dup_of,
       COALESCE(d.n_close, 0) AS n_close,
       d.dup_of IS NOT NULL AS is_dup
FROM assigned v LEFT JOIN dup d ON v.vec_id = d.b_id
"""


@register(
    "dedup_semantic_ivf",
    tags=("llm", "dedup", "semantic", "ivf"),
    oracle=_SEMANTIC_ORACLE.format(duck_scores=_ivf_scores_duck()),
)
def dedup_semantic_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: IVF-centroid clustering (the
    map-only scaled-integer argmin shared with sim_ann_ivf — no shuffle to
    assign), then a within-cluster pairwise phase where a vector is a
    semantic duplicate iff an earlier-id vector of the same cluster has
    cosine >= SEM_TAU. Every vector comes back with a verdict: cluster id,
    dup_of (the earliest close neighbor, NULL when kept), n_close, is_dup.

    Scale shape: the corpus is touched by one projection for assignment;
    the only corpus exchange is the hash partition on `cent` for the
    self-join, and the pairwise work is bounded per cluster by
    SEM_CLUSTER_CAP (skip-list semantics mirrored in the oracle). Cluster
    sizes are a 16-row broadcast. At 100 TB: raise IVF_CENTROIDS so
    expected occupancy is constant (SemDeDup's own k ~ N scaling) and the
    per-cluster m x m scoring becomes the applyInPandas tensor kernel
    already used by dedup_embedding_cosine."""
    emb = with_sq_norm(spread_small(load_table(spark, sf_dir, "embeddings")))
    # OPTIMIZATION r12 (guide §2.4): assigned feeds the size aggregate,
    # the capped self-join input AND the final verdict join — three plan
    # consumers each replaying the 16-centroid score fold + sq_norm over
    # the corpus; build it once per invocation.
    assigned = _ckpt(
        emb.select(
            "vec_id", "label", "embedding", "sq_norm",
            F.expr(_ivf_scores_spark()).alias("scores"),
        )
        .select(
            "vec_id", "label", "embedding", "sq_norm",
            (F.expr("array_position(scores, array_min(scores))") - 1)
            .cast("int")
            .alias("cent"),
        )
    )
    sizes = assigned.groupBy("cent").agg(F.count(F.lit(1)).alias("csize"))
    small = (
        assigned.join(F.broadcast(sizes), "cent")
        .filter(F.col("csize") <= SEM_CLUSTER_CAP)
        .select("cent", "vec_id", "embedding", "sq_norm")
    )
    a = small.select(
        F.col("cent").alias("j_cent"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("sq_norm").alias("a_sq"),
    )
    b = small.select(
        "cent",
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("sq_norm").alias("b_sq"),
    )
    close = (
        b.join(a, (F.col("cent") == F.col("j_cent")) & (F.col("a_id") < F.col("b_id")))
        .withColumn(
            "cosine",
            dot_exact(F.col("a_emb"), F.col("b_emb"))
            / (F.sqrt("a_sq") * F.sqrt("b_sq")),
        )
        .filter(F.col("cosine") >= F.lit(SEM_TAU))
    )
    dup = close.groupBy("b_id").agg(
        F.min("a_id").alias("dup_of"), F.count(F.lit(1)).alias("n_close")
    )
    return (
        assigned.join(dup, assigned.vec_id == dup.b_id, "left")
        .select(
            "vec_id",
            "label",
            "cent",
            "dup_of",
            F.coalesce("n_close", F.lit(0)).alias("n_close"),
            F.col("dup_of").isNotNull().alias("is_dup"),
        )
    )


# ---- Product quantization (PQ): 8 subspaces x 8 dims, 16 codes each ----
# The 100 TB embedding-compression path: a 64-dim float32 vector (256 B)
# compresses to 8 nibble codes (4 B, 64x) while ANN scoring degrades
# gracefully (asymmetric distance uses the uncompressed query against the
# codebook). Codebooks here are seeded-random (N(0, 0.15) matches the
# fixture embedding scale) rather than k-means-trained so the WHOLE
# operator — assignment and reconstruction error — is deterministic and
# oracle-exact; a production deployment trains them per corpus (the
# kmeans flavor of this is sim_ann_ivf_kmeans, rows-only by design).
PQ_SUBSPACES = 8
PQ_SUBDIM = 8
PQ_CODES = 16

_PQ_RAW = np.random.default_rng(20250814).normal(
    0.0, 0.15, size=(PQ_SUBSPACES, PQ_CODES, PQ_SUBDIM)
)
_PQ_BOOKS = _PQ_RAW.astype(np.float64)
# per (subspace, code): scaled |c|² as a Python int literal, embedded
# identically in both engines' SQL
_PQ_C_SQ = [[int(v) for v in row] for row in np_dot_scaled(_PQ_BOOKS, _PQ_BOOKS)]


def _pq_scores_spark(s: int, src: str = "embedding") -> str:
    """BIGINT score array for subspace ``s``: |c_k|^2 - 2<x_s, c_k>
    (scaled 1e12); argmin over k = the PQ code. x_s = slice(src,
    s*8+1, 8). ``src`` parameterizes the vector being encoded — the raw
    embedding for plain PQ, the cell residual for IVFADC."""
    sub = f"slice({src}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
    elems = []
    for k in range(PQ_CODES):
        dot = spark_dot_sql(sub, _PQ_BOOKS[s][k])
        elems.append(f"CAST({_PQ_C_SQ[s][k]} AS BIGINT) - 2 * ({dot})")
    return "array(" + ", ".join(elems) + ")"


def _pq_scores_duck(s: int, src: str = "embedding") -> str:
    sub = f"{src}[{s * PQ_SUBDIM + 1}:{s * PQ_SUBDIM + PQ_SUBDIM}]"
    elems = []
    for k in range(PQ_CODES):
        dot = duck_dot_sql(sub, _PQ_BOOKS[s][k])
        elems.append(f"CAST({_PQ_C_SQ[s][k]} AS BIGINT) - 2 * {dot}")
    return "[" + ", ".join(elems) + "]"


def _pq_oracle() -> str:
    score_cols = ",\n         ".join(
        f"{_pq_scores_duck(s)} AS sc{s}" for s in range(PQ_SUBSPACES)
    )
    code_cols = ", ".join(
        f"list_position(sc{s}, list_min(sc{s})) - 1 AS code{s}"
        for s in range(PQ_SUBSPACES)
    )
    # scaled residual per subspace: |x_s|^2 + min_score  (= |x_s - c|^2
    # scaled, since min_score = |c|^2 - 2<x_s,c>)
    err_sum = " + ".join(
        f"({duck_sq_sql(f'embedding[{s * PQ_SUBDIM + 1}:{s * PQ_SUBDIM + PQ_SUBDIM}]')}"
        f" + list_min(sc{s}))"
        for s in range(PQ_SUBSPACES)
    )
    return f"""
WITH scored AS (
  SELECT vec_id, label, embedding,
         {score_cols}
  FROM embeddings
)
SELECT vec_id, label, {code_cols},
       ROUND({descale_sql(f"({err_sum})")}, 6) AS recon_err_sq
FROM scored
"""


@register(
    "embedding_product_quantize",
    tags=("llm", "similarity", "quantization", "pq"),
    oracle=_pq_oracle(),
)
def embedding_product_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization of the embedding corpus: each 64-dim vector
    is split into 8 subvectors, each assigned its nearest of 16 codebook
    centroids (argmin over the scaled-integer distance array — the IVF
    assignment machinery applied per subspace), compressing 256 B to 8
    codes plus an exact reconstruction-error diagnostic
    (Σ_s |x_s − c_code|², computed entirely in scaled int64, so both the
    CODES and the ERROR hash-match DuckDB bit-for-bit). Map-only: one
    projection over the corpus, no shuffle, no UDF — at 100 TB this is
    a pure scan-transform-write that compresses an embedding lake 64×
    while keeping an error column to monitor quantization drift.
    Asymmetric-distance ANN over the codes (query vs codebook lookup
    tables) is the standard pairing; recall of that path is bounded by
    the same per-subspace residuals reported here."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    scored = emb.select(
        "vec_id",
        "label",
        "embedding",
        *[F.expr(_pq_scores_spark(s)).alias(f"sc{s}") for s in range(PQ_SUBSPACES)],
    )
    err_sum = " + ".join(
        f"({spark_sq_sql(f'slice(embedding, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})')}"
        f" + array_min(sc{s}))"
        for s in range(PQ_SUBSPACES)
    )
    return scored.select(
        "vec_id",
        "label",
        *[
            (F.expr(f"array_position(sc{s}, array_min(sc{s}))") - 1)
            .cast("int")
            .alias(f"code{s}")
            for s in range(PQ_SUBSPACES)
        ],
        F.round(F.expr(descale_sql(f"({err_sum})")), 6).alias(
            "recon_err_sq"
        ),
    )


def _adc_oracle() -> str:
    score_cols = ",\n         ".join(
        f"{_pq_scores_duck(s)} AS sc{s}" for s in range(PQ_SUBSPACES)
    )
    code_cols = ", ".join(
        f"list_position(sc{s}, list_min(sc{s})) - 1 AS code{s}"
        for s in range(PQ_SUBSPACES)
    )
    adc = " + ".join(f"q.sc{s}[c.code{s} + 1]" for s in range(PQ_SUBSPACES))
    return f"""
WITH scored AS (
  SELECT vec_id, label,
         {score_cols}
  FROM embeddings
), coded AS (
  SELECT vec_id, label, {code_cols}
  FROM scored
)
SELECT query_id, neighbor_id, neighbor_label, adc_score, rk
FROM (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neighbor_label,
         CAST(({adc}) AS BIGINT) AS adc_score,
         ROW_NUMBER() OVER (PARTITION BY q.vec_id
                            ORDER BY ({adc}), c.vec_id) AS rk
  FROM scored q JOIN coded c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
WHERE rk <= {TOP_K}
"""


@register(
    "sim_ann_pq_adc",
    tags=("llm", "similarity", "pq", "ann"),
    oracle=_adc_oracle(),
)
def sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over the PQ-compressed corpus —
    the scoring half of the PQ pairing: the corpus exists only as 8
    codes per vector, and each query's distance to a vector is the sum
    of 8 LOOKUPS into the query's per-subspace score arrays
    (sc_s[k] = |c_k|^2 − 2<q_s, c_k>, scaled int64 — exactly the arrays
    the quantizer already computes; the |q_s|^2 term is query-constant
    and cancels under ranking). 8 integer array-indexes replace a 64-mult
    dot per candidate — the ADC speedup — and because everything is the
    same scaled-integer algebra, the ENTIRE approximate ranking
    hash-matches DuckDB, approximation error included.

    Scale shape: queries (with their 16x8 score arrays) broadcast
    against the coded corpus — the corpus side carries 4 B of codes per
    vector instead of 256 B of floats, which is the point: at 100 TB
    the scan is 64x smaller and the per-candidate cost is 8 adds. The
    per-query top-k is a partitioned window over skinny
    (query, neighbor, score) rows; IVF cells (sim_ann_ivf) bound the
    candidate set when even the compressed scan is too wide."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    scored = emb.select(
        "vec_id",
        "label",
        *[F.expr(_pq_scores_spark(s)).alias(f"sc{s}") for s in range(PQ_SUBSPACES)],
    )
    coded = scored.select(
        "vec_id",
        "label",
        *[
            (F.expr(f"array_position(sc{s}, array_min(sc{s}))") - 1)
            .cast("int")
            .alias(f"code{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    queries = scored.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        *[F.col(f"sc{s}").alias(f"qsc{s}") for s in range(PQ_SUBSPACES)],
    )
    adc = None
    for s in range(PQ_SUBSPACES):
        term = F.element_at(F.col(f"qsc{s}"), F.col(f"code{s}") + 1)
        adc = term if adc is None else adc + term
    pairs = (
        F.broadcast(queries)
        .join(coded, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            adc.cast("long").alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_score", "neighbor_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
    )


def _adc_recall_oracle() -> str:
    from ..registry import REGISTRY

    exact_sql = REGISTRY["sim_cosine_topk"].oracle
    adc_sql = _adc_oracle()
    return f"""
WITH exact_k AS (
  SELECT query_id, neighbor_id FROM ({exact_sql})
), adc_k AS (
  SELECT query_id, neighbor_id FROM ({adc_sql})
)
SELECT e.query_id,
       COUNT(a.neighbor_id) AS hits,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM exact_k e
LEFT JOIN adc_k a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


@register(
    "sim_ann_adc_recall",
    tags=("llm", "similarity", "eval", "pq"),
    oracle=_adc_recall_oracle(),
)
def sim_ann_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the PQ/ADC path against brute-force exact cosine —
    the honesty meter for the 64x compression: how much ranking quality
    do 8 nibble codes keep on THIS corpus? Composes the two registered
    queries unchanged (same pattern as sim_ann_recall_eval for LSH/IVF),
    so the eval measures exactly the production code path, and both
    sides are scaled-integer deterministic — an oracle-checkable
    evaluation of an approximation. Note ADC ranks by euclidean
    distance-to-reconstruction while the truth is cosine top-k; the
    fixture embeddings are near-constant-norm, which is what makes the
    comparison meaningful (normalize first at 100 TB — then the two
    orders agree up to quantization error). Measured verdict at sf0.01:
    avg recall@5 ~= 0.11 — honestly poor, and expectedly so: the
    codebooks are seeded-random (untrained) for oracle-exactness and the
    corpus is near-random 64-d noise; production PQ trains per-subspace
    k-means codebooks (recall then tracks residual energy, the
    recon_err_sq column this pairing already reports)."""
    exact_k = _ann_artifact(spark, sf_dir, "exact_cosine_topk", sim_cosine_topk).select(
        "query_id", "neighbor_id"
    )
    adc_k = _ann_artifact(spark, sf_dir, "ann_pq_adc_topk", sim_ann_pq_adc).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
    )
    return (
        exact_k.join(
            adc_k,
            (F.col("a_query_id") == F.col("query_id"))
            & (F.col("a_neighbor_id") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor_id").alias("hits"),
            (F.count("a_neighbor_id").cast("double") / F.lit(TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Mutual k-NN graph (reciprocal nearest neighbors) — the graph-construction
# step behind density-based corpus clustering and near-dup confirmation
# (e.g. SemDeDup keeps one doc per tight RNN cluster). Blocking reuses the
# IVF assignment: each vector scores pairs only inside its centroid cell,
# so candidate work is sum(cell²) instead of n² — the same occupancy
# contract as sim_ann_ivf (centroids ∝ corpus keeps cells bounded).
# ---------------------------------------------------------------------------

KNN_GRAPH_K = 4


def _knn_pair_dot_duck() -> str:
    return descale_sql(duck_dot_sql("a.embedding", "b.embedding"))


# CTE body shared by the graph and cluster oracles (formatted with
# scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()); `mutual` is
# the reciprocal edge set both queries consume.
_KNN_GRAPH_CTES = f"""reps AS (
  SELECT embedding, MIN(vec_id) AS vec_id FROM embeddings GROUP BY embedding
), scored AS (
  SELECT vec_id, embedding,
         {SQ_NORM_DUCK} AS sq_norm,
         {{scores}} AS scores
  FROM reps
), assigned AS (
  SELECT vec_id, embedding, sq_norm,
         list_position(scores, list_min(scores)) - 1 AS cent
  FROM scored
), pairs AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi,
         {{pair_dot}} / (SQRT(a.sq_norm) * SQRT(b.sq_norm)) AS cosine
  FROM assigned a JOIN assigned b ON a.cent = b.cent AND a.vec_id < b.vec_id
), directed AS (
  SELECT u.e.src AS src, u.e.dst AS dst, cosine
  FROM pairs, UNNEST([{{{{'src': ai, 'dst': bi}}}}, {{{{'src': bi, 'dst': ai}}}}]) AS u(e)
), topk AS (
  SELECT src, dst, cosine,
         ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
  FROM directed
  QUALIFY rk <= {KNN_GRAPH_K}
), mutual AS (
  SELECT LEAST(src, dst) AS vec_a, GREATEST(src, dst) AS vec_b,
         ROUND(MAX(cosine), 6) AS cosine,
         MAX(CASE WHEN src < dst THEN rk END) AS rk_ab,
         MAX(CASE WHEN src > dst THEN rk END) AS rk_ba
  FROM topk
  GROUP BY LEAST(src, dst), GREATEST(src, dst)
  HAVING COUNT(*) = 2
)"""

_KNN_GRAPH_ORACLE = f"""
WITH {_KNN_GRAPH_CTES}
SELECT vec_a, vec_b, cosine, rk_ab, rk_ba FROM mutual
"""


@register(
    "sim_knn_graph_mutual",
    tags=("llm", "similarity", "graph"),
    oracle=_KNN_GRAPH_ORACLE.format(
        scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
    ),
)
def sim_knn_graph_mutual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the embedding corpus: each vector's top-k
    cosine neighbors WITHIN its IVF cell, kept only when the edge is
    reciprocal (a ranks b AND b ranks a) — the standard
    reciprocal-nearest-neighbor edge set for clustering/near-dup
    confirmation, where one-directional hub edges are noise.

    Plan shape: map-only centroid assignment (the sim_ann_ivf score
    array, no shuffle), ONE within-cell self-join on the centroid id
    producing each unordered pair once, a union for the two directions,
    a per-source ranking window, and a pair-key self-join for the mutual
    filter — every shuffle key is an 8-byte id or the cell id. Candidate
    work is sum(cell²); with centroids ∝ corpus (the documented IVF
    occupancy rule) cells stay bounded and the build is linear in n at
    fixed cell size, which is how RNN graphs are built at 100 TB (vs the
    quadratic exact graph)."""
    # Exact-duplicate vectors collapse to their min-id representative
    # BEFORE any pair work (the r6 clone-family rule, same as
    # containment/pHash): byte-identical embeddings land in the same cell
    # with cosine 1.0 and would otherwise both saturate every clone's
    # top-k AND square the cell's pair count — while adding zero graph
    # information, since a clone's edges are its representative's edges.
    # A no-op on dup-free corpora (checked SFs have 0 dups).
    emb = with_sq_norm(
        spread_small(load_table(spark, sf_dir, "embeddings"))
        .groupBy("embedding")
        .agg(F.min("vec_id").alias("vec_id"))
    )
    # score array materialized ONCE per row before the argmin — see the
    # sim_ann_ivf note on Catalyst project-collapse inlining the 16-fold
    # expression tree if it is referenced twice.
    assigned = emb.select(
        "vec_id", "embedding", "sq_norm",
        F.expr(_ivf_scores_spark()).alias("scores"),
    ).select(
        "vec_id",
        "embedding",
        "sq_norm",
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
    )
    a = assigned.select(
        "cent",
        F.col("vec_id").alias("ai"),
        F.col("embedding").alias("a_emb"),
        F.col("sq_norm").alias("a_sq"),
    )
    b = assigned.select(
        F.col("cent").alias("b_cent"),
        F.col("vec_id").alias("bi"),
        F.col("embedding").alias("b_emb"),
        F.col("sq_norm").alias("b_sq"),
    )
    pairs = (
        a.join(b, (F.col("cent") == F.col("b_cent")) & (F.col("ai") < F.col("bi")))
        .select(
            "ai",
            "bi",
            (
                dot_exact(F.col("a_emb"), F.col("b_emb"))
                / (F.sqrt("a_sq") * F.sqrt("b_sq"))
            ).alias("cosine"),
        )
    )
    # both directions explode from the SAME pair row (a union of two
    # selects over `pairs` would recompute the join subtree twice), and
    # the mutual filter is a groupBy on the unordered pair key with
    # HAVING count = 2 — each direction appears at most once in topk, so
    # "both rows present" IS reciprocity, with no topk self-join (which
    # would recompute the whole window subtree per side).
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("ai").alias("src"), F.col("bi").alias("dst")),
                F.struct(F.col("bi").alias("src"), F.col("ai").alias("dst")),
            )
        ).alias("e"),
        "cosine",
    ).select("e.src", "e.dst", "cosine")
    w = Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
    topk = (
        directed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= KNN_GRAPH_K)
    )
    return (
        topk.groupBy(
            F.least("src", "dst").alias("vec_a"),
            F.greatest("src", "dst").alias("vec_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_dir"),
            F.round(F.max("cosine"), 6).alias("cosine"),
            F.max(F.when(F.col("src") < F.col("dst"), F.col("rk"))).alias("rk_ab"),
            F.max(F.when(F.col("src") > F.col("dst"), F.col("rk"))).alias("rk_ba"),
        )
        .filter(F.col("n_dir") == 2)
        .select("vec_a", "vec_b", "cosine", "rk_ab", "rk_ba")
    )


# In production the mutual-kNN graph is a persisted artifact — built once,
# then consumed by clustering, PageRank, label spread, and triangle audits —
# not something every downstream job rebuilds from raw embeddings. Mirror
# that here with the same policy as the trained-PQ codebook cache
# (ml_lsh.py): memoize ONE persisted build per (session, input-file set),
# shared by the four graph consumers. The registered sim_knn_graph_mutual
# query itself stays un-persisted so its plan keeps showing the real build
# (tests/test_plans.py pins WindowGroupLimit / scan count on it). The edge
# set is two longs + a rounded double per row (≤ n·K/2 rows), so the
# persisted footprint is trivial next to the corpus.
def _mutual_graph_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    return persisted_artifact(
        spark,
        "mutual_knn_graph",
        load_table(spark, sf_dir, "embeddings").inputFiles(),
        lambda: sim_knn_graph_mutual(spark, sf_dir),
    )


def _ann_artifact(spark: SparkSession, sf_dir: str, name: str, fn) -> DataFrame:
    """Persisted search output of a registered ANN query (or the exact
    truth set) — the artifact every recall/eval audit scores against.
    Ranked top-k rows only (N_QUERIES × TOP_K), so the persisted
    footprint is constant regardless of corpus size."""
    return persisted_artifact(
        spark,
        name,
        load_table(spark, sf_dir, "embeddings").inputFiles(),
        lambda: fn(spark, sf_dir),
    )


# Edge threshold for semantic clustering over the mutual graph. The
# fixtures' synthetic embeddings are near-isotropic (mutual-edge cosines
# span ~0.1–0.6), so 0.35 keeps a meaningful strong-edge subset at every
# SF; with a real embedding model the production setting is ~0.8+ (the
# SemDeDup regime). The value rides ROUND(cosine, 6) on both engines so
# the boundary can't diverge.
SEM_CLUSTER_MIN_COS = 0.35

_SEM_CLUSTER_ORACLE = f"""
WITH RECURSIVE {_KNN_GRAPH_CTES}, edges AS (
  SELECT vec_a, vec_b FROM mutual WHERE cosine >= {SEM_CLUSTER_MIN_COS}
), nodes AS (
  SELECT vec_a AS node FROM edges UNION SELECT vec_b FROM edges
), bidir AS (
  SELECT vec_a AS src, vec_b AS dst FROM edges
  UNION ALL SELECT vec_b, vec_a FROM edges
), reach AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT b.dst AS node, r.label FROM reach r JOIN bidir b ON b.src = r.node
), cc AS (
  SELECT node AS vec_id, MIN(label) AS cluster_root FROM reach GROUP BY node
)
SELECT cc.vec_id, cc.cluster_root, n.n_members,
       cc.vec_id = cc.cluster_root AS keep
FROM cc JOIN (SELECT cluster_root AS r, COUNT(*) AS n_members
              FROM cc GROUP BY cluster_root) n ON n.r = cc.cluster_root
"""


@register(
    "sim_semantic_clusters",
    tags=("llm", "similarity", "graph", "clustering"),
    oracle=_SEM_CLUSTER_ORACLE.format(
        scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
    ),
)
def sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic cluster assignment — the SemDeDup-style endgame over the
    mutual-kNN graph: reciprocal edges with cosine ≥ threshold are the
    strong-edge set; connected components give each vector its cluster
    root (min reachable vec_id), cluster size, and a keep/drop flag
    (keep = the root), ready to drive a keep-one-per-cluster corpus prune.

    Reuses the dedup engine's min-label-propagation components (iterative
    edges⋈labels join, localCheckpoint-truncated lineage, rounds =
    component diameter — RNN clusters are shallow); the DuckDB twin walks
    the same edges with a recursive CTE, so the iterative Spark algorithm
    is hash-checked end-to-end, approximation and all."""
    from .dedup import connected_components

    edges = _mutual_graph_persisted(spark, sf_dir).filter(
        F.col("cosine") >= SEM_CLUSTER_MIN_COS
    )
    labels = connected_components(edges, "vec_a", "vec_b")
    sizes = labels.groupBy("label").agg(F.count(F.lit(1)).alias("n_members"))
    return labels.join(F.broadcast(sizes), "label").select(
        F.col("node").alias("vec_id"),
        F.col("label").alias("cluster_root"),
        "n_members",
        (F.col("node") == F.col("label")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# IVFADC — the production composition of the two ANN halves this module
# already has: IVF coarse cells bound the candidate set, and PQ codes of
# the CELL RESIDUAL (x − centroid) replace the vectors inside each cell.
# This is the standard billion-vector index layout (inverted lists of
# 4-byte PQ codes): the scan is cell-pruned AND 64×-compressed, and a
# query pays |q−c_L|² once per probed cell plus 8 integer lookups per
# candidate. Residual encoding (vs raw-vector PQ in sim_ann_pq_adc) is
# what makes the codes accurate: residuals are centered near zero, so a
# shared codebook covers them far better than raw vectors.
# All algebra stays scaled-int64, so the whole approximate ranking —
# cell assignment, residual codes, ADC scores — hash-matches DuckDB.
# ---------------------------------------------------------------------------


def _ivf_cents_spark() -> str:
    return "array(" + ", ".join(spark_array(c) for c in _IVF_CENTS) + ")"


def _ivf_cents_duck() -> str:
    return "[" + ", ".join(duck_list(c) for c in _IVF_CENTS) + "]"


# residual of `vec` w.r.t. centroid index column `cent` (0-based)
def _residual_spark(vec: str, cent: str) -> str:
    return (
        f"zip_with({vec}, element_at({_ivf_cents_spark()}, {cent} + 1),"
        f" (x, c) -> CAST(x AS DOUBLE) - c)"
    )


def _residual_duck(vec: str, cent: str) -> str:
    return (
        f"list_transform(list_zip({vec}, ({_ivf_cents_duck()})[{cent} + 1]),"
        f" p -> CAST(struct_extract(p, 1) AS DOUBLE) - struct_extract(p, 2))"
    )


_TERM0_SPARK = spark_sq_sql("q_res")
_TERM0_DUCK = duck_sq_sql("q_res")


def _ivfadc_oracle() -> str:
    res_score_cols = ",\n         ".join(
        f"{_pq_scores_duck(s, 'res')} AS sc{s}" for s in range(PQ_SUBSPACES)
    )
    code_cols = ", ".join(
        f"list_position(sc{s}, list_min(sc{s})) - 1 AS code{s}"
        for s in range(PQ_SUBSPACES)
    )
    qlt_cols = ",\n         ".join(
        f"{_pq_scores_duck(s, 'q_res')} AS qsc{s}" for s in range(PQ_SUBSPACES)
    )
    adc = " + ".join(f"q.qsc{s}[c.code{s} + 1]" for s in range(PQ_SUBSPACES))
    return f"""
WITH scored AS (
  SELECT vec_id, label, embedding,
         {_ivf_scores_duck()} AS scores,
         list_transform(generate_series(1, {IVF_CENTROIDS}),
                        i -> {{'s': scores[i], 'cid': i - 1}}) AS score_structs
  FROM embeddings
), resid AS (
  SELECT vec_id, label,
         list_position(scores, list_min(scores)) - 1 AS cent,
         {_residual_duck('embedding', '(list_position(scores, list_min(scores)) - 1)')} AS res
  FROM scored
), res_scored AS (
  SELECT vec_id, label, cent,
         {res_score_cols}
  FROM resid
), coded AS (
  SELECT vec_id, label, cent, {code_cols}
  FROM res_scored
), probes AS (
  SELECT vec_id AS query_id, embedding, cid AS p_cent
  FROM (
    SELECT vec_id, embedding, u.cid AS cid, u.s AS s,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY u.s, u.cid) AS prn
    FROM scored, UNNEST(score_structs) AS t(u)
    WHERE vec_id < {N_QUERIES}
  ) WHERE prn <= {IVF_NPROBE}
), qres AS (
  SELECT query_id, p_cent,
         {_residual_duck('embedding', 'p_cent')} AS q_res
  FROM probes
), qlt AS (
  SELECT query_id, p_cent,
         {_TERM0_DUCK} AS term0,
         {qlt_cols}
  FROM qres
), cand AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         CAST(q.term0 + {adc} AS BIGINT) AS adc_score
  FROM qlt q JOIN coded c ON c.cent = q.p_cent AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, neighbor_label, adc_score, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY adc_score, neighbor_id) AS rk
  FROM cand
)
WHERE rk <= {TOP_K}
"""


@register(
    "sim_ann_ivfadc",
    tags=("llm", "similarity", "ivf", "pq", "ann"),
    oracle=_ivfadc_oracle(),
)
def sim_ann_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC top-k — the billion-vector production index shape: corpus
    vectors live in IVF cells as 4-byte PQ codes of their CELL RESIDUAL;
    a query probes its IVF_NPROBE nearest cells and ranks candidates by
    |q − c_L|² + Σ_s lookup(q-residual table, code) — exact expansion of
    the distance to the candidate's reconstruction, paid as one constant
    per (query, cell) plus 8 integer lookups per candidate.

    Plan shape: the corpus side is a map-only projection chain (cell
    argmin → residual → 8 code argmins; no shuffle, no UDF) whose
    multi-referenced arrays stay materialized-per-projection (Catalyst
    keeps non-cheap multi-referenced aliases in their own Project — the
    plan-explosion trap documented at _ivf_scores_spark). Probe rows
    (N_QUERIES × NPROBE, each carrying 8 small lookup arrays) broadcast
    against the coded corpus on the cell id. At 100 TB: inverted lists
    scan 4 B/vector instead of 256 B, only NPROBE/IVF_CENTROIDS of the
    corpus is touched per query, and both levers are the ones already
    proven separately (sim_ann_ivf occupancy rule; sim_ann_pq_adc
    compressed scan). Everything is scaled-int64, so the approximate
    ranking hash-matches the DuckDB twin end to end."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    scored = emb.select(
        "vec_id", "label", "embedding",
        F.expr(_ivf_scores_spark()).alias("scores"),
    )
    assigned = scored.select(
        "vec_id", "label", "embedding",
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
    )
    resid = assigned.select(
        "vec_id", "label", "cent",
        F.expr(_residual_spark("embedding", "cent")).alias("res"),
    )
    res_scored = resid.select(
        "vec_id", "label", "cent",
        *[
            F.expr(_pq_scores_spark(s, "res")).alias(f"sc{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    coded = res_scored.select(
        "vec_id", "label", "cent",
        *[
            (F.expr(f"array_position(sc{s}, array_min(sc{s}))") - 1)
            .cast("int")
            .alias(f"code{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    prn_w = Window.partitionBy("query_id").orderBy("s", "p_cent")
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "embedding",
            F.posexplode("scores").alias("p_cent", "s"),
        )
        .withColumn("prn", F.row_number().over(prn_w))
        .filter(F.col("prn") <= IVF_NPROBE)
        .select("query_id", "embedding", "p_cent")
    )
    qres = probes.select(
        "query_id", "p_cent",
        F.expr(_residual_spark("embedding", "p_cent")).alias("q_res"),
    )
    qlt = qres.select(
        "query_id", "p_cent",
        F.expr(_TERM0_SPARK).alias("term0"),
        *[
            F.expr(_pq_scores_spark(s, "q_res")).alias(f"qsc{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    adc = F.col("term0")
    for s in range(PQ_SUBSPACES):
        adc = adc + F.element_at(F.col(f"qsc{s}"), F.col(f"code{s}") + 1)
    cand = (
        F.broadcast(qlt)
        .join(
            coded,
            (F.col("cent") == F.col("p_cent"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.col("label").alias("neighbor_label"),
            adc.cast("long").alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_score", "neighbor_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
    )


def _ivfadc_recall_oracle() -> str:
    from ..registry import REGISTRY

    exact_sql = REGISTRY["sim_cosine_topk"].oracle
    return f"""
WITH exact_k AS (
  SELECT query_id, neighbor_id FROM ({exact_sql})
), ivfadc_k AS (
  SELECT query_id, neighbor_id FROM ({_ivfadc_oracle()})
)
SELECT e.query_id,
       COUNT(a.neighbor_id) AS hits,
       CAST(COUNT(a.neighbor_id) AS DOUBLE) / {TOP_K} AS recall_at_k
FROM exact_k e
LEFT JOIN ivfadc_k a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


@register(
    "sim_ann_ivfadc_recall",
    tags=("llm", "similarity", "eval", "ivf", "pq"),
    oracle=_ivfadc_recall_oracle(),
)
def sim_ann_ivfadc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the IVFADC path against brute-force exact cosine —
    the honesty meter for the combined index: the loss now folds in BOTH
    levers (cell pruning: a true neighbor outside the probed cells can
    never be found; residual quantization: in-cell ranking error), which
    is exactly the production trade-off being bought. Composes the two
    registered queries unchanged, scaled-int deterministic on both
    sides, so the evaluation itself is oracle-checked. Same caveats as
    sim_ann_adc_recall: untrained (seeded-random) codebooks on
    near-random fixtures give honestly-low absolute recall. Measured at
    sf0.01: avg recall@5 ≈ 0.10 vs 0.11 for the un-pruned ADC scan — on
    this corpus the cell-pruning loss roughly offsets the
    residual-encoding gain (near-isotropic vectors make both cells and
    residuals uninformative); with trained codebooks and real clustered
    embeddings the residual term dominates, which is why production
    systems ship THIS shape (the trained flavor is the rows-only
    embedding_product_quantize_trained pairing)."""
    exact_k = _ann_artifact(spark, sf_dir, "exact_cosine_topk", sim_cosine_topk).select(
        "query_id", "neighbor_id"
    )
    ivfadc_k = _ann_artifact(spark, sf_dir, "ann_ivfadc_topk", sim_ann_ivfadc).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
    )
    return (
        exact_k.join(
            ivfadc_k,
            (F.col("a_query_id") == F.col("query_id"))
            & (F.col("a_neighbor_id") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("a_neighbor_id").alias("hits"),
            (F.count("a_neighbor_id").cast("double") / F.lit(TOP_K)).alias(
                "recall_at_k"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Random projection (Johnson–Lindenstrauss) — the third compression path
# next to int8 quantization and PQ: a fixed Gaussian matrix R (rows scaled
# by 1/sqrt(d')) maps 64-dim embeddings to RP_DIM dims while approximately
# preserving pairwise distances (the JL lemma). Map-only, no shuffle, no
# UDF: each output dim is one scaled-int64 fold over the input vector —
# at 100 TB this is a scan-transform that cuts the embedding lake 4× and
# feeds any downstream distance-based op (ANN, clustering, dedup) with a
# provable distortion bound. The matrix is seeded-deterministic and
# embedded as literals in both engines, so projections are hash-exact.
# ---------------------------------------------------------------------------

RP_DIM = 16
RP_AUDIT_N = 50  # vectors (by id) in the pairwise distortion audit

_RP_RAW = np.random.default_rng(20260814).normal(size=(RP_DIM, 64))
_RP_MAT = (_RP_RAW / math.sqrt(RP_DIM)).astype(np.float64)


def _rp_dot_spark(j: int, src: str = "embedding") -> str:
    return spark_dot_sql(src, _RP_MAT[j])


def _rp_dot_duck(j: int, src: str = "embedding") -> str:
    return duck_dot_sql(src, _RP_MAT[j])


_RP_ORACLE = f"""
SELECT vec_id, label,
       {", ".join(f"ROUND({descale_sql(_rp_dot_duck(j))}, 6) AS p{j}" for j in range(RP_DIM))}
FROM embeddings
"""


@register(
    "embedding_random_projection",
    tags=("llm", "similarity", "compression", "jl"),
    oracle=_RP_ORACLE,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random projection 64 → RP_DIM dims: each
    output coordinate is ⟨x, r_j⟩ for a fixed seeded Gaussian row r_j
    (scaled 1/√RP_DIM so squared distances are unbiased). One map-only
    projection — the same scaled-int64 fold the PQ/IVF family uses, so
    the projected coordinates hash-match DuckDB exactly. Pairs with
    embedding_rp_distance_audit, which measures the actual distortion
    the JL lemma bounds."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    return emb.select(
        "vec_id",
        "label",
        *[
            F.round(descale(F.expr(_rp_dot_spark(j))), 6).alias(f"p{j}")
            for j in range(RP_DIM)
        ],
    )


def _rp_audit_pairs_duck() -> str:
    proj_cols = ",\n         ".join(
        f"{descale_sql(_rp_dot_duck(j))} AS y{j}" for j in range(RP_DIM)
    )
    d2_proj = " + ".join(
        f"CAST(FLOOR((a.y{j} - b.y{j}) * (a.y{j} - b.y{j}) * 1e9) AS BIGINT)"
        for j in range(RP_DIM)
    )
    return f"""
WITH proj AS (
  SELECT vec_id, embedding,
         {proj_cols}
  FROM embeddings WHERE vec_id < {RP_AUDIT_N}
), pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         (SELECT CAST(SUM(CAST(FLOOR(
             (CAST(struct_extract(pp, 1) AS DOUBLE) - CAST(struct_extract(pp, 2) AS DOUBLE))
             * (CAST(struct_extract(pp, 1) AS DOUBLE) - CAST(struct_extract(pp, 2) AS DOUBLE))
             * 1e9) AS BIGINT)) AS BIGINT)
          FROM UNNEST(list_zip(a.embedding, b.embedding)) AS t(pp)) AS d2_orig_e9,
         CAST({d2_proj} AS BIGINT) AS d2_proj_e9
  FROM proj a JOIN proj b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, d2_orig_e9, d2_proj_e9,
       ROUND(CAST(d2_proj_e9 AS DOUBLE) / d2_orig_e9, 6) AS distortion
FROM pairs WHERE d2_orig_e9 > 0
"""


@register(
    "embedding_rp_distance_audit",
    tags=("llm", "similarity", "eval", "jl"),
    oracle=_rp_audit_pairs_duck(),
)
def embedding_rp_distance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distortion audit for the JL projection: for every pair among the
    first RP_AUDIT_N vectors, the ratio ‖Rx−Ry‖²/‖x−y‖² — the quantity
    the JL lemma bounds to 1±ε. Distances accumulate per-term floored
    scaled int64 (term count × magnitude fits comfortably), so both
    engines compute bit-identical distortions — an oracle-checked audit
    of a randomized method's guarantee. The pair set is a fixed-size
    sample (audit cost is O(N²) by construction, independent of corpus
    size); production monitors re-sample per batch."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings")).filter(
        F.col("vec_id") < RP_AUDIT_N
    )
    proj = emb.select(
        "vec_id",
        "embedding",
        *[
            descale(F.expr(_rp_dot_spark(j))).alias(f"y{j}")
            for j in range(RP_DIM)
        ],
    )
    a = proj.select(
        F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("a_emb"),
        *[F.col(f"y{j}").alias(f"a_y{j}") for j in range(RP_DIM)],
    )
    b = proj.select(
        F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("b_emb"),
        *[F.col(f"y{j}").alias(f"b_y{j}") for j in range(RP_DIM)],
    )
    d2_orig = F.expr(
        "aggregate(zip_with(a_emb, b_emb,"
        " (x, y) -> CAST(FLOOR((CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
        " * (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * 1e9) AS BIGINT)),"
        " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    d2_proj = None
    for j in range(RP_DIM):
        term = F.floor(
            (F.col(f"a_y{j}") - F.col(f"b_y{j}"))
            * (F.col(f"a_y{j}") - F.col(f"b_y{j}"))
            * F.lit(1e9)
        ).cast("long")
        d2_proj = term if d2_proj is None else d2_proj + term
    pairs = (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            d2_orig.alias("d2_orig_e9"),
            d2_proj.cast("long").alias("d2_proj_e9"),
        )
        .filter(F.col("d2_orig_e9") > 0)
    )
    return pairs.select(
        "vec_a",
        "vec_b",
        "d2_orig_e9",
        "d2_proj_e9",
        F.round(
            F.col("d2_proj_e9").cast("double") / F.col("d2_orig_e9"), 6
        ).alias("distortion"),
    )


# ---------------------------------------------------------------------------
# PageRank centrality over the mutual-kNN graph — the curation endgame
# that complements connected components: components tell you WHICH docs
# cluster; centrality ranks how REPRESENTATIVE each doc is inside the
# corpus neighborhood structure (hub docs anchor semantic regions; at
# 100 TB this weights keep-one-per-cluster choices and mixture sampling).
# A fixed PAGERANK_ITERS-step power iteration in EXACT integer
# arithmetic: ranks live as int64 scaled 1e12, every division is integer
# floor division, every update is a sum of int64 — so the iterative
# distributed algorithm hash-matches a DuckDB twin whose iterations are
# unrolled as a CTE chain (the text_bpe_train pattern applied to a
# numeric fixpoint).
# ---------------------------------------------------------------------------

PAGERANK_ITERS = 3
PR_SCALE = 10**12  # rank mass scale: pr values are int64 * 1e-12
PR_D_NUM, PR_D_DEN = 85, 100  # damping 0.85 as an exact rational


def _pagerank_oracle() -> str:
    base = f"(15 * {PR_SCALE}) // (100 * (SELECT n FROM nn))"
    chain = []
    prev = "pr0"
    for k in range(1, PAGERANK_ITERS + 1):
        chain.append(
            f"""pr{k} AS (
  SELECT b.dst AS node,
         CAST({base} + SUM((p.pr * {PR_D_NUM}) // ({PR_D_DEN} * d.deg)) AS BIGINT) AS pr
  FROM bidir b JOIN {prev} p ON p.node = b.src JOIN deg d ON d.src = b.src
  GROUP BY b.dst
)"""
        )
        prev = f"pr{k}"
    return (
        f"""
WITH {_KNN_GRAPH_CTES}, bidir AS (
  SELECT vec_a AS src, vec_b AS dst FROM mutual
  UNION ALL SELECT vec_b, vec_a FROM mutual
), deg AS (
  SELECT src, COUNT(*) AS deg FROM bidir GROUP BY src
), nn AS (
  SELECT COUNT(*) AS n FROM deg
), pr0 AS (
  SELECT src AS node, CAST({PR_SCALE} // (SELECT n FROM nn) AS BIGINT) AS pr
  FROM deg
), """
        + ", ".join(chain)
        + f"""
SELECT p.node AS vec_id, d.deg AS degree, p.pr AS pr_e12
FROM {prev} p JOIN deg d ON d.src = p.node
"""
    )


@register(
    "sim_graph_pagerank",
    tags=("llm", "similarity", "graph", "centrality"),
    oracle=_pagerank_oracle().format(
        scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
    ),
)
def sim_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the undirected mutual-kNN graph, PAGERANK_ITERS
    power-iteration steps, damping 0.85 as the exact rational 85/100:
    pr₀ = ⌊1e12/n⌋ per node; each step every node emits
    ⌊pr·85/(100·deg)⌋ along each edge and collects
    ⌊0.15e12/n⌋ + Σ contributions. Every node of the mutual graph has
    degree ≥ 1 (edges are reciprocal), so there is no dangling mass and
    every node receives contributions each round — the undirected-graph
    simplification that keeps both engines' fixpoint identical.

    Plan shape: the expensive kNN-graph build runs ONCE per corpus (the
    shared persisted artifact), then each iteration is one edges⋈ranks shuffle
    join + an integer sum — K fixed shuffles of 8-byte keys, the same
    budget class as connected_components, with the node count riding a
    one-row broadcast (no collect). All arithmetic is int64 with integer
    division, so the distributed iteration hash-matches the unrolled
    DuckDB CTE chain exactly."""
    # localCheckpoint on top of the shared persisted graph: the K-round
    # loop re-derives n_row/deg broadcasts each iteration, and a
    # materialized row-format base keeps those tiny jobs off the
    # columnar-cache deserialize path.
    edges = (
        _mutual_graph_persisted(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint()
    )
    bidir = edges.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionAll(edges.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst")))
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    bd = bidir.join(deg, "src").localCheckpoint()  # (src, dst, deg), reused K×
    n_row = deg.agg(F.count(F.lit(1)).alias("n"))
    pr = (
        deg.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(n_row))
        .select("node", F.expr(f"CAST({PR_SCALE} DIV n AS BIGINT)").alias("pr"))
    )
    for _ in range(PAGERANK_ITERS):
        contrib = bd.join(pr, bd["src"] == pr["node"]).select(
            "dst",
            F.expr(
                f"CAST((pr * {PR_D_NUM}) DIV ({PR_D_DEN} * deg) AS BIGINT)"
            ).alias("c"),
        )
        pr = (
            contrib.groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(n_row))
            .select(
                F.col("dst").alias("node"),
                (
                    F.expr(f"CAST((15 * {PR_SCALE}) DIV (100 * n) AS BIGINT)")
                    + F.col("s")
                ).alias("pr"),
            )
        )
    return pr.join(deg, pr["node"] == deg["src"]).select(
        F.col("node").alias("vec_id"),
        F.col("deg").alias("degree"),
        F.col("pr").alias("pr_e12"),
    )


# ---------------------------------------------------------------------------
# Semi-supervised label propagation over the mutual-kNN graph — the
# graph-based classifier pattern (a seed set of labeled docs spreads its
# labels to neighbors by similarity-weighted majority vote). This is how
# a small hand-labeled quality/topic set is amplified across an unlabeled
# 100 TB corpus without training a model: K rounds, each one
# edges⋈labels shuffle + a weighted vote. Votes use integer weights
# (1 + cosine scaled 1e6 — shifted positive, monotone in similarity) and
# ties break to the smallest label, so the whole iterative spread is
# deterministic and hash-matches an unrolled DuckDB CTE chain.
# ---------------------------------------------------------------------------

LABEL_SPREAD_ROUNDS = 3
LABEL_SEED_MOD = 5  # vec_id % 5 == 0 → seed (a 20% labeled set)
# edge weight: (1 + cosine) * 1e6 as int64 — positive (cosine ≥ -1) and
# monotone, so "highest total weight" is a deterministic majority
_LS_W_SPARK = "CAST(ROUND((1.0D + cosine) * 1e6, 0) AS BIGINT)"
_LS_W_DUCK = "CAST(ROUND((1.0 + cosine) * 1e6, 0) AS BIGINT)"


def _label_spread_oracle() -> str:
    chain = []
    prev = "st0"
    for k in range(1, LABEL_SPREAD_ROUNDS + 1):
        chain.append(
            f"""st{k} AS (
  SELECT s.node,
         CASE WHEN s.is_seed THEN s.lab ELSE COALESCE(p.lab, s.lab) END AS lab,
         s.is_seed
  FROM {prev} s LEFT JOIN (
    SELECT dst, lab FROM (
      SELECT b.dst, s2.lab,
             ROW_NUMBER() OVER (PARTITION BY b.dst
                                ORDER BY SUM(b.w) DESC, s2.lab) AS rk
      FROM bidir b JOIN {prev} s2 ON s2.node = b.src AND s2.lab IS NOT NULL
      GROUP BY b.dst, s2.lab
    ) WHERE rk = 1
  ) p ON p.dst = s.node
)"""
        )
        prev = f"st{k}"
    return (
        f"""
WITH {_KNN_GRAPH_CTES}, bidir AS (
  SELECT vec_a AS src, vec_b AS dst, {_LS_W_DUCK} AS w FROM mutual
  UNION ALL
  SELECT vec_b, vec_a, {_LS_W_DUCK} FROM mutual
), nodes AS (
  SELECT DISTINCT src AS node FROM bidir
), st0 AS (
  SELECT n.node,
         CASE WHEN n.node % {LABEL_SEED_MOD} = 0 THEN e.label END AS lab,
         n.node % {LABEL_SEED_MOD} = 0 AS is_seed
  FROM nodes n JOIN embeddings e ON e.vec_id = n.node
), """
        + ", ".join(chain)
        + f"""
SELECT s.node AS vec_id, s.is_seed, e.label AS label_true,
       s.lab AS label_spread,
       s.lab IS NOT NULL AND s.lab = e.label AS correct
FROM {prev} s JOIN embeddings e ON e.vec_id = s.node
"""
    )


@register(
    "sim_label_spread",
    tags=("llm", "similarity", "graph", "semi-supervised"),
    oracle=_label_spread_oracle().format(
        scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
    ),
)
def sim_label_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label propagation: vec_id % LABEL_SEED_MOD == 0 nodes are seeds
    holding their true label; for LABEL_SPREAD_ROUNDS rounds every
    non-seed node adopts the similarity-weighted majority label among
    its currently-labeled neighbors (ties → smallest label; no labeled
    neighbor → keep). Returns each graph node with its seed flag, spread
    label, true label, and a correctness flag — the evaluation row a
    curation pipeline needs to decide whether graph spread is trustworthy
    on THIS corpus before amplifying a hand-labeled set. (On these
    synthetic near-isotropic fixtures labels are geometry-free, so
    measured accuracy honestly hovers near the 10% random baseline;
    with real embeddings, label locality is exactly what the mutual
    graph encodes.)

    Plan shape: the graph builds once per corpus (shared persisted
    artifact), each round is
    one edges⋈state shuffle + a two-key aggregate + a per-node
    row_number pick — K fixed rounds of 8-byte-key exchanges, the
    connected-components budget class. Integer vote weights and the
    min-label tie-break make the spread deterministic, so the DuckDB
    twin (rounds unrolled as CTEs) hash-matches exactly."""
    mutual = _mutual_graph_persisted(spark, sf_dir).select(
        "vec_a", "vec_b", F.expr(_LS_W_SPARK).alias("w")
    )
    bidir = (
        mutual.select(
            F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"), "w"
        )
        .unionAll(
            mutual.select(
                F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"), "w"
            )
        )
        .localCheckpoint()
    )
    emb = spread_small(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "label"
    )
    nodes = bidir.select(F.col("src").alias("node")).distinct()
    state = nodes.join(emb, nodes["node"] == emb["vec_id"]).select(
        "node",
        F.when(F.col("node") % LABEL_SEED_MOD == 0, F.col("label")).alias("lab"),
        (F.col("node") % LABEL_SEED_MOD == 0).alias("is_seed"),
    )
    for _ in range(LABEL_SPREAD_ROUNDS):
        labeled = state.filter(F.col("lab").isNotNull()).select(
            F.col("node").alias("l_node"), F.col("lab").alias("l_lab")
        )
        votes = (
            bidir.join(labeled, bidir["src"] == F.col("l_node"))
            .groupBy("dst", "l_lab")
            .agg(F.sum("w").alias("tw"))
        )
        picks = (
            votes.withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("dst").orderBy(
                        F.col("tw").desc(), F.col("l_lab")
                    )
                ),
            )
            .filter(F.col("rk") == 1)
            .select(F.col("dst"), F.col("l_lab").alias("pick"))
        )
        state = (
            state.join(picks, state["node"] == picks["dst"], "left")
            .select(
                "node",
                F.when(F.col("is_seed"), F.col("lab"))
                .otherwise(F.coalesce(F.col("pick"), F.col("lab")))
                .alias("lab"),
                "is_seed",
            )
            .localCheckpoint()
        )
    return state.join(emb, state["node"] == emb["vec_id"]).select(
        F.col("node").alias("vec_id"),
        "is_seed",
        F.col("label").alias("label_true"),
        F.col("lab").alias("label_spread"),
        (F.col("lab").isNotNull() & (F.col("lab") == F.col("label"))).alias(
            "correct"
        ),
    )


# ---------------------------------------------------------------------------
# Triangle census over the mutual-kNN graph
# ---------------------------------------------------------------------------
_TRIANGLE_ORACLE = f"""
WITH {_KNN_GRAPH_CTES}, e AS (
  SELECT vec_a, vec_b FROM mutual
), tri AS (
  SELECT e1.vec_a AS a, e1.vec_b AS b, e2.vec_b AS c
  FROM e e1
  JOIN e e2 ON e2.vec_a = e1.vec_b
  JOIN e e3 ON e3.vec_a = e1.vec_a AND e3.vec_b = e2.vec_b
), tri_nodes AS (
  SELECT u.n AS vec_id FROM tri, UNNEST([a, b, c]) AS u(n)
), tcnt AS (
  SELECT vec_id, COUNT(*) AS triangles FROM tri_nodes GROUP BY vec_id
), deg AS (
  SELECT vec_id, COUNT(*) AS degree
  FROM (SELECT vec_a AS vec_id FROM e UNION ALL SELECT vec_b AS vec_id FROM e)
  GROUP BY vec_id
)
SELECT d.vec_id,
       CAST(d.degree AS BIGINT) AS degree,
       CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
       CAST(COALESCE(t.triangles, 0) * 2000000
            // NULLIF(d.degree * (d.degree - 1), 0) AS BIGINT) AS clustering_ppm
FROM deg d LEFT JOIN tcnt t USING (vec_id)
"""


@register(
    "sim_graph_triangles",
    tags=("llm", "similarity", "graph"),
    oracle=_TRIANGLE_ORACLE.format(
        scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
    ),
)
def sim_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle count and local clustering coefficient over the
    mutual-kNN graph — the cohesion statistic that separates genuine
    semantic clusters (triangle-dense neighborhoods) from hub noise
    (high degree, no closure), and the standard quality check on an RNN
    edge set before running community detection over it. Coefficient
    reported as exact-integer ppm: 2·triangles·1e6 / (deg·(deg−1)),
    NULL for degree-1 nodes (NULLIF on both engines).

    Plan shape: triangles enumerate on the ID-ORIENTED edge list
    (a<b<c), so each triangle is produced exactly once by two
    equi-joins on 8-byte ids; the edge list is cached (≤ n·K/2 rows —
    two longs wide) so the kNN-build subtree runs once, not three
    times. At 100 TB you orient wedges from the lower-degree endpoint
    (degree orientation bounds wedge fan-out by sqrt-degeneracy); with
    K=4-capped degrees here, id orientation is already bounded and
    keeps the enumeration order oracle-deterministic."""
    edges = _mutual_graph_persisted(spark, sf_dir).select("vec_a", "vec_b")
    e1 = edges.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    e2 = edges.select(F.col("vec_a").alias("b"), F.col("vec_b").alias("c"))
    e3 = edges.select(F.col("vec_a").alias("a"), F.col("vec_b").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    tri_nodes = tri.select(
        F.explode(F.array("a", "b", "c")).alias("vec_id")
    )
    tcnt = tri_nodes.groupBy("vec_id").agg(F.count(F.lit(1)).alias("triangles"))
    deg = (
        edges.select(F.col("vec_a").alias("vec_id"))
        .unionAll(edges.select(F.col("vec_b").alias("vec_id")))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.join(tcnt, "vec_id", "left")
        .select(
            "vec_id",
            F.col("degree").cast("long").alias("degree"),
            F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"),
            F.expr(
                "CAST(COALESCE(triangles, 0) * 2000000"
                " div NULLIF(degree * (degree - 1), 0) AS BIGINT)"
            ).alias("clustering_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# IVF probe sweep — the nprobe tuning curve, measured in one query
# ---------------------------------------------------------------------------
SWEEP_LEVELS = (1, 2, 4, 8)  # nprobe levels; IVF_NPROBE=2 is the prod point

_SWEEP_ORACLE = f"""
WITH scored AS (
  SELECT vec_id, label, embedding,
         {SQ_NORM_DUCK} AS sq_norm,
         {_ivf_scores_duck()} AS scores,
         list_transform(generate_series(1, {IVF_CENTROIDS}),
                        i -> {{'s': scores[i], 'cid': i - 1}}) AS score_structs
  FROM embeddings
), assigned AS (
  SELECT vec_id, embedding, sq_norm,
         list_position(scores, list_min(scores)) - 1 AS cent
  FROM scored
), probes AS (
  SELECT vec_id AS query_id, embedding AS q_emb, sq_norm AS q_sq,
         cid AS cent, prn
  FROM (
    SELECT vec_id, embedding, sq_norm, u.cid AS cid, u.s AS s,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY u.s, u.cid) AS prn
    FROM scored, UNNEST(score_structs) AS t(u)
    WHERE vec_id < {N_QUERIES}
  ) WHERE prn <= {max(SWEEP_LEVELS)}
), levels(nprobe) AS (
  VALUES {", ".join(f"({v})" for v in SWEEP_LEVELS)}
), cand AS (
  SELECT l.nprobe, p.query_id, c.vec_id AS neighbor_id,
         {descale_sql(duck_dot_sql("p.q_emb", "c.embedding"))}
         / (SQRT(p.q_sq) * SQRT(c.sq_norm)) AS cosine
  FROM levels l
  JOIN probes p ON p.prn <= l.nprobe
  JOIN assigned c ON c.cent = p.cent AND c.vec_id <> p.query_id
), approx AS (
  SELECT nprobe, query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                            ORDER BY cosine DESC, neighbor_id) AS rk,
         COUNT(*) OVER (PARTITION BY nprobe, query_id) AS n_cand
  FROM cand
), exact AS (
  SELECT query_id, neighbor_id
  FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             {descale_sql(duck_dot_sql("q.embedding", "c.embedding"))}
             / (SQRT(q.sq_norm) * SQRT(c.sq_norm)) DESC, c.vec_id) AS rk
    FROM scored q JOIN scored c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rk <= {TOP_K}
)
SELECT a.nprobe,
       CAST(COUNT(*) FILTER (WHERE a.rk <= {TOP_K} AND e.neighbor_id IS NOT NULL)
            AS BIGINT) AS hits,
       CAST(COUNT(*) FILTER (WHERE a.rk <= {TOP_K} AND e.neighbor_id IS NOT NULL)
            * 1000 // ({N_QUERIES} * {TOP_K}) AS BIGINT) AS recall_milli,
       CAST(SUM(CASE WHEN a.rk = 1 THEN a.n_cand ELSE 0 END) AS BIGINT)
         AS n_candidates
FROM approx a
LEFT JOIN exact e
  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
GROUP BY a.nprobe
"""


@register(
    "sim_ann_ivf_probe_sweep",
    tags=("llm", "similarity", "ivf", "ann", "eval", "tuning"),
    oracle=_SWEEP_ORACLE,
)
def sim_ann_ivf_probe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nprobe tuning curve — recall@k and candidate cost per probe
    depth (1, 2, 4, 8 of the 16 cells), measured in ONE query instead of
    four: nprobe is THE production knob for IVF search (FAISS's
    `nprobe`), trading scan fraction for recall, and a 100 TB deployment
    picks it from exactly this curve. Probe ranks are computed once up
    to max(SWEEP_LEVELS); a tiny levels table joins `prn <= nprobe`, so
    each level's candidate set is provably a superset of the previous —
    recall is monotone non-decreasing in nprobe BY CONSTRUCTION, and the
    differential gate hash-checks the whole curve (the IVF assignment,
    the sweep expansion, the exact-truth join, and the per-level
    aggregate) against DuckDB.

    Plan shape: corpus assignment is the same map-only argmin as
    sim_ann_ivf; the sweep multiplies only the broadcast PROBE rows
    (N_QUERIES x max_level), never the corpus; candidates re-score with
    the exact scaled-int dot; the exact-truth side is the brute-force
    audit (corpus x N_QUERIES, query-side broadcast). Audit-shaped: at
    100 TB you'd sample queries, as here."""
    emb = with_sq_norm(spread_small(load_table(spark, sf_dir, "embeddings")))
    scored = emb.select(
        "vec_id", "label", "embedding", "sq_norm",
        F.expr(_ivf_scores_spark()).alias("scores"),
    )
    corpus = scored.select(
        "vec_id", "embedding", "sq_norm",
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
    )
    prn_w = Window.partitionBy("query_id").orderBy("s", "p_cent")
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("sq_norm").alias("q_sq"),
            F.posexplode("scores").alias("p_cent", "s"),
        )
        .withColumn("prn", F.row_number().over(prn_w))
        .filter(F.col("prn") <= max(SWEEP_LEVELS))
        .select("query_id", "q_emb", "q_sq", "p_cent", "prn")
    )
    levels = spark.createDataFrame(
        [(v,) for v in SWEEP_LEVELS], ["nprobe"]
    )
    cand = (
        corpus.join(
            F.broadcast(probes.crossJoin(levels).filter(F.col("prn") <= F.col("nprobe"))),
            (F.col("cent") == F.col("p_cent"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .withColumn(
            "cosine",
            dot_exact(F.col("q_emb"), F.col("embedding"))
            / (F.sqrt("q_sq") * F.sqrt("sq_norm")),
        )
        .select("nprobe", "query_id", F.col("vec_id").alias("neighbor_id"), "cosine")
    )
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.col("cosine").desc(), "neighbor_id"
    )
    wc = Window.partitionBy("nprobe", "query_id")
    approx = cand.select(
        "nprobe", "query_id", "neighbor_id",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wc).alias("n_cand"),
    )
    exact = _ann_artifact(spark, sf_dir, "exact_cosine_topk", sim_cosine_topk).select(
        F.col("query_id").alias("e_query_id"),
        F.col("neighbor_id").alias("e_neighbor_id"),
    )
    hit = (F.col("rk") <= TOP_K) & F.col("e_neighbor_id").isNotNull()
    return (
        approx.join(
            exact,
            (F.col("e_query_id") == F.col("query_id"))
            & (F.col("e_neighbor_id") == F.col("neighbor_id")),
            "left",
        )
        .groupBy("nprobe")
        .agg(
            F.count_if(hit).cast("long").alias("hits"),
            F.expr(
                f"CAST(COUNT_IF(rk <= {TOP_K} AND e_neighbor_id IS NOT NULL)"
                f" * 1000 div ({N_QUERIES} * {TOP_K}) AS BIGINT)"
            ).alias("recall_milli"),
            F.sum(F.when(F.col("rk") == 1, F.col("n_cand")).otherwise(0))
            .cast("long")
            .alias("n_candidates"),
        )
    )


# ---------------------------------------------------------------------------
# Link prediction over the mutual-kNN graph — the "which near-dup /
# related-doc edges did the kNN cutoff miss" primitive. Classic
# neighborhood-overlap indices (Liben-Nowell & Kleinberg 2007; Zhou et
# al. 2009's resource-allocation index): for every NON-adjacent pair with
# >= 2 common neighbors, score by common-neighbor count, Jaccard of the
# neighborhoods, and the RA index sum(1/deg(v)) over shared neighbors v.
# In a curation pipeline these are the candidate edges a second, more
# expensive verifier (exact cosine, human review) should check next — the
# standard retrieval-free way to densify a sparse similarity graph.
# ---------------------------------------------------------------------------

_LINKPRED_TAIL = """
, bidir AS (
  SELECT vec_a AS src, vec_b AS dst FROM mutual
  UNION ALL SELECT vec_b, vec_a FROM mutual
), deg AS (
  SELECT src, COUNT(*) AS deg FROM bidir GROUP BY src
), paths AS (
  SELECT a.dst AS u, b.dst AS w, a.src AS cn_node
  FROM bidir a JOIN bidir b ON a.src = b.src AND a.dst < b.dst
), lp_scored AS (
  SELECT p.u, p.w,
         CAST(COUNT(*) AS BIGINT) AS cn,
         CAST(SUM(1000000 // d.deg) AS BIGINT) AS ra_micro
  FROM paths p JOIN deg d ON d.src = p.cn_node
  GROUP BY p.u, p.w
), nonedge AS (
  SELECT s.* FROM lp_scored s
  LEFT JOIN mutual m ON m.vec_a = s.u AND m.vec_b = s.w
  WHERE m.vec_a IS NULL AND s.cn >= 2
)
SELECT n.u AS vec_a, n.w AS vec_b, n.cn AS common_neighbors,
       CAST(n.cn * 1000 // (du.deg + dw.deg - n.cn) AS BIGINT)
         AS jaccard_milli,
       n.ra_micro
FROM nonedge n
JOIN deg du ON du.src = n.u
JOIN deg dw ON dw.src = n.w
"""


@register(
    "sim_link_prediction",
    tags=("llm", "similarity", "graph", "link-prediction"),
    oracle="WITH "
    + _KNN_GRAPH_CTES.format(scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck())
    + _LINKPRED_TAIL,
)
def sim_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neighborhood-overlap link prediction on the mutual-kNN graph:
    every non-adjacent pair sharing >= 2 neighbors, scored by
    common-neighbor count, neighborhood Jaccard (milli), and the
    resource-allocation index sum over shared neighbors of
    floor(1e6/deg) — three standard indices from one pass. All integer
    arithmetic (degrees and counts), so the scores hash-match DuckDB.

    Plan shape: the graph build is the shared persisted artifact (built
    once per corpus, consumed by five graph queries); candidate pairs
    come from ONE self-join of the directed edge list on the shared
    endpoint — sum(deg²) rows, bounded by n·K² for the degree-capped
    kNN graph (K fixed), NOT n² — then a pair-grain aggregate, an anti
    join against the existing edge set, and two broadcast-sized degree
    joins. Every shuffle key is an 8-byte node id or the 16-byte pair;
    at 100 TB the path join is the only corpus-scale exchange and its
    output is linear in n at fixed K."""
    edges = (
        _mutual_graph_persisted(spark, sf_dir)
        .select("vec_a", "vec_b")
        .localCheckpoint()
    )
    bidir = edges.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionAll(edges.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst")))
    deg = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    a = bidir.select(F.col("src").alias("cn_node"), F.col("dst").alias("u"))
    b = bidir.select(F.col("src").alias("cn_node2"), F.col("dst").alias("w"))
    paths = a.join(
        b, (F.col("cn_node") == F.col("cn_node2")) & (F.col("u") < F.col("w"))
    ).select("u", "w", "cn_node")
    scored = (
        paths.join(deg.withColumnRenamed("src", "cn_node"), "cn_node")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cn"),
            F.sum(F.expr("1000000 div deg")).cast("long").alias("ra_micro"),
        )
        .filter(F.col("cn") >= 2)
    )
    nonedge = scored.join(
        edges,
        (edges["vec_a"] == scored["u"]) & (edges["vec_b"] == scored["w"]),
        "left_anti",
    )
    du = deg.select(F.col("src").alias("u"), F.col("deg").alias("deg_u"))
    dw = deg.select(F.col("src").alias("w"), F.col("deg").alias("deg_w"))
    return (
        nonedge.join(du, "u")
        .join(dw, "w")
        .select(
            F.col("u").alias("vec_a"),
            F.col("w").alias("vec_b"),
            F.col("cn").alias("common_neighbors"),
            F.expr("CAST(cn * 1000 div (deg_u + deg_w - cn) AS BIGINT)").alias(
                "jaccard_milli"
            ),
            "ra_micro",
        )
    )


# ---------------------------------------------------------------------------
# One exact Lloyd (k-means) iteration — the ML-primitive building block
# under IVF/PQ codebook training, made hash-checkable: assign every vector
# to its nearest fixed centroid (the sim_ann_ivf scaled-int argmin), then
# recompute each centroid as the truncated integer mean of its members,
# per dimension. Trained-KMeans itself is rows-only by design (float
# accumulation order); ONE step with integer-scaled coordinates is exactly
# portable, so the differential gate covers the assignment geometry, the
# per-cell aggregation, and the centroid-update arithmetic that the
# trained path then iterates.
# ---------------------------------------------------------------------------

_LLOYD_DIM_IDX = "[" + ", ".join(str(i) for i in range(1, 65)) + "]"
# old centroid coordinates pre-scaled to exact micro ints in PYTHON and
# embedded as literals in both engines — no cross-engine float formatting
# in the comparison path.
_LLOYD_OLD_MICRO = [
    [int(math.floor(float(c) * 1e6)) for c in row] for row in _IVF_CENTS
]
_LLOYD_OLD_SPARK = (
    "array("
    + ", ".join("array(" + ", ".join(f"{v}L" for v in row) + ")" for row in _LLOYD_OLD_MICRO)
    + ")"
)
_LLOYD_OLD_DUCK = (
    "["
    + ", ".join("[" + ", ".join(str(v) for v in row) + "]" for row in _LLOYD_OLD_MICRO)
    + "]"
)

_LLOYD_ORACLE = f"""
WITH scored AS (
  SELECT vec_id, embedding, {{scores}} AS scores FROM embeddings
), assigned AS (
  SELECT vec_id, embedding,
         list_position(scores, list_min(scores)) - 1 AS cent
  FROM scored
), dims AS (
  SELECT cent,
         CAST(struct_extract(u.p, 2) - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(struct_extract(u.p, 1) AS DOUBLE) * 1e6) AS BIGINT)
           AS x_micro
  FROM assigned, UNNEST(list_zip(embedding, {_LLOYD_DIM_IDX})) AS u(p)
), agg AS (
  SELECT cent, dim, COUNT(*) AS n, SUM(x_micro) AS s
  FROM dims GROUP BY cent, dim
)
SELECT CAST(cent AS BIGINT) AS cent, dim,
       CAST(n AS BIGINT) AS n_members,
       CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) * (abs(s) // n) AS BIGINT)
         AS new_c_micro,
       CAST({_LLOYD_OLD_DUCK}[cent + 1][dim + 1] AS BIGINT) AS old_c_micro,
       CAST(abs((CASE WHEN s < 0 THEN -1 ELSE 1 END) * (abs(s) // n)
                - {_LLOYD_OLD_DUCK}[cent + 1][dim + 1]) AS BIGINT)
         AS shift_micro
FROM agg
"""


@register(
    "sim_kmeans_lloyd_step",
    tags=("llm", "similarity", "ml", "clustering", "kmeans"),
    oracle=_LLOYD_ORACLE.format(scores=_ivf_scores_duck()),
)
def sim_kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One exact Lloyd iteration over the embedding corpus against the
    fixed seeded IVF centroids: nearest-centroid assignment (scaled-int
    argmin, deterministic), then the new centroid per (cell, dimension)
    as the explicit-sign truncated integer mean of member coordinates in
    micro units, with the per-dimension shift |new - old| — the
    convergence signal a KMeans trainer watches. Old coordinates are
    Python-precomputed micro-int literals embedded identically in both
    engines. Empty cells emit no rows (a trainer re-seeds those).

    Plan shape: map-only assignment (the shared argmin score array — no
    shuffle), one posexplode to (cell, dim) grain, and ONE map-side-
    combinable aggregate onto C x 64 cells — the same shape Spark MLlib's
    KMeans uses per iteration (treeAggregate over partial per-cell sums).
    At 100 TB each executor emits at most C x 64 partial rows per
    partition regardless of corpus size; the shuffle is centroid-grain,
    not corpus-grain, and iterating = repeating this one bounded step."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    assigned = emb.select(
        "vec_id", "embedding", F.expr(_ivf_scores_spark()).alias("scores")
    ).select(
        "embedding",
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
    )
    dims = assigned.select(
        "cent", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "cent",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1e6)).cast("long").alias("x_micro"),
    )
    # micro-coordinate sums carried in DECIMAL(38,0): at ~1e12 members a
    # per-cell int64 sum brushes overflow, and Spark SUM(long) wraps where
    # DuckDB promotes to HUGEINT (the agg_winsorized_stats class). The
    # truncated-division output is unchanged wherever int64 sufficed.
    agg = dims.groupBy("cent", "dim").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.col("x_micro").cast("decimal(38,0)")).alias("s"),
    )
    return agg.select(
        F.col("cent").cast("long").alias("cent"),
        "dim",
        "n_members",
        F.expr(
            "CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)"
            " * (abs(s) div n_members) AS BIGINT)"
        ).alias("new_c_micro"),
        F.expr(
            f"CAST(element_at(element_at({_LLOYD_OLD_SPARK}, cent + 1),"
            f" CAST(dim AS INT) + 1) AS BIGINT)"
        ).alias("old_c_micro"),
    ).withColumn(
        "shift_micro", F.abs(F.col("new_c_micro") - F.col("old_c_micro")).cast("long")
    )


# ---------------------------------------------------------------------------
# Embedding-space drift monitor — the model-ops counterpart of
# corpus_drift_topk: when a new embedding snapshot lands (re-embedded
# corpus, new encoder version), per-class centroid movement is the first
# check before trusting downstream ANN indexes / dedup thresholds built
# on the old space. Snapshots here are the deterministic halves
# vec_id % 2 (old) vs % 2 == 1 (new) — at production the two sides are
# two snapshot directories with identical schema.
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = f"""
WITH dims AS (
  SELECT label, vec_id % 2 AS snap,
         CAST(struct_extract(u.p, 2) - 1 AS BIGINT) AS dim,
         CAST(FLOOR(CAST(struct_extract(u.p, 1) AS DOUBLE) * 1e6) AS BIGINT)
           AS x_micro
  FROM embeddings, UNNEST(list_zip(embedding, {_LLOYD_DIM_IDX})) AS u(p)
), cents AS (
  SELECT label, dim,
         COUNT(*) FILTER (snap = 0) AS n_old,
         COUNT(*) FILTER (snap = 1) AS n_new,
         (CASE WHEN SUM(x_micro) FILTER (snap = 0) < 0 THEN -1 ELSE 1 END)
           * (abs(SUM(x_micro) FILTER (snap = 0))
              // COUNT(*) FILTER (snap = 0)) AS c_old,
         (CASE WHEN SUM(x_micro) FILTER (snap = 1) < 0 THEN -1 ELSE 1 END)
           * (abs(SUM(x_micro) FILTER (snap = 1))
              // COUNT(*) FILTER (snap = 1)) AS c_new
  FROM dims GROUP BY label, dim
  HAVING COUNT(*) FILTER (snap = 0) > 0 AND COUNT(*) FILTER (snap = 1) > 0
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(MAX(n_old) AS BIGINT) AS n_old,
       CAST(MAX(n_new) AS BIGINT) AS n_new,
       CAST(SUM((c_new - c_old) * (c_new - c_old)) AS BIGINT)
         AS drift_sq_micro2,
       CAST(MAX(abs(c_new - c_old)) AS BIGINT) AS max_dim_shift_micro
FROM cents GROUP BY label
"""


@register(
    "embedding_centroid_drift",
    tags=("llm", "similarity", "embedding", "drift", "monitoring"),
    oracle=_DRIFT_ORACLE,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between two embedding snapshots (the
    vec_id parity halves): member counts per side, the squared L2
    distance between the truncated-integer-mean centroids (micro²
    units — no sqrt, exactly portable), and the largest single-dimension
    shift. A re-embedding run that moves any class centroid beyond its
    tolerance invalidates ANN indexes and cosine thresholds trained on
    the old space — this is the one-query check that gates the swap.

    Plan shape: one posexplode to (label, snap, dim) grain, ONE
    map-side-combinable aggregate onto |labels| x 64 cells (both sides'
    sums in the same pass via conditional aggregation — the two
    snapshots are never joined), then a label-grain rollup. The shuffle
    is label-grain regardless of corpus size — the sim_kmeans_lloyd_step
    budget exactly."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    dims = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("snap"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "snap",
        F.col("dim").cast("long").alias("dim"),
        F.floor(F.col("x").cast("double") * F.lit(1e6)).cast("long").alias("x_micro"),
    )

    def tmean(snap: int) -> str:
        # NULL (not error) when a side is empty: ANSI mode makes a bare
        # `div` THROW on the zero count — the n_old/n_new > 0 filter
        # below runs after this expression is evaluated, so the guard
        # must live inside it (a one-parity label would otherwise crash
        # the whole job; the oracle's FILTER aggregates are null-safe).
        # DECIMAL(38,0) sum — Spark SUM(long) wraps where DuckDB promotes
        s = f"SUM(CASE WHEN snap = {snap} THEN CAST(x_micro AS DECIMAL(38,0)) END)"
        n = f"COUNT(CASE WHEN snap = {snap} THEN 1 END)"
        return (
            f"CASE WHEN {n} = 0 THEN NULL ELSE"
            f" (CASE WHEN {s} < 0 THEN -1 ELSE 1 END) * (abs({s}) div {n}) END"
        )

    cents = (
        dims.groupBy("label", "dim")
        .agg(
            F.count_if(F.col("snap") == 0).alias("n_old"),
            F.count_if(F.col("snap") == 1).alias("n_new"),
            F.expr(tmean(0)).alias("c_old"),
            F.expr(tmean(1)).alias("c_new"),
        )
        .filter((F.col("n_old") > 0) & (F.col("n_new") > 0))
    )
    return cents.groupBy(F.col("label").cast("long").alias("label")).agg(
        F.max("n_old").cast("long").alias("n_old"),
        F.max("n_new").cast("long").alias("n_new"),
        F.sum((F.col("c_new") - F.col("c_old")) * (F.col("c_new") - F.col("c_old")))
        .cast("long")
        .alias("drift_sq_micro2"),
        F.max(F.abs(F.col("c_new") - F.col("c_old")))
        .cast("long")
        .alias("max_dim_shift_micro"),
    )


_TWO_HOP_ORACLE = f"""
WITH {_KNN_GRAPH_CTES}, bidir AS (
  SELECT vec_a AS src, vec_b AS dst FROM mutual
  UNION ALL SELECT vec_b, vec_a FROM mutual
), two AS (
  SELECT DISTINCT e1.src AS src, e2.dst AS dst
  FROM bidir e1 JOIN bidir e2 ON e2.src = e1.dst AND e2.dst <> e1.src
), strict AS (
  SELECT src, dst FROM two
  EXCEPT
  SELECT src, dst FROM bidir
), n1 AS (
  SELECT src, COUNT(*) AS n_1hop FROM bidir GROUP BY src
), n2 AS (
  SELECT src, COUNT(*) AS n_2hop FROM strict GROUP BY src
)
SELECT n1.src AS node, CAST(n1.n_1hop AS BIGINT) AS n_1hop,
       CAST(COALESCE(n2.n_2hop, 0) AS BIGINT) AS n_2hop,
       CAST(n1.n_1hop + COALESCE(n2.n_2hop, 0) AS BIGINT) AS reach_2
FROM n1 LEFT JOIN n2 ON n2.src = n1.src
"""


@register(
    "sim_graph_2hop_reach",
    tags=("llm", "similarity", "graph"),
    oracle=_TWO_HOP_ORACLE.format(
        scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
    ),
)
def sim_graph_2hop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-hop neighborhood size over the mutual-kNN graph: per node the
    degree (1-hop), the count of STRICT 2-hop neighbors (reachable in
    exactly two edges, excluding self and direct neighbors — the
    friends-of-friends candidate pool), and their sum. This is the
    expansion statistic ANN-graph builders watch (a healthy navigable
    graph grows reach ~K² per hop; clone-collapsed hubs show up as
    reach saturation) and the candidate-generation budget for
    graph-based retrieval.

    Plan: consumes the persisted mutual-kNN edge artifact (≤ n·K/2
    rows); the 2-hop expansion is ONE self-join of the K-capped
    bidirectional edge list (≤ n·K² candidate rows — the
    sim_link_prediction budget), a distinct, an anti-join against the
    direct edges, and degree-grain aggregates. Nothing touches the
    embeddings after the artifact exists."""
    edges = _mutual_graph_persisted(spark, sf_dir).select("vec_a", "vec_b")
    bidir = edges.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionAll(
        edges.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
    )
    e2 = bidir.select(
        F.col("src").alias("mid"), F.col("dst").alias("dst2")
    )
    two = (
        bidir.join(e2, (F.col("dst") == F.col("mid")) & (F.col("dst2") != F.col("src")))
        .select("src", F.col("dst2").alias("dst"))
        .distinct()
    )
    strict = two.join(bidir, ["src", "dst"], "left_anti")
    n1 = bidir.groupBy("src").agg(F.count(F.lit(1)).alias("n_1hop"))
    n2 = strict.groupBy("src").agg(F.count(F.lit(1)).alias("n_2hop"))
    return (
        n1.join(n2, "src", "left")
        .select(
            F.col("src").alias("node"),
            F.col("n_1hop").cast("long").alias("n_1hop"),
            F.coalesce("n_2hop", F.lit(0)).cast("long").alias("n_2hop"),
            (F.col("n_1hop") + F.coalesce("n_2hop", F.lit(0)))
            .cast("long")
            .alias("reach_2"),
        )
    )


# Greedy graph-ANN search: bounded best-first hops over the mutual-kNN
# graph from a deterministic entry point — the navigable-graph serving
# primitive (HNSW's layer-0 search without the sequential build). Hop
# count is a constant, so the oracle UNROLLS the walk (recursive CTEs
# forbid the per-step argmax window).
WALK_HOPS = 4


def _walk_cos_duck(q: str, s: str) -> str:
    dot = descale_sql(duck_dot_sql(f"{q}.embedding", f"{s}.embedding"))
    return f"{dot} / (SQRT({q}.sq_norm) * SQRT({s}.sq_norm))"


def _graph_walk_oracle() -> str:
    hops = []
    for h in range(1, WALK_HOPS + 1):
        prev = f"walk{h - 1}"
        hops.append(f"""
, cand{h} AS (
  SELECT w.query_id, c.dst AS cand FROM {prev} w JOIN bidir c ON c.src = w.cur
  UNION ALL
  SELECT query_id, cur AS cand FROM {prev}
), walk{h} AS (
  SELECT query_id, cand AS cur FROM (
    SELECT t.query_id, t.cand,
           ROW_NUMBER() OVER (
             PARTITION BY t.query_id
             ORDER BY {_walk_cos_duck("q", "s")} DESC, t.cand) AS rk
    FROM cand{h} t
    JOIN scored s ON s.vec_id = t.cand
    JOIN qv q ON q.query_id = t.query_id
    WHERE t.cand <> t.query_id
  ) WHERE rk = 1
)""")
    return f"""
WITH {_KNN_GRAPH_CTES}, bidir AS (
  SELECT vec_a AS src, vec_b AS dst FROM mutual
  UNION ALL SELECT vec_b, vec_a FROM mutual
), entry AS (
  SELECT MIN(src) AS node FROM bidir
), qv AS (
  SELECT vec_id AS query_id, embedding,
         {SQ_NORM_DUCK} AS sq_norm
  FROM embeddings WHERE vec_id < {N_QUERIES}
), walk0 AS (
  SELECT q.query_id, e.node AS cur FROM qv q, entry e
){''.join(hops)}
, truth AS (
  SELECT query_id, cand AS best_node FROM (
    SELECT q.query_id, s.vec_id AS cand,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_walk_cos_duck("q", "s")} DESC, s.vec_id) AS rk
    FROM qv q
    JOIN scored s ON s.vec_id IN (SELECT src FROM bidir)
    WHERE s.vec_id <> q.query_id
  ) WHERE rk = 1
)
SELECT w.query_id,
       (SELECT node FROM entry) AS entry_node,
       w.cur AS final_node,
       ROUND({_walk_cos_duck("q", "s")}, 6) AS final_cosine,
       t.best_node AS truth_node,
       CAST(w.cur = t.best_node AS INT) AS hit_top1
FROM walk{WALK_HOPS} w
JOIN qv q ON q.query_id = w.query_id
JOIN scored s ON s.vec_id = w.cur
JOIN truth t ON t.query_id = w.query_id
"""


@register(
    "sim_ann_graph_greedy",
    tags=("llm", "similarity", "graph", "ann"),
    oracle=_graph_walk_oracle().format(
        scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
    ),
)
def sim_ann_graph_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy best-first ANN search over the mutual-kNN graph — the
    serving primitive of navigable-graph indexes (HNSW's layer-0 walk,
    minus the sequential build Spark can't do): from a deterministic
    entry point (the minimum graph node id), take WALK_HOPS hops, each
    moving to the best of {current node} ∪ neighbors by exact cosine to
    the query (self excluded, ties to the smaller id). Staying put
    dominates once a local optimum is reached, so the unrolled walk is
    stable. The output scores navigability itself: final node + cosine
    per query AND hit_top1 against the true best reachable graph node —
    the number an index operator watches before trusting greedy search
    (pairs with sim_graph_2hop_reach's expansion statistic).

    Plan: WALK_HOPS static iterations, each a (queries × K+1)-row
    candidate join against the persisted edge artifact plus one
    window — per-hop work is N_QUERIES·(K+1) rows regardless of corpus
    size; the truth side scans graph nodes once per query (broadcast
    queries, never corpus × corpus). All ranking uses the repo's
    scaled-integer dot fold, so the walk path is bit-identical in
    DuckDB's unrolled-CTE twin.

    OPTIMIZATION r11: the first cut joined the frontier against the
    edge list AND the corpus AND the broadcast query frame EVERY hop
    (plus a per-hop eager checkpoint — measured ~1.35 s of pure stage
    latency per hop on a 20-row frontier at sf0.1). Restructured around
    the real navigable-index layout (guide §1.2 step 1): the adjacency
    artifact carries the destination VECTORS (``adj`` = edge list joined
    with embeddings once, checkpointed), and the walk frame carries each
    query's vector — so a hop is ONE broadcast(frontier) ⋈ adj join +
    one argmax aggregate, no corpus or query re-join, and the current
    node's cosine rides the frame instead of being re-scored. The
    left-join + explode keeps each hop single-reference (lineage linear,
    no per-hop checkpoint); self-candidates score -inf instead of being
    filtered, which is equivalent under argmax because every frontier
    node has ≥1 non-self finite-cosine neighbor (mutual graph, no self
    loops). Measured 5.5 s → 2.6–3.8 s min-of-3 at sf0.1 (quiet vs
    loaded box), oracle unchanged."""
    emb = _ckpt(with_sq_norm(spread_small(load_table(spark, sf_dir, "embeddings"))))
    edges = _mutual_graph_persisted(spark, sf_dir).select("vec_a", "vec_b")
    bidir = edges.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionAll(
        edges.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
    )
    entry = bidir.agg(F.min("src").alias("entry_node"))
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sq_norm").alias("q_sq"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand"),
        F.col("embedding").alias("c_emb"),
        F.col("sq_norm").alias("c_sq"),
    )
    cos = dot_exact(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt("q_sq") * F.sqrt("c_sq")
    )
    # Adjacency WITH destination vectors — the graph-index posting layout
    # (an HNSW shard stores neighbor vectors next to the links). Built
    # once per invocation, checkpointed for the WALK_HOPS consumers.
    adj = _ckpt(
        bidir.join(corpus, bidir["dst"] == corpus["cand"]).select(
            "src", "cand", "c_emb", "c_sq"
        )
    )
    neg_inf = F.lit(float("-inf"))

    def argmax(scored: DataFrame) -> DataFrame:
        # per-query argmax as a struct-max aggregate: map-side combinable,
        # deterministic (ties break to the SMALLER cand via the negated
        # id), and no window shuffle of a 100-row frontier per hop
        return (
            scored.groupBy("query_id")
            .agg(
                F.max(
                    F.struct(F.col("_cos"), (-F.col("cand")).alias("_nc"))
                ).alias("_m")
            )
            .select("query_id", (-F.col("_m._nc")).alias("cand"))
        )

    # frontier: (query_id, q_emb, q_sq, cur, cur_cos); the entry node's
    # cosine is scored once up front (self → -inf, same as excluded)
    e_emb = corpus.join(
        F.broadcast(entry), F.col("cand") == F.col("entry_node")
    ).select("entry_node", "c_emb", "c_sq")
    walk = (
        qv.crossJoin(F.broadcast(e_emb))
        .select(
            "query_id",
            "q_emb",
            "q_sq",
            F.col("entry_node").alias("cur"),
            F.when(F.col("entry_node") == F.col("query_id"), neg_inf)
            .otherwise(cos)
            .alias("cur_cos"),
        )
    )
    for _ in range(WALK_HOPS):
        # Single-reference hop: one join + explode emits the neighbors
        # and the current node from the same row (the current node
        # arrives once per out-edge; duplicate candidates cannot change
        # an argmax). Inner join is lossless — every frontier node is a
        # graph node (bidir is symmetric, so out-degree ≥ 1 everywhere).
        # Self-candidates ride at -inf (never win; the frontier always
        # has a finite-cosine non-self candidate).
        nb_cos = F.when(F.col("cand") == F.col("query_id"), neg_inf).otherwise(cos)
        walk = (
            F.broadcast(walk)
            .join(adj, walk["cur"] == adj["src"])
            .select(
                "query_id",
                "q_emb",
                "q_sq",
                F.explode(
                    F.array(
                        F.struct(
                            F.col("cur").alias("cand"), F.col("cur_cos").alias("_cos")
                        ),
                        F.struct(F.col("cand").alias("cand"), nb_cos.alias("_cos")),
                    )
                ).alias("c"),
            )
            .filter(F.col("c.cand").isNotNull())
            .groupBy("query_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("c._cos").alias("_cos"),
                        (-F.col("c.cand")).alias("_nc"),
                        F.col("q_emb").alias("q_emb"),
                        F.col("q_sq").alias("q_sq"),
                    )
                ).alias("_m")
            )
            .select(
                "query_id",
                F.col("_m.q_emb").alias("q_emb"),
                F.col("_m.q_sq").alias("q_sq"),
                (-F.col("_m._nc")).alias("cur"),
                F.col("_m._cos").alias("cur_cos"),
            )
        )
    # truth side: scan the node-filtered corpus ONCE against the
    # broadcast queries (never a materialized queries × nodes product)
    nodes = bidir.select(F.col("src").alias("cand")).distinct()
    truth_scored = (
        corpus.join(nodes, "cand")
        .crossJoin(F.broadcast(qv))
        .filter(F.col("cand") != F.col("query_id"))
        .withColumn("_cos", cos)
    )
    truth = argmax(truth_scored).select(
        "query_id", F.col("cand").alias("truth_node")
    )
    # the carried cosine IS cos(q, cur) — computed with the identical
    # expression at the hop that selected cur, so no re-scoring join
    final = walk.select(
        "query_id",
        F.col("cur").alias("final_node"),
        F.round(F.col("cur_cos"), 6).alias("final_cosine"),
    )
    return (
        final.crossJoin(F.broadcast(entry))
        .join(truth, "query_id")
        .select(
            "query_id",
            "entry_node",
            "final_node",
            "final_cosine",
            "truth_node",
            (F.col("final_node") == F.col("truth_node")).cast("int").alias(
                "hit_top1"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Multi-vector late interaction (ColBERT's MaxSim, Khattab & Zaharia 2020):
# a document is a BAG of vectors and relevance is sum over query vectors of
# the max similarity against any document vector. The fixtures carry one
# 64-dim embedding per doc, so the multi-vector representation slices it
# into MAXSIM_SUBV contiguous 16-dim sub-vectors ("token vectors") — the
# slicing is the fixture adaptation; the scoring topology (per-sub-vector
# cosines -> per-query-vector max -> fixed-order sum -> top-k) is the real
# late-interaction serving shape.
# ---------------------------------------------------------------------------

MAXSIM_SUBV = 4  # sub-vectors per embedding (64 dims -> 4 x 16)
MAXSIM_DIM = 16


def _maxsim_np_score(q: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
    """MaxSim score per row pair, (n, 64) × (n, 64) → (n,) float64:
    Σ_qi max_cj dot(q_qi, c_cj) / (|q_qi|·|c_cj|). Every step mirrors the
    JVM/DuckDB expression bit for bit: dot_exact via exact.np_dot, IEEE
    sqrt for the norms, division in the same (dot / (qn * cn)) shape,
    GREATEST = plain max (associative and exact for the finite scores
    these norms produce; no zero-norm sub-vector exists — embeddings are
    dense random doubles, and the oracle hash gate would catch a NaN
    divergence), and the qi-sum accumulated LEFT-ASSOCIATED in index
    order, never np.sum (pairwise summation would re-associate floats)."""
    c_norms = [
        np.sqrt(
            np_dot(
                c[:, cj * MAXSIM_DIM : (cj + 1) * MAXSIM_DIM],
                c[:, cj * MAXSIM_DIM : (cj + 1) * MAXSIM_DIM],
            )
        )
        for cj in range(MAXSIM_SUBV)
    ]
    score = None
    for qi in range(MAXSIM_SUBV):
        qs = q[:, qi * MAXSIM_DIM : (qi + 1) * MAXSIM_DIM]
        qn = np.sqrt(np_dot(qs, qs))
        best = None
        for cj in range(MAXSIM_SUBV):
            cs = c[:, cj * MAXSIM_DIM : (cj + 1) * MAXSIM_DIM]
            cos = np_dot(qs, cs) / (qn * c_norms[cj])
            best = cos if best is None else np.maximum(best, cos)
        score = best if score is None else score + best
    return score


def _maxsim_series(q_emb: pd.Series, c_emb: pd.Series) -> pd.Series:
    """Arrow-batched MaxSim scorer body (OPTIMIZATION r12, guide §4):
    replaces the 16-sub-vector-dot interpreted HOF tree evaluated per
    candidate pair. The JVM fold allocated a zipped array per element
    pair (pair-quadratic allocation — the reason the MaxSim queries
    degraded far more than linearly under full-sweep GC ambient); here
    whole Arrow batches hit four numpy slices and the exact int64
    algebra above. Wrapped with F.pandas_udf at the call site, not at
    module level — creating a UDF needs an active session, and executor
    Python workers import this module without one."""
    q = np.asarray(q_emb.tolist(), dtype=np.float64)
    c = np.asarray(c_emb.tolist(), dtype=np.float64)
    return pd.Series(_maxsim_np_score(q, c))


def _maxsim_kernel_udf():
    return F.pandas_udf(_maxsim_series, "double")


def _maxsim_duck_parts() -> tuple[list[str], str]:
    """DuckDB MaxSim pieces shared by both MaxSim oracles: the sub-vector
    (s{i}) and norm (n{i}) select items of one embedding, and the score
    of pair (q, c) over those columns."""
    subs = []
    for s in range(MAXSIM_SUBV):
        lo, hi = s * MAXSIM_DIM + 1, (s + 1) * MAXSIM_DIM
        sv = f"embedding[{lo}:{hi}]"
        subs.append(f"{sv} AS s{s}, SQRT({descale_sql(duck_sq_sql(sv))}) AS n{s}")
    maxes = []
    for qi in range(MAXSIM_SUBV):
        cos = [
            f"({descale_sql(duck_dot_sql(f'q.s{qi}', f'c.s{cj}'))}"
            f" / (q.n{qi} * c.n{cj}))"
            for cj in range(MAXSIM_SUBV)
        ]
        maxes.append("GREATEST(" + ", ".join(cos) + ")")
    return subs, " + ".join(maxes)  # left-assoc, same order as the Spark expr


def _maxsim_duck() -> str:
    subs, score = _maxsim_duck_parts()
    return f"""
WITH subv AS (
  SELECT vec_id, label, {", ".join(subs)} FROM embeddings
), scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS doc_id, c.label AS doc_label,
         {score} AS maxsim
  FROM subv q JOIN subv c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < {N_QUERIES}
)
SELECT query_id, doc_id, doc_label, ROUND(maxsim, 6) AS maxsim, rk
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY maxsim DESC, doc_id) AS rk
  FROM scored
) WHERE rk <= {TOP_K}
"""


@register(
    "sim_maxsim_late_interaction",
    tags=("llm", "similarity", "retrieval", "multivector", "topk"),
    oracle=_maxsim_duck(),
)
def sim_maxsim_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction (MaxSim) top-k: score(q, d) = Σ_i max_j
    cos(q_i, d_j) over the sub-vector bags, per-query top-TOP_K. Exact
    scaled-integer sub-vector dots (the dot_exact convention), float
    division/sqrt on bit-identical inputs, GREATEST for the per-query-
    vector max and a FIXED left-associated sum so both engines add the
    four maxes in the same order — the whole late-interaction pipeline
    hash-checks end to end.

    This is the brute-force serving BASELINE (like sim_cosine_topk for
    single vectors): queries broadcast, corpus side scanned once,
    MAXSIM_SUBV² = 16 sub-vector dots per candidate pair inside one
    codegen stage, top-k per query by window. The scale path reuses the
    ANN machinery unchanged — an IVF/LSH shortlist on the POOLED vector
    feeds this exact scorer as the rerank stage (candidates ≪ corpus),
    which is precisely how production ColBERT serves (PLAID's
    centroid-prune + exact MaxSim rerank)."""
    # OPTIMIZATION r12 (guide §4): scored via the Arrow-batched
    # _maxsim_series kernel on the raw embeddings (bit-identical algebra,
    # see _maxsim_np_score) instead of the 16-dot interpreted HOF tree —
    # same change as sim_maxsim_plaid_rerank, same exactness argument.
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    c = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.col("label").alias("doc_label"),
        F.col("embedding").alias("c_emb"),
    )
    pairs = c.join(F.broadcast(q), F.col("doc_id") != F.col("query_id"))
    score = _maxsim_kernel_udf()(F.col("q_emb"), F.col("c_emb"))
    scored = pairs.select(
        "query_id", "doc_id", "doc_label", score.alias("maxsim_raw")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("maxsim_raw").desc(), "doc_id"
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            "doc_id",
            "doc_label",
            F.round("maxsim_raw", 6).alias("maxsim"),
            "rk",
        )
    )


def _maxsim_plaid_duck() -> str:
    subs, score = _maxsim_duck_parts()
    return f"""
WITH scored AS (
  SELECT vec_id, label, embedding,
         {_ivf_scores_duck()} AS scores,
         list_transform(generate_series(1, {IVF_CENTROIDS}),
                        i -> {{'s': scores[i], 'cid': i - 1}}) AS score_structs
  FROM embeddings
), subv AS (
  SELECT vec_id, {", ".join(subs)} FROM embeddings
), assigned AS (
  SELECT s.vec_id, v.s0, v.s1, v.s2, v.s3, v.n0, v.n1, v.n2, v.n3,
         list_position(s.scores, list_min(s.scores)) - 1 AS cent
  FROM scored s JOIN subv v ON v.vec_id = s.vec_id
), probes AS (
  SELECT vec_id AS query_id, cid AS cent
  FROM (
    SELECT vec_id, u.cid AS cid, u.s AS s,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY u.s, u.cid) AS prn
    FROM scored, UNNEST(score_structs) AS t(u)
    WHERE vec_id < {N_QUERIES}
  ) WHERE prn <= {IVF_NPROBE}
), served AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT p.query_id, c.vec_id AS doc_id,
           ROW_NUMBER() OVER (PARTITION BY p.query_id
                              ORDER BY {score.replace("q.s", "q2.s").replace("q.n", "q2.n")} DESC, c.vec_id) AS rk
    FROM probes p
    JOIN subv q2 ON q2.vec_id = p.query_id
    JOIN assigned c ON c.cent = p.cent AND c.vec_id <> p.query_id
  ) WHERE rk <= {TOP_K}
), truth AS (
  SELECT query_id, doc_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id
                              ORDER BY {score} DESC, c.vec_id) AS rk
    FROM subv q JOIN subv c ON c.vec_id <> q.vec_id
    WHERE q.vec_id < {N_QUERIES}
  ) WHERE rk <= {TOP_K}
)
SELECT t.query_id,
       CAST(COUNT(s.doc_id) AS BIGINT) AS hits,
       CAST(COUNT(s.doc_id) * 1000 // {TOP_K} AS BIGINT) AS recall_milli
FROM truth t
LEFT JOIN served s ON s.query_id = t.query_id AND s.doc_id = t.doc_id
GROUP BY t.query_id
"""


@register(
    "sim_maxsim_plaid_rerank",
    tags=("llm", "similarity", "retrieval", "multivector", "ivf", "eval"),
    oracle=_maxsim_plaid_duck(),
)
def sim_maxsim_plaid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PLAID-style multi-vector serving (Santhanam et al. 2022): the IVF
    index on the POOLED 64-dim vector produces each query's candidate
    shortlist (NPROBE probed cells — the centroid-prune), and the exact
    MaxSim scorer reranks only those candidates; output is the per-query
    recall@k of the served top-k against the brute-force MaxSim truth —
    the acceptance measurement an index owner runs before swapping the
    brute-force scorer out. Every stage is deterministic (scaled-int
    centroid scores, scaled-int sub-vector dots, fixed-order max/sum), so
    the evaluation of the approximation hash-checks end to end.

    Scale shape: corpus-side work is the map-only centroid argmin plus
    the cell-keyed candidate join (~NPROBE/C of the corpus per query) —
    the MAXSIM_SUBV² = 16 dots run only on candidates, never on the full
    corpus; the truth side is the registered brute-force twin, which a
    100 TB deployment replaces with a sampled-stratum audit (the
    dedup_lsh_recall_audit_stratum pattern)."""
    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    # OPTIMIZATION r12 (guide §4): the r11 cut pre-sliced 4 sub-vectors +
    # 4 norm folds in the JVM and scored candidates with a 16-dot
    # interpreted HOF tree per pair (allocation per element pair — the
    # pair-quadratic cost that degraded 4× under full-sweep GC ambient).
    # Both score sites now call the Arrow-batched _maxsim_kernel on the
    # RAW embeddings (slices + norms recomputed inside the kernel with
    # the identical IEEE ops, see _maxsim_np_score), so `sub` shrinks to
    # (vec_id, scores, embedding) and the pair rows ship 2×64 doubles
    # instead of 8 slices + 8 norms. Guide §2.4: sub still feeds corpus,
    # queries and probes — checkpointed once per invocation.
    sub = _ckpt(
        emb.select(
            "vec_id", F.expr(_ivf_scores_spark()).alias("scores"), "embedding"
        )
    )

    _maxsim_kernel = _maxsim_kernel_udf()

    def maxsim(qp: str, cp: str):
        return _maxsim_kernel(F.col(f"{qp}_emb"), F.col(f"{cp}_emb"))

    corpus = sub.select(
        F.col("vec_id").alias("doc_id"),
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
        F.col("embedding").alias("c_emb"),
    )
    queries = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
    )
    prn_w = Window.partitionBy("query_id").orderBy("s", "p_cent")
    probes = (
        sub.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.posexplode("scores").alias("p_cent", "s"),
        )
        .withColumn("prn", F.row_number().over(prn_w))
        .filter(F.col("prn") <= IVF_NPROBE)
        .select("query_id", "p_cent")
    )
    shortlist = corpus.join(
        F.broadcast(probes.join(queries, "query_id")),
        (F.col("cent") == F.col("p_cent")) & (F.col("doc_id") != F.col("query_id")),
    )
    sw = Window.partitionBy("query_id").orderBy(
        F.col("served_score").desc(), "doc_id"
    )
    served = (
        shortlist.withColumn("served_score", maxsim("q", "c"))
        .withColumn("rk", F.row_number().over(sw))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "doc_id")
    )
    truth_pairs = corpus.drop("cent").join(
        F.broadcast(queries), F.col("doc_id") != F.col("query_id")
    )
    tw = Window.partitionBy("query_id").orderBy(
        F.col("truth_score").desc(), "doc_id"
    )
    truth = (
        truth_pairs.withColumn("truth_score", maxsim("q", "c"))
        .withColumn("rk", F.row_number().over(tw))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", F.col("doc_id").alias("t_doc"))
    )
    served_r = served.select(
        F.col("query_id").alias("s_query"), F.col("doc_id").alias("s_doc")
    )
    return (
        truth.join(
            served_r,
            (F.col("query_id") == F.col("s_query"))
            & (F.col("t_doc") == F.col("s_doc")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("s_doc").alias("hits"),
            F.expr(f"CAST(count(s_doc) * 1000 div {TOP_K} AS BIGINT)").alias(
                "recall_milli"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Bounded k-core peeling (r10): the density-layer decomposition graph
# curators run on the kNN graph — nodes below degree K peel off, degrees
# recompute, repeat. Full k-core iterates to a fixpoint; this audit runs
# KCORE_ROUNDS fixed rounds (each round is one degree aggregate + two
# semi-joins) and reports the shrinking (nodes, edges) trajectory, which
# is the convergence evidence an operator actually reads. Fixed round
# count keeps the op oracle-expressible as unrolled CTEs (DuckDB's
# recursive CTEs cannot carry the per-round degree aggregate).
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    parts = []
    prev = "bidir"
    for r in range(1, KCORE_ROUNDS + 1):
        parts.append(f"""
, deg{r} AS (
  SELECT src, COUNT(*) AS d FROM {prev} GROUP BY src
), surv{r} AS (
  SELECT src FROM deg{r} WHERE d >= {KCORE_K}
), e{r} AS (
  SELECT b.src, b.dst FROM {prev} b
  JOIN surv{r} s1 ON s1.src = b.src
  JOIN surv{r} s2 ON s2.src = b.dst
)""")
        prev = f"e{r}"
    selects = "\nUNION ALL\n".join(
        f"SELECT {r} AS round, (SELECT COUNT(*) FROM surv{r}) AS n_nodes,"
        f" (SELECT COUNT(*) // 2 FROM e{r}) AS n_edges"
        for r in range(1, KCORE_ROUNDS + 1)
    )
    return (
        f"WITH {{ctes}}, bidir AS (\n"
        "  SELECT vec_a AS src, vec_b AS dst FROM mutual\n"
        "  UNION ALL SELECT vec_b, vec_a FROM mutual\n"
        ")" + "".join(parts) + "\n"
        f"SELECT CAST(round AS INT) AS round, CAST(n_nodes AS BIGINT) AS n_nodes,"
        f" CAST(n_edges AS BIGINT) AS n_edges FROM (\n{selects}\n)"
    )


@register(
    "sim_graph_kcore_peel",
    tags=("llm", "similarity", "graph"),
    # one replace + ONE format pass: the CTE template's {{'src'...}}
    # struct doubles must collapse exactly once (the _TWO_HOP_ORACLE
    # convention)
    oracle=_kcore_oracle()
    .replace("{ctes}", _KNN_GRAPH_CTES)
    .format(scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()),
)
def sim_graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-round {KCORE_K}-core peeling trajectory over the mutual-kNN
    graph: each round drops nodes of degree < {KCORE_K} and the edges
    touching them, then reports the surviving (nodes, edges) — the
    density-layer curve that tells a graph-index owner whether the
    navigable core is collapsing (fast shrink = sparse fringe dominates)
    or stable (plateau = a genuine dense core). Fixed {KCORE_ROUNDS}
    rounds, hash-checked against the unrolled DuckDB twin.

    Plan: consumes the persisted edge artifact; each round is one
    src-grain degree aggregate + two semi-join filters on the shrinking
    edge list, localCheckpoint-truncated so lineage stays one round deep
    (the star-contract convention). Work is monotonically decreasing per
    round; nothing touches the embeddings after the artifact exists."""
    edges = _mutual_graph_persisted(spark, sf_dir).select("vec_a", "vec_b")
    bidir = edges.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionAll(
        edges.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
    )
    out = None
    cur = bidir
    for r in range(1, KCORE_ROUNDS + 1):
        deg = cur.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        # OPTIMIZATION r11 (guide §2.4): surv feeds BOTH semi-join sides
        # and the round's n_nodes count — checkpoint the node-grain frame
        # so the degree aggregate runs once per round, not three times
        surv = _ckpt(deg.filter(F.col("d") >= KCORE_K).select("src"))
        s1 = surv.select(F.col("src").alias("_s1"))
        s2 = surv.select(F.col("src").alias("_s2"))
        nxt = (
            cur.join(s1, F.col("src") == F.col("_s1"))
            .join(s2, F.col("dst") == F.col("_s2"))
            .select("src", "dst")
            .localCheckpoint()
        )
        stats = (
            surv.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
            .crossJoin(
                nxt.agg(
                    (F.count(F.lit(1)) / 2).cast("long").alias("n_edges")
                )
            )
            .select(F.lit(r).cast("int").alias("round"), "n_nodes", "n_edges")
        )
        out = stats if out is None else out.unionByName(stats)
        cur = nxt
    return out


# ---------------------------------------------------------------------------
# Incremental IVF reassignment (r11) — the MAINTENANCE step between
# codebook refreshes: after one exact Lloyd update of the centroids, only
# vectors whose nearest centroid CHANGED need to move postings. The whole
# op runs in micro-int geometry (coordinates floored to 1e-6 units,
# squared-L2 in exact integers), so assignment, update, and re-assignment
# all hash-check — it is the micro-geometry twin of sim_kmeans_lloyd_step
# with the migration matrix as the product.
# ---------------------------------------------------------------------------

_REASSIGN_DIST_SPARK = (
    "aggregate(zip_with(xm, cm, (a, b) -> (a - b) * (a - b)),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)
_REASSIGN_DIST_DUCK = (
    "list_sum(list_transform(list_zip(xm, cm),"
    " p -> (struct_extract(p, 1) - struct_extract(p, 2))"
    " * (struct_extract(p, 1) - struct_extract(p, 2))))"
)
_REASSIGN_OLD_DUCK_VALUES = ",\n    ".join(
    f"({i}, [" + ", ".join(str(v) for v in row) + "])"
    for i, row in enumerate(_LLOYD_OLD_MICRO)
)


@register(
    "sim_ivf_reassign_incremental",
    tags=("llm", "similarity", "ann", "ivf", "maintenance"),
    oracle=f"""
WITH xm AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS xm
  FROM embeddings
), oldc AS (
  SELECT * FROM (VALUES
    {_REASSIGN_OLD_DUCK_VALUES}
  ) t(cent, cm)
), oa AS (
  SELECT vec_id, cent AS old_cell FROM (
    SELECT x.vec_id, o.cent,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {_REASSIGN_DIST_DUCK}, o.cent) AS rk
    FROM xm x CROSS JOIN oldc o
  ) WHERE rk = 1
), dims AS (
  SELECT oa.old_cell AS cent,
         CAST(struct_extract(u.p, 2) - 1 AS BIGINT) AS dim,
         CAST(struct_extract(u.p, 1) AS HUGEINT) AS x_micro
  FROM oa JOIN xm USING (vec_id),
       UNNEST(list_zip(xm.xm, {_LLOYD_DIM_IDX})) AS u(p)
), agg AS (
  SELECT cent, dim, COUNT(*) AS n, SUM(x_micro) AS s
  FROM dims GROUP BY cent, dim
), newc AS (
  SELECT cent,
         list(CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END) * (abs(s) // n)
                   AS BIGINT) ORDER BY dim) AS cm
  FROM agg GROUP BY cent
), na AS (
  SELECT vec_id, cent AS new_cell FROM (
    SELECT x.vec_id, c.cent,
           ROW_NUMBER() OVER (PARTITION BY x.vec_id
                              ORDER BY {_REASSIGN_DIST_DUCK}, c.cent) AS rk
    FROM xm x CROSS JOIN newc c
  ) WHERE rk = 1
)
SELECT CAST(oa.old_cell AS BIGINT) AS old_cell,
       CAST(na.new_cell AS BIGINT) AS new_cell,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(oa.old_cell <> na.new_cell AS INT) AS moved
FROM oa JOIN na USING (vec_id)
GROUP BY oa.old_cell, na.new_cell
""",
)
def sim_ivf_reassign_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance: assign every vector to its
    nearest OLD centroid (micro-int squared-L2 argmin against the seeded
    codebook), refresh the codebook with one exact integer Lloyd update
    (truncated per-dimension mean of each cell's members), re-assign
    against the NEW centroids, and emit the MIGRATION MATRIX
    (old_cell, new_cell, n_vectors, moved). The moved rows are exactly
    the postings an index maintainer rewrites after a codebook refresh —
    the diagonal is the mass that stays put, which is the whole economic
    argument for incremental (vs full-rebuild) maintenance.

    Scale: two broadcast-join assignments (C centroids broadcast; the
    expansion is map-side xC then a per-vector argmin — the standard IVF
    assign shape) and one (cell, dim)-grain aggregate for the update
    (centroid-grain shuffle, never corpus-grain; sums carried 128-bit
    like the Lloyd twin). The migration matrix is <= C^2 rows. On a real
    deployment the SAME plan runs with only the DELTA of vectors since
    the last refresh — the assignment joins are embarrassingly map-side,
    so incrementality is a filter, not a new topology."""
    from pyspark.sql import Window as W

    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    xm = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
        ).alias("xm"),
    )
    old_cents = spark.createDataFrame(
        [(i, list(row)) for i, row in enumerate(_LLOYD_OLD_MICRO)],
        "cent bigint, cm array<bigint>",
    )
    wv = W.partitionBy("vec_id").orderBy("dist", "cent")
    # the old assignment feeds BOTH the Lloyd update and the final
    # migration join — checkpoint it so the broadcast-argmin subtree
    # runs once (it is vector-grain: one row per corpus vector)
    oa = (
        xm.crossJoin(F.broadcast(old_cents))
        .withColumn("dist", F.expr(_REASSIGN_DIST_SPARK))
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cent").alias("old_cell"))
        .localCheckpoint()
    )
    dims = (
        oa.join(xm, "vec_id")
        .select(
            F.col("old_cell").alias("cent"),
            F.posexplode("xm").alias("dim", "x_micro"),
        )
        .select("cent", F.col("dim").cast("long").alias("dim"), "x_micro")
    )
    agg = dims.groupBy("cent", "dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("x_micro").cast("decimal(38,0)")).alias("s"),
    )
    new_cents = (
        agg.select(
            "cent",
            "dim",
            F.expr(
                "CAST((CASE WHEN s < 0 THEN -1 ELSE 1 END)"
                " * (abs(s) div n) AS BIGINT)"
            ).alias("c_micro"),
        )
        .groupBy("cent")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim, c_micro))),"
                " s -> s.c_micro)"
            ).alias("cm")
        )
    )
    na = (
        xm.crossJoin(F.broadcast(new_cents))
        .withColumn("dist", F.expr(_REASSIGN_DIST_SPARK))
        .withColumn("rk", F.row_number().over(wv))
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cent").alias("new_cell"))
    )
    return (
        oa.join(na, "vec_id")
        .groupBy(
            F.col("old_cell").cast("long").alias("old_cell"),
            F.col("new_cell").cast("long").alias("new_cell"),
        )
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .withColumn(
            "moved", (F.col("old_cell") != F.col("new_cell")).cast("int")
        )
    )


_MMR_XM_DUCK_REF = (
    "list_transform(embedding,"
    " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
)
_REASSIGN_DIST_DUCK_REF = (
    "list_sum(list_transform(list_zip(x.xm, o.cm),"
    " p -> (struct_extract(p, 1) - struct_extract(p, 2))"
    " * (struct_extract(p, 1) - struct_extract(p, 2))))"
)


OUTLIER_KNN_K = 3  # distance to the 3rd within-cell neighbor
OUTLIER_BAND_UNIT = 10**12  # micro^2 units per band (= 1.0 in squared L2)


@register(
    "embedding_outlier_knn",
    tags=("llm", "similarity", "quality", "outlier"),
    oracle=f"""
WITH xm0 AS (
  SELECT vec_id, {_MMR_XM_DUCK_REF} AS xm FROM embeddings
), reps AS (
  -- exact-duplicate collapse (the kNN-graph clone rule): byte-identical
  -- embeddings share one representative; multiplicity preserves the
  -- EXACT k-th-neighbor semantics (clones are neighbors at distance 0)
  SELECT MIN(vec_id) AS rep, ANY_VALUE(xm) AS xm, COUNT(*) AS mult
  FROM xm0 GROUP BY xm
), oldc AS (
  SELECT * FROM (VALUES
    {_REASSIGN_OLD_DUCK_VALUES}
  ) t(cent, cm)
), assigned AS (
  SELECT rep, xm, mult, cent AS cell FROM (
    SELECT x.rep, x.xm, x.mult, o.cent,
           ROW_NUMBER() OVER (PARTITION BY x.rep
                              ORDER BY {_REASSIGN_DIST_DUCK_REF}, o.cent) AS rk
    FROM reps x CROSS JOIN oldc o
  ) WHERE rk = 1
), cell_sizes AS (
  SELECT cell, SUM(mult) AS n_in_cell FROM assigned GROUP BY cell
), nbrs AS (
  -- weighted neighbor multiset: own clones at distance 0, every other
  -- representative in the cell at its pair distance with its multiplicity
  SELECT rep, cell, CAST(0 AS BIGINT) AS d, mult - 1 AS w, rep AS nb
  FROM assigned WHERE mult > 1
  UNION ALL
  SELECT a.rep, a.cell,
         list_sum(list_transform(list_zip(a.xm, b.xm),
           p -> (struct_extract(p, 1) - struct_extract(p, 2))
              * (struct_extract(p, 1) - struct_extract(p, 2)))) AS d,
         b.mult AS w, b.rep AS nb
  FROM assigned a JOIN assigned b
    ON b.cell = a.cell AND b.rep <> a.rep
), cums AS (
  SELECT rep, d,
         SUM(w) OVER (PARTITION BY rep ORDER BY d, nb
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum
  FROM nbrs
), kth AS (
  SELECT rep,
         COALESCE(MIN(CASE WHEN cum >= {OUTLIER_KNN_K} THEN d END), MAX(d))
           AS kth_dist
  FROM cums GROUP BY rep
)
SELECT x.vec_id,
       CAST(a.cell AS BIGINT) AS cell,
       CAST(s.n_in_cell AS BIGINT) AS n_in_cell,
       CAST(k.kth_dist AS BIGINT) AS kth_dist,
       CAST(k.kth_dist // {OUTLIER_BAND_UNIT} AS BIGINT) AS dist_band,
       CAST(s.n_in_cell = 1 AS INT) AS isolated
FROM xm0 x
JOIN reps r ON r.xm = x.xm
JOIN assigned a ON a.rep = r.rep
JOIN cell_sizes s ON s.cell = a.cell
LEFT JOIN kth k ON k.rep = a.rep
""",
)
def embedding_outlier_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN-distance outlier scoring for embedding quality pruning (the
    SemDeDup-adjacent audit in the OTHER direction: instead of pruning
    near-duplicates, surface vectors with NO near neighbors — corrupt
    encodes, mislabeled modalities, garbage rows): each vector's distance
    to its {OUTLIER_KNN_K}rd within-cell neighbor in exact micro-int
    squared L2, banded into unit-width distance bands, with cell
    occupancy and an isolated flag for singleton cells (NULL distance —
    a cell with one member has no neighbor evidence at all).

    Duplicate collapse (the r6 clone-family rule, MEASURED here: the
    first cut paid 20.4x on the 10x all-clones replica — within-cell
    pairs grow quadratically when clones pile into fixed cells):
    byte-identical embeddings collapse to one representative BEFORE any
    pair work, and the k-th distance is taken over the WEIGHTED neighbor
    multiset (own clones sit at distance 0 with weight mult-1, other
    representatives carry their multiplicities) — exactly the
    full-corpus answer, duplicate-heavy or not, at distinct-vector pair
    cost. Re-measured after the fix: 1.05x on the same replica (5.4 s
    -> 5.7 s — distinct-vector work is replica-invariant), for ~1.5 s of
    collapse groupBy at 1x: the right trade everywhere duplicates can
    exist, which is every real corpus.

    Scale: the candidate set is within-IVF-cell over DISTINCT vectors
    (with centroids scaled to occupancy — the documented IVF rule — cell
    sizes stay bounded and the build is linear in n); assignment is a
    broadcast argmin; the k-th distance is one within-cell window over
    the weighted multiset. At 100 TB the same plan runs with the trained
    centroid set; the band histogram (not per-vector rows) is the
    monitored artifact. Skew honesty (ADVICE r11): the per-cell kernel
    concentrates one cell's O(m²) distances in one task — memory is
    bounded (the row-chunked loop caps the live diff tensor at ~4M
    int64s regardless of m) but compute is not, so the scale claim
    RESTS on the trained-centroid occupancy bound (k ∝ N keeps E[m]
    constant; production re-trains when a cell's occupancy drifts past
    the monitor threshold, the same guard every IVF index here
    documents). A data-dependent fallback join for hot cells was
    considered and rejected: it forks the plan on a runtime count and
    the clone-collapse step already removed the one unbounded-skew
    source (duplicate vectors piling into one cell).

    OPTIMIZATION r11 (guide §4 eliminate interpreted folds): the first
    cut spent its time in interpreted higher-order-function distance
    folds (~1 µs/element: 32k×64 in the centroid argmin, 252k×64 in the
    within-cell pair scoring) plus a full replay of the reps groupBy in
    the final join. Both distance kernels are now Arrow-batched numpy
    (the dedup_embedding_cosine pattern) over the SAME exact int64
    algebra — Σ(x−c)² of micro-ints is overflow-free in int64 (≤
    64·(2e6)² ≈ 2.6e14), and np.argmin's first-min tie rule IS the
    ORDER BY dist, cent rule — and the k-th-distance window collapses
    into the per-cell kernel (sort row distances, cumulate weights,
    first cum ≥ K else max). Candidate pairs never materialize as rows.
    The final join reads the checkpointed `assigned` frame (which
    carries xm) instead of re-running the reps aggregation. Measured
    ~11.6 s → ~2.5 s per pass at sf0.1 under load; oracle unchanged."""
    import numpy as np
    import pandas as pd

    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    xm0 = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"
        ).alias("xm"),
    )
    reps = xm0.groupBy("xm").agg(
        F.min("vec_id").alias("rep"), F.count(F.lit(1)).alias("mult")
    )
    cents = np.asarray(_LLOYD_OLD_MICRO, dtype=np.int64)

    def assign_cells(batches):
        # exact int64 argmin over the centroid set; chunked so the
        # (n, n_cents, 64) diff tensor stays small regardless of Arrow
        # batch size
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cells = []
            for lo in range(0, len(pdf), 512):
                xm = np.stack(
                    pdf["xm"].iloc[lo : lo + 512].to_numpy()
                ).astype(np.int64)
                diff = xm[:, None, :] - cents[None, :, :]
                d = (diff * diff).sum(axis=2)
                cells.append(d.argmin(axis=1))  # first min = lowest cent
            yield pd.DataFrame(
                {
                    "rep": pdf["rep"],
                    "xm": pdf["xm"],
                    "mult": pdf["mult"],
                    "cell": np.concatenate(cells).astype(np.int64),
                }
            )

    assigned = reps.mapInPandas(
        assign_cells, "rep long, xm array<bigint>, mult long, cell long"
    ).localCheckpoint()
    cell_sizes = assigned.groupBy("cell").agg(F.sum("mult").alias("n_in_cell"))

    def kth_per_cell(pdf: "pd.DataFrame") -> "pd.DataFrame":
        m = len(pdf)
        reps_a = pdf["rep"].to_numpy()
        mult = pdf["mult"].to_numpy().astype(np.int64)
        if m == 1 and mult[0] <= 1:
            # no neighbor evidence at all — the oracle's kth has no row
            # for this rep (left join -> NULL kth_dist)
            return pd.DataFrame(
                {
                    "rep": pd.Series(dtype="int64"),
                    "kth_dist": pd.Series(dtype="int64"),
                }
            )
        xm = np.stack(pdf["xm"].to_numpy()).astype(np.int64)
        kth = np.empty(m, dtype=np.int64)
        # row-chunked exact pairwise distances (int64, no overflow)
        chunk = max(1, 4_000_000 // max(1, m * xm.shape[1]))
        for lo in range(0, m, chunk):
            hi = min(m, lo + chunk)
            diff = xm[lo:hi, None, :] - xm[None, :, :]
            d = (diff * diff).sum(axis=2)  # (hi-lo, m)
            # weighted neighbor multiset per row: other reps at their
            # multiplicity, own clones at distance 0 with weight mult-1
            w = np.broadcast_to(mult, d.shape).copy()
            rows = np.arange(lo, hi)
            w[np.arange(hi - lo), rows] = mult[rows] - 1
            order = np.argsort(d, axis=1, kind="stable")
            d_sorted = np.take_along_axis(d, order, axis=1)
            cum = np.cumsum(np.take_along_axis(w, order, axis=1), axis=1)
            hit = cum >= OUTLIER_KNN_K
            first = hit.argmax(axis=1)
            kd = d_sorted[np.arange(hi - lo), first]
            # rows whose total weight < K fall back to MAX(d)
            none = ~hit.any(axis=1)
            kd[none] = d_sorted[none, -1]
            kth[lo:hi] = kd
        return pd.DataFrame({"rep": reps_a, "kth_dist": kth})

    kth = assigned.groupBy("cell").applyInPandas(
        kth_per_cell, "rep long, kth_dist long"
    )
    return (
        xm0.join(assigned.select("xm", "rep", "cell"), "xm")
        .join(F.broadcast(cell_sizes), "cell")
        .join(kth, "rep", "left")
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.col("n_in_cell").cast("long").alias("n_in_cell"),
            F.col("kth_dist").cast("long").alias("kth_dist"),
            F.expr(f"CAST(kth_dist div {OUTLIER_BAND_UNIT} AS BIGINT)").alias(
                "dist_band"
            ),
            (F.col("n_in_cell") == 1).cast("int").alias("isolated"),
        )
    )


# --- Two-layer navigable-graph search (HNSW-shaped) -------------------------
# Level rule (content-addressed, the distributed stand-in for HNSW's
# geometric level draw): a vector joins layer 1 iff the first 48 bits of
# md5('lvl:' || vec_id) are divisible by HNSW_SKIP — an expected 1/8 of the
# graph nodes, reproducible across engines and partitionings.
HNSW_SKIP = 8
HNSW_L1_K = 4  # directed out-degree of the layer-1 graph
HNSW_L1_HOPS = 3  # greedy hops on layer 1 (the coarse descent)
HNSW_L0_HOPS = 3  # greedy hops on layer 0, seeded by the layer-1 terminal

_HNSW_LVL_DUCK = (
    duck_md5_int("'lvl:' || CAST(vec_id AS VARCHAR)", 12) + f" % {HNSW_SKIP} = 0"
)


def _hnsw_walk_oracle() -> str:
    """Unroll BOTH fixed-step walks as CTE chains (the sim_ann_graph_greedy
    convention): HNSW_L1_HOPS hops over the directed layer-1 edges, then
    HNSW_L0_HOPS hops over the bidirectional layer-0 mutual graph."""
    hops = []
    for h in range(1, HNSW_L1_HOPS + 1):
        prev = f"w1_{h - 1}"
        hops.append(f"""
, c1_{h} AS (
  SELECT w.query_id, e.dst AS cand FROM {prev} w JOIN l1edges e ON e.src = w.cur
  UNION ALL
  SELECT query_id, cur AS cand FROM {prev}
), w1_{h} AS (
  SELECT query_id, cand AS cur FROM (
    SELECT t.query_id, t.cand,
           ROW_NUMBER() OVER (
             PARTITION BY t.query_id
             ORDER BY {_walk_cos_duck("q", "s")} DESC, t.cand) AS rk
    FROM c1_{h} t
    JOIN scored s ON s.vec_id = t.cand
    JOIN qv q ON q.query_id = t.query_id
    WHERE t.cand <> t.query_id
  ) WHERE rk = 1
)""")
    for h in range(1, HNSW_L0_HOPS + 1):
        prev = "seed" if h == 1 else f"w0_{h - 1}"
        hops.append(f"""
, c0_{h} AS (
  SELECT w.query_id, c.dst AS cand FROM {prev} w JOIN bidir c ON c.src = w.cur
  UNION ALL
  SELECT query_id, cur AS cand FROM {prev}
), w0_{h} AS (
  SELECT query_id, cand AS cur FROM (
    SELECT t.query_id, t.cand,
           ROW_NUMBER() OVER (
             PARTITION BY t.query_id
             ORDER BY {_walk_cos_duck("q", "s")} DESC, t.cand) AS rk
    FROM c0_{h} t
    JOIN scored s ON s.vec_id = t.cand
    JOIN qv q ON q.query_id = t.query_id
    WHERE t.cand <> t.query_id
  ) WHERE rk = 1
)""")
    return f"""
WITH {{ctes}}, l1nodes AS (
  SELECT vec_id FROM assigned WHERE {_HNSW_LVL_DUCK}
), l1m AS (
  SELECT s.vec_id, s.embedding, s.sq_norm, s.cent
  FROM assigned s JOIN l1nodes n ON n.vec_id = s.vec_id
), l1pairs AS (
  SELECT a.vec_id AS ai, b.vec_id AS bi,
         {{pair_dot}} / (SQRT(a.sq_norm) * SQRT(b.sq_norm)) AS cosine
  FROM l1m a JOIN l1m b ON a.cent = b.cent AND a.vec_id < b.vec_id
), l1directed AS (
  SELECT u.e.src AS src, u.e.dst AS dst, cosine
  FROM l1pairs, UNNEST([{{{{'src': ai, 'dst': bi}}}}, {{{{'src': bi, 'dst': ai}}}}]) AS u(e)
), l1edges AS (
  SELECT src, dst FROM (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
    FROM l1directed
  ) WHERE rk <= {HNSW_L1_K}
), bidir AS (
  SELECT vec_a AS src, vec_b AS dst FROM mutual
  UNION ALL SELECT vec_b, vec_a FROM mutual
), l1entry AS (
  SELECT MIN(vec_id) AS node FROM l1nodes
), qv AS (
  SELECT vec_id AS query_id, embedding,
         {SQ_NORM_DUCK} AS sq_norm
  FROM embeddings WHERE vec_id < {N_QUERIES}
), w1_0 AS (
  SELECT q.query_id, e.node AS cur FROM qv q, l1entry e
){''.join(hops[:HNSW_L1_HOPS])}
, seed AS (
  SELECT query_id, cur FROM w1_{HNSW_L1_HOPS}
){''.join(hops[HNSW_L1_HOPS:])}
, truth AS (
  SELECT query_id, cand AS best_node FROM (
    SELECT q.query_id, s.vec_id AS cand,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY {_walk_cos_duck("q", "s")} DESC, s.vec_id) AS rk
    FROM qv q
    JOIN scored s ON s.vec_id IN (SELECT src FROM bidir)
    WHERE s.vec_id <> q.query_id
  ) WHERE rk = 1
)
SELECT w.query_id,
       (SELECT node FROM l1entry) AS entry_node,
       sd.cur AS l1_seed,
       w.cur AS final_node,
       ROUND({_walk_cos_duck("q", "s")}, 6) AS final_cosine,
       t.best_node AS truth_node,
       CAST(w.cur = t.best_node AS INT) AS hit_top1
FROM w0_{HNSW_L0_HOPS} w
JOIN seed sd ON sd.query_id = w.query_id
JOIN qv q ON q.query_id = w.query_id
JOIN scored s ON s.vec_id = w.cur
JOIN truth t ON t.query_id = w.query_id
"""


def _hnsw_l1_members_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layer-1 member frame: exact-duplicate vectors collapse to their
    min-id representative (the kNN graph's clone rule), each rep gets its
    IVF cell, and the content-addressed level rule keeps an expected
    1/HNSW_SKIP of them."""
    reps = with_sq_norm(
        spread_small(load_table(spark, sf_dir, "embeddings"))
        .groupBy("embedding")
        .agg(F.min("vec_id").alias("vec_id"))
    )
    assigned = reps.select(
        "vec_id", "embedding", "sq_norm",
        F.expr(_ivf_scores_spark()).alias("scores"),
    ).select(
        "vec_id",
        "embedding",
        "sq_norm",
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
    )
    lvl = (
        md5_int(F.concat(F.lit("lvl:"), F.col("vec_id").cast("string")), 12) % HNSW_SKIP
        == 0
    )
    return assigned.filter(lvl)


@register(
    "sim_ann_hnsw_greedy_layered",
    tags=("llm", "similarity", "graph", "ann", "hnsw"),
    oracle=_hnsw_walk_oracle().format(
        # the CTE block carries its own placeholders — resolve them first,
        # then splice (str.format never rescans substituted values)
        ctes=_KNN_GRAPH_CTES.format(
            scores=_ivf_scores_duck(), pair_dot=_knn_pair_dot_duck()
        ),
        pair_dot=_knn_pair_dot_duck(),
    ),
)
def sim_ann_hnsw_greedy_layered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-layer navigable-graph search (HNSW-shaped, Malkov & Yashunin
    2016): a sparse UPPER layer — an expected 1/{HNSW_SKIP} of the graph
    nodes by a content-addressed md5 level rule, wired with DIRECTED
    top-{HNSW_L1_K} within-cell cosine edges (HNSW layer edges are not
    reciprocal-filtered) — is walked greedily for {HNSW_L1_HOPS} hops
    from the minimum layer-1 node; its terminal SEEDS the layer-0 walk
    ({HNSW_L0_HOPS} greedy hops over the bidirectional mutual-kNN
    graph). Compared to ``sim_ann_graph_greedy``'s flat walk from a
    fixed entry, the descent starts layer 0 near the query — the
    recall-per-hop argument that makes hierarchical graphs the serving
    default. Output: per query the entry, the layer-1 seed, the final
    node with its exact cosine, and hit_top1 against the true best
    reachable graph node.

    Scale shape: the layer-1 graph build is the mutual-graph build
    restricted to the sampled nodes — within-cell self-join on the
    centroid id, candidate volume sum(cell_sample²) ≈ 1/{HNSW_SKIP}² of
    the layer-0 build; both walks are fixed-step frontier joins
    (N_QUERIES rows broadcast per hop against the partitioned edge
    lists); the level rule is a map-side expression, so layer
    assignment shuffles nothing. The oracle unrolls BOTH walks as CTE
    chains — the full hierarchical descent is hash-checked hop by hop.

    OPTIMIZATION r11: every hop job (6 of them, each an eager
    localCheckpoint by design — the walk's lineage must not compound)
    plus the truth and final joins re-ran the scan + repartition +
    sq_norm subtree for the corpus and query frames. One eager
    localCheckpoint of the normalized embedding frame up front feeds all
    8 consumers from materialized blocks (guide §2.4/§3.3); measured
    12.1 s -> 7.5 s min-of-3 at sf0.1.

    Second cut (the sim_ann_graph_greedy restructure, guide §1.2): both
    layers' adjacency frames CARRY the destination vectors (edge list ⋈
    corpus once each, checkpointed — the navigable-index posting
    layout), and the walk frame carries (q_emb, q_sq, cur, cur_cos), so
    a hop is one frontier ⋈ adj left join + explode + struct-argmax —
    no per-hop corpus or query re-join, and the final re-scoring join
    is gone (the carried cur_cos IS cos(q, cur), computed by the
    identical dot_exact expression at the hop that selected cur). The
    candidate filter (cand != query_id, post-explode) and the
    empty-candidate drop-out semantics are exactly the first cut's."""
    emb = with_sq_norm(
        spread_small(load_table(spark, sf_dir, "embeddings"))
    ).localCheckpoint()
    # The layer-1 member set (dedup'd representatives + IVF cell + level
    # rule) is index-build work — in production a persisted artifact like
    # the layer-0 mutual graph, so memoize it the same way (the expensive
    # rep/assignment subtree builds once per session; the edge join over
    # the ~1/HNSW_SKIP members is cheap on top of it).
    l1m = persisted_artifact(
        spark,
        "hnsw_l1_members",
        load_table(spark, sf_dir, "embeddings").inputFiles(),
        lambda: _hnsw_l1_members_build(spark, sf_dir),
    )
    a = l1m.select(
        "cent",
        F.col("vec_id").alias("ai"),
        F.col("embedding").alias("a_emb"),
        F.col("sq_norm").alias("a_sq"),
    )
    b = l1m.select(
        F.col("cent").alias("b_cent"),
        F.col("vec_id").alias("bi"),
        F.col("embedding").alias("b_emb"),
        F.col("sq_norm").alias("b_sq"),
    )
    l1pairs = a.join(
        b, (F.col("cent") == F.col("b_cent")) & (F.col("ai") < F.col("bi"))
    ).select(
        "ai",
        "bi",
        (
            dot_exact(F.col("a_emb"), F.col("b_emb"))
            / (F.sqrt("a_sq") * F.sqrt("b_sq"))
        ).alias("cosine"),
    )
    l1directed = l1pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("ai").alias("src"), F.col("bi").alias("dst")),
                F.struct(F.col("bi").alias("src"), F.col("ai").alias("dst")),
            )
        ).alias("e"),
        "cosine",
    ).select("e.src", "e.dst", "cosine")
    l1edges = (
        l1directed.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.col("cosine").desc(), F.col("dst"))
            ),
        )
        .filter(F.col("rk") <= HNSW_L1_K)
        .select("src", "dst")
        .localCheckpoint()
    )
    l1entry = l1m.agg(F.min("vec_id").alias("entry_node"))
    edges = _mutual_graph_persisted(spark, sf_dir).select("vec_a", "vec_b")
    bidir = edges.select(
        F.col("vec_a").alias("src"), F.col("vec_b").alias("dst")
    ).unionAll(
        edges.select(F.col("vec_b").alias("src"), F.col("vec_a").alias("dst"))
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("sq_norm").alias("q_sq"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("cand"),
        F.col("embedding").alias("c_emb"),
        F.col("sq_norm").alias("c_sq"),
    )
    cos = dot_exact(F.col("q_emb"), F.col("c_emb")) / (
        F.sqrt("q_sq") * F.sqrt("c_sq")
    )

    def argmax(scored: DataFrame) -> DataFrame:
        return (
            scored.groupBy("query_id")
            .agg(
                F.max(
                    F.struct(F.col("_cos"), (-F.col("cand")).alias("_nc"))
                ).alias("_m")
            )
            .select("query_id", (-F.col("_m._nc")).alias("cand"))
        )

    # Adjacency WITH destination vectors, one checkpointed frame per
    # layer (an HNSW shard stores neighbor vectors next to the links)
    adj_l1 = _ckpt(
        l1edges.join(corpus, l1edges["dst"] == corpus["cand"]).select(
            "src", "cand", "c_emb", "c_sq"
        )
    )
    adj_l0 = _ckpt(
        bidir.join(corpus, bidir["dst"] == corpus["cand"]).select(
            "src", "cand", "c_emb", "c_sq"
        )
    )

    def hop(walk: DataFrame, adj: DataFrame) -> DataFrame:
        # Single-reference hop, no per-hop checkpoint: the left join +
        # explode emits the current node and each neighbor from the same
        # row (the current node arrives once per out-edge; duplicate
        # candidates cannot change an argmax; LEFT join because a
        # layer-1 entry or seed can be edge-less — the explode keeps the
        # cur candidate, null neighbors drop). The post-explode filter
        # (cand != query_id) reproduces the first cut's candidate set
        # exactly, including the empty-set drop-out corner.
        return (
            walk.join(adj, walk["cur"] == adj["src"], "left")
            .select(
                "query_id",
                "q_emb",
                "q_sq",
                F.explode(
                    F.array(
                        F.struct(
                            F.col("cur").alias("cand"),
                            F.col("cur_cos").alias("_cos"),
                        ),
                        F.struct(F.col("cand").alias("cand"), cos.alias("_cos")),
                    )
                ).alias("c"),
            )
            .filter(
                F.col("c.cand").isNotNull()
                & (F.col("c.cand") != F.col("query_id"))
            )
            .groupBy("query_id")
            .agg(
                F.max(
                    F.struct(
                        F.col("c._cos").alias("_cos"),
                        (-F.col("c.cand")).alias("_nc"),
                        F.col("q_emb").alias("q_emb"),
                        F.col("q_sq").alias("q_sq"),
                    )
                ).alias("_m")
            )
            .select(
                "query_id",
                F.col("_m.q_emb").alias("q_emb"),
                F.col("_m.q_sq").alias("q_sq"),
                (-F.col("_m._nc")).alias("cur"),
                F.col("_m._cos").alias("cur_cos"),
            )
        )

    # frontier carries the query vector and the current node's cosine
    # (computed here by the same expression the hops use; if the entry
    # IS the query the value is filtered out at hop 1, like the first
    # cut's cand != query_id filter)
    e_emb = corpus.join(
        F.broadcast(l1entry), F.col("cand") == F.col("entry_node")
    ).select("entry_node", "c_emb", "c_sq")
    walk = qv.crossJoin(F.broadcast(e_emb)).select(
        "query_id",
        "q_emb",
        "q_sq",
        F.col("entry_node").alias("cur"),
        cos.alias("cur_cos"),
    )
    for _ in range(HNSW_L1_HOPS):
        walk = hop(walk, adj_l1)
    # the L1 terminal is multi-consumer (seeds layer 0 AND joins the
    # output row), so it keeps the checkpoint
    walk = _ckpt(walk)
    seed = walk.select("query_id", F.col("cur").alias("l1_seed"))
    for _ in range(HNSW_L0_HOPS):
        walk = hop(walk, adj_l0)
    nodes = bidir.select(F.col("src").alias("cand")).distinct()
    truth_scored = (
        corpus.join(nodes, "cand")
        .crossJoin(F.broadcast(qv))
        .filter(F.col("cand") != F.col("query_id"))
        .withColumn("_cos", cos)
    )
    truth = argmax(truth_scored).select(
        "query_id", F.col("cand").alias("truth_node")
    )
    # the carried cosine IS cos(q, cur) — same expression at the hop
    # that selected cur, so no re-scoring join
    final = walk.select(
        "query_id",
        F.col("cur").alias("final_node"),
        F.round(F.col("cur_cos"), 6).alias("final_cosine"),
    )
    return (
        final.crossJoin(F.broadcast(l1entry))
        .join(seed, "query_id")
        .join(truth, "query_id")
        .select(
            "query_id",
            "entry_node",
            "l1_seed",
            "final_node",
            "final_cosine",
            "truth_node",
            (F.col("final_node") == F.col("truth_node")).cast("int").alias(
                "hit_top1"
            ),
        )
    )
