"""pyspark.ml LSH variants (SURVEY.md §B.11 names these as the ml-based
implementation strategy): MinHashLSH over token sets and
BucketedRandomProjectionLSH over embeddings.

The pure-SQL LSH pipelines in dedup.py / similarity.py are the preferred
scale path (no ML fitting step, plain shuffles); these exist for API parity
and cross-validation — tests assert the two implementations agree on
planted duplicates. Seeds pinned; results are deterministic but the bucket
hash functions are Spark-internal, so these are rows-only checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.ml.feature import BucketedRandomProjectionLSH, HashingTF, MinHashLSH
from pyspark.ml.functions import array_to_vector
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..registry import register


def ml_minhash_pairs(docs: DataFrame, jaccard_distance: float = 0.5) -> DataFrame:
    """MinHashLSH near-dup pairs over binarized token vectors.

    The ml MODEL is unchanged (HashingTF murmur3 indices, MinHashLSH
    seed-42 hash family via ``model.transform`` — every hash bit is the
    library's own), but the self-join is restructured natively
    (OPTIMIZATION r11; r11 bench measured ``approxSimilarityJoin`` at
    510 s for the sf0.1 stratum). ``approxSimilarityJoin``'s plan had the
    three §-guide pathologies at once: the keyDistance UDF ran INSIDE the
    join condition for every bucket-colliding pair and AGAIN after the
    distinct (guide §4.4's duplicated-UDF shape, on a per-pair UDF); the
    candidate distinct shuffled the full (doc_id, tokens, features,
    hashes) structs per pair instead of 16 bytes of ids (guide §2.3/§8 —
    shuffle keys, not payloads); and the TF/MinHash UDFs were duplicated
    into the scan filter. Here: unwrap_udt exposes the hash values and
    the sparse-vector indices as plain columns, the bucket join carries
    (entry, hash, doc_id) only, the distinct dedupes 16-byte id pairs,
    and the exact Jaccard (1 − |A∩B|/|A∪B| over feature indices — the
    same arithmetic keyDistance performs) is computed ONCE per surviving
    pair with array_intersect on the indices arrays. Output rows are
    bit-identical to approxSimilarityJoin's (pinned by
    tests/test_dedup.py::test_ml_minhash_join_matches_approx_join at both
    gate SFs)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("tokens")).filter(
        F.size("tokens") > 0  # MinHashLSH requires ≥1 non-zero feature
    )
    tf = HashingTF(inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True)
    feats = tf.transform(toks)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = mh.fit(feats)
    hashed = model.transform(feats)
    sets = hashed.select(
        "doc_id",
        F.unwrap_udt("features").getField("indices").alias("idx"),
        "hashes",
    )
    base = sets.select(
        "doc_id",
        F.posexplode("hashes").alias("entry", "hv_vec"),
    ).select(
        "doc_id",
        "entry",
        F.unwrap_udt("hv_vec").getField("values").getItem(0).alias("hv"),
    )
    a = base.select(
        F.col("entry").alias("e"),
        F.col("hv").alias("h"),
        F.col("doc_id").alias("doc_a"),
    )
    b = base.select(
        F.col("entry").alias("e2"),
        F.col("hv").alias("h2"),
        F.col("doc_id").alias("doc_b"),
    )
    cand = (
        a.join(
            b,
            (F.col("e") == F.col("e2"))
            & (F.col("h") == F.col("h2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("idx").alias("ia"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("idx").alias("ib"))
    inter = F.size(F.array_intersect("ia", "ib"))
    union = F.size("ia") + F.size("ib") - inter
    dist = F.lit(1.0) - inter.cast("double") / union.cast("double")
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard_dist", dist)
        .filter(F.col("jaccard_dist") < jaccard_distance)
        .select("doc_a", "doc_b", F.round("jaccard_dist", 6).alias("jaccard_dist"))
    )


@register(
    "dedup_ml_minhash",
    tags=("llm", "dedup", "minhash", "ml"),
    oracle=None,  # Spark-internal hash families; cross-validated in tests
)
def dedup_ml_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml MinHashLSH near-dup join (token-set Jaccard distance ≤
    0.5) — the ml-pipeline twin of dedup_minhash_lsh_pairs.

    Gate posture (VERDICT r9 #2): approxSimilarityJoin's OR-amplified
    candidate join made this the single most expensive registered query
    at sf0.1 (871 s — ~7× the entire headline bench), so the full
    variant is a FIXTURE-SCALE query: certification sweeps run it at
    sf0.001/sf0.01 and run ``dedup_ml_minhash_stratum`` at sf0.1. The
    cross-validation invariant (ml pairs ⊇ native banded pairs on
    planted dups) is tested on both variants in tests/test_dedup.py."""
    return ml_minhash_pairs(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_ml_minhash_stratum",
    tags=("llm", "dedup", "minhash", "ml", "sampling"),
    oracle=None,  # Spark-internal hash families; cross-validated in tests
)
def dedup_ml_minhash_stratum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampled-stratum twin of ``dedup_ml_minhash`` (VERDICT r9 #2): the
    identical pyspark.ml MinHashLSH near-dup join restricted to the
    deterministic rep stratum doc_id % LSH_AUDIT_STRATUM_MOD == 0 — the
    same stratum (and the same reasoning) as
    ``dedup_lsh_recall_audit_stratum``: the quadratic candidate side
    shrinks ~1/MOD² while the measured ml configuration (numHashTables,
    threshold, hashing width) is untouched, making the ml/native
    cross-validation routinely runnable in full-scale gates."""
    from .dedup import LSH_AUDIT_STRATUM_MOD

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % LSH_AUDIT_STRATUM_MOD == 0
    )
    return ml_minhash_pairs(docs)


@register(
    "sim_ann_ml_brp",
    tags=("llm", "similarity", "lsh", "ml"),
    oracle=None,  # Spark-internal hash families; sanity-tested vs brute force
)
def sim_ann_ml_brp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH (euclidean) approximate similarity join:
    query vectors (vec_id < 20) against the corpus within distance 12 —
    the ml-pipeline ANN variant."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", array_to_vector("embedding").alias("features")
    )
    brp = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", numHashTables=4, bucketLength=2.0, seed=42
    )
    model = brp.fit(emb)
    queries = emb.filter(F.col("vec_id") < 20)
    pairs = model.approxSimilarityJoin(queries, emb, 12.0, distCol="eucl_dist")
    return (
        pairs.filter(F.col("datasetA.vec_id") != F.col("datasetB.vec_id"))
        .select(
            F.col("datasetA.vec_id").alias("query_id"),
            F.col("datasetB.vec_id").alias("neighbor_id"),
            F.round("eucl_dist", 6).alias("eucl_dist"),
        )
    )


@register(
    "sim_ann_ivf_kmeans",
    tags=("llm", "similarity", "ivf", "ml"),
    oracle=None,  # trained codebook: deterministic per seed but float-sum
    # merge order makes cross-engine replication impractical; the exact
    # fixed-codebook twin (sim_ann_ivf) is the hash-checked variant
)
def sim_ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with a *trained* k-means codebook — the production form of
    `sim_ann_ivf` (which uses fixed centroids so it can be oracle-checked).
    At 100 TB: fit KMeans on a small sample (driver-side iterations over a
    few MB of sampled vectors), then the scoring/probing is the same
    broadcast-codebook map-only assignment + centroid equi-join.

    Output: per query (vec_id < 20), top-5 candidates from the 2 probed
    cells by exact cosine."""
    from pyspark.ml.clustering import KMeans
    from pyspark.sql import Window

    from .exact import dot_exact
    from .similarity import N_QUERIES, TOP_K, with_sq_norm

    emb = with_sq_norm(
        load_table(spark, sf_dir, "embeddings").select(
            "vec_id", "label", "embedding",
            array_to_vector("embedding").alias("features"),
        )
    )
    km = KMeans(k=16, seed=42, maxIter=5, featuresCol="features", predictionCol="cent")
    # fit on a sample: at corpus scale the sample is tiny relative to the
    # data; locally the corpus IS sample-sized so fit on it directly
    model = km.fit(emb.select("features"))
    corpus = model.transform(emb).drop("features")
    q_probe = model.transform(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("sq_norm").alias("q_sq"),
            "features",
        )
    ).withColumnRenamed("cent", "p_cent").drop("features")
    # nprobe=2: second probe from the model's centers via a tiny cross join
    # of queries × centers scored in numpy on the driver would leave Spark;
    # instead reuse the ml API's cluster assignment for probe 1 and the
    # nearest *other* center by exact distance for probe 2, computed with a
    # broadcast of the 16 centers as literal arrays (JVM-side).
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    center_arr = F.array(*[F.array(*[F.lit(v) for v in c]) for c in centers])
    dists = (
        "transform(_cents, c -> aggregate(zip_with(c, q_emb,"
        " (a, b) -> (a - CAST(b AS DOUBLE)) * (a - CAST(b AS DOUBLE))),"
        " 0.0D, (acc, v) -> acc + v))"
    )
    masked = (
        "transform(sequence(0, size(_d) - 1),"
        " i -> CASE WHEN i = p_cent THEN CAST('Infinity' AS DOUBLE)"
        " ELSE element_at(_d, i + 1) END)"
    )
    with_d = (
        q_probe.withColumn("_cents", center_arr)
        .withColumn("_d", F.expr(dists))
        .withColumn("_dm", F.expr(masked))
        .withColumn("second", F.expr("array_position(_dm, array_min(_dm)) - 1"))
    )
    probes = with_d.select(
        "query_id", "q_emb", "q_sq",
        F.explode(
            F.array(F.col("p_cent").cast("int"), F.col("second").cast("int"))
        ).alias("p_cent"),
    )
    cand = corpus.join(
        F.broadcast(probes.withColumn("_c", F.col("p_cent")).drop("p_cent")),
        (F.col("cent") == F.col("_c")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.withColumn(
        "cosine_raw",
        dot_exact(F.col("q_emb"), F.col("embedding"))
        / (F.sqrt("q_sq") * F.sqrt("sq_norm")),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_raw").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cosine_raw", 6).alias("cosine"),
            "rk",
        )
    )


# Trained codebooks memoized per corpus (keyed by the scan's input-file
# set): codebook TRAINING is an offline step whose artifact is persisted
# and reused — refitting 8 KMeans models for every query that consumes
# the codebook would be the production anti-pattern. The key is the
# actual parquet file list, so a changed/moved corpus retrains.
_PQ_BOOK_CACHE: dict[tuple[str, ...], list[list[list[float]]]] = {}


def _fit_pq_codebooks(emb: DataFrame) -> list[list[list[float]]]:
    """Per-subspace k-means codebooks: 8 independent KMeans fits, one per
    8-dim slice of the embedding. Each fit sees (n_vectors x 8 dims) —
    at 100 TB you fit on a sample (driver-side Lloyd iterations over a
    few MB of sampled subvectors); locally the corpus IS sample-sized.
    The returned plain-float lists broadcast into JVM-side literal-array
    expressions, so scoring/assignment stays UDF-free."""
    from pyspark.ml.clustering import KMeans

    from .similarity import PQ_CODES, PQ_SUBDIM, PQ_SUBSPACES

    key = tuple(sorted(emb.inputFiles()))
    if key and key in _PQ_BOOK_CACHE:
        return _PQ_BOOK_CACHE[key]

    books = []
    for s in range(PQ_SUBSPACES):
        sub = emb.select(
            array_to_vector(
                F.expr(f"slice(embedding, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})")
            ).alias("features")
        )
        km = KMeans(k=PQ_CODES, seed=4200 + s, maxIter=10, featuresCol="features")
        books.append([[float(x) for x in c] for c in km.fit(sub).clusterCenters()])
    if key:
        _PQ_BOOK_CACHE[key] = books
    return books


def _trained_pq_scores(
    s: int, books: list[list[list[float]]], src: str = "embedding"
) -> str:
    """DOUBLE score array for subspace ``s`` of column ``src`` against a
    trained codebook: sc[k] = |c_k|^2 - 2<x_s, c_k> (argmin = nearest
    centroid; adding the query-constant |x_s|^2 recovers the true squared
    distance). Plain doubles — the trained variants are rows-only, so
    there is no cross-engine float-order constraint to defend against."""
    from .similarity import PQ_SUBDIM

    sub = f"slice({src}, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})"
    elems = []
    for cent in books[s]:
        c_sq = sum(v * v for v in cent)
        lits = ", ".join(f"{v!r}D" for v in cent)
        dot = (
            f"aggregate(zip_with({sub}, array({lits}),"
            f" (x, p) -> CAST(x AS DOUBLE) * p), 0.0D, (acc, v) -> acc + v)"
        )
        elems.append(f"{c_sq!r}D - 2.0D * ({dot})")
    return "array(" + ", ".join(elems) + ")"


def _trained_pq_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, embedding, sc0..sc7) with trained-codebook score
    arrays — shared scan of the trained PQ pair of queries."""
    from .similarity import PQ_SUBSPACES

    emb = load_table(spark, sf_dir, "embeddings")
    books = _fit_pq_codebooks(emb)
    return emb.select(
        "vec_id",
        "label",
        "embedding",
        *[
            F.expr(_trained_pq_scores(s, books)).alias(f"sc{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )


@register(
    "embedding_product_quantize_trained",
    tags=("llm", "similarity", "quantization", "pq", "ml"),
    oracle=None,  # trained codebook: deterministic per seed but the
    # distributed float-sum merge order in KMeans makes cross-engine
    # replication impractical; the fixed-codebook twin
    # (embedding_product_quantize) is the hash-checked variant, and
    # tests/test_similarity.py pins trained-beats-untrained invariants
)
def embedding_product_quantize_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Product quantization with TRAINED per-subspace k-means codebooks —
    the production form of `embedding_product_quantize` (r5 verdict
    stretch #8): same 8-subspace split, same argmin assignment, same
    map-only scan-transform shape, but the 16 centroids per subspace come
    from KMeans over the corpus's own subvectors instead of a seeded
    random draw. Training is the sim_ann_ivf_kmeans machinery applied
    per subspace; assignment/scoring stays literal-array JVM expressions
    (no UDF, nothing driver-side in the hot path). The recon_err_sq
    column is the same diagnostic as the untrained twin — on real data
    trained codebooks capture the subspace distribution, so the
    invariant test pins mean(recon_err_sq) strictly below the untrained
    variant's (codebook quality made measurable)."""
    from .similarity import PQ_SUBSPACES

    scored = _trained_pq_scored(spark, sf_dir)
    sub_sq = (
        lambda s: (  # noqa: E731 — local SQL fragment helper
            "aggregate(transform(slice(embedding, {o}, {w}),"
            " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),"
            " 0.0D, (acc, v) -> acc + v)"
        ).format(o=s * 8 + 1, w=8)
    )
    err_sum = " + ".join(
        f"({sub_sq(s)} + array_min(sc{s}))" for s in range(PQ_SUBSPACES)
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
        F.round(F.expr(err_sum), 6).alias("recon_err_sq"),
    )


@register(
    "sim_ann_adc_trained_recall",
    tags=("llm", "similarity", "eval", "pq", "ml"),
    oracle=None,  # composes the trained quantizer (rows-only, above);
    # the recall-vs-exact audit pattern IS its invariant harness
)
def sim_ann_adc_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of ADC search over TRAINED-codebook PQ codes vs exact
    cosine — the audit row the r5 verdict asked to pair with the trained
    quantizer (same composition pattern as sim_ann_adc_recall, which
    measured the untrained baseline at ~0.11 recall@5 and attributed the
    loss to untrained random codebooks). Scale shape is identical to
    sim_ann_pq_adc: queries broadcast with 16x8 lookup tables against a
    4 B/vector coded corpus, partitioned top-k window, then a key-only
    join against the exact top-k truth."""
    from pyspark.sql import Window

    from .similarity import (
        N_QUERIES,
        PQ_SUBSPACES,
        TOP_K,
        _ann_artifact,
        sim_cosine_topk,
    )

    scored = _trained_pq_scored(spark, sf_dir).drop("embedding")
    coded = scored.select(
        "vec_id",
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
    w = Window.partitionBy("query_id").orderBy("adc_score", "neighbor_id")
    adc_k = (
        F.broadcast(queries)
        .join(coded, F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            adc.alias("adc_score"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .select(
            F.col("query_id").alias("a_query_id"),
            F.col("neighbor_id").alias("a_neighbor_id"),
        )
    )
    exact_k = _ann_artifact(
        spark, sf_dir, "exact_cosine_topk", sim_cosine_topk
    ).select("query_id", "neighbor_id")
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


# Residual codebooks for the trained IVFADC pair, memoized like the plain
# PQ books: training is an offline artifact keyed by the corpus's actual
# parquet file set. The coarse quantizer stays the FIXED seeded centroid
# grid the hash-checked sim_ann_ivfadc uses, so the trained/untrained
# recall difference isolates exactly one variable — residual codebook
# quality — with identical cells, probes, and candidate sets.
_IVFADC_BOOK_CACHE: dict[tuple[str, ...], list[list[list[float]]]] = {}


def _fit_ivfadc_residual_codebooks(emb: DataFrame) -> list[list[list[float]]]:
    """Per-subspace k-means over the corpus's CELL RESIDUALS (vector minus
    its assigned coarse centroid) — the step Jégou's IVFADC trains offline.
    At 100 TB the fit sees a driver-side sample of residual subvectors;
    locally the corpus is sample-sized. Returned plain-float lists
    broadcast into JVM literal-array expressions (no UDF)."""
    from pyspark.ml.clustering import KMeans

    from .similarity import (
        PQ_CODES,
        PQ_SUBDIM,
        PQ_SUBSPACES,
        _ivf_scores_spark,
        _residual_spark,
    )

    key = tuple(sorted(emb.inputFiles()))
    if key and key in _IVFADC_BOOK_CACHE:
        return _IVFADC_BOOK_CACHE[key]

    resid = (
        emb.select(
            "embedding", F.expr(_ivf_scores_spark()).alias("scores")
        )
        .select(
            "embedding",
            (F.expr("array_position(scores, array_min(scores))") - 1)
            .cast("int")
            .alias("cent"),
        )
        .select(F.expr(_residual_spark("embedding", "cent")).alias("res"))
        .cache()  # 8 KMeans fits scan it; unpersisted by Spark LRU after
    )
    books = []
    for s in range(PQ_SUBSPACES):
        sub = resid.select(
            array_to_vector(
                F.expr(f"slice(res, {s * PQ_SUBDIM + 1}, {PQ_SUBDIM})")
            ).alias("features")
        )
        km = KMeans(k=PQ_CODES, seed=6200 + s, maxIter=10, featuresCol="features")
        books.append([[float(x) for x in c] for c in km.fit(sub).clusterCenters()])
    if key:
        _IVFADC_BOOK_CACHE[key] = books
    return books


def _ivfadc_trained_parts(spark: SparkSession, sf_dir: str):
    """(coded corpus, query lookup tables) for the trained IVFADC pair —
    the same two map-only projection chains as sim_ann_ivfadc with the
    residual score arrays swapped to the trained codebooks (plain
    doubles: the trained pair is rows-only, so no int-scaling bridge)."""
    from .similarity import (
        IVF_NPROBE,
        N_QUERIES,
        PQ_SUBSPACES,
        _ivf_scores_spark,
        _residual_spark,
    )
    from ._shared import spread_small
    from pyspark.sql import Window

    emb = spread_small(load_table(spark, sf_dir, "embeddings"))
    books = _fit_ivfadc_residual_codebooks(emb)
    scored = emb.select(
        "vec_id", "label", "embedding",
        F.expr(_ivf_scores_spark()).alias("scores"),
    )
    resid = scored.select(
        "vec_id", "label",
        (F.expr("array_position(scores, array_min(scores))") - 1)
        .cast("int")
        .alias("cent"),
        "embedding",
    ).select(
        "vec_id", "label", "cent",
        F.expr(_residual_spark("embedding", "cent")).alias("res"),
    )
    res_scored = resid.select(
        "vec_id", "label", "cent", "res",
        *[
            F.expr(_trained_pq_scores(s, books, src="res")).alias(f"sc{s}")
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
        # per-row residual reconstruction error |r - c(code)|^2 =
        # |r|^2 + min_k(|c_k|^2 - 2<r, c_k>): the trained-beats-untrained
        # invariant's measurable (same identity the PQ pair exposes)
        F.round(
            F.expr(
                "aggregate(transform(res, x -> x * x), 0.0D,"
                " (acc, v) -> acc + v)"
            )
            + sum(
                F.expr(f"array_min(sc{s})") for s in range(PQ_SUBSPACES)
            ),
            6,
        ).alias("recon_err_sq"),
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
        F.expr(
            "aggregate(transform(q_res, r -> r * r), 0.0D,"
            " (acc, v) -> acc + v)"
        ).alias("term0"),
        *[
            F.expr(_trained_pq_scores(s, books, src="q_res")).alias(f"qsc{s}")
            for s in range(PQ_SUBSPACES)
        ],
    )
    return coded, qlt


@register(
    "sim_ann_ivfadc_trained",
    tags=("llm", "similarity", "ivf", "pq", "ann", "ml"),
    oracle=None,  # trained residual codebooks: deterministic per seed but
    # KMeans' distributed float-sum merge order makes cross-engine
    # replication impractical; the fixed-codebook twin (sim_ann_ivfadc)
    # is the hash-checked variant, and tests pin trained-beats-untrained
    # reconstruction + recall invariants against it
)
def sim_ann_ivfadc_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC with TRAINED residual codebooks — the production form of
    `sim_ann_ivfadc` (r6 verdict #6): same fixed coarse quantizer, same
    cells, same probes, same candidate sets; only the 8 per-subspace
    codebooks now come from KMeans over the corpus's own cell residuals
    (memoized per input-file set like embedding_product_quantize_trained)
    instead of a seeded random draw. Scale shape unchanged: map-only
    corpus encode, N_QUERIES x NPROBE broadcast probe rows, 8 integer
    lookups per candidate on 4 B of codes."""
    from pyspark.sql import Window

    from .similarity import PQ_SUBSPACES, TOP_K

    coded, qlt = _ivfadc_trained_parts(spark, sf_dir)
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
            F.round(adc, 9).alias("adc_score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_score", "neighbor_id")
    return cand.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= TOP_K
    )


@register(
    "sim_ann_ivfadc_trained_recall",
    tags=("llm", "similarity", "eval", "ivf", "pq", "ml"),
    oracle=None,  # composes the trained index (rows-only, above); the
    # recall-vs-exact audit pattern IS its invariant harness, and the
    # paired test asserts it does not fall below the untrained twin's
)
def sim_ann_ivfadc_trained_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of trained-codebook IVFADC vs brute-force exact cosine —
    the audit row the r6 verdict asked to pair with the trained index.
    The untrained twin measured ~0.10 recall@5 at sf0.01 and attributed
    the loss to BOTH levers; with cells/probes held identical, any lift
    here is purely the trained residual codebooks ranking candidates
    closer to their true distances (the full-scan ADC pair measured
    0.20 trained vs 0.11 untrained on the same fixtures)."""
    from .similarity import TOP_K, _ann_artifact, sim_cosine_topk

    exact_k = _ann_artifact(
        spark, sf_dir, "exact_cosine_topk", sim_cosine_topk
    ).select("query_id", "neighbor_id")
    trained_k = _ann_artifact(
        spark, sf_dir, "ann_ivfadc_trained_topk", sim_ann_ivfadc_trained
    ).select(
        F.col("query_id").alias("a_query_id"),
        F.col("neighbor_id").alias("a_neighbor_id"),
    )
    return (
        exact_k.join(
            trained_k,
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
