"""Projection / filter / predicate operators (SURVEY.md §B.2).

The reference's only predicate is a filename-extension check
(/root/reference/src/utils/fileHandling.js:25-30); here the predicate
surface is the full Column algebra, expressed declaratively so Catalyst
pushes every conjunct into the parquet scan (verify with
``df.explain`` → ``PushedFilters``).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table
from ..registry import register
from ._shared import dsum
from .crosshash import duck_md5_int, md5_int, md5_prefix, sql_md5_prefix


@register(
    "filter_project",
    tags=("projection", "filter"),
    oracle="""
SELECT
  l_orderkey,
  l_linenumber,
  CAST(l_quantity AS INT) AS qty_int,
  CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4)) AS DOUBLE) AS net_price,
  CASE WHEN l_quantity >= 40 THEN 'bulk'
       WHEN l_quantity >= 10 THEN 'mid'
       ELSE 'small' END AS qty_band,
  COALESCE(NULLIF(l_returnflag, 'N'), 'none') AS return_kind,
  (l_discount BETWEEN 0.02 AND 0.04) AS mid_discount
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  AND l_returnflag IN ('A', 'R')
  AND l_linestatus LIKE 'F%'
  AND l_quantity IS NOT NULL
  AND NOT (l_tax > 0.07)
""",
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range + IN + LIKE + null-test + negation predicates, then a projection
    with casts, CASE, COALESCE/NULLIF and boolean-typed derived columns."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_linestatus").like("F%")
        & F.col("l_quantity").isNotNull()
        & ~(F.col("l_tax") > 0.07)
    ).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast("decimal(18,4)")
        .cast("double")
        .alias("net_price"),
        F.when(F.col("l_quantity") >= 40, "bulk")
        .when(F.col("l_quantity") >= 10, "mid")
        .otherwise("small")
        .alias("qty_band"),
        F.coalesce(F.nullif(F.col("l_returnflag"), F.lit("N")), F.lit("none")).alias(
            "return_kind"
        ),
        F.col("l_discount").between(0.02, 0.04).alias("mid_discount"),
    )


@register(
    "ansi_safe_casts",
    tags=("projection", "ansi"),
    oracle="""
SELECT
  event_id,
  TRY_CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_ok,
  TRY_CAST(event_type AS INTEGER) AS not_a_number,
  value / NULLIF(CAST(user_id % 7 AS DOUBLE), 0.0) AS guarded_div
FROM events
WHERE event_id < 200
""",
)
def ansi_safe_casts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe expressions under ANSI mode (Spark 4 default): try_cast
    yields NULL where a plain cast would raise; division guarded with
    nullif. The engine's ingest-grade arithmetic never kills a 100 TB job
    on one malformed value."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_id") < 200)
    return ev.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') AS int)").alias("k_ok"),
        # NOTE: no all-NULL DATE columns on the wire — pandas renders those
        # as NaT on one engine and None on the other
        F.expr("try_cast(event_type AS int)").alias("not_a_number"),
        (
            F.col("value")
            / F.nullif((F.col("user_id") % 7).cast("double"), F.lit(0.0))
        ).alias("guarded_div"),
    )


@register(
    "distinct_projection",
    tags=("projection", "distinct"),
    oracle="""
SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
""",
)
def distinct_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT over a projected column pair (§B.2) — partial-aggregate
    dedup on each map task before the shuffle."""
    return load_table(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderpriority"
    ).distinct()


@register(
    "drop_duplicates_subset",
    tags=("projection", "distinct"),
    oracle="""
SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
FROM (
  SELECT DISTINCT c_nationkey, c_mktsegment FROM customer
)
GROUP BY c_nationkey, c_mktsegment
""",
)
def drop_duplicates_subset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a key subset; aggregated afterwards so the output
    is deterministic (the non-key columns dropDuplicates keeps are not)."""
    cust = load_table(spark, sf_dir, "customer")
    return (
        cust.select("c_nationkey", "c_mktsegment")
        .dropDuplicates(["c_nationkey", "c_mktsegment"])
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "sample_stratified",
    tags=("projection", "sampling"),
    oracle=f"""
WITH sampled AS (
  SELECT c_mktsegment, c_custkey, c_acctbal
  FROM customer
  WHERE {sql_md5_prefix("CAST(c_custkey AS VARCHAR)", 1)} IN ('0','1','2','3')
)
SELECT c_mktsegment, COUNT(*) AS n_sampled,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS bal_sum
FROM sampled
GROUP BY c_mktsegment
""",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~25% stratified sample: keep a row iff the first hex
    digit of md5(key) falls in a fixed 4/16 bucket set. Unlike
    ``df.sample()`` / ``sampleBy()`` (seeded per-partition RNG — result
    changes with partitioning), the content-addressed predicate is stable
    across engines, re-runs and repartitions, and it pipelines inside the
    scan with zero shuffle — the only shuffle here is the verification
    rollup."""
    cust = load_table(spark, sf_dir, "customer")
    first_hex = md5_prefix(F.col("c_custkey").cast("string"), 1)
    return (
        cust.filter(first_hex.isin("0", "1", "2", "3"))
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            dsum("c_acctbal").alias("bal_sum"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document weighted Bernoulli sampling — the continuous-weight
# companion to sample_stratified (fixed rate) and dataset_mixture_sample
# (per-domain rate): each document's keep-probability is proportional to
# ITS OWN quality weight (here: distinct-token count, capped at
# WSAMPLE_REF). The keep decision is a pure integer comparison between a
# content-addressed 48-bit uniform (md5 of the doc id — stable across
# engines, re-runs, and repartitioning) and the weight — the standard
# quality-weighted downsampling step of a pre-training data pipeline,
# with zero RNG state and zero shuffle (the decision rides the scan).
# ---------------------------------------------------------------------------

WSAMPLE_REF = 50  # weight cap: docs with >= 50 distinct tokens always kept


@register(
    "sample_weighted_bernoulli",
    tags=("llm", "sampling", "projection"),
    oracle=f"""
WITH weighted AS (
  SELECT doc_id, source,
         LEAST(len(list_distinct(string_split(text, ' '))), {WSAMPLE_REF}) AS w,
         {duck_md5_int("'wsample:' || CAST(doc_id AS VARCHAR)", 12)} AS u48
  FROM documents
)
SELECT doc_id, source, CAST(w AS BIGINT) AS weight
FROM weighted
WHERE u48 * {WSAMPLE_REF} < w * 281474976710656
""",
)
def sample_weighted_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted Bernoulli sample of the corpus: keep doc i with
    probability w_i/WSAMPLE_REF where w_i = min(distinct tokens,
    WSAMPLE_REF). The uniform is the first 48 bits of
    md5('wsample:'||doc_id) and the decision is the exact integer
    comparison u48·REF < w·2^48 (all quantities < 2^54 — no overflow, no
    float), so the sample is content-addressed: identical in both
    engines, under any partitioning, across re-runs — the reproducible
    alternative to df.sample()'s partitioning-dependent RNG. Map-only:
    the weight and the decision both pipeline inside the scan; at 100 TB
    this is a zero-shuffle filter whose selectivity follows the corpus
    quality distribution."""
    docs = load_table(spark, sf_dir, "documents")
    w = F.least(
        F.size(F.array_distinct(F.split("text", " "))), F.lit(WSAMPLE_REF)
    )
    u48 = md5_int(F.concat(F.lit("wsample:"), F.col("doc_id").cast("string")), 12)
    return (
        docs.select("doc_id", "source", w.alias("w"), u48.alias("u48"))
        .filter(F.col("u48") * WSAMPLE_REF < F.col("w") * F.lit(281474976710656))
        .select("doc_id", "source", F.col("w").cast("long").alias("weight"))
    )


# Weighted systematic sampling: one selection point every STEP = W/M
# cents of cumulative weight along a content-addressed permutation
# (md5 of the key — deterministic, partition-independent). M is the
# target sample size; rows heavier than STEP can absorb several points
# (n_points > 1), the standard PPS-systematic property.
SYSSAMPLE_M = 200


def _syssample_ranked(
    spark: SparkSession, sf_dir: str, checkpoint: bool = True
) -> DataFrame:
    """Ranked frame of the PPS-systematic sampler: range exchange on the
    md5 permutation key, partition-id-scoped cumulative window. The
    ``checkpoint`` flag exists for tests/test_plans.py, which pins the
    two-level prefix-sum topology on the pre-checkpoint plan (the
    checkpoint hides the window from the final query's plan)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    # cents exactly: decimal(18,2) * 100 stays integral (double *100 can
    # land on x.9999…; the decimal cast is the money convention)
    perm = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("weight_cents"),
        F.md5(
            F.concat(F.lit("syssample:"), F.col("o_orderkey").cast("string"))
        ).alias("_h"),
    )
    part = perm.repartitionByRange(F.col("_h"), F.col("o_orderkey")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy("_h", "o_orderkey")
    ranked = part.withColumn("_lcum", F.sum("weight_cents").over(w))
    # localCheckpoint, not cache (r9 ADVICE): three consumers (offsets,
    # total, final join) reuse the materialized ranked table, lineage is
    # truncated, and the blocks are GC-freed when the result is dropped —
    # no cache-catalog entry left pinned across a long session.
    return ranked.localCheckpoint() if checkpoint else ranked


@register(
    "sample_weighted_systematic",
    tags=("llm", "sampling", "projection"),
    oracle=f"""
WITH perm AS (
  SELECT o_orderkey,
         CAST(o_totalprice * 100 AS BIGINT) AS weight_cents,
         md5('syssample:' || CAST(o_orderkey AS VARCHAR)) AS h
  FROM orders
), cum AS (
  SELECT o_orderkey, weight_cents,
         CAST(SUM(weight_cents) OVER (ORDER BY h, o_orderkey
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_weight,
         CAST(SUM(weight_cents) OVER () AS BIGINT) AS total_w
  FROM perm
)
SELECT o_orderkey, weight_cents, cum_weight,
       CAST(cum_weight // greatest(total_w // {SYSSAMPLE_M}, 1)
            - (cum_weight - weight_cents) // greatest(total_w // {SYSSAMPLE_M}, 1)
            AS BIGINT) AS n_points
FROM cum
WHERE cum_weight // greatest(total_w // {SYSSAMPLE_M}, 1)
      > (cum_weight - weight_cents) // greatest(total_w // {SYSSAMPLE_M}, 1)
""",
)
def sample_weighted_systematic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probability-proportional-to-size SYSTEMATIC sample: order rows by
    a content-addressed permutation (md5 of the key), take one selection
    point every STEP = total_weight/M cents of cumulative weight — a row
    is kept iff its cumulative-weight interval contains a multiple of
    STEP, i.e. exact integer arithmetic end to end (weights are cents;
    no float, no RNG). Systematic PPS gives lower variance than
    independent Bernoulli at the same expected size and is the standard
    survey/training-data subsampling design when weights are skewed.

    Scale: the prefix sum is NOT a global single-partition window — the
    same two-level topology as _distributed_ntile: range-exchange on the
    permutation key, a per-partition-id window (parallel), then
    partition offsets via a triangular join over the partition-count-
    grain sums (bounded by config, not data) broadcast back. One range
    exchange of the fact table total; survives any blow-up of orders."""
    part = _syssample_ranked(spark, sf_dir)
    sums = part.groupBy("_pid").agg(F.sum("weight_cents").alias("_ps"))
    sa, sb = sums.alias("sa"), sums.alias("sb")
    offs = (
        sa.join(F.broadcast(sb), F.col("sb._pid") < F.col("sa._pid"), "left")
        .groupBy(F.col("sa._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("sb._ps"), F.lit(0)).alias("_off"))
    )
    tot = sums.agg(F.sum("_ps").alias("_w"))
    cum = (
        part.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(tot))
        .withColumn("cum_weight", F.col("_off") + F.col("_lcum"))
        # greatest(step, 1) (r9 ADVICE): total weight < M would make the
        # step 0 → division by zero (NULL) downstream in BOTH engines;
        # clamping to 1 degrades to "select every row ≥1 cent" instead,
        # mirrored in the oracle SQL.
        .withColumn("_step", F.expr(f"greatest(_w div {SYSSAMPLE_M}, 1)"))
    )
    n_points = F.expr(
        "cum_weight div _step - (cum_weight - weight_cents) div _step"
    )
    return (
        cum.withColumn("n_points", n_points.cast("long"))
        .filter(F.col("n_points") >= 1)
        .select("o_orderkey", "weight_cents", "cum_weight", "n_points")
    )
