"""Physical-layout operators: ORC sink/scan, hive-partitioned parquet
with partition pruning, and Z-order (Morton) clustering keys.

At 100 TB the dominant cost of most queries is the scan, and the scan
cost is set by decisions made at *write* time: file format, partition
directories the planner can prune without opening a file, and row-group
clustering so min/max stats skip pages for multi-dimensional predicates.
The reference uploads raw CSV bytes and leaves layout to the server
(/root/reference/src/utils/fileHandling.js:12-47, import.js:26-221);
here layout is a first-class engine operation, and each layout query is
oracle-checked by computing the same answer from the original parquet —
a correct layout job changes bytes on disk, never values.

All artifacts land under ``<repo>/spark-warehouse/layouts/<sf-tag>/``
(git-ignored) with ``mode("overwrite")`` so every run is idempotent.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..registry import register
from ._shared import dsum
from .crosshash import duck_md5_int, spark_md5_int

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def layout_dir(sf_dir: str, name: str) -> str:
    """Per-SF artifact directory so sf0.001/sf0.01/sf0.1 runs never mix."""
    tag = os.path.basename(os.path.normpath(sf_dir)) or "default"
    return os.path.join(_REPO_ROOT, "spark-warehouse", "layouts", tag, name)


@register(
    "layout_orc_roundtrip",
    tags=("layout", "source", "sink", "orc"),
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2001-06-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def layout_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interop: rewrite a lineitem projection as ORC,
    scan it back with a predicate, and prove the roundtrip is lossless by
    matching the aggregate computed from the original parquet.

    Scale shape: the write is a format transcode — no shuffle, one task
    per input split. The read-back filter reaches the ORC reader
    (predicate pushdown works for ORC exactly as for parquet; asserted in
    tests/test_layouts.py), so downstream only pays for matching stripes."""
    out = layout_dir(sf_dir, "lineitem_orc")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_shipdate"
    )
    li.write.mode("overwrite").orc(out)
    back = spark.read.orc(out).filter(
        F.col("l_shipdate") >= F.lit("2001-06-01").cast("timestamp_ntz")
    )
    return back.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
        dsum("l_extendedprice").alias("sum_price"),
    )


@register(
    "layout_partitioned_pruning",
    tags=("layout", "partitioning", "pruning"),
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders
WHERE year(o_orderdate) = 2001
GROUP BY 1, 2
""",
)
def layout_partitioned_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned layout + partition-pruned read: write orders
    into ``o_year=YYYY/`` directories, then answer a one-year question by
    scanning only that directory. The planner resolves the pruning from
    directory names alone (`PartitionFilters` in the scan node, zero data
    files opened outside the year — asserted in tests/test_layouts.py).

    At 100 TB this is the difference between scanning the fleet and
    scanning 1/Nth of it; partition count stays bounded (one per year)
    so the metadata listing never becomes its own bottleneck."""
    out = layout_dir(sf_dir, "orders_by_year")
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    orders.write.mode("overwrite").partitionBy("o_year").parquet(out)
    pruned = spark.read.parquet(out).filter(F.col("o_year") == 2001)
    return pruned.groupBy(
        F.col("o_year").cast("int").alias("o_year"), "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        dsum("o_totalprice").alias("revenue"),
    )


def _morton16(x: F.Column, y: F.Column) -> F.Column:
    """Interleave the low 8 bits of x (even positions) and y (odd):
    a 16-bit Morton/Z-order key, as one integer expression."""
    terms = []
    for i in range(8):
        terms.append(F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)), 2 * i))
        terms.append(F.shiftleft(F.shiftright(y, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    z = terms[0]
    for t in terms[1:]:
        z = z + t
    return z


def _morton16_sql(x: str, y: str) -> str:
    """The identical interleave in portable SQL for the DuckDB oracle."""
    terms = []
    for i in range(8):
        terms.append(f"((({x} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({y} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


@register(
    "layout_zorder_stats",
    tags=("layout", "zorder", "clustering"),
    oracle=f"""
WITH keyed AS (
  SELECT o_orderkey,
         CAST(o_custkey % 256 AS BIGINT) AS x,
         CAST((CAST(o_orderdate AS DATE) - DATE '1970-01-01') % 256 AS BIGINT) AS y
  FROM orders
), z AS (
  SELECT o_orderkey, x, y, {_morton16_sql("x", "y")} AS zkey FROM keyed
)
SELECT zkey >> 8 AS zblock,
       COUNT(*) AS n,
       MIN(x) AS min_x, MAX(x) AS max_x,
       MIN(y) AS min_y, MAX(y) AS max_y
FROM z
GROUP BY 1
""",
)
def layout_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key + the block statistics that justify it.

    Morton-interleave (customer bucket, order-day bucket) into a 16-bit
    key, then report per-256-key-block min/max of BOTH dimensions: every
    block spans ≤1/16 of each axis (max−min ≤ 15 — asserted in
    tests/test_layouts.py), which is exactly why sorting files by zkey
    lets parquet row-group min/max stats skip data for predicates on
    *either* column. The key is pure integer bit-math — bit-identical in
    any engine — and the layout job itself is just
    ``repartitionByRange(zkey).sortWithinPartitions(zkey).write``."""
    orders = load_table(spark, sf_dir, "orders")
    x = (F.col("o_custkey") % 256).cast("long")
    y = (F.unix_date(F.col("o_orderdate").cast("date")) % 256).cast("long")
    z = orders.select(
        "o_orderkey", x.alias("x"), y.alias("y")
    ).withColumn("zkey", _morton16(F.col("x"), F.col("y")))
    return z.groupBy(F.shiftright("zkey", 8).alias("zblock")).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


@register(
    "layout_bucketed_join",
    tags=("layout", "bucketing", "join"),
    oracle="""
SELECT o_orderstatus,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def layout_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located fact⋈fact join — SCALE.md's layout fix for the
    orders⋈lineitem exchange. Both tables are written ``bucketBy(8,
    orderkey).sortBy(orderkey)``; reading them back, the SortMergeJoin
    plans with ZERO shuffle exchanges on either side (asserted in
    tests/test_bucketing.py) because bucket files are already co-located
    and co-sorted on the join key.

    At 100 TB this converts the single biggest repeated shuffle (the two
    largest tables, re-exchanged by every orders⋈lineitem query) into a
    one-time write-side cost amortized across every downstream join on
    the same key. The merge hint only matters at fixture size, where the
    planner would otherwise broadcast; at scale SMJ is its natural pick.
    The oracle recomputes the same aggregate from the original parquet —
    a correct layout job changes bytes on disk, never values."""
    tag = (os.path.basename(os.path.normpath(sf_dir)) or "default").replace(
        ".", "_"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    tables = (
        (li, f"li_bucketed_{tag}", "l_orderkey"),
        (orders, f"o_bucketed_{tag}", "o_orderkey"),
    )
    for df, name, key in tables:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", layout_dir(sf_dir, name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    joined = spark.table(tables[0][1]).join(
        spark.table(tables[1][1]).hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    return joined.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("l_quantity").alias("sum_qty"),
    )


# Compaction planner knobs: manifest granularity (docs per simulated file)
# and the target compacted size. The planner is pure SQL over a manifest,
# so these only shape the fixture; production feeds the real file listing.
COMPACT_DOCS_PER_FILE = 8
COMPACT_TARGET_BYTES = 1500


@register(
    "layout_compaction_plan",
    tags=("layout", "compaction", "maintenance"),
    oracle=f"""
WITH manifest AS (
  SELECT source, doc_id // {COMPACT_DOCS_PER_FILE} AS file_id,
         CAST(SUM(n_chars) AS BIGINT) AS file_bytes,
         COUNT(*) AS n_docs
  FROM documents GROUP BY source, doc_id // {COMPACT_DOCS_PER_FILE}
), packed AS (
  SELECT source, file_id, file_bytes, n_docs,
         (CAST(SUM(file_bytes) OVER (
            PARTITION BY source
            ORDER BY file_bytes DESC, file_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) - file_bytes)
           // {COMPACT_TARGET_BYTES} AS bin_raw
  FROM manifest
), binned AS (
  SELECT source, file_id, file_bytes, n_docs,
         DENSE_RANK() OVER (PARTITION BY source ORDER BY bin_raw) - 1 AS bin_id
  FROM packed
)
SELECT source, file_id, file_bytes, n_docs, bin_id,
       CAST(SUM(file_bytes) OVER (PARTITION BY source, bin_id) AS BIGINT)
         AS bin_bytes,
       CAST(COUNT(*) OVER (PARTITION BY source, bin_id) AS BIGINT) AS bin_files
FROM binned
""",
)
def layout_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner (the OPTIMIZE/bin-packing maintenance
    job every long-lived 100 TB table needs): given a file manifest
    (here simulated deterministically as ~{8}-doc groups with byte sizes
    from n_chars; in production the real listing / transaction log), pack
    each partition directory's files into target-size rewrite bins by
    next-fit-decreasing: files sorted by size desc, running byte total,
    raw bin = (cumsum - bytes) div target, then DENSE_RANK per source so
    bin ids stay contiguous even when one file exceeds the target (an
    oversized file spans several raw intervals and would otherwise leave
    phantom empty bin ids in the plan). Output is the rewrite plan — one
    row per file with its bin assignment and the bin's totals — which a
    rewriter executes as one partitioned read+coalesced write per bin.

    Scale shape: planning is SQL over the MANIFEST (millions of rows for
    100 TB, i.e. tiny); both windows partition by the directory key
    `source`, so no global single-partition window exists. Integer
    `div`/`//` on both sides — no float in bin math."""
    docs = load_table(spark, sf_dir, "documents")
    manifest = docs.groupBy(
        "source",
        F.expr(f"doc_id div {COMPACT_DOCS_PER_FILE}").alias("file_id"),
    ).agg(
        F.sum("n_chars").cast("long").alias("file_bytes"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    cum_w = (
        Window.partitionBy("source")
        .orderBy(F.col("file_bytes").desc(), "file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = manifest.withColumn(
        "cum_bytes", F.sum("file_bytes").over(cum_w)
    ).withColumn(
        "bin_raw",
        F.expr(f"(cum_bytes - file_bytes) div {COMPACT_TARGET_BYTES}"),
    )
    rank_w = Window.partitionBy("source").orderBy("bin_raw")
    packed = packed.withColumn(
        "bin_id", (F.dense_rank().over(rank_w) - 1).cast("long")
    )
    bin_w = Window.partitionBy("source", "bin_id")
    return packed.select(
        "source",
        "file_id",
        "file_bytes",
        "n_docs",
        "bin_id",
        F.sum("file_bytes").over(bin_w).cast("long").alias("bin_bytes"),
        F.count(F.lit(1)).over(bin_w).cast("long").alias("bin_files"),
    )


# ---------------------------------------------------------------------------
# Rendezvous (highest-random-weight) shard assignment
# ---------------------------------------------------------------------------
# Stateless consistent placement: a doc's shard is the argmax over shards of
# hash(doc_id, shard). Growing the ring from N to N+1 shards can, by
# construction, move a doc ONLY onto the new shard (its old winner still has
# the same weight and loses only to the newcomer) — the minimal-disruption
# law this operator's oracle hash literally enforces (moved_in = 0 for every
# pre-existing shard).
SHARDS_BEFORE = 8
SHARDS_AFTER = 9

_HRW_H_DUCK = duck_md5_int("doc_id::VARCHAR || '#' || s::VARCHAR")

_HRW_ORACLE = f"""
WITH h AS (
  SELECT doc_id, s, {_HRW_H_DUCK} AS hv
  FROM documents, UNNEST(range({SHARDS_AFTER})) AS u(s)
), assign AS (
  SELECT doc_id,
         arg_max(s, hv) FILTER (s < {SHARDS_BEFORE}) AS old_shard,
         arg_max(s, hv) AS new_shard
  FROM h GROUP BY doc_id
), pairs AS (
  SELECT old_shard, new_shard, COUNT(*) AS n FROM assign GROUP BY 1, 2
)
SELECT CAST(g.shard AS INT) AS shard,
       CAST(COALESCE(SUM(n) FILTER (p.old_shard = g.shard), 0) AS BIGINT) AS n_before,
       CAST(COALESCE(SUM(n) FILTER (p.new_shard = g.shard), 0) AS BIGINT) AS n_after,
       CAST(COALESCE(SUM(n) FILTER (
         p.new_shard = g.shard AND p.old_shard <> p.new_shard), 0) AS BIGINT) AS moved_in,
       CAST(COALESCE(SUM(n) FILTER (
         p.old_shard = g.shard AND p.old_shard <> p.new_shard), 0) AS BIGINT) AS moved_out
FROM (SELECT UNNEST(range({SHARDS_AFTER})) AS shard) g CROSS JOIN pairs p
GROUP BY g.shard
"""


@register(
    "layout_rendezvous_shards",
    tags=("llm", "layout", "sharding", "consistent-hashing"),
    oracle=_HRW_ORACLE,
)
def layout_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard assignment audit across a ring resize
    (8 → 9 shards): per shard, the population before and after, docs
    moved in, docs moved out. The HRW minimal-disruption law makes a
    sharp, hash-checkable prediction — moved_in MUST be 0 for every
    pre-existing shard (a doc re-homes only when the NEW shard wins its
    rendezvous), and the expected moved share is 1/9 of the corpus.
    This is the placement story at 100 TB: shard routing is a pure
    per-row expression (no directory service, no lookup join, no
    state), and resharding re-writes ~1/(N+1) of the data instead of
    the ~(N-1)/N a mod-N scheme would.

    Plan shape: map-only per-row argmax over a 9-element struct array
    (array_max, JVM whole-stage codegen, zero shuffle for routing);
    the audit aggregate collapses to an ≤81-row (old, new) pair table
    map-side before the only exchange."""
    docs = load_table(spark, sf_dir, "documents")

    def weight(s: int):
        return F.expr(spark_md5_int(f"concat(CAST(doc_id AS STRING), '#', '{s}')"))

    arr = F.array(
        *[
            F.struct(weight(s).alias("hv"), F.lit(s).alias("s"))
            for s in range(SHARDS_AFTER)
        ]
    )
    assigned = docs.select(
        F.array_max(F.filter(arr, lambda x: x.s < SHARDS_BEFORE))["s"].alias(
            "old_shard"
        ),
        F.array_max(arr)["s"].alias("new_shard"),
    )
    pairs = assigned.groupBy("old_shard", "new_shard").agg(
        F.count(F.lit(1)).alias("n")
    )
    shards = spark.range(SHARDS_AFTER).select(F.col("id").cast("int").alias("shard"))
    moved = F.col("old_shard") != F.col("new_shard")
    return (
        shards.crossJoin(F.broadcast(pairs))
        .groupBy("shard")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("old_shard") == F.col("shard"), F.col("n"))),
                F.lit(0),
            ).alias("n_before"),
            F.coalesce(
                F.sum(F.when(F.col("new_shard") == F.col("shard"), F.col("n"))),
                F.lit(0),
            ).alias("n_after"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("new_shard") == F.col("shard")) & moved, F.col("n")
                    )
                ),
                F.lit(0),
            ).alias("moved_in"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("old_shard") == F.col("shard")) & moved, F.col("n")
                    )
                ),
                F.lit(0),
            ).alias("moved_out"),
        )
    )


# ---------------------------------------------------------------------------
# Zone maps / data skipping — why clustering decides scan cost
# ---------------------------------------------------------------------------
ZM_SHARDS = 16
ZM_EPOCH = "DATE '1992-01-01'"
ZM_LO, ZM_HI = 1095, 1185  # predicate window in epoch days (~1995 Q1)

_ZONEMAP_ORACLE = f"""
WITH rows_keyed AS (
  SELECT {duck_md5_int("CAST(l_orderkey AS VARCHAR)")} % {ZM_SHARDS} AS hash_shard,
         datediff('day', {ZM_EPOCH}, CAST(l_shipdate AS DATE)) AS ship_day
  FROM lineitem
), tagged AS (
  SELECT 'clustered' AS layout, ship_day // 90 AS shard, ship_day
  FROM rows_keyed
  UNION ALL
  SELECT 'hashed' AS layout, hash_shard AS shard, ship_day
  FROM rows_keyed
)
SELECT layout, CAST(shard AS BIGINT) AS shard,
       COUNT(*) AS n_rows,
       CAST(MIN(ship_day) AS BIGINT) AS min_day,
       CAST(MAX(ship_day) AS BIGINT) AS max_day,
       (MAX(ship_day) >= {ZM_LO} AND MIN(ship_day) <= {ZM_HI}) AS scanned,
       CAST(SUM(CASE WHEN ship_day BETWEEN {ZM_LO} AND {ZM_HI}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_matching
FROM tagged
GROUP BY layout, shard
"""


@register(
    "layout_zonemap_prune",
    tags=("layout", "pruning", "zonemap"),
    oracle=_ZONEMAP_ORACLE,
)
def layout_zonemap_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map (min/max statistics) pruning audit — the file-skipping
    mechanism behind parquet row-group stats, Iceberg/Delta manifests,
    and every "data skipping" marketing slide, made measurable: the SAME
    lineitem rows are sharded two ways — date-CLUSTERED (90-day range
    shards, the sorted-write layout) and HASHED on l_orderkey (the
    load-balanced layout) — and each shard's zone map (min/max ship day,
    row count) is evaluated against a fixed 3-month predicate window.
    ``scanned`` is the zone-map verdict (shard min/max overlaps the
    predicate); ``n_matching`` is the truth. Clustered shards are either
    fully scanned-and-matching or cleanly pruned; hashed shards ALL
    overlap (every shard spans the full date range), so the zone map
    prunes nothing — the quantitative case for sorting on the predicate
    column at write time. At 100 TB the pruned fraction is the scan-cost
    ratio: the clustered layout reads ~1/28 of the shards for this
    predicate, the hashed layout reads all of them.

    Plan shape: one scan, both layouts tagged from the same row (a
    2x row explode via UNION of two projections), one shard-grain
    aggregate — n_shards-bounded output, no window, no join. The hash
    shard uses the md5 60-bit bridge so both engines agree bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            f"{spark_md5_int('CAST(l_orderkey AS STRING)')} % {ZM_SHARDS}"
        ).alias("hash_shard"),
        F.expr(f"datediff(CAST(l_shipdate AS DATE), {ZM_EPOCH})").alias(
            "ship_day"
        ),
    )
    tagged = li.select(
        F.lit("clustered").alias("layout"),
        F.expr("ship_day div 90").alias("shard"),
        "ship_day",
    ).unionAll(
        li.select(
            F.lit("hashed").alias("layout"),
            F.col("hash_shard").alias("shard"),
            "ship_day",
        )
    )
    return tagged.groupBy("layout", F.col("shard").cast("long").alias("shard")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("ship_day").cast("long").alias("min_day"),
        F.max("ship_day").cast("long").alias("max_day"),
        (
            (F.max("ship_day") >= ZM_LO) & (F.min("ship_day") <= ZM_HI)
        ).alias("scanned"),
        F.sum(
            F.when(F.col("ship_day").between(ZM_LO, ZM_HI), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_matching"),
    )


_OVERLAP_DEPTH_ORACLE = f"""
WITH rows_keyed AS (
  SELECT {duck_md5_int("CAST(l_orderkey AS VARCHAR)")} % {ZM_SHARDS} AS hash_shard,
         datediff('day', {ZM_EPOCH}, CAST(l_shipdate AS DATE)) AS ship_day
  FROM lineitem
), tagged AS (
  SELECT 'clustered' AS layout, ship_day // 90 AS shard, ship_day
  FROM rows_keyed
  UNION ALL
  SELECT 'hashed' AS layout, hash_shard AS shard, ship_day
  FROM rows_keyed
), zones AS (
  SELECT layout, shard, MIN(ship_day) AS min_day, MAX(ship_day) AS max_day
  FROM tagged GROUP BY layout, shard
), bounds AS (
  SELECT layout, min_day AS day, 1 AS delta FROM zones
  UNION ALL
  SELECT layout, max_day + 1 AS day, -1 AS delta FROM zones
), day_grain AS (
  SELECT layout, day, SUM(delta) AS d FROM bounds GROUP BY layout, day
), depth AS (
  SELECT layout, day,
         CAST(SUM(d) OVER (PARTITION BY layout ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS depth
  FROM day_grain
), mx AS (
  SELECT layout, MAX(depth) AS max_overlap_depth FROM depth GROUP BY layout
), ns AS (
  SELECT layout, COUNT(*) AS n_shards FROM zones GROUP BY layout
)
SELECT d.layout, CAST(ns.n_shards AS BIGINT) AS n_shards,
       mx.max_overlap_depth,
       CAST(MIN(d.day) AS BIGINT) AS first_day_at_max
FROM depth d
JOIN mx ON mx.layout = d.layout AND d.depth = mx.max_overlap_depth
JOIN ns ON ns.layout = d.layout
GROUP BY d.layout, ns.n_shards, mx.max_overlap_depth
"""


@register(
    "layout_overlap_depth",
    tags=("layout", "clustering", "zonemap"),
    oracle=_OVERLAP_DEPTH_ORACLE,
)
def layout_overlap_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-depth audit — the metric OPTIMIZE/re-clustering
    decisions key on: for each layout's shard zone maps, the maximum
    number of shards whose [min, max] ranges overlap any single sort-key
    value (boundary sweep: +1 at min_day, −1 at max_day+1, running sum,
    max). A perfectly clustered table has depth 1 (any point predicate
    touches one shard); the hash layout's every shard spans the whole
    range, so its depth equals the shard count — this op turns
    layout_zonemap_prune's per-predicate verdict into the predicate-
    independent structural number a table-maintenance service watches.

    Plan shape: the shard zone maps are one shard-grain aggregate of the
    fact scan (manifest-sized output); the sweep explodes 2 boundary
    rows per SHARD (not per row), aggregates to day grain and runs one
    window over the ~day-count-sized series per layout — everything
    after the first aggregate is manifest-grain, so the audit costs one
    fact scan regardless of table size."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select(
        F.expr(
            f"{spark_md5_int('CAST(l_orderkey AS STRING)')} % {ZM_SHARDS}"
        ).alias("hash_shard"),
        F.expr(f"datediff(CAST(l_shipdate AS DATE), {ZM_EPOCH})").alias(
            "ship_day"
        ),
    )
    tagged = li.select(
        F.lit("clustered").alias("layout"),
        F.expr("ship_day div 90").alias("shard"),
        "ship_day",
    ).unionAll(
        li.select(
            F.lit("hashed").alias("layout"),
            F.col("hash_shard").alias("shard"),
            "ship_day",
        )
    )
    zones = tagged.groupBy("layout", "shard").agg(
        F.min("ship_day").alias("min_day"), F.max("ship_day").alias("max_day")
    )
    bounds = zones.select(
        "layout",
        F.explode(
            F.array(
                F.struct(F.col("min_day").alias("day"), F.lit(1).alias("delta")),
                F.struct(
                    (F.col("max_day") + 1).alias("day"), F.lit(-1).alias("delta")
                ),
            )
        ).alias("b"),
    ).select("layout", F.col("b.day").alias("day"), F.col("b.delta").alias("delta"))
    day_grain = bounds.groupBy("layout", "day").agg(F.sum("delta").alias("d"))
    w = (
        Window.partitionBy("layout")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    depth = day_grain.withColumn("depth", F.sum("d").over(w).cast("long"))
    mx = depth.groupBy(F.col("layout").alias("mx_layout")).agg(
        F.max("depth").alias("max_overlap_depth")
    )
    ns = zones.groupBy("layout").agg(F.count(F.lit(1)).alias("n_shards"))
    return (
        depth.join(
            F.broadcast(mx),
            (F.col("layout") == F.col("mx_layout"))
            & (F.col("depth") == F.col("max_overlap_depth")),
        )
        .drop("mx_layout")
        .join(F.broadcast(ns), "layout")
        .groupBy("layout", "n_shards", "max_overlap_depth")
        .agg(F.min("day").cast("long").alias("first_day_at_max"))
        .select("layout", "n_shards", "max_overlap_depth", "first_day_at_max")
    )


# ---------------------------------------------------------------------------
# Copy-on-write MERGE sink (VERDICT r9 #7): merge_upsert_actions computes
# the action set; this completes it into an actual table rewrite. No
# Delta/Iceberg library exists in this environment, so the sink implements
# the copy-on-write core those formats share: hash-partitioned parquet
# target, affected-partition discovery from the update set, and a dynamic
# partition overwrite that rewrites ONLY the touched directories — the
# audit is then computed FROM THE REWRITTEN FILES, so a hash match proves
# the end-to-end upsert (seed -> merge -> commit -> read-back) applied
# exactly the oracle's MERGE semantics.
# ---------------------------------------------------------------------------

MERGE_PARTS = 16  # hash-partition count of the merge target layout


def seed_merge_target(cust: DataFrame, path: str) -> None:
    """Materialize the merge target: (key, bal_cents, action='seed')
    hash-partitioned into pk = key % MERGE_PARTS directories."""
    (
        cust.select(
            F.col("key"),
            F.col("bal_cents"),
            F.lit("seed").alias("action"),
            (F.col("key") % MERGE_PARTS).alias("pk"),
        )
        .repartition("pk")
        .write.mode("overwrite")
        .partitionBy("pk")
        .parquet(path)
    )


def cow_merge(spark: SparkSession, path: str, updates: DataFrame) -> list[int]:
    """Copy-on-write MERGE of ``updates`` (key, new_cents) into the seeded
    target at ``path``: WHEN MATCHED UPDATE bal, WHEN NOT MATCHED INSERT,
    NOT MATCHED BY SOURCE KEEP (by never rewriting untouched partitions
    at all). Returns the affected partition ids.

    Scale shape: affected-pk discovery is a distinct-aggregate over the
    update set only (config-grain result, <= MERGE_PARTS values — the
    collect is bounded by layout config, not data); the target read is
    partition-PRUNED to those directories; the rewrite is one shuffle of
    affected-partition rows + the update set. Untouched directories keep
    their files byte-identical — the property the unit test pins."""
    upd = updates.select(
        F.col("key").alias("u_key"),
        F.col("new_cents"),
        (F.col("key") % MERGE_PARTS).alias("pk"),
    )
    affected = sorted(
        r.pk for r in upd.select("pk").distinct().collect()
    )
    target = spark.read.parquet(path).filter(F.col("pk").isin(affected))
    merged = (
        target.join(upd.drop("pk"), target["key"] == F.col("u_key"), "full_outer")
        .select(
            F.coalesce(target["key"], F.col("u_key")).alias("key"),
            F.when(F.col("u_key").isNull(), F.col("bal_cents"))
            .otherwise(F.col("new_cents"))
            .alias("bal_cents"),
            F.when(target["key"].isNull(), F.lit("insert"))
            .when(F.col("u_key").isNull(), F.lit("keep"))
            .otherwise(F.lit("update"))
            .alias("action"),
        )
        .withColumn("pk", F.col("key") % MERGE_PARTS)
        # break lineage from the files being overwritten (Spark refuses
        # to overwrite a path its plan is still reading)
        .localCheckpoint()
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        merged.repartition("pk").write.mode("overwrite").partitionBy("pk").parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return affected


@register(
    "merge_cow_parquet",
    tags=("join", "merge", "layout", "sink"),
    oracle=f"""
WITH upd AS (
  SELECT o_custkey AS key,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
           AS new_cents
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
  GROUP BY 1
), tgt AS (
  SELECT c_custkey AS key,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal_cents
  FROM customer
), merged AS (
  SELECT COALESCE(t.key, u.key) AS key,
         CASE WHEN u.key IS NULL THEN t.bal_cents ELSE u.new_cents END AS bal,
         CASE WHEN t.key IS NULL THEN 'insert'
              WHEN u.key IS NULL THEN 'keep' ELSE 'update' END AS act
  FROM tgt t FULL OUTER JOIN upd u ON t.key = u.key
)
SELECT CAST(key % {MERGE_PARTS} AS INT) AS pk,
       CAST(COUNT(*) AS BIGINT) AS n_after,
       CAST(SUM(bal) AS BIGINT) AS sum_bal_cents,
       CAST(SUM(CASE WHEN act = 'update' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_update,
       CAST(SUM(CASE WHEN act = 'insert' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_insert,
       CAST(MAX(CASE WHEN act IN ('update', 'insert') THEN 1 ELSE 0 END)
            AS INT) AS rewritten
FROM merged
GROUP BY 1
""",
)
def merge_cow_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MERGE a user could actually run (VERDICT r9 #7): seed a
    hash-partitioned parquet target from customer balances (cents), MERGE
    the late-window per-customer order totals into it copy-on-write
    (rewriting only the partitions containing changed keys, via dynamic
    partition overwrite), then audit the RESULT FILES: per partition, the
    post-merge row count, exact balance sum, action counts, and whether
    the partition was rewritten. The DuckDB oracle simulates the same
    MERGE relationally, so a hash match proves the physical rewrite
    committed exactly the logical merge — the before/after row-count
    check the verdict asked for, per partition, from disk.

    Untouched partitions keep action='seed' rows byte-identical on disk
    (pinned by tests/test_r10_ops.py with planted inserts); their audit
    rows still match the oracle because seed balances ARE the keep
    balances and their update/insert counts are zero."""
    tgt_dir = layout_dir(sf_dir, "merge_cow_target")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
    )
    seed_merge_target(cust, tgt_dir)
    updates = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz"))
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("new_cents")
        )
    )
    cow_merge(spark, tgt_dir, updates)
    final = spark.read.parquet(tgt_dir)
    return final.groupBy(F.col("pk").cast("int").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_after"),
        F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
        F.sum((F.col("action") == "update").cast("int")).cast("long").alias("n_update"),
        F.sum((F.col("action") == "insert").cast("int")).cast("long").alias("n_insert"),
        F.max(F.col("action").isin("update", "insert").cast("int"))
        .cast("int")
        .alias("rewritten"),
    )


# ---------------------------------------------------------------------------
# Deletion vectors — the DELETE-side complement of the copy-on-write MERGE
# above, the mechanism Delta/Iceberg v2 use to avoid rewriting a partition
# for every erasure: deleted keys land in a small sidecar ("deletion
# vector"); readers anti-join it; a partition is physically rewritten only
# once its deleted fraction crosses a threshold, at which point its DV
# entries are dropped. Here the sidecar is a keyed parquet table (at 100 TB
# a roaring bitmap per file; the join shape is identical) and the erasure
# predicate is the GDPR-ish one: delete every order of a customer in bad
# standing (negative account balance).
# ---------------------------------------------------------------------------

DV_COMPACT_PPM = 85_000  # rewrite a partition once >8.5% of its rows are dead


def apply_deletes_dv(
    spark: SparkSession, path: str, deletes: DataFrame
) -> tuple[list[int], str]:
    """Apply ``deletes`` (key) to the seeded target at ``path``: write the
    deletion-vector sidecar for lightly-deleted partitions, physically
    compact (rewrite minus dead rows, dynamic partition overwrite) the
    partitions whose dead fraction exceeds DV_COMPACT_PPM, and clear their
    DV entries. Returns (compacted pks, dv sidecar path).

    Scale shape: the dead-fraction audit is one aggregate of the (small)
    delete set joined to per-partition counts; the compaction rewrite
    touches ONLY the partitions past threshold; every other partition's
    erasure costs one sidecar row per key — no data files touched."""
    dv_path = path.rstrip("/") + "_dv"
    dead = deletes.select(
        F.col("key").alias("d_key"), (F.col("key") % MERGE_PARTS).alias("pk")
    )
    part_counts = (
        spark.read.parquet(path).groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    )
    dead_counts = dead.groupBy("pk").agg(F.count(F.lit(1)).alias("n_dead"))
    frac = part_counts.join(dead_counts, "pk", "left").select(
        "pk",
        F.expr(
            "CAST(coalesce(n_dead, 0) * 1000000 div n AS BIGINT)"
        ).alias("dead_ppm"),
    )
    compact = sorted(
        r.pk for r in frac.filter(F.col("dead_ppm") > DV_COMPACT_PPM).collect()
    )
    # sidecar: deleted keys of NON-compacted partitions only
    dead.filter(~F.col("pk").isin(compact)).select("d_key", "pk").write.mode(
        "overwrite"
    ).parquet(dv_path)
    if compact:
        live = (
            spark.read.parquet(path)
            .filter(F.col("pk").isin(compact))
            .join(
                F.broadcast(dead.filter(F.col("pk").isin(compact)).select("d_key")),
                F.col("key") == F.col("d_key"),
                "left_anti",
            )
            .localCheckpoint()
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            live.repartition("pk").write.mode("overwrite").partitionBy("pk").parquet(
                path
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    return compact, dv_path


@register(
    "merge_delete_vectors",
    tags=("join", "merge", "layout", "sink", "privacy"),
    oracle=f"""
WITH tgt AS (
  SELECT o_orderkey AS key,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS val_cents,
         o_orderkey % {MERGE_PARTS} AS pk
  FROM orders
), del AS (
  SELECT o.o_orderkey AS key, o.o_orderkey % {MERGE_PARTS} AS pk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_acctbal < 0
), frac AS (
  SELECT t.pk,
         COUNT(*) AS n,
         CAST(SUM(CASE WHEN d.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dead,
         CAST(SUM(CASE WHEN d.key IS NOT NULL THEN 1 ELSE 0 END)
              * 1000000 // COUNT(*) AS BIGINT) AS dead_ppm
  FROM tgt t LEFT JOIN del d ON d.key = t.key
  GROUP BY t.pk
)
SELECT CAST(f.pk AS INT) AS pk,
       CAST(f.n - f.n_dead AS BIGINT) AS n_live,
       CAST(f.n_dead AS BIGINT) AS n_deleted,
       CAST(CASE WHEN f.dead_ppm > {DV_COMPACT_PPM}
                 THEN 0 ELSE f.n_dead END AS BIGINT) AS dv_residual,
       CAST(f.dead_ppm > {DV_COMPACT_PPM} AS INT) AS compacted,
       (SELECT CAST(SUM(val_cents) AS BIGINT) FROM tgt t2
        LEFT JOIN del d2 ON d2.key = t2.key
        WHERE t2.pk = f.pk AND d2.key IS NULL) AS sum_live_cents
FROM frac f
""",
)
def merge_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector erasure, end to end and audited FROM DISK: seed a
    hash-partitioned parquet target from orders (exact cents), delete
    every order belonging to a negative-balance customer, route
    lightly-deleted partitions through the DV sidecar (no data files
    touched) and physically compact only the partitions past
    DV_COMPACT_PPM, then audit the result by re-reading the files: the
    read path is scan ⊳ anti-join(sidecar); per partition the audit
    reports live rows, total deletions, residual DV size, whether it was
    compacted, and the exact live balance sum. The DuckDB oracle
    simulates the same policy relationally — a hash match proves the
    sidecar + selective-rewrite commit serves exactly DELETE semantics.

    This is the erasure shape that survives 100 TB: a right-to-be-
    forgotten request costs one sidecar row (not a partition rewrite),
    reads pay one broadcast anti-join against a key set ≪ corpus, and
    rewrite I/O is deferred until a partition is genuinely worth
    compacting."""
    tgt_dir = layout_dir(sf_dir, "delete_dv_target")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        (F.col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        "o_custkey",
    )
    seed_merge_target(orders.select("key", "bal_cents"), tgt_dir)
    bad_cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") < 0)
        .select("c_custkey")
    )
    deletes = orders.join(
        F.broadcast(bad_cust), orders["o_custkey"] == F.col("c_custkey")
    ).select("key")
    n_dead_by_pk = deletes.select(
        (F.col("key") % MERGE_PARTS).alias("pk")
    ).groupBy("pk").agg(F.count(F.lit(1)).alias("n_deleted"))
    compact, dv_path = apply_deletes_dv(spark, tgt_dir, deletes)
    dv = spark.read.parquet(dv_path).select("d_key")
    live = spark.read.parquet(tgt_dir).join(
        F.broadcast(dv), F.col("key") == F.col("d_key"), "left_anti"
    )
    audit = live.groupBy(F.col("pk").cast("int").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_live"),
        F.sum("bal_cents").cast("long").alias("sum_live_cents"),
    )
    dv_residual = (
        spark.read.parquet(dv_path)
        .groupBy(F.col("pk").cast("int").alias("pk"))
        .agg(F.count(F.lit(1)).alias("dv_residual"))
    )
    return (
        audit.join(
            F.broadcast(n_dead_by_pk.select(F.col("pk").cast("int").alias("pk"), "n_deleted")),
            "pk",
            "left",
        )
        .join(F.broadcast(dv_residual), "pk", "left")
        .select(
            "pk",
            "n_live",
            F.coalesce("n_deleted", F.lit(0)).cast("long").alias("n_deleted"),
            F.coalesce("dv_residual", F.lit(0)).cast("long").alias("dv_residual"),
            F.col("pk").isin(compact).cast("int").alias("compacted"),
            "sum_live_cents",
        )
    )


# ---------------------------------------------------------------------------
# Compaction EXECUTION (r10): layout_compaction_plan above plans the bins;
# this operator performs a real small-file compaction and audits the
# result from the actual file listings. Both the fragmented "before" state
# and the compacted "after" state are written with deterministic
# rows-per-file caps, so the physical file counts are exactly predictable
# (ceil division) and the whole physical operation hash-checks.
# ---------------------------------------------------------------------------

COMPACT_FRAG_ROWS = 50  # rows per file in the fragmented seed layout
COMPACT_APPLY_ROWS = 400  # rows per file after compaction


def _files_per_source(spark: SparkSession, path: str) -> DataFrame:
    """(source, n_files, n_rows) from the ACTUAL files on disk, computed
    distributively via input_file_name()."""
    return (
        spark.read.parquet(path)
        .select("source", F.input_file_name().alias("_f"))
        .groupBy("source")
        .agg(
            F.count_distinct("_f").alias("n_files"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "layout_compaction_apply",
    tags=("layout", "compaction", "maintenance", "sink"),
    oracle=f"""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST((COUNT(*) + {COMPACT_FRAG_ROWS} - 1) // {COMPACT_FRAG_ROWS}
            AS BIGINT) AS n_files_before,
       CAST((COUNT(*) + {COMPACT_APPLY_ROWS} - 1) // {COMPACT_APPLY_ROWS}
            AS BIGINT) AS n_files_after,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM documents
GROUP BY source
""",
)
def layout_compaction_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Execute a small-file compaction and prove it from disk: seed a
    hive-partitioned documents layout fragmented at {COMPACT_FRAG_ROWS}
    rows/file (the streaming-ingest pathology the maintenance job
    exists for), rewrite each source directory at {COMPACT_APPLY_ROWS}
    rows/file, and audit BOTH physical states via input_file_name() on
    the real listings — row counts and a content checksum (sum_chars)
    prove no data moved wrong, and the before/after file counts match
    the oracle's ceil arithmetic exactly because each source's rows hash
    to one writer task whose per-directory writer rolls at
    maxRecordsPerFile. ~{COMPACT_FRAG_ROWS}x fewer file opens for every
    later scan of the table.

    Scale shape: both writes are one shuffle on the directory key; the
    audits are scan + per-source aggregates. A 100 TB deployment bounds
    writer-task memory by also range-splitting giant sources (the
    layout_compaction_plan bins), which composes with this writer
    unchanged."""
    frag_dir = layout_dir(sf_dir, "compact_frag")
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    (
        docs.repartition("source")
        .sortWithinPartitions("source", "doc_id")
        .write.mode("overwrite")
        .partitionBy("source")
        .option("maxRecordsPerFile", COMPACT_FRAG_ROWS)
        .parquet(frag_dir)
    )
    before = _files_per_source(spark, frag_dir).select(
        "source",
        F.col("n_files").alias("n_files_before"),
        F.col("n_rows").alias("rows_before"),
    )
    compact_dir = layout_dir(sf_dir, "compact_applied")
    (
        spark.read.parquet(frag_dir)
        .repartition("source")
        .sortWithinPartitions("source", "doc_id")
        .write.mode("overwrite")
        .partitionBy("source")
        .option("maxRecordsPerFile", COMPACT_APPLY_ROWS)
        .parquet(compact_dir)
    )
    after = (
        spark.read.parquet(compact_dir)
        .select("source", F.input_file_name().alias("_f"), "n_chars")
        .groupBy("source")
        .agg(
            F.count_distinct("_f").alias("n_files_after"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )
    return before.join(after, "source").select(
        "source",
        "n_rows",
        F.col("n_files_before").cast("long").alias("n_files_before"),
        F.col("n_files_after").cast("long").alias("n_files_after"),
        "sum_chars",
    )


# ---------------------------------------------------------------------------
# Snapshot-log TIME TRAVEL (r11) — the read-side complement of the COW
# MERGE and deletion-vector sinks above, and the one classic
# table-format capability the maintenance family still lacked: data
# files are IMMUTABLE; every commit writes only the rewritten
# partitions' files under a new version directory plus a tiny JSON
# manifest mapping partition -> file list; reading "AS OF v" plans
# exactly the manifest's files. No Delta/Iceberg library exists in this
# environment, so this implements the shared core those formats layer
# their spec on (Iceberg snapshots / Delta checkpoints).
# ---------------------------------------------------------------------------

TT_PARTS = 16  # hash-partition count of the time-travel target


def _tt_write_version(df: DataFrame, data_root: str, version: int) -> dict[str, list[str]]:
    """Write one version's (affected) partitions as immutable files under
    ``data/v<version>/pk=<p>/`` and return {pk: [absolute files]}. The
    physical dirs use partitionBy for writer parallelism; the pk also
    travels INSIDE the files (pk_col) because AS-OF reads open explicit
    file lists that span version directories (no single basePath)."""
    out = os.path.join(data_root, f"v{version}")
    (
        df.withColumn("pk_col", F.col("pk"))
        .repartition("pk")
        .write.mode("overwrite")
        .partitionBy("pk")
        .parquet(out)
    )
    files: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(out)):
        if not entry.startswith("pk="):
            continue
        pdir = os.path.join(out, entry)
        files[entry.split("=", 1)[1]] = sorted(
            os.path.join(pdir, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
    return files


def _tt_commit(log_dir: str, version: int, files_by_pk: dict[str, list[str]]) -> None:
    """Atomic manifest commit: write-temp + rename, the same two-step
    every table format relies on for snapshot isolation."""
    import json as _json

    os.makedirs(log_dir, exist_ok=True)
    tmp = os.path.join(log_dir, f".v{version}.json.tmp")
    with open(tmp, "w") as f:
        _json.dump({"version": version, "files_by_pk": files_by_pk}, f, sort_keys=True)
    os.replace(tmp, os.path.join(log_dir, f"v{version}.json"))


def _tt_read_version(spark: SparkSession, log_dir: str, version: int) -> DataFrame:
    """AS-OF read: plan exactly the manifest's file list. At cluster
    scale the manifest is itself a table (Iceberg's manifest lists); here
    it is config-sized JSON — the read is still files-only, no directory
    listing of the live table."""
    import json as _json

    with open(os.path.join(log_dir, f"v{version}.json")) as f:
        manifest = _json.load(f)
    paths = [p for fl in manifest["files_by_pk"].values() for p in fl]
    return spark.read.parquet(*paths).select(
        "key", "bal_cents", F.col("pk_col").alias("pk")
    )


@register(
    "layout_time_travel",
    tags=("layout", "merge", "sink", "timetravel"),
    oracle=f"""
WITH v0 AS (
  SELECT c_custkey AS key,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal
  FROM customer
), upd AS (
  SELECT o_custkey AS key,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS new_bal
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-01-01 00:00:00'
  GROUP BY 1
), v1 AS (
  SELECT COALESCE(t.key, u.key) AS key,
         CASE WHEN u.key IS NULL THEN t.bal ELSE u.new_bal END AS bal
  FROM v0 t FULL OUTER JOIN upd u ON t.key = u.key
), v2 AS (
  SELECT key, bal FROM v1 WHERE bal >= 0
), audit AS (
  SELECT 0 AS version, COUNT(*) AS n_rows, SUM(bal) AS sum_bal,
         COUNT(*) AS n_inserts, 0 AS n_updates, 0 AS n_deletes
  FROM v0
  UNION ALL
  SELECT 1, (SELECT COUNT(*) FROM v1), (SELECT SUM(bal) FROM v1),
         (SELECT COUNT(*) FROM v1 a LEFT JOIN v0 b ON a.key = b.key
          WHERE b.key IS NULL),
         (SELECT COUNT(*) FROM v1 a JOIN v0 b ON a.key = b.key
          WHERE a.bal <> b.bal),
         0
  UNION ALL
  SELECT 2, (SELECT COUNT(*) FROM v2), (SELECT SUM(bal) FROM v2),
         0, 0,
         (SELECT COUNT(*) FROM v1 a LEFT JOIN v2 b ON a.key = b.key
          WHERE b.key IS NULL)
)
SELECT CAST(version AS INT) AS version,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(sum_bal AS BIGINT) AS sum_bal_cents,
       CAST(n_inserts AS BIGINT) AS n_inserts,
       CAST(n_updates AS BIGINT) AS n_updates,
       CAST(n_deletes AS BIGINT) AS n_deletes
FROM audit
""",
)
def layout_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-log time travel, end-to-end from disk: commit v0 (seed
    customer balances), v1 (copy-on-write MERGE of the late-window order
    totals — only partitions holding changed keys write new files), and
    v2 (DELETE of negative balances — again only affected partitions),
    each commit an atomic manifest rename over IMMUTABLE data files.
    Then read ALL THREE versions back AS OF their manifests — after v2
    committed — and audit each: row count, exact balance sum, and the
    insert/update/delete deltas vs the previous version. A hash match
    against the oracle's relational simulation of the same history
    proves both the commit semantics and SNAPSHOT ISOLATION: v0 and v1
    remain byte-readable and exactly correct after later commits, the
    property in-place overwrites (and merge_cow_parquet, by design)
    cannot give.

    Scale shape: per commit, affected-partition discovery is a bounded
    distinct over the change set (<= TT_PARTS, config-grain); version
    reads plan explicit file lists (no live-directory listing, no
    scan of untouched partitions' history); the version-delta audits are
    key-grain joins. Storage grows by rewritten partitions only — the
    Iceberg/Delta cost model. The manifest is driver-side JSON here;
    at cluster scale it becomes a manifest TABLE with the identical
    read shape (cites the format cores: Iceberg spec snapshots, Delta
    protocol checkpoints — public designs, reimplemented)."""
    root = layout_dir(sf_dir, "time_travel")
    data_root, log_dir = os.path.join(root, "data"), os.path.join(root, "log")

    # --- v0: seed ---
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100).cast("long").alias("bal_cents"),
        (F.col("c_custkey") % TT_PARTS).alias("pk"),
    )
    v0_files = _tt_write_version(cust, data_root, 0)
    _tt_commit(log_dir, 0, v0_files)

    # --- v1: COW merge (new files only for affected partitions) ---
    upd = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp_ntz"))
        .groupBy(F.col("o_custkey").alias("u_key"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("new_bal")
        )
        .withColumn("pk", F.col("u_key") % TT_PARTS)
    )
    affected1 = sorted(r.pk for r in upd.select("pk").distinct().collect())
    base = _tt_read_version(spark, log_dir, 0).filter(F.col("pk").isin(affected1))
    merged = (
        base.join(upd.drop("pk"), base["key"] == F.col("u_key"), "full_outer")
        .select(
            F.coalesce(base["key"], F.col("u_key")).alias("key"),
            F.when(F.col("u_key").isNull(), F.col("bal_cents"))
            .otherwise(F.col("new_bal"))
            .alias("bal_cents"),
        )
        .withColumn("pk", F.col("key") % TT_PARTS)
        .localCheckpoint()
    )
    v1_new = _tt_write_version(merged, data_root, 1)
    v1_files = {**v0_files, **v1_new}
    _tt_commit(log_dir, 1, v1_files)

    # --- v2: DELETE negative balances (rewrite only their partitions) ---
    v1_df = _tt_read_version(spark, log_dir, 1)
    affected2 = sorted(
        r.pk
        for r in v1_df.filter(F.col("bal_cents") < 0).select("pk").distinct().collect()
    )
    survivors = (
        v1_df.filter(F.col("pk").isin(affected2))
        .filter(F.col("bal_cents") >= 0)
        .localCheckpoint()
    )
    v2_new = _tt_write_version(survivors, data_root, 2)
    v2_files = {**v1_files, **v2_new}
    _tt_commit(log_dir, 2, v2_files)

    # --- audit every version AS OF its manifest, after all commits ---
    v0_r = _tt_read_version(spark, log_dir, 0)
    v1_r = _tt_read_version(spark, log_dir, 1)
    v2_r = _tt_read_version(spark, log_dir, 2)

    def _summary(df: DataFrame, version: int, ins, upds, dels) -> DataFrame:
        return df.agg(
            F.lit(version).cast("int").alias("version"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("bal_cents").cast("long").alias("sum_bal_cents"),
        ).crossJoin(F.broadcast(ins)).crossJoin(F.broadcast(upds)).crossJoin(
            F.broadcast(dels)
        )

    zero = spark.range(1).select(F.lit(0).cast("long").alias("z"))
    ins0 = v0_r.agg(F.count(F.lit(1)).alias("n_inserts"))
    row0 = _summary(
        v0_r,
        0,
        ins0,
        zero.select(F.col("z").alias("n_updates")),
        zero.select(F.col("z").alias("n_deletes")),
    )
    ins1 = (
        v1_r.join(v0_r.select(F.col("key").alias("k0")), v1_r["key"] == F.col("k0"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_inserts"))
    )
    upd1 = (
        v1_r.alias("a")
        .join(v0_r.alias("b"), F.col("a.key") == F.col("b.key"))
        .filter(F.col("a.bal_cents") != F.col("b.bal_cents"))
        .agg(F.count(F.lit(1)).alias("n_updates"))
    )
    row1 = _summary(v1_r, 1, ins1, upd1, zero.select(F.col("z").alias("n_deletes")))
    del2 = (
        v1_r.join(v2_r.select(F.col("key").alias("k2")), v1_r["key"] == F.col("k2"), "left_anti")
        .agg(F.count(F.lit(1)).alias("n_deletes"))
    )
    row2 = _summary(
        v2_r,
        2,
        zero.select(F.col("z").alias("n_inserts")),
        zero.select(F.col("z").alias("n_updates")),
        del2,
    )
    return row0.unionByName(row1).unionByName(row2)
