"""Structured Streaming operators (SURVEY.md §B.9) over the `events` table.

Each query drives a real StreamingQuery: file-stream source (explicit
schema — never infer on a stream), watermark, windowed/stateful transform,
memory sink, ``availableNow`` trigger (process-everything-then-stop). The
result table is returned as the query DataFrame, which makes streaming
semantics oracle-checkable: with availableNow over static input, windowed
aggregates must equal their batch equivalents (time_bucket arithmetic in
DuckDB) — SURVEY.md §5.2.3's batch-equivalence strategy, enforced by the
driver's hash check rather than a bespoke test.

Scale notes: watermarks bound state; window aggs shuffle on (window, key);
session windows shuffle on the session key; stream-static joins broadcast
the static side. Complete output mode is used only for windowed aggregates
(append would hold the trailing windows in state at end-of-stream); at
true streaming scale these sinks would use append + watermark expiry.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table_schema
from ..registry import register
from ..session import configure

# Physical read schemas for the events parquet, by how this Spark build
# surfaces the file's TIMESTAMP(NANOS) column (see catalog._normalize_event_ts):
# native builds (pyspark 4.1+) truncate ns → µs and a `timestamp` read slot
# yields correct values; nanosAsLong builds need a `long` slot + ns → µs div.
_SCHEMA_TS_NATIVE = (
    "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
)
_SCHEMA_TS_LONG = (
    "event_id long, ts long, user_id long, event_type string, value double, props string"
)

# Stale-sink TTL: a sibling PID's workdir untouched for this long is a
# leftover from a dead run (our queries finish in seconds), not a live
# concurrent checkpoint — safe to sweep.
_SINK_TTL_SECONDS = 2 * 3600


def fresh_stream_workdir(name: str) -> str:
    """Per-(query, PID) scratch dir for file sinks + checkpoints.

    The returned DataFrames lazily read the sink, so the files must outlive
    the building function — a TemporaryDirectory would vanish too early.
    PID suffix: a concurrent process (bench vs driver) must not rmtree this
    run's live checkpoint. To keep /tmp bounded across repeated runs, each
    call also sweeps *sibling* dirs whose mtime is older than the TTL
    (dirs abandoned by dead PIDs; live runs touch theirs within seconds).
    """
    import shutil
    import tempfile
    import time

    base = os.path.join(tempfile.gettempdir(), "vena_stream_sinks")
    cutoff = time.time() - _SINK_TTL_SECONDS
    try:
        for entry in os.scandir(base):
            try:
                if entry.is_dir(follow_symlinks=False) and entry.stat().st_mtime < cutoff:
                    shutil.rmtree(entry.path, ignore_errors=True)
            except OSError:
                continue  # raced with a concurrent sweep
    except FileNotFoundError:
        pass
    workdir = os.path.join(base, f"{name}_{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    return workdir


def _events_ts_dtype(spark: SparkSession, sf_dir: str) -> str:
    """The dtype the parquet reader produces for events.ts, from the
    catalog's schema memo. Streams must declare their schema up front,
    so we branch on the same observed dtype as the batch loader — never
    on `nanosAsLong`, which pyspark 4.1+ silently ignores."""
    return table_schema(spark, sf_dir, "events")["ts"].dataType.simpleString()


def table_stream(spark: SparkSession, sf_dir: str, table: str, schema) -> DataFrame:
    """File-stream source for ``<sf_dir>/<table>.parquet`` under BOTH
    layouts the engine meets: the driver fixtures store each table as a
    single FILE (the file source wants a directory, so point at sf_dir
    and glob the one file), while Spark-written copies (scale-check
    replicas, staging dirs) are DIRECTORIES of part files (stream the
    directory itself — a glob on the parent would match nothing, which
    silently yields an EMPTY stream, not an error)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isdir(path):
        return spark.readStream.schema(schema).parquet(path)
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", f"{table}.parquet")
        .parquet(sf_dir)
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events parquet, normalized to µs TIMESTAMP.

    ts is TIMESTAMP (session tz = UTC) — watermarks reject TIMESTAMP_NTZ;
    outputs cast to ntz at the wire.
    """
    configure(spark)
    if _events_ts_dtype(spark, sf_dir) == "bigint":
        raw = table_stream(spark, sf_dir, "events", _SCHEMA_TS_LONG)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return table_stream(spark, sf_dir, "events", _SCHEMA_TS_NATIVE)


# Streaming state partitions are sized to STATE CARDINALITY (thousands of
# open windows/keys in these queries), not input volume — each state
# partition costs per-batch store open/commit/snapshot I/O, so running the
# batch default (32) quadruples fixed overhead for zero parallelism gain.
# The count is locked into the checkpoint at first start; a 100 TB
# deployment with millions of live keys keeps the cluster default instead.
STREAM_STATE_PARTITIONS = 8


class _state_partitions:
    """Temporarily pin spark.sql.shuffle.partitions while a streaming query
    starts (the value is captured into the stream's checkpoint); always
    restores the session value."""

    def __init__(self, spark: SparkSession, n: int = STREAM_STATE_PARTITIONS):
        self.spark, self.n = spark, n

    def __enter__(self) -> None:
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc) -> None:
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_to_table(
    stream_df: DataFrame,
    name: str,
    output_mode: str,
    require_single_input_batch: bool = False,
) -> DataFrame:
    """Execute a streaming transform to completion (availableNow) into a
    memory sink; return the sink table. This is the batch-equivalence
    harness: same code path as a long-running stream, bounded input.

    ``require_single_input_batch`` enforces, at runtime, the precondition
    some batch-equivalence oracles rest on: ALL input rows were planned
    into one micro-batch (no-data flush batches don't count). If a
    regenerated fixture ever splits into multiple files the violated
    assumption fails loudly here instead of surfacing as an opaque
    driver hash mismatch."""
    spark = stream_df.sparkSession
    with _state_partitions(spark):
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    if require_single_input_batch:
        fed = [p for p in q.recentProgress if (p.numInputRows or 0) > 0]
        if len(fed) != 1:
            raise AssertionError(
                f"{name}: batch-equivalence precondition violated — expected "
                f"exactly 1 data-carrying micro-batch, got {len(fed)} "
                f"(batchIds {[p.batchId for p in fed]}). The oracle "
                "assumes single-batch availableNow (one fixture file, no "
                "maxFilesPerTrigger); multi-batch runs can legitimately "
                "evict + re-admit keys and diverge from exact DISTINCT."
            )
    return spark.table(name)


@register(
    "stream_tumbling_window",
    tags=("streaming", "window"),
    oracle="""
SELECT
  time_bucket(INTERVAL '5 minutes', ts) AS window_start,
  time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
""",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate (5-minute windows) run as a
    real stream; availableNow makes it exactly the batch time_bucket."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    out = agg.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )
    return run_to_table(out, "stream_tumbling_window", "complete")


@register(
    "stream_tumbling_append",
    tags=("streaming", "window", "sink"),
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events)
SELECT
  time_bucket(INTERVAL '5 minutes', ts) AS window_start,
  time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
  event_type,
  COUNT(*) AS n,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2, 3
HAVING window_end <= (SELECT w FROM wm)
""",
)
def stream_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production shape of the tumbling-window aggregate: APPEND output
    mode into a parquet file sink with a checkpoint — watermark expiry
    emits each window exactly once, state is bounded, and the sink is a
    distributed file target instead of a driver-resident memory table.
    Only windows closed by the final watermark (max event time − 10 min)
    are emitted; the oracle applies the same cutoff. This is the variant
    that runs at 100 TB: `stream_tumbling_window` (complete/memory) exists
    for the batch-equivalence check, this one for the real sink path."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "5 minutes"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    out = agg.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )
    # Stable per-run sink (NOT a TemporaryDirectory): the result DataFrame
    # is returned as a distributed parquet read, so the files must outlive
    # this function. At scale windows×keys is unbounded — pulling the sink
    # through the driver with collect() would cap the operator; reading it
    # back keeps the whole path executor-side.
    workdir = fresh_stream_workdir("stream_tumbling_append")
    sink_dir = os.path.join(workdir, "sink")
    ckpt_dir = os.path.join(workdir, "ckpt")
    with _state_partitions(spark):
        q = (
            out.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.read.schema(out.schema).parquet(sink_dir)


@register(
    "stream_sliding_window",
    tags=("streaming", "window"),
    oracle="""
SELECT window_start, COUNT(*) AS n
FROM (
  SELECT time_bucket(INTERVAL '5 minutes', ts) - (off.o * INTERVAL '5 minutes') AS window_start
  FROM events
  CROSS JOIN (VALUES (0), (1)) AS off(o)
)
GROUP BY window_start
""",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute length, 5-minute slide): each event lands
    in two windows; the oracle unrolls the two bucket offsets."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "10 minutes", "5 minutes")).agg(
        F.count(F.lit(1)).alias("n")
    )
    out = agg.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        "n",
    )
    return run_to_table(out, "stream_sliding_window", "complete")


@register(
    "stream_session_window",
    tags=("streaming", "session"),
    oracle="""
WITH marked AS (
  -- strict >: empirically verified (r4) — Spark session_window MERGES an
  -- event landing exactly at last_ts + gap (a 00:00 / 00:30:00 / 00:59:59
  -- probe collapses to ONE session of 3 events), so a new session starts
  -- only when the gap strictly exceeds 30 minutes, matching this predicate
  SELECT user_id, ts,
         CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL '30 minutes'
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
), sessions AS (
  SELECT user_id, ts,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
  FROM marked
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       COUNT(*) AS n_events
FROM sessions
GROUP BY user_id, sess_no
""",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-minute inactivity gap) per user — Spark's
    session_window vs the classic gaps-and-islands SQL as the oracle."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = agg.select(
        "user_id",
        F.col("session_window.start").cast("timestamp_ntz").alias("session_start"),
        F.col("session_window.end").cast("timestamp_ntz").alias("session_end"),
        "n_events",
    )
    return run_to_table(out, "stream_session_window", "complete")


@register(
    "stream_dedup",
    tags=("streaming", "dedup"),
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via dropDuplicates. Output is key-only (the kept
    row among duplicates is arrival-order dependent; the key set is
    deterministic). State: one row per distinct key, held forever — the
    dedup keys carry no event time, so the watermark does NOT evict them
    (eviction requires the event-time column in the keys, or
    `dropDuplicatesWithinWatermark`); exact-distinct semantics is the
    point of this query, bounded-state approximate dedup is the
    within-watermark variant."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    dd = ev.dropDuplicates(["user_id", "event_type"]).select("user_id", "event_type")
    return run_to_table(dd, "stream_dedup", "append")


@register(
    "stream_static_join",
    tags=("streaming", "join"),
    oracle="""
SELECT m.category, COUNT(*) AS n,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events e
JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('signup', 'growth'),
             ('error', 'ops')) AS m(event_type, category)
  ON e.event_type = m.event_type
GROUP BY m.category
""",
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the static dimension is broadcast to every
    micro-batch; aggregation follows in the same streaming plan."""
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    joined = ev.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    return run_to_table(agg, "stream_static_join", "complete")


@register(
    "stream_stream_join",
    tags=("streaming", "join"),
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
""",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join: purchases ⋈ clicks by user within a
    30-minute lookback. Both sides watermarked + a two-sided time-range
    condition — exactly what Spark needs to bound the join state (each
    side's rows expire once the other side's watermark passes the range).
    availableNow makes the result the batch interval join (the oracle)."""
    ev = events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "click_id", "user_id")
    return run_to_table(joined, "stream_stream_join", "append")


@register(
    "stream_stream_left_outer",
    tags=("streaming", "join"),
    oracle="""
WITH wm AS (
  SELECT LEAST(
    (SELECT MAX(ts) FROM events WHERE event_type = 'purchase'),
    (SELECT MAX(ts) FROM events WHERE event_type = 'click')
  ) - INTERVAL '1 hour' AS w
), lj AS (
  SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id, p.ts AS p_ts
  FROM events p
  LEFT JOIN events c
    ON p.user_id = c.user_id AND c.event_type = 'click'
   AND c.ts >= p.ts - INTERVAL '30 minutes' AND c.ts <= p.ts
  WHERE p.event_type = 'purchase'
)
SELECT purchase_id, click_id, user_id
FROM lj, wm
WHERE click_id IS NOT NULL OR p_ts < wm.w
""",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join — same purchases⋈clicks lookback as
    stream_stream_join, plus null rows for purchases that never saw a
    click. An outer null row can only emit once the click-side watermark
    passes the purchase's match window (otherwise a late click could
    still match), so purchases after ``global watermark = min(max p_ts,
    max c_ts) − 1 h`` are still in state when availableNow terminates and
    correctly do NOT emit. The oracle encodes exactly that semantics —
    inner matches unconditionally, null rows only below the final
    watermark — making the *streaming* outer-join contract itself the
    thing being hash-checked, not a batch approximation of it. (Eviction
    comparison is strict ``<``; fixture timestamps are µs-aligned with no
    row on the boundary.) State bounds: both sides expire by the same
    watermark that gates emission — state is O(one watermark interval of
    data), independent of stream length."""
    ev = events_stream(spark, sf_dir)
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", "1 hour")
    )
    joined = purchases.join(
        clicks,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left_outer",
    ).select("purchase_id", "click_id", "user_id")
    return run_to_table(joined, "stream_stream_left_outer", "append")


@register(
    "stream_lifecycle_metrics",
    tags=("streaming", "jobs"),
    oracle="""
SELECT COUNT(*) AS rows_processed FROM events
""",
)
def stream_lifecycle_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Job lifecycle (reference A10-A12 analog: submit → observe → stop):
    run a stream, then report rows-processed from the query's progress
    telemetry — the engine-side equivalent of the reference's job-status
    endpoint (/root/reference/src/api/jobs.js:14-59)."""
    ev = events_stream(spark, sf_dir)
    q = (
        ev.select("event_id")
        .writeStream.format("memory")
        .queryName("stream_lifecycle_sink")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    total = sum(int(p["numInputRows"]) for p in q.recentProgress)
    assert not q.isActive
    return spark.createDataFrame([(total,)], "rows_processed long")


@register(
    "stream_foreach_batch_sink",
    tags=("streaming", "sink", "pipeline"),
    oracle="""
SELECT CAST(0 AS BIGINT) AS batch_id, COUNT(*) AS n_rows,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
FROM events
""",
)
def stream_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """foreachBatch — the arbitrary-sink bridge (JDBC / HTTP / multi-table
    writes) with per-batch idempotency: each micro-batch arrives as a
    batch DataFrame keyed by batch_id; keying sink writes by that id gives
    exactly-once effects across checkpoint replays (the streaming home of
    the reference's retry+idempotent upload, A7/A10 — see
    pipeline/http_sink.py and streaming/foreach_batch.py). availableNow
    over the fixture is one batch, so the per-batch audit the sink
    function records is deterministic and oracle-checkable."""
    import tempfile

    from .foreach_batch import run_foreach_batch

    audit: list[tuple[int, int, int]] = []

    def record_batch(batch_df: DataFrame, batch_id: int) -> None:
        # stand-in for the idempotent external write: aggregate the batch
        # (distributed) and record the per-batch audit row keyed by
        # batch_id — the idempotency key a real sink would use for dedup
        row = batch_df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("event_type").alias("t"),
        ).first()
        audit.append((batch_id, row.n, row.t))

    ev = events_stream(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="feb_ckpt_") as ckpt:
        run_foreach_batch(ev, record_batch, ckpt, "stream_foreach_batch_sink")
    return spark.createDataFrame(
        sorted(audit), "batch_id long, n_rows long, n_types long"
    )


@register(
    "stream_curation_pipeline",
    tags=("streaming", "dedup", "join", "pipeline"),
    oracle="""
SELECT m.category, COUNT(*) AS n_distinct_pairs
FROM (SELECT DISTINCT user_id, event_type FROM events) d
JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
             ('purchase', 'revenue'), ('signup', 'growth'),
             ('error', 'ops')) AS m(event_type, category)
  ON d.event_type = m.event_type
GROUP BY m.category
""",
)
def stream_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed streaming pipeline — dedup → broadcast dimension join →
    aggregate, all in ONE streaming plan (the streaming analog of the
    batch corpus_curation_pipeline): dropDuplicates state feeds a
    stream-static broadcast join feeds a grouped count. Output is
    key-derived only (distinct-pair counts per category), so the result
    is arrival-order independent and batch-equivalent — the oracle is
    the plain batch SQL. State note: exact global distinct over
    (user_id, event_type) keeps one state row per key FOREVER — the keys
    carry no event time, so the watermark cannot evict them. That is
    correct here and wherever the key domain is bounded; an
    unbounded-key deployment trades exactness for
    `dropDuplicatesWithinWatermark` (bounded state, re-admits keys after
    the watermark passes) and accepts approximate distinct counts."""
    dim = spark.createDataFrame(
        [
            ("click", "engagement"),
            ("view", "engagement"),
            ("purchase", "revenue"),
            ("signup", "growth"),
            ("error", "ops"),
        ],
        "event_type string, category string",
    )
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicates(["user_id", "event_type"])
    joined = deduped.join(F.broadcast(dim), "event_type")
    agg = joined.groupBy("category").agg(
        F.count(F.lit(1)).alias("n_distinct_pairs")
    )
    return run_to_table(agg, "stream_curation_pipeline", "complete")


@register(
    "stream_dedup_within_watermark",
    tags=("streaming", "dedup"),
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BOUNDED-STATE twin of `stream_dedup`:
    ``dropDuplicatesWithinWatermark`` holds each key only until the
    watermark passes it, then evicts — so state is O(keys-per-watermark-
    window), the shape an unbounded-key 100 TB stream requires. The price
    is exactness: a key recurring after eviction is re-admitted, so in
    general the output depends on micro-batch boundaries. Batch-
    equivalence oracle (r4 → r5 conversion): the fixture is ONE parquet
    file, so availableNow plans exactly one micro-batch; the watermark
    only advances AFTER a batch, hence no key is evicted while input
    remains and no re-admission can occur — the emitted key set equals
    exact DISTINCT, which is what the oracle states. Output is key-only
    (which duplicate row survives is arrival-order dependent; the key
    set is not). The multi-batch re-admission behavior — where this
    operator genuinely diverges from exact distinct — stays covered by
    the bounded-state invariants in tests/test_streaming.py."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    dd = ev.dropDuplicatesWithinWatermark(["user_id", "event_type"]).select(
        "user_id", "event_type"
    )
    return run_to_table(
        dd,
        "stream_dedup_within_watermark",
        "append",
        require_single_input_batch=True,
    )


@register(
    "stream_append_restart_flush",
    tags=("streaming", "window", "sink", "checkpoint"),
    oracle="""
WITH wm1 AS (
  SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events WHERE event_id % 2 = 0
), wmall AS (
  SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events
), run1 AS (
  SELECT
    time_bucket(INTERVAL '5 minutes', ts) AS window_start,
    time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
    event_type,
    COUNT(*) AS n
  FROM events
  WHERE event_id % 2 = 0
  GROUP BY 1, 2, 3
  HAVING window_end <= (SELECT w FROM wm1)
), run2 AS (
  SELECT
    time_bucket(INTERVAL '5 minutes', ts) AS window_start,
    time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
    event_type,
    COUNT(*) AS n
  FROM events
  GROUP BY 1, 2, 3
  HAVING window_end > (SELECT w FROM wm1)
     AND window_end <= (SELECT w FROM wmall)
)
SELECT * FROM run1
UNION ALL
SELECT * FROM run2
""",
)
def stream_append_restart_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode END STATE across restarts — the production lifecycle
    stream_tumbling_append only runs once: the same windowed aggregate is
    driven through TWO availableNow runs sharing one checkpoint, with new
    data (the odd-event_id half) arriving between them. What this proves,
    and the oracle pins row-for-row:

    - run 1 (even event_ids) emits exactly the windows closed by its
      final watermark wm1 = max(ts_even) − 10 min, with EVEN-ONLY counts
      — those windows' state is gone, emitted once, forever;
    - run 2 restores the watermark from the checkpoint, DROPS late odd
      rows whose window already closed (their counts stay even-only in
      the sink — the price of bounded state, stated exactly by the
      oracle's run1 branch), folds the rest into still-open state, and
      its end-of-input no-data batch advances the watermark to
      max(ts_all) − 10 min, flushing the newly closed windows with
      full counts exactly once;
    - the parquet sink accumulates both runs with no duplicate and no
      re-emission (exactly-once across restarts via the checkpoint's
      file-source and state commit log).

    Trailing windows (end > final watermark) stay in state — append mode
    holds them for data that never comes; a real deployment's next batch
    or a close-out run flushes them. tests/test_checkpoint.py drives the
    same two-restart shape with planted rows."""
    from ..catalog import load_table

    workdir = fresh_stream_workdir("stream_append_restart_flush")
    stage = os.path.join(workdir, "stage")
    sink_dir = os.path.join(workdir, "sink")
    ckpt_dir = os.path.join(workdir, "ckpt")

    ev_batch = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),  # watermark needs tz'd ts
        "event_type",
    )
    stream_schema = "event_id long, ts timestamp, event_type string"

    def run_available_now() -> None:
        ev = spark.readStream.schema(stream_schema).parquet(stage)
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = agg.select(
            F.col("window.start").cast("timestamp_ntz").alias("window_start"),
            F.col("window.end").cast("timestamp_ntz").alias("window_end"),
            "event_type",
            "n",
        )
        with _state_partitions(spark):
            q = (
                out.writeStream.format("parquet")
                .option("path", sink_dir)
                .option("checkpointLocation", ckpt_dir)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # batch N arrives, run to quiescence; batch N+1 arrives, restart from
    # the same checkpoint (mode=append: chunk files accumulate in stage)
    ev_batch.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(stage)
    run_available_now()
    ev_batch.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(stage)
    run_available_now()

    sink_schema = (
        "window_start timestamp_ntz, window_end timestamp_ntz, "
        "event_type string, n long"
    )
    return spark.read.schema(sink_schema).parquet(sink_dir)


def _cms_cells_oracle() -> str:
    from ..operators.textanalysis import CMS_DEPTH, _cms_col_duck

    structs = ", ".join(
        f"{{'d': {d}, 'col': {_cms_col_duck(d)}}}" for d in range(CMS_DEPTH)
    )
    return f"""
WITH counts AS (
  SELECT tok, COUNT(*) AS n
  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
  GROUP BY tok
)
SELECT u.c.d AS d, u.c.col AS col, CAST(SUM(n) AS BIGINT) AS cnt
FROM counts, UNNEST([{structs}]) AS u(c)
GROUP BY 1, 2
"""


@register(
    "stream_cms_merge",
    tags=("streaming", "llm", "sketch", "heavy-hitters"),
    oracle=_cms_cells_oracle(),
)
def stream_cms_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming build of the count-min sketch — the MERGEABILITY claim
    of text_cms_heavy_hitters made executable: documents stream through
    foreachBatch; each micro-batch contributes one fixed-size SUB-SKETCH
    per source (the idempotent per-batch "write", keyed by batch_id);
    after availableNow terminates, the sub-sketches merge by plain
    per-cell ADDITION into the final DEPTH×WIDTH grid. Because integer
    addition commutes and associates, the merged grid must equal the
    batch-built sketch bit for bit REGARDLESS of how the corpus was
    split across batches and sources — which is exactly what the DuckDB
    oracle (the batch cells) verifies. This is the production streaming
    frequency-state topology at 100 TB: per-batch/per-shard sketches are
    tiny constant-size state, merged downstream by addition, never a
    corpus-sized shuffle."""
    import tempfile

    from ..operators.textanalysis import CMS_DEPTH
    from ..operators.textanalysis import _cms_col_spark
    from .foreach_batch import run_foreach_batch

    configure(spark)
    docs = table_stream(
        spark, sf_dir, "documents", table_schema(spark, sf_dir, "documents")
    )
    cell_structs = F.array(
        *[
            F.struct(F.lit(d).alias("d"), F.expr(_cms_col_spark(d)).alias("col"))
            for d in range(CMS_DEPTH)
        ]
    )
    subsketches: list[tuple[int, str, int, int, int]] = []

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        # one bounded sub-sketch per (batch, source): DEPTH×WIDTH cells
        # max — the constant-size state a real sink would upsert keyed by
        # (batch_id, source) for idempotent replay
        rows = (
            batch_df.select(
                "source", F.explode(F.split("text", " ")).alias("tok")
            )
            .groupBy("source", "tok")
            .agg(F.count(F.lit(1)).alias("n"))
            .select("source", F.explode(cell_structs).alias("c"), "n")
            .groupBy("source", F.col("c.d").alias("d"), F.col("c.col").alias("col"))
            .agg(F.sum("n").alias("cnt"))
            .collect()
        )
        for r in rows:
            subsketches.append((batch_id, r.source, r.d, r.col, r.cnt))

    with tempfile.TemporaryDirectory(prefix="cms_ckpt_") as ckpt:
        run_foreach_batch(docs, merge_batch, ckpt, "stream_cms_merge")
    subs = spark.createDataFrame(
        subsketches, "batch_id long, source string, d int, col int, cnt long"
    )
    return subs.groupBy("d", "col").agg(F.sum("cnt").alias("cnt"))


def _hll_registers_oracle() -> str:
    from ..operators.textanalysis import _HLL_J_DUCK, _HLL_RHO_DUCK

    return f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
)
SELECT CAST({_HLL_J_DUCK} AS INT) AS j, CAST(MAX({_HLL_RHO_DUCK}) AS INT) AS m
FROM toks GROUP BY j
"""


@register(
    "stream_hll_merge",
    tags=("streaming", "llm", "sketch", "cardinality"),
    oracle=_hll_registers_oracle(),
)
def stream_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming build of the HyperLogLog register state — and the claim
    that distinguishes it from stream_cms_merge made executable: HLL
    merge is register-wise MAX, which is IDEMPOTENT, so a replayed
    micro-batch cannot skew the merged state. Each micro-batch emits one
    bounded sub-sketch per (batch, source) — at most HLL_M rows each,
    the constant-size state a real sink would upsert; then the first
    batch's sub-sketches are deliberately appended a SECOND time
    (simulating at-least-once redelivery after a sink-ack loss) before
    the final MAX-merge. The DuckDB oracle is the batch-built register
    grid over the whole corpus — hash equality proves the duplicated
    delivery changed nothing. CMS (addition) needs exactly-once keying
    by batch_id to survive replay; HLL does not — the practical reason
    cardinality state is the easiest sketch to operate at 100 TB.

    Plan shape per batch: map-side-combined token aggregate into ≤
    sources×64 register rows; driver-held state is a few KB; the merge
    is a 64-row groupBy."""
    import tempfile

    from ..operators.textanalysis import _HLL_H_SPARK, _hll_register_sql
    from .foreach_batch import run_foreach_batch

    configure(spark)
    docs = table_stream(
        spark, sf_dir, "documents", table_schema(spark, sf_dir, "documents")
    )
    j_expr, rho_expr = _hll_register_sql(_HLL_H_SPARK, "div")
    subsketches: list[tuple[int, str, int, int]] = []

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = (
            batch_df.select(
                "source", F.explode(F.split("text", " ")).alias("tok")
            )
            .select(
                "source",
                F.expr(f"CAST({j_expr} AS INT)").alias("j"),
                F.expr(rho_expr).alias("rho"),
            )
            .groupBy("source", "j")
            .agg(F.max("rho").alias("m"))
            .collect()
        )
        for r in rows:
            subsketches.append((batch_id, r.source, r.j, r.m))

    with tempfile.TemporaryDirectory(prefix="hll_ckpt_") as ckpt:
        run_foreach_batch(docs, merge_batch, ckpt, "stream_hll_merge")
    # at-least-once redelivery, simulated: batch 0's sub-sketches arrive
    # twice; MAX-merge must be invariant (the oracle hash enforces it)
    replayed = subsketches + [s for s in subsketches if s[0] == 0]
    subs = spark.createDataFrame(
        replayed, "batch_id long, source string, j int, m int"
    )
    return subs.groupBy("j").agg(F.max("m").cast("int").alias("m"))


@register(
    "stream_late_data_audit",
    tags=("streaming", "window", "monitoring", "audit"),
    oracle="""
WITH ev AS (
  SELECT event_id, ts, event_type,
         time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS wend
  FROM events
), wm1 AS (
  SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM ev WHERE event_id % 2 = 0
), wm2 AS (
  SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM ev
)
SELECT event_type,
  CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(COUNT(*) FILTER (wend <= (SELECT w FROM wm2)
       AND NOT (event_id % 2 = 1 AND wend <= (SELECT w FROM wm1)))
       AS BIGINT) AS n_emitted,
  CAST(COUNT(*) FILTER (event_id % 2 = 1 AND wend <= (SELECT w FROM wm1))
       AS BIGINT) AS n_dropped_late,
  CAST(COUNT(*) FILTER (wend > (SELECT w FROM wm2)) AS BIGINT)
    AS n_open_state
FROM ev GROUP BY event_type
""",
)
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark drop accounting — the observability number every
    production watermark needs: how many rows arrived too late and were
    silently dropped, vs emitted, vs still held in open state. The Spark
    side RUNS the real two-restart append stream (the
    stream_append_restart_flush lifecycle: even event_ids first, then
    the odd half against the same checkpoint) and reconciles the ACTUAL
    sink against batch totals per event_type:
    n_emitted = sum of sink counts, n_dropped_late = odd rows whose
    5-minute window had already closed under run 1's final watermark,
    n_open_state = rows in windows the final watermark never closed,
    with n_total = emitted + dropped + open holding only if Spark's
    watermark semantics match the analytic model — which is exactly
    what the DuckDB oracle computes analytically, so the hash match IS
    the proof that the engine drops precisely the predicted rows.

    Scale: state is bounded by the watermark horizon (windows per 10
    minutes x event types); the reconciliation side is two batch
    aggregates over the same scan. Audit-shaped — production runs it as
    a foreachBatch side count or a sink-vs-source diff job."""
    from ..catalog import load_table

    workdir = fresh_stream_workdir("stream_late_data_audit")
    stage = os.path.join(workdir, "stage")
    sink_dir = os.path.join(workdir, "sink")
    ckpt_dir = os.path.join(workdir, "ckpt")

    ev_batch = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
    )
    stream_schema = "event_id long, ts timestamp, event_type string"

    def run_available_now() -> None:
        ev = spark.readStream.schema(stream_schema).parquet(stage)
        agg = (
            ev.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "5 minutes"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        out = agg.select("event_type", "n")
        with _state_partitions(spark):
            q = (
                out.writeStream.format("parquet")
                .option("path", sink_dir)
                .option("checkpointLocation", ckpt_dir)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    # OPTIMIZATION r12 (VERDICT r11 #9) — MEASURED AND REJECTED: skipping
    # run 1's end-of-input no-data batch (noDataMicroBatches.enabled=false
    # around the first availableNow run) was A/B'd on the theory that the
    # audit reads only the FINAL sink and run 2's flush would emit the
    # deferred windows identically. The oracle diff failed at both gate
    # SFs (n_emitted inflated by exactly one extra emission of run 1's
    # rows): the flush batch is load-bearing for the cross-restart
    # exactly-once contract, not just emission timing. The streaming
    # lifecycle trio stays at its micro-batch machinery floor (SCALE.md).
    ev_batch.filter(F.col("event_id") % 2 == 0).write.mode("append").parquet(stage)
    run_available_now()
    ev_batch.filter(F.col("event_id") % 2 == 1).write.mode("append").parquet(stage)
    run_available_now()

    emitted = (
        spark.read.schema("event_type string, n long")
        .parquet(sink_dir)
        .groupBy("event_type")
        .agg(F.sum("n").cast("long").alias("n_emitted"))
    )
    with_wend = ev_batch.select(
        "event_id",
        "event_type",
        F.col("ts"),
        F.window("ts", "5 minutes")["end"].alias("wend"),
    )
    wm1 = ev_batch.filter(F.col("event_id") % 2 == 0).agg(
        (F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("w1")
    )
    wm2 = ev_batch.agg((F.max("ts") - F.expr("INTERVAL 10 MINUTES")).alias("w2"))
    stats = (
        with_wend.crossJoin(F.broadcast(wm1))
        .crossJoin(F.broadcast(wm2))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_total"),
            F.count_if(
                (F.col("event_id") % 2 == 1) & (F.col("wend") <= F.col("w1"))
            )
            .cast("long")
            .alias("n_dropped_late"),
            F.count_if(F.col("wend") > F.col("w2"))
            .cast("long")
            .alias("n_open_state"),
        )
    )
    return stats.join(emitted, "event_type", "left").select(
        "event_type",
        "n_total",
        F.coalesce("n_emitted", F.lit(0)).cast("long").alias("n_emitted"),
        "n_dropped_late",
        "n_open_state",
    )


# ---------------------------------------------------------------------------
# CDC apply (r10): collapse a change-data-capture log to its final table
# state with last-writer-wins semantics, incrementally — the streaming
# complement of the batch MERGE sink (operators/layouts.py merge_cow_*).
# The event log plays the CDC stream: signup = INSERT, click/view/purchase
# = UPDATE, error = DELETE; sequence order is (ts, event_id). Each
# micro-batch collapses to its per-key latest change and merges into the
# carried state by LWW; after the last batch, DELETE-final keys drop out.
# ---------------------------------------------------------------------------

_CDC_OP = """
CASE event_type WHEN 'error' THEN 'delete'
                WHEN 'signup' THEN 'insert'
                ELSE 'update' END
"""


def cdc_apply_stream(
    spark: SparkSession, ev_stream: DataFrame
) -> DataFrame:
    """Core of ``stream_cdc_apply``, stream injected so tests can force a
    multi-batch split. Returns the final per-op audit of the materialized
    state."""
    import tempfile

    from .foreach_batch import run_foreach_batch

    state: list[DataFrame] = []  # single-element carried state table

    def lww(df: DataFrame) -> DataFrame:
        from pyspark.sql import Window as W

        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = lww(
            batch_df.select(
                "user_id", "ts", "event_id", F.expr(_CDC_OP).alias("op")
            )
        )
        merged = delta if not state else lww(state[0].unionByName(delta))
        # localCheckpoint: state lineage must not grow with batch count
        state[:] = [merged.localCheckpoint()]

    with tempfile.TemporaryDirectory(prefix="cdc_ckpt_") as ckpt:
        run_foreach_batch(
            ev_stream.select("user_id", "ts", "event_id", "event_type"),
            apply_batch,
            ckpt,
            "stream_cdc_apply",
        )
    if not state:
        return spark.createDataFrame([], "final_op string, n_keys long, sum_key long")
    return (
        state[0]
        .groupBy(F.col("op").alias("final_op"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            F.sum("user_id").cast("long").alias("sum_key"),
        )
    )


@register(
    "stream_cdc_apply",
    tags=("streaming", "merge", "cdc", "pipeline"),
    oracle=f"""
WITH latest AS (
  SELECT user_id, {_CDC_OP} AS final_op
  FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT final_op, CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(user_id) AS BIGINT) AS sum_key
FROM latest GROUP BY final_op
""",
)
def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC materialization: the event log consumed as a
    change stream (signup→INSERT, engagement→UPDATE, error→DELETE,
    sequenced by (ts, event_id)), each micro-batch collapsed to per-key
    latest changes and merged into the carried state table by
    last-writer-wins; output audits the final state per terminal op (key
    counts + key-sum checksum). The result is independent of how the log
    splits into batches — LWW merge is associative over sequence-ordered
    deltas — which the multi-batch split test pins, and the DuckDB
    oracle is the one-shot batch collapse of the same log.

    Scale shape: per batch, one key-grain window on the DELTA (batch-
    sized) and one on state ∪ delta — deployed, the state side lives in
    a keyed store (the merge_cow_parquet layout) so the merge is the
    partition-pruned COW rewrite, and only touched partitions re-sort;
    state lineage is localCheckpoint-truncated per batch here for the
    same reason. DELETE-final keys stay as tombstones in the audit
    (their mass is the deletion-vector input), not silently dropped."""
    return cdc_apply_stream(spark, events_stream(spark, sf_dir))


# ---------------------------------------------------------------------------
# Streaming MERGE into a partitioned parquet table (r10 capstone): the
# CDC-apply semantics above committed into the copy-on-write layout of
# operators/layouts.py — the "streaming upsert into a lakehouse table"
# pattern. Every target row carries its last-applied sequence
# (seq_ms, seq_id); a micro-batch's per-key latest change applies ONLY
# when its sequence is newer, and deletes write TOMBSTONE rows (kept,
# excluded from the live audit) so an out-of-order earlier update can
# never resurrect a deleted key. Batch-split invariance therefore holds
# even when batches arrive out of time order — pinned in tests.
# ---------------------------------------------------------------------------


def merge_stream_into_cow(
    spark: SparkSession, ev_stream: DataFrame, path: str
) -> None:
    """foreachBatch core of ``stream_merge_cow_sink``: sequence-guarded
    LWW upsert of each micro-batch into the seeded target at ``path``."""
    import tempfile

    from pyspark.sql import Window as W

    from ..operators.layouts import MERGE_PARTS
    from .foreach_batch import run_foreach_batch

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        w = W.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        delta = (
            batch_df.select(
                "user_id",
                F.unix_micros(F.col("ts").cast("timestamp")).alias("d_seq_ms"),
                F.col("event_id").alias("d_seq_id"),
                F.expr(_CDC_OP).alias("op"),
                (F.coalesce(F.col("value"), F.lit(0.0)).cast("decimal(18,2)") * 100)
                .cast("long")
                .alias("d_cents"),
                "ts",
                "event_id",
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("user_id").alias("d_key"),
                "d_seq_ms",
                "d_seq_id",
                "op",
                "d_cents",
                (F.col("user_id") % MERGE_PARTS).alias("pk"),
            )
        )
        affected = sorted(r.pk for r in delta.select("pk").distinct().collect())
        if not affected:
            return
        target = spark.read.parquet(path).filter(F.col("pk").isin(affected))
        newer = (F.col("d_seq_ms") > F.col("seq_ms")) | (
            (F.col("d_seq_ms") == F.col("seq_ms"))
            & (F.col("d_seq_id") > F.col("seq_id"))
        )
        take_delta = F.col("key").isNull() | newer
        merged = (
            target.join(delta.drop("pk"), F.col("key") == F.col("d_key"), "full_outer")
            .select(
                F.coalesce("key", "d_key").alias("key"),
                F.when(
                    F.col("d_key").isNotNull() & take_delta,
                    F.when(F.col("op") == "delete", F.lit(0)).otherwise(
                        F.col("d_cents")
                    ),
                )
                .otherwise(F.col("bal_cents"))
                .alias("bal_cents"),
                F.when(
                    F.col("d_key").isNotNull() & take_delta,
                    F.when(F.col("op") == "delete", F.lit("tomb"))
                    .when(F.col("key").isNull(), F.lit("insert"))
                    .otherwise(F.lit("update")),
                )
                .otherwise(F.coalesce("action", F.lit("seed")))
                .alias("action"),
                F.when(F.col("d_key").isNotNull() & take_delta, F.col("d_seq_ms"))
                .otherwise(F.coalesce("seq_ms", F.lit(-1)))
                .alias("seq_ms"),
                F.when(F.col("d_key").isNotNull() & take_delta, F.col("d_seq_id"))
                .otherwise(F.coalesce("seq_id", F.lit(-1)))
                .alias("seq_id"),
            )
            .withColumn("pk", F.col("key") % MERGE_PARTS)
            .localCheckpoint()
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        try:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            merged.repartition("pk").write.mode("overwrite").partitionBy(
                "pk"
            ).parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    with tempfile.TemporaryDirectory(prefix="smc_ckpt_") as ckpt:
        run_foreach_batch(
            ev_stream.select("user_id", "ts", "event_id", "event_type", "value"),
            apply_batch,
            ckpt,
            "stream_merge_cow_sink",
        )


def seed_stream_merge_target(spark: SparkSession, sf_dir: str, path: str) -> None:
    from ..catalog import load_table
    from ..operators.layouts import MERGE_PARTS

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        (F.col("c_acctbal").cast("decimal(18,2)") * 100)
        .cast("long")
        .alias("bal_cents"),
        F.lit("seed").alias("action"),
        F.lit(-1).cast("long").alias("seq_ms"),
        F.lit(-1).cast("long").alias("seq_id"),
        (F.col("c_custkey") % MERGE_PARTS).alias("pk"),
    )
    cust.repartition("pk").write.mode("overwrite").partitionBy("pk").parquet(path)


@register(
    "stream_merge_cow_sink",
    tags=("streaming", "merge", "cdc", "layout", "sink"),
    oracle=f"""
WITH seed AS (
  SELECT c_custkey AS key,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
), lww AS (
  SELECT user_id, {_CDC_OP} AS op,
         CAST(COALESCE(CAST(value AS DECIMAL(18,2)), 0) * 100 AS BIGINT)
           AS cents
  FROM (
    SELECT user_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
  ) WHERE rn = 1
), merged AS (
  SELECT s.key,
         CASE WHEN l.op = 'delete' THEN 'tomb'
              WHEN l.user_id IS NOT NULL THEN 'update'
              ELSE 'seed' END AS action,
         CASE WHEN l.op = 'delete' THEN 0
              WHEN l.user_id IS NOT NULL THEN l.cents
              ELSE s.cents END AS cents
  FROM seed s LEFT JOIN lww l ON l.user_id = s.key
)
SELECT CAST(key % 16 AS INT) AS pk,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN action = 'tomb' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_tomb,
       CAST(SUM(CASE WHEN action = 'update' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_update,
       CAST(SUM(CASE WHEN action <> 'tomb' THEN cents ELSE 0 END) AS BIGINT)
         AS sum_live_cents
FROM merged
GROUP BY 1
""",
)
def stream_merge_cow_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into a partitioned parquet table — the lakehouse
    upsert pattern end to end: seed the account registry from customer
    balances (exact cents), consume the event log as a CDC stream
    (signup→INSERT, engagement→UPDATE with the event's value,
    error→DELETE), and commit each micro-batch's per-key latest change
    into the copy-on-write target with a SEQUENCE GUARD: a change
    applies only when its (event-time ms, event id) is newer than the
    row's last-applied sequence, and deletes write tombstone rows so an
    out-of-order earlier update can never resurrect a deleted key —
    batch-split invariance holds even for time-shuffled batches (pinned
    in tests with a 4-way split). The audit re-reads the committed
    files: per partition, row count, tombstone mass, update count, and
    the exact live balance sum; the DuckDB oracle is the one-shot LWW
    merge of the same log over the same seed.

    Scale shape: per batch — one key-grain window on the batch, one
    partition-pruned read of affected directories, one COW rewrite of
    exactly those directories. Keys outside the batch never move;
    sequence state lives IN the table (no separate state store), which
    is what makes the sink restart- and replay-idempotent (applying a
    batch twice is a no-op: nothing is newer the second time)."""
    from ..operators.layouts import layout_dir

    path = layout_dir(sf_dir, "stream_merge_target")
    seed_stream_merge_target(spark, sf_dir, path)
    merge_stream_into_cow(spark, events_stream(spark, sf_dir), path)
    final = spark.read.parquet(path)
    return final.groupBy(F.col("pk").cast("int").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("action") == "tomb").cast("int")).cast("long").alias("n_tomb"),
        F.sum((F.col("action") == "update").cast("int"))
        .cast("long")
        .alias("n_update"),
        F.sum(
            F.when(F.col("action") != "tomb", F.col("bal_cents")).otherwise(0)
        )
        .cast("long")
        .alias("sum_live_cents"),
    )


@register(
    "stream_window_drift",
    tags=("streaming", "drift", "window", "llm"),
    oracle="""
WITH wm AS (SELECT MAX(ts) - INTERVAL '10 minutes' AS w FROM events),
bounds AS (
  SELECT (CAST(floor(epoch(MIN(ts))) AS BIGINT)
          + CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 2 AS mid_s
  FROM events
), ref AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ref_cnt
  FROM events e CROSS JOIN bounds b
  WHERE CAST(floor(epoch(e.ts)) AS BIGINT) <= b.mid_s
  GROUP BY 1
), type_dim AS (
  SELECT t.event_type, COALESCE(r.ref_cnt, 0) AS ref_cnt
  FROM (SELECT DISTINCT event_type FROM events) t
  LEFT JOIN ref r ON r.event_type = t.event_type
), ref_tot AS (SELECT SUM(ref_cnt) AS ref_n FROM type_dim),
cells AS (
  SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
         time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day' AS window_end,
         event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events
  GROUP BY 1, 2, 3
  HAVING window_end <= (SELECT w FROM wm)
), win_tot AS (
  SELECT window_start, window_end, SUM(n) AS w_n FROM cells GROUP BY 1, 2
), grid AS (
  SELECT w.window_start, w.window_end, w.w_n, d.event_type, d.ref_cnt,
         COALESCE(c.n, 0) AS n, rt.ref_n
  FROM win_tot w CROSS JOIN type_dim d CROSS JOIN ref_tot rt
  LEFT JOIN cells c ON c.window_start = w.window_start
                   AND c.event_type = d.event_type
)
SELECT window_start, window_end,
       CAST(MAX(w_n) AS BIGINT) AS n_events,
       CAST(SUM(ABS(n * ref_n - ref_cnt * w_n)) * 1000
            // (2 * MAX(w_n) * MAX(ref_n)) AS BIGINT) AS tvd_milli
FROM grid
GROUP BY window_start, window_end
""",
)
def stream_window_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming distribution-drift monitor — profile_feature_drift's
    production posture: daily tumbling windows of the event-type
    distribution aggregate as a watermarked APPEND stream into a parquet
    sink (each day emits exactly once, state bounded by the watermark),
    and each closed window is scored against the STATIC reference
    distribution (first half of event time) by exact-integer total
    variation distance. The alerting join runs on the window-grain sink
    output — windows x types, audit-sized — never on the event stream.

    Same exactness rule as the batch twin: TVD from integer
    cross-products, not PSI (ln is not bit-reproducible across engines).

    Scale: the stream side is one watermark + one (day, type)-grain
    stateful aggregate (state = open windows x types); the reference is
    a one-off static aggregate broadcast to the window grain. A
    deployment swaps availableNow for a continuous trigger and alerts on
    tvd_milli in the sink; late data inside the watermark lands in the
    right day BEFORE it closes — the semantics the batch monitor can't
    give without reprocessing."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", "10 minutes")
    agg = ev.groupBy(F.window("ts", "1 day"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = agg.select(
        F.col("window.start").cast("timestamp_ntz").alias("window_start"),
        F.col("window.end").cast("timestamp_ntz").alias("window_end"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    )
    workdir = fresh_stream_workdir("stream_window_drift")
    sink_dir = os.path.join(workdir, "sink")
    ckpt_dir = os.path.join(workdir, "ckpt")
    with _state_partitions(spark):
        q = (
            out.writeStream.format("parquet")
            .option("path", sink_dir)
            .option("checkpointLocation", ckpt_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    cells = spark.read.schema(out.schema).parquet(sink_dir)

    from ..catalog import load_table

    ev_static = load_table(spark, sf_dir, "events")
    epoch_s = F.col("ts").cast("timestamp").cast("long")
    bounds = ev_static.agg(
        ((F.min(epoch_s) + F.max(epoch_s)) / 2).cast("long").alias("mid_s")
    )
    ref = (
        ev_static.crossJoin(F.broadcast(bounds))
        .filter(epoch_s <= F.col("mid_s"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("ref_cnt"))
    )
    type_dim = (
        ev_static.select("event_type")
        .distinct()
        .join(ref, "event_type", "left")
        .withColumn("ref_cnt", F.coalesce("ref_cnt", F.lit(0)))
    )
    ref_tot = type_dim.agg(F.sum("ref_cnt").cast("long").alias("ref_n"))
    win_tot = cells.groupBy("window_start", "window_end").agg(
        F.sum("n").alias("w_n")
    )
    grid = (
        win_tot.crossJoin(F.broadcast(type_dim))
        .crossJoin(F.broadcast(ref_tot))
        .join(cells, ["window_start", "window_end", "event_type"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0)))
    )
    return grid.groupBy("window_start", "window_end").agg(
        F.max("w_n").cast("long").alias("n_events"),
        F.expr(
            "CAST(SUM(ABS(n * ref_n - ref_cnt * w_n)) * 1000"
            " div (2 * MAX(w_n) * MAX(ref_n)) AS BIGINT)"
        ).alias("tvd_milli"),
    )
