"""Additional multi-join analytics in the TPC-H idiom — deeper coverage of
the join+aggregate surface a reference user's reporting queries exercise
(customer/market/nation rollups over the order history).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..catalog import load_table
from ..registry import register
from ._shared import dsum
from .crosshash import duck_md5_int, md5_int


@register(
    "q7_nation_volume",
    tags=("join", "aggregate"),
    oracle="""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       year(l_shipdate) AS ship_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS volume
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name
GROUP BY cn.n_name, sn.n_name, year(l_shipdate)
HAVING COUNT(*) >= 5
""",
)
def q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q7-style cross-nation shipping volume: two aliased broadcast
    joins against the same dimension + a HAVING filter."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cn = nation.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    sn = nation.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").alias("ship_year"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("volume"),
            F.count(F.lit(1)).alias("_n"),
        )
        .filter(F.col("_n") >= 5)
        .drop("_n")
    )


@register(
    "q10_returned_items",
    tags=("join", "aggregate", "topk"),
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue_lost
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue_lost DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q10-style: top-20 customers by returned-item revenue in a
    year — join + aggregate + deterministic top-k."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, F.col("c_custkey") == F.col("o_custkey"))
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("revenue_lost"))
        .orderBy(F.col("revenue_lost").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "market_share_by_year",
    tags=("join", "aggregate", "window"),
    oracle="""
WITH yearly AS (
  SELECT c_mktsegment, year(o_orderdate) AS yr,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS seg_total
  FROM orders JOIN customer ON o_custkey = c_custkey
  GROUP BY c_mktsegment, year(o_orderdate)
)
SELECT c_mktsegment, yr, seg_total,
       ROUND(seg_total / SUM(seg_total) OVER (PARTITION BY yr), 6) AS share
FROM yearly
""",
)
def market_share_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share per segment-year: aggregate then a windowed ratio —
    the aggregate-then-window composition pattern."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    from pyspark.sql import Window

    yearly = (
        orders.join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment", F.year("o_orderdate").alias("yr"))
        .agg(dsum("o_totalprice").alias("seg_total"))
    )
    w = Window.partitionBy("yr")
    return yearly.select(
        "c_mktsegment",
        "yr",
        "seg_total",
        F.round(F.col("seg_total") / F.sum("seg_total").over(w), 6).alias("share"),
    )


@register(
    "sessionize_events",
    tags=("window", "events", "llm"),
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_type,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, event_type,
         CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
  FROM flagged
)
SELECT user_id, session_idx, MIN(ts) AS session_start, MAX(ts) AS session_end,
       CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec,
       COUNT(*) AS n_events,
       COUNT(DISTINCT event_type) AS n_event_types
FROM numbered
GROUP BY user_id, session_idx
""",
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gaps-and-islands rewrite of the
    reference-mandated session grouping (the batch twin of
    ``stream_session_window``): flag a session boundary wherever the gap
    to the previous event of the same user exceeds 30 minutes, turn the
    flags into session ordinals with a running sum, then aggregate one
    row per (user, session).

    Scale shape: both window passes and the final aggregate share ONE
    hash partitioning on user_id — Catalyst reuses the exchange, so the
    whole sessionization is a single shuffle of the events table however
    large it is. No per-user collect, no Python.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    run = Window.partitionBy("user_id").orderBy("ts").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    gap_sec = F.col("ts").cast("timestamp").cast("long") - F.lag("ts").over(w).cast("timestamp").cast("long")
    flagged = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.when(gap_sec.isNull() | (gap_sec > 30 * 60), 1).otherwise(0).alias("new_session"),
    )
    numbered = flagged.withColumn("session_idx", F.sum("new_session").over(run))
    return (
        numbered.groupBy("user_id", "session_idx")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (F.max("ts").cast("timestamp").cast("long") - F.min("ts").cast("timestamp").cast("long")).alias("duration_sec"),
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("event_type").alias("n_event_types"),
        )
    )


@register(
    "funnel_conversion",
    tags=("window", "events", "aggregate"),
    oracle="""
WITH stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'view'     THEN ts END) AS t_view,
         MIN(CASE WHEN event_type = 'click'    THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events
  GROUP BY user_id
), flags AS (
  SELECT user_id,
         t_view IS NOT NULL AS viewed,
         t_view IS NOT NULL AND t_click IS NOT NULL AND t_click >= t_view AS clicked_after_view,
         t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
           AND t_click >= t_view AND t_purchase >= t_click AS purchased_after_click
  FROM stages
)
SELECT COUNT(*) AS n_users,
       CAST(SUM(CASE WHEN viewed THEN 1 ELSE 0 END) AS BIGINT) AS stage_view,
       CAST(SUM(CASE WHEN clicked_after_view THEN 1 ELSE 0 END) AS BIGINT) AS stage_click,
       CAST(SUM(CASE WHEN purchased_after_click THEN 1 ELSE 0 END) AS BIGINT) AS stage_purchase,
       ROUND(CAST(SUM(CASE WHEN purchased_after_click THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN viewed THEN 1 ELSE 0 END), 0), 6) AS view_to_purchase_rate
FROM flags
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): a user advances a
    stage only if the stage's FIRST occurrence is at-or-after the previous
    stage's first occurrence. One conditional-aggregation pass per user —
    the min-per-stage trick keeps it a single shuffle + tiny global
    rollup, no per-user event sorting, no sequence UDF."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (F.col("t_click") >= F.col("t_view"))
    purchased = (
        clicked
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_click"))
    )
    flags = stages.select(
        viewed.alias("viewed"),
        clicked.alias("clicked"),
        purchased.alias("purchased"),
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).cast("long")  # noqa: E731
    return flags.agg(
        F.count(F.lit(1)).alias("n_users"),
        cnt("viewed").alias("stage_view"),
        cnt("clicked").alias("stage_click"),
        cnt("purchased").alias("stage_purchase"),
        F.round(
            cnt("purchased").cast("double") / F.nullif(cnt("viewed"), F.lit(0)), 6
        ).alias("view_to_purchase_rate"),
    )


@register(
    "events_retention_cohorts",
    tags=("events", "aggregate", "analytics"),
    oracle="""
WITH firsts AS (
  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT e.user_id, f.cohort_week,
         date_diff('day', f.cohort_week, date_trunc('week', e.ts)) // 7 AS week_offset
  FROM events e JOIN firsts f ON e.user_id = f.user_id
), sizes AS (
  SELECT cohort_week, COUNT(*) AS cohort_size FROM firsts GROUP BY cohort_week
)
SELECT a.cohort_week, a.week_offset,
       COUNT(DISTINCT a.user_id) AS active_users,
       s.cohort_size,
       CAST(COUNT(DISTINCT a.user_id) AS DOUBLE) / s.cohort_size AS retention
FROM activity a JOIN sizes s ON a.cohort_week = s.cohort_week
GROUP BY a.cohort_week, a.week_offset, s.cohort_size
""",
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the third classic event-analytics shape next to
    sessionization and funnels: users cohorted by first-seen week, then
    the share of each cohort active k weeks later. Week offsets are
    integer day-diffs between date_trunc'd weeks divided exactly by 7
    (both engines truncate to Monday), so the whole grid is
    integer-deterministic; only the final rate divides (one IEEE division
    per output row). Scale shape: first-seen and the activity join share
    ONE hash partitioning on user_id (exchange reuse, same as
    sessionize), the distinct-user count shuffles the (cohort, offset,
    user) triple once, and cohort sizes ride a broadcast — no corpus-size
    exchange beyond the user_id one however large the event log."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = ev.join(firsts, "user_id").select(
        "user_id",
        "cohort_week",
        F.expr("datediff(date_trunc('week', ts), cohort_week) div 7")
        .cast("long")
        .alias("week_offset"),
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "active_users",
            "cohort_size",
            (F.col("active_users").cast("double") / F.col("cohort_size")).alias(
                "retention"
            ),
        )
    )


PATH_TOPK = 20


@register(
    "events_path_mining",
    tags=("events", "analytics", "paths"),
    oracle=f"""
WITH ordered AS (
  SELECT user_id, event_type,
         LEAD(event_type, 1) OVER w AS e2,
         LEAD(event_type, 2) OVER w AS e3
  FROM events
  WHERE event_type IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_type || '>' || e2 || '>' || e3 AS path,
       COUNT(*) AS n_occurrences,
       COUNT(DISTINCT user_id) AS n_users
FROM ordered
WHERE e2 IS NOT NULL AND e3 IS NOT NULL
GROUP BY 1
ORDER BY n_occurrences DESC, path
LIMIT {PATH_TOPK}
""",
)
def events_path_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: the corpus-wide top-K 3-step event-type
    sequences (sliding trigrams over each user's time-ordered stream) with
    occurrence and distinct-user counts — the fourth classic
    event-analytics shape next to sessionize / funnel / retention.

    Plan: ONE window exchange partitioned by user_id produces both lead
    columns (Catalyst folds the two LEADs into a single Window node —
    same frame), then a path-cardinality aggregate (|event_types|^3 keys
    at most — tiny) and TakeOrderedAndProject for the global top-K. The
    ts tiebreak on event_id makes the ordering total, so the result is
    deterministic on any engine or partitioning."""
    # NULL event_types are dropped BEFORE the window on both sides: a
    # NULL row neither forms a path nor interrupts its neighbors', and
    # keeping it would let concat_ws (NULL-skipping) and the oracle's ||
    # (NULL-propagating) disagree.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isNotNull()
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    paths = (
        ev.select(
            "user_id",
            "event_type",
            F.lead("event_type", 1).over(w).alias("e2"),
            F.lead("event_type", 2).over(w).alias("e3"),
        )
        .filter(F.col("e2").isNotNull() & F.col("e3").isNotNull())
        .select(
            "user_id",
            F.concat_ws(">", "event_type", "e2", "e3").alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_occurrences").desc(), "path")
        .limit(PATH_TOPK)
    )


@register(
    "events_value_anomaly",
    tags=("analytics", "anomaly", "quality"),
    oracle="""
WITH med AS (
  SELECT event_type, quantile_disc(value, 0.5) AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         ABS(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_disc(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_id, d.event_type, d.value, d.med, m.mad,
       ROUND(d.adev / NULLIF(m.mad, 0.0), 6) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE d.adev > 3 * m.mad
""",
)
def events_value_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection on the event stream: flag events whose
    value deviates from their type's MEDIAN by more than 3× the median
    absolute deviation — the data-quality tripwire that runs ahead of any
    metric aggregation (mean/stddev z-scores break on the very outliers
    they should catch; median/MAD do not). percentile_disc medians are
    exact data values picked by rank (same convention as DuckDB's
    quantile_disc — no interpolation arithmetic), so the flag boundary is
    engine-exact; the reported robust_z is NULLIF-guarded for the
    constant-value degenerate case (MAD 0 would otherwise flag every
    nonequal value AND divide by zero — the > 3*0 filter still fires,
    the ratio reports NULL).

    Scale shape: two grouped exact-percentile aggregates over the 5-key
    event_type domain, each broadcast back onto the stream — the fact
    table is scanned, never sorted globally. Exact per-group percentiles
    hold to millions of rows per key; at 100 TB swap approx_percentile
    (t-digest, mergeable) into BOTH aggregates — same plan, and the 3×MAD
    flag tolerates sketch error by construction."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > 3 * F.col("mad"))
        .select(
            "event_id",
            "event_type",
            "value",
            "med",
            "mad",
            F.round(
                F.col("adev") / F.nullif(F.col("mad"), F.lit(0.0)), 6
            ).alias("robust_z"),
        )
    )


# ---------------------------------------------------------------------------
# Cumulative distinct users — the first-seen-flag rewrite
# ---------------------------------------------------------------------------
_CUM_UNIQUES_ORACLE = """
WITH firsts AS (
  SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day FROM events GROUP BY user_id
), daily AS (
  SELECT CAST(ts AS DATE) AS day,
         COUNT(DISTINCT user_id) AS dau
  FROM events GROUP BY day
), new_by_day AS (
  SELECT first_day AS day, COUNT(*) AS new_users FROM firsts GROUP BY first_day
)
SELECT d.day,
       CAST(d.dau AS BIGINT) AS dau,
       CAST(COALESCE(n.new_users, 0) AS BIGINT) AS new_users,
       CAST(d.dau - COALESCE(n.new_users, 0) AS BIGINT) AS returning_users,
       CAST(SUM(COALESCE(n.new_users, 0)) OVER (
         ORDER BY d.day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cumulative_users
FROM daily d LEFT JOIN new_by_day n ON n.day = d.day
"""


@register(
    "events_cumulative_uniques",
    tags=("events", "window", "aggregate"),
    oracle=_CUM_UNIQUES_ORACLE,
)
def events_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active / new / returning / cumulative-unique users — the
    growth-accounting rollup, written the way it survives 100 TB: a
    running COUNT(DISTINCT) over an expanding window is quadratic state
    (every day re-deduplicates all history), so instead each user's
    FIRST day is computed once (one user-keyed aggregate), new-user
    counts roll up per day, and the cumulative series is a running SUM
    over the day-grain table — which is only ~365 rows per year, making
    the unpartitioned ordered window a non-issue. DAU dedups within
    single days only (bounded state). The identity
    cumulative_users[d] = Σ new_users[≤d] replaces history-wide
    distinct with the first-seen flag — the same trick
    stream-processing systems use for exactly-this metric.

    Plan shape: two user/day-keyed exchanges (first-day aggregate,
    daily DAU aggregate) and one day-grain window; no day×history
    blow-up anywhere."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("first_day"))
    new_by_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    daily = ev.groupBy("day").agg(F.countDistinct("user_id").alias("dau"))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        daily.join(new_by_day, "day", "left")
        .select(
            "day",
            F.col("dau").cast("long").alias("dau"),
            F.coalesce("new_users", F.lit(0)).cast("long").alias("new_users"),
            (F.col("dau") - F.coalesce("new_users", F.lit(0)))
            .cast("long")
            .alias("returning_users"),
            F.sum(F.coalesce("new_users", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("cumulative_users"),
        )
    )


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier — multi-objective dominance
# ---------------------------------------------------------------------------
SKY_FROM = "DATE '1997-01-01'"   # one-year analysis window: bounds the
SKY_TO = "DATE '1998-01-01'"     # oracle's quadratic NOT-EXISTS check


@register(
    "skyline_pareto_frontier",
    tags=("analytics", "skyline", "window", "frontier"),
    oracle=f"""
WITH o AS (
  SELECT c_mktsegment AS segment, o_orderkey, o_totalprice AS price,
         CAST(o_orderdate AS DATE) AS order_date
  FROM orders JOIN customer ON c_custkey = o_custkey
  WHERE o_orderdate >= {SKY_FROM} AND o_orderdate < {SKY_TO}
)
SELECT segment, o_orderkey, price, order_date,
       ROW_NUMBER() OVER (PARTITION BY segment
                          ORDER BY price, o_orderkey) AS frontier_rank
FROM o x
WHERE NOT EXISTS (
  SELECT 1 FROM o y
  WHERE y.segment = x.segment
    AND y.price <= x.price AND y.order_date >= x.order_date
    AND (y.price < x.price OR y.order_date > x.order_date)
)
""",
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) query — the classic multi-objective
    operator (Börzsönyi et al., ICDE 2001) the relational surface lacks:
    per market segment, the orders of the analysis year not DOMINATED by
    any other (dominator: price <= AND order_date >=, at least one
    strict) — i.e. the cheapest-for-how-recent frontier. Equal
    (price, date) twins dominate neither and both survive.

    Plan shape — the sort-first linear scan, NOT the quadratic
    definition: (1) collapse to (segment, price) grain keeping the max
    date per price (map-side-combinable aggregate — a price survives
    only via its best date); (2) ONE window over the price-grain frame,
    ordered by price, carrying the running max of earlier (strictly
    cheaper) dates: a price-grain row survives iff its best date beats
    every cheaper price's best date; (3) one hash join back to rows,
    keeping rows AT the surviving (price, best-date) points. The oracle
    states the textbook NOT-EXISTS dominance directly, so the gate
    proves the O(n log n) rewrite equals the O(n^2) definition. At
    100 TB the window runs on the price-GRAIN frame (distinct prices,
    not rows); for a truly monster segment, range-partition by price,
    take local frontiers, and merge — frontiers are monotone, the merge
    is the same window on the tiny union of local frontiers."""
    from pyspark.sql import Window

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.col("c_mktsegment").alias("segment")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.expr(SKY_FROM))
            & (F.col("o_orderdate") < F.expr(SKY_TO))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "segment",
            "o_orderkey",
            F.col("o_totalprice").alias("price"),
            F.col("o_orderdate").cast("date").alias("order_date"),
        )
    )
    grain = o.groupBy("segment", "price").agg(
        F.max("order_date").alias("best_date")
    )
    w_prev = (
        Window.partitionBy("segment")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    frontier_prices = (
        grain.withColumn("prev_best", F.max("best_date").over(w_prev))
        .filter(
            F.col("prev_best").isNull()
            | (F.col("prev_best") < F.col("best_date"))
        )
        .select("segment", "price", "best_date")
    )
    w_rk = Window.partitionBy("segment").orderBy("price", "o_orderkey")
    return (
        o.join(frontier_prices, ["segment", "price"])
        .filter(F.col("order_date") == F.col("best_date"))
        .select(
            "segment",
            "o_orderkey",
            "price",
            "order_date",
            F.row_number().over(w_rk).alias("frontier_rank"),
        )
    )


@register(
    "events_markov_transitions",
    tags=("events", "markov", "sequence", "window"),
    oracle="""
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
), trans AS (
  SELECT prev_type AS from_type, event_type AS to_type,
         CAST(COUNT(*) AS BIGINT) AS n_trans
  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
), totals AS (
  SELECT from_type, CAST(SUM(n_trans) AS BIGINT) AS from_total
  FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, t.n_trans, s.from_total,
       CAST(t.n_trans * 1000 // s.from_total AS BIGINT) AS prob_milli,
       CAST(length(bin(s.from_total // t.n_trans)) - 1 AS BIGINT)
         AS surprisal_bits
FROM trans t JOIN totals s USING (from_type)
""",
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition model over per-user event sequences
    — the sequence-model complement to events_path_mining (which ranks
    whole 3-step paths; this estimates the TRANSITION MATRIX the paths
    walk): each user's events order by (ts, event_id), consecutive pairs
    count into (from_type, to_type) cells, and each cell carries its
    row-normalized probability (milli) plus an exact integer surprisal
    floor(log2(1/p)) via the bit-length trick text_bigram_surprisal
    uses — high-bits transitions are the anomalous state changes a
    monitoring pipeline alerts on, in arithmetic both engines hash
    identically.

    Plan shape: ONE user-partitioned window (the sessionize exchange) to
    form pairs, then a |types|^2-grain aggregate and a broadcast join of
    the |types|-row totals — after the lag, nothing is event-grain. At
    100 TB the transition matrix is a few KB however large the event
    log; the user partitioning is the same single shuffle every
    sequence operator here shares."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    trans = (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_trans"))
    )
    totals = trans.groupBy("from_type").agg(
        F.sum("n_trans").cast("long").alias("from_total")
    )
    return trans.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n_trans",
        "from_total",
        F.expr("CAST(n_trans * 1000 div from_total AS BIGINT)").alias(
            "prob_milli"
        ),
        (F.length(F.expr("bin(from_total div n_trans)")) - 1)
        .cast("long")
        .alias("surprisal_bits"),
    )


# ---------------------------------------------------------------------------
# Rolling 7-day distinct actives — the explode-by-window-width rewrite
# ---------------------------------------------------------------------------
# Trailing-window COUNT(DISTINCT user) (the WAU in DAU/WAU/MAU dashboards) is
# NOT decomposable: yesterday's distinct count tells you nothing about
# today's, so the naive day×history window re-deduplicates the whole trail
# per day. The scalable exact rewrite: collapse to (user, day) grain ONCE,
# then explode each user-day to the W calendar days it keeps that user
# active for, and de-duplicate (user, cover_day) — turning the sliding
# distinct into two bounded exchanges with a fixed W× fan-out on the
# already-deduplicated grain. W=7 here; the same shape serves MAU at W=30.
_ROLLING_ACTIVES_ORACLE = """
WITH ud AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), bounds AS (
  SELECT MAX(day) AS d1 FROM ud
), cover AS (
  SELECT DISTINCT ud.user_id, ud.day + CAST(g.o AS INTEGER) AS day
  FROM ud, (SELECT unnest(range(0, 7)) AS o) g
), wau AS (
  SELECT cover.day, COUNT(*) AS wau
  FROM cover, bounds WHERE cover.day <= bounds.d1 GROUP BY cover.day
), dau AS (
  SELECT day, COUNT(*) AS dau FROM ud GROUP BY day
)
SELECT w.day,
       CAST(COALESCE(d.dau, 0) AS BIGINT) AS dau,
       CAST(w.wau AS BIGINT) AS wau_7d,
       CAST(COALESCE(d.dau, 0) * 1000 // w.wau AS BIGINT) AS stickiness_milli
FROM wau w LEFT JOIN dau d ON d.day = w.day
"""


@register(
    "events_rolling_actives",
    tags=("events", "window", "aggregate", "distinct"),
    oracle=_ROLLING_ACTIVES_ORACLE,
)
def events_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily + trailing-7-day distinct active users with the DAU/WAU
    stickiness ratio (exact integer milli). The oracle states the
    semantics as explode-to-7-cover-days + DISTINCT; the Spark side uses
    the stronger disjoint-segment rewrite: per user, sorted active days
    emit the interval [GREATEST(day, prev_day + 7), day + 6] — prev_day
    covers everything before prev_day + 7, so consecutive segments are
    disjoint BY CONSTRUCTION and their union is exactly the cover set.
    That deletes the distinct on the 7×-exploded rows (the widest
    exchange in the naive plan): the explode output flows straight into
    a map-side-combinable day-grain count. Days past the data's last
    day are clipped (their windows are not yet complete).

    Plan shape: one exchange to (user, day) grain, one user-keyed
    window (lag), then the day-grain count whose map-side combine
    collapses the 7× fan-out before any shuffle; the 1-row max-day
    bound broadcasts. The same shape serves MAU at W=30."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.col("ts").cast("date").alias("day")).distinct()
    d1 = ud.agg(F.max("day").alias("d1"))
    w = Window.partitionBy("user_id").orderBy("day")
    seg = (
        ud.withColumn("prev", F.lag("day").over(w))
        .crossJoin(F.broadcast(d1))
        .select(
            F.greatest(
                F.col("day"),
                F.coalesce(F.date_add(F.col("prev"), 7), F.col("day")),
            ).alias("s"),
            F.least(F.date_add(F.col("day"), 6), F.col("d1")).alias("e"),
        )
        .filter(F.col("s") <= F.col("e"))
    )
    wau = (
        seg.select(F.explode(F.expr("sequence(s, e)")).alias("day"))
        .groupBy("day")
        .agg(F.count(F.lit(1)).alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    return wau.join(dau, "day", "left").selectExpr(
        "day",
        "CAST(COALESCE(dau, 0) AS BIGINT) AS dau",
        "CAST(wau AS BIGINT) AS wau_7d",
        "CAST(COALESCE(dau, 0) * 1000 div wau AS BIGINT) AS stickiness_milli",
    )


# ---------------------------------------------------------------------------
# Event-type co-occurrence lift — market-basket association at user grain
# ---------------------------------------------------------------------------
# The association-rule primitives (support / confidence / lift) over each
# user's basket of distinct event types. Exact integer arithmetic: lift is
# reported in milli (support × n_users × 1000 div (n_a × n_b)) so both
# engines compute the same truncated value — a double division would hash-
# diverge. The pair join runs at (user, type) grain, never event grain, and
# the pair fan-out is bounded by C(|types|, 2) per user.
_COOCCUR_ORACLE = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
), n AS (
  SELECT COUNT(DISTINCT user_id) AS nu FROM ut
), tc AS (
  SELECT event_type, COUNT(*) AS nt FROM ut GROUP BY event_type
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS support
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b,
       CAST(p.support AS BIGINT) AS support_users,
       CAST(ca.nt AS BIGINT) AS n_type_a,
       CAST(cb.nt AS BIGINT) AS n_type_b,
       CAST(n.nu AS BIGINT) AS n_users,
       CAST(p.support * n.nu * 1000 // (ca.nt * cb.nt) AS BIGINT) AS lift_milli,
       CAST(p.support * 1000 // ca.nt AS BIGINT) AS conf_a_to_b_milli
FROM pairs p
JOIN tc ca ON ca.event_type = p.type_a
JOIN tc cb ON cb.event_type = p.type_b
CROSS JOIN n
"""


@register(
    "events_cooccurrence_lift",
    tags=("events", "join", "aggregate", "association"),
    oracle=_COOCCUR_ORACLE,
)
def events_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support / confidence / lift for unordered event-type pairs over
    user baskets — the Apriori first pass, which for a bounded type
    vocabulary IS the whole computation (every pair fits one aggregate).
    Lift > 1000 milli means the pair co-occurs more than independence
    predicts. All ratios are exact truncated integer milli.

    Plan shape: the pair self-join runs on the (user, type) DISTINCT
    grain — at fixture SFs AQE broadcasts that deduped grain outright
    (BroadcastHashJoin in the formatted plan); at cluster scale it is a
    user-keyed shuffle join of two copies of the same tiny grain, and
    the aggregate collapses map-side to |types|² rows; the type totals
    and the 1-row user count broadcast back. At a 100 TB event
    log with an UNBOUNDED type vocabulary, cap pair generation to the
    top-k types by support first (the standard Apriori prune) — the
    plan shape is unchanged."""
    ev = load_table(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    nu = ut.agg(F.countDistinct("user_id").alias("nu"))
    tc = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("nt"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    return (
        pairs.join(
            F.broadcast(tc.select(F.col("event_type").alias("type_a"), F.col("nt").alias("n_type_a"))),
            "type_a",
        )
        .join(
            F.broadcast(tc.select(F.col("event_type").alias("type_b"), F.col("nt").alias("n_type_b"))),
            "type_b",
        )
        .crossJoin(F.broadcast(nu))
        .selectExpr(
            "type_a",
            "type_b",
            "CAST(support AS BIGINT) AS support_users",
            "CAST(n_type_a AS BIGINT) AS n_type_a",
            "CAST(n_type_b AS BIGINT) AS n_type_b",
            "CAST(nu AS BIGINT) AS n_users",
            "CAST(support * nu * 1000 div (n_type_a * n_type_b) AS BIGINT)"
            " AS lift_milli",
            "CAST(support * 1000 div n_type_a AS BIGINT) AS conf_a_to_b_milli",
        )
    )


# ---------------------------------------------------------------------------
# Linear multi-touch attribution — exact-milli credit assignment
# ---------------------------------------------------------------------------
# The marketing-analytics sibling of join_asof_last_click (which is
# last-touch): every touchpoint in the 7-day lookback before a conversion
# shares the conversion's 1000 milli-credits equally. The integer split is
# 1000 div m per touch with the remainder (1000 mod m) assigned to the MOST
# RECENT touch (deterministic: ts desc, event_id desc), so per-conversion
# credit always sums to exactly 1000 and the whole table stays
# hash-checkable — a double 1/m split would drift by summation order.
_ATTR_LOOKBACK_DAYS = 7
_ATTR_TOUCH_TYPES = ("click", "view", "signup")

_ATTR_ORACLE = f"""
WITH conv AS (
  SELECT user_id, event_id AS conv_id, ts AS conv_ts
  FROM events WHERE event_type = 'purchase'
), touch AS (
  SELECT user_id, event_id AS touch_id, event_type AS touch_type, ts AS touch_ts
  FROM events WHERE event_type IN {_ATTR_TOUCH_TYPES!r}
), pairs AS (
  SELECT c.conv_id, t.touch_id, t.touch_type,
         COUNT(*) OVER (PARTITION BY c.conv_id) AS m,
         ROW_NUMBER() OVER (PARTITION BY c.conv_id
                            ORDER BY t.touch_ts DESC, t.touch_id DESC) AS rn
  FROM conv c
  JOIN touch t ON t.user_id = c.user_id
              AND t.touch_ts < c.conv_ts
              AND t.touch_ts >= c.conv_ts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY
), credited AS (
  SELECT touch_type, conv_id,
         1000 // m + CASE WHEN rn = 1 THEN 1000 % m ELSE 0 END AS credit_milli
  FROM pairs
), per_type AS (
  SELECT touch_type,
         CAST(COUNT(*) AS BIGINT) AS n_touches,
         CAST(COUNT(DISTINCT conv_id) AS BIGINT) AS n_conversions,
         CAST(SUM(credit_milli) AS BIGINT) AS credit_milli
  FROM credited GROUP BY touch_type
), direct AS (
  SELECT '(direct)' AS touch_type,
         CAST(0 AS BIGINT) AS n_touches,
         CAST(COUNT(*) AS BIGINT) AS n_conversions,
         CAST(COUNT(*) * 1000 AS BIGINT) AS credit_milli
  FROM conv c
  WHERE NOT EXISTS (
    SELECT 1 FROM touch t
    WHERE t.user_id = c.user_id AND t.touch_ts < c.conv_ts
      AND t.touch_ts >= c.conv_ts - INTERVAL {_ATTR_LOOKBACK_DAYS} DAY)
)
SELECT * FROM per_type UNION ALL SELECT * FROM direct
"""


@register(
    "events_attribution_linear",
    tags=("events", "attribution", "analytics"),
    oracle=_ATTR_ORACLE,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-split) multi-touch attribution: each purchase's 1000
    milli-credits divide evenly across the user's click/view/signup
    touchpoints in the 7-day lookback window; conversions with no
    touchpoints report under '(direct)' with full credit. Integer split
    with the remainder pinned to the most recent touch keeps every
    conversion summing to exactly 1000 — exact cross-engine, where a
    double 1/m would hash-drift.

    Scale shape: the touch⋈conversion pair join is keyed on user_id
    with a time-band predicate — per-user work is (purchases ×
    touches) of ONE user's history, bounded by per-user activity, never
    a cross of the global tables; the same user-keyed exchange then
    feeds the per-conversion window (no second shuffle — conv_id rows
    are co-located because conv_id lives inside one user's partition
    only after the user-keyed join, so Spark re-exchanges on conv_id:
    rollup-sized, pairs not raw events). The '(direct)' branch is a
    user-keyed anti join on the same exchange."""
    ev = load_table(spark, sf_dir, "events")
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("conv_id"),
        F.col("ts").alias("conv_ts"),
    )
    touch = ev.filter(F.col("event_type").isin(*_ATTR_TOUCH_TYPES)).select(
        F.col("user_id").alias("t_user"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
        F.col("ts").alias("touch_ts"),
    )
    band = (
        (F.col("t_user") == F.col("user_id"))
        & (F.col("touch_ts") < F.col("conv_ts"))
        & (
            F.col("touch_ts")
            >= F.col("conv_ts") - F.expr(f"INTERVAL {_ATTR_LOOKBACK_DAYS} DAY")
        )
    )
    pairs = conv.join(touch, band).select(
        "conv_id",
        "touch_id",
        "touch_type",
        F.count(F.lit(1)).over(Window.partitionBy("conv_id")).alias("m"),
        F.row_number()
        .over(
            Window.partitionBy("conv_id").orderBy(
                F.col("touch_ts").desc(), F.col("touch_id").desc()
            )
        )
        .alias("rn"),
    )
    credited = pairs.selectExpr(
        "touch_type",
        "conv_id",
        "1000 div m + CASE WHEN rn = 1 THEN 1000 % m ELSE 0 END AS credit_milli",
    )
    per_type = credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_touches"),
        F.countDistinct("conv_id").cast("long").alias("n_conversions"),
        F.sum("credit_milli").cast("long").alias("credit_milli"),
    )
    direct = (
        conv.join(touch, band, "left_anti")
        .agg(F.count(F.lit(1)).alias("nc"))
        .selectExpr(
            "'(direct)' AS touch_type",
            "CAST(0 AS BIGINT) AS n_touches",
            "CAST(nc AS BIGINT) AS n_conversions",
            "CAST(nc * 1000 AS BIGINT) AS credit_milli",
        )
    )
    return per_type.unionByName(direct)


@register(
    "events_activity_streaks",
    tags=("events", "window", "analytics", "gaps-islands"),
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
), grp AS (
  SELECT user_id, d,
         CAST(d - DATE '1970-01-01' AS BIGINT)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS g
  FROM days
), streaks AS (
  SELECT user_id, g, COUNT(*) AS len, MIN(d) AS start_day
  FROM grp GROUP BY user_id, g
), per_user AS (
  SELECT user_id,
         CAST(SUM(len) AS BIGINT) AS n_active_days,
         CAST(COUNT(*) AS BIGINT) AS n_streaks,
         CAST(MAX(len) AS BIGINT) AS longest_streak_days
  FROM streaks GROUP BY user_id
), pick AS (
  SELECT s.user_id, MIN(s.start_day) AS longest_streak_start
  FROM streaks s JOIN per_user p
    ON p.user_id = s.user_id AND s.len = p.longest_streak_days
  GROUP BY s.user_id
)
SELECT p.user_id, p.n_active_days, p.n_streaks, p.longest_streak_days,
       k.longest_streak_start
FROM per_user p JOIN pick k ON k.user_id = p.user_id
""",
)
def events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user — the canonical
    gaps-and-islands problem (engagement analytics' 'current streak' /
    'longest streak' metric): distinct active days, islands formed by
    the epoch-day-minus-row-number constant, per-island length, and per
    user the streak count, the longest streak, and the earliest start
    among longest streaks (deterministic tie-break).

    Plan shape: day-grain distinct, ONE user-keyed window (row_number
    over day order), an island aggregate and a user aggregate — all
    four share the user_id hash partitioning, so Catalyst reuses a
    single exchange of the day-grain rows (the sessionize_events
    argument). Nothing is keyed on the full event grain after the first
    distinct; at 100 TB the heavy step is that one day-grain collapse,
    which is map-side combinable."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        (F.unix_date("d").cast("long") - F.row_number().over(w)).alias("g"),
    )
    streaks = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("len"), F.min("d").alias("start_day")
    )
    per_user = streaks.groupBy("user_id").agg(
        F.sum("len").cast("long").alias("n_active_days"),
        F.count(F.lit(1)).cast("long").alias("n_streaks"),
        F.max("len").cast("long").alias("longest_streak_days"),
    )
    pick = (
        streaks.join(
            per_user.select("user_id", "longest_streak_days"), "user_id"
        )
        .filter(F.col("len") == F.col("longest_streak_days"))
        .groupBy("user_id")
        .agg(F.min("start_day").alias("longest_streak_start"))
    )
    return per_user.join(pick, "user_id")


@register(
    "events_funnel_ttc",
    tags=("events", "window", "analytics", "funnel"),
    oracle="""
WITH signups AS (
  SELECT user_id, MIN(ts) AS t_signup
  FROM events WHERE event_type = 'signup' GROUP BY user_id
), conv AS (
  SELECT s.user_id,
         CAST(date_trunc('week', s.t_signup) AS DATE) AS cohort_week,
         CAST(floor(epoch(MIN(p.ts))) AS BIGINT)
           - CAST(floor(epoch(s.t_signup)) AS BIGINT) AS ttc_sec
  FROM signups s
  JOIN events p
    ON p.user_id = s.user_id AND p.event_type = 'purchase'
   AND p.ts >= s.t_signup
  GROUP BY s.user_id, s.t_signup
), ranked AS (
  SELECT cohort_week, ttc_sec,
         ROW_NUMBER() OVER (PARTITION BY cohort_week
                            ORDER BY ttc_sec, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY cohort_week) AS n
  FROM conv
)
SELECT cohort_week,
       CAST(MAX(n) AS BIGINT) AS n_converted,
       CAST(MIN(ttc_sec) AS BIGINT) AS min_ttc_sec,
       CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN ttc_sec END) AS BIGINT)
         AS median_ttc_sec,
       CAST(MAX(ttc_sec) AS BIGINT) AS max_ttc_sec,
       CAST(SUM(CAST(ttc_sec AS HUGEINT)) // MAX(n) AS BIGINT) AS mean_ttc_sec
FROM ranked GROUP BY cohort_week
""",
)
def events_funnel_ttc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution per signup-week cohort: for every
    user, the seconds from first signup to the first purchase at-or-
    after it; per cohort the converted count, min/median/max and the
    truncated mean. The median is the lower order statistic picked by
    rank — only the ttc VALUE leaves the query, so row_number tie order
    never escapes (the ts_theil_sen_trend convention) — and epoch
    arithmetic keeps every statistic int64-exact cross-engine.

    Plan shape: one filtered aggregate for first signups (user-keyed),
    one user-keyed band join onto purchase events with the at-or-after
    predicate pushed into the join, then a cohort-grain ranking window —
    shuffle keys are user_id then the cohort week; no global sort. At
    100 TB cohorts are calendar-bounded so the ranked window partitions
    stay balanced regardless of corpus size."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")
    )
    conv = (
        signups.join(
            purchases,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") >= F.col("t_signup")),
        )
        .groupBy("user_id", "t_signup")
        .agg(F.min("p_ts").alias("t_conv"))
        .select(
            "user_id",
            F.date_trunc("week", "t_signup").cast("date").alias("cohort_week"),
            (
                F.col("t_conv").cast("timestamp").cast("long")
                - F.col("t_signup").cast("timestamp").cast("long")
            ).alias("ttc_sec"),
        )
    )
    w = Window.partitionBy("cohort_week").orderBy("ttc_sec", "user_id")
    wc = Window.partitionBy("cohort_week")
    ranked = conv.select(
        "cohort_week",
        "ttc_sec",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("n"),
    )
    return ranked.groupBy("cohort_week").agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min("ttc_sec").cast("long").alias("min_ttc_sec"),
        F.max(
            F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col("ttc_sec"))
        )
        .cast("long")
        .alias("median_ttc_sec"),
        F.max("ttc_sec").cast("long").alias("max_ttc_sec"),
        # DECIMAL(38,0) sum — Spark SUM(long) wraps where DuckDB promotes
        F.expr(
            "CAST(SUM(CAST(ttc_sec AS DECIMAL(38,0))) div MAX(n) AS BIGINT)"
        ).alias("mean_ttc_sec"),
    )


@register(
    "events_hhi_concentration",
    tags=("events", "aggregate", "analytics", "skew", "monitoring"),
    oracle="""
WITH per_user AS (
  SELECT event_type, user_id, COUNT(*) AS cnt
  FROM events GROUP BY event_type, user_id
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(cnt) AS BIGINT) AS n_events,
       CAST(SUM(CAST(cnt AS HUGEINT) * cnt) * 1000000
            // (CAST(SUM(cnt) AS HUGEINT) * SUM(cnt)) AS BIGINT) AS hhi_ppm,
       CAST(CAST(MAX(cnt) AS HUGEINT) * 1000000 // SUM(cnt) AS BIGINT)
         AS top_user_share_ppm
FROM per_user GROUP BY event_type
""",
)
def events_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration of per-user activity by event
    type — the traffic-skew diagnostic (HHI = sum of squared user
    shares, 1e6 = one user owns everything, 1e6/n_users = perfectly
    even). The same number that predicts shuffle-key skew for any
    user-keyed join/agg over this table, which is why a 100 TB pipeline
    computes it BEFORE picking salting factors (profile_key_skew's
    argument, at the behavioral grain). HHI is computed as
    1e6 * sum(cnt²) // total² — one division on 128-bit integers, no
    per-user share truncation bias — exactly mirrored in HUGEINT.

    Plan shape: one (type, user)-keyed map-side-combinable aggregate,
    then a |types|-grain rollup. Nothing after the first exchange is
    corpus-sized."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("cnt").cast("long").alias("n_events"),
        # cnt² sums ride DECIMAL(38,0) BEFORE the aggregate: Spark SUM(long)
        # wraps (or ANSI-errors) where DuckDB silently promotes to HUGEINT —
        # the agg_winsorized_stats divergence class (ADVICE r6).
        F.expr(
            "CAST((SUM(CAST(cnt AS DECIMAL(38,0)) * cnt) * 1000000)"
            " div (CAST(SUM(cnt) AS DECIMAL(38,0)) * SUM(cnt)) AS BIGINT)"
        ).alias("hhi_ppm"),
        # same 128-bit discipline as hhi_ppm (ADVICE r8): MAX(cnt)*1e6 in
        # int64 ANSI-errors past cnt ~9.2e12 where DuckDB silently promotes
        F.expr(
            "CAST(CAST(MAX(cnt) AS DECIMAL(38,0)) * 1000000"
            " div SUM(cnt) AS BIGINT)"
        ).alias("top_user_share_ppm"),
    )


def _distributed_ntile(
    df: DataFrame, sort_cols: list, n_buckets: int, out_name: str
) -> DataFrame:
    """Exact ANSI NTILE over a total order WITHOUT a single-partition
    sort (VERDICT r8 #2 — ``F.ntile().over(Window.orderBy(...))`` is a
    `WindowExec: No Partition Defined`, the one plan shape that cannot
    survive a 100x blow-up of the ranked table):

    1. range-exchange on the sort key (RangePartitioner's reservoir
       sampling is deterministic, and the unique tiebreak column rides
       in the key, so ties split cleanly across partitions — no skew);
    2. per-partition ``row_number`` — a window PARTITIONED BY the
       exchange's partition id, i.e. fully parallel;
    3. cumulative partition offsets via a triangular self-join over the
       partition-count-grain counts (≤ shuffle-partitions rows — bounded
       by config, not data; no driver collect, no global window even on
       the tiny side), broadcast back: global rank = offset + local rn;
    4. the ANSI NTILE remainder rule as rank arithmetic against the
       broadcast total: with q = n div B, r = n mod B, the first r
       buckets take q+1 rows — identical to both engines' NTILE. The
       CASE guards the q = 0 (n < B) branch: every row then satisfies
       rk <= r, so the dividing branch never evaluates under ANSI.

    The locally-ranked table is ``.cache()``-ed (the minhash_lsh_pairs
    multi-consumer convention): it feeds the offset aggregate, the total
    and the final join — uncached, each chained NTILE stage would embed
    4 copies of its upstream subtree in the plan (4^3 for the RFM grid's
    three metrics; measured as a 264-codegen-stage plan).

    The helper columns are dropped; only ``out_name`` is added."""
    part = df.repartitionByRange(*sort_cols).withColumn(
        "_pid", F.spark_partition_id()
    )
    w = Window.partitionBy("_pid").orderBy(*sort_cols)
    part = part.withColumn("_lrn", F.row_number().over(w)).cache()
    counts = part.groupBy("_pid").agg(F.count(F.lit(1)).alias("_pc"))
    ca, cb = counts.alias("ca"), counts.alias("cb")
    offs = (
        ca.join(F.broadcast(cb), F.col("cb._pid") < F.col("ca._pid"), "left")
        .groupBy(F.col("ca._pid").alias("_pid"))
        .agg(F.coalesce(F.sum("cb._pc"), F.lit(0)).alias("_off"))
    )
    tot = counts.agg(F.sum("_pc").alias("_n"))
    ranked = (
        part.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(tot))
        .withColumn("_rk", F.col("_off") + F.col("_lrn"))
    )
    b = n_buckets
    bucket = F.expr(
        f"CASE WHEN _rk <= (_n % {b}) * ((_n div {b}) + 1)"
        f" THEN (_rk - 1) div ((_n div {b}) + 1) + 1"
        f" ELSE (_n % {b}) + (_rk - (_n % {b}) * ((_n div {b}) + 1) - 1)"
        f"      div (_n div {b}) + 1 END"
    )
    return ranked.withColumn(out_name, bucket.cast("int")).drop(
        "_pid", "_lrn", "_off", "_n", "_rk"
    )




@register(
    "orders_rfm_segments",
    tags=("analytics", "window", "aggregate", "segmentation"),
    oracle="""
WITH asof_d AS (
  SELECT MAX(o_orderdate) AS max_d FROM orders
), per_cust AS (
  SELECT o_custkey AS custkey,
         CAST(date_diff('day', MAX(o_orderdate), (SELECT max_d FROM asof_d))
              AS BIGINT) AS recency_days,
         CAST(COUNT(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
), scored AS (
  SELECT custkey, recency_days, frequency, monetary_cents,
         NTILE(4) OVER (ORDER BY recency_days, custkey) AS r_q,
         NTILE(4) OVER (ORDER BY frequency DESC, custkey) AS f_q,
         NTILE(4) OVER (ORDER BY monetary_cents DESC, custkey) AS m_q
  FROM per_cust
)
SELECT r_q, f_q, m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(monetary_cents AS HUGEINT)) // COUNT(*) AS BIGINT)
         AS avg_monetary_cents,
       CAST(SUM(frequency) AS BIGINT) AS total_orders
FROM scored GROUP BY r_q, f_q, m_q
""",
)
def orders_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid: per customer
    the recency (days since last order, against the corpus max date),
    frequency (order count) and monetary value (exact cents), each
    quartiled over a deterministic total order (metric + custkey
    tiebreak), rolled up to the 4x4x4 segment census with exact
    truncated-mean monetary value. The oracle states the quartiles as
    ANSI NTILE; the Spark side computes the identical assignment with
    ``_distributed_ntile`` — range-exchange rank + the NTILE remainder
    rule as arithmetic — because a global ``ntile().over(orderBy)`` is a
    single-partition sort of the whole customer table (VERDICT r8 #2:
    fine at 10x facts onto fixed customers, dead at 100x customers).
    Money stays in DECIMAL-derived integer cents — the grid hash-matches.

    Plan shape: one customer-grain aggregate over the fact table (one
    shuffle), then per metric one RANGE exchange + a partition-id-scoped
    window (parallel) + partition-count-grain offset joins (broadcast),
    one segment-grain rollup. No unpartitioned window anywhere — pinned
    by test_plans.py::test_rfm_has_no_single_partition_window."""
    orders = load_table(spark, sf_dir, "orders")
    asof = orders.agg(F.max("o_orderdate").alias("max_d"))
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_d"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(asof))
        .select(
            "custkey",
            F.datediff(F.col("max_d"), F.col("last_d"))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary_cents",
        )
    )
    scored = _distributed_ntile(
        per_cust, [F.col("recency_days"), F.col("custkey")], 4, "r_q"
    )
    scored = _distributed_ntile(
        scored, [F.col("frequency").desc(), F.col("custkey")], 4, "f_q"
    )
    scored = _distributed_ntile(
        scored, [F.col("monetary_cents").desc(), F.col("custkey")], 4, "m_q"
    )
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.expr(
            "CAST(SUM(CAST(monetary_cents AS DECIMAL(38,0)))"
            " div COUNT(*) AS BIGINT)"
        ).alias("avg_monetary_cents"),
        F.sum("frequency").cast("long").alias("total_orders"),
    )


# A/B arm of a user: A iff the first 48 bits of md5('ab:' || user_id) are
# even — content-addressed, shared by the three experiment readouts.
def _ab_variant() -> "F.Column":
    u48 = md5_int(F.concat(F.lit("ab:"), F.col("user_id").cast("string")), 12)
    return F.when(u48 % 2 == 0, "A").otherwise("B")


def _ab_variant_duck(user_id: str) -> str:
    u48 = duck_md5_int(f"'ab:' || CAST({user_id} AS VARCHAR)", 12)
    return f"CASE WHEN {u48} % 2 = 0 THEN 'A' ELSE 'B' END"


@register(
    "events_ab_test_readout",
    tags=("events", "analytics", "experiment"),
    oracle=f"""
WITH assigned AS (
  SELECT user_id,
         {_ab_variant_duck("user_id")} AS variant
  FROM events GROUP BY user_id
), metrics AS (
  SELECT a.variant,
         COUNT(DISTINCT e.user_id) AS n_users,
         COUNT(DISTINCT CASE WHEN e.event_type = 'purchase'
                             THEN e.user_id END) AS n_converted,
         CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                   THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ELSE 0 END), 0) AS BIGINT) AS purchase_cents
  FROM events e JOIN assigned a USING (user_id)
  GROUP BY a.variant
), rates AS (
  SELECT variant, n_users, n_converted, purchase_cents,
         CAST(n_converted * 1000000 // n_users AS BIGINT) AS cvr_ppm,
         CAST(purchase_cents // n_users AS BIGINT) AS cents_per_user
  FROM metrics
)
SELECT variant, CAST(n_users AS BIGINT) AS n_users,
       CAST(n_converted AS BIGINT) AS n_converted,
       purchase_cents, cvr_ppm, cents_per_user
FROM rates
UNION ALL
SELECT 'B-A' AS variant,
       b.n_users - a.n_users,
       b.n_converted - a.n_converted,
       b.purchase_cents - a.purchase_cents,
       b.cvr_ppm - a.cvr_ppm,
       b.cents_per_user - a.cents_per_user
FROM (SELECT * FROM rates WHERE variant = 'A') a,
     (SELECT * FROM rates WHERE variant = 'B') b
""",
)
def events_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with deterministic hash assignment — the
    experimentation-analytics primitive: every user lands in a variant
    via the first 48 bits of md5('ab:'||user_id) (content-addressed like
    the sampling family — reproducible across engines, partitionings and
    reruns, and uncorrelated with any behavioral column), then per
    variant the exact user count, converter count (>=1 purchase),
    purchase value in cents, conversion rate in ppm and value-per-user,
    plus a 'B-A' difference row so the lift is itself hash-checked. The
    sample-ratio-mismatch check is the n_users delta in that row.

    Scale: assignment is a map-side expression on the fact scan; the
    readout is one user-grain distinct aggregate then a 2-row rollup —
    the same budget as any per-user metric. Nothing iterates; the
    significance-test layer (a z on two binomials) is driver-side
    arithmetic on this one output row at any data size."""
    ev = load_table(spark, sf_dir, "events")
    variant = _ab_variant()
    assigned = ev.select(
        "user_id",
        "event_type",
        F.col("value").cast("decimal(18,2)").alias("val"),
        variant.alias("variant"),
    )
    metrics = assigned.groupBy("variant").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_converted"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("event_type") == "purchase",
                    (F.col("val") * 100).cast("long"),
                ).otherwise(F.lit(0))
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("purchase_cents"),
    )
    rates = metrics.select(
        "variant",
        "n_users",
        "n_converted",
        "purchase_cents",
        F.expr("CAST(n_converted * 1000000 div n_users AS BIGINT)").alias(
            "cvr_ppm"
        ),
        F.expr("CAST(purchase_cents div n_users AS BIGINT)").alias(
            "cents_per_user"
        ),
    )
    a = rates.filter(F.col("variant") == "A").alias("a")
    b = rates.filter(F.col("variant") == "B").alias("b")
    diff = a.crossJoin(b).select(
        F.lit("B-A").alias("variant"),
        (F.col("b.n_users") - F.col("a.n_users")).alias("n_users"),
        (F.col("b.n_converted") - F.col("a.n_converted")).alias("n_converted"),
        (F.col("b.purchase_cents") - F.col("a.purchase_cents")).alias(
            "purchase_cents"
        ),
        (F.col("b.cvr_ppm") - F.col("a.cvr_ppm")).alias("cvr_ppm"),
        (F.col("b.cents_per_user") - F.col("a.cents_per_user")).alias(
            "cents_per_user"
        ),
    )
    return rates.unionByName(diff)


# Sign-safe integral division shared by the CUPED readout: DuckDB's //
# FLOORS while Spark's div TRUNCATES, so divide magnitudes and re-apply
# the sign — identical on both engines (the tau_milli convention).
_SIGNSAFE_DIV = (
    "CASE WHEN ({den}) = 0 THEN {fallback} "
    "WHEN ({num}) >= 0 THEN CAST(abs({num}) {divop} ({den}) AS BIGINT) "
    "ELSE -CAST(abs({num}) {divop} ({den}) AS BIGINT) END"
)


def _cuped_outputs(divop: str, dec: str) -> str:
    """The shared variant-row arithmetic (Spark `div` / DuckDB `//`):
    theta = (N*Sxy - Sx*Sy) / (N*Sxx - Sx^2) from the pooled per-user
    sums, adjusted mean = (den*N*Sy_v - num*(N*Sx_v - n_v*Sx)) /
    (n_v*N*den) — all products exact integers, division sign-safe."""
    num = f"(CAST(n AS {dec}) * sxy - sx * sy)"
    den = f"(CAST(n AS {dec}) * sxx - sx * sx)"
    theta = _SIGNSAFE_DIV.format(
        num=f"{num} * 1000", den=den, divop=divop, fallback="CAST(0 AS BIGINT)"
    )
    raw_mean = f"CAST(sy_v {divop} n_v AS BIGINT)"
    adj_num = (
        f"({den} * CAST(n AS {dec}) * sy_v"
        f" - {num} * (CAST(n AS {dec}) * sx_v - CAST(n_v AS {dec}) * sx))"
    )
    adj_den = f"(CAST(n_v AS {dec}) * CAST(n AS {dec}) * {den})"
    adj_mean = _SIGNSAFE_DIV.format(
        num=adj_num, den=adj_den, divop=divop, fallback=raw_mean
    )
    return (
        f"CAST(n_v AS BIGINT) AS n_users, "
        f"CAST(sx_v AS BIGINT) AS x_cents, "
        f"CAST(sy_v AS BIGINT) AS y_cents, "
        f"{raw_mean} AS y_per_user_cents, "
        f"{adj_mean} AS yadj_per_user_cents, "
        f"{theta} AS theta_milli"
    )


@register(
    "events_cuped_adjust",
    tags=("events", "analytics", "experiment", "cuped"),
    oracle=f"""
WITH bounds AS (
  SELECT (CAST(floor(epoch(MIN(ts))) AS BIGINT)
          + CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 2 AS mid_s
  FROM events
), per_user AS (
  SELECT e.user_id,
         {_ab_variant_duck("e.user_id")} AS variant,
         CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                   AND CAST(floor(epoch(e.ts)) AS BIGINT) <= b.mid_s
                   THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ELSE 0 END), 0) AS HUGEINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                   AND CAST(floor(epoch(e.ts)) AS BIGINT) > b.mid_s
                   THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ELSE 0 END), 0) AS HUGEINT) AS y
  FROM events e CROSS JOIN bounds b
  GROUP BY e.user_id, b.mid_s
), pooled AS (
  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy
  FROM per_user
), by_variant AS (
  SELECT variant, CAST(COUNT(*) AS HUGEINT) AS n_v,
         SUM(x) AS sx_v, SUM(y) AS sy_v
  FROM per_user GROUP BY variant
), rows_out AS (
  SELECT variant, {_cuped_outputs("//", "HUGEINT")}
  FROM by_variant CROSS JOIN pooled
)
SELECT * FROM rows_out
UNION ALL
SELECT 'B-A', b.n_users - a.n_users, b.x_cents - a.x_cents,
       b.y_cents - a.y_cents,
       b.y_per_user_cents - a.y_per_user_cents,
       b.yadj_per_user_cents - a.yadj_per_user_cents,
       b.theta_milli - a.theta_milli
FROM (SELECT * FROM rows_out WHERE variant = 'A') a,
     (SELECT * FROM rows_out WHERE variant = 'B') b
""",
)
def events_cuped_adjust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker, WSDM 2013) — the production companion to
    ``events_ab_test_readout``: the event log splits at the midpoint of
    its time range into a PRE-period (covariate X = per-user purchase
    cents before the split) and the experiment period (metric Y after
    it); theta = cov(X,Y)/var(X) is fit on the POOLED population (the
    unbiasedness requirement — the covariate predates assignment), and
    each variant reports its raw and adjusted per-user means plus the
    'B-A' lift row, so the variance-reduced lift itself hash-checks.

    Exactness: every moment (Sx, Sy, Sxx, Sxy) is an integer in cents;
    theta and the adjusted means are emitted as sign-safe integral
    ratios (magnitude division + explicit sign — DuckDB floors, Spark
    truncates), so there is NO float anywhere. 128-bit intermediates
    (decimal(38,0) / HUGEINT) hold to ~1e38 — ample at gate SFs; a
    deployment at much larger N rescales cents → dollars for 1e4 more
    headroom, or accepts double precision for theta.

    Scale: one user-grain aggregate over the fact scan (map-side
    combined), one 2-row variant aggregate, one 1-row pooled aggregate
    broadcast back — the same budget as the plain readout plus a single
    pass of second moments. Nothing iterates."""
    ev = load_table(spark, sf_dir, "events")
    epoch_s = F.col("ts").cast("timestamp").cast("long")
    bounds = ev.agg(
        ((F.min(epoch_s) + F.max(epoch_s)) / 2).cast("long").alias("mid_s")
    )
    variant = _ab_variant()
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    is_purchase = F.col("event_type") == "purchase"
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", variant.alias("variant"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(is_purchase & (epoch_s <= F.col("mid_s")), cents).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(is_purchase & (epoch_s > F.col("mid_s")), cents).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("y"),
        )
    )
    pooled = per_user.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    by_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_v"),
        F.sum("x").alias("sx_v"),
        F.sum("y").alias("sy_v"),
    )
    rows_out = by_variant.crossJoin(F.broadcast(pooled)).selectExpr(
        "variant", *_cuped_outputs("div", "DECIMAL(38,0)").split(", ")
    )
    a = rows_out.filter(F.col("variant") == "A").alias("a")
    b = rows_out.filter(F.col("variant") == "B").alias("b")
    diff = a.crossJoin(b).select(
        F.lit("B-A").alias("variant"),
        *[
            (F.col(f"b.{c}") - F.col(f"a.{c}")).alias(c)
            for c in (
                "n_users",
                "x_cents",
                "y_cents",
                "y_per_user_cents",
                "yadj_per_user_cents",
                "theta_milli",
            )
        ],
    )
    return rows_out.unionByName(diff)


PRICE_DRIFT_BUCKET_CENTS = 2_000_000  # $20k-wide totalprice drift buckets


@register(
    "profile_feature_drift",
    tags=("profiling", "drift", "aggregate", "window"),
    oracle=f"""
WITH bounds AS (
  SELECT (CAST(CAST(MIN(o_orderdate) AS DATE) - DATE '1970-01-01' AS BIGINT)
          + CAST(CAST(MAX(o_orderdate) AS DATE) - DATE '1970-01-01' AS BIGINT)) // 2 AS mid_day
  FROM orders
), tagged AS (
  SELECT CASE WHEN CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) <= b.mid_day
              THEN 1 ELSE 0 END AS is_ref,
         CAST(floor(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
              / {PRICE_DRIFT_BUCKET_CENTS}) AS BIGINT) AS price_bucket,
         o_orderpriority
  FROM orders o CROSS JOIN bounds b
), unpivoted AS (
  SELECT 'totalprice_bucket' AS feature,
         CAST(price_bucket AS VARCHAR) AS bucket, is_ref
  FROM tagged
  UNION ALL
  SELECT 'orderpriority', o_orderpriority, is_ref FROM tagged
), cells AS (
  SELECT feature, bucket,
         SUM(is_ref) AS ref_cnt, SUM(1 - is_ref) AS cur_cnt
  FROM unpivoted GROUP BY 1, 2
), totals AS (
  SELECT feature, bucket, ref_cnt, cur_cnt,
         SUM(ref_cnt) OVER (PARTITION BY feature) AS ref_n,
         SUM(cur_cnt) OVER (PARTITION BY feature) AS cur_n
  FROM cells
)
SELECT feature, bucket,
       CAST(ref_cnt AS BIGINT) AS ref_cnt,
       CAST(cur_cnt AS BIGINT) AS cur_cnt,
       CAST(ref_cnt * 1000000 // ref_n AS BIGINT) AS ref_ppm,
       CAST(cur_cnt * 1000000 // cur_n AS BIGINT) AS cur_ppm,
       CAST(SUM(ABS(ref_cnt * cur_n - cur_cnt * ref_n))
              OVER (PARTITION BY feature) * 1000
            // (2 * ref_n * cur_n) AS BIGINT) AS feature_tvd_milli
FROM totals
""",
)
def profile_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-drift audit between the reference period (first half of
    the order-date range) and the current period (second half), per
    feature: a $20k-bucketed totalprice histogram and the categorical
    order-priority distribution, each cell carrying both periods' counts
    and shares (ppm) plus the feature-level TOTAL VARIATION DISTANCE in
    milli units — the retrain/alert trigger an ML-ops pipeline watches.

    TVD over exact integer cross-products (sum|ref_cnt*cur_n -
    cur_cnt*ref_n| / (2*ref_n*cur_n)) instead of the PSI's
    sum((p-q)*ln(p/q)) BY DESIGN: ln is transcendental and libm results
    are not bit-reproducible across engines, so PSI cannot sit under a
    hash gate; TVD is a pure rational with the same monotone "how much
    mass moved" reading (PSI alarms translate to TVD alarms by
    calibration, e.g. the classic PSI 0.2 ~ TVD ~0.1 on near-uniform
    shifts).

    Scale: one fact scan -> one (feature, bucket)-grain hash aggregate
    (map-side combined; the unpivot doubles rows, not shuffles), then a
    window at FEATURE grain over bucket-count-sized data. Bucket
    cardinality is audit-bounded by construction; nothing row-scale
    moves twice."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    day = F.col("o_orderdate").cast("date")
    epoch_day = F.datediff(day, F.lit("1970-01-01").cast("date")).cast("long")
    bounds = orders.agg(
        ((F.min(epoch_day) + F.max(epoch_day)) / 2).cast("long").alias("mid_day")
    )
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    tagged = orders.crossJoin(F.broadcast(bounds)).select(
        F.when(epoch_day <= F.col("mid_day"), 1).otherwise(0).alias("is_ref"),
        F.floor(cents / PRICE_DRIFT_BUCKET_CENTS)
        .cast("long")
        .alias("price_bucket"),
        "o_orderpriority",
    )
    unpivoted = tagged.select(
        F.lit("totalprice_bucket").alias("feature"),
        F.col("price_bucket").cast("string").alias("bucket"),
        "is_ref",
    ).unionByName(
        tagged.select(
            F.lit("orderpriority").alias("feature"),
            F.col("o_orderpriority").alias("bucket"),
            "is_ref",
        )
    )
    cells = unpivoted.groupBy("feature", "bucket").agg(
        F.sum("is_ref").alias("ref_cnt"),
        F.sum(F.lit(1) - F.col("is_ref")).alias("cur_cnt"),
    )
    wf = Window.partitionBy("feature")
    totals = cells.select(
        "feature",
        "bucket",
        "ref_cnt",
        "cur_cnt",
        F.sum("ref_cnt").over(wf).alias("ref_n"),
        F.sum("cur_cnt").over(wf).alias("cur_n"),
    )
    return totals.select(
        "feature",
        "bucket",
        F.col("ref_cnt").cast("long").alias("ref_cnt"),
        F.col("cur_cnt").cast("long").alias("cur_cnt"),
        F.expr("CAST(ref_cnt * 1000000 div ref_n AS BIGINT)").alias("ref_ppm"),
        F.expr("CAST(cur_cnt * 1000000 div cur_n AS BIGINT)").alias("cur_ppm"),
        F.expr(
            "CAST(SUM(ABS(ref_cnt * cur_n - cur_cnt * ref_n))"
            " OVER (PARTITION BY feature) * 1000"
            " div (2 * ref_n * cur_n) AS BIGINT)"
        ).alias("feature_tvd_milli"),
    )


SURVIVAL_BUCKET_DAYS = 30  # hazard table grain: monthly repurchase buckets


@register(
    "orders_repurchase_survival",
    tags=("analytics", "survival", "window", "aggregate"),
    oracle=f"""
WITH horizon AS (
  SELECT CAST(MAX(CAST(o_orderdate AS DATE)) - DATE '1970-01-01' AS BIGINT)
    AS end_day
  FROM orders
), seq AS (
  SELECT o_custkey,
         CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
         LEAD(CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT))
           OVER (PARTITION BY o_custkey
                 ORDER BY CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01'
                               AS BIGINT), o_orderkey) AS next_d
  FROM orders
), spells AS (
  SELECT CASE WHEN next_d IS NULL THEN (SELECT end_day FROM horizon) - d
              ELSE next_d - d END AS gap_days,
         CASE WHEN next_d IS NULL THEN 0 ELSE 1 END AS observed
  FROM seq
), bucketed AS (
  SELECT gap_days // {SURVIVAL_BUCKET_DAYS} AS bucket,
         SUM(observed) AS n_events,
         SUM(1 - observed) AS n_censored,
         COUNT(*) AS n_enter
  FROM spells GROUP BY 1
), risk AS (
  SELECT bucket, n_events, n_censored,
         SUM(n_enter) OVER (ORDER BY bucket DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS n_at_risk
  FROM bucketed
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(bucket * {SURVIVAL_BUCKET_DAYS} AS BIGINT) AS bucket_start_day,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       CAST(n_events AS BIGINT) AS n_events,
       CAST(n_censored AS BIGINT) AS n_censored,
       CAST(n_events * 1000000 // n_at_risk AS BIGINT) AS hazard_ppm
FROM risk
""",
)
def orders_repurchase_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier hazard table for customer repurchase: every order
    opens a spell that ends at the customer's NEXT order (event) or at
    the dataset horizon (right-censored — the defining subtlety naive
    "average gap" metrics get wrong: censored spells still occupy the
    risk set up to their length). Per {SURVIVAL_BUCKET_DAYS}-day bucket:
    the risk set (spells surviving into the bucket, computed as a
    REVERSE cumulative count — no per-spell explosion), events, censored
    exits, and the discrete hazard in ppm. The table is the exact-integer
    core of the KM estimator; the survival curve itself is the cumulative
    product of (1 - hazard) — float by nature, so it stays OUT of the
    hash gate and is derived downstream (the invariant test checks it in
    python).

    Scale: one window (customer-grain lead) over the fact scan, one
    bucket-grain aggregate, one DESC cumulative window over <=
    (max_gap/{SURVIVAL_BUCKET_DAYS}) bucket rows. The risk-set trick is
    the scale story: materializing spell x bucket membership would be
    quadratic; reverse prefix sums make it bucket-linear."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    asof = orders.agg(F.max(day).alias("end_day"))
    w = Window.partitionBy("o_custkey").orderBy(day, "o_orderkey")
    seq = orders.select(
        day.alias("d"), F.lead(day).over(w).alias("next_d")
    ).crossJoin(F.broadcast(asof))
    spells = seq.select(
        F.when(F.col("next_d").isNull(), F.col("end_day") - F.col("d"))
        .otherwise(F.col("next_d") - F.col("d"))
        .alias("gap_days"),
        F.when(F.col("next_d").isNull(), 0).otherwise(1).alias("observed"),
    )
    bucketed = spells.groupBy(
        F.expr(f"gap_days div {SURVIVAL_BUCKET_DAYS}").alias("bucket")
    ).agg(
        F.sum("observed").alias("n_events"),
        F.sum(F.lit(1) - F.col("observed")).alias("n_censored"),
        F.count(F.lit(1)).alias("n_enter"),
    )
    wdesc = Window.orderBy(F.col("bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = bucketed.withColumn("n_at_risk", F.sum("n_enter").over(wdesc))
    return risk.select(
        F.col("bucket").cast("long").alias("bucket"),
        (F.col("bucket") * SURVIVAL_BUCKET_DAYS).cast("long").alias(
            "bucket_start_day"
        ),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_censored").cast("long").alias("n_censored"),
        F.expr("CAST(n_events * 1000000 div n_at_risk AS BIGINT)").alias(
            "hazard_ppm"
        ),
    )


# --- Difference-in-differences readout --------------------------------------
# Shared select-list fragment for the per-variant DiD rows (Spark `div` /
# DuckDB `//`): exact per-user cents ratios plus the variant's own pre->post
# delta in sign-safe milli-cents per user.
def _did_outputs(divop: str, dec: str) -> str:
    delta = _SIGNSAFE_DIV.format(
        num=f"(CAST(sy_v AS {dec}) - CAST(sx_v AS {dec})) * 1000",
        den=f"CAST(n_v AS {dec})",
        divop=divop,
        fallback="CAST(0 AS BIGINT)",
    )
    return (
        f"CAST(n_v AS BIGINT) AS n_users, "
        f"CAST(sx_v AS BIGINT) AS pre_cents, "
        f"CAST(sy_v AS BIGINT) AS post_cents, "
        f"CAST(sx_v {divop} n_v AS BIGINT) AS pre_per_user_cents, "
        f"CAST(sy_v {divop} n_v AS BIGINT) AS post_per_user_cents, "
        f"{delta} AS delta_per_user_milli"
    )


# The lift row's DiD estimate with a COMMON denominator (n_a * n_b), so the
# subtraction happens on exact integers before the one division:
# ((dB)*nA - (dA)*nB) * 1000 / (nA * nB), sign-safe.
def _did_lift(divop: str, dec: str) -> str:
    num = (
        f"((CAST(b.post_cents AS {dec}) - CAST(b.pre_cents AS {dec}))"
        f" * CAST(a.n_users AS {dec})"
        f" - (CAST(a.post_cents AS {dec}) - CAST(a.pre_cents AS {dec}))"
        f" * CAST(b.n_users AS {dec})) * 1000"
    )
    den = f"CAST(a.n_users AS {dec}) * CAST(b.n_users AS {dec})"
    return _SIGNSAFE_DIV.format(
        num=num, den=den, divop=divop, fallback="CAST(0 AS BIGINT)"
    )


@register(
    "events_did_readout",
    tags=("events", "analytics", "experiment", "did"),
    oracle=f"""
WITH bounds AS (
  SELECT (CAST(floor(epoch(MIN(ts))) AS BIGINT)
          + CAST(floor(epoch(MAX(ts))) AS BIGINT)) // 2 AS mid_s
  FROM events
), per_user AS (
  SELECT e.user_id,
         {_ab_variant_duck("e.user_id")} AS variant,
         CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                   AND CAST(floor(epoch(e.ts)) AS BIGINT) <= b.mid_s
                   THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ELSE 0 END), 0) AS HUGEINT) AS x,
         CAST(COALESCE(SUM(CASE WHEN e.event_type = 'purchase'
                   AND CAST(floor(epoch(e.ts)) AS BIGINT) > b.mid_s
                   THEN CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT)
                   ELSE 0 END), 0) AS HUGEINT) AS y
  FROM events e CROSS JOIN bounds b
  GROUP BY e.user_id, b.mid_s
), by_variant AS (
  SELECT variant, CAST(COUNT(*) AS HUGEINT) AS n_v,
         SUM(x) AS sx_v, SUM(y) AS sy_v
  FROM per_user GROUP BY variant
), rows_out AS (
  SELECT variant, {_did_outputs("//", "HUGEINT")}
  FROM by_variant
)
SELECT * FROM rows_out
UNION ALL
SELECT 'B-A', b.n_users - a.n_users,
       b.pre_cents - a.pre_cents, b.post_cents - a.post_cents,
       b.pre_per_user_cents - a.pre_per_user_cents,
       b.post_per_user_cents - a.post_per_user_cents,
       {_did_lift("//", "HUGEINT")}
FROM (SELECT * FROM rows_out WHERE variant = 'A') a,
     (SELECT * FROM rows_out WHERE variant = 'B') b
""",
)
def events_did_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences experiment readout — the panel-data
    companion to ``events_cuped_adjust`` (same deterministic md5 variant
    assignment, same event-time midpoint split): each variant reports its
    PRE- and POST-period purchase cents and per-user means, and the 'B-A'
    lift row carries the DiD estimate
    (post_B - pre_B) - (post_A - pre_A) per user, computed with a COMMON
    denominator (n_A * n_B) so the subtraction happens on exact integers
    BEFORE the single division. Where CUPED regresses out the covariate,
    DiD differences out the level — both readouts hash-check end to end
    because every number is an integral ratio.

    Exactness: cents sums are exact integers; per-user means are integral
    ratios; the delta/DiD columns are sign-safe milli-cents-per-user
    (magnitude division + explicit sign — DuckDB floors, Spark
    truncates). 128-bit intermediates (decimal(38,0) / HUGEINT) hold the
    cents x users x 1000 products with ~1e18 headroom at any plausible N.

    Scale: one user-grain aggregate over the fact scan (map-side
    combined) into a 2-row variant aggregate — the cheapest experiment
    readout shape; the lift row is a broadcast self-product of two
    single rows. Nothing iterates."""
    ev = load_table(spark, sf_dir, "events")
    epoch_s = F.col("ts").cast("timestamp").cast("long")
    bounds = ev.agg(
        ((F.min(epoch_s) + F.max(epoch_s)) / 2).cast("long").alias("mid_s")
    )
    variant = _ab_variant()
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    is_purchase = F.col("event_type") == "purchase"
    per_user = (
        ev.crossJoin(F.broadcast(bounds))
        .groupBy("user_id", variant.alias("variant"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(is_purchase & (epoch_s <= F.col("mid_s")), cents).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(is_purchase & (epoch_s > F.col("mid_s")), cents).otherwise(
                        F.lit(0)
                    )
                ),
                F.lit(0),
            )
            .cast("decimal(38,0)")
            .alias("y"),
        )
    )
    by_variant = per_user.groupBy("variant").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n_v"),
        F.sum("x").alias("sx_v"),
        F.sum("y").alias("sy_v"),
    )
    rows_out = by_variant.selectExpr(
        "variant", *_did_outputs("div", "DECIMAL(38,0)").split(", ")
    )
    a = rows_out.filter(F.col("variant") == "A").alias("a")
    b = rows_out.filter(F.col("variant") == "B").alias("b")
    diff = a.crossJoin(b).select(
        F.lit("B-A").alias("variant"),
        *[
            (F.col(f"b.{c}") - F.col(f"a.{c}")).alias(c)
            for c in (
                "n_users",
                "pre_cents",
                "post_cents",
                "pre_per_user_cents",
                "post_per_user_cents",
            )
        ],
        F.expr(_did_lift("div", "DECIMAL(38,0)")).alias("delta_per_user_milli"),
    )
    return rows_out.unionByName(diff)


# --- Market-basket association rules ----------------------------------------
# Baskets larger than this many DISTINCT parts are dropped whole before the
# pair join: candidate volume is sum(basket_size^2), so one pathological
# basket of m items would emit m^2 pairs. TPC-H-ish baskets top out well
# under the cap (max 17 at sf0.1); the cap is the 100 TB guard, same
# discipline as SHINGLE_DF_CAP / LSH_MAX_BUCKET.
BASKET_CAP = 30
# Pairs must co-occur in at least this many baskets to be reported — the
# classic min-support cut, applied as early as possible (right on the pair
# aggregate) so rule scoring only touches the survivors.
BASKET_MIN_SUPPORT = 2


@register(
    "orders_market_basket",
    tags=("orders", "analytics", "association", "basket"),
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), sized AS (
  SELECT l_orderkey FROM items GROUP BY l_orderkey
  HAVING COUNT(*) <= {BASKET_CAP}
), universe AS (
  SELECT i.l_orderkey, i.l_partkey FROM items i JOIN sized s USING (l_orderkey)
), nb AS (
  SELECT CAST(COUNT(DISTINCT l_orderkey) AS HUGEINT) AS n_orders FROM universe
), item_cnt AS (
  SELECT l_partkey, CAST(COUNT(*) AS HUGEINT) AS cnt FROM universe GROUP BY 1
), pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         CAST(COUNT(*) AS HUGEINT) AS cnt_ab
  FROM universe a
  JOIN universe b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= {BASKET_MIN_SUPPORT}
)
SELECT p.part_a, p.part_b,
       CAST(p.cnt_ab AS BIGINT) AS basket_cnt,
       CAST(ca.cnt AS BIGINT) AS cnt_a,
       CAST(cb.cnt AS BIGINT) AS cnt_b,
       CAST(p.cnt_ab * 1000000 // nb.n_orders AS BIGINT) AS support_ppm,
       CAST(p.cnt_ab * 1000000 // ca.cnt AS BIGINT) AS conf_a_to_b_ppm,
       CAST(p.cnt_ab * 1000000 // cb.cnt AS BIGINT) AS conf_b_to_a_ppm,
       CAST(p.cnt_ab * nb.n_orders * 1000000 // (ca.cnt * cb.cnt) AS BIGINT)
         AS lift_ppm
FROM pairs p
JOIN item_cnt ca ON ca.l_partkey = p.part_a
JOIN item_cnt cb ON cb.l_partkey = p.part_b
CROSS JOIN nb
""",
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over order baskets (Agrawal &
    Srikant's Apriori setting, restricted to 2-itemsets — the rule grain
    retail/co-purchase analytics actually ships): for every part pair
    co-occurring in >= {BASKET_MIN_SUPPORT} baskets, the exact support,
    both directed confidences and the lift, all as integer ppm.

    Exactness: counts are counts; support/confidence/lift are integral
    ratios via integer division. The lift numerator
    cnt_ab * n_orders * 1e6 multiplies three counts — 128-bit
    intermediates (decimal(38,0) / HUGEINT) on BOTH engines, because the
    product overflows int64 long before the inputs are big (the
    ROUND12_PREP width note).

    Scale shape (100 TB posture):
    - the pair generator is a SELF-EQUI-JOIN on l_orderkey (never a
      cross product): candidate volume is sum(basket_size^2), bounded by
      {BASKET_CAP}^2 per basket because oversized baskets are dropped
      WHOLE before the join (one early aggregate on the same orderkey
      partitioning the join reuses — no extra shuffle).
    - min-support cuts on the pair aggregate itself; only the ~thousands
      of surviving rules reach the scoring joins, which AQE then
      broadcasts.
    - the universe frame (distinct id pairs, two bigint columns — never
      rows of the fact table) feeds four consumers and is materialized
      once with localCheckpoint."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    sized = (
        items.groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .filter(F.col("bsz") <= BASKET_CAP)
        .select("l_orderkey")
    )
    # Narrow (orderkey, partkey) projection reused by the scalar count,
    # the per-item counts and BOTH pair-join sides: materialize once.
    universe = items.join(sized, "l_orderkey").localCheckpoint()
    nb = universe.agg(
        F.count_distinct("l_orderkey").cast("decimal(38,0)").alias("n_orders")
    )
    item_cnt = universe.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt")
    )
    a = universe.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = universe.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("cnt_ab"))
        .filter(F.col("cnt_ab") >= BASKET_MIN_SUPPORT)
    )
    ca = item_cnt.select(F.col("l_partkey").alias("part_a"), F.col("cnt").alias("cnt_a_d"))
    cb = item_cnt.select(F.col("l_partkey").alias("part_b"), F.col("cnt").alias("cnt_b_d"))
    return (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_a",
            "part_b",
            F.col("cnt_ab").cast("long").alias("basket_cnt"),
            F.col("cnt_a_d").cast("long").alias("cnt_a"),
            F.col("cnt_b_d").cast("long").alias("cnt_b"),
            F.expr("CAST(cnt_ab * 1000000 div n_orders AS BIGINT)").alias(
                "support_ppm"
            ),
            F.expr("CAST(cnt_ab * 1000000 div cnt_a_d AS BIGINT)").alias(
                "conf_a_to_b_ppm"
            ),
            F.expr("CAST(cnt_ab * 1000000 div cnt_b_d AS BIGINT)").alias(
                "conf_b_to_a_ppm"
            ),
            F.expr(
                "CAST(cnt_ab * n_orders * 1000000 div (cnt_a_d * cnt_b_d) AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )


# --- Pareto / ABC inventory classification ----------------------------------
# Revenue band width for the two-phase cumulative decomposition, in e-4
# dollar units ($10k bands): phase 1 aggregates band totals (tiny), phase 2
# windows only WITHIN bands, so no global part-grain single-partition
# window exists. Class cut points are the classic 70/90 cumulative shares.
ABC_BAND_E4 = 100_000_000
ABC_A_PPM = 700_000
ABC_B_PPM = 900_000
_ABC_CLASS = (
    "CASE WHEN cum_ppm <= {a} THEN 'A' WHEN cum_ppm <= {b} THEN 'B' "
    "ELSE 'C' END"
).format(a=ABC_A_PPM, b=ABC_B_PPM)


@register(
    "orders_pareto_abc",
    tags=("orders", "analytics", "pareto", "abc"),
    oracle=f"""
WITH rev AS (
  SELECT l_partkey,
         SUM(CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))
                  * 10000 AS BIGINT)) AS rev_e4
  FROM lineitem GROUP BY 1
), tot AS (
  SELECT CAST(SUM(rev_e4) AS HUGEINT) AS total FROM rev
), ranked AS (
  SELECT l_partkey, rev_e4,
         ROW_NUMBER() OVER (ORDER BY rev_e4 DESC, l_partkey) AS rnk,
         SUM(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
                           ROWS UNBOUNDED PRECEDING) AS cum_rev_e4
  FROM rev
), shared AS (
  SELECT l_partkey, CAST(rnk AS BIGINT) AS rnk,
         CAST(rev_e4 AS BIGINT) AS rev_e4,
         CAST(cum_rev_e4 AS BIGINT) AS cum_rev_e4,
         CASE WHEN t.total > 0
              THEN CAST(CAST(cum_rev_e4 AS HUGEINT) * 1000000 // t.total
                        AS BIGINT)
              ELSE 0 END AS cum_ppm
  FROM ranked CROSS JOIN tot t
)
SELECT l_partkey, rnk, rev_e4, cum_rev_e4, cum_ppm,
       {_ABC_CLASS} AS abc_class
FROM shared
""",
)
def orders_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto / ABC inventory classification — every part ranked by its
    exact lifetime revenue with the INCLUSIVE cumulative revenue share
    (integer ppm) and the classic A (top {ABC_A_PPM // 10000}%) /
    B (to {ABC_B_PPM // 10000}%) / C class, the analytics primitive
    behind stock-policy and SKU-rationalization reporting.

    The Spark side is the TWO-PHASE cumulative decomposition (the
    equi-depth selection's trick applied to running sums): phase 1
    buckets parts into $10k revenue bands and aggregates band totals and
    counts — a tiny list whose descending cumulative is one window over
    ~dozens of rows; phase 2 windows only WITHIN each band (partitioned
    by band), and each part's global rank / cumulative revenue is the
    higher-bands total plus its intra-band running value. No global
    part-grain single-partition window exists anywhere; the oracle IS
    the direct global-window formulation, so the gate cross-checks the
    decomposition against the textbook definition.

    Exactness: per-row revenue is the deterministic double product cast
    to DECIMAL(18,4), summed in exact e-4-dollar integers; the share is
    integer ppm with a 128-bit numerator."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(
                F.expr(
                    "CAST(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))"
                    " * 10000 AS BIGINT)"
                )
            ).alias("rev_e4")
        )
        .withColumn("band", F.expr(f"rev_e4 div {ABC_BAND_E4}"))
    )
    bands = rev.groupBy("band").agg(
        F.sum("rev_e4").alias("band_rev"), F.count(F.lit(1)).alias("band_cnt")
    )
    # descending cumulative over the ~dozens-row band list, then shift to
    # the EXCLUSIVE higher-bands prefix each member adds its running value to
    wband = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    bands = bands.select(
        "band",
        (F.sum("band_rev").over(wband) - F.col("band_rev")).alias("above_rev"),
        (F.sum("band_cnt").over(wband) - F.col("band_cnt")).alias("above_cnt"),
    ).localCheckpoint()
    tot = rev.agg(F.sum("rev_e4").cast("decimal(38,0)").alias("total"))
    wintra = Window.partitionBy("band").orderBy(
        F.col("rev_e4").desc(), F.col("l_partkey")
    )
    return (
        rev.join(F.broadcast(bands), "band")
        .select(
            "l_partkey",
            (F.col("above_cnt") + F.row_number().over(wintra)).cast("long").alias(
                "rnk"
            ),
            "rev_e4",
            (
                F.col("above_rev")
                + F.sum("rev_e4").over(wintra.rowsBetween(Window.unboundedPreceding, 0))
            )
            .cast("long")
            .alias("cum_rev_e4"),
        )
        .join(F.broadcast(tot), F.lit(True))
        .withColumn(
            "cum_ppm",
            F.expr(
                "CASE WHEN total > 0 THEN CAST(CAST(cum_rev_e4 AS DECIMAL(38,0))"
                " * 1000000 div total AS BIGINT) ELSE 0 END"
            ),
        )
        .select(
            "l_partkey",
            "rnk",
            "rev_e4",
            "cum_rev_e4",
            "cum_ppm",
            F.expr(_ABC_CLASS).alias("abc_class"),
        )
    )
