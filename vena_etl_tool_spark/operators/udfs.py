"""UDF / UDAF / UDTF surface (SURVEY.md §B.10) — the *slow path*, used
deliberately and only in Arrow-batched pandas form.

Rules of engagement at 100 TB:
- Never row-at-a-time Python UDFs in a hot path (the one here is a
  registration demo on a tiny projection).
- pandas_udf / applyInPandas / mapInPandas move data via Arrow batches —
  10-100× the throughput of pickled row UDFs.
- Anything expressible with built-ins stays JVM-side (see semistructured.py
  for the higher-order-function versions of these same computations).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import pandas_udf

from ..catalog import load_table
from ..registry import register
from .exact import descale_sql, duck_dot_sql, np_dot


@register(
    "udf_pandas_scalar_norm",
    tags=("udf", "pandas-udf"),
    oracle="""
SELECT
  e.vec_id,
  ROUND((SELECT SQRT(CAST(SUM(CAST(CAST(u.x AS DOUBLE) * CAST(u.x AS DOUBLE) AS DECIMAL(20,12))) AS DOUBLE))
         FROM UNNEST(e.embedding) AS u(x)), 6) AS l2_norm
FROM embeddings e
""",
)
def udf_pandas_scalar_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized scalar pandas UDF: L2 norm of each embedding via numpy.
    fsum-exact accumulation so the oracle's decimal-exact sum agrees to
    the rounded digit."""

    @pandas_udf("double")
    def l2_norm(vecs: pd.Series) -> pd.Series:
        return vecs.map(
            lambda v: round(math.sqrt(math.fsum(float(x) * float(x) for x in v)), 6)
        )

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", l2_norm("embedding").alias("l2_norm"))


@register(
    "udf_grouped_agg",
    tags=("udf", "pandas-udf", "udaf"),
    oracle="""
SELECT
  l_returnflag,
  ROUND(
    CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 6) AS weighted_avg_price
FROM lineitem
GROUP BY l_returnflag
""",
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized UDAF (GROUPED_AGG pandas_udf): quantity-weighted average
    price. Products are rounded to the oracle's decimal scale and fsum'd so
    both sides compute the identical exactly-rounded sum."""

    @pandas_udf("double")
    def weighted_avg(price: pd.Series, qty: pd.Series) -> float:
        num = math.fsum(round(p * q, 4) for p, q in zip(price, qty))
        den = math.fsum(round(q, 2) for q in qty)
        return round(num / den, 6)

    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        weighted_avg("l_extendedprice", "l_quantity").alias("weighted_avg_price")
    )


@register(
    "udf_apply_in_pandas",
    tags=("udf", "grouped-map"),
    oracle="""
SELECT event_id, user_id,
       ROUND((value - avg(value) OVER (PARTITION BY user_id))
             / stddev_samp(value) OVER (PARTITION BY user_id), 6) + 0.0 AS zscore
FROM events
QUALIFY count(*) OVER (PARTITION BY user_id) >= 2
""",
)
def udf_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map (applyInPandas): per-user z-score of event values.
    Groups of one row are dropped (stddev undefined) to keep the output
    null-free on both engines."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(columns=["event_id", "user_id", "zscore"])
        z = (pdf["value"] - pdf["value"].mean()) / pdf["value"].std(ddof=1)
        return pd.DataFrame(
            {
                "event_id": pdf["event_id"],
                "user_id": pdf["user_id"],
                "zscore": (z.round(6) + 0.0),
            }
        )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return ev.groupBy("user_id").applyInPandas(
        zscore, "event_id long, user_id long, zscore double"
    )


@register(
    "udf_map_in_pandas",
    tags=("udf", "map-partitions"),
    oracle="""
SELECT event_id, user_id, value, value * 2.0 AS doubled
FROM events
WHERE event_type = 'purchase' AND value > 150.0
""",
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInPandas: per-partition Arrow-batch transform (the pattern the
    multimodal decode pipeline uses). Pure filter+project here so the
    oracle is trivial."""

    def transform(batches):
        for pdf in batches:
            out = pdf[(pdf["event_type"] == "purchase") & (pdf["value"] > 150.0)]
            yield pd.DataFrame(
                {
                    "event_id": out["event_id"],
                    "user_id": out["user_id"],
                    "value": out["value"],
                    "doubled": out["value"] * 2.0,
                }
            )

    ev = load_table(spark, sf_dir, "events")
    return ev.mapInPandas(
        transform, "event_id long, user_id long, value double, doubled double"
    )


@register(
    "udf_sql_registered",
    tags=("udf", "sql"),
    oracle="""
SELECT event_id,
       CASE WHEN value >= 150 THEN 'high'
            WHEN value >= 50  THEN 'mid'
            ELSE 'low' END AS band
FROM events
WHERE event_type = 'error'
""",
)
def udf_sql_registered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.udf.register + use from SQL (row-at-a-time escape hatch —
    demo only; the equivalent CASE stays in codegen and is what the
    oracle runs)."""

    def band(v: float) -> str:
        return "high" if v >= 150 else ("mid" if v >= 50 else "low")

    spark.udf.register("value_band", band, "string")
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(
        "SELECT event_id, value_band(value) AS band FROM events WHERE event_type = 'error'"
    )


_PROBE = np.arange(64, dtype=np.float64) / 64.0


@register(
    "udf_arrow_python",
    tags=("udf",),
    oracle=f"""
SELECT vec_id, {descale_sql(duck_dot_sql("embedding", _PROBE))} AS probe_dot
FROM embeddings
""",
)
def udf_arrow_python(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-optimized scalar UDF computing a dot product against a fixed
    probe vector — the shape ANN scoring uses when built-ins won't do.
    Oracle-exact (r4 → r5 conversion) via the scaled-int64 dot of
    exact.py: the guarded numpy kernel here, its DuckDB twin in the oracle.
    The probe values i/64 are exact binary fractions. The numpy path stays
    fully vectorized — one (n,64) tensor op per Arrow batch."""

    @pandas_udf("double")
    def dot_probe(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # np.stack rejects an empty Arrow batch
            return pd.Series(dtype="float64")
        e = np.stack(vecs.to_numpy()).astype(np.float64)  # float32 widen, exact
        return pd.Series(np_dot(e, _PROBE))

    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select("vec_id", dot_probe("embedding").alias("probe_dot"))
