"""Executable proof for the dsir_importance_weights SCALE.md claim.

The registered query re-derives the token explode + md5 bucketing twice
(model aggregate + scoring join) — its 10x row measured 6.4x, attributed
to "two explode passes; production persists the (doc, lang, bucket,
count) projection once". This probe makes that attribution a measurement,
the ivf_occupancy_probe pattern: time the registered two-pass query vs
the SAME arithmetic reading a pre-persisted bucket projection, on the
replica corpus. Expected: the projection path drops the explode+hash
cost to ~one write + two cheap scans, and the scoring math itself is a
small remainder.

Usage: python tools/dsir_projection_probe.py [sf_dir] [replicas]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from vena_etl_tool_spark.catalog import load_table  # noqa: E402
from vena_etl_tool_spark.operators.textanalysis import (  # noqa: E402
    _DSIR_BUCKET_SPARK,
    DSIR_BUCKETS,
    DSIR_TARGET_LANG,
    dsir_importance_weights,
)
from vena_etl_tool_spark.session import get_spark  # noqa: E402
from tools.scale_check import build_replica, steady_seconds  # noqa: E402


def dsir_from_projection(spark, proj_path: str):
    """The same DSIR arithmetic over a persisted (doc_id, lang, bucket, n)
    projection — the production posture: the explode+md5 happens once, at
    projection-write time, and every scoring/model pass reads the compact
    projection."""
    proj = spark.read.parquet(proj_path)
    model = proj.groupBy("bucket").agg(
        (F.sum("n") + 1).alias("c_raw"),
        (F.sum(F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("n")).otherwise(0)) + 1)
        .alias("c_tgt"),
    )
    totals = model.agg(
        F.expr(
            f"(SUM(c_raw - 1) + {DSIR_BUCKETS}) * 1000000"
            f" div (SUM(c_tgt - 1) + {DSIR_BUCKETS})"
        ).alias("k")
    )
    devs = model.crossJoin(F.broadcast(totals)).select(
        "bucket", F.expr("(c_tgt * k) div c_raw - 1000000").alias("dev")
    )
    return (
        proj.join(F.broadcast(devs), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            F.sum(F.col("dev") * F.col("n")).cast("long").alias("weight_ppm"),
            F.expr(
                "CAST((CASE WHEN SUM(dev * n) < 0 THEN -1 ELSE 1 END)"
                " * (abs(SUM(dev * n)) div SUM(n)) AS BIGINT)"
            ).alias("ppm_per_token"),
        )
    )


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark("dsir-probe")
    out_dir = tempfile.mkdtemp(prefix="dsirprobe_")
    try:
        build_replica(spark, sf_dir, out_dir, replicas)
        proj_path = os.path.join(out_dir, "_dsir_projection")

        # registered two-pass query on the replica (steady state)
        two_pass = steady_seconds(
            spark, "dsir:two_pass", partial(dsir_importance_weights, spark, out_dir)
        )

        # one-time projection write (the explode+md5, once)
        docs = load_table(spark, out_dir, "documents")
        t0 = time.perf_counter()
        (
            docs.select(
                "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
            )
            .select("doc_id", "lang", F.expr(_DSIR_BUCKET_SPARK).alias("bucket"))
            .groupBy("doc_id", "lang", "bucket")
            .agg(F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(proj_path)
        )
        write_cost = time.perf_counter() - t0

        # scoring from the persisted projection (steady state)
        from_proj = steady_seconds(
            spark, "dsir:from_projection", partial(dsir_from_projection, spark, proj_path)
        )

        # sanity: identical weights
        a = dsir_importance_weights(spark, out_dir)
        b = dsir_from_projection(spark, proj_path)
        mismatch = (
            a.join(b, "doc_id", "full_outer")
            .filter(
                (a["weight_ppm"] != b["weight_ppm"])
                | a["weight_ppm"].isNull()
                | b["weight_ppm"].isNull()
            )
            .count()
        )
        print(f"| dsir two-pass query ({replicas}x corpus) | {two_pass:.2f}s |")
        print(f"| one-time projection write | {write_cost:.2f}s |")
        print(f"| dsir from persisted projection | {from_proj:.2f}s |")
        print(f"| weight mismatches vs registered query | {mismatch} |")
        return 1 if mismatch else 0
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
