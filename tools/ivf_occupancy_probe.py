"""Empirical proof of the IVF occupancy rule (SCALE.md two-decade probe,
note 17): the probed-cell scan cost tracks cell OCCUPANCY (n / C), so
sizing centroids proportionally to the corpus keeps per-query work flat
while a fixed centroid grid grows linearly with the data.

The hash-checked sim_ann_ivf pins IVF_CENTROIDS=16 as seeded literals for
oracle-exactness, which is why the 100x replica measured 23x there. This
probe isolates the query-side scan: cells are assigned by a uniform
surrogate (vec_id % C — same occupancy distribution as a balanced
quantizer, without paying the n*C assignment that production replaces
with hierarchical / approximate assignment), each of the N_QUERIES
queries probes IVF_NPROBE cells, and candidates are ranked by exact
cosine. Candidate rows per query = nprobe * n / C by construction; the
wall-clock should fall ~linearly as C grows at fixed n, and stay ~flat
when C grows with n.

Usage: python tools/ivf_occupancy_probe.py [sf_dir] [replicas]
(default /root/testdata/sf0.1, 100)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402
from pyspark.sql import Window  # noqa: E402

from vena_etl_tool_spark.catalog import load_table  # noqa: E402
from vena_etl_tool_spark.operators.exact import dot_exact  # noqa: E402
from vena_etl_tool_spark.operators.similarity import (  # noqa: E402
    IVF_NPROBE,
    N_QUERIES,
    TOP_K,
    with_sq_norm,
)
from vena_etl_tool_spark.session import get_spark  # noqa: E402
from tools.scale_check import build_replica, steady_seconds  # noqa: E402


def probe_topk(spark, sf_dir: str, n_centroids: int):
    """Top-k per query over a C-cell IVF layout with surrogate cells."""
    emb = with_sq_norm(load_table(spark, sf_dir, "embeddings"))
    corpus = emb.select(
        "vec_id", "embedding", "sq_norm",
        (F.col("vec_id") % n_centroids).cast("int").alias("cent"),
    )
    # each query probes its own cell plus the next (IVF_NPROBE cells) —
    # the probe-list shape of sim_ann_ivf with the surrogate assignment
    queries = (
        corpus.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("sq_norm").alias("q_sq"),
            F.explode(
                F.expr(
                    f"transform(sequence(0, {IVF_NPROBE - 1}),"
                    f" i -> CAST((vec_id + i) % {n_centroids} AS INT))"
                )
            ).alias("p_cent"),
        )
    )
    cand = F.broadcast(queries).join(
        corpus,
        (F.col("cent") == F.col("p_cent")) & (F.col("vec_id") != F.col("query_id")),
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            dot_exact(F.col("q_emb"), F.col("embedding"))
            / (F.sqrt("q_sq") * F.sqrt("sq_norm"))
        ).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return scored.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= TOP_K)


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 100
    spark = get_spark("ivf-occupancy-probe")
    n_base = load_table(spark, sf_dir, "embeddings").count()
    out_dir = tempfile.mkdtemp(prefix="ivfocc_")
    try:
        build_replica(spark, sf_dir, out_dir, replicas)
        print(f"| corpus | C (centroids) | occupancy n/C | scan sec |")
        print("|---|---|---|---|")
        # fixed corpus, growing C: cost should fall ~linearly with occupancy
        for c in (16, 16 * replicas):
            t = steady_seconds(spark, f"ivf:C{c}", partial(probe_topk, spark, out_dir, c))
            print(
                f"| {replicas}x ({n_base * replicas}) | {c} "
                f"| {n_base * replicas // c} | {t:.2f} |"
            )
        # the rule itself: C grows WITH the corpus -> same occupancy,
        # ~same cost at 1x and at {replicas}x
        t = steady_seconds(spark, "ivf:1x:C16", partial(probe_topk, spark, sf_dir, 16))
        print(f"| 1x ({n_base}) | 16 | {n_base // 16} | {t:.2f} |")
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
