"""Invariant tests for the approximate similarity operators."""

from __future__ import annotations

import math

import numpy as np
import pytest

from vena_etl_tool_spark.catalog import load_table
from vena_etl_tool_spark.operators.similarity import (
    TOP_K,
    sim_ann_lsh,
    sim_cosine_topk,
)


@pytest.fixture(scope="module")
def brute(spark, sf_dir):
    return sim_cosine_topk(spark, sf_dir).collect()


def _numpy_topk(sf_dir: str, spark, k: int):
    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    out = {}
    for q in (v for v in vecs if v < 20):
        scored = []
        for c, vc in vecs.items():
            if c == q:
                continue
            cos = float(vecs[q] @ vc / (np.linalg.norm(vecs[q]) * np.linalg.norm(vc)))
            scored.append((round(cos, 6), c))
        scored.sort(key=lambda t: (-t[0], t[1]))
        out[q] = scored[:k]
    return out


def test_bruteforce_matches_numpy(spark, sf_dir, brute):
    """The decimal-folded Spark cosine ranking equals a float64 numpy
    reference (to the rounding used for ties)."""
    expected = _numpy_topk(sf_dir, spark, TOP_K)
    got = {}
    for r in brute:
        got.setdefault(r.query_id, []).append((r.rk, r.neighbor_id, r.cosine))
    for q, neighbors in got.items():
        neighbors.sort()
        for (rk, nid, cos), (ecos, enid) in zip(neighbors, expected[q]):
            assert nid == enid, f"query {q} rank {rk}: {nid} != {enid}"
            assert math.isclose(cos, ecos, abs_tol=1e-5)


def test_ann_results_are_true_cosines(spark, sf_dir, brute):
    """Every ANN hit must carry the exact cosine the brute force computed
    (candidates are re-scored exactly), and per-query results are ranked."""
    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    ann = sim_ann_lsh(spark, sf_dir).collect()
    assert len(ann) > 0
    per_q = {}
    for r in ann:
        per_q.setdefault(r.query_id, []).append((r.rk, r.cosine, r.neighbor_id))
        if (r.query_id, r.neighbor_id) in brute_cos:
            assert math.isclose(r.cosine, brute_cos[(r.query_id, r.neighbor_id)], abs_tol=1e-9)
    for q, rows in per_q.items():
        rows.sort()
        cosines = [c for _, c, _ in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert [rk for rk, _, _ in rows] == list(range(1, len(rows) + 1))


def test_ann_finds_planted_duplicate(spark, sf_dir):
    """A duplicated vector collides in every LSH band, so the ANN search
    must surface it as the top neighbor with cosine ≈ 1."""
    from vena_etl_tool_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    v0 = emb.filter("vec_id = 3").first()
    planted = emb.unionByName(
        emb.sparkSession.createDataFrame(
            [(99999, v0.embedding, v0.label)], "vec_id long, embedding array<float>, label int"
        )
    )
    bucketed = S.with_sq_norm(planted).select(
        "vec_id", "embedding", "sq_norm", *S.lsh_bucket_cols()
    )
    rows = {r.vec_id: [r[f"bucket{b}"] for b in range(S.LSH_BANDS)] for r in bucketed.collect()}
    assert rows[3] == rows[99999]


def test_ivf_results_are_true_cosines_with_recall(spark, sf_dir, brute):
    """IVF hits carry exact cosines, are correctly ranked, and the probe
    search recovers a reasonable share of the true top-k (2/16 of the
    space probed ⇒ recall can't be total; it must beat random chance)."""
    from vena_etl_tool_spark.operators.similarity import sim_ann_ivf

    brute_cos = {(r.query_id, r.neighbor_id): r.cosine for r in brute}
    brute_sets = {}
    for r in brute:
        brute_sets.setdefault(r.query_id, set()).add(r.neighbor_id)
    ivf = sim_ann_ivf(spark, sf_dir).collect()
    assert len(ivf) > 0
    per_q = {}
    hits = total = 0
    for r in ivf:
        per_q.setdefault(r.query_id, []).append((r.rk, r.cosine, r.neighbor_id))
        if (r.query_id, r.neighbor_id) in brute_cos:
            assert math.isclose(r.cosine, brute_cos[(r.query_id, r.neighbor_id)], abs_tol=1e-9)
    for q, rows in per_q.items():
        rows.sort()
        cosines = [c for _, c, _ in rows]
        assert cosines == sorted(cosines, reverse=True)
        assert [rk for rk, _, _ in rows] == list(range(1, len(rows) + 1))
        got = {nid for _, _, nid in rows}
        hits += len(got & brute_sets.get(q, set()))
        total += len(brute_sets.get(q, set()))
    # random 2-of-16 probing would land ~12.5%; the IVF must do better
    assert hits / total > 0.2, f"IVF recall too low: {hits}/{total}"


def test_int8_quantization_error_bound(spark, sf_dir):
    """max_err_e6 proves the per-element round-trip error is at most half
    a quantization step (scale⁻¹/2) for every vector."""
    from vena_etl_tool_spark.operators.similarity import embedding_quantize_int8

    rows = embedding_quantize_int8(spark, sf_dir).collect()
    assert len(rows) > 0
    for r in rows:
        step_e6 = 1e6 / (2.0 * r.scale)
        assert r.max_err_e6 <= step_e6 + 1, (r.vec_id, r.max_err_e6, step_e6)
        assert len(r.qvals.split(",")) == 64
        assert all(-127 <= int(v) <= 127 for v in r.qvals.split(","))


def test_ann_recall_eval_bounds_and_nontrivial(spark, sf_dir):
    """recall@k ∈ [0,1], hits ≤ k, one row per query — and the LSH index
    must find SOMETHING (all-zero recall would mean the eval is vacuous
    or the index broken)."""
    from vena_etl_tool_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
        sim_ann_recall_eval,
    )

    rows = sim_ann_recall_eval(spark, sf_dir).collect()
    assert len(rows) == 2 * N_QUERIES  # (lsh, ivf) × queries
    assert {r.method for r in rows} == {"lsh", "ivf"}
    assert all(0 <= r.hits <= TOP_K for r in rows)
    assert all(abs(r.recall_at_k - r.hits / TOP_K) < 1e-12 for r in rows)
    # IVF at nprobe 2/16 must recall a nontrivial share even on this
    # near-random corpus; LSH sign-bit buckets may legitimately recall 0.
    assert sum(r.hits for r in rows if r.method == "ivf") > 0


def test_semantic_dedup_greedy_keep_one(spark, tmp_path):
    """Planted corpus: two identical-direction vectors in one cluster must
    resolve as (kept, dup-of-the-earlier); an orthogonal vector in another
    cluster stays kept. Pins the greedy-by-vec_id SemDeDup rule."""
    import numpy as np
    import pandas as pd

    from vena_etl_tool_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    base = rng.normal(size=64)
    # v1 ~ v0 (same direction, scaled); v2 unrelated
    vecs = [base, base * 1.7, rng.normal(size=64)]
    pdf = pd.DataFrame(
        {
            "vec_id": [0, 1, 2],
            "embedding": [np.asarray(v, dtype=np.float32) for v in vecs],
            "label": [0, 0, 1],
        }
    )
    path = str(tmp_path / "embeddings.parquet")
    pdf.to_parquet(path)
    out = {r.vec_id: r for r in sim.dedup_semantic_ivf(spark, str(tmp_path)).collect()}
    assert not out[0].is_dup and out[0].dup_of is None
    assert out[1].is_dup and out[1].dup_of == 0
    assert out[0].cent == out[1].cent
    assert not out[2].is_dup


def test_trained_pq_beats_untrained(spark, sf_dir):
    """The trained-codebook invariants (r5 verdict stretch #8): per-
    subspace k-means codebooks must (a) reconstruct with strictly lower
    mean squared error than the seeded-random fixed codebooks, and
    (b) not lose ADC recall vs the untrained baseline — codebook quality
    made measurable. Margins are loose versions of the measured values
    (sf0.01: err 0.54 vs 0.88, recall 0.20 vs 0.11)."""
    import pyspark.sql.functions as F

    from vena_etl_tool_spark.operators.ml_lsh import (
        embedding_product_quantize_trained,
        sim_ann_adc_trained_recall,
    )
    from vena_etl_tool_spark.operators.similarity import (
        embedding_product_quantize,
        sim_ann_adc_recall,
    )

    t_err = (
        embedding_product_quantize_trained(spark, sf_dir)
        .agg(F.avg("recon_err_sq"))
        .first()[0]
    )
    u_err = (
        embedding_product_quantize(spark, sf_dir).agg(F.avg("recon_err_sq")).first()[0]
    )
    assert t_err < u_err * 0.85, (t_err, u_err)

    t_rec = (
        sim_ann_adc_trained_recall(spark, sf_dir).agg(F.avg("recall_at_k")).first()[0]
    )
    u_rec = sim_ann_adc_recall(spark, sf_dir).agg(F.avg("recall_at_k")).first()[0]
    assert t_rec >= u_rec, (t_rec, u_rec)
