"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]. Prints ONE compact JSON summary line
(guaranteed < 2000 chars — the driver keeps only the stdout tail, and the
r6 full-per-query line outgrew that capture: BENCH_r06.json came back
`parsed: null`), and writes the FULL per-query timing dict to
BENCH_DETAIL_<round>.json in the repo root.

The line carries `canary_sec`: min-of-3 wall-clock of a fixed synthetic
shuffle+aggregate (seeded 10M-row groupBy-sum built in memory, independent
of the registry and the fixture data). Host-throughput drift moved the r6
fleet numbers ~1.4x with zero code changes; normalizing query_sec /
canary_sec separates a real plan regression from a slow sandbox inside the
artifact itself.

Each query is materialized with the noop sink (full execution, no driver
collect) — the number is end-to-end plan time including scan/shuffle.

Artifact-cache policy (ADVICE r7, documented by design): queries routed
through ``operators/_shared.persisted_artifact`` (the graph family, the
ANN recall audits, pHash clusters, dedup_cluster_assign) share persisted
derived artifacts within the session, and Spark's CacheManager substitutes
any cached plan into later same-plan queries. Per-query timings for those
consumers are therefore STEADY-STATE-WITH-SHARED-ARTIFACTS: pass 1 absorbs
the one-time builds (visible in ``pass_totals_sec`` — pass 1 > passes
2/3), and min-of-3 per-query numbers measure the production posture where
the artifact is already persisted. This is intentional — production
builds an index/graph once and serves many queries against it — and the
cold build cost is still measured, both by pass 1's total and by the
unwrapped build queries' own rows. The line carries
``artifact_policy: "steady_state"`` so the artifact declares it.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame

from vena_etl_tool_spark.registry import QuerySpec, all_specs
from vena_etl_tool_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "window_frames",
    "topk_global",
    "agg_rollup",
    "join_asof_last_click",
    "sessionize_events",
    "dedup_exact_hash",
    "dedup_minhash_lsh_pairs",
    "dedup_embedding_cosine",
    "sim_cosine_topk",
    "sim_ann_ivf",
    "embedding_quantize_int8",
    "text_wordfreq_topk",
    "corpus_curation_pipeline",
    "text_chunk_windows",
    "setop_except_all",
    "subquery_lateral_topn",
    "udf_grouped_agg",
    "stream_tumbling_window",
    "stream_tumbling_append",
    "q9_product_profit",
    "dataset_pack_sequences",
    "text_repetition_ratio",
    # added r4
    "pipeline_pretrain_flagship",
    "layout_bucketed_join",
    "text_token_commonness",
    "q8_market_share",
    "text_span_dedup",
    "multimodal_phash_neardup",
    "corpus_incremental_update",
    # added r4 continuation
    "dedup_semantic_ivf",
    "corpus_drift_topk",
    "dedup_containment",
    "layout_compaction_plan",
    "stream_transform_with_state",
    "events_path_mining",
    "profile_column_stats",
    "join_interval_overlap",
    # added r5
    "corpus_incremental_persisted",
    "stream_append_restart_flush",
    "text_lm_quality_buckets",
    "events_value_anomaly",
    "corpus_source_health",
    "corpus_bloom_prefilter",
    "embedding_product_quantize",
    "sim_ann_pq_adc",
    "sim_ann_adc_recall",
    # added r6
    "embedding_product_quantize_trained",
    "sim_ann_adc_trained_recall",
    "text_bpe_merge_step",
    "corpus_snapshot_diff",
    "sim_knn_graph_mutual",
    "sim_semantic_clusters",
    "text_bpe_train",
    "text_bpe_apply",
    # added in the r6 continuation session
    "join_fuzzy_trigram",
    "sim_ann_ivfadc",
    "sim_ann_ivfadc_recall",
    "embedding_random_projection",
    "embedding_rp_distance_audit",
    "sim_graph_pagerank",
    "sim_label_spread",
    "text_cms_heavy_hitters",
    "sample_weighted_bernoulli",
    "join_asof_tolerance",
    "stream_cms_merge",
    "multimodal_phash_clusters",
    "text_hll_cardinality",
    "stream_hll_merge",
    "layout_rendezvous_shards",
    "text_pmi_collocations",
    "profile_key_skew",
    "ts_linear_trend",
    "agg_winsorized_stats",
    "sim_graph_triangles",
    "events_cumulative_uniques",
    "dedup_canonical_pick",
    "text_quality_calibration",
    "events_change_point",
    # --- r7 additions (after the frozen r6 boundary) ---
    "sim_ann_ivfadc_trained",
    "sim_ann_ivfadc_trained_recall",
    "text_bigram_surprisal",
    "layout_zonemap_prune",
    "skyline_pareto_frontier",
    "text_bm25_search",
    "text_hll_overlap",
    "events_markov_transitions",
    "text_boilerplate_ngrams",
    "ts_ewma_halflife",
    "profile_histogram_equiwidth",
    "sim_ann_ivf_probe_sweep",
    "dataset_temperature_weights",
    "agg_mode_deterministic",
    "ts_rolling_median",
    "ts_anomaly_mad",
    "ts_theil_sen_trend",
    "events_rolling_actives",
    "events_cooccurrence_lift",
    "dataset_split_leakage",
    "ts_autocorrelation",
    "ts_seasonality_dow",
    "events_attribution_linear",
    "dataset_epoch_plan",
    "text_gopher_rules",
    "profile_expectations",
    "integrity_orphan_audit",
    # --- r8 additions (after the frozen r7 boundary) ---
    "sim_link_prediction",
    "sim_kmeans_lloyd_step",
    "retrieval_rrf_fusion",
    "text_tfidf_cosine_pairs",
    # r9 swap (VERDICT r8 #3): the bench times the sampled-stratum twin —
    # the posture a cluster runs; the full audit stays registered and
    # gated but no longer pays ~9 s per pass here.
    "dedup_lsh_recall_audit_stratum",
    "text_bpe_fertility",
    "dsir_importance_weights",
    "events_activity_streaks",
    "events_funnel_ttc",
    "stream_late_data_audit",
    "embedding_centroid_drift",
    "events_hhi_concentration",
    "orders_rfm_segments",
    "profile_benford_audit",
    "retrieval_rrf_fusion_ivf",
    # --- r9 additions (after the frozen r8 boundary) ---
    "dedup_cluster_star_contract",
    "multimodal_decode_features",
    "stream_timer_sessions",
    "embedding_binary_quantize_recall",
    "embedding_mrl_truncate_recall",
    "profile_candidate_keys",
    "profile_fd_violations",
    "sample_weighted_systematic",
    "dataset_padding_waste",
    "join_asof_nearest",
    "layout_overlap_depth",
    "sim_graph_2hop_reach",
    "events_ab_test_readout",
    "sim_ann_graph_greedy",
    # --- r10 additions (after the frozen r9 boundary) ---
    "merge_cow_parquet",
    "stream_retrieval_serving",
    "sim_maxsim_late_interaction",
    "sim_maxsim_plaid_rerank",
    "merge_delete_vectors",
    "privacy_k_anonymity",
    "privacy_k_generalize",
    "dedup_prefix_filter_join",
    "retrieval_system_agreement",
    "stream_cdc_apply",
    "layout_compaction_apply",
    "privacy_l_diversity",
    "text_zipf_buckets",
    "sim_graph_kcore_peel",
    "stream_merge_cow_sink",
    # --- r11 additions (after the frozen r10 boundary) ---
    "privacy_t_closeness",
    "events_cuped_adjust",
    "profile_feature_drift",
    "dataset_repeat_factor_mix",
    "layout_time_travel",
    "stream_window_drift",
    "sim_ivf_reassign_incremental",
    "orders_repurchase_survival",
    "text_vocab_growth",
    "sim_rerank_mmr",
    "ingest_schema_evolution",
    "multimodal_av_sync_audit",
    "embedding_outlier_knn",
    "dedup_sorted_neighborhood",
    "dedup_winnowing",
    # --- third r11 work session (ROUND12_PREP candidates, built early) ---
    "events_did_readout",
    "orders_market_basket",
    "profile_histogram_equidepth",
    "text_substring_dedup_spans",
    "dedup_snm_multipass",
    "text_rake_keywords",
    "sim_ann_hnsw_greedy_layered",
    "text_substring_dedup_trim",
    "profile_correlation_matrix",
    "orders_pareto_abc",
]

# The 49-query r5 headline, FROZEN as an explicit list (not computed from
# HEADLINE, which keeps growing) so round 6+ reports a like-for-like r5
# subtotal.
_R5_FROZEN = HEADLINE[: HEADLINE.index("embedding_product_quantize_trained")]
assert len(_R5_FROZEN) == 49, len(_R5_FROZEN)

# Cross-round comparability (VERDICT r3 item #5): the headline set grows
# over rounds, so the JSON line also reports fixed-subset subtotals — the
# original 12 queries benched since r1 and the 25 benched since r3 — so
# trend lines compare like with like.
R1_SUBSET = frozenset(
    (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "window_frames", "topk_global", "agg_rollup", "join_asof_last_click",
        "dedup_exact_hash", "dedup_minhash_lsh_pairs", "sim_cosine_topk",
        "stream_tumbling_window", "text_wordfreq_topk",
    )
)
R3_SUBSET = frozenset(HEADLINE[:25])
R5_SUBSET = frozenset(_R5_FROZEN)
# The 81-query r6 headline, frozen at its end-of-round boundary so r7+
# reports a like-for-like r6 subtotal while HEADLINE keeps growing.
_R6_FROZEN = HEADLINE[: HEADLINE.index("events_change_point") + 1]
assert len(_R6_FROZEN) == 81, len(_R6_FROZEN)
R6_SUBSET = frozenset(_R6_FROZEN)
# The 108-query r7 headline, frozen at its end-of-round boundary.
_R7_FROZEN = HEADLINE[: HEADLINE.index("integrity_orphan_audit") + 1]
assert len(_R7_FROZEN) == 108, len(_R7_FROZEN)
R7_SUBSET = frozenset(_R7_FROZEN)
# The r8 end-of-round boundary (123 queries), frozen MINUS the recall
# audit: r9 swapped the full dedup_lsh_recall_audit for its sampled-
# stratum twin in HEADLINE (VERDICT r8 #3), so the like-for-like r8
# subset is the 122 queries common to both rounds — compare
# r8_subset_sec against BENCH_DETAIL_r08 with its dedup_lsh_recall_audit
# row subtracted.
_R8_FROZEN = [
    n
    for n in HEADLINE[: HEADLINE.index("retrieval_rrf_fusion_ivf") + 1]
    if n != "dedup_lsh_recall_audit_stratum"
]
assert len(_R8_FROZEN) == 122, len(_R8_FROZEN)
R8_SUBSET = frozenset(_R8_FROZEN)

# Queries benchmarked OUTSIDE the headline sweep by cost policy (VERDICT
# r10 #8): the pyspark.ml approxSimilarityJoin cross-validation twin is a
# fixture-scale correctness gate, not a production path — it is timed
# once per bench run and recorded under side_queries_sec.
SIDE_QUERIES = ["dedup_ml_minhash_stratum"]

def _infer_round() -> str:
    """Round tag for artifact naming. SPARK_GRAFT_ROUND wins when set;
    otherwise derive CURRENT = newest committed BENCH_r*.json + 1, so an
    env-less driver run can never clobber a prior round's detail file
    (VERDICT r10 #3: the r10 run, defaulting to a stale literal, rewrote
    BENCH_DETAIL_r09.json in the working tree)."""
    env = os.environ.get("SPARK_GRAFT_ROUND")
    if env:
        return env
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = []
    for name in os.listdir(here):
        if name.startswith("BENCH_r") and name.endswith(".json"):
            tag = name[len("BENCH_"):-len(".json")]
            try:
                rounds.append(int(tag.lstrip("r")))
            except ValueError:
                continue
    return f"r{(max(rounds) + 1) if rounds else 1:02d}"


ROUND = _infer_round()


def _prev_round(round_tag: str) -> str | None:
    try:
        n = int(round_tag.lstrip("r"))
        return f"r{n - 1:02d}" if n > 1 else None
    except ValueError:
        return None


# Adjudicated-by-design step changes (VERDICT r10 #4): query -> (max_raw,
# reason). A detected regression whose raw ratio stays WITHIN the
# documented bound of an adjudicated trade is reported as
# "adjudicated" (reason attached, flagged=False) instead of consuming a
# flag slot every round. This is labeling, not loosening: the bound is
# the measured cost of the trade, and anything beyond it still flags.
ADJUDICATED: dict[str, tuple[float, str]] = {
    "sample_weighted_systematic": (
        2.5,
        "r9-ADVICE localCheckpoint-for-cache trade: each bench pass pays "
        "its own materialization (~1 s at sf0.1) instead of hitting a "
        "session-pinned cache; adjudicated in ROUND10_NOTES",
    ),
}


def regression_report(
    timings: dict[str, float],
    canary: float,
    prev_q: dict[str, float],
    prev_canary: float,
) -> dict | None:
    """VERDICT r8 #8 / r9 #4: cross-round perf claims without hand math.
    For every query common to this run and the previous round's detail
    file, compare canary-normalized times (query_sec / canary_sec —
    host-speed drift divides out). Every query whose normalized OR
    median-adjusted ratio exceeds 1.5x is RECORDED with all three
    ratios (norm, raw, adj) so nothing is silently masked.

    The flag itself is MEDIAN-ADJUSTED, because the two hard cases are
    indistinguishable per-query but distinguishable cross-sectionally:
    - Canary-swing artifact (r9's measured failure: a 0.343→0.228 canary
      swing inflated 24 UNCHANGED queries to ~1.6x normalized while raw
      moved ≤1.1x): the swing shifts EVERY query's normalized ratio by
      the same factor, so the population median absorbs it.
    - Real regression on a host that got 2x faster (VERDICT r9 #4's
      masked corner: raw ≈ 1.0, so the old conjunctive raw>1.5 guard
      provably suppressed it): the population median stays ~1.0 and the
      regressed query's median-adjusted ratio still shows the full 2x.
    flag when norm_ratio / median(norm_ratio over common queries) > 1.5;
    a median itself > 1.25 is surfaced as `population_drift` (either a
    global code regression or an uncorrected host shift — a human call,
    with every number attached)."""
    if not canary or not prev_canary:
        return None
    norm: dict[str, float] = {}
    raw: dict[str, float] = {}
    for name, t in timings.items():
        pt = prev_q.get(name)
        if not pt:
            continue
        norm[name] = (t / canary) / (pt / prev_canary)
        raw[name] = t / pt
    if not norm:
        return None
    ranked = sorted(norm.values())
    median = ranked[len(ranked) // 2]
    queries: dict[str, dict] = {}
    for name, nr in norm.items():
        adj = nr / median if median else nr
        if nr > 1.5 or adj > 1.5:
            entry = {
                "norm": round(nr, 2),
                "raw": round(raw[name], 2),
                "adj": round(adj, 2),
                "flagged": adj > 1.5,
            }
            pin = ADJUDICATED.get(name)
            if entry["flagged"] and pin and raw[name] <= pin[0]:
                entry["flagged"] = False
                entry["adjudicated"] = pin[1]
            queries[name] = entry
    return {
        "median_norm": round(median, 3),
        "population_drift": median > 1.25,
        "queries": queries,
    }


def canary_normalized_regressions(
    timings: dict[str, float], canary: float
) -> dict | None:
    """Load the previous round's detail file and run regression_report.
    Returns None when the previous detail file is missing/unreadable."""
    prev = _prev_round(ROUND)
    if prev is None:
        return None
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_DETAIL_{prev}.json"
    )
    try:
        with open(path) as f:
            detail = json.load(f)
        prev_q = detail["queries"]
        prev_canary = float(detail["canary_sec"])
    except Exception:
        return None
    return regression_report(timings, canary, prev_q, prev_canary)


def run_timed(spark, group: str, build: Callable[[], DataFrame]) -> float:
    """Build a query's DataFrame and write it to the noop sink (full
    execution, no driver collect); return the seconds of build plus write.
    Every job the run launches carries Spark job group ``group``, set
    before the timed window and cleared afterwards even when ``build`` or
    the write raises. The only place a bench or tool query run is timed."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        start = time.perf_counter()
        build().write.mode("overwrite").format("noop").save()
        return time.perf_counter() - start
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def codegen_compiles(spark) -> int:
    """Janino compiles this JVM has run so far (Spark's CodegenMetrics
    compilation-time histogram count): whole-stage codegen classes that
    missed the generated-class cache."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def time_passes(
    spark,
    specs: dict[str, QuerySpec],
    names: list[str],
    sf_dir: str,
    passes: int,
    compiles: dict[str, list[int]] | None = None,
) -> tuple[dict[str, float], dict[str, str], list[float]]:
    """Time ``names`` at ``sf_dir`` over ``passes`` passes; return the
    per-query min, the errors and each pass's total. A query that throws
    is recorded once, dropped from the mins and skipped in later passes;
    the pass it fails in and every later pass total leave it out — one
    broken query must not take out the whole bench line (the r2 failure
    mode). ``compiles``, when given, gets each successful run's codegen
    compile count appended under the query's name, one entry per pass."""
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    pass_totals: list[float] = []
    for i in range(passes):
        pass_total = 0.0
        for name in names:
            if name in errors:
                continue
            build = partial(specs[name].fn, spark, sf_dir)
            before = codegen_compiles(spark)
            try:
                t = round(run_timed(spark, f"bench:{name}:pass{i}", build), 3)
            except Exception as exc:
                errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                print(f"BENCH FAIL {name}: {errors[name]}", file=sys.stderr)
                timings.pop(name, None)
                continue
            if compiles is not None:
                compiles.setdefault(name, []).append(codegen_compiles(spark) - before)
            pass_total += t
            timings[name] = min(t, timings.get(name, t))
        pass_totals.append(round(pass_total, 3))
    return timings, errors, pass_totals


def run_canary(spark) -> float:
    """Machine-speed canary: a registry- and fixture-independent synthetic
    workload (10M-row modulo-keyed groupBy-sum, one full shuffle +
    whole-stage-codegen aggregate), min-of-3. Cross-round throughput drift
    of the HOST shows up here; a code regression does not."""
    from pyspark.sql import functions as F

    def build():
        return (
            spark.range(10_000_000)
            .select((F.col("id") % 997).alias("k"), F.col("id").alias("v"))
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        )

    return round(
        min(run_timed(spark, f"canary:pass{i}", build) for i in range(3)), 3
    )


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    spark = get_spark("bench")
    specs = all_specs()

    # JVM/codegen warmup: run every headline query once on the smallest
    # fixture. It JIT-compiles the JVM's hot paths and fills the
    # generated-class cache (sized by get_spark to hold the whole headline
    # set), so timed passes recompile only the classes whose generated
    # code changes with the data or from run to run; codegen_compiles in
    # the detail file counts them per query and pass.
    warmup_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warmup_dir) and warmup_dir != sf_dir:
        for name in HEADLINE:
            try:
                run_timed(
                    spark, f"warmup:{name}", partial(specs[name].fn, spark, warmup_dir)
                )
            except Exception as exc:  # surface early — a broken query would
                # otherwise crash mid-timed-pass with no warmup breadcrumb
                print(f"WARMUP FAIL {name}: {exc}", file=sys.stderr)

    # three timed passes, keep the min: local[32] wall-clock is noisy (GC,
    # page cache, CI neighbors); min-of-N reports steady-state plan cost.
    # BENCH_r04's official artifact was ~1.7x inflated by ambient load, so
    # the line also records per-pass totals and loadavg — if the passes
    # disagree or loadavg is high, the artifact itself shows the run was
    # load-contaminated rather than a code regression.
    load_before = os.getloadavg()[0]
    compiles: dict[str, list[int]] = {}
    timings, errors, pass_totals = time_passes(
        spark, specs, HEADLINE, sf_dir, 3, compiles
    )

    canary = run_canary(spark)

    # Fixture-scale side measurements (VERDICT r10 #8): queries excluded
    # from HEADLINE by cost policy still get a per-round perf row, timed
    # ONCE (not 3 passes) and recorded separately so they never distort
    # the headline metric or the cross-round subset totals.
    side_timings, side_errors, _ = time_passes(
        spark, specs, SIDE_QUERIES, sf_dir, 1, compiles
    )
    errors.update(side_errors)

    total = round(sum(timings.values()), 3)
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:10]
    )
    line = {
        "metric": "headline_queries_total_sec",
        "value": total,
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
        "n_errors": len(errors),
        "canary_sec": canary,
        "r1_subset_sec": round(
            sum(t for n, t in timings.items() if n in R1_SUBSET), 3
        ),
        "r3_subset_sec": round(
            sum(t for n, t in timings.items() if n in R3_SUBSET), 3
        ),
        "r5_subset_sec": round(
            sum(t for n, t in timings.items() if n in R5_SUBSET), 3
        ),
        "r6_subset_sec": round(
            sum(t for n, t in timings.items() if n in R6_SUBSET), 3
        ),
        "r7_subset_sec": round(
            sum(t for n, t in timings.items() if n in R7_SUBSET), 3
        ),
        "r8_subset_sec": round(
            sum(t for n, t in timings.items() if n in R8_SUBSET), 3
        ),
        "regressions": canary_normalized_regressions(timings, canary),
        "pass_totals_sec": pass_totals,
        "artifact_policy": "steady_state",
        "loadavg": [round(load_before, 2), round(os.getloadavg()[0], 2)],
        "top10_slowest": slowest,
        "side_queries_sec": side_timings,
        "detail_file": f"BENCH_DETAIL_{ROUND}.json",
    }
    detail = dict(line)
    detail["queries"] = timings
    detail["codegen_compiles"] = compiles
    if errors:
        line["n_errors"] = len(errors)
        detail["errors"] = errors
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), f"BENCH_DETAIL_{ROUND}.json"
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    out = json.dumps(line)
    # hard guarantee for the driver's 2000-char stdout-tail capture
    if len(out) > 1900:
        for drop in ("top10_slowest", "regressions", "pass_totals_sec"):
            line.pop(drop, None)
            out = json.dumps(line)
            if len(out) <= 1900:
                break
    print(out)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
