"""Empirical scaling check for the LLM-pipeline operators (SCALE.md).

Builds a key-shifted 10x replica of documents/embeddings under /tmp and
times the dedup/similarity/curation family warm at 1x vs 10x. Sublinear
blocking (LSH buckets, shingle inverted index, IVF cells) should keep the
10x/1x wall-clock ratio far below the 100x a quadratic candidate step
would show; near-constant overhead queries ride the extra parallelism.

Usage: python tools/scale_check.py [sf_dir] [query ...]
(default /root/testdata/sf0.1, every query in QUERIES). The replica
multiple is SPARK_GRAFT_REPLICAS (default 10).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
from functools import partial

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.functions as F  # noqa: E402

from bench import run_timed  # noqa: E402
from vena_etl_tool_spark.catalog import TABLES, load_table  # noqa: E402
from vena_etl_tool_spark.registry import all_specs  # noqa: E402
from vena_etl_tool_spark.session import get_spark  # noqa: E402

QUERIES = (
    "dedup_exact_hash",
    "dedup_minhash_lsh_pairs",
    "dedup_simhash",
    "dedup_embedding_cosine",
    "sim_ann_ivf",
    "embedding_quantize_int8",
    "corpus_curation_pipeline",
    "sessionize_events",
    "pipeline_pretrain_flagship",
    "text_token_commonness",
    "dataset_mixture_sample",
    "text_span_dedup",
    "multimodal_phash_neardup",
    "events_retention_cohorts",
    "dedup_semantic_ivf",
    "corpus_drift_topk",
    "dedup_containment",
    "layout_compaction_plan",
    "events_path_mining",
    "join_interval_overlap",
    "corpus_incremental_update",
    # r5 additions (r5 verdict #5): PQ/ADC should be ~linear (map-only /
    # broadcast-lookup); the streaming restart query is ~2 passes by
    # construction; lm-quality is two aggregates + a broadcast cutoff row.
    "embedding_product_quantize",
    "sim_ann_pq_adc",
    "sim_ann_adc_recall",
    "text_lm_quality_buckets",
    "corpus_bloom_prefilter",
    "stream_append_restart_flush",
    "corpus_source_health",
    "events_value_anomaly",
    # r6 additions: BPE's pair stage runs on the vocab (clone-invariant),
    # snapshot diff is a fingerprint-projected linear join, and the kNN
    # graph collapses exact-duplicate vectors before any pair work — the
    # all-clones replica should cost ~one extra linear pass each.
    "text_bpe_merge_step",
    "corpus_snapshot_diff",
    "sim_knn_graph_mutual",
    "sim_semantic_clusters",
    "text_bpe_train",
    "text_bpe_apply",
    # r6 continuation: the fuzzy trigram join collapses the catalog to
    # distinct names before any token/pair work, so a 10x all-clones part
    # table should cost ~one extra linear groupBy pass (ratio ~1).
    "join_fuzzy_trigram",
    # as-of with tolerance: same partitioned-window budget as the plain
    # as-of join (events replicated; user_id keys shift per replica).
    "join_asof_tolerance",
    # streaming CMS merge: per-batch sub-sketches into a fixed grid —
    # corpus scan grows, state does not.
    "stream_cms_merge",
    # pHash clusters: banded hamming + label propagation on capped
    # buckets; inherits the occupancy band-width rule.
    "multimodal_phash_clusters",
    # IVFADC: corpus side is a map-only encode (linear); candidates per
    # query grow with cell occupancy (10x here — fixed 16-cell keyspace),
    # but each candidate costs 8 integer lookups on 4 B of codes, so the
    # ratio should stay well under the occupancy growth.
    "sim_ann_ivfadc",
    # JL projection is a pure map-only scan-transform (expect ~linear,
    # riding the extra parallelism); its audit is fixed-size by design.
    "embedding_random_projection",
    # PageRank inherits the kNN graph's clone collapse (same edge set on
    # the all-clones replica) + K fixed edge-partitioned shuffles.
    "sim_graph_pagerank",
    # Label spread: same budget class (K edges-join-state rounds).
    "sim_label_spread",
    # CMS: vocabulary-sized aggregates into a fixed-size integer grid —
    # the corpus scan grows, the sketch does not.
    "text_cms_heavy_hitters",
    # weighted Bernoulli sample: zero-shuffle scan+filter (plan-tested).
    "sample_weighted_bernoulli",
    # r6 third session: HLL registers are a vocabulary-sized distinct +
    # two 64-row aggregates — the corpus scan grows, the sketch does not
    # (same budget class as CMS); the streaming twin is the same work
    # split across foreachBatch sub-sketches.
    "text_hll_cardinality",
    "stream_hll_merge",
    # rendezvous sharding: routing is a map-only per-row argmax (zero
    # shuffle); the audit aggregate is <=81 rows — expect ~linear.
    "layout_rendezvous_shards",
    # PMI: two vocabulary-sized aggregates (bigram + unigram grain) and
    # broadcast joins — sketch-class budget, expect ~linear in the scan.
    "text_pmi_collocations",
    # (profile_key_skew reads lineitem, which build_replica does NOT
    # scale — a 10x row would be measuring a fixed input. Its budget is
    # one fact exchange then keys-grain work; same class as the TPC-H
    # aggregates that are likewise not scale-checked here.)
    # OLS trend: two map-side-combinable aggregates (daily grain, then
    # per-type sufficient statistics) — expect ~linear.
    "ts_linear_trend",
    # winsorized stats: per-group percentile cutoffs broadcast back onto
    # the scan (lm-quality topology) — expect ~linear.
    "agg_winsorized_stats",
    # triangle census: inherits the kNN graph's clone collapse; the
    # enumeration joins run on the K-capped cached edge list.
    "sim_graph_triangles",
    # cumulative uniques: two user/day-keyed exchanges + a ~day-count
    # window — the first-seen-flag rewrite is linear by construction.
    "events_cumulative_uniques",
    # canonical pick: cluster labels join doc metadata by id; the pick
    # window partitions are cluster-size-bounded.
    "dedup_canonical_pick",
    # rank calibration: one window over the source partitioning — a
    # single source-keyed exchange, linear by construction.
    "text_quality_calibration",
    # CUSUM change point: one combinable fact aggregate to day grain,
    # then windows over the tiny per-type series — expect ~linear.
    "events_change_point",
    # r7: bigram surprisal is one explode + vocabulary-grain model
    # aggregate + a (w1,w2)-keyed scoring join back — every exchange is
    # vocab- or corpus-linear (the replica multiplies doc counts but the
    # bigram vocabulary barely grows: same texts, shifted ids).
    "text_bigram_surprisal",
    # r7: zone-map audit is one lineitem scan + a shard-grain aggregate
    # (lineitem now replicated 10x — this is one of the new fact-side
    # scale rows verdict #7 asked for).
    "layout_zonemap_prune",
    # r7 (verdict #7): the heaviest TPC-H-pattern queries get true 10x
    # fact rows now that build_replica scales lineitem/orders; their
    # budgets are hash-agg / sort-merge-join shuffles that should track
    # the scan ~linearly, and profile_key_skew's one fact exchange to
    # keys grain likewise.
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "q21_sole_returner",
    "profile_key_skew",
    # r7 second session: the skyline's window runs on the (segment, price)
    # grain after a map-side-combinable rollup (10x orders -> ~10x grain
    # here since prices are near-unique, but the frontier join stays
    # linear); BM25's posting build is IN-list-pruned at the scan; the HLL
    # overlap ships 64 ints per source — only its exact-audit join grows.
    "skyline_pareto_frontier",
    "text_bm25_search",
    "text_hll_overlap",
    # Markov transitions: one user-partitioned lag window then a
    # |types|^2-grain aggregate; boilerplate n-grams: span-vocabulary
    # exchanges (the replica multiplies positions, not the span vocab);
    # EWMA: one day-grain rollup then a tiny (type, day) banded self-join.
    "events_markov_transitions",
    "text_boilerplate_ngrams",
    "ts_ewma_halflife",
    # histogram: one map-side-combinable hash aggregate to ~23 bins over
    # the (now 10x-replicated) orders fact — pure scan-bound, expect the
    # fact-volume linear signature.
    "profile_histogram_equiwidth",
    # probe sweep: corpus side is the same map-only IVF assignment; the
    # sweep multiplies only N_QUERIES x max_level broadcast probe rows,
    # plus the brute-force exact-truth audit (query-side broadcast).
    "sim_ann_ivf_probe_sweep",
    # temperature weights: one (lang, source)-grain aggregate + 1-row
    # broadcast — the dataset_mixture_weights budget exactly.
    "dataset_temperature_weights",
    # mode: fact scan to (status, year, priority) grain, window on grain.
    "agg_mode_deterministic",
    # r7 fourth session: all three collapse events to day grain in one
    # map-side-combinable exchange, then work on the calendar-bounded
    # series — rolling median's window array is <=7 elements, MAD's two
    # median passes aggregate <=n_days values per type, and Theil-Sen's
    # O(n^2) pair join runs at day grain (corpus-independent pair count).
    "ts_rolling_median",
    "ts_anomaly_mad",
    "ts_theil_sen_trend",
    # r7 fifth session: rolling actives works on (user, day) distinct
    # grain with a fixed 7x explode; co-occurrence pairs on (user, type)
    # distinct grain aggregating to |types|^2; split leakage is
    # exact-dedup-shaped (one fingerprint-keyed exchange).
    "events_rolling_actives",
    "events_cooccurrence_lift",
    "dataset_split_leakage",
    # r7 sixth session: ACF/seasonality run the lag math at calendar-day
    # grain after one fact exchange; attribution pairs are user-keyed and
    # bounded by per-user activity; epoch plan / gopher rules are one
    # corpus aggregate; expectations are 1-row-per-table aggregates;
    # the FK audit joins at distinct-key grain, never fact grain.
    "ts_autocorrelation",
    "ts_seasonality_dow",
    "events_attribution_linear",
    "dataset_epoch_plan",
    "text_gopher_rules",
    "profile_expectations",
    "integrity_orphan_audit",
    # r8 first session: link prediction inherits the kNN graph's clone
    # collapse (same edge set on the all-clones replica) — its path join
    # runs on the K-capped edge list; the Lloyd step is a map-only
    # assignment + one C x 64-cell combinable aggregate (pure scan-bound).
    "sim_link_prediction",
    "sim_kmeans_lloyd_step",
    # r8 second session: RRF is two list-producing scans + a list-sized
    # fusion join; TF-IDF pairs run AND report at clone-collapsed rep
    # grain (the all-clones replica collapses to the same rep set; df cap
    # scales with n_docs so the candidate space is invariant too).
    "retrieval_rrf_fusion",
    "text_tfidf_cosine_pairs",
    # r8 third session: the LSH audit is the ngram-jaccard blocking shape
    # plus the minhash banding shape, both on the clone-collapsed corpus;
    # fertility is one corpus explode + broadcast vocab join (the trained
    # vocab is clone-invariant); DSIR is the bigram-surprisal topology
    # with a FIXED 1024-bucket model (state never grows with the corpus).
    "dedup_lsh_recall_audit",
    "text_bpe_fertility",
    "dsir_importance_weights",
    # r8 fourth session: streaks work at (user, day) distinct grain with
    # one user-keyed exchange; funnel TTC is two user-keyed aggregates +
    # a calendar-bounded cohort window; the late-data audit replays the
    # two-restart stream (~2 passes by construction, the
    # stream_append_restart_flush budget) plus one reconcile aggregate.
    "events_activity_streaks",
    "events_funnel_ttc",
    "stream_late_data_audit",
    # r8 fifth session: centroid drift is the Lloyd-step budget (one
    # posexplode to |labels| x 64-cell combinable aggregate); HHI is one
    # (type, user)-keyed combinable aggregate then a |types|-grain rollup.
    "embedding_centroid_drift",
    "events_hhi_concentration",
    # r8 sixth session: RFM is one fact aggregate to customer grain then
    # three windows over the customer-grain rows (10x facts onto FIXED
    # dims = same customer count, 10x fan-in — the realistic regime);
    # Benford is a 9-cell combinable aggregate, pure scan-bound.
    "orders_rfm_segments",
    "profile_benford_audit",
    # r8 seventh session: the IVF-served hybrid — dense candidates are
    # ~NPROBE/C of the corpus per query vs the brute-force baseline's
    # full scan (whose 2.9x row is the contrast this twin exists for).
    "retrieval_rrf_fusion_ivf",
    # r9: the stratum audit bounds the quadratic truth side to the
    # doc_id % MOD rep stratum (expect the full audit's shape at ~1/MOD^2
    # verification cost); star-contract CC runs on the verified pair set
    # (edges ≪ corpus) with O(log n) rounds regardless of topology; the
    # decode round-trip is two map-only Arrow passes (pure scan-bound);
    # timer sessions keep one (start, last, n) triple per live user in
    # the state store — state is user-count-, not event-count-, sized.
    "dedup_lsh_recall_audit_stratum",
    "dedup_cluster_star_contract",
    "multimodal_decode_features",
    "stream_timer_sessions",
    # r9 third session: both recall evals are broadcast-queries ×
    # partitioned-corpus scans (the corpus side grows, the query side is
    # fixed at N_QUERIES); candidate keys are exact distinct aggregates
    # (shuffle mass = distinct tuples); FD audit works at value-pair
    # vocabulary grain; the systematic sampler is one range exchange +
    # partition-grain offsets (sample size FIXED at M, so output shrinks
    # relatively); padding waste = distributed NTILE + B+1-row aggregates;
    # nearest as-of is the one-exchange union/two-frame window rewrite.
    "embedding_binary_quantize_recall",
    "embedding_mrl_truncate_recall",
    "profile_candidate_keys",
    "profile_fd_violations",
    "sample_weighted_systematic",
    "dataset_padding_waste",
    "join_asof_nearest",
    # r9 fourth session: overlap depth is one fact aggregate to shard
    # grain then manifest-grain sweeps; 2-hop reach self-joins the
    # K-capped persisted edge list (n·K² candidate bound, the
    # link-prediction budget) and inherits the clone collapse.
    "layout_overlap_depth",
    "sim_graph_2hop_reach",
    # r9 fifth session: assignment is a map-side md5 expression; the
    # readout is one user-grain distinct aggregate + a 2-row rollup.
    "events_ab_test_readout",
    # r9 sixth session: per-hop work is N_QUERIES x (K+1) candidate rows
    # against the persisted edge artifact regardless of corpus size; only
    # the truth side scans graph nodes (broadcast queries).
    "sim_ann_graph_greedy",
    # r10 first session: the COW merge pays one seed write + the
    # affected-partition rewrite (update keys span all 16 pks here, so
    # expect ~linear in the fact); deletion vectors pay the seed write +
    # a broadcast anti-join + rewrite of only the past-threshold
    # partitions; the serving twin's per-batch work is a request-grain
    # distinct + an isin-filter over the checkpointed index (index build
    # dominates); CDC apply is one key-grain window per batch (single
    # batch here -> one fact window).
    "merge_cow_parquet",
    "merge_delete_vectors",
    "stream_retrieval_serving",
    "stream_cdc_apply",
    # r10 MaxSim pair: the brute-force baseline is broadcast-queries x
    # corpus with 16 sub-vector dots per pair (expect the sim_cosine_topk
    # linear signature, heavier constant); the PLAID twin prunes to
    # ~NPROBE/C of the corpus before paying those dots — its own truth
    # side is the baseline scan (audit-shaped, like the recall evals).
    "sim_maxsim_late_interaction",
    "sim_maxsim_plaid_rerank",
    # r10 privacy: both are QI-grain hash aggregates / windows (QI
    # cardinality ≪ rows by definition); the ladder's later levels see
    # only sub-threshold remainders. Customer is replica-fixed, so these
    # rows measure the fixed-dim regime (expect ~1x).
    "privacy_k_anonymity",
    "privacy_k_generalize",
    # r10 prefix-filter join: candidates come from RAREST-token prefix
    # collisions (short posting lists by construction); the verify join
    # runs on candidates only. Same budget class as the ngram-jaccard
    # blocking it must equal.
    "dedup_prefix_filter_join",
    # r10 ranker agreement: two list-producing scans (BM25 posting build
    # + broadcast dense scan), then list-sized pair math.
    "retrieval_system_agreement",
    # r10 compaction apply: two source-keyed shuffle writes + two
    # listing-grain audits — pure write-bound, expect ~linear.
    "layout_compaction_apply",
    # r10 second session: l-diversity is QI-grain (fixed-dim customer,
    # expect ~1x); Zipf bands are the wordfreq vocabulary budget into
    # <= 21 rows; k-core peels the persisted K-capped edge list (clone
    # collapse inherited) with monotonically shrinking rounds.
    "privacy_l_diversity",
    "text_zipf_buckets",
    "sim_graph_kcore_peel",
    # r11: t-closeness is QI x domain grid windows (customer replica-fixed
    # -> expect ~1x); CUPED + survival are one fact window/aggregate each
    # (events/orders scale -> ~linear); feature drift is bucket-grain
    # (~linear scan); the waterline solve is domain-grain after one lang
    # aggregate (~linear scan, constant solve); vocab growth is the
    # wordfreq vocabulary budget (~linear); reassignment is two broadcast
    # assignments + a centroid-grain aggregate (~linear); MMR's corpus
    # work is the candidate top-k scan, the re-rank is k^2-fixed; the
    # streaming drift monitor is one windowed stateful aggregate
    # (~linear); schema evolution and time travel are write-bound seed +
    # rewrite passes (customer replica-fixed -> ~1x write, audit linear).
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
    # r11 second session: SNM is per-block rank windows + an n*(w-1)
    # bounded band join (~linear); winnowing is per-doc windows + a
    # df-capped fingerprint join — on the all-clones replica every
    # fingerprint's df multiplies by the replica count, so the [2, cap] df band
    # governs the candidate volume (same cap-governed class as the
    # minhash bucket sweep).
    "dedup_sorted_neighborhood",
    "dedup_winnowing",
    # r10 capstone: per batch one key-grain window + a partition-pruned
    # COW rewrite of affected directories (single batch here, so the
    # row is seed write + one merge pass — write-bound ~linear in the
    # replica's 10x events/customers... customers are replica-FIXED, so
    # the seed is constant and the merge delta grows with events).
    "stream_merge_cow_sink",
    # r11 third session: DiD is the CUPED budget minus second moments
    # (events scale -> ~linear); market basket's pair join is bounded by
    # basket-size^2 per order with baskets preserved per replica
    # (~linear); equi-depth is one bucket-grain aggregate + windows over
    # <= 9 boundary buckets (~linear); the span metric is the linear
    # occurrence semi-join (no pair join exists — on the all-clones
    # replica the shared set grows but hits stay one row per occurrence);
    # multipass SNM doubles the single-pass budget (two key orders, one
    # verify); RAKE is per-document by definition; the layered walk
    # inherits the kNN graph's clone collapse, so the layer-1 build on
    # representatives is replica-FIXED and the walks are query-count
    # bounded (~1x plus the scan).
    "events_did_readout",
    "orders_market_basket",
    "profile_histogram_equidepth",
    "text_substring_dedup_spans",
    "dedup_snm_multipass",
    "text_rake_keywords",
    "sim_ann_hnsw_greedy_layered",
    # r11 third session (cont.): the trim is the span metric plus one
    # islands expansion + anti join (same no-pair-join class); the
    # correlation matrix is ONE 15-moment map-side-combined pass
    # (~linear scan, constant output); ABC is a part-grain aggregate +
    # band-partitioned windows (~linear, catalog-grain output).
    "text_substring_dedup_trim",
    "profile_correlation_matrix",
    "orders_pareto_abc",
)
def steady_seconds(spark, group: str, build) -> float:
    """Seconds of the second of two runs of ``build`` (build + noop write,
    via ``bench.run_timed``). The first run warms codegen/JIT and any
    memoized derived artifacts (persisted_artifact) outside the timed run,
    so a ratio compares steady state to steady state — a cold big side
    would bill one-time build cost to the big scale only."""
    run_timed(spark, f"{group}:warm", build)
    return run_timed(spark, group, build)


def build_replica(spark, sf_dir: str, out_dir: str, replicas: int) -> None:
    """documents/embeddings/events replicated ``replicas`` times with
    shifted keys (unique ids, same content distribution — near-dup
    structure is preserved per copy); other tables symlink-copied so
    load_table still works."""
    os.makedirs(out_dir, exist_ok=True)
    n_docs = 10_000_000  # id shift stride ≫ any fixture id
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    ev = load_table(spark, sf_dir, "events")
    rep = F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep")
    docs.select("*", rep).withColumn(
        "doc_id", F.col("doc_id") + F.col("rep").cast("long") * n_docs
    ).drop("rep").write.mode("overwrite").parquet(os.path.join(out_dir, "documents.parquet"))
    emb.select("*", rep).withColumn(
        "vec_id", F.col("vec_id") + F.col("rep").cast("long") * n_docs
    ).drop("rep").write.mode("overwrite").parquet(os.path.join(out_dir, "embeddings.parquet"))
    ev.select("*", rep).withColumn(
        "event_id", F.col("event_id") + F.col("rep").cast("long") * n_docs
    ).withColumn(
        "user_id", F.col("user_id") + F.col("rep").cast("long") * n_docs
    ).drop("rep").withColumn(
        "ts", F.unix_micros(F.col("ts").cast("timestamp")) * 1000
    ).write.mode("overwrite").parquet(os.path.join(out_dir, "events.parquet"))
    prt = load_table(spark, sf_dir, "part")
    prt.select("*", rep).withColumn(
        "p_partkey", F.col("p_partkey") + F.col("rep").cast("long") * n_docs
    ).drop("rep").write.mode("overwrite").parquet(os.path.join(out_dir, "part.parquet"))
    # r7 (verdict #7): scale the TPC-H fact side too so the join/agg family
    # and profile_key_skew have true 10x rows. o_orderkey/l_orderkey shift
    # per replica (join integrity preserved within each copy); the dim keys
    # (custkey, suppkey) stay UNSHIFTED — fixed dims × 10x facts is the
    # realistic scale-up (each dim key's fan-in grows 10x, exactly the skew
    # a 100 TB fact table piles onto its dimensions). l_partkey shifts with
    # part so part-side joins keep 1:N structure per replica.
    ords = load_table(spark, sf_dir, "orders")
    ords.select("*", rep).withColumn(
        "o_orderkey", F.col("o_orderkey") + F.col("rep").cast("long") * n_docs
    ).drop("rep").write.mode("overwrite").parquet(os.path.join(out_dir, "orders.parquet"))
    li = load_table(spark, sf_dir, "lineitem")
    li.select("*", rep).withColumn(
        "l_orderkey", F.col("l_orderkey") + F.col("rep").cast("long") * n_docs
    ).withColumn(
        "l_partkey", F.col("l_partkey") + F.col("rep").cast("long") * n_docs
    ).drop("rep").write.mode("overwrite").parquet(os.path.join(out_dir, "lineitem.parquet"))
    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), dst)


def persisted_probe(spark, sf_dir: str, out_dir: str) -> None:
    """The claim behind corpus_incremental_persisted: phase-2 admission
    cost tracks the BATCH, not the corpus. Proof shape: admit the SAME
    fixed batch (sf-dir docs with doc_id%4==0) against persisted state
    built over the 1x corpus vs the 10x replica corpus. A corpus-sized
    recompute would scale ~10x; batch-sized shuffles + a compact state
    scan should stay a small multiple."""
    from vena_etl_tool_spark.operators.dedup import (
        incr_admit,
        incr_build_state,
    )

    docs1 = load_table(spark, sf_dir, "documents")
    docs10 = load_table(spark, out_dir, "documents")
    batch = docs1.filter(F.col("doc_id") % 4 == 0)
    st1 = incr_build_state(
        docs1.filter(F.col("doc_id") % 4 != 0), os.path.join(out_dir, "_state1x")
    )
    st10 = incr_build_state(
        docs10.filter(F.col("doc_id") % 4 != 0), os.path.join(out_dir, "_state10x")
    )
    times = {
        tag: steady_seconds(
            spark, f"scale:incr_admit:{tag}", partial(incr_admit, spark, batch, st)
        )
        for tag, st in (("1x", st1), ("10x", st10))
    }
    print(
        f"| incr_admit fixed batch vs state size | {times['1x']:.2f}s "
        f"| {times['10x']:.2f}s | {times['10x'] / times['1x']:.1f} |"
    )


def minhash_cap_sweep(spark, out_dir: str, replicas: int) -> None:
    """Cap-sensitivity for the one genuinely cap-governed superlinear
    entry (minhash 2.8x at 10x pathological dup density): the replica
    multiplies every band bucket's occupancy 10x, so candidate pairs grow
    ~min(k,cap)^2 per bucket. Timing the 10x corpus at caps 25/50/100
    shows the cap — not the corpus size — is the wall-clock lever (the
    100 TB tuning knob: cap per-bucket k so cap^2 x bucket-count tracks
    your candidate budget). Uses the xxhash64 fast path — timing only."""
    from vena_etl_tool_spark.operators.dedup import minhash_lsh_pairs

    docs = load_table(spark, out_dir, "documents")
    for cap in (25, 50, 100):
        t = steady_seconds(
            spark,
            f"scale:minhash_cap{cap}",
            partial(minhash_lsh_pairs, docs, max_bucket_size=cap),
        )
        print(f"| minhash_lsh_pairs {replicas}x, bucket cap {cap} | — | "
              f"{t:.2f}s | — |")


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = sys.argv[2:] or None  # optional query-name subset for re-measures
    # e.g. 100 for a two-decade probe on a focused query subset — at 100x
    # the full-table build writes ~1.7 GB under /tmp and the fact-bound
    # TPC-H queries take minutes, so pass an explicit query list rather
    # than sweeping all of QUERIES.
    replicas = int(os.environ.get("SPARK_GRAFT_REPLICAS", "10"))
    spark = get_spark("scale-check")
    specs = all_specs()
    if only:
        unknown = sorted(set(only) - set(specs))
        if unknown:  # fail BEFORE the expensive replica build
            raise SystemExit(f"unknown query name(s): {unknown}")
    out_dir = tempfile.mkdtemp(prefix="scale10x_")
    try:
        build_replica(spark, sf_dir, out_dir, replicas)
        print(f"| query | {os.path.basename(sf_dir)} | {replicas}x | ratio |")
        print("|---|---|---|---|")
        for name in only or QUERIES:
            fn = specs[name].fn
            base = steady_seconds(spark, f"scale:{name}:1x", partial(fn, spark, sf_dir))
            big = steady_seconds(
                spark, f"scale:{name}:{replicas}x", partial(fn, spark, out_dir)
            )
            print(f"| {name} | {base:.2f}s | {big:.2f}s | {big / base:.1f} |")
        if only is None or "corpus_incremental_persisted" in only:
            persisted_probe(spark, sf_dir, out_dir)
        if only is None or "dedup_minhash_lsh_pairs" in only:
            minhash_cap_sweep(spark, out_dir, replicas)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
