"""Physical-plan regression tests — the 100 TB claims from SCALE.md,
asserted against the executed plan so a refactor can't silently lose
pushdown, broadcast, or top-k physical strategies."""

from __future__ import annotations

import re

import pytest

from vena_etl_tool_spark.registry import all_specs

_SPECS = all_specs()


@pytest.fixture(autouse=True, scope="module")
def _uncached_plans(spark):
    """Plan tests assert the real BUILD plan. Spark's CacheManager
    substitutes any persisted same-analyzed-plan fragment into later
    queries, so a persisted derived artifact left behind by an earlier
    test module (the registered query's own output, persisted whole by
    persisted_artifact) would replace the asserted plan with an
    InMemoryRelation scan. Drain the artifact cache and the catalog
    cache first; artifacts rebuild lazily on next use."""
    from vena_etl_tool_spark.operators._shared import _ARTIFACT_CACHE

    for k in list(_ARTIFACT_CACHE):
        try:
            _ARTIFACT_CACHE.pop(k).unpersist()
        except Exception:
            pass
    try:
        spark.catalog.clearCache()
    except Exception:
        pass
    yield


def plan_of(spark, sf_dir, name: str) -> str:
    df = _SPECS[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q1_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema  # unused columns pruned from the scan
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_q5_all_dims_broadcast(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q5_local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan


def test_topk_is_take_ordered(spark, sf_dir):
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "topk_global")
    assert "TakeOrderedAndProject" in plan_of(spark, sf_dir, "q10_returned_items")


def test_range_join_is_broadcast_not_cartesian(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_range_bands")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_join_is_single_window_no_loop(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "join_asof_last_click")
    assert "Window" in plan
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin", "SortMergeJoin"):
        assert bad not in plan, f"as-of should not plan a {bad}"


def test_blocking_joins_are_equi(spark, sf_dir):
    """The dedup/similarity candidate joins must be hash/merge equi-joins
    on block keys, never nested loops over the full corpus."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash_lsh_pairs"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name


def test_semi_anti_physical(spark, sf_dir):
    assert "LeftSemi" in plan_of(spark, sf_dir, "join_semi")
    assert "LeftAnti" in plan_of(spark, sf_dir, "join_anti")


@pytest.mark.parametrize("name", ["window_frames", "topn_per_group"])
def test_windows_are_partitioned(spark, sf_dir, name):
    """No scale-path window may collapse to a single partition."""
    df = _SPECS[name].fn(spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "windowspecdefinition(" in opt.lower()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_sessionize_single_exchange(spark, sf_dir):
    """Both session windows and the final aggregate must reuse ONE
    hash partitioning on user_id (SCALE.md round-2 claim)."""
    plan = plan_of(spark, sf_dir, "sessionize_events")
    assert plan.count("Exchange hashpartitioning") == 1


def test_quantize_is_map_only(spark, sf_dir):
    """int8 quantization is a pure projection: no exchange anywhere."""
    plan = plan_of(spark, sf_dir, "embedding_quantize_int8")
    assert "Exchange" not in plan


def test_ivf_corpus_side_shape(spark, sf_dir):
    """IVF: probes are broadcast; the corpus is never exploded (the
    centroid assignment is a scalar projection, candidates come from the
    broadcast equi-ish join)."""
    plan = plan_of(spark, sf_dir, "sim_ann_ivf")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # exactly one Generate (posexplode of the 20 query score arrays);
    # a corpus-side explode would add a second
    assert plan.count("Generate") == 1


def test_bucketized_range_join_is_equi(spark, sf_dir):
    """The interval self-join must plan as a shuffled equi-join on
    (user_id, cell) — never a nested loop over per-user history."""
    plan = plan_of(spark, sf_dir, "join_range_bucketized")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_tpch_new_queries_broadcast_dims_and_pushdown(spark, sf_dir):
    """Round-3 TPC-H additions: dims broadcast, part filters at the scan,
    no cartesian anywhere."""
    plan = plan_of(spark, sf_dir, "q9_product_profit")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "StringContains(p_name,widget)" in plan  # pushed to parquet
    assert "CartesianProduct" not in plan

    plan = plan_of(spark, sf_dir, "q20_quantity_share_suppliers")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in plan
    assert "CartesianProduct" not in plan


def test_scalar_subquery_threshold_is_broadcast(spark, sf_dir):
    """q11/q15/q22 pattern: the uncorrelated scalar aggregate must come in
    as a broadcast (1-row) join, never a shuffled or nested-loop join
    against the big side."""
    for name in ("q11_important_value", "q15_top_supplier"):
        plan = plan_of(spark, sf_dir, name)
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_packing_is_one_window_partitioned_by_source(spark, sf_dir):
    """Sequence packing must be a single per-shard window — exactly one
    exchange (hashpartitioning on source), no global sort of the corpus."""
    plan = plan_of(spark, sf_dir, "dataset_pack_sequences")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan  # no global sort


def test_contamination_benchmark_side_broadcast(spark, sf_dir):
    """Decontamination joins exploded train n-grams against a broadcast
    benchmark n-gram set — the probe side must not shuffle."""
    plan = plan_of(spark, sf_dir, "text_contamination_check")
    assert "BroadcastHashJoin" in plan


def test_embedding_cosine_single_band_exchange(spark, sf_dir):
    """Per-bucket tensor scoring: ONE wide shuffle routes embeddings to
    their (band, bucket) scoring groups; the hot-bucket cap is the group
    size (no window exchange), and candidate pairs never materialize as
    rows — no self-join, no cartesian, no per-pair payload joins."""
    plan = plan_of(spark, sf_dir, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # pairs are born inside the grouped UDF
    assert plan.count("Exchange hashpartitioning(band") == 1
    assert "FlatMapGroupsInPandas" in plan  # vectorized scoring stage


def test_q8_dims_broadcast_big_joins_shuffled(spark, sf_dir):
    """Q8's two nation roles + part + region ride broadcasts; only the
    fact-side joins (lineitem⋈orders, orders⋈customer) may shuffle."""
    plan = plan_of(spark, sf_dir, "q8_market_share")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_span_dedup_ownership_is_aggregate_not_window(spark, sf_dir):
    """Block ownership must be groupBy().min (partial map-side combine
    absorbs hot boilerplate blocks); a Window over PARTITION BY blk would
    serialize the skew key onto one task."""
    plan = plan_of(spark, sf_dir, "text_span_dedup")
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final for ownership
    assert "CartesianProduct" not in plan


def test_phash_neardup_banded_equi_join(spark, sf_dir):
    """pHash candidate generation must be an equi-join on the band key —
    never an all-pairs product — and verification must not add a join."""
    plan = plan_of(spark, sf_dir, "multimodal_phash_neardup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_retention_reuses_user_partitioning(spark, sf_dir):
    """first-seen agg + activity join hash-partition on user_id; the join
    must not introduce a nested loop, and cohort sizes ride a broadcast."""
    plan = plan_of(spark, sf_dir, "events_retention_cohorts")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # sizes join


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """eqNullSafe must still plan a broadcast HASH join (Catalyst coalesces
    null-safe keys into hashable form), never a nested loop."""
    plan = plan_of(spark, sf_dir, "join_null_safe")
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_incremental_update_no_product_joins(spark, sf_dir):
    """Admission composes exact-hash semi-join + banded minhash pairs —
    every join must stay an equi hash/merge join."""
    plan = plan_of(spark, sf_dir, "corpus_incremental_update")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan  # the exact-hash rejection


def test_drift_topk_plan_shape(spark, sf_dir):
    """Drift monitor: global top-K must be TakeOrderedAndProject (never a
    global sort), snapshot counts must come from ONE corpus aggregate
    (conditional counts), not a per-snapshot self-join."""
    plan = plan_of(spark, sf_dir, "corpus_drift_topk")
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_semantic_dedup_plan_shape(spark, sf_dir):
    """SemDeDup: centroid assignment is map-only (no join to assign);
    the pairwise phase is an equi-join on the cluster id, never a
    cartesian product; cluster sizes ride a broadcast."""
    plan = plan_of(spark, sf_dir, "dedup_semantic_ivf")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # 16-row size table


def test_compaction_windows_are_source_partitioned(spark, sf_dir):
    """Both planner windows must partition by the directory key — a
    global (unpartitioned) window would serialize the manifest."""
    plan = plan_of(spark, sf_dir, "layout_compaction_plan")
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "source" in spec, f"unpartitioned window: {spec}"


def test_path_mining_single_window_exchange(spark, sf_dir):
    """Both LEADs share one user_id window; the rest is a tiny path
    aggregate + TakeOrderedAndProject — never a global sort."""
    plan = plan_of(spark, sf_dir, "events_path_mining")
    assert "TakeOrderedAndProject" in plan
    # one Window node computing both leads
    n_windows = sum(
        1
        for ln in plan.splitlines()
        if ln.lstrip(" +-:*(0123456789)").startswith("Window ")
    )
    assert n_windows == 1, plan


def test_runtime_bloom_filter_injects_on_shuffle_join(spark, sf_dir):
    """Catalyst's runtime Bloom-filter injection (the row-level analog of
    partition pruning): a selective filter on the orders side of a
    SHUFFLE join seeds a bloom_filter_agg that prunes lineitem rows
    before the exchange. At 100 TB the default thresholds (creation side
    <= 10 MB post-filter, application scan >= 10 GB) fire this without
    any conf changes; the fixture is far below both, so the test lowers
    them to prove the wiring — the registered joins keep broadcast for
    the small dims, where a bloom adds nothing."""
    import pyspark.sql.functions as F

    from vena_etl_tool_spark.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
        assert "might_contain" in plan.lower()
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_aqe_splits_skewed_join_partition(spark, sf_dir):
    """Spark's own AQE skew-join split (OptimizeSkewedJoin) — the runtime
    complement of the explicit salting patterns in operators/skew.py: a
    planted hot key whose reduce partition exceeds the (forced-low)
    skewedPartitionThresholdInBytes must come out of AQE as
    SortMergeJoin(skew=true) with a 'skewed' AQEShuffleRead on the fat
    side. The payload is sha2-derived (incompressible) — lz4'd shuffle
    blocks of a constant payload slip UNDER the size threshold and the
    split silently never fires, which is itself the documented lesson:
    thresholds act on compressed shuffle bytes (SCALE.md §skew). AQE only
    finalizes the plan of the executed DataFrame, so the test collects
    the join itself, not a derived count."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pad = F.sha2(F.col("id").cast("string"), 512)
        left = spark.range(0, 60000).select(
            F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id")).alias("k"),
            F.concat(pad, pad, pad).alias("payload"),
        )
        right = spark.range(0, 2000).select(F.col("id").alias("k"), F.lit(1).alias("w"))
        j = left.join(right, "k").select(F.length("payload").alias("lp"), "w")
        assert len(j.collect()) == 54200  # 54001 hot + 199 tail matches
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, "OptimizeSkewedJoin did not fire"
        assert "skewed" in plan  # AQEShuffleRead coalesced and skewed
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_bpe_merge_single_corpus_scan(spark, sf_dir):
    """The BPE pair stage runs on the VOCAB aggregate, not the corpus —
    the plan must contain exactly one documents scan (the claim that
    makes iterated BPE training corpus-free after iteration 1)."""
    plan = plan_of(spark, sf_dir, "text_bpe_merge_step")
    assert plan.count("Scan parquet") == 1
    assert "TakeOrderedAndProject" in plan  # top-k merges, no global sort
    assert plan.count("HashAggregate") >= 4  # partial+final for both stages


def test_knn_graph_no_union_no_selfjoin_recompute(spark, sf_dir):
    """Both edge directions explode from one pair row and the mutual
    filter is an aggregate — the plan must not duplicate the pair-join
    subtree (a union or a topk self-join would plan 4+ scans)."""
    plan = plan_of(spark, sf_dir, "sim_knn_graph_mutual")
    assert plan.count("Scan parquet") == 2  # the two sides of the pair join
    assert "Union" not in plan
    assert "WindowGroupLimit" in plan  # map-side top-k pruning pre-shuffle
    assert "CartesianProduct" not in plan


def test_snapshot_diff_join_carries_fingerprints_not_text(spark, sf_dir):
    """The full-outer diff must shuffle md5 fingerprints: text is consumed
    by the scan-side projection, so no Exchange output may contain the
    raw text column."""
    df = _SPECS["corpus_snapshot_diff"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" in plan and "CartesianProduct" not in plan
    # formatted explain lists each node's Input columns — no Exchange
    # (shuffle) node may take the raw text column as input
    formatted = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    for block in formatted.split("\n\n"):
        if block.startswith("(") and "Exchange" in block.splitlines()[0]:
            assert "text#" not in block, f"raw text shuffled:\n{block}"


def test_lloyd_step_centroid_grain_shuffle_only(spark, sf_dir):
    """The Lloyd step's only exchange is the centroid-grain aggregate:
    map-only assignment (no shuffle before the posexplode), partial+final
    HashAggregate onto C x 64 cells, no join, no window, no sort."""
    plan = plan_of(spark, sf_dir, "sim_kmeans_lloyd_step")
    assert plan.count("Scan parquet") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert "Window" not in plan
    # one shuffle: the (cent, dim) aggregate exchange
    import re

    real_exchanges = re.findall(r"\n[^\n]*\bExchange hashpartitioning", plan)
    assert len(real_exchanges) == 1, plan.count("Exchange")


def test_rrf_dense_side_broadcasts_queries_not_corpus(spark, sf_dir):
    """Hybrid fusion must broadcast the |RRF_QMAP| query vectors against
    the partitioned corpus — a corpus-side broadcast would OOM at scale,
    and a CartesianProduct would mean the query-map join lost its key."""
    plan = plan_of(spark, sf_dir, "retrieval_rrf_fusion")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the fused ranking is a per-query window, never a global sort
    assert "WindowGroupLimit" in plan or "RunningWindowFunction" in plan or "Window" in plan


def test_tfidf_pairs_posting_tables_materialize_once(spark, sf_dir):
    """The family and weighted-posting tables feed 3-4 consumers each —
    the plan must read them through InMemoryTableScan (cached once), not
    re-derive the scan+aggregate subtree per consumer (the un-cached
    plan measured 28 REAL parquet scans; note the plan STRING re-prints
    the cached build subtree inside every InMemoryTableScan node, so a
    raw "Scan parquet" count over the string is not the executed scan
    count — the assertion is the presence of the cache reads on both
    tables plus join sanity)."""
    df = _SPECS["text_tfidf_cosine_pairs"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both cached tables consumed via the cache, multiple times
    assert plan.count("InMemoryTableScan") >= 4
    assert "CartesianProduct" not in plan
    spark.catalog.clearCache()


def test_rfm_has_no_single_partition_window(spark, sf_dir):
    """VERDICT r8 #2: the RFM quartiles must not run three global-NTILE
    sorts (`WindowExec: No Partition Defined` — a single-partition sort
    of the whole customer table, dead at 100x customers). The rewrite
    range-exchanges each metric and ranks inside a window PARTITIONED BY
    the exchange's partition id — every Window node in the executed plan
    must carry the _pid partition key, and the three range exchanges
    must be present."""
    import re

    df = _SPECS["orders_rfm_segments"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert win_lines, "expected partition-id-scoped rank windows in the plan"
    unpartitioned = [
        ln for ln in win_lines if "windowspecdefinition(_pid#" not in ln
    ]
    assert not unpartitioned, unpartitioned[:2]
    assert plan.count("rangepartitioning") >= 3
    spark.catalog.clearCache()


def test_systematic_sampler_no_single_partition_window(spark, sf_dir):
    """The PPS-systematic prefix sum must be the two-level topology, not
    a global cumulative window: every Window node carries the _pid
    partition key and the permutation is one range exchange. The ranked
    frame is localCheckpointed inside the operator (r9 ADVICE — no
    pinned cache entry), which hides its plan from the final query, so
    the pin inspects the factored pre-checkpoint builder plus the
    consumer plan's broadcasts."""
    import re

    from vena_etl_tool_spark.operators.projection import _syssample_ranked

    twin = _syssample_ranked(spark, sf_dir, checkpoint=False)
    tplan = twin._jdf.queryExecution().executedPlan().toString()
    win_lines = [ln for ln in tplan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert win_lines, "expected a per-partition cumulative-sum window"
    assert not [ln for ln in win_lines if "windowspecdefinition(_pid#" not in ln]
    assert "rangepartitioning" in tplan
    # consumer side: offsets + total must come back as broadcasts
    plan2 = plan_of(spark, sf_dir, "sample_weighted_systematic")
    assert plan2.count("BroadcastExchange") + plan2.count("BroadcastQueryStage") >= 2
    spark.catalog.clearCache()


def test_asof_nearest_single_exchange_no_join(spark, sf_dir):
    """join_asof_nearest must stay the union/two-frame rewrite: ONE
    hash exchange on user_id feeding both window frames, and no join
    operator anywhere (the two-ASOF-joins formulation would materialize
    candidate pairs and pay two shuffles)."""
    plan = plan_of(spark, sf_dir, "join_asof_nearest")
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, bad
    n_exchanges = sum(
        1 for ln in plan.splitlines()
        if "Exchange hashpartitioning" in ln and "user_id" in ln
    )
    assert n_exchanges == 1, f"expected exactly one user_id exchange, saw {n_exchanges}"


def test_recall_evals_broadcast_queries_not_corpus(spark, sf_dir):
    """Both embedding recall evals must broadcast the N_QUERIES side —
    never the corpus — and plan no cartesian product (the non-equi
    self-pairing must ride the broadcast)."""
    for name in ("embedding_binary_quantize_recall", "embedding_mrl_truncate_recall"):
        plan = plan_of(spark, sf_dir, name)
        assert "CartesianProduct" not in plan, name
        # every corpus×queries pairing must ride a BuildRight broadcast
        # of the query side (the right operand of each scoring join)
        assert "BroadcastNestedLoopJoin BuildRight" in plan, name
        assert "BroadcastNestedLoopJoin BuildLeft" not in plan, name
        # (the final ≤TOP_K×N_QUERIES recall join may plan as SMJ
        # pre-AQE — it is row-count-bounded, not corpus-sized)
    spark.catalog.clearCache()


def test_privacy_audits_are_pure_hash_aggregates(spark, sf_dir):
    """privacy_k_anonymity must stay two hash aggregates (QI grain, then
    band grain) — no join, no window, no sort anywhere; the l-diversity
    audit likewise (three nested aggregate grains)."""
    for name in ("privacy_k_anonymity", "privacy_l_diversity"):
        plan = plan_of(spark, sf_dir, name)
        for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct",
                    "BroadcastNestedLoopJoin", "Window "):
            assert bad not in plan, (name, bad)


def test_k_generalize_windows_are_qi_partitioned(spark, sf_dir):
    """Every ladder window must carry a QI partition key — an
    unpartitioned COUNT() OVER () would serialize the table."""
    import re

    plan = plan_of(spark, sf_dir, "privacy_k_generalize")
    win_lines = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert win_lines
    for ln in win_lines:
        assert "windowspecdefinition(c_" in ln or "windowspecdefinition(bal_bucket" in ln, ln


def test_prefix_filter_join_no_cross_product(spark, sf_dir, monkeypatch):
    """The PPJoin pipeline must never degenerate to a cross product or a
    nested-loop join: candidates come from the prefix-token equi-join,
    and every window is keyed (doc_id for the per-doc rank/size, sh for
    the fused df+cap count — no GLOBAL single-partition window anywhere).
    The r11 eager checkpoints truncate the shared subtrees out of the
    production plan, so the window pin inspects the full pipeline with
    truncation disabled."""
    import re

    from vena_etl_tool_spark.operators import _shared

    plan = plan_of(spark, sf_dir, "dedup_prefix_filter_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan

    # monkeypatch (not a bare try/finally on the module global): the
    # restore is fixture-guaranteed even if plan_of raises mid-flip
    monkeypatch.setattr(_shared, "EAGER_CHECKPOINTS", False)
    full = plan_of(spark, sf_dir, "dedup_prefix_filter_join")
    assert "CartesianProduct" not in full
    assert "BroadcastNestedLoopJoin" not in full
    win_lines = [ln for ln in full.splitlines() if re.search(r"\bWindow \[", ln)]
    assert win_lines
    assert not [
        ln
        for ln in win_lines
        if "windowspecdefinition(doc_id" not in ln
        and "windowspecdefinition(sh" not in ln
    ]


def test_maxsim_plaid_candidate_join_is_cell_keyed(spark, sf_dir):
    """The PLAID rerank's corpus-side work must be the cell-keyed
    candidate join: at most ONE nested-loop join in the whole plan (the
    broadcast-queries truth scan, tiny side by construction) and no
    cartesian product; the serving shortlist join carries the cent key."""
    plan = plan_of(spark, sf_dir, "sim_maxsim_plaid_rerank")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "cent" in plan and "p_cent" in plan


def test_delete_vectors_reads_are_broadcast_anti(spark, sf_dir):
    """Deletion-vector reads must stay broadcast anti-joins on the key —
    no sort-merge join (the sidecar is small by construction) and no
    cross product."""
    plan = plan_of(spark, sf_dir, "merge_delete_vectors")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_t_closeness_grid_is_broadcast_no_sort_join(spark, sf_dir):
    """The domain x QI grid must come from broadcast joins (the domain is
    audit-sized by definition); a SortMergeJoin or cartesian on the grid
    would shuffle row-scale data twice."""
    plan = plan_of(spark, sf_dir, "privacy_t_closeness")
    for bad in ("SortMergeJoin", "CartesianProduct"):
        assert bad not in plan, bad
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_cuped_is_aggregates_plus_broadcasts(spark, sf_dir):
    """CUPED = one user-grain aggregate + tiny rollups; the pooled-moment
    and bounds rows ride broadcasts. No sort-merge join anywhere."""
    plan = plan_of(spark, sf_dir, "events_cuped_adjust")
    assert "SortMergeJoin" not in plan


def test_mmr_rerank_no_corpus_cartesian(spark, sf_dir):
    """MMR's pair matrix is candidates x candidates per query (equi on
    query_id); the corpus may only appear under the broadcast candidate
    top-k, never in a cartesian/NLJ with itself."""
    plan = plan_of(spark, sf_dir, "sim_rerank_mmr")
    assert "CartesianProduct" not in plan


def test_ivf_reassign_assignments_are_broadcast(spark, sf_dir):
    """Both assignment joins (old + refreshed codebook) broadcast the
    C-row centroid side; the corpus never shuffles for assignment."""
    plan = plan_of(spark, sf_dir, "sim_ivf_reassign_incremental")
    assert "CartesianProduct" not in plan
    # exactly the two C-row codebook broadcasts (old assignment is
    # checkpointed and reused, not recomputed per consumer)
    assert plan.count("BroadcastNestedLoopJoin") <= 2
    # the final old⋈new migration join at vec_id grain may sort-merge —
    # both sides arrive hash-partitioned by vec_id from their windows
    # and the key is 8 bytes; anything sort-merging on a NON-vec_id key
    # would be a topology change
    import re

    for ln in plan.splitlines():
        m = re.search(r"SortMergeJoin \[([a-z_]+)#", ln)
        if m:
            assert m.group(1) == "vec_id", ln


def test_survival_risk_window_is_bucket_grain(spark, sf_dir):
    """The risk-set window runs over bucket-grain rows (<= max_gap/30
    rows) so its single-partition ORDER BY is config-sized; the only
    row-scale window is the per-customer lead (customer-partitioned)."""
    import re

    plan = plan_of(spark, sf_dir, "orders_repurchase_survival")
    win_lines = [ln for ln in plan.splitlines() if re.search(r"\bWindow \[", ln)]
    assert any("windowspecdefinition(o_custkey" in ln for ln in win_lines)


def test_vocab_growth_no_global_sort_on_words(spark, sf_dir):
    """Banding is by doc_id VALUE (integer division), so no corpus-scale
    Sort may feed an ntile-style window; the only window runs over the
    10 band rows."""
    plan = plan_of(spark, sf_dir, "text_vocab_growth")
    assert "CartesianProduct" not in plan


def test_snm_plan_no_cartesian_and_blocked_windows(spark, sf_dir):
    """SNM's neighborhood join is an EQUI-join on (block, rank-band) —
    never a theta BNLJ/cartesian; the rank window is block-partitioned
    (asserted on the pre-checkpoint logical plan, since the executed plan
    starts at the materialized rank index)."""
    from vena_etl_tool_spark.operators.dedup import dedup_sorted_neighborhood

    plan = plan_of(spark, sf_dir, "dedup_sorted_neighborhood")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the logical side: rank windows must be partitioned by the block key
    df = dedup_sorted_neighborhood(spark, sf_dir)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "windowspecdefinition(blk" in logical or "Window" not in logical


def test_winnowing_plan_no_cartesian(spark, sf_dir):
    """The fingerprint pair join is an inverted-index equi-join (df-capped)
    — no cartesian/BNLJ anywhere; the per-doc window pipeline runs once
    behind the fps checkpoint (the first plan replayed it 5x)."""
    plan = plan_of(spark, sf_dir, "dedup_winnowing")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_did_is_aggregates_plus_broadcasts(spark, sf_dir):
    """DiD = the CUPED budget minus the second moments: one user-grain
    aggregate + a 2-row variant rollup; bounds and the lift self-product
    ride broadcasts. No sort-merge join anywhere."""
    plan = plan_of(spark, sf_dir, "events_did_readout")
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_market_basket_pair_join_is_order_keyed(spark, sf_dir):
    """The pair generator must be the l_orderkey equi-self-join — never a
    cartesian; the only nested-loop join is the broadcast 1-row n_orders
    scalar."""
    plan = plan_of(spark, sf_dir, "orders_market_basket")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_equidepth_windows_are_bucket_partitioned(spark, sf_dir):
    """The two-phase selection may window ONLY per probe bucket (phase 2
    slivers); the lone nested-loop join is the 9-tile x bucket-list
    locator, both sides config-sized. No global-partition row_number over
    the fact table."""
    import re

    plan = plan_of(spark, sf_dir, "profile_histogram_equidepth")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    for ln in plan.splitlines():
        if re.search(r"row_number\(\) windowspecdefinition\(", ln):
            assert "windowspecdefinition(bucket" in ln, ln


def test_substring_spans_all_doc_partitioned_no_pair_join(spark, sf_dir):
    """No pair join exists anywhere in the span metric (the df>=2
    semi-join replaces it): no cartesian, no nested loop, and every
    window partitions on doc_id."""
    plan = plan_of(spark, sf_dir, "text_substring_dedup_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "windowspecdefinition(doc_id" in ln, ln


def test_snm_multipass_stays_equi_join(spark, sf_dir):
    """Both passes keep the (block, rank-band) bucket trick: hash/sort
    equi-joins only — a theta neighborhood join would BNLJ."""
    plan = plan_of(spark, sf_dir, "dedup_snm_multipass")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rake_is_doc_partitioned(spark, sf_dir):
    """RAKE is per-document by definition: no join wider than (doc_id,
    tok), no cartesian/NLJ, every window partitioned on doc_id."""
    plan = plan_of(spark, sf_dir, "text_rake_keywords")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "windowspecdefinition(doc_id" in ln, ln


def test_hnsw_layered_bounded_broadcast_nlj(spark, sf_dir):
    """The layered walk may nested-loop only on broadcast scalar/query
    frames (entry rows, the 20-query truth scan); the layer-1 graph
    build and every hop join stay equi-keyed. No cartesian."""
    plan = plan_of(spark, sf_dir, "sim_ann_hnsw_greedy_layered")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 3


def test_substring_trim_stays_doc_partitioned(spark, sf_dir):
    """The trim inherits the span metric's topology: no pair join, no
    cartesian/NLJ, windows on doc_id only (the covered-positions explode
    and the anti keep-join are doc-keyed)."""
    plan = plan_of(spark, sf_dir, "text_substring_dedup_trim")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for ln in plan.splitlines():
        if "windowspecdefinition(" in ln:
            assert "windowspecdefinition(doc_id" in ln, ln


def test_correlation_matrix_is_one_checkpointed_pass(spark, sf_dir):
    """All 15 moments come from ONE checkpointed scan-aggregate; the six
    pair rows are projections of that row — no join of any kind in the
    final plan."""
    plan = plan_of(spark, sf_dir, "profile_correlation_matrix")
    for bad in ("SortMergeJoin", "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan, bad


def test_pareto_abc_windows_are_band_partitioned(spark, sf_dir):
    """The cumulative decomposition may window part-grain rows ONLY per
    revenue band; the lone nested-loop join is the broadcast 1-row total.
    (The tiny descending band-list window is checkpointed out of this
    plan.)"""
    import re

    plan = plan_of(spark, sf_dir, "orders_pareto_abc")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    for ln in plan.splitlines():
        if re.search(r"row_number\(\) windowspecdefinition\(", ln):
            assert "windowspecdefinition(band" in ln, ln


# `x#12 = y#12`: a join equality whose two sides are one attribute
_SAME_ATTRIBUTE_EQ = re.compile(r"#(\d+)L? = [\w.]+#\1(?!\d)")


@pytest.mark.parametrize("name", ["sim_rerank_mmr", "layout_overlap_depth"])
def test_join_equalities_compare_distinct_attributes(spark, sf_dir, monkeypatch, name):
    """Joining a frame to one derived from it on `a["k"] == b["k"]` builds
    a trivially true equality (both sides are one attribute); the result is
    right only because Dataset.join re-resolves such an equality against
    its two sides. With that re-resolution off, the analyzed plan of every
    join the query builds (checkpointed ones included) must still compare
    two distinct exprIds in each equality."""
    frame_cls = type(spark.range(1))  # the session's concrete DataFrame class
    plans = []
    join = frame_cls.join

    def recording_join(self, *args, **kwargs):
        out = join(self, *args, **kwargs)
        plans.append(out._jdf.queryExecution().analyzed().toString())
        return out

    monkeypatch.setattr(frame_cls, "join", recording_join)
    conf = "spark.sql.selfJoinAutoResolveAmbiguity"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        _SPECS[name].fn(spark, sf_dir)
    finally:
        spark.conf.set(conf, before)
    joins = [ln.strip() for p in plans for ln in p.splitlines() if "Join " in ln]
    assert joins, name
    trivial = [ln for ln in joins if _SAME_ATTRIBUTE_EQ.search(ln)]
    assert not trivial, trivial
