"""Semantics of the persisted derived-artifact cache (_shared.persisted_artifact):
one build per (session, corpus, name), eviction of stale corpora, and the
no-file-identity fallback. The graph/ANN consumers lean on these guarantees —
a silent cache miss would only cost time, but a WRONG hit (stale corpus,
cross-name collision) would serve another dataset's results."""

from __future__ import annotations

from vena_etl_tool_spark.operators._shared import _ARTIFACT_CACHE, persisted_artifact


def _drop(name: str) -> None:
    for k in [k for k in list(_ARTIFACT_CACHE) if k[2] == name]:
        try:
            _ARTIFACT_CACHE.pop(k).unpersist()
        except Exception:
            pass


def test_memoizes_per_name_and_corpus(spark):
    calls: list[int] = []

    def build():
        calls.append(1)
        return spark.range(5)

    try:
        a = persisted_artifact(spark, "t_art", ("f1.parquet",), build)
        b = persisted_artifact(spark, "t_art", ("f1.parquet",), build)
        assert a is b and len(calls) == 1
        # file-order insensitivity: the key canonicalizes the listing
        c = persisted_artifact(spark, "t_art2", ("b.parquet", "a.parquet"), build)
        d = persisted_artifact(spark, "t_art2", ("a.parquet", "b.parquet"), build)
        assert c is d and len(calls) == 2
        # a different name over the same files is a different artifact
        assert persisted_artifact(spark, "t_art3", ("f1.parquet",), build) is not a
        assert len(calls) == 3
    finally:
        _drop("t_art"), _drop("t_art2"), _drop("t_art3")


def test_two_corpora_coexist_then_third_evicts_oldest(spark):
    # Two slots per name: an alternating two-corpus pattern (the 10x scale
    # harness) must NOT thrash; a third corpus evicts the oldest-inserted.
    calls: list[int] = []

    def build():
        calls.append(1)
        return spark.range(3)

    try:
        a = persisted_artifact(spark, "t_evict", ("c1.parquet",), build)
        b = persisted_artifact(spark, "t_evict", ("c2.parquet",), build)
        assert b is not a and len(calls) == 2
        # both corpora still live — alternation is all cache hits
        assert persisted_artifact(spark, "t_evict", ("c1.parquet",), build) is a
        assert persisted_artifact(spark, "t_evict", ("c2.parquet",), build) is b
        assert len(calls) == 2
        persisted_artifact(spark, "t_evict", ("c3.parquet",), build)
        live = sorted(k[3] for k in _ARTIFACT_CACHE if k[2] == "t_evict")
        assert len(calls) == 3
        assert live == [("c2.parquet",), ("c3.parquet",)]
    finally:
        _drop("t_evict")


def test_no_file_identity_never_caches(spark):
    calls: list[int] = []

    def build():
        calls.append(1)
        return spark.range(2)

    a = persisted_artifact(spark, "t_nofiles", (), build)
    b = persisted_artifact(spark, "t_nofiles", (), build)
    assert a is not b and len(calls) == 2
    assert not [k for k in _ARTIFACT_CACHE if k[2] == "t_nofiles"]


def test_concurrent_misses_build_once(spark):
    # The check-build-insert races under concurrent callers without the
    # lock: both would persist and the loser's blocks would pin with no
    # handle left to unpersist.
    import threading
    import time

    calls: list[int] = []

    def build():
        calls.append(1)
        time.sleep(0.2)
        return spark.range(4)

    results: list = []

    def worker():
        results.append(
            persisted_artifact(spark, "t_conc", ("f.parquet",), build)
        )

    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(calls) == 1
        assert all(r is results[0] for r in results)
    finally:
        _drop("t_conc")


def test_sibling_sessions_do_not_share_artifacts(spark):
    # ADVICE r7: spark.app.id is shared by every sibling SparkSession of
    # one SparkContext, but SQLConf is per-session — an artifact built
    # under one session's conf (ANSI mode, shuffle partitions) must not be
    # served to a sibling, and a sibling's insert must not evict this
    # session's slots.
    calls: list[int] = []

    def build_a():
        calls.append(1)
        return spark.range(5)

    sib = spark.newSession()

    def build_b():
        calls.append(1)
        return sib.range(5)

    try:
        a = persisted_artifact(spark, "t_sib", ("f.parquet",), build_a)
        b = persisted_artifact(sib, "t_sib", ("f.parquet",), build_b)
        assert a is not b and len(calls) == 2
        # same session re-asks → still a hit for each side
        assert persisted_artifact(spark, "t_sib", ("f.parquet",), build_a) is a
        assert persisted_artifact(sib, "t_sib", ("f.parquet",), build_b) is b
        assert len(calls) == 2
        # sibling churning through corpora must not evict this session's slot
        persisted_artifact(sib, "t_sib", ("g.parquet",), build_b)
        persisted_artifact(sib, "t_sib", ("h.parquet",), build_b)
        assert persisted_artifact(spark, "t_sib", ("f.parquet",), build_a) is a
        assert len(calls) == 4
    finally:
        _drop("t_sib")


def test_concurrent_first_calls_mint_one_token(spark):
    # ADVICE r8 (medium): _session_token's get-then-set ran outside
    # _ARTIFACT_LOCK, so two threads making a FRESH session's first
    # persisted_artifact calls could each mint a different token — keys
    # diverge, both build+persist, and the loser's entry becomes
    # permanently unreachable. The shared `spark` fixture already carries
    # a token, so this test uses a brand-new sibling session.
    import threading

    sib = spark.newSession()
    assert sib.conf.get("vena.etl.session.token", None) is None
    calls: list[int] = []
    barrier = threading.Barrier(8)

    def build():
        calls.append(1)
        return sib.range(4)

    def worker():
        barrier.wait()
        persisted_artifact(sib, "t_tok", ("f.parquet",), build)

    try:
        threads = [threading.Thread(target=worker) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert len(calls) == 1
        toks = {k[1] for k in _ARTIFACT_CACHE if k[2] == "t_tok"}
        assert toks == {sib.conf.get("vena.etl.session.token")}
    finally:
        _drop("t_tok")


def test_dead_session_artifacts_are_swept(spark):
    # ADVICE r8: eviction is scoped per (app, token, name), so a dead
    # sibling session's entries were never displaced — unbounded growth in
    # a long-lived SparkContext that churns newSession(). The sweep
    # reclaims entries no future call can hit (owning session stopped or
    # token re-minted). Weakref liveness is NOT viable — each cached
    # DataFrame strongly references its session — so the unreachable
    # condition is simulated here by re-minting the sibling's token (the
    # same state a stopped session or a post-race loser leaves behind);
    # truly abandoned-but-referenced sessions are bounded by the global
    # FIFO cap instead (test below).
    sib = spark.newSession()

    def build_sib():
        return sib.range(3)

    def build_main():
        return spark.range(3)

    try:
        persisted_artifact(sib, "t_dead", ("f.parquet",), build_sib)
        dead_tok = sib.conf.get("vena.etl.session.token")
        assert [k for k in _ARTIFACT_CACHE if k[1] == dead_tok]
        sib.conf.set("vena.etl.session.token", "re-minted")
        # any later insert (any session, any name) triggers the sweep
        persisted_artifact(spark, "t_dead_probe", ("g.parquet",), build_main)
        assert not [k for k in _ARTIFACT_CACHE if k[1] == dead_tok]
    finally:
        _drop("t_dead"), _drop("t_dead_probe")


def test_global_cap_bounds_abandoned_sessions(spark, monkeypatch):
    # The backstop for sessions that stay referenced (so never "dead" by
    # the probe) but idle: once the cache holds _ARTIFACT_GLOBAL_CAP
    # entries, other sessions' entries are FIFO-evicted — never the
    # inserting session's own.
    from vena_etl_tool_spark.operators import _shared

    monkeypatch.setattr(_shared, "_ARTIFACT_GLOBAL_CAP", 3)
    # drain pre-existing entries so the arithmetic below is exact (other
    # tests' artifacts rebuild on next use — correctness unaffected)
    for k in list(_ARTIFACT_CACHE):
        try:
            _ARTIFACT_CACHE.pop(k).unpersist()
        except Exception:
            pass
    sib = spark.newSession()

    try:
        for i in range(3):
            persisted_artifact(sib, f"t_cap_sib{i}", ("f.parquet",), lambda: sib.range(2))
        sib_tok = sib.conf.get("vena.etl.session.token")
        assert len([k for k in _ARTIFACT_CACHE if k[1] == sib_tok]) == 3
        persisted_artifact(spark, "t_cap_main", ("f.parquet",), lambda: spark.range(2))
        # cap held: one sibling entry evicted, main's entry present
        assert len([k for k in _ARTIFACT_CACHE if k[1] == sib_tok]) == 2
        assert [k for k in _ARTIFACT_CACHE if k[2] == "t_cap_main"]
    finally:
        for i in range(3):
            _drop(f"t_cap_sib{i}")
        _drop("t_cap_main")


def test_graph_consumers_share_one_build(spark, sf_dir):
    from vena_etl_tool_spark.operators.similarity import _mutual_graph_persisted

    try:
        g1 = _mutual_graph_persisted(spark, sf_dir)
        g2 = _mutual_graph_persisted(spark, sf_dir)
        assert g1 is g2
        assert g1.storageLevel.useMemory or g1.storageLevel.useDisk
    finally:
        _drop("mutual_knn_graph")


def test_fallback_builds_serving_index_once(spark, sf_dir, tmp_path, monkeypatch):
    """With no session token to key the shared cache on, the fallback must
    still build once per call: the serving index is read once per
    micro-batch that requests a fresh query id, and none of those reads
    may replay the whole RRF+IVF build."""
    import pyspark.sql.functions as F

    from vena_etl_tool_spark.operators import _shared, retrieval
    from vena_etl_tool_spark.streaming.queries import events_stream

    monkeypatch.setattr(_shared, "_session_token", lambda spark: None)
    index_rows = spark.sparkContext.accumulator(0)
    build = retrieval.retrieval_rrf_fusion_ivf

    def count_row(_):
        index_rows.add(1)
        return True

    counter = F.udf(count_row, "boolean").asNondeterministic()
    monkeypatch.setattr(
        retrieval,
        "retrieval_rrf_fusion_ivf",
        lambda spark, sf_dir: build(spark, sf_dir).filter(counter("query_id")),
    )
    # one file per requested event type, one file per micro-batch, so
    # every batch serves a fresh query id
    by_type = str(tmp_path / "events_by_type")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    for event_type, _ in retrieval.SERVE_REQUEST_MAP:
        events.filter(F.col("event_type") == event_type).coalesce(1).write.mode(
            "append"
        ).parquet(by_type)
    stream = (
        spark.readStream.schema(events_stream(spark, sf_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(by_type)
    )

    served = retrieval.serve_query_log(spark, sf_dir, stream).collect()
    n_index = build(spark, sf_dir).count()
    assert len({r.query_id for r in served}) >= 2  # at least two batches read it
    assert index_rows.value == n_index  # one build
