"""Invariant tests for the non-oracle dedup operators (SURVEY.md §5.2.3):
MinHash-LSH and SimHash get planted-duplicate recall + no-false-positive
checks since no ANSI oracle can express them.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from vena_etl_tool_spark.catalog import load_table
from vena_etl_tool_spark.operators.crosshash import minhash_signature
from vena_etl_tool_spark.operators.dedup import (
    minhash_lsh_pairs,
    doc_shingles,
    simhash_fingerprints,
)

BASE_TEXT = (
    "the quick brown fox jumps over the lazy dog while the spark engine "
    "shuffles partitions across the cluster during a wide aggregation stage"
)


@pytest.fixture(scope="module")
def planted_docs(spark):
    """12 distinct docs + exact dup of doc 0 + near-dup of doc 1 (one word
    changed) + unrelated doc."""
    rows = []
    for i in range(12):
        rows.append((i, BASE_TEXT.replace("fox", f"fox{i}") + f" tail{i} " + "pad "*i))
    rows.append((100, rows[0][1]))  # exact duplicate of doc 0
    near = rows[1][1].replace("lazy", "sleepy")  # near-dup of doc 1
    rows.append((101, near))
    rows.append((200, "completely different content about databases and columnar storage formats nothing shared"))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _jaccard(a: str, b: str, n=3) -> float:
    def sh(t):
        w = t.split(" ")
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    A, B = sh(a), sh(b)
    return len(A & B) / len(A | B)


def test_minhash_finds_exact_and_near_dups(planted_docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs(planted_docs, jaccard_threshold=0.5).collect()
    }
    assert (0, 100) in pairs and pairs[(0, 100)] == 1.0
    assert (1, 101) in pairs and pairs[(1, 101)] >= 0.5


def test_minhash_no_false_positives(planted_docs):
    """Every reported pair's jaccard must equal the true 3-gram jaccard
    and clear the threshold (the exact-verify stage guarantees this)."""
    texts = {r.doc_id: r.text for r in planted_docs.collect()}
    for r in minhash_lsh_pairs(planted_docs, jaccard_threshold=0.5).collect():
        truth = _jaccard(texts[r.doc_a], texts[r.doc_b])
        assert r.jaccard >= 0.5
        assert abs(r.jaccard - truth) < 1e-6
        assert r.doc_a < r.doc_b


def test_minhash_signature_similarity_estimate(planted_docs):
    """MinHash agreement rate ≈ jaccard: identical docs agree on every
    permutation; unrelated docs agree on (almost) none."""
    sh = doc_shingles(planted_docs)
    sigs = {r.doc_id: r.minhash for r in minhash_signature(sh, "doc_id", "sh").collect()}
    assert sigs[0] == sigs[100]
    agree_unrelated = sum(a == b for a, b in zip(sigs[0], sigs[200]))
    assert agree_unrelated <= 4  # 32 perms, true jaccard 0


def test_minhash_hot_bucket_cap(spark, planted_docs):
    """A mass-duplicated text floods its band buckets; the cap drops those
    buckets (no quadratic pair blowup) while distinct near-dup pairs in
    small buckets survive."""
    hot = spark.createDataFrame(
        [(1000 + i, "hot boilerplate text repeated across the corpus many many times over") for i in range(30)],
        "doc_id long, text string",
    )
    docs = planted_docs.unionByName(hot)
    uncapped = minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    capped = minhash_lsh_pairs(docs, jaccard_threshold=0.5, max_bucket_size=10).collect()
    hot_pairs = [r for r in uncapped if r.doc_a >= 1000]
    assert len(hot_pairs) == 30 * 29 // 2  # quadratic blowup without the cap
    capped_keys = {(r.doc_a, r.doc_b) for r in capped}
    assert not any(a >= 1000 for a, _ in capped_keys)  # hot bucket dropped
    assert (0, 100) in capped_keys and (1, 101) in capped_keys  # real dups kept


def test_ml_minhash_join_matches_approx_join(spark, planted_docs):
    """OPTIMIZATION r11 pin: the native bucket-join + array_intersect
    rewrite of ml_minhash_pairs must emit rows BIT-IDENTICAL to the
    library's approxSimilarityJoin on the same fitted model (same
    candidate set, same keyDistance arithmetic, same round) — including
    a clone-heavy block (identical minhash rows in every bucket) and a
    singleton-token doc."""
    import pyspark.sql.functions as F
    from pyspark.ml.feature import HashingTF, MinHashLSH

    from vena_etl_tool_spark.operators.ml_lsh import ml_minhash_pairs

    clones = spark.createDataFrame(
        [(500 + i, "clone block text shared verbatim for bucket stress") for i in range(6)]
        + [(600, "solo")],
        "doc_id long, text string",
    )
    docs = planted_docs.unionByName(clones)

    toks = docs.select("doc_id", F.split("text", " ").alias("tokens")).filter(
        F.size("tokens") > 0
    )
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=1 << 18, binary=True
    )
    feats = tf.transform(toks)
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(feats)
    ref = (
        model.approxSimilarityJoin(feats, feats, 0.5, distCol="jaccard_dist")
        .filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round("jaccard_dist", 6).alias("jaccard_dist"),
        )
    )
    ref_rows = {(r.doc_a, r.doc_b, r.jaccard_dist) for r in ref.collect()}
    new_rows = {
        (r.doc_a, r.doc_b, r.jaccard_dist) for r in ml_minhash_pairs(docs).collect()
    }
    assert new_rows == ref_rows
    assert {(a, b) for a, b, _ in new_rows} >= {
        (500 + i, 500 + j) for i in range(6) for j in range(i + 1, 6)
    }


def test_ml_minhash_agrees_with_sql_minhash(planted_docs):
    """The pyspark.ml MinHashLSH twin finds the same planted duplicates as
    the pure-SQL pipeline (cross-validation of the two implementations)."""
    from vena_etl_tool_spark.operators.ml_lsh import ml_minhash_pairs

    ml_pairs = {(r.doc_a, r.doc_b) for r in ml_minhash_pairs(planted_docs).collect()}
    assert (0, 100) in ml_pairs
    assert (1, 101) in ml_pairs
    sql_pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(planted_docs, jaccard_threshold=0.5).collect()
    }
    assert {(0, 100), (1, 101)} <= sql_pairs


def test_ml_minhash_stratum_matches_full_on_stratum(planted_docs):
    """The sf0.1-gate posture (VERDICT r9 #2): the stratum twin must find
    exactly the full ml join's pairs whose BOTH endpoints lie in the
    doc_id % 2 == 0 rep stratum — same configuration, bounded corpus."""
    from pyspark.sql import functions as F

    from vena_etl_tool_spark.operators.dedup import LSH_AUDIT_STRATUM_MOD
    from vena_etl_tool_spark.operators.ml_lsh import ml_minhash_pairs

    full = {(r.doc_a, r.doc_b) for r in ml_minhash_pairs(planted_docs).collect()}
    stratum_docs = planted_docs.filter(F.col("doc_id") % LSH_AUDIT_STRATUM_MOD == 0)
    strat = {(r.doc_a, r.doc_b) for r in ml_minhash_pairs(stratum_docs).collect()}
    in_stratum = {
        (a, b)
        for a, b in full
        if a % LSH_AUDIT_STRATUM_MOD == 0 and b % LSH_AUDIT_STRATUM_MOD == 0
    }
    assert strat == in_stratum
    assert (0, 100) in strat  # planted even-id dup survives the stratum
    assert (1, 101) not in strat  # odd-id dup is out of stratum by design


def test_simhash_invariants(planted_docs):
    fps = {r.doc_id: r.simhash for r in simhash_fingerprints(planted_docs).collect()}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")  # noqa: E731
    assert fps[0] == fps[100]  # identical text → identical fingerprint
    assert ham(fps[1], fps[101]) <= 12  # near-dup → small hamming distance
    assert ham(fps[0], fps[200]) >= 20  # unrelated → far


def test_simhash_bands_cover_fingerprint(spark, sf_dir):
    from vena_etl_tool_spark.operators.dedup import dedup_simhash

    df = dedup_simhash(spark, sf_dir)
    row = df.first()
    # registered query is the 60-bit oracle-exact variant: 4 × 15-bit bands
    recomposed = sum(row[f"band{b}"] << (15 * b) for b in range(4))
    assert recomposed == row.simhash >= 0


def test_approx_count_distinct_accuracy(spark, sf_dir):
    from vena_etl_tool_spark.operators.aggregates import agg_approx_distinct

    for r in agg_approx_distinct(spark, sf_dir).collect():
        rel_err = abs(r.approx_customers - r.exact_customers) / max(r.exact_customers, 1)
        assert rel_err < 0.05, f"{r.o_orderpriority}: {rel_err}"


def test_exact_dedup_collapses_planted_dups(spark, planted_docs):
    dd = (
        planted_docs.groupBy("text")
        .agg(F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n"))
    )
    by_keep = {r.keep: r.n for r in dd.collect()}
    assert by_keep[0] == 2  # doc 0 + exact dup 100 collapse
    assert sum(by_keep.values()) == planted_docs.count()


def test_embedding_cosine_pairs_precision_and_recall(spark, sf_dir):
    """LSH-blocked near-dup pairs: every emitted pair must truly clear the
    cosine threshold (precision 1.0 — exact re-score guarantees it), and
    banding recall vs the unblocked all-pairs truth set must stay above a
    floor (8 bands × 6 bits at the moderate 0.25 threshold)."""
    import numpy as np

    from vena_etl_tool_spark.operators.dedup import COSINE_NEAR_DUP, dedup_embedding_cosine

    rows = dedup_embedding_cosine(spark, sf_dir).collect()
    emb_rows = load_table(spark, sf_dir, "embeddings").collect()
    ids = [r.vec_id for r in emb_rows]
    mat = np.array([r.embedding for r in emb_rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    cos = mat @ mat.T
    idx = {v: i for i, v in enumerate(ids)}
    truth = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids
        if a < b and cos[ai, idx[b]] >= COSINE_NEAR_DUP - 1e-9
    }
    got = {(r.vec_a, r.vec_b) for r in rows}
    for r in rows:
        assert r.vec_a < r.vec_b
        assert -1.0 <= r.cosine <= 1.0
    assert not (got - truth), "false positives escaped the exact re-score"
    assert truth, "fixture has no qualifying pairs — test is vacuous"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.2, f"banding recall too low: {recall:.3f}"


def test_levenshtein_finds_planted_edits(spark, planted_docs, tmp_path):
    """The edit-distance dedup must surface the exact dup (dist 0) and the
    one-word near-dup, and every reported pair must satisfy the cutoff."""
    from vena_etl_tool_spark.operators.dedup import LEV_MAX_RATIO, dedup_levenshtein

    planted_docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = dedup_levenshtein(spark, str(tmp_path)).collect()
    pairs = {(r.doc_a, r.doc_b): r for r in rows}
    assert (0, 100) in pairs and pairs[(0, 100)].edit_dist == 0
    assert (1, 101) in pairs and 0 < pairs[(1, 101)].edit_dist <= 6
    for r in rows:
        assert r.doc_a < r.doc_b
        assert r.edit_ratio <= LEV_MAX_RATIO + 1e-9


def test_band_key_plain_is_single_source_of_truth(spark, sf_dir):
    """lsh_bands(hashed_keys=False) and dedup_minhash_signatures' bk columns
    must emit byte-identical key strings — both now route through
    band_key_plain, and the DuckDB oracles rebuild that exact format."""
    from vena_etl_tool_spark.operators.crosshash import (
        lsh_bands,
        md5_int as md5_hash60,
        minhash_signature,
        N_MINHASH,
        BAND_ROWS,
    )
    from vena_etl_tool_spark.operators.dedup import _doc_shingles

    sig = minhash_signature(
        _doc_shingles(spark, sf_dir).limit(2000), "doc_id", "sh", hash_expr=md5_hash60
    )
    via_bands = (
        lsh_bands(sig, "doc_id", hashed_keys=False)
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("band_key")).alias("keys"))
    )
    from vena_etl_tool_spark.operators.crosshash import band_key_plain

    via_cols = sig.select(
        "doc_id",
        F.sort_array(
            F.array(
                *[band_key_plain("minhash", b) for b in range(N_MINHASH // BAND_ROWS)]
            )
        ).alias("keys"),
    )
    assert via_bands.exceptAll(via_cols).count() == 0
    assert via_cols.exceptAll(via_bands).count() == 0


def test_span_dedup_each_block_survives_exactly_once(spark, sf_dir):
    """Global invariant of exact span dedup: every distinct block value
    appears exactly once across all dedup_texts, and the kept copy is the
    first occurrence in (doc_id, blk_idx) order."""
    import pyspark.sql.functions as F

    from vena_etl_tool_spark.operators.textanalysis import SPAN_W, text_span_dedup

    out = text_span_dedup(spark, sf_dir)
    kept_blocks = (
        out.filter(F.col("dedup_text") != "")
        .select(
            "doc_id",
            F.posexplode(F.split("dedup_text", " ")).alias("pos", "tok"),
        )
        .withColumn("blk_no", F.floor(F.col("pos") / SPAN_W))
        .groupBy("doc_id", "blk_no")
        .agg(F.concat_ws(" ", F.collect_list("tok")).alias("blk"))
    )
    dup = kept_blocks.groupBy("blk").count().filter(F.col("count") > 1).collect()
    assert dup == [], f"blocks kept more than once: {dup[:5]}"


def test_incremental_update_verdicts_on_planted_batch(spark, tmp_path):
    """Plant a corpus where the new batch (doc_id % 4 == 0) contains an
    exact duplicate of an old doc, a near-dup of an old doc, and a fresh
    doc — each must get its verdict, exact taking precedence."""
    from vena_etl_tool_spark.operators.dedup import corpus_incremental_update

    old_a = BASE_TEXT + " alpha"
    old_b = BASE_TEXT.replace("fox", "wolf") + " beta"
    rows = [
        (1, "s", old_a),                                # old
        (2, "s", old_b),                                # old
        (3, "s", "unrelated old content " * 10),        # old
        (4, "s", old_a),                                # new: exact dup of 1
        (8, "s", old_b.replace("lazy", "sleepy")),      # new: near-dup of 2
        (12, "s", "entirely novel text about columnar formats " * 5),  # new
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r.verdict
        for r in corpus_incremental_update(spark, str(tmp_path)).collect()
    }
    assert out == {4: "rejected_exact", 8: "rejected_neardup", 12: "admitted"}


def test_containment_detects_embedded_doc(spark, tmp_path):
    """Planted: doc 1 is a verbatim slice of doc 0 (containment 1.0,
    direction b_in_a -> the smaller side is contained); doc 2 shares
    nothing and must not pair."""
    from vena_etl_tool_spark.operators.dedup import dedup_containment

    long = " ".join(f"w{i}" for i in range(40))
    short = " ".join(f"w{i}" for i in range(10, 20))
    other = " ".join(f"x{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, long, "en", "s", len(long)), (1, short, "en", "s", len(short)),
         (2, other, "en", "s", len(other))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = dedup_containment(spark, str(tmp_path)).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.doc_a, r.doc_b) == (0, 1)
    assert r.cont_b == 1.0 and r.direction == "b_in_a"


def test_connected_components_releases_its_edge_cache(spark):
    """connected_components caches the bidirectional edge list for its
    rounds; every round's labels are a local checkpoint, so the returned
    frame never reads that cache and the call leaves the session's cache
    manager empty."""
    from vena_etl_tool_spark.operators.dedup import connected_components

    spark.catalog.clearCache()
    cache = spark._jsparkSession.sharedState().cacheManager()
    assert cache.isEmpty()
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 5), (6, 5)], "a long, b long")
    labels = connected_components(edges, "a", "b")
    assert cache.isEmpty()
    assert {r.node: r.label for r in labels.collect()} == {
        1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 4,
    }
