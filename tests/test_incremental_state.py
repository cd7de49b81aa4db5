"""Round-5 operator tests: persisted-state incremental admission
(planted verdicts + batch-sized phase-2 lineage), the scaled-long fold
bridge behind udf_arrow_python (hypothesis: vectorized numpy == scalar
reference math), and the profile_column_stats cross-engine type guard."""

from __future__ import annotations

import math

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import pyspark.sql.functions as F


def _plant_docs(spark, tmp_path):
    """Old corpus: docs 1,2,3 (ids %4 != 0). New batch (ids %4 == 0):
    - 4: byte-identical to old doc 1        -> rejected_exact
    - 8: one-word edit of old doc 2 (long)  -> rejected_neardup
    - 12: unrelated text                    -> admitted
    """
    base = "the quick brown fox jumps over the lazy dog " * 8
    near = base.replace("lazy", "sleepy", 1)
    rows = [
        (1, base, "a"),
        (2, base + "tail marker one two three", "a"),
        (3, "completely different words entirely here now " * 6, "a"),
        (4, base, "b"),
        (8, near + "tail marker one two three", "b"),
        (12, "zebra xylophone quartz vortex jackdaw nymph " * 6, "b"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, source string")


def test_incremental_persisted_planted_verdicts(spark, tmp_path):
    from vena_etl_tool_spark.operators.dedup import incr_admit, incr_build_state

    docs = _plant_docs(spark, tmp_path)
    is_new = F.col("doc_id") % 4 == 0
    state = incr_build_state(docs.filter(~is_new), str(tmp_path / "state"))
    out = incr_admit(spark, docs.filter(is_new), state)
    verdicts = {r.doc_id: r.verdict for r in out.collect()}
    assert verdicts == {
        4: "rejected_exact",
        8: "rejected_neardup",
        12: "admitted",
    }


def test_incremental_persisted_phase2_reads_state_not_corpus(spark, tmp_path):
    """The scale claim, checked on the PLAN: the admission lineage's file
    scans are the batch docs + the three state stores — the old corpus
    parquet never appears (its shingles are not re-exploded per batch)."""
    from vena_etl_tool_spark.operators.dedup import incr_admit, incr_build_state

    docs = _plant_docs(spark, tmp_path)
    is_new = F.col("doc_id") % 4 == 0
    old_path = str(tmp_path / "old_corpus.parquet")
    docs.filter(~is_new).write.parquet(old_path)
    state = incr_build_state(spark.read.parquet(old_path), str(tmp_path / "state2"))
    batch_path = str(tmp_path / "batch.parquet")
    docs.filter(is_new).write.parquet(batch_path)
    out = incr_admit(spark, spark.read.parquet(batch_path), state)
    scanned = set(out.inputFiles())
    assert any("state2" in f for f in scanned)
    assert any("batch.parquet" in f for f in scanned)
    assert not any("old_corpus.parquet" in f for f in scanned)


# float32 values in a sane embedding range (finite, |x| <= 16)
_f32 = st.floats(
    min_value=-16.0, max_value=16.0, allow_nan=False, width=32
)


@given(vec=st.lists(_f32, min_size=64, max_size=64))
@settings(max_examples=200, deadline=None)
def test_scaled_long_fold_numpy_matches_scalar_reference(vec):
    """udf_arrow_python's bridge: the vectorized numpy fold must equal
    per-element scalar math exactly — floor((x_i * p_i) * 1e12) as int64,
    summed — for any float32 input. This is the property that makes the
    DuckDB oracle bit-exact."""
    probe = np.arange(64, dtype=np.float64) / 64.0
    e = np.asarray(vec, dtype=np.float32).astype(np.float64)
    vectorized = int(np.floor((e * probe) * 1e12).astype(np.int64).sum())
    scalar = sum(
        int(math.floor((float(x) * (i / 64.0)) * 1e12))
        for i, x in enumerate(e.tolist())
    )
    assert vectorized == scalar


def test_profile_column_stats_rejects_unstable_cast_types(spark, monkeypatch):
    """ADVICE r4: a double column's min/max string rendering diverges
    between Spark and DuckDB — the guard must refuse it loudly."""
    import vena_etl_tool_spark.operators.aggregates as agg

    def load_with_double(spark_, sf_dir_, name_):
        from vena_etl_tool_spark.catalog import load_table

        return load_table(spark_, sf_dir_, name_).withColumn(
            "n_chars", F.col("n_chars").cast("double")
        )

    monkeypatch.setattr(agg, "load_table", load_with_double)
    with pytest.raises(TypeError, match="n_chars.*double"):
        agg.profile_column_stats(spark, "/root/testdata/sf0.001")


def test_incr_build_state_keeps_both_errors_when_both_writes_fail(
    spark, tmp_path, monkeypatch
):
    """When the doc_sets/bands chain fails while the concurrent text_hashes
    write fails too, the chain's error is raised and the write's error
    travels with it (as its cause and in a note) instead of vanishing."""
    import traceback

    import vena_etl_tool_spark.operators.dedup as dedup

    def broken_chain(_docs):
        raise RuntimeError("doc_sets chain failed")

    monkeypatch.setattr(dedup, "_minhash_per_doc", broken_chain)
    no_text = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(RuntimeError, match="doc_sets chain failed") as info:
        dedup.incr_build_state(no_text, str(tmp_path / "state"))
    err = info.value
    assert err.__cause__ is not None and "text" in str(err.__cause__)
    shown = "".join(traceback.format_exception(err))
    assert "doc_sets chain failed" in shown
    assert "concurrent text_hashes write also failed" in shown
    assert type(err.__cause__).__name__ in shown
