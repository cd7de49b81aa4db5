"""Tests for bench.py: the cross-round regression detector (VERDICT r9 #4,
pure arithmetic, no Spark), the one timed query run ``run_timed`` and the
pass loop ``time_passes``, plus a scan that keeps the timed noop write
in one place.

The two hard cases the median-adjusted rule must separate:
- a REAL regression on a host that got faster (raw ratio ~1.0 — the old
  conjunctive raw>1.5 guard provably suppressed it) must be flagged;
- a pure canary swing (every query's normalized ratio inflates by the
  same factor, raw unchanged — r9's measured 24-false-flag failure)
  must NOT be flagged.
"""

import importlib.util
import os
import pathlib
import re
import time
import uuid

import pytest
from pyspark.sql import functions as F

from vena_etl_tool_spark.registry import QuerySpec

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)  # type: ignore[union-attr]

PREV_Q = {f"q{i}": 1.0 for i in range(20)}


def test_real_regression_on_stable_host_is_flagged():
    timings = dict(PREV_Q)
    timings["q3"] = 2.0
    rep = bench.regression_report(timings, canary=0.3, prev_q=PREV_Q, prev_canary=0.3)
    assert rep["queries"]["q3"]["flagged"] is True
    assert rep["queries"]["q3"]["raw"] == 2.0
    assert not any(n != "q3" and v["flagged"] for n, v in rep["queries"].items())


def test_real_regression_on_sped_up_host_is_flagged():
    # Host got 2x faster (canary 0.6 -> 0.3, every query halves raw time)
    # but q3 ALSO genuinely regressed 2x in plan terms -> raw ~1.0.
    # The old conjunctive rule (raw > 1.5 required) provably missed this.
    timings = {n: 0.5 for n in PREV_Q}
    timings["q3"] = 1.0
    rep = bench.regression_report(timings, canary=0.3, prev_q=PREV_Q, prev_canary=0.6)
    assert rep["queries"]["q3"]["flagged"] is True
    assert rep["queries"]["q3"]["raw"] == 1.0  # recorded as evidence
    assert rep["queries"]["q3"]["adj"] == 2.0
    assert rep["population_drift"] is False


def test_pure_canary_swing_is_not_flagged():
    # r9's measured failure mode: canary 0.343 -> 0.228 (1.5x swing),
    # every query raw time unchanged -> every norm ratio inflates ~1.5x.
    # Old single-ratio rule flagged 24 unchanged queries; median-adjusted
    # rule must flag none.
    timings = dict(PREV_Q)
    rep = bench.regression_report(
        timings, canary=0.228, prev_q=PREV_Q, prev_canary=0.343
    )
    flagged = [n for n, v in rep["queries"].items() if v["flagged"]]
    assert flagged == []
    # ...but the uniform inflation is still RECORDED (norm > 1.5 rows
    # appear with flagged=false) so a human sees the swing happened.
    assert all(not v["flagged"] for v in rep["queries"].values())


def test_canary_swing_plus_real_regression_separates_the_two():
    timings = dict(PREV_Q)
    timings["q7"] = 2.0  # real 2x on top of the swing
    rep = bench.regression_report(
        timings, canary=0.228, prev_q=PREV_Q, prev_canary=0.343
    )
    assert rep["queries"]["q7"]["flagged"] is True
    assert not any(n != "q7" and v["flagged"] for n, v in rep["queries"].items())


def test_global_regression_surfaces_as_population_drift():
    # Everything got 2x slower at identical canary: the median absorbs it
    # (no per-query flag) but population_drift must fire so the slowdown
    # cannot hide behind median normalization.
    timings = {n: 2.0 for n in PREV_Q}
    rep = bench.regression_report(timings, canary=0.3, prev_q=PREV_Q, prev_canary=0.3)
    assert rep["population_drift"] is True
    assert rep["median_norm"] == 2.0


def test_no_overlap_or_bad_canary_returns_none():
    rep = bench.regression_report({"zzz": 1.0}, 0.3, prev_q=PREV_Q, prev_canary=0.3)
    assert rep is None
    assert bench.regression_report({}, 0.0, PREV_Q, 0.3) is None


def test_adjudicated_trade_is_labeled_not_flagged():
    # VERDICT r10 #4: a query with a documented, bounded step change
    # (sample_weighted_systematic's localCheckpoint-for-cache trade) is
    # reported with its numbers + the adjudication reason, flagged=False.
    timings = dict(PREV_Q)
    timings["sample_weighted_systematic"] = 2.1
    prev = dict(PREV_Q)
    prev["sample_weighted_systematic"] = 1.0
    rep = bench.regression_report(timings, canary=0.3, prev_q=prev, prev_canary=0.3)
    row = rep["queries"]["sample_weighted_systematic"]
    assert row["flagged"] is False
    assert "adjudicated" in row
    assert row["raw"] == 2.1  # evidence still recorded


def test_adjudication_bound_is_a_ceiling_not_a_blank_check():
    # Beyond the documented max_raw of the trade the query flags for real.
    timings = dict(PREV_Q)
    timings["sample_weighted_systematic"] = 4.0
    prev = dict(PREV_Q)
    prev["sample_weighted_systematic"] = 1.0
    rep = bench.regression_report(timings, canary=0.3, prev_q=prev, prev_canary=0.3)
    row = rep["queries"]["sample_weighted_systematic"]
    assert row["flagged"] is True
    assert "adjudicated" not in row


def test_round_inference_never_reuses_an_existing_round(tmp_path, monkeypatch):
    # VERDICT r10 #3: an env-less bench run must stamp a round that does
    # not collide with any committed BENCH_r*.json, so it can never
    # clobber a prior round's detail artifact.
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    inferred = bench._infer_round()
    import glob
    import os as _os

    here = _os.path.join(_os.path.dirname(__file__), "..")
    existing = {
        _os.path.basename(p)[len("BENCH_"):-len(".json")]
        for p in glob.glob(_os.path.join(here, "BENCH_r*.json"))
    }
    assert inferred not in existing
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "r99")
    assert bench._infer_round() == "r99"


# --- run_timed / time_passes ------------------------------------------------


def _fence(spark) -> list[int]:
    """Run one job in a fresh group and wait until the status tracker (fed
    by the asynchronous listener bus) shows it; every earlier job is then
    visible too. Returns the fence's job ids."""
    sc = spark.sparkContext
    group = f"fence-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    status = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not status.getJobIdsForGroup(group):
        assert time.monotonic() < deadline, "fence job never reached the tracker"
        time.sleep(0.05)
    return status.getJobIdsForGroup(group)


def test_run_timed_tags_exactly_its_own_jobs(spark):
    sc = spark.sparkContext
    status = sc.statusTracker()
    group = f"run-timed-{uuid.uuid4().hex}"

    before = _fence(spark)
    secs = bench.run_timed(
        spark, group, lambda: spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    )
    spark.range(3).collect()  # a job after the call
    after = _fence(spark)

    assert secs > 0
    grouped = set(status.getJobIdsForGroup(group))
    later = [j for j in range(max(before) + 1, min(after)) if j not in grouped]
    assert grouped and later
    # job ids are sequential: the call's jobs are exactly the group's
    assert grouped == set(range(max(before) + 1, min(later)))
    assert set(later) <= set(status.getJobIdsForGroup(None))
    assert sc.getLocalProperty("spark.jobGroup.id") is None


@pytest.mark.parametrize("fails_in", ["build", "write"])
def test_run_timed_propagates_failure_and_clears_group(spark, fails_in):
    def build():
        if fails_in == "build":
            raise ZeroDivisionError("boom")
        return spark.range(1).select(F.raise_error(F.lit("boom")))

    with pytest.raises(Exception, match="boom"):
        bench.run_timed(spark, f"run-timed-fail-{uuid.uuid4().hex}", build)
    assert spark.sparkContext.getLocalProperty("spark.jobGroup.id") is None


def test_time_passes_keeps_min_and_drops_a_failing_query(spark, capsys):
    calls = {"ok": 0, "bad": 0}

    def ok(spark, sf_dir):
        calls["ok"] += 1
        return spark.range(100)

    def bad(spark, sf_dir):
        calls["bad"] += 1
        raise RuntimeError("broken")

    specs = {"bad": QuerySpec("bad", bad, None), "ok": QuerySpec("ok", ok, None)}
    timings, errors, totals = bench.time_passes(spark, specs, ["bad", "ok"], "-", 3)

    assert calls == {"ok": 3, "bad": 1}  # the failure is not retried
    assert errors == {"bad": "RuntimeError: broken"}
    assert "BENCH FAIL bad" in capsys.readouterr().err
    assert set(timings) == {"ok"}
    # each pass total is "ok"'s time alone, so the kept time is their min
    assert len(totals) == 3 and timings["ok"] == min(totals)


def test_one_timed_noop_write():
    """The noop-sink write lives only in ``bench.run_timed``: bench.py
    spells it once, no tool spells it, and no tool tags jobs with its
    own descriptions (``run_timed`` sets the job group)."""
    root = pathlib.Path(__file__).resolve().parent.parent
    noop = re.compile(r"""\.format\(\s*["']noop["']\s*\)""")
    assert len(noop.findall((root / "bench.py").read_text())) == 1
    offenders = [
        str(path.relative_to(root))
        for path in sorted((root / "tools").rglob("*.py"))
        if noop.search(path.read_text()) or "setJobDescription" in path.read_text()
    ]
    assert offenders == []
