"""The catalog's per-session schema memo: a table's schema is inferred once
per session and file identity, so repeat loads launch no Spark job; a file
rewritten at the same path is inferred again; and only the schema is
memoized, never data. Every gate-SF fixture file scans in one task."""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SMOKE_SF_DIR
from vena_etl_tool_spark.catalog import load_table, table_schema
from vena_etl_tool_spark.registry import all_specs


def _jobs_launched(spark, fn) -> tuple[object, int]:
    out, job_ids = _job_ids(spark, fn)
    return out, len(job_ids)


def _job_ids(spark, fn) -> tuple[object, list[int]]:
    """Run ``fn()`` inside a fresh job group; return its result and the ids
    of the Spark jobs it launched. The status tracker is fed by the
    asynchronous listener bus, so a fence job in a second group is run
    afterwards and awaited: once the fence is visible, every earlier job
    is too."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(group + "-fence", "fence")
        spark.range(1).collect()
        sc.setLocalProperty("spark.jobGroup.id", None)
    status = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not status.getJobIdsForGroup(group + "-fence"):
        assert time.monotonic() < deadline, "fence job never reached the tracker"
        time.sleep(0.05)
    return out, list(status.getJobIdsForGroup(group))


def test_second_load_launches_no_job(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "nation.parquet"), tmp_path / "nation.parquet")
    first, first_jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    again, again_jobs = _jobs_launched(spark, lambda: load_table(spark, str(tmp_path), "nation"))
    assert first_jobs >= 1  # the miss infers, so the counter sees jobs
    assert again_jobs == 0
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_memo_lives_on_the_session(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "region.parquet"), tmp_path / "region.parquet")
    load_table(spark, str(tmp_path), "region")
    other = spark.newSession()
    _, jobs = _jobs_launched(other, lambda: load_table(other, str(tmp_path), "region"))
    assert jobs >= 1


def test_rewrite_at_same_path_is_reinferred(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["k"]

    pq.write_table(pa.table({"k": [4, 5], "extra": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(4, "x"), (5, "y")]
    assert table_schema(spark, str(tmp_path), "t").fieldNames() == ["k", "extra"]


def test_same_schema_rewrite_reads_new_rows(spark, tmp_path):
    """Only the schema is memoized: the data is read fresh on every load."""
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"k": [1, 2, 3]}), path)
    assert load_table(spark, str(tmp_path), "t").count() == 3
    pq.write_table(pa.table({"k": [7, 8, 9, 10]}), path)
    assert sorted(r.k for r in load_table(spark, str(tmp_path), "t").collect()) == [7, 8, 9, 10]


def test_events_ts_same_on_memo_hit_as_fresh_read(spark, sf_dir):
    fresh_session = spark.newSession()  # empty memo: this load infers
    fresh = load_table(fresh_session, sf_dir, "events")
    load_table(spark, sf_dir, "events")
    hit, jobs = _jobs_launched(spark, lambda: load_table(spark, sf_dir, "events"))
    assert jobs == 0
    assert dict(hit.dtypes)["ts"] == dict(fresh.dtypes)["ts"] == "timestamp_ntz"
    cols = ["event_id", "ts"]
    assert sorted(hit.select(cols).collect()) == sorted(fresh.select(cols).collect())


@pytest.mark.parametrize(
    "name",
    [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q9_product_profit",
    ],
)
def test_build_phase_launches_no_jobs(spark, sf_dir, name):
    """Jobs-per-query pin (sf0.001 by default): once the schemas are
    memoized, building these queries' DataFrames runs no Spark job."""
    spec = all_specs()[name]
    spec.fn(spark, sf_dir)  # warm-up fills the memo
    _, jobs = _jobs_launched(spark, lambda: spec.fn(spark, sf_dir))
    assert jobs == 0


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
def test_fixture_files_scan_in_one_task(spark, sf):
    """The session's file-split floor stays above every gate-SF parquet file
    (the largest, sf0.01 lineitem, is 1,042,463 bytes), so each one scans
    in exactly one task; a lower floor would split them into tasks that
    read no row group."""
    sf_dir = os.path.join(os.path.dirname(SMOKE_SF_DIR), sf)
    status = spark.sparkContext.statusTracker()
    tasks = {}
    for file in sorted(os.listdir(sf_dir)):
        name = file.removesuffix(".parquet")
        df = load_table(spark, sf_dir, name)
        _, job_ids = _job_ids(spark, lambda: df.write.mode("overwrite").format("noop").save())
        tasks[name] = sum(
            status.getStageInfo(s).numTasks for j in job_ids for s in status.getJobInfo(j).stageIds
        )
    assert len(tasks) == 10 and set(tasks.values()) == {1}, tasks
