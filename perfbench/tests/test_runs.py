"""Whole benchmark runs through run.py (each starts Spark; about a minute)."""

from __future__ import annotations

import re

import workloads


def test_reupload_ops_are_the_only_failures(bench, tmp_path):
    """Only ops that rewrite an earlier op's path may fail, and each such
    failure must be the program reporting the old file's counts (the ingest
    cache keyed by path); every other op passes all of its checks."""
    detail, result = bench("etl_reupload", 5, 1, 0)
    ops = workloads.prepare("etl_reupload", 5, str(tmp_path))["ops"]
    truth = {op["name"]: (op["n_good"], op["n_bad"]) for op in ops if not op["rewrite"]}
    assert result["failed"] == len(detail["errors"]) > 0
    for e in detail["errors"]:
        m = re.match(r"pass \d+ op (\d+) (\S+): loaded/quarantined \((\d+), (\d+)\) != generated", e)
        assert m, e
        op = ops[int(m.group(1))]
        assert op["rewrite"], e
        assert (int(m.group(3)), int(m.group(4))) == truth[op["name"]], e
    # every rewrite fails at this commit: ingest_csv caches each read and
    # never unpersists, so the same path reads back the old file's rows
    assert result["failed"] == result["attempted"] // detail["ops_per_pass"] * workloads.N_REUPLOAD
    assert result["correct"] is False


def test_etl_upload_has_no_failures(bench):
    detail, result = bench("etl_upload", 5, 1, 0)
    assert result["correct"] and result["failed"] == 0, detail["errors"]
    assert set(result["metrics"]) == {"setup_s", "pass_s", "op_p50_s", "op_tail_s", "rows_per_s"}


def test_traced_spans_cover_each_op(bench):
    for workload in ("etl_upload", "query_mix"):
        detail, result = bench(workload, 5, 1, 1)
        m = {k: v["value"] for k, v in result["metrics"].items()}
        assert m["trace.coverage_frac"] >= 0.9, (workload, m)
        assert result["failed"] == 0, detail["errors"]
        if workload == "etl_upload":
            assert m["catalog.loads"] == 0 and m["ingest.ingest_csv_s"] > 0
        else:
            assert m["catalog.loads"] > 0 and m["execute.jobs"] > 0
