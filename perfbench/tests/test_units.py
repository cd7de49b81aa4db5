"""Fast checks of the benchmark's own pieces; no Spark session."""

from __future__ import annotations

import hashlib
import os

import pytest

import endpoint
import run
import stats
import workloads
from spans import Span, covered


def _digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(dirpath, f), "rb") as fh:
                out[os.path.relpath(os.path.join(dirpath, f), root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    plans = {}
    for tag, seed in (("a", 7), ("b", 7), ("c", 8)):
        run_dir = str(tmp_path / tag)
        plan = workloads.prepare(workload, seed, run_dir)
        plans[tag] = (plan, _digests(run_dir))
    (plan_a, files_a), (plan_b, files_b), (_, files_c) = plans["a"], plans["b"], plans["c"]
    assert files_a and files_a == files_b

    def ops(plan):  # the op list without the run-directory paths
        return [{k: v for k, v in op.items() if k != "source"} for op in plan["ops"]]

    assert ops(plan_a) == ops(plan_b)
    assert files_a.keys() == files_c.keys()
    assert all(files_a[k] != files_c[k] for k in files_a if "region" not in k and "nation" not in k)


def test_upload_truth_matches_csv_lines(tmp_path):
    plan = workloads.prepare("etl_reupload", 3, str(tmp_path))
    rewrites = [op for op in plan["ops"] if op["rewrite"]]
    assert len(rewrites) == workloads.N_REUPLOAD
    assert len(plan["manifest"]["fail_first"]) == len(workloads.RETRY_ROWS)
    for op in plan["ops"]:
        with open(op["source"], "rb") as f:
            lines = f.read().decode().splitlines()[1:]
        bad = [ln for ln in lines if ",x" in ln or ln.startswith("x")]
        assert (len(lines) - len(bad), len(bad)) == (op["n_good"], op["n_bad"])
        assert op["n_bad"] >= 0.009 * len(lines)
    names = [op["name"] for op in plan["ops"]]
    for op in rewrites:  # a rewrite follows the fresh upload of the same path
        first = names.index(op["name"])
        assert not plan["ops"][first]["rewrite"]
        assert plan["ops"].index(op) > first
        assert (op["n_good"], op["n_bad"]) != (plan["ops"][first]["n_good"], plan["ops"][first]["n_bad"])


@pytest.mark.parametrize("n", range(11, 200))
def test_percentile_rule_keeps_ten_samples_beyond(n):
    samples = [float(i) for i in range(n)]
    assert stats.beyond(n, stats.tail_level(n)) == stats.MIN_BEYOND
    for bigger in (n, n + 1, n + 7, 3 * n):
        q = stats.tail_level(n)
        assert stats.beyond(bigger, q) >= stats.MIN_BEYOND
    if n >= 20:
        assert stats.percentile(samples, 0.5) == samples[stats.rank(n, 0.5)]
    else:
        with pytest.raises(ValueError):
            stats.percentile(samples, 0.5)
    with pytest.raises(ValueError):
        stats.percentile(samples, 1 - 9.5 / n)


def test_tail_level_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        stats.tail_level(10)


def _result(errors_by_pass: list[list[str | None]], oracle_ok: list[bool]) -> dict:
    return {
        "passes": [
            {"ops": [{"name": f"op{i}", "error": e} for i, e in enumerate(errs)]}
            for errs in errors_by_pass
        ],
        "oracle": [{"name": f"op{i}", "ok": ok, "detail": "d"} for i, ok in enumerate(oracle_ok)],
    }


def test_accounting_counts_each_failed_op_and_oracle_diff():
    attempted, failed, errors = run.account(
        _result([[None, "stale"], [None, None], ["bad", "stale"]], [True, False])
    )
    assert (attempted, failed) == (6, 4)
    assert errors[0] == "pass 0 op 1 op1: stale" and errors[-1] == "oracle op1: d"
    assert run.account(_result([[None, None]], [True, True]))[:2] == (2, 0)


def test_span_self_time_subtracts_union_of_children():
    root = Span("op", None, 0.0, 10.0)
    a = Span("a", root, 1.0, 4.0, jobs=frozenset({1, 2}))
    b = Span("b", root, 3.0, 6.0, jobs=frozenset({3}))
    c = Span("c", root, 9.0, 12.0)
    root.children = [a, b, c]
    root.jobs = frozenset({1, 2, 3, 4})
    assert covered(root.children, root.start, root.end) == pytest.approx(6.0)
    assert root.self_seconds() == pytest.approx(4.0)
    assert root.self_jobs() == {4}


def test_endpoint_checks_payload_and_fails_first_attempt():
    from vena_etl_tool_spark.pipeline.http_sink import encode_multipart

    good, other = b"a,b\n1,2\n", b"a,b\n3,4\n"
    log = endpoint.UploadLog({
        "expect": {"op00.csv": [hashlib.sha256(good).hexdigest(), hashlib.sha256(other).hexdigest()]},
        "fail_first": ["op00.csv"],
    })
    body, ctype = encode_multipart(good, "p001_op00.csv")
    name, payload = endpoint.file_part(body, ctype)
    assert (name, payload) == ("p001_op00.csv", good)
    assert log.attempt(name, payload) == 503
    assert log.attempt(name, payload) == 200
    assert log.records[-1] == {"name": name, "upload": 0, "attempts": 2, "payload_ok": True}
    # the second upload of the path must carry the rewritten bytes
    assert log.attempt(name, payload) == 503
    assert log.attempt(name, payload) == 200
    assert log.records[-1]["payload_ok"] is False


def test_benchmark_json_names_what_the_runs_print():
    import json
    import re

    from conftest import REPO_ROOT
    from fold import LAYER_UNITS

    with open(os.path.join(REPO_ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)
    steady = {"label": "steady", "pass_s": 2.0,
              "ops": [{"name": f"q{i}", "latency_s": 0.1 * i} for i in range(10)]}
    metrics, _ = run.end_to_end(
        {"setup_s": 1.0, "passes": [steady] * 4},
        {"min_passes": 3, "ops": [{}] * 10, "rows_per_pass": 100},
    )
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == {
        n: unit for n, (_, unit) in metrics.items()
    }
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"]), m
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert all(len(w["why"]) <= 200 for w in bench["workloads"])
