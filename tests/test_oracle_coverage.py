"""``tools/oracle_coverage.py`` lists the oracle-backed queries that appear
in no ``CORRECTNESS_r*.json`` artifact; rows-only queries and files not
named like an artifact do not count."""

from __future__ import annotations

import importlib.util
import json
import os

from vena_etl_tool_spark.registry import QuerySpec

_spec = importlib.util.spec_from_file_location(
    "oracle_coverage",
    os.path.join(os.path.dirname(__file__), "..", "tools", "oracle_coverage.py"),
)
oracle_coverage = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(oracle_coverage)  # type: ignore[union-attr]


def test_lists_oracle_backed_queries_in_no_artifact(tmp_path):
    row = {"hash_match": True}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({"a": row}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({"b": {"hash_match": False}}))
    (tmp_path / "BENCH_r03.json").write_text(json.dumps({"d": row}))
    specs = {
        n: QuerySpec(n, lambda spark, sf_dir: None, oracle)
        for n, oracle in [("e", "SELECT 1"), ("a", "SELECT 1"), ("b", "SELECT 1"),
                          ("c", None), ("d", "SELECT 1")]
    }
    assert oracle_coverage.unchecked(specs, str(tmp_path)) == ["e", "d"]
