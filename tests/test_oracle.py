"""Differential test: every registered query vs its DuckDB oracle.

Mirrors the driver's correctness gate. Runs at sf0.001 by default for
speed; set SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 to run at the
driver's exact scale.
"""

from __future__ import annotations

import os
import tempfile

import pytest

from vena_etl_tool_spark.registry import all_specs
from vena_etl_tool_spark.testing import diff_query, duckdb_connection

_SPECS = all_specs()


@pytest.fixture(scope="module")
def con(sf_dir):
    return duckdb_connection(sf_dir)


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_query_matches_oracle(name, spark, con, sf_dir):
    res = diff_query(spark, con, _SPECS[name], sf_dir)
    assert res.ok, f"{name}: {res.detail}"


def test_oracle_connection_resources_are_explicit(sf_dir):
    """The oracle connection caps its memory at half the physical RAM,
    runs one thread per usable CPU and spills under the system temp dir."""
    con = duckdb_connection(sf_dir)
    try:
        limit, threads, temp = con.execute(
            "SELECT current_setting('memory_limit'), current_setting('threads'),"
            " current_setting('temp_directory')"
        ).fetchone()
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
        value, unit = limit.split()  # e.g. "7.4 GiB", rounded to one decimal
        limit_bytes = float(value) * 2 ** {"KiB": 10, "MiB": 20, "GiB": 30, "TiB": 40}[unit]
        assert abs(limit_bytes / (phys_bytes / 2) - 1) < 0.02, limit
        assert threads == len(os.sched_getaffinity(0))
        assert os.path.dirname(temp) == tempfile.gettempdir()
        assert con.execute("SELECT count(*) FROM nation").fetchone()[0] > 0
    finally:
        con.close()
