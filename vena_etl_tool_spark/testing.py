"""Local differential-oracle harness.

Replicates the driver's correctness gate (see __spark_entry__.py docstring):
run the PySpark query and the DuckDB oracle SQL over the same parquet
fixture dir, then compare row count + column names + an order-insensitive
canonical form of every value. Used by tests/test_oracle.py and by
``python -m vena_etl_tool_spark.testing`` for ad-hoc checks.
"""

from __future__ import annotations

import datetime
import math
import os
import tempfile
import uuid
from dataclasses import dataclass
from decimal import Decimal

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

from .catalog import TABLES
from .registry import QuerySpec, all_specs


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Register every fixture table as a DuckDB view, as the oracle gate does.

    The connection's resources are explicit, so an oracle too big for the
    host spills or fails with DuckDB's out-of-memory error instead of being
    killed by the host: half the physical RAM, one thread per CPU this
    process may run on, and a spill directory of its own under the system
    temp dir (DuckDB creates it on the first spill and removes it on close).
    """
    phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    con = duckdb.connect(
        config={
            "memory_limit": f"{phys_bytes // 2 // 2**20}MiB",
            "threads": len(os.sched_getaffinity(0)),
            "temp_directory": os.path.join(
                tempfile.gettempdir(), f"duckdb-oracle-{os.getpid()}-{uuid.uuid4().hex[:8]}"
            ),
        }
    )
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _canon_value(v: object) -> object:
    """Canonicalize one cell so Spark and DuckDB results compare equal."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<nan>"
        # repr keeps full precision; engineered queries are bit-deterministic.
        return f"f:{float(v)!r}"
    if isinstance(v, Decimal):
        return f"d:{v.normalize()}"
    if v is pd.NaT:
        return "<null>"
    if isinstance(v, pd.Timestamp):
        return f"t:{v.isoformat()}"
    if isinstance(v, datetime.datetime):
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, datetime.date):
        # a bare DATE canonicalizes to its midnight timestamp; queries should
        # still pin DATE→TIMESTAMP on both sides (driver may be stricter)
        return f"t:{pd.Timestamp(v).isoformat()}"
    if isinstance(v, (list, tuple)):
        return tuple(_canon_value(x) for x in v)
    if hasattr(v, "tolist"):  # numpy scalar or array
        return _canon_value(v.tolist())
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    return f"s:{v}"


def canonical_rows(df: pd.DataFrame) -> list[tuple]:
    """Sort columns by name, canonicalize cells, sort rows — the same
    order-insensitive shape the driver hashes."""
    cols = sorted(df.columns)
    out = [tuple(_canon_value(v) for v in row) for row in df[cols].itertuples(index=False)]
    out.sort(key=repr)
    return out


@dataclass
class DiffResult:
    name: str
    ok: bool
    detail: str = ""


def diff_query(
    spark: SparkSession,
    con: duckdb.DuckDBPyConnection,
    spec: QuerySpec,
    sf_dir: str,
) -> DiffResult:
    """Run one registered query against its oracle; return the comparison."""
    sdf = spec.fn(spark, sf_dir)
    # The driver's canonicalizer cannot factorize array/map cells (numpy
    # arrays / dicts are unhashable) — any such output column is a hard
    # failure HERE so it never reaches the driver as a red row. Queries
    # must serialize collections at the boundary (to_json / concat_ws).
    nonscalar = [
        f"{fld.name}:{fld.dataType.simpleString()}"
        for fld in sdf.schema.fields
        if fld.dataType.typeName() in ("array", "map")
    ]
    if nonscalar:
        return DiffResult(
            spec.name, False, f"non-scalar output columns (driver-unhashable): {nonscalar}"
        )
    spark_pdf = sdf.toPandas()
    if spec.oracle is None:
        ok = len(spark_pdf) >= 0
        return DiffResult(spec.name, ok, f"rows-only: {len(spark_pdf)} rows")
    oracle_pdf = con.execute(spec.oracle).fetchdf()

    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return DiffResult(
            spec.name,
            False,
            f"column mismatch: spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}",
        )
    if len(spark_pdf) != len(oracle_pdf):
        return DiffResult(
            spec.name, False, f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
    s_rows = canonical_rows(spark_pdf)
    o_rows = canonical_rows(oracle_pdf)
    if s_rows != o_rows:
        diffs = [
            f"  spark={s!r}\n  oracle={o!r}" for s, o in zip(s_rows, o_rows) if s != o
        ][:3]
        return DiffResult(
            spec.name, False, "value mismatch (first rows):\n" + "\n".join(diffs)
        )
    return DiffResult(spec.name, True, f"{len(spark_pdf)} rows hash-match")


def run_all(spark: SparkSession, sf_dir: str, only: list[str] | None = None) -> list[DiffResult]:
    con = duckdb_connection(sf_dir)
    specs = all_specs()
    if only:
        unknown = sorted(set(only) - set(specs))
        if unknown:
            raise KeyError(f"unknown query name(s): {unknown}; known: {sorted(specs)}")
    results = []
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        try:
            results.append(diff_query(spark, con, spec, sf_dir))
        except Exception as e:  # noqa: BLE001 — report, don't abort the sweep
            results.append(DiffResult(name, False, f"EXCEPTION: {type(e).__name__}: {e}"))
    return results


if __name__ == "__main__":
    import sys

    from .session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    spark = get_spark("oracle-diff")
    res = run_all(spark, sf_dir, only=sys.argv[1:] or None)
    n_ok = sum(r.ok for r in res)
    for r in res:
        print(f"{'PASS' if r.ok else 'FAIL'} {r.name}: {r.detail}")
    print(f"{n_ok}/{len(res)} pass at {sf_dir}")
    sys.exit(0 if n_ok == len(res) else 1)
