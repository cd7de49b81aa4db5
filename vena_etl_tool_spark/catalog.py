"""Typed loaders for the fixture tables (TESTDATA.md / FIXTURES.md).

The engine's analog of the reference's *template catalog*
(/root/reference/src/api/templates.js:47-125 lists/introspects remote
templates): here the catalog is a local registry of table specs, and
introspection is ``table_schema`` — see also pipeline/spec.py for the
user-facing pipeline-spec registry.

**Schema memo.** A bare ``spark.read.parquet(path)`` infers the schema
from the footers, and that inference is one Spark job per load — at
small scale the dominant fixed cost of a query. ``table_schema`` infers
each file's schema once per session and keeps it on the session object
(``spark._vena_schema_memo``, the same idiom as ``_vena_pkg_shipped``);
``load_table`` then reads with ``spark.read.schema(memo).parquet(path)``,
which launches no job. The memo is keyed on the file's identity — path,
inode, size and mtime from one ``os.stat`` — so a table rewritten at the
same path is inferred again. It holds only the ``StructType``, never a
DataFrame or any data: every load still lists the files and plans
fresh, so a rewrite that keeps the schema is always read as it is now.

Loads stay plain parquet scans so Catalyst keeps predicate pushdown /
column pruning / partition pruning. The only normalization is the
`events.ts` nanosecond column (parquet TIMESTAMP(NANOS)), handled
**dtype-adaptively**: depending on the Spark build/confs the parquet
reader surfaces it either as BIGINT nanoseconds (older builds honoring
``spark.sql.legacy.parquet.nanosAsLong``) or natively as TIMESTAMP_NTZ
truncated to microseconds (pyspark 4.1+, where that conf is a no-op).
We branch on the *observed* (memoized) dtype — never on the conf — and
normalize to ``timestamp_ntz`` at microsecond precision, bit-identical to
what DuckDB's reader produces for the same file.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .session import configure

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Small dimension tables: always broadcast-join these (well under the 10 MB
# default threshold at any SF; region/nation are fixed-size).
BROADCAST_TABLES = frozenset({"region", "nation", "supplier"})


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> StructType:
    """Schema of ``<sf_dir>/<name>.parquet`` as the reader infers it,
    inferred once per session and file identity (see the module doc).
    For a Spark-written table directory the identity is the directory's,
    which changes whenever part files are added, removed or overwritten."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    ident = (st.st_ino, st.st_size, st.st_mtime_ns)
    # setdefault and item assignment are atomic, so concurrent loads at
    # worst infer the same schema twice; one entry per path, so a rewrite
    # replaces its stale schema instead of growing the memo
    memo = vars(spark).setdefault("_vena_schema_memo", {})
    hit = memo.get(path)
    if hit is None or hit[0] != ident:
        hit = memo[path] = (ident, spark.read.parquet(path).schema)
    return hit[1]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with engine-canonical types."""
    configure(spark)
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        df = df.withColumn("ts", _normalize_event_ts(schema["ts"].dataType.simpleString()))
    return df


def _normalize_event_ts(loaded_dtype: str) -> F.Column:
    """Canonical `ts` expression for whatever dtype the reader produced.

    - ``bigint``: raw nanoseconds (nanosAsLong path) — integer `div`, not
      `/`, because ns epoch values exceed double's 2^53 mantissa; truncate
      to µs exactly as DuckDB does.
    - ``timestamp_ntz``: the reader already truncated ns → µs natively
      (pyspark 4.1+); pass through.
    - ``timestamp``: session-tz read; re-type to ntz (session tz is UTC so
      the wall clock is unchanged).
    """
    if loaded_dtype == "bigint":
        return F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    return F.col("ts").cast("timestamp_ntz")


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view so operators can use spark.sql."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
