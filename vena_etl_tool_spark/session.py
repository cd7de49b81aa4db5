"""SparkSession factory + session-level configuration.

Two call sites:

1. Our own tests / bench / CLI build a session via :func:`get_spark`.
2. The correctness driver hands us an *existing* session; :func:`configure`
   applies the runtime-settable confs we rely on (UTC timezone, ns-timestamp
   parquet compatibility, AQE) without rebuilding the session.

Scale notes (100 TB target): every conf set here is either runtime-settable
or a safe default on a real cluster. Shuffle partition count is only pinned
for local runs — on a cluster AQE coalescing
(``spark.sql.adaptive.coalescePartitions.enabled``) picks the real number
from the advisory partition size, so a hard-coded 32 never ships a bad plan
to a 1000-executor job.

Generated-class cache: whole-stage codegen compiles each distinct plan
fragment to a Java class and keeps the classes in one JVM-wide LRU
(``CodeGenerator.cache``) of ``spark.sql.codegen.cache.maxEntries`` entries,
100 by default. :func:`get_spark` sizes it to :data:`CODEGEN_CACHE_ENTRIES`.
The conf is static: only the builder can set it, and ``configure()`` cannot
raise it on a live session. Sized from traffic: two passes over the 177
headline queries at sf0.001 on 4 cores compile 5,627 classes cold and 4,817
on the repeat pass at 100 entries, 4,154 / 3,613 at 1,000, and 3,803 / 255
at 8,192. At 100 the 10 ``query_mix`` queries alone evict each other's
classes and recompile about 120-150 per repeat pass; at 8,192 a repeat pass
compiles none of them. Of the headline compiles left, those checked are
classes whose name carries a codegen stage id that AQE assigns differently
from run to run; no cache size removes them. The cost is JVM metaspace:
220 -> 243 MB used after those two passes. On a cluster the same static
conf sizes each executor's cache too. A session built elsewhere and handed to
``configure()`` keeps its own size; ``configure()`` logs one warning per
session when that size is below the constant.

Class names without stage ids: ``RUNTIME_CONFS`` sets
``spark.sql.codegen.useIdInClassName`` to false. By default each
whole-stage class name carries its codegen stage id, and AQE numbers the
same stage differently from run to run, so two identical fragments differ
only in their class name and the second misses the cache. Without the id
a repeated ``text_hll_cardinality`` at sf0.001 compiles no class; with it
the repeat compiled 4-14 classes alone and 21 within a headline pass.

File-split floor: :func:`get_spark` sets ``spark.sql.files.openCostInBytes``
(Spark's assumed cost of opening a file, and in effect its smallest file
split) to :data:`FILE_SPLIT_FLOOR`, 1 MiB instead of Spark's 4 MiB. A file
scan's split size is ``min(maxPartitionBytes, max(openCost, (bytes +
openCost) / cores))``, so a file smaller than ``openCost`` is always one
task: at 4 MiB a 3 MiB CSV upload parsed on one core of four. A second
split pays once each half parses for longer than one task's fixed cost,
measured at about 25-60 ms (launch, the write task's binary with its
Hadoop conf, the parquet writer's open and commit) against ~15 MiB/s per
core of typed PERMISSIVE CSV parsing; that puts the break-even near
1 MiB. The floor must stay above the largest gate-SF parquet file (sf0.01
``lineitem.parquet``, 1,042,463 bytes) and the ``query_mix`` tables, so
each still scans in one task. At sf0.1 the one-row-group files
(``lineitem``, ``orders``, ``events``) gain extra split tasks that read
no row group. Like the shuffle-partition pin it sizes a local run: on a
deployer's cluster the object-store open cost is real, so the floor is
set in the builder only and ``configure()`` leaves a handed-in session's
value alone.

Call-site capture off: :func:`get_spark` sets the static conf
``spark.python.sql.dataFrameDebugging.enabled`` to false. By default
PySpark records the Python ``file:line`` of every ``Column`` call, at the
price of py4j round trips on each call. Turning it off cut one 2.8 MiB
CSV upload from 356-525 round trips to 116-207, and one pass over the 10
``query_mix`` queries from 4,190-4,918 to 2,099-2,314. What is
traded away: an error that carries a DataFrame context, such as an ANSI
``DIVIDE_BY_ZERO``, keeps its message, but its ``== DataFrame ==`` section
names a JVM frame instead of the Python ``file:line`` of the ``Column``
call. The conf is static (``spark.conf.set`` raises
``CANNOT_MODIFY_STATIC_CONFIG``), so a session handed to ``configure()``
keeps PySpark's default.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

# Confs that are safe (and desirable) to set on any session at runtime.
RUNTIME_CONFS: dict[str, str] = {
    # Deterministic timestamp semantics for the DuckDB differential oracle.
    "spark.sql.session.timeZone": "UTC",
    # The fixture `events` table stores TIMESTAMP(NANOS). Older Spark builds
    # honor this conf (ts reads as BIGINT ns); pyspark 4.1+ ignores it and
    # reads natively as TIMESTAMP_NTZ µs. Harmless either way — the loader
    # (catalog._normalize_event_ts) branches on the OBSERVED dtype, never on
    # this conf.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Adaptive execution: runtime re-plan, skew-join splitting, partition
    # coalescing. Core of the 100 TB story.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let the planner pick shuffled-hash join when its size conditions are
    # met instead of always sorting both sides (opt guide §3.1/§9; the
    # planner still falls back to sort-merge when no side can build a
    # local map, so the spill-safety story is size-gated, not forfeited).
    # OPTIMIZATION r11 A/B over a 20-query sample at sf0.1: 52.8-56.3 s
    # (base, two runs) -> 43.1 s; no sampled query regressed.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Arrow for pandas UDF / toPandas paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Generated-class names without the run-to-run codegen stage id, so a
    # repeated plan hits the class cache: see the module docstring.
    "spark.sql.codegen.useIdInClassName": "false",
}

# Static SQL conf, set in get_spark's builder: see the module docstring.
CODEGEN_CACHE_ENTRIES = 8192
_CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"

# Smallest file split of a local session, set in get_spark's builder only:
# see the module docstring.
FILE_SPLIT_FLOOR = 1 << 20

_log = logging.getLogger(__name__)

# Streaming state-store posture (SCALE.md "state store" row). The provider
# choice is load-bearing at 100 TB key cardinality: the default HDFS-backed
# store keeps every key's state on the executor HEAP (state must fit in
# memory per partition), while RocksDB spills to local SSD and bounds
# checkpoint deltas via changelog checkpointing. The fixtures run fine on
# the default, so it stays the default locally; a deployment opts in with
# VENA_ETL_STATE_STORE=rocksdb (read at session build AND in configure(),
# so the driver-contract path honors it too). The conf is per-query — each
# stream captures it into its checkpoint at first start — which is also why
# stream_transform_with_state pins RocksDB for itself regardless (the TWS
# API requires it).
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_STATE_STORE_KEY = "spark.sql.streaming.stateStore.providerClass"


def _state_store_overrides() -> dict[str, str]:
    choice = os.environ.get("VENA_ETL_STATE_STORE", "").lower()
    if choice in ("rocksdb", "rocks"):
        return {
            _STATE_STORE_KEY: ROCKSDB_PROVIDER,
            # bounded incremental checkpoints: upload the changelog per
            # batch, snapshot in the background
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": "true",
        }
    return {}


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Worker-side callables (pandas UDFs, applyInPandasWithState fns) may be
    cloudpickled *by reference* to this module; if the driver wasn't
    launched from the repo root the workers can't import it. Shipping a
    zip via addPyFile puts the package on every worker's sys.path
    regardless of the driver's cwd.
    """
    if getattr(spark, "_vena_pkg_shipped", False):
        return
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    stamp = int(max(
        os.path.getmtime(os.path.join(root, f))
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    ))
    zip_path = os.path.join(tempfile.gettempdir(), f"vena_etl_tool_spark_{stamp}.zip")
    if not os.path.exists(zip_path):
        tmp = zip_path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as zf:
            for root, _, files in os.walk(pkg_dir):
                for f in files:
                    if f.endswith(".py"):
                        full = os.path.join(root, f)
                        rel = os.path.join(
                            "vena_etl_tool_spark", os.path.relpath(full, pkg_dir)
                        )
                        zf.write(full, rel)
        os.replace(tmp, zip_path)
    try:
        spark.sparkContext.addPyFile(zip_path)
    except Exception:
        pass  # e.g. Connect sessions without an SC; worker closures are
        # self-contained anyway for the shipped operators
    spark._vena_pkg_shipped = True  # type: ignore[attr-defined]


def _warn_small_codegen_cache(spark: SparkSession, entries: str) -> None:
    """Log once per session when its generated-class cache holds fewer than
    CODEGEN_CACHE_ENTRIES classes (``entries`` is the session's conf value).
    Queries still run; repeated ones recompile their classes."""
    if getattr(spark, "_vena_codegen_cache_checked", False):
        return
    spark._vena_codegen_cache_checked = True  # type: ignore[attr-defined]
    if int(entries) < CODEGEN_CACHE_ENTRIES:
        _log.warning(
            "%s is %s, below the engine's %d: repeated queries recompile their "
            "generated classes. It is a static conf; set it where the session "
            "is built.",
            _CODEGEN_CACHE_KEY, entries, CODEGEN_CACHE_ENTRIES,
        )


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to an externally-created session (driver contract)."""
    for k, v in {**RUNTIME_CONFS, **_state_store_overrides()}.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be static on some builds; never fail the query for it.
            pass
    _warn_small_codegen_cache(spark, spark.conf.get(_CODEGEN_CACHE_KEY))
    _ship_package(spark)
    return spark


def get_spark(
    app_name: str = "vena-etl-tool-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default ``*``)
    so bench and tests share one knob with the driver harness.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus_env = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus_env) if cpus_env and cpus_env.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.files.openCostInBytes", str(FILE_SPLIT_FLOOR))
        .config(_CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES))
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**RUNTIME_CONFS, **_state_store_overrides()}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return configure(spark)
