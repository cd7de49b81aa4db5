"""The generated-class cache holds the engine's working set: the session
is built with ``CODEGEN_CACHE_ENTRIES`` cache entries, so a repeated
``query_mix`` pass compiles no whole-stage codegen class (at Spark's
default of 100 entries it recompiles about 120-150); class names carry no
codegen stage id, so a query whose stages AQE renumbers recompiles nothing
either; a session whose cache is smaller logs one warning; and
``bench.time_passes`` records each run's compile count."""

from __future__ import annotations

import importlib.util
import logging
import os
import types
from functools import partial

from conftest import SMOKE_SF_DIR
from vena_etl_tool_spark import session
from vena_etl_tool_spark.registry import QuerySpec, all_specs

_spec = importlib.util.spec_from_file_location(
    "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
)
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)  # type: ignore[union-attr]

# The benchmark's query_mix workload, listed here so the test stands alone.
QUERY_MIX = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "window_frames",
    "topk_global",
    "agg_rollup",
    "join_asof_last_click",
    "setop_except_all",
    "events_funnel_ttc",
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )


def test_repeated_query_mix_pass_compiles_nothing(spark):
    specs = all_specs()
    per_pass = []
    for i in range(2):
        counts = {}
        for name in QUERY_MIX:
            before = _compiles(spark)
            bench.run_timed(
                spark, f"codegen-cache:{name}:{i}", partial(specs[name].fn, spark, SMOKE_SF_DIR)
            )
            counts[name] = _compiles(spark) - before
        per_pass.append(counts)
    assert sum(per_pass[1].values()) == 0, per_pass


def test_repeat_with_renumbered_stages_compiles_nothing(spark):
    """AQE numbers this query's codegen stages differently from run to run;
    with the stage id kept out of class names the repeat still hits the
    cache (with the id in the name it recompiled 4-14 classes here)."""
    build = partial(all_specs()["text_hll_cardinality"].fn, spark, SMOKE_SF_DIR)
    bench.run_timed(spark, "codegen-cache:hll:0", build)
    before = _compiles(spark)
    bench.run_timed(spark, "codegen-cache:hll:1", build)
    assert _compiles(spark) - before == 0


def test_small_codegen_cache_logs_once_per_session(caplog):
    caplog.set_level(logging.WARNING, logger=session.__name__)
    small, sized = types.SimpleNamespace(), types.SimpleNamespace()
    for _ in range(2):
        session._warn_small_codegen_cache(small, "100")
        session._warn_small_codegen_cache(sized, str(session.CODEGEN_CACHE_ENTRIES))
    assert len(caplog.records) == 1
    assert "spark.sql.codegen.cache.maxEntries is 100" in caplog.records[0].getMessage()


def test_time_passes_records_compiles_per_pass(spark):
    def fresh(spark, sf_dir):
        return spark.range(50).selectExpr("id * 7 + 3 AS v").groupBy("v").count()

    specs = {"fresh": QuerySpec("fresh", fresh, None)}
    compiles: dict[str, list[int]] = {}
    bench.time_passes(spark, specs, ["fresh"], "-", 2, compiles)
    assert list(compiles) == ["fresh"] and len(compiles["fresh"]) == 2
    assert compiles["fresh"][1] == 0
