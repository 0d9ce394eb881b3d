"""The engine session's fixed per-query driver costs: building a plan
captures no Python call sites, and a warm session re-running the same
queries compiles no generated class again."""

from __future__ import annotations

import pyspark.errors.utils as error_utils

from iheardai_data_pipeline_spark.plans.catalog import CATALOG, _ensure_loaded

# the dashboard benchmark's six entries (benchmarks/dashboard.py ENTRIES)
DASHBOARD = (
    "q3_shipping_priority",
    "q9_product_profit",
    "a7_conversion_funnel",
    "w_trailing_7d_revenue",
    "p2_pii_redaction",
    "p24_p27_event_scores",
)
# Three more joins, so a pass generates about 136 classes, not 89: more
# than Spark's default cache of 100 can hold however they spread over
# its segments (89 overflowed it or not depending on the session).
JOINS = ("q5_local_supplier_volume", "q7_volume_shipping", "q8_market_share")


def _build(spark, sf_dir, name):
    _ensure_loaded()
    return CATALOG[name].fn(spark, sf_dir)


def test_plan_building_captures_no_call_sites(spark, sf_dir, monkeypatch):
    """Every Column/functions call is wrapped to record its Python call
    site, about 10 py4j round trips each; the session switches that off.
    PySpark caches the setting per process, so the cache is cleared and
    read from this session's conf."""
    calls = []
    real = error_utils._capture_call_site
    monkeypatch.setattr(error_utils, "_enable_debugging_cache", None)
    monkeypatch.setattr(
        error_utils, "_capture_call_site", lambda depth: calls.append(depth) or real(depth)
    )
    for name in DASHBOARD:
        _build(spark, sf_dir, name)
    assert calls == []


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, sf_dir):
    for name in DASHBOARD + JOINS:
        _build(spark, sf_dir, name).write.format("noop").mode("overwrite").save()


def test_warm_passes_compile_nothing(spark, sf_dir):
    """Spark's default generated-class cache (100 entries in 4 LRU
    segments of 25) evicts classes a repeated pass needs again: on the
    dashboard's 89 classes each benchmark pass recompiled 22–53. The
    session's cache holds them all, so a warm pass compiles nothing."""
    _run_pass(spark, sf_dir)
    before = _compilations(spark)
    _run_pass(spark, sf_dir)
    assert _compilations(spark) - before == 0
