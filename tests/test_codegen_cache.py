"""Repeated queries reuse their generated classes.

Spark caches the classes it compiles for whole-stage codegen by source
text. At Spark's default of 100 entries, one round of the trace analyses
and the search mix generates more classes than fit, so an identical
second round evicts and recompiles them cyclically. ``get_spark`` sizes
the cache for the engine's working set; this pins that a repeated round
compiles nothing.
"""

from __future__ import annotations

from traceframe_spark.operators.analytics import (
    critical_path_breakdown,
    operation_stats,
    service_dependencies,
)
from traceframe_spark.operators.search import search_traces


def _round(spans) -> None:
    for by in ("service", "operationName"):
        critical_path_breakdown(spans, by=by).collect()
    service_dependencies(spans).collect()
    operation_stats(spans).collect()
    operation_stats(spans, approx=True).collect()
    for kw in (
        {"service": "cart"},
        {"service": "frontend", "operation": "/frontend/get"},
        {"tags": {"region": "eu"}},
        {"service": "checkout", "tags": {"error": "true"}},
        {"min_duration_us": 10_000, "max_duration_us": 40_000},
        {"tags": {"region": "us", "error": "true"}, "limit": 5},
    ):
        search_traces(spans, **kw).collect()


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_second_round_compiles_no_class(spark, synthetic_spans):
    _round(synthetic_spans)
    before = _compiles(spark)
    _round(synthetic_spans)
    assert _compiles(spark) - before == 0
