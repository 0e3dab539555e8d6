"""Aggregate trace analytics over the canonical span table.

Operators the reference does not have but a trace backend exposes
(Jaeger's own UI derives both server-side); here they are plain
Catalyst compositions over the span table — no kernels:

- :func:`service_dependencies` — the service call graph: one edge per
  (caller service → callee service) with call counts and error counts,
  from the child⋈parent self-join. This is the span-table generalization
  of the reference's parent label lookup (``traceframe.py:702-703``,
  SURVEY §2.B25) from one trace to the whole corpus.
- :func:`operation_stats` — per (service, operation) latency/error
  profile: counts, error rate, exact p50/p95/p99 duration. The
  ``approx`` flag switches to ``approx_percentile`` (t-digest) — at
  100 TB exact per-group percentiles buffer every duration value per
  group; approx is one pass, mergeable, and bounded-memory.

Scale: both are single-shuffle plans. The self-join keys on
(traceID, spanID-side) so it co-locates with the bucketed span store
(sinks.write_spans_bucketed) and plans Exchange-free on it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def service_dependencies(spans: DataFrame) -> DataFrame:
    """Service call-graph edges: (parent_service, child_service,
    n_calls, n_error_calls), from spans whose parent span belongs to a
    different service. Same-service parent/child hops are internal frames
    and excluded, matching how trace UIs draw the graph.

    The join condition includes traceID: span IDs are only unique within
    a trace, and the added key makes the join co-locatable by trace.
    """
    child = spans.select(
        F.col("traceID").alias("c_tid"),
        F.col("parent").alias("c_parent"),
        F.col("service").alias("child_service"),
        F.col("tags").alias("c_tags"),
    ).filter(F.col("c_parent") != "")
    parent = spans.select(
        F.col("traceID").alias("p_tid"),
        F.col("spanID").alias("p_sid"),
        F.col("service").alias("parent_service"),
    )
    edges = child.join(
        parent,
        (F.col("c_tid") == F.col("p_tid")) & (F.col("c_parent") == F.col("p_sid")),
    ).filter(F.col("parent_service") != F.col("child_service"))
    is_err = F.when(F.map_contains_key(F.col("c_tags"), "error"), 1).otherwise(0)
    return (
        edges.groupBy("parent_service", "child_service")
        .agg(
            F.count("*").alias("n_calls"),
            F.sum(is_err).alias("n_error_calls"),
        )
    )


def critical_path_breakdown(spans: DataFrame, by: str = "service") -> DataFrame:
    """Corpus-level "where does the wall-clock go": run the critical-path
    kernel over every trace and aggregate segment time by ``by``
    (service or operationName; any of the kernel's span columns).
    ``share`` is each group's fraction of total critical time — the
    prioritized optimization list that per-trace Gantt views (reference
    ``showSingleTrace``) can't give.

    The kernel folds its segments per partition
    (:func:`~traceframe_spark.operators.critical_path.critical_time_partials`),
    so only per-key totals leave the Python workers. Those few rows go
    to ONE partition, where the sum by ``by``, the ``sum(crit_us)``
    window behind ``share`` and the sort all run without another
    exchange: no broadcast of the total, no range-sort sampling job.
    """
    from pyspark.sql import Window

    from traceframe_spark.operators.critical_path import critical_time_partials

    per_group = (
        critical_time_partials(spans, by)
        .repartition(1)
        .groupBy(by)
        .agg(
            F.sum("crit_us").alias("crit_us"),
            # a sum of counts is never null here (every group has a
            # partial row); coalesce keeps the column non-nullable, as
            # count(*) over the segments was
            F.coalesce(F.sum("n_segments"), F.lit(0)).alias("n_segments"),
        )
    )
    total = F.sum("crit_us").over(Window.partitionBy())
    return (
        # try_divide: an all-zero-duration corpus has total 0, and under
        # ANSI a plain division would abort the job (share is null then)
        per_group.withColumn("share", F.try_divide(F.col("crit_us"), total))
        .orderBy(F.col("crit_us").desc())
    )


def operation_stats(spans: DataFrame, approx: bool = False) -> DataFrame:
    """Latency/error profile per (service, operationName): span count,
    error count, error rate, p50/p95/p99 duration (µs).

    ``approx=True`` uses ``approx_percentile`` (mergeable sketch, the
    100 TB path); exact percentiles are the small-data / oracle path.
    """
    pct = "approx_percentile" if approx else "percentile"
    is_err = F.when(F.map_contains_key(F.col("tags"), "error"), 1).otherwise(0)
    return (
        spans.groupBy("service", "operationName")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(is_err).alias("n_errors"),
            F.expr(f"{pct}(duration, 0.5)").alias("p50_us"),
            F.expr(f"{pct}(duration, 0.95)").alias("p95_us"),
            F.expr(f"{pct}(duration, 0.99)").alias("p99_us"),
        )
        .withColumn(
            "error_rate",
            F.col("n_errors").cast("double") / F.col("n_spans").cast("double"),
        )
    )
