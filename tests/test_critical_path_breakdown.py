"""critical_path_breakdown against the segment formula it folds:
``critical_path_segments(spans).groupBy(by)`` with exact sums and counts,
and ``share = crit_us / total``. Fixture-free: the corpus is the
synthetic span table from ``conftest.py``."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StringType, StructField, StructType

from traceframe_spark.operators.analytics import critical_path_breakdown
from traceframe_spark.operators.critical_path import critical_path_segments


def _expected(spans, by):
    rows = (
        critical_path_segments(spans)
        .groupBy(by)
        .agg(F.sum("seg_duration").alias("crit_us"), F.count("*").alias("n"))
        .collect()
    )
    total = sum(r["crit_us"] for r in rows)
    return {
        r[by]: (r["crit_us"], r["n"], r["crit_us"] / total if total else None)
        for r in rows
    }


def _got(spans, by):
    rows = critical_path_breakdown(spans, by=by).collect()
    crit = [r["crit_us"] for r in rows]
    assert crit == sorted(crit, reverse=True)  # ordered by contribution
    got = {r[by]: (r["crit_us"], r["n_segments"], r["share"]) for r in rows}
    assert len(got) == len(rows)
    return got


def _schema(by):
    return StructType(
        [
            StructField(by, StringType()),
            StructField("crit_us", LongType()),
            StructField("n_segments", LongType(), nullable=False),
            StructField("share", DoubleType()),
        ]
    )


def test_corpus_has_the_hard_shapes(synthetic_spans):
    """The shapes the breakdown must fold exactly are all present."""
    p = synthetic_spans.alias("p")
    c = synthetic_spans.alias("c")
    joined = c.join(
        p,
        (F.col("c.traceID") == F.col("p.traceID")) & (F.col("c.parent") == F.col("p.spanID")),
        "left",
    )
    r = joined.agg(
        F.sum(F.when(F.col("c.duration") == 0, 1).otherwise(0)).alias("zero"),
        F.sum(F.when(F.col("c.service").isNull(), 1).otherwise(0)).alias("null_svc"),
        F.sum(F.when((F.col("c.parent") != "") & F.col("p.spanID").isNull(), 1).otherwise(0)).alias("orphan"),
        F.sum(
            F.when(
                F.col("c.startTime") + F.col("c.duration") > F.col("p.startTime") + F.col("p.duration"), 1
            ).otherwise(0)
        ).alias("outlive"),
    ).first()
    roots = synthetic_spans.filter(F.col("parent") == "").groupBy("traceID").count()
    assert min(r) > 0, r
    assert roots.filter(F.col("count") > 1).count() > 0


@pytest.mark.parametrize("by", ["service", "operationName"])
def test_breakdown_equals_segment_formula(spark, synthetic_spans, by):
    want = _expected(synthetic_spans, by)
    assert None in want  # null keys form their own group
    assert _got(synthetic_spans, by) == want
    assert critical_path_breakdown(synthetic_spans, by=by).schema == _schema(by)


def test_breakdown_with_traces_split_across_arrow_batches(spark, synthetic_spans):
    want = _expected(synthetic_spans, "service")
    segs = sorted(map(tuple, critical_path_segments(synthetic_spans).collect()))
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        assert _got(synthetic_spans, "service") == want
        assert sorted(map(tuple, critical_path_segments(synthetic_spans).collect())) == segs
    finally:
        spark.conf.set(key, old)


def test_breakdown_empty_input(spark, synthetic_spans):
    empty = synthetic_spans.limit(0)
    out = critical_path_breakdown(empty)
    assert out.schema == _schema("service")
    assert out.collect() == []


def test_breakdown_all_zero_durations_has_null_share(spark, synthetic_spans):
    # instant spans at one instant: no critical time at all (instants at
    # different times would still hand the gaps between them to a parent)
    zero = synthetic_spans.withColumn("duration", F.lit(0).cast("long")).withColumn(
        "startTime", F.lit(1_700_000_000_000_000)
    )
    want = _expected(zero, "service")
    got = _got(zero, "service")
    assert got == want
    assert all(crit == 0 and share is None for crit, _, share in got.values())


def test_breakdown_job_count(spark, synthetic_spans):
    sc = spark.sparkContext
    group = "test_breakdown_job_count"
    sc.setJobGroup(group, "critical_path_breakdown")
    try:
        critical_path_breakdown(synthetic_spans).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


@pytest.mark.parametrize("by", ["tags", "seg_duration", "nope"])
def test_breakdown_rejects_other_keys(synthetic_spans, by):
    with pytest.raises(ValueError, match="service.*operationName|operationName.*service"):
        critical_path_breakdown(synthetic_spans, by=by)
