from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from traceframe_spark.session import get_spark  # noqa: E402

# Reference test fixture (read-only); tests that need it skip when absent.
JAEGER_JSON = "/root/reference/test/jaeger.json"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "volume: multi-run cadence/stress tours (randomized crash replay, "
        "compaction cadence over many micro-batches, randomized graph "
        "sweeps). Each pins a property that a faster deterministic sibling "
        "in the default tier also covers; the tour adds volume, not new "
        "semantics. Skipped unless TF_VOLUME_TESTS=1 so the default gate "
        "fits a CI window — run the full suite with "
        "`TF_VOLUME_TESTS=1 python -m pytest tests/`.",
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get("TF_VOLUME_TESTS"):
        return
    skip = pytest.mark.skip(reason="volume tier: set TF_VOLUME_TESTS=1 to run")
    for item in items:
        if "volume" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark(app_name="traceframe-spark-tests", shuffle_partitions=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def jaeger_json_path():
    if not os.path.exists(JAEGER_JSON):
        pytest.skip("reference jaeger.json fixture not available")
    return JAEGER_JSON


def synthetic_span_rows(n_traces: int, seed: int = 0) -> list[tuple]:
    """SPAN_SCHEMA rows of ``n_traces`` random traces with the shapes a
    real store holds: nested calls, children that outlive their parent,
    zero-duration spans, orphans (a parent that is not in the trace),
    two-root traces, null services and operations, and error/region
    tags. Deterministic in ``seed``."""
    import random

    rnd = random.Random(seed)
    services = ["frontend", "cart", "checkout", "search", "ads", "payment"]
    base = 1_700_000_000_000_000
    rows = []
    for t in range(n_traces):
        tid = f"{rnd.getrandbits(64):016x}"
        start = base + t * 1_000_000
        spans = [("r0", "", start, rnd.randint(1_000, 50_000))]
        for i in range(1, rnd.randint(1, 12)):
            _, _, pstart, pdur = spans[rnd.randrange(len(spans))]
            kind = rnd.random()
            cstart = pstart + rnd.randint(0, pdur)
            if kind < 0.1:
                cdur = 0
            elif kind < 0.2:
                cdur = pdur + rnd.randint(1, 5_000)  # outlives its parent
            else:
                cdur = rnd.randint(0, pstart + pdur - cstart)
            parent = rnd.choice([s[0] for s in spans])
            if kind > 0.95:
                parent = "ghost"  # orphan
            elif kind > 0.9:
                parent = ""  # a second root
            spans.append((f"s{i}", parent, cstart, cdur))
        for sid, parent, st, dur in spans:
            svc = rnd.choice(services + [None])
            op = None if svc is None else f"/{svc}/{rnd.choice(['get', 'put', 'list'])}"
            tags = {"region": rnd.choice(["eu", "us"])}
            if rnd.random() < 0.1:
                tags["error"] = "true"
            rows.append((tid, sid, 1, op, st, dur, [], "p1", None, svc, parent, tags))
    return rows


@pytest.fixture(scope="session")
def synthetic_spans(spark):
    """A 300-trace span table from :func:`synthetic_span_rows`."""
    from traceframe_spark.schemas import SPAN_SCHEMA

    return spark.createDataFrame(synthetic_span_rows(300), SPAN_SCHEMA)
