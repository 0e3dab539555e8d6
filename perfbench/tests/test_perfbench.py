"""The benchmark's own tests: pure Python, no Spark session.

Run: python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

SHAPE = gen.TraceShape(traces_per_day=40, big_traces_per_day=2, big_trace_spans=(60, 90))


def _read_tree(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            with open(os.path.join(d, f), "rb") as fh:
                out[os.path.relpath(os.path.join(d, f), root)] = fh.read()
    return out


# ---------------------------------------------------------------------------
# the generator
# ---------------------------------------------------------------------------


def test_trace_generator_same_seed_same_bytes(tmp_path):
    a = gen.write_trace_days(7, range(0, 2), SHAPE, str(tmp_path / "a"))
    b = gen.write_trace_days(7, range(0, 2), SHAPE, str(tmp_path / "b"))
    assert _read_tree(str(tmp_path / "a")) == _read_tree(str(tmp_path / "b"))
    assert a == b
    gen.write_trace_days(8, range(0, 2), SHAPE, str(tmp_path / "c"))
    assert _read_tree(str(tmp_path / "a")) != _read_tree(str(tmp_path / "c"))


def test_curation_generator_same_seed_same_bytes(tmp_path):
    sizes = {"n_docs": 120, "n_vecs": 40}
    gen.write_curation_tables(3, str(tmp_path / "a"), **sizes)
    gen.write_curation_tables(3, str(tmp_path / "b"), **sizes)
    gen.write_curation_tables(4, str(tmp_path / "c"), **sizes)
    assert _read_tree(str(tmp_path / "a")) == _read_tree(str(tmp_path / "b"))
    assert _read_tree(str(tmp_path / "a")) != _read_tree(str(tmp_path / "c"))


def test_trace_documents_match_the_raw_schema():
    text, truth = gen.trace_day(1, 3, SHAPE)
    docs = [json.loads(line) for line in text.splitlines()]
    assert len(docs) == len(truth) == SHAPE.traces_per_day
    day_lo = gen.EPOCH_DAY0_US + 3 * gen.DAY_US
    kinds = set()
    for doc, t in zip(docs, truth):
        assert set(doc) == {"traceID", "spans", "processes", "warnings"}
        assert doc["traceID"] == t.trace_id and len(doc["spans"]) == len(t.spans)
        roots = [s for s in doc["spans"] if not s["references"]]
        assert len(roots) == 1 and day_lo <= roots[0]["startTime"] < day_lo + gen.DAY_US
        for s in doc["spans"]:
            assert s["processID"] in doc["processes"]
            assert all(r["refType"] == "CHILD_OF" for r in s["references"])
            kinds.update(tag["type"] for tag in s["tags"])
    assert kinds == {"string", "int64", "bool"}


def test_trace_generator_varies_the_cost_drivers():
    _, truth = gen.trace_day(2, 0, gen.TraceShape(traces_per_day=600, big_traces_per_day=3))
    sizes = [len(t.spans) for t in truth]
    assert min(sizes) >= 5 and sum(n >= 800 for n in sizes) == 3
    outlive = errors = 0
    for t in truth:
        by_id = {s.span_id: s for s in t.spans}
        for s in t.spans:
            p = by_id.get(s.parent)
            if p is not None:
                # children start strictly inside their parent's lifetime
                assert p.start < s.start < p.start + p.duration
                outlive += s.start + s.duration > p.start + p.duration
            errors += "error" in s.tags
    assert outlive > 0 and errors > 0
    services = {}
    for t in truth:
        for s in t.spans:
            services[s.service] = services.get(s.service, 0) + 1
    assert services["svc-00"] > 4 * services["svc-15"]  # Zipf-skewed


# ---------------------------------------------------------------------------
# the output checks accept the truth and reject a wrong answer
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def truth():
    _, t = gen.trace_day(5, 0, SHAPE)
    return t


def _search_rows(expected):
    keys = ["traceID", "root_service", "root_operation", "start_us", "duration_us", "n_spans"]
    return [dict(zip(keys, r)) for r in expected]


def test_search_check(truth):
    req = {"service": "svc-00", "limit": 10}
    expected = checks.search_truth(truth, req)
    assert len(expected) == 10
    assert [r[3] for r in expected] == sorted((r[3] for r in expected), reverse=True)
    rows = _search_rows(expected)
    assert checks.check_search(rows, expected) is None
    assert checks.check_search(rows[:-1], expected) is not None
    wrong = copy.deepcopy(rows)
    wrong[0]["n_spans"] += 1
    assert checks.check_search(wrong, expected) is not None


def test_search_truth_applies_duration_to_the_root(truth):
    t = truth[0]
    r = t.root()
    req = {"min_duration_us": r.duration, "max_duration_us": r.duration, "limit": 100}
    assert t.trace_id in {x[0] for x in checks.search_truth(truth, req)}
    req = {"min_duration_us": r.duration + 1, "max_duration_us": r.duration + 1, "limit": 100}
    assert t.trace_id not in {x[0] for x in checks.search_truth(truth, req)}


def _fetch_result(t):
    return {
        "traceID": t.trace_id,
        "spans": [
            {"traceID": t.trace_id, "spanID": s.span_id, "service": s.service,
             "operationName": s.operation, "startTime": s.start, "duration": s.duration,
             "parent": s.parent, "tags": dict(s.tags)}
            for s in t.spans
        ],
    }


def test_fetch_check(truth):
    t = truth[1]
    assert checks.check_fetch(_fetch_result(t), t) is None
    short = _fetch_result(t)
    short["spans"].pop()
    assert checks.check_fetch(short, t) is not None
    retagged = _fetch_result(t)
    retagged["spans"][0]["tags"]["region"] = "nowhere"
    assert checks.check_fetch(retagged, t) is not None


def test_analytics_checks(truth):
    a = checks.analytics_truth(truth)
    deps = [{"parent_service": p, "child_service": c, "n_calls": n, "n_error_calls": e}
            for (p, c), (n, e) in a["edges"].items()]
    assert checks.check_dependencies(deps, a) is None
    deps[0] = dict(deps[0], n_calls=deps[0]["n_calls"] + 1)
    assert checks.check_dependencies(deps, a) is not None

    ops = [{"service": s, "operationName": o, "n_spans": n, "n_errors": e,
            "p50_us": p50, "p95_us": p95, "p99_us": p99, "error_rate": e / n}
           for (s, o), (n, e, p50, p95, p99) in a["ops"].items()]
    assert checks.check_operation_stats(ops, a) is None
    bad = copy.deepcopy(ops)
    bad[0]["p95_us"] += 0.5
    assert checks.check_operation_stats(bad, a) is not None
    assert checks.check_operation_stats(ops[1:], a) is not None

    total = a["crit_total_us"]
    crit = [{"service": "svc-00", "crit_us": total - 10, "n_segments": 5, "share": (total - 10) / total},
            {"service": "svc-01", "crit_us": 10, "n_segments": 1, "share": 10 / total}]
    assert checks.check_critical_path(crit, a) is None
    crit[1] = dict(crit[1], crit_us=11)
    assert checks.check_critical_path(crit, a) is not None


def test_digest_check():
    import pandas as pd

    def canon(df):
        return sorted(map(tuple, df[sorted(df.columns)].itertuples(index=False, name=None)))

    df = pd.DataFrame({"a": [1, 2], "b": ["x", "y"]})
    want = checks.frame_digest(df, canon)
    assert checks.check_digest("row", checks.frame_digest(df.iloc[::-1], canon), want) is None
    assert checks.check_digest("row", checks.frame_digest(df.assign(a=[1, 3]), canon), want)
    # same values, another dtype: the oracle comparison is type-strict
    assert checks.check_digest("row", checks.frame_digest(df.astype({"a": "float64"}), canon), want)


# ---------------------------------------------------------------------------
# names
# ---------------------------------------------------------------------------

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def test_metric_names_and_benchmark_file_agree():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    names = e2e + layer + [w["name"] for w in spec["workloads"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    assert e2e == list(run.END_TO_END) and layer == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.UNITS[m["name"]]
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
