"""Output checks: pure-Python truth over the generated inputs, and the
comparisons the benchmark runs on every output outside the timed region.

Each ``check_*`` function returns ``None`` when the output is right and
a short reason string when it is not.
"""

from __future__ import annotations

import hashlib
import math
from collections import defaultdict

import numpy as np

from gen import TruthTrace

# ---------------------------------------------------------------------------
# search_traces / trace_with_spans
# ---------------------------------------------------------------------------


def search_truth(traces: list[TruthTrace], req: dict) -> list[tuple]:
    """The search operator's documented semantics, evaluated in Python:
    a trace matches when ANY span satisfies service, operation and tags
    together; duration bounds apply to the root span; newest first,
    then traceID; capped at ``limit``."""
    service, operation = req.get("service"), req.get("operation")
    tags = req.get("tags") or {}
    lo, hi = req.get("min_duration_us"), req.get("max_duration_us")
    rows = []
    for t in traces:
        if not any(
            (service is None or s.service == service)
            and (operation is None or s.operation == operation)
            and all(s.tags.get(k) == v for k, v in tags.items())
            for s in t.spans
        ):
            continue
        r = t.root()
        if (lo is not None and r.duration < lo) or (hi is not None and r.duration > hi):
            continue
        rows.append((t.trace_id, r.service, r.operation, r.start, r.duration, len(t.spans)))
    rows.sort(key=lambda x: (-x[3], x[0]))
    return rows[: req.get("limit", 20)]


def check_search(rows, expected: list[tuple]) -> str | None:
    got = [
        (r["traceID"], r["root_service"], r["root_operation"], r["start_us"],
         r["duration_us"], r["n_spans"])
        for r in rows
    ]
    if got != expected:
        return f"search: {len(got)} rows, expected {len(expected)}; first diff " + str(
            next(((g, e) for g, e in zip(got, expected) if g != e), None)
        )
    return None


def check_fetch(result: dict, truth: TruthTrace) -> str | None:
    if result.get("traceID") != truth.trace_id:
        return f"fetch: traceID {result.get('traceID')} != {truth.trace_id}"
    got = sorted(
        (d["traceID"], d["spanID"], d["service"], d["operationName"], d["startTime"],
         d["duration"], d["parent"], tuple(sorted((d["tags"] or {}).items())))
        for d in result["spans"]
    )
    want = sorted(
        (truth.trace_id, s.span_id, s.service, s.operation, s.start, s.duration,
         s.parent, tuple(sorted(s.tags.items())))
        for s in truth.spans
    )
    if got != want:
        return f"fetch {truth.trace_id}: {len(got)} spans, expected {len(want)}"
    return None


# ---------------------------------------------------------------------------
# analytics
# ---------------------------------------------------------------------------


def analytics_truth(traces: list[TruthTrace]) -> dict:
    """Service-graph edge counts, per-operation counts and exact
    percentiles, and the total critical time."""
    edges: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
    durs: dict[tuple, list[int]] = defaultdict(list)
    errs: dict[tuple, int] = defaultdict(int)
    crit_total = 0
    for t in traces:
        by_id = {s.span_id: s for s in t.spans}
        for s in t.spans:
            key = (s.service, s.operation)
            durs[key].append(s.duration)
            is_err = "error" in s.tags
            errs[key] += is_err
            p = by_id.get(s.parent) if s.parent else None
            if p is not None and p.service != s.service:
                e = edges[(p.service, s.service)]
                e[0] += 1
                e[1] += is_err
        # the kernel's partition rule: segments tile [root start, last Return]
        crit_total += max(s.start + s.duration for s in t.spans) - t.root().start
    ops = {}
    for key, d in durs.items():
        p50, p95, p99 = np.percentile(np.asarray(d, dtype=np.float64), [50, 95, 99])
        ops[key] = (len(d), errs[key], float(p50), float(p95), float(p99))
    return {
        "edges": {k: tuple(v) for k, v in edges.items()},
        "ops": ops,
        "crit_total_us": crit_total,
    }


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-6)


def check_dependencies(rows, truth: dict) -> str | None:
    got = {(r["parent_service"], r["child_service"]): (r["n_calls"], r["n_error_calls"]) for r in rows}
    if len(got) != len(rows):
        return "service_dependencies: duplicate edges"
    if got != truth["edges"]:
        diff = sorted(set(got.items()) ^ set(truth["edges"].items()))[:2]
        return f"service_dependencies: {len(got)} edges vs {len(truth['edges'])}; {diff}"
    return None


def check_operation_stats(rows, truth: dict) -> str | None:
    want = truth["ops"]
    if len(rows) != len(want):
        return f"operation_stats: {len(rows)} groups, expected {len(want)}"
    for r in rows:
        w = want.get((r["service"], r["operationName"]))
        if w is None:
            return f"operation_stats: unexpected group {r['service']}/{r['operationName']}"
        n, e, p50, p95, p99 = w
        if (r["n_spans"], r["n_errors"]) != (n, e):
            return f"operation_stats {r['service']}/{r['operationName']}: counts {(r['n_spans'], r['n_errors'])} != {(n, e)}"
        if not all(_close(a, b) for a, b in ((r["p50_us"], p50), (r["p95_us"], p95), (r["p99_us"], p99))):
            return f"operation_stats {r['service']}/{r['operationName']}: percentiles differ"
        if not _close(r["error_rate"], e / n):
            return f"operation_stats {r['service']}/{r['operationName']}: error_rate differs"
    return None


def check_critical_path(rows, truth: dict) -> str | None:
    total = sum(r["crit_us"] for r in rows)
    if total != truth["crit_total_us"]:
        return f"critical_path_breakdown: total {total} != {truth['crit_total_us']}"
    if any(r["n_segments"] <= 0 for r in rows):
        return "critical_path_breakdown: empty group"
    if total and abs(sum(r["share"] for r in rows) - 1.0) > 1e-9:
        return "critical_path_breakdown: shares do not sum to 1"
    return None


# ---------------------------------------------------------------------------
# registry rows against their DuckDB oracle
# ---------------------------------------------------------------------------


def frame_digest(pdf, canon) -> str:
    """Order-insensitive digest of a pandas frame: sorted column names,
    their dtypes, and the canonical value multiset (``canon`` is the
    oracle checker's canonicalisation)."""
    cols = sorted(pdf.columns)
    h = hashlib.sha256()
    h.update(repr([(c, str(pdf[c].dtype)) for c in cols]).encode())
    h.update(repr(canon(pdf)).encode())
    return h.hexdigest()


def check_digest(name: str, got: str, want: str) -> str | None:
    return None if got == want else f"{name}: result digest differs from the oracle"
