"""Critical-path extraction over span trees.

The algorithm is the single-timeline sweep described in *Distributed
Tracing in Practice* (Austin Parker et al., O'Reilly 2020, p.160), the
same one the reference implements eagerly for one trace at a time
(``/root/reference/traceframe/traceframe.py:555-617``; golden behavior
pinned by ``test/test_traceframe.py:8-81,104-109``).

Semantics: walk Call/Return events in time order, tracking which span
currently "leads" (owns the wall-clock). Time intervals are attributed to
exactly one span each, so the emitted segments partition the root span's
duration into the chain of spans that were actually blocking progress —
the critical path.

Execution model: the sweep is inherently sequential *per trace* but
embarrassingly parallel *across traces*. The operator hash-partitions by
traceID, sorts each partition by traceID, and streams Arrow batches
through ``mapInPandas`` with a group-break on traceID change (traces are
contiguous after the sort, so only the tail trace is buffered across
batch boundaries; :func:`_trace_runs` is that loop). Two kernels consume
the same trace runs and the same sweep: :func:`critical_path_segments`
emits every segment, and :func:`critical_time_partials` folds them into
per-key totals inside the worker, so a corpus breakdown ships a few rows
per partition back from Python instead of one row per segment, and
reads only the columns the sweep needs plus its key. This is
deliberately NOT ``groupBy().applyInPandas``: that pays per-group
pandas-frame overhead, which at millions of ~5-span traces dominates
runtime (measured 80 s → 3 s at sf0.1 for this switch).
At 100 TB this scales linearly with executor count; traceID is a
high-cardinality hash-friendly key so skew is bounded by the largest
single trace, not by data volume.

Async-child attribution (the reference's own open TODO —
``traceframe.py:205``, children outliving parents): this engine pins the
rule rather than leaving it undefined. (1) A child Returning AFTER its
parent keeps the lead: the parent's Return splits the child's segment
and the overhang past the parent's end is attributed to the child, so
the critical path always extends to the trace's LAST Return. (2) Among
concurrent siblings, leadership belongs to the oldest still-live child
in Call order; a younger sibling's Return only splits the leader's
segment and earns no time of its own. (3) A zero-duration child at its
parent's Return instant resolves first (event orders (-2, -1) below),
emitting zero-length blips without changing the duration partition.
All three are pinned by exact-value fixtures in
``tests/test_critical_path_properties.py``.

Determinism (SURVEY.md §7.1): the reference sorts events only by timestamp
and relies on Python's stable sort + input order for ties. After a Spark
shuffle input order is gone, so events sort by the total key
``(time, is_return_first, spanID)`` — at equal timestamps Returns precede
Calls (a parent is released before a sibling starts) and spanID breaks the
remaining ties. Byte-identical to the reference on tie-free data (the
golden fixture has no equal timestamps).
"""

from __future__ import annotations

from functools import partial
from typing import Any

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from traceframe_spark.schemas import CRITSEG_SCHEMA

# Span columns the sweep reads, in a kernel row's positional order;
# traceID only groups rows into traces.
_SWEEP_COLS = ["traceID", "spanID", "startTime", "duration", "parent"]
_TID, _SID, _START, _DUR, _PARENT = range(5)
# ...plus the span columns each output segment carries; extra input
# columns are ignored.
_KERNEL_COLS = _SWEEP_COLS + ["operationName", "processID", "service"]
_OP, _PID, _SVC = range(5, 8)


def _sweep_rows(rows: list[tuple]) -> list[tuple[int, int, tuple]]:
    """Sweep one trace given positional-tuple rows (``_SWEEP_COLS``
    first, any further columns after them); return ordered
    ``(seg_start, seg_duration, row)``.

    The hot kernel: tuples + integer indices instead of per-span dicts —
    at millions of spans the dict construction and string-key hashing
    were the measurable overhead, not the sweep itself.
    """
    span_by_id: dict[str, tuple] = {}
    # event: (time, order, spanID, is_call, row). order 0 = Return,
    # 1 = Call, so simultaneous cross-span Return/Call pairs release the
    # parent first. EXCEPT zero-duration spans: both their events share
    # one timestamp, and Return-before-own-Call would remove an
    # in_flight entry that was never added (KeyError). Their pair gets
    # orders (-2, -1): the Call still precedes its own Return, and the
    # blip resolves before the normal Return/Call traffic at that
    # instant.
    events: list[tuple[int, int, str, bool, tuple]] = []
    for s in rows:
        sid = s[_SID]
        span_by_id[sid] = s
        start = s[_START]
        dur = s[_DUR]
        if dur == 0:
            events.append((start, -2, sid, True, s))
            events.append((start, -1, sid, False, s))
        else:
            events.append((start, 1, sid, True, s))
            events.append((start + dur, 0, sid, False, s))
    events.sort(key=lambda e: (e[0], e[1], e[2]))

    # in_flight[spanID] = ordered child spanIDs that have Called but not
    # yet Returned; key "" collects roots.
    in_flight: dict[str, list[str]] = {}
    segments: list[tuple[int, int, tuple]] = []
    stack: list[tuple] = []

    # The earliest event's span leads first; clock starts at its start.
    leader = events[0][4]
    clock = leader[_START]

    for when, _order, _, is_call, span in events:
        parent = span[_PARENT]
        if is_call:  # Call
            if leader[_SID] == parent and not in_flight.get(parent):
                # The leader was idle and now hands off to this child:
                # close the open interval, attributed to the parent.
                if parent:
                    segments.append((clock, when - clock, span_by_id[parent]))
                    stack.append(leader)
                    leader = span
                clock = when
            in_flight.setdefault(parent, []).append(span[_SID])
        else:  # Return
            in_flight[parent].remove(span[_SID])
            if not in_flight.get(leader[_SID]):
                # The leader just became unblocked-or-done: the interval
                # since `clock` belonged to it.
                segments.append((clock, when - clock, leader))
                clock = when
                # Unwind ancestors that are also done waiting...
                while not in_flight.get(leader[_SID]) and stack:
                    leader = stack.pop()
                # ...or descend into the leader's oldest live child.
                live = in_flight.get(leader[_SID])
                if live:
                    stack.append(leader)
                    child = span_by_id.get(live[0])
                    if child is not None:
                        leader = child
    return segments


def critical_segments_of_trace(spans: list[dict[str, Any]]) -> list[tuple[int, int, dict[str, Any]]]:
    """Sweep one trace's spans; return ordered ``(seg_start, seg_duration, span)``.

    Dict-based public API over the tuple kernel (:func:`_sweep_rows` is
    the single implementation — no logic drift between the per-trace and
    streaming paths), also usable directly on collected rows (parity
    with reference ``get_critical_segments``). Raises on empty input
    like the reference (``traceframe.py:560-561``).
    """
    if not spans:
        raise ValueError("critical path of an empty span set is undefined")
    by_sid = {s["spanID"]: s for s in spans}
    rows = [tuple(s.get(c) for c in _KERNEL_COLS) for s in spans]
    return [
        (start, dur, by_sid[row[_SID]]) for start, dur, row in _sweep_rows(rows)
    ]


class _SegBuffer:
    """Columnar accumulator for output segments, flushed every ~10k rows."""

    def __init__(self) -> None:
        self.cols: dict[str, list] = {f.name: [] for f in CRITSEG_SCHEMA.fields}

    def add_trace(self, segs: list[tuple[int, int, tuple]]) -> None:
        c = self.cols
        for i, (start, dur, s) in enumerate(segs):
            c["traceID"].append(s[_TID])
            c["seg_index"].append(i)
            c["seg_start"].append(start)
            c["seg_duration"].append(dur)
            c["spanID"].append(s[_SID])
            c["operationName"].append(s[_OP])
            c["span_start"].append(s[_START])
            c["span_duration"].append(s[_DUR])
            c["processID"].append(s[_PID])
            c["parent"].append(s[_PARENT])
            c["service"].append(s[_SVC])

    def flush(self) -> pd.DataFrame:
        out = pd.DataFrame(self.cols)
        self.cols = {f.name: [] for f in CRITSEG_SCHEMA.fields}
        return out

    def __len__(self) -> int:
        return len(self.cols["traceID"])


def _trace_runs(batches, cols: list[str]):
    """Yield each trace of ONE partition as a list of positional-tuple
    rows (``cols`` order, traceID first). Rows arrive sorted by traceID,
    so each trace is a contiguous run that may span Arrow batches; only
    the open trace is held across a batch boundary. ``.tolist()``
    converts the Arrow columns to native Python values once per batch —
    no per-row dict, no numpy-scalar arithmetic inside the sweep."""
    open_tid: str | None = None
    open_rows: list[tuple] = []
    for pdf in batches:
        for row in zip(*[pdf[c].tolist() for c in cols]):
            tid = row[_TID]
            if tid != open_tid:
                if open_rows:
                    yield open_rows
                open_tid, open_rows = tid, []
            open_rows.append(row)
    if open_rows:
        yield open_rows


def _sweep_stream(batches):
    """mapInPandas kernel over ONE partition: every trace's segments,
    flushed as ~10k-row frames."""
    buf = _SegBuffer()
    for rows in _trace_runs(batches, _KERNEL_COLS):
        buf.add_trace(_sweep_rows(rows))
        if len(buf) >= 10_000:
            yield buf.flush()
    if len(buf):
        yield buf.flush()


def _fold_stream(batches, cols: list[str], key: int):
    """mapInPandas kernel over ONE partition: sweep every trace and fold
    its segments into ``(key, crit_us, n_segments)`` totals, one row per
    key value of ``row[key]`` seen in the partition."""
    totals: dict = {}
    for rows in _trace_runs(batches, cols):
        for _start, dur, row in _sweep_rows(rows):
            t = totals.get(row[key])
            if t is None:
                totals[row[key]] = [dur, 1]
            else:
                t[0] += dur
                t[1] += 1
    if totals:
        yield pd.DataFrame(
            {
                cols[key]: list(totals),
                "crit_us": [t[0] for t in totals.values()],
                "n_segments": [t[1] for t in totals.values()],
            }
        )


def _by_trace(
    spans: DataFrame,
    cols: list[str],
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """The kernel input: ``cols`` of ``spans``, each traceID in one
    partition, sorted so each trace is a contiguous run."""
    missing = set(cols) - set(spans.columns)
    if missing:
        raise ValueError(f"span table missing kernel columns: {sorted(missing)}")
    narrowed = spans.select(*cols)
    if pre_partitioned:
        pass
    elif num_partitions:
        narrowed = narrowed.repartition(num_partitions, "traceID")
    else:
        narrowed = narrowed.repartition("traceID")
    return narrowed.sortWithinPartitions("traceID", "startTime", "spanID")


def critical_path_segments(
    spans: DataFrame,
    num_partitions: int | None = None,
    pre_partitioned: bool = False,
) -> DataFrame:
    """Critical path for EVERY trace in a span table, in one distributed pass.

    Input: canonical span table (SPAN_SCHEMA; extra columns tolerated).
    Output: CRITSEG_SCHEMA rows, ``seg_index`` giving the in-trace order.

    The batch shape the reference only reaches in its test
    (``test_traceframe.py:146-155``: pandas groupby → per-group kernel)
    is here the operator itself. One hash shuffle on traceID, a partition-
    local sort for contiguity, then a streaming sweep per Arrow batch.

    ``pre_partitioned=True`` skips the shuffle entirely: pass it when the
    input's partitioning already co-locates each traceID (a bucketed
    store written by ``sinks.write_spans_bucketed``, or a reused upstream
    repartition) — the kernel then runs shuffle-free, only the
    partition-local sort remains. The caller owns the invariant; spans of
    a trace split across partitions would each sweep as a partial trace.
    """
    return _by_trace(spans, _KERNEL_COLS, num_partitions, pre_partitioned).mapInPandas(
        _sweep_stream, schema=CRITSEG_SCHEMA
    )


def critical_time_partials(spans: DataFrame, by: str) -> DataFrame:
    """Critical time per ``by`` value, folded inside the kernel: one
    ``(by, crit_us, n_segments)`` row per key and partition, so summing
    them by ``by`` gives ``critical_path_segments(spans).groupBy(by)``'s
    ``sum(seg_duration)`` and ``count(*)`` exactly. ``by`` is one of the
    kernel's span columns (``_KERNEL_COLS``); the kernel reads only the
    columns the sweep needs plus ``by``, and no segment row crosses the
    Python boundary.
    """
    if by not in _KERNEL_COLS:
        raise ValueError(f"by must be one of {_KERNEL_COLS}, got {by!r}")
    cols = _SWEEP_COLS + ([] if by in _SWEEP_COLS else [by])
    narrowed = _by_trace(spans, cols)
    schema = StructType(
        [
            StructField(by, narrowed.schema[by].dataType),
            StructField("crit_us", LongType()),
            StructField("n_segments", LongType(), nullable=False),
        ]
    )
    return narrowed.mapInPandas(
        partial(_fold_stream, cols=cols, key=cols.index(by)), schema=schema
    )
