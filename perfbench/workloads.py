"""The workloads: set-up (inputs, stores, truth, warm-up) and the
measured region. Each drives the library's public API only."""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
from tracer import Tracer


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    counting: bool = False  # warm-up operations are not counted
    jvm_pid: int = 0
    unit_end: int = 0  # end of the first measured unit's spans (traced counts)

    def cpu(self) -> float:
        """CPU seconds used so far by this process and the JVM's process
        tree (task threads, JIT and GC threads, and the Python workers)."""
        return sum(os.times()[:2]) + tree_cpu_s(self.jvm_pid)

    def result(self, problem: str | None) -> None:
        if not self.counting:
            return
        self.attempted += 1
        if problem:
            self.failed += 1
            self.problems.append(problem)


def tree_cpu_s(root: int) -> float:
    """utime + stime of ``root`` and its live descendants, plus what
    their reaped children used."""
    stat: dict[int, int] = {}
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                text = f.read()
        except OSError:
            continue
        fields = text[text.rindex(")") + 2:].split()
        stat[int(p)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        kids.setdefault(int(fields[1]), []).append(int(p))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stat.get(pid, 0)
        todo.extend(kids.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def lazy_call(ctx: Ctx, layer: str, fn, *args, op: str = "", pandas: bool = False, **kw):
    """Call a DataFrame-returning function, force its physical plan,
    then collect it (as Rows, or as a pandas frame). Returns the frame,
    the collected result and the span."""
    idx = ctx.tracer.mark()
    c0 = ctx.cpu()
    with ctx.tracer.call(layer, op) as phase:
        with phase("construct"):
            df = fn(*args, **kw)
        with phase("plan"):
            df._jdf.queryExecution().executedPlan()
        with phase("execute"):
            rows = df.toPandas() if pandas else df.collect()
    ctx.tracer.spans[idx].cpu = ctx.cpu() - c0
    return df, rows, ctx.tracer.spans[idx]


def eager_call(ctx: Ctx, layer: str, fn, *args, op: str = "", **kw):
    """Call a function that runs its Spark jobs itself (a writer, a
    point fetch): the whole call is its construct phase."""
    idx = ctx.tracer.mark()
    c0 = ctx.cpu()
    with ctx.tracer.call(layer, op) as phase:
        with phase("construct"):
            out = fn(*args, **kw)
    ctx.tracer.spans[idx].cpu = ctx.cpu() - c0
    return out, ctx.tracer.spans[idx]


def timed_median(fn, n: int) -> float:
    times = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def du_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if not f.startswith((".", "_")))
    return total


def _median(values: list[float]) -> float:
    """Median, 0 when every sample failed (the run then reports failures)."""
    return statistics.median(values) if values else 0.0


# ---------------------------------------------------------------------------
# traces: ingest, interactive search and fetch, corpus analytics
# ---------------------------------------------------------------------------

# trace sizes: mostly 5-30 spans, and one 1000-span trace a day
STORE_SHAPE = gen.TraceShape(traces_per_day=250, big_traces_per_day=1, big_trace_spans=(1000, 1000))
STANDING_DAYS = range(0, 7)
INGEST_DAY = 7
INGEST_DATE = "2024-01-08"  # gen.EPOCH_DAY0_US + 7 days
MIN_ROUNDS = 2  # analytics + request-mix rounds per measured cycle
FETCH_SPANS = 12  # size of the trace each point fetch asks for


def _request_mix(seed: int, truth: list) -> list[dict]:
    """One cycle of the closed loop: selective and broad service/operation
    filters, tag equality (a map access, not pushed down), duration
    ranges, and point fetches of traces the preceding search returned."""
    rng = random.Random(f"requests:{seed}")
    head = gen.SERVICES[:3]  # the head of the Zipf mix
    s_op = rng.choice(head)
    lo = rng.randint(500_000, 2_000_000)
    mix = [
        {"service": rng.choice(gen.SERVICES[8:])},
        {"service": rng.choice(head)},
        {"tags": {"region": rng.choice(["eu-central", "ap-south"])}},
        {"fetch": True},
        {"service": s_op, "operation": rng.choice(gen.OPERATIONS[s_op][:2])},
        {"min_duration_us": lo, "max_duration_us": lo + 1_000_000},
        {"service": rng.choice(head), "tags": {"error": "true"}},
        {"fetch": True},
        {"tags": {"http.status_code": "404", "cache.hit": "true"}},
    ]
    by_id = {t.trace_id: t for t in truth}
    last: list[tuple] = []
    for req in mix:
        if req.get("fetch"):
            # the returned trace nearest the typical size, so the fetch
            # costs about the same on every seed
            req["trace"] = by_id[min(last, key=lambda r: (abs(r[5] - FETCH_SPANS), r[0]))[0]]
        else:
            req["limit"] = 20
            req["expected"] = checks.search_truth(truth, req)
            last = req["expected"] or last
    return mix


class Traces:
    name = "traces"
    builds = 1

    def prepare(self, ctx: Ctx) -> None:
        raw = os.path.join(ctx.work, "raw")
        standing = gen.write_trace_days(ctx.seed, STANDING_DAYS, STORE_SHAPE, raw + "/standing")
        ingest = gen.write_trace_days(ctx.seed, range(INGEST_DAY, INGEST_DAY + 1), STORE_SHAPE, raw + "/ingest")
        self.ingest_dir = raw + "/ingest"
        self.ingest_spans = sum(len(t.spans) for t in ingest)
        self.store_spans = sum(len(t.spans) for t in standing) + self.ingest_spans
        self.spans_path = os.path.join(ctx.work, "store", "spans")
        self.traces_path = os.path.join(ctx.work, "store", "traces")
        # every request and analysis runs while the ingested day is stored
        self.mix = _request_mix(ctx.seed, standing + ingest)
        self.truth = checks.analytics_truth(standing + ingest)

    def setup(self, ctx: Ctx) -> tuple[float, float]:
        raw = os.path.join(ctx.work, "raw")
        build = timed_median(lambda: self._write(ctx, raw + "/standing", "overwrite"), self.builds)
        # warm-up: one round over the standing store (its outputs are
        # not counted; the store build has already run the write path)
        t0 = time.perf_counter()
        self._round(ctx, *self._open_store(ctx), [], [], {"search": [], "fetch": []})
        return build, time.perf_counter() - t0

    def _write(self, ctx: Ctx, src: str, mode: str) -> None:
        from traceframe_spark.operators.spans import spans_table
        from traceframe_spark.operators.traces import traces_table
        from traceframe_spark.sinks import write_spans, write_traces
        from traceframe_spark.sources import read_raw_traces

        with ctx.tracer.call("sources.jaeger_file", "read_raw_traces") as phase:
            with phase("construct"):
                raw = read_raw_traces(ctx.spark, src, multiline=False)
        with ctx.tracer.call("operators.spans", "spans_table/traces_table") as phase:
            with phase("construct"):
                spans, traces = spans_table(raw), traces_table(raw)
        eager_call(ctx, "sinks.write_spans", write_spans, spans, self.spans_path, mode=mode)
        eager_call(ctx, "sinks.write_traces", write_traces, traces, self.traces_path, mode=mode)

    def _drop_ingested_day(self) -> None:
        for d in glob.glob(f"{self.spans_path}/span_date={INGEST_DATE}") + glob.glob(
            f"{self.traces_path}/trace_date={INGEST_DATE}"
        ):
            shutil.rmtree(d)

    def _analytics(self, ctx: Ctx, spans) -> list[tuple[float, float]]:
        from traceframe_spark.operators.analytics import (
            critical_path_breakdown,
            operation_stats,
            service_dependencies,
        )

        times = []
        for layer, fn, kw, check in (
            ("operators.critical_path", critical_path_breakdown, {"by": "service"},
             checks.check_critical_path),
            ("operators.analytics.service_dependencies", service_dependencies, {},
             checks.check_dependencies),
            ("operators.analytics.operation_stats", operation_stats, {},
             checks.check_operation_stats),
        ):
            try:
                _, rows, s = lazy_call(ctx, layer, fn, spans, op=fn.__name__, **kw)
                times.append((s.dur, s.cpu))
                ctx.result(check(rows, self.truth))
            except Exception as exc:  # noqa: BLE001 — a failed call is counted
                ctx.result(f"{fn.__name__}: {type(exc).__name__}: {exc}"[:300])
        return times

    def _request(self, ctx: Ctx, req: dict, spans, traces) -> tuple:
        from traceframe_spark.operators.assemble import trace_with_spans
        from traceframe_spark.operators.search import search_traces

        if req.get("fetch"):
            out, s = eager_call(ctx, "operators.assemble", trace_with_spans,
                                traces, spans, req["trace"].trace_id, op="trace_with_spans")
            ctx.result(checks.check_fetch(out, req["trace"]))
            return "fetch", s
        kw = {k: v for k, v in req.items() if k != "expected"}
        _, rows, s = lazy_call(ctx, "operators.search", search_traces, spans, op="search_traces", **kw)
        ctx.result(checks.check_search(rows, req["expected"]))
        return "search", s

    def _open_store(self, ctx: Ctx) -> tuple:
        from traceframe_spark.sinks import read_spans

        spans, _ = eager_call(ctx, "sinks.read_spans", read_spans, ctx.spark, self.spans_path)
        return spans, ctx.spark.read.parquet(self.traces_path)

    def _round(self, ctx: Ctx, spans, traces, batches: list, loops: list, lat: dict) -> None:
        """The three analyses, then one client's closed loop of the
        request mix. Appends (wall s, CPU s) of the analyses to
        ``batches``, the loop's CPU seconds per request to ``loops`` and
        each request's (wall ms, CPU ms) to ``lat``."""
        with ctx.tracer.span("traces", "analytics"):
            calls = self._analytics(ctx, spans)
            batches.append((sum(d for d, _ in calls), sum(c for _, c in calls)))
        c0 = ctx.cpu()
        with ctx.tracer.span("traces", "closed_loop"):
            for req in self.mix:
                try:
                    kind, s = self._request(ctx, req, spans, traces)
                    lat[kind].append((s.dur * 1e3, s.cpu * 1e3))
                except Exception as exc:  # noqa: BLE001 — a failed request is counted
                    ctx.result(f"{req}: {type(exc).__name__}: {exc}"[:300])
        loops.append((ctx.cpu() - c0) / len(self.mix))

    def measure(self, ctx: Ctx) -> dict:
        """Ingest the new day, then rounds of analyses and requests:
        ``MIN_ROUNDS``, then more while another fits in ``--seconds``
        since the ingest began. The ingested day is deleted afterwards."""
        t0 = time.perf_counter()
        with ctx.tracer.span("traces", "ingest") as ingested:
            self._write(ctx, self.ingest_dir, "append")
        store_bytes = du_bytes(self.spans_path)
        lat: dict[str, list[tuple]] = {"search": [], "fetch": []}
        batches: list[tuple] = []
        loops: list[float] = []
        spans, traces = self._open_store(ctx)
        last = 0.0
        while len(batches) < MIN_ROUNDS or time.perf_counter() - t0 + last <= ctx.seconds:
            r0 = time.perf_counter()
            self._round(ctx, spans, traces, batches, loops, lat)
            ctx.unit_end = ctx.unit_end or ctx.tracer.mark()
            last = time.perf_counter() - r0
        self._drop_ingested_day()
        wall = {k: [w for w, _ in v] for k, v in lat.items()}
        return {
            "batch_cpu_s": _median([c for _, c in batches]),
            "op_cpu_ms": _median(loops) * 1e3,
            "analytics_batch_s": _median([w for w, _ in batches]),
            "search_p50_ms": _median(wall["search"]),
            "search_p90_ms": float(np.percentile(wall["search"], 90)) if wall["search"] else 0.0,
            "search_cpu_p50_ms": _median([c for _, c in lat["search"]]),
            "fetch_p50_ms": _median(wall["fetch"]),
            "ingest_spans_per_s": self.ingest_spans / ingested.dur,
            "store_bytes_per_span": store_bytes / self.store_spans,
            "batches": len(batches),
            "searches": len(lat["search"]),
            "fetches": len(lat["fetch"]),
        }


# ---------------------------------------------------------------------------
# curation
# ---------------------------------------------------------------------------

CURATION_ROWS = ["bpe_merges", "semdedup_keep", "ann_ivfpq_adc", "dedup_index_delta"]
# between sf0.01 and sf0.1 (500 and 5000 documents); sf0.01's 500
# vectors, because the DuckDB oracle of ann_ivfpq_adc takes minutes at
# sf0.1's 2000
CURATION_SIZES = {"n_docs": 1000, "n_vecs": 300}
WARMUP_SIZES = {"n_docs": 200, "n_vecs": 200}


def release_row_state(spark) -> None:
    """Unpersist what a row cached and delete the stores it built under
    the registry's scratch root, so every pass starts from the same
    disk and cache state."""
    import tempfile

    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "traceframe_stores_*", "*")):
        shutil.rmtree(d, ignore_errors=True)


class Curation:
    name = "curation"
    builds = 3

    def prepare(self, ctx: Ctx) -> None:
        import atexit
        import subprocess
        import sys

        import oracle

        self.sf = os.path.join(ctx.work, "sf")
        self.warm = os.path.join(ctx.work, "sf_warm")
        self.build_s = timed_median(
            lambda: gen.write_curation_tables(ctx.seed, self.sf, **CURATION_SIZES), self.builds
        )
        gen.write_curation_tables(ctx.seed + 1, self.warm, **WARMUP_SIZES)
        # the oracle runs in its own process while the session starts
        # and the warm-up pass runs
        self.oracle = subprocess.Popen(
            [sys.executable, oracle.__file__, self.sf, *CURATION_ROWS],
            stdout=subprocess.PIPE, text=True,
        )
        atexit.register(self._stop_oracle)

    def _stop_oracle(self) -> None:
        if self.oracle.poll() is None:
            self.oracle.kill()
            self.oracle.communicate()

    def setup(self, ctx: Ctx) -> tuple[float, float]:
        import __spark_entry__ as entry
        import oracle

        self.canon = oracle.load_canon()
        self.queries = entry.queries()
        try:
            t0 = time.perf_counter()
            self.run_pass(ctx, self.warm, check=False)
            warmup = time.perf_counter() - t0
        finally:
            out, _ = self.oracle.communicate()
        if self.oracle.returncode:
            raise RuntimeError(f"oracle process exited with {self.oracle.returncode}")
        self.digests = json.loads(out.strip().splitlines()[-1])
        return self.build_s, warmup

    def run_pass(self, ctx: Ctx, sf: str, check: bool = True) -> list[tuple[float, float]]:
        times = []
        with ctx.tracer.span("curation", "pass"):
            for name in CURATION_ROWS:
                try:
                    _, pdf, s = lazy_call(ctx, f"plans.{name}", self.queries[name], ctx.spark, sf,
                                          op=name, pandas=True)
                    times.append((s.dur, s.cpu))
                    if check:
                        got = checks.frame_digest(pdf, self.canon)
                        ctx.result(checks.check_digest(name, got, self.digests[name]))
                except Exception as exc:  # noqa: BLE001 — a failed row is counted
                    ctx.result(f"{name}: {type(exc).__name__}: {exc}"[:300])
                finally:
                    release_row_state(ctx.spark)
        return times

    def measure(self, ctx: Ctx) -> dict:
        # at least one pass, then another while one more fits in the window
        t0 = time.perf_counter()
        passes = []
        while not passes or (time.perf_counter() - t0) * (1 + 1 / len(passes)) <= ctx.seconds:
            passes.append(self.run_pass(ctx, self.sf))
            ctx.unit_end = ctx.unit_end or ctx.tracer.mark()
        return {
            "batch_cpu_s": statistics.median(sum(c for _, c in p) for p in passes),
            "op_cpu_ms": _median([c for p in passes for _, c in p]) * 1e3,
            "curation_batch_s": statistics.median(sum(w for w, _ in p) for p in passes),
            "row_p50_ms": _median([w for p in passes for w, _ in p]) * 1e3,
            "passes": len(passes),
        }


WORKLOADS = {w.name: w for w in (Traces, Curation)}
