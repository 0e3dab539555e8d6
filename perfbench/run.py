"""The engine benchmark: one workload per run, on ``local[2]``.

Usage (from the repository root):

    python3 perfbench/run.py --workload traces --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics: set-up wall time, peak memory, and the CPU time of
the workload's batches and operations. ``--trace 1`` enables job groups
and the Spark event log and reports the per-layer metrics. Lines before
it starting with ``detail`` carry the per-workload and per-layer
breakdown. Everything the run writes stays under ``.bench_work/`` in the
repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# The driver heap is fixed and pre-touched, so peak RSS does not follow
# the collector's heap sizing from run to run; it moves with off-heap
# and driver-side Python memory.
HEAP = "2g"
# Two task threads on the four cores: the JIT and GC threads, the Python
# workers and the driver process run beside them without queueing for a
# core, so a run measures the engine rather than the scheduler.
MASTER, PARTITIONS = "local[2]", 2
END_TO_END = ("setup_s", "peak_rss_mb", "batch_cpu_s", "op_cpu_ms")
UNITS = {
    "setup_s": "s", "peak_rss_mb": "MB", "batch_cpu_s": "s", "op_cpu_ms": "ms",
    "construct_s": "s", "plan_s": "s", "execute_s": "s", "task_s": "s",
    "construct_jobs": "count", "execute_jobs": "count", "shuffle_bytes": "B",
    "python_bytes": "B", "files_read": "count", "rows_read": "count",
    "files_written": "count", "bytes_written": "B",
    "session.start_s": "s", "session.warmup_s": "s", "spark.failed_tasks": "count",
}
PER_LAYER = tuple(k for k in UNITS if k not in END_TO_END)


def _prepare_environment(work: str) -> None:
    """Keep every file the run writes inside ``work`` and let the Python
    workers import the library."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", HEAP)
    sys.path.insert(0, ROOT)


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def layer_report(tracer, first: int, end: int, volumes) -> tuple[dict, dict]:
    """(generic per-layer sums over spans ``first:end``, per-module breakdown)."""
    from tracer import self_times

    totals = dict.fromkeys(PER_LAYER, 0)
    by_layer: dict[str, dict] = {}
    selfs = self_times(tracer.spans)
    for i in range(first, end):
        s = tracer.spans[i]
        if not s.phases:
            continue
        d = by_layer.setdefault(s.layer, {"calls": 0, "s": 0.0, "self_s": 0.0})
        d["calls"] += 1
        d["s"] += s.dur
        d["self_s"] += selfs[i]
        for ph, secs in s.phases.items():
            d[f"{ph}_s"] = d.get(f"{ph}_s", 0.0) + secs
            d[f"{ph}_jobs"] = d.get(f"{ph}_jobs", 0) + s.jobs.get(ph, 0)
            totals[f"{ph}_s"] += secs
            for k, v in volumes.get(s.groups.get(ph), {}).items():
                d[k] = d.get(k, 0) + v
                if k in totals:
                    totals[k] += v
        totals["construct_jobs"] += s.jobs.get("construct", 0) + s.jobs.get("plan", 0)
        totals["execute_jobs"] += s.jobs.get("execute", 0)
    # the JSON scan and explode run inside the writers' jobs: their
    # file-reading tasks are the source layer's work
    src = by_layer.get("sources.jaeger_file")
    if src is not None:
        src["task_s"] = sum(by_layer.get(w, {}).get("input_task_s", 0)
                            for w in ("sinks.write_spans", "sinks.write_traces"))
    return totals, by_layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "traceframe_spark", "__init__.py")):
        print(f"no traceframe_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".bench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _prepare_environment(work)

    import tracer as tr
    from traceframe_spark.session import get_spark

    ctx = workloads.Ctx(None, None, work, args.seed, args.seconds)
    wl = workloads.WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    wl.prepare(ctx)  # inputs and truth, before the session starts
    prepare_s = time.perf_counter() - t0

    log_dir = os.path.join(work, "eventlog")
    t0 = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{args.workload}",
        master=MASTER,
        shuffle_partitions=PARTITIONS,
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Xms{HEAP} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            **(tr.event_log_conf(log_dir) if args.trace else {}),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    start_s = time.perf_counter() - t0

    ctx.spark, ctx.tracer = spark, tr.Tracer(spark, enabled=bool(args.trace))
    ctx.jvm_pid = spark.sparkContext._gateway.proc.pid
    try:
        t1 = time.perf_counter()
        build_s, warmup_s = wl.setup(ctx)
        # the store build runs ``wl.builds`` times; set-up counts it
        # once, at the median
        setup_s = prepare_s + start_s + time.perf_counter() - t1 - (wl.builds - 1) * build_s
        # the warm-up does not count, and the traced unit starts here
        ctx.counting, ctx.unit_end = True, 0
        first = ctx.tracer.mark()
        m = wl.measure(ctx)
        peak = _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        _stop(spark)

    m["setup_s"] = setup_s
    m["peak_rss_mb"] = peak
    detail = {k: v for k, v in m.items() if k not in END_TO_END}
    detail.update(prepare_s=prepare_s, build_s=build_s, warmup_s=warmup_s, start_s=start_s)
    if args.trace:
        volumes = tr.group_volumes(log_dir, ctx.tracer.job_claims())
        totals, by_layer = layer_report(ctx.tracer, first, ctx.unit_end, volumes)
        totals["session.start_s"] = start_s
        totals["session.warmup_s"] = warmup_s
        totals["spark.failed_tasks"] = sum(v["failed_tasks"] for v in volumes.values())
        metrics = {k: totals[k] for k in PER_LAYER}
        print("detail layers " + json.dumps(by_layer, sort_keys=True))
        print("detail end_to_end_traced " + json.dumps({k: m[k] for k in END_TO_END}))
    else:
        metrics = {k: m[k] for k in END_TO_END}
    print("detail workload " + json.dumps(detail, sort_keys=True))
    for p in ctx.problems[:20]:
        print("detail problem " + p)
    print(json.dumps({
        "correct": ctx.failed == 0 and ctx.attempted > 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
