"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --smoke          # every workload, tiny inputs

Runs one workload in one process on ``local[nproc]`` and prints, as the
last line of standard output, one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics
are the end-to-end ones; with ``--trace 1`` they are the per-layer ones
taken from spans (see spans.py), which are also written to
``.perfbench_work/spans-<workload>-seed<seed>.jsonl``. A line before it,
starting ``perfbench-info``, records the machine, the sizes, the sample
count and the tail percentile. See README.md for the workloads and the
metric map.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import re
import shlex
import shutil
import statistics
import sys
import time

from spans import Tracer
from workloads import TABLES, WORKLOADS, Context

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

SIZES = {"ingest_trials": 1000, "store_trials": 4000, "warmup_requests": 18}
SMOKE_SIZES = {"ingest_trials": 40, "store_trials": 200, "warmup_requests": 6}
SMOKE_SECONDS = 3.0

END_TO_END = {"setup_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "session.start_s": "s",
    "sources.scan_s": "s",
    "sources.scan_jobs": "count",
    **{f"parse.{t}_s": "s" for t in TABLES},
    "parse.tasks": "count",
    "parse.lines_in": "count",
    **{f"parse.{t}_rows": "count" for t in TABLES},
    "sinks.write_parquet_s": "s",
    "sinks.write_csv_s": "s",
    "sinks.store_bytes_per_input_byte": "ratio",
    "search.plan_s": "s",
    "search.count_s": "s",
    "search.jobs_per_request": "count",
    "search.tasks_per_request": "count",
    "jvm.gc_s": "s",
    "spark.failed_tasks": "count",
    "trace.overhead_ratio": "ratio",
}

METRIC_NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}\Z")


def tail_percentile(n: int, candidates=(99, 95, 90, 75, 50)) -> int | None:
    """Highest percentile (nearest rank) with at least ten of ``n``
    samples above it; None below 20 samples."""
    for p in candidates:
        if n - math.ceil(p * n / 100) >= 10:
            return p
    return None


def percentile(values: list[float], p: int) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s) / 100) - 1)]


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> str:
    """The result JSON, validated against the names, units and value
    rules the harness promises."""
    if attempted < 1 or not 0 <= failed <= attempted:
        raise ValueError(f"bad counts attempted={attempted} failed={failed}")
    out = {}
    for name, (value, unit) in metrics.items():
        if not METRIC_NAME.match(name) or not UNIT.match(unit):
            raise ValueError(f"bad metric name or unit: {name!r} {unit!r}")
        if not isinstance(value, (int, float)) or not math.isfinite(value):
            raise ValueError(f"metric {name} is not a finite number: {value!r}")
        out[name] = {"value": value, "unit": unit}
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": out})


def pin_environment() -> dict:
    """Settings of this process, made before the JVM starts: cores from
    the affinity mask; a fixed driver heap (-Xms = -Xmx) of 2 GiB, or a
    quarter of RAM if that is less, instead of the engine's 24g default,
    so the heap neither exceeds a small machine nor grows at GC-timing-
    dependent moments that would make peak RSS vary run to run; no
    console progress bar; Spark/JVM scratch space inside the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kib = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    driver_gib = max(1, min(2, mem_kib // (4 * 1024 * 1024)))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{driver_gib}g"
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM would write it under /tmp, outside the checkout
    java_opts = f"-Xms{driver_gib}g -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"
    )
    return {"nproc": cpus, "mem_total_mib": mem_kib // 1024, "driver_mem": f"{driver_gib}g"}


def host_probe_s() -> float:
    """Median time of a fixed pure-Python loop: a reading of how fast
    this host runs one thread right now, to tell host contention apart
    from program changes when comparing runs. Informational only."""
    times = []
    for _ in range(5):
        t = time.perf_counter()
        sum(i * i for i in range(200_000))
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def _vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def layer_metrics(tracer, res: dict, session_s: float, gc_s: float, failed_tasks: int,
                  traced_ops: list[float], untraced_ops: list[float]) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced ops' spans: medians over traced
    operations of each layer's time and counts per operation; 0 for a
    layer the workload does not touch."""
    by_request: dict[int, list] = {}
    for s in tracer.spans:
        by_request.setdefault(s.request, []).append(s)

    def per_op(pred, attr="seconds") -> float:
        vals = [sum(getattr(s, attr) for s in spans if pred(s.name))
                for spans in by_request.values() if any(pred(s.name) for s in spans)]
        return _med(vals)

    def last_rows(name: str) -> float:
        spans = tracer.named(name)
        return spans[-1].rows_out if spans and spans[-1].rows_out is not None else 0

    search_span = lambda n: n.startswith("search.") or n in ("request", "sinks.write_csv")  # noqa: E731
    v = {
        "session.start_s": session_s,
        "sources.scan_s": per_op(lambda n: n == "sources.parse_registry"),
        "sources.scan_jobs": per_op(lambda n: n == "sources.parse_registry", "jobs"),
        **{f"parse.{t}_s": per_op(lambda n, t=t: n == f"parse.{t}") for t in TABLES},
        "parse.tasks": per_op(lambda n: n.startswith("parse."), "tasks"),
        "parse.lines_in": res["lines"],
        **{f"parse.{t}_rows": last_rows(f"parse.{t}") for t in TABLES},
        "sinks.write_parquet_s": per_op(lambda n: n == "sinks.write_parquet"),
        "sinks.write_csv_s": per_op(lambda n: n == "sinks.write_csv"),
        "sinks.store_bytes_per_input_byte": res["store_bytes"] / res["input_bytes"] if res["input_bytes"] else 0.0,
        "search.plan_s": per_op(lambda n: n == "search.plan"),
        "search.count_s": per_op(lambda n: n == "search.count"),
        "search.jobs_per_request": per_op(search_span, "jobs"),
        "search.tasks_per_request": per_op(search_span, "tasks"),
        "jvm.gc_s": gc_s,
        "spark.failed_tasks": failed_tasks,
        "trace.overhead_ratio": (_med(traced_ops) / _med(untraced_ops) - 1) if traced_ops and untraced_ops else 0.0,
    }
    return {name: (float(v[name]), unit) for name, unit in PER_LAYER.items()}


def run_workload(name: str, spark, args, sizes: dict, seconds: float, t_start: float,
                 session_s: float, info: dict) -> bool:
    """Run one workload and print its info and result lines. Returns
    whether every operation was correct."""
    work_dir = os.path.join(WORK, f"run-{name}-seed{args.seed}-pid{os.getpid()}")
    fixture_dir = os.path.join(WORK, "fixtures")
    os.makedirs(fixture_dir, exist_ok=True)
    tracer = Tracer(spark, enabled=args.trace == 1, clock_zero=t_start)
    ctx = Context(spark, tracer, Tracer(spark, enabled=False, clock_zero=t_start),
                  work_dir, fixture_dir, args.seed, seconds, sizes)
    load_before, probe_before = os.getloadavg()[0], host_probe_s()
    try:
        res = WORKLOADS[name](ctx)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
    times = [dt for _, dt in res["ops"]]
    if not times:
        raise RuntimeError(f"{name}: no operation succeeded ({ctx.failed} of {ctx.attempted} failed)")
    setup_s = ctx.setup_end - t_start
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    peak_rss = _vm_hwm_mb(os.getpid()) + _vm_hwm_mb(jvm_pid)
    tail = tail_percentile(len(times))
    traced = {s.request for s in tracer.spans}
    info = {
        **info,
        "workload": name, "seed": args.seed, "trace": args.trace, "seconds": seconds,
        "unit_of_work": res["unit"], "sizes": sizes,
        "ops_measured": len(times),
        "ops_failed_ratio": ctx.failed / ctx.attempted,
        "op_seconds": [round(t, 4) for t in times],
        "tail": {"percentile": tail, "value_s": percentile(times, tail) if tail else None},
        "templates": res.get("templates"),
        "loadavg_1m_before": load_before, "loadavg_1m_after": os.getloadavg()[0],
        "host_probe_s_before": probe_before, "host_probe_s_after": host_probe_s(),
    }
    if args.trace == 1:
        os.makedirs(WORK, exist_ok=True)
        spans_path = os.path.join(WORK, f"spans-{name}-seed{args.seed}.jsonl")
        tracer.write(spans_path)
        info["spans_file"] = os.path.relpath(spans_path, ROOT)
        metrics = layer_metrics(
            tracer, res, session_s, ctx.gc_seconds() - ctx.gc_at_setup, tracer.failed_tasks(),
            [dt for i, dt in res["ops"] if i in traced],
            # untraced ops after the first traced one: both sides equally warm
            [dt for i, dt in res["ops"] if traced and i > min(traced) and i not in traced],
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(times), "s"),
            "peak_rss_mb": (peak_rss, "MB"),
        }
    correct = ctx.failed == 0
    print("perfbench-info " + json.dumps(info), flush=True)
    print(result_line(correct, ctx.attempted, ctx.failed, metrics), flush=True)
    return correct


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=8.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="every workload on tiny inputs, one process")
    args = p.parse_args(argv)
    if not args.smoke and args.workload is None:
        p.error("--workload is required unless --smoke")
    t_start = time.perf_counter()
    info = pin_environment()
    sys.path.insert(0, ROOT)
    import pyspark

    from eurovision_spark import get_spark

    info.update(pyspark=pyspark.__version__, python=sys.version.split()[0])
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t_start
    try:
        if args.smoke:
            ok = True
            for name in WORKLOADS:
                ok &= run_workload(name, spark, args, SMOKE_SIZES, min(args.seconds, SMOKE_SECONDS),
                                   time.perf_counter(), session_s, info)
            return 0 if ok else 1
        run_workload(args.workload, spark, args, SIZES, args.seconds, t_start, session_s, info)
        return 0
    finally:
        _stop(spark)


if __name__ == "__main__":
    sys.exit(main())
