#!/usr/bin/env python3
"""The engine's benchmark of record.

    python3 perfbench/run.py --workload api_mix --seed 1 --seconds 5 --trace 0

Runs one workload (`api_mix` or `refresh_batch`, see README.md) on the
engine's own `get_spark()` session at local[nproc], from the root of a
checkout.  Inputs are derived from the fixtures in perfbench/fixtures/
and `--seed`, under perfbench/.work/, and removed at exit.  After
set-up the workload runs its fixed number of whole cycles, and more
until their timed operations add up to `--seconds`; then the outputs
are checked against the catalog's DuckDB oracles (and, on `api_mix`,
every response against its recorded digest).

The last line of standard output is one JSON record: `correct`,
`attempted`, `failed` and `metrics`.  With `--trace 0` the metrics are
the end-to-end ones; with `--trace 1` they are the per-layer ones, the
run interleaves traced and untraced cycles, and it writes its spans and
counters to perfbench/out/.  Everything else the run prints, Spark's
JVM included, goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "cycle_s": "s",
}
SPARK_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_busy_s": "s",
    "spark.driver_only_s": "s",
}
WORKLOAD_LAYERS = {
    "sources.load_s": "s",
    "sources.write_s": "s",
    "sources.bytes_written": "bytes",
    "metrics_request.family_s": "s",
    "metrics_request.build_s": "s",
    "metrics_request.collect_s": "s",
    "metrics_request.jobs_per_request": "count",
    "metrics_request.stages_per_request": "count",
    "gold.star_s": "s",
    "gold.matviews_s": "s",
    "sushi.report_s": "s",
    "sessionize.bounds_s": "s",
    "gold_refresh.fold_s": "s",
    "closure.pagerank_s": "s",
    "closure.jobs": "count",
    "dedup.tiered_s": "s",
    "dedup.jobs": "count",
    "similarity.knn_s": "s",
}
PER_LAYER = {
    **WORKLOAD_LAYERS,
    **SPARK_LAYER,
    "peak_rss_mb": "MB",
    "retained_mb": "MB",
    "failed_frac": "ratio",
    "trace.overhead_frac": "ratio",
}


WORKLOADS = ("api_mix", "refresh_batch")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--trace-out", help="where a traced run writes its spans")
    return p.parse_args(argv)


def main() -> int:
    started = time.perf_counter()
    args = parse_args()
    record_fd = os.dup(1)
    os.dup2(2, 1)  # nothing but the record reaches the real stdout
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    try:
        record = run(args, work, started)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.write(record_fd, (json.dumps(record) + "\n").encode())
    return 0


def _environment(work: str) -> None:
    """Point every scratch directory of Spark and Python into `work`
    and pin the session to the host's cores with the engine's default
    settings."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    for var in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # the JVM's performance-counter file would go to /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    tempfile.tempdir = None


def run(args: argparse.Namespace, work: str, started: float) -> dict:
    _environment(work)
    sys.path[:0] = [ROOT, HERE]
    from metrics_service_spark.session import get_spark

    from spans import Tracer

    if args.workload == "api_mix":
        from api_mix import ApiMix as Workload
    else:
        from refresh_batch import RefreshBatch as Workload

    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        return _measure(spark, Tracer(spark), Workload, args, work, started)
    finally:
        _stop(spark)


def _measure(spark, tracer, Workload, args, work: str, started: float) -> dict:
    wl = Workload(spark, tracer, work, args.seed)
    t0 = time.perf_counter()
    rows, size = wl.generate()
    t1 = time.perf_counter()
    wl.prepare()
    setup_s = time.perf_counter() - started
    print(
        f"setup {setup_s:.2f} s (inputs {t1 - t0:.2f} s, preparation "
        f"{time.perf_counter() - t1:.2f} s); input {rows} rows, {size} bytes",
        file=sys.stderr,
    )

    # every run of a workload measures the same number of cycles (at
    # least `--seconds` of them), so it has the same operation mix and
    # the same number of samples; a traced run measures twice as many
    n_cycles = wl.measured_cycles * (2 if args.trace else 1)
    ops: list[tuple[str, float, bool]] = []
    cycles: list[tuple[bool, float]] = []  # (traced, seconds)
    untraced_ops: list[list[tuple[str, float, bool]]] = []
    measured = 0.0
    # a traced run interleaves traced and untraced cycles in ABBA order,
    # so the untraced ones measure the tracing overhead and a run that
    # is still warming up favours neither (with two cycles, AB: the
    # first is the slower, so the overhead is overstated)
    while len(cycles) < n_cycles or measured < args.seconds:
        traced = bool(args.trace) and len(cycles) % 4 in (0, 3)
        tracer.enabled = traced
        done = wl.cycle()
        tracer.enabled = False
        if traced:
            tracer.read_counters()
        took = sum(dt for _, dt, _ in done)
        cycles.append((traced, took))
        ops.extend(done)
        if not traced:
            untraced_ops.append(done)
        measured += took
    memory = {
        "peak_rss_mb": _peak_rss_mb(spark),
        "retained_mb": _retained_mb(spark),
        "python_rss_mb": _status_kb("self", "VmRSS") / 1024.0,
    }

    checks = wl.checks()
    attempted = len(ops) + len(checks)
    failed = sum(not ok for _, _, ok in ops) + sum(not ok for _, ok in checks)
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "setup_s": setup_s,
        "input_rows": rows,
        "input_bytes": size,
        "ops": len(ops),
        "cycles": [(traced, round(took, 3)) for traced, took in cycles],
        "op_times": [(name, round(dt, 3)) for name, dt, _ in ops],
        "failed": [name for name, ok in checks if not ok]
        + [name for name, _, ok in ops if not ok],
        **wl.summary(),
    }
    if args.trace:
        metrics = _per_layer(tracer, wl, cycles, failed / attempted)
        metrics["peak_rss_mb"] = memory["peak_rss_mb"]
        metrics["retained_mb"] = memory["retained_mb"]
        _write_trace(args, tracer, summary, metrics)
    else:
        metrics = _end_to_end(wl, untraced_ops, setup_s, memory, summary)
    print(json.dumps(summary), file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def _end_to_end(wl, cycles, setup_s, memory, summary) -> dict:
    lat = sorted(wl.op_samples(cycles))
    n = len(lat)
    # the highest percentile with at least ten samples beyond it; below
    # about 21 samples that is not above the median, so it is reported
    # here, with its sample count, and not gated
    rank = max(n - 11, 0)
    summary["tail"] = {"percentile": 100.0 * (rank + 1) / n, "ms": lat[rank] * 1000.0}
    summary["ops_per_s"] = n / sum(lat)
    summary.update(memory)
    return {
        "setup_s": setup_s,
        "op_p50_ms": statistics.median(lat) * 1000.0,
        "cycle_s": statistics.median(sum(dt for _, dt, _ in ops) for ops in cycles),
    }


def _per_layer(tracer, wl, cycles, failed_frac) -> dict:
    op_spans = [s for s in tracer.spans if s.parent is None and s.name in wl.op_spans]
    n = max(len(op_spans), 1)
    inclusive = [tracer.inclusive(s) for s in op_spans]
    metrics = dict.fromkeys(PER_LAYER, 0.0)
    for name in SPARK_LAYER:
        key = name.split(".", 1)[1]
        if key == "driver_only_s":
            metrics[name] = sum(tracer.driver_only(s) for s in op_spans) / n
        else:
            metrics[name] = sum(c[key] for c in inclusive) / n
    traced = [took for t, took in cycles if t]
    untraced = [took for t, took in cycles if not t]
    metrics.update(wl.layers(tracer.spans, len(traced)))
    metrics["failed_frac"] = failed_frac
    metrics["trace.overhead_frac"] = statistics.mean(traced) / statistics.mean(untraced) - 1.0
    return metrics


def _write_trace(args, tracer, summary, metrics) -> None:
    path = args.trace_out or os.path.join(
        HERE, "out", f"{args.workload}-seed{args.seed}-{os.getpid()}.trace.json"
    )
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    by_name: dict[str, list[float]] = {}
    for s in tracer.spans:
        by_name.setdefault(s.name, []).append(tracer.self_time(s))
    table = {
        name: {"spans": len(v), "self_s": sum(v), "mean_self_s": sum(v) / len(v)}
        for name, v in sorted(by_name.items())
    }
    with open(path, "w") as fh:
        json.dump(
            {"summary": summary, "metrics": metrics, "layers": table, "spans": tracer.to_json()},
            fh,
            indent=1,
        )
    print(f"spans written to {path}", file=sys.stderr)
    print(f"{'span':34} {'count':>6} {'self s':>10} {'mean self s':>12}", file=sys.stderr)
    for name, row in table.items():
        print(
            f"{name:34} {row['spans']:6d} {row['self_s']:10.3f} {row['mean_self_s']:12.4f}",
            file=sys.stderr,
        )


def _status_kb(pid, field: str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        return next(int(line.split()[1]) for line in fh if line.startswith(field + ":"))


def _peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (kb + _status_kb(spark.sparkContext._gateway.proc.pid, "VmHWM")) / 1024.0


def _retained_mb(spark) -> float:
    """Heap the driver JVM still holds after full collections: what the
    engine keeps, such as caches, without the noise of when the JVM last
    collected.  Two collections a moment apart, so blocks that Spark's
    cleaner frees after the first are gone by the second."""
    jvm = spark.sparkContext._jvm
    jvm.System.gc()
    time.sleep(0.5)
    jvm.System.gc()
    runtime = jvm.java.lang.Runtime.getRuntime()
    return (runtime.totalMemory() - runtime.freeMemory()) / 2**20


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
