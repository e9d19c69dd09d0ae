"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload flat_search --seed 1 --seconds 15 --trace 0

Run from the repository root. The inputs are generated from ``--seed``
and written to parquet under ``.perfbench_work/`` before any timing
starts; the package only reads those files. With ``--trace 0`` the run
reports the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` it
reports the per-layer metrics, read from a Spark event log, and the
tracing overhead. Every metric is printed with its unit on stderr; the
last line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

from pyspark.sql import functions as F

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: session cycles (get_spark plus a first job) per run; setup_s is their
#: median, so the JVM launch of the first cycle is logged but not reported
SETUP_CYCLES = 5
#: the calibration job's median time on the 4-core machine the benchmark
#: was tuned on; every reported time is scaled to that host speed
CAL_REF_S = 0.3
#: a query latency at or above this percentile is a tail latency
TAIL_PERCENTILE = 90

E2E_UNITS = {
    "setup_s": "s", "build_s": "s", "ingest_rows_per_s": "1/s",
    "query_p50_s": "s", "recall": "fraction", "index_mb": "MB",
}
#: printed but not reported: across ten seeds on a shared 4-core machine
#: they spread by 0.2-0.35 of their median (a mean that outlier batches
#: move; a tail of 5-20 batches; GC-driven JVM heap growth)
INFO_UNITS = {"query_rows_per_s": "1/s", "query_tail_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=15.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Session knobs the package reads from the environment: one core per
    local task slot, Spark scratch and JVM temp files inside the run's
    work directory, and a 2 GB driver heap."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) - 1)),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_DRIVER_MEMORY": "2g",
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })


def start_session():
    from faisssearcher_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def first_job(spark) -> None:
    """The one-time work a session pays before its first call: task
    launch, whole-stage codegen and a shuffle."""
    spark.range(1 << 16).groupBy((F.col("id") % 16).alias("g")).count().collect()


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def java_pid(pid: int) -> "int | None":
    """The JVM among ``pid`` and its descendants."""
    todo = [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/comm") as fh:
                if fh.read().strip() == "java":
                    return p
            with open(f"/proc/{p}/task/{p}/children") as fh:
                todo += [int(c) for c in fh.read().split()]
        except OSError:
            continue
    return None


def peak_rss_mb() -> float:
    from pyspark import SparkContext

    jvm = java_pid(SparkContext._gateway.proc.pid)
    return vm_hwm_mb(os.getpid()) + (vm_hwm_mb(jvm) if jvm else 0.0)


def leak_check(wl, spark) -> None:
    """Every cached frame must be released once the workload closes."""
    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    wl.record("leak check", [f"{n} persistent RDDs after close"] if n else [])


def run_workload(cls, spark, tracer, data, work, seconds, hooks=False):
    """Build, loop, close; returns the workload with its counters."""
    from spans import instrument

    wl = cls(spark, tracer, data, work)
    with contextlib.ExitStack() as stack:
        if hooks:
            for owner, attr, layer in wl.hooks:
                stack.enter_context(instrument(tracer, owner, attr, layer))
        wl.run(seconds)
        wl.rss_mb = peak_rss_mb()
        wl.attempt("close", wl.close)
    leak_check(wl, spark)
    return wl


def end_to_end(wl, setups: list[float], scaled: bool) -> dict[str, float]:
    """The run's figures; ``scaled``: each time of the loop's operations
    multiplied by the host-speed scale (and each rate divided by it).
    Set-up and a first build are one-off times taken before the loop's
    calibration runs, and are reported as measured."""
    import numpy as np

    loop = CAL_REF_S / statistics.median(wl.cal) if scaled else 1.0
    lat = [t * loop for t in wl.query_lat]
    build_s = statistics.median(wl.builds) * (1.0 if wl.first_build_timed else loop)
    return {
        "setup_s": statistics.median(setups),
        "build_s": build_s,
        "ingest_rows_per_s": (wl.build_rows + wl.add_rows)
                             / (build_s + wl.add_s * loop),
        "query_rows_per_s": wl.query_rows / sum(lat),
        "query_p50_s": statistics.median(lat),
        "query_tail_s": float(np.percentile(lat, TAIL_PERCENTILE)),
        "recall": statistics.fmean(wl.recall),
        "index_mb": wl.index_bytes / float(1 << 20),
        "peak_rss_mb": wl.rss_mb,
    }


def per_layer(wl, span_list, jobs, passes) -> dict[str, float]:
    from spans import layer_metrics

    out = layer_metrics(span_list, jobs)
    out["searcher.search_build_s"] = wl.search_build_s
    out["searcher.search_exec_s"] = wl.search_exec_s
    out["encoders.rows_per_s"] = wl.encode_rows_per_s
    out["knn.pairs_per_s"] = wl.knn_pairs / wl.knn_exec_s if wl.knn_exec_s else 0.0
    out["incremental.state_bytes_per_vec"] = wl.state_bytes_per_vec
    # the same loop operations in both passes (their common prefix); the
    # first build is left out because it also pays the JVM's first-use
    # costs
    n = min(len(p.op_lat) for p in passes)
    untraced, traced = (sum(p.op_lat[:n]) for p in passes)
    out["trace.overhead"] = traced / untraced
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "faisssearcher_spark")):
        print(f"perfbench: no faisssearcher_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import gen
    from workloads import WORKLOADS, log

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    cls = WORKLOADS[args.workload]
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        configure_env(work)
        data = os.path.join(work, "data")
        t0 = time.perf_counter()
        info = gen.generate(args.workload, args.seed, data)
        log(f"generated {args.workload} seed={args.seed} "
            f"corpus_rows={info['corpus_rows']} in {time.perf_counter() - t0:.2f} s")
        from spans import (Tracer, enable_event_log, per_layer_names,
                           read_event_log)

        if args.trace == 0:
            setups = []
            for _ in range(SETUP_CYCLES):
                if spark is not None:
                    spark.stop()
                t = time.perf_counter()
                spark = start_session()
                first_job(spark)
                setups.append(time.perf_counter() - t)
            log("setup cycles (s): " + ", ".join(f"{s:.3f}" for s in setups))
            wl = run_workload(cls, spark, Tracer(False), data, work, args.seconds)
            metrics = {}
            if wl.query_lat and wl.builds and wl.cal:
                raw = end_to_end(wl, setups, False)
                figures = end_to_end(wl, setups, True)
                log("host speed: calibration job before each timed "
                    "operation (s): " + ", ".join(f"{t:.3f}" for t in wl.cal))
                for k, u in E2E_UNITS.items():
                    log(f"{k} as measured = {raw[k]:.6g} {u}")
                for k, u in INFO_UNITS.items():
                    log(f"{k} = {figures[k]:.6g} {u} (printed only)")
                metrics = {k: (figures[k], u) for k, u in E2E_UNITS.items()}
            log(f"query batches={len(wl.query_lat)}; query_tail_s is "
                f"p{TAIL_PERCENTILE} of {len(wl.query_lat)} batch latencies")
            log(f"first build {wl.first_build_s:.3f} s; timed builds (s): "
                + ", ".join(f"{t:.3f}" for t in wl.builds))
            log("operation latencies (s): "
                + ", ".join(f"{t:.3f}" for t in wl.op_lat))
        else:
            from pyspark import SparkContext

            # an untraced pass, then a traced one, each warmed up before
            # its loop; the traced pass runs in the warmer JVM, which makes
            # trace.overhead a slight underestimate
            half = args.seconds / 2
            log_dir = os.path.join(work, "events")
            os.makedirs(log_dir)
            tracer = Tracer(True)
            passes = []
            for name in ("untraced", "traced"):
                traced = name == "traced"
                if SparkContext._jvm is not None:   # no JVM before pass 1
                    enable_event_log(SparkContext._jvm, log_dir, on=traced)
                with tracer.span("session", "get_spark") if traced \
                        else contextlib.nullcontext():
                    spark = start_session()
                if traced:
                    tracer.bind(spark.sparkContext)
                first_job(spark)
                passes.append(run_workload(
                    cls, spark, tracer if traced else Tracer(False), data,
                    os.path.join(work, name), half, hooks=traced))
                spark.stop()
            wl = passes[1]
            wl.attempted += passes[0].attempted
            wl.failed += passes[0].failed
            wl.problems += passes[0].problems
            jobs = read_event_log(log_dir)
            log(f"traced: {len(tracer.spans)} spans, {len(jobs)} jobs")
            names = {n: u for n, u, _ in per_layer_names()}
            metrics = ({k: (v, names[k]) for k, v in
                        per_layer(wl, tracer.spans, jobs, passes).items()}
                       if all(p.op_lat for p in passes) else {})
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    leftover = os.path.exists(work)
    wl.record("scratch cleanup", ["work directory left behind"] if leftover else [])
    for p in wl.problems:
        log(f"FAILED {p}")
    correct = wl.failed == 0 and bool(metrics)
    for name, (value, unit) in metrics.items():
        log(f"{name} = {value:.6g} {unit}")
    log(f"correct={correct} attempted={wl.attempted} failed={wl.failed}")
    print(json.dumps({
        "correct": correct, "attempted": wl.attempted, "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if correct else 1


def shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
