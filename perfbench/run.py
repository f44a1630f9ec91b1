"""Lakehouse benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload gp_incremental --seed 1 --seconds 1 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_data/`` (removed at exit, except the seed-independent history
cache of ``gp_incremental``). The host shape is pinned: ``local[nproc]``,
``SPARK_GRAFT_DRIVER_MEM=3g`` and the driver JVM's collector.

Each run: generate inputs (untimed) -> set-up, timed as ``setup_s``:
``get_spark`` plus one untimed warm-up operation -> the timed closed loop
for ``--seconds`` (at least one operation) -> correctness checks
(untimed). With ``--trace 1`` an untraced loop runs first, then the layers
are wrapped and a traced loop of one operation runs; the per-layer
metrics come from the traced loop and ``trace.overhead.*`` is the traced minus the untraced
end-to-end value.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``.
``attempted`` counts program operations (warm-up, timed) and verified
outputs; ``failed`` counts operations that raised or reported a non-ok
transform plus outputs that failed their check.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

from workloads import WORKLOADS, build_history

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(ROOT, ".perfbench_data")
DRIVER_MEM = "3g"
END_TO_END = {"setup_s": "s", "latency_p50_s": "s", "stored_bytes_per_input_byte": "ratio",
              "peak_rss_mb": "MB"}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def pin_host(run_dir: str) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    sys.path[:0] = [ROOT, HERE]


def start_spark(run_dir: str):
    from f1_datalakehouse_pipeline_spark import get_spark

    spark = get_spark("perfbench", extra_confs={
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # the parallel collector with a fixed young generation: under G1's
        # pause-time-driven sizing the resident peak of identical runs
        # spread twice as wide
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -XX:+UseParallelGC -Xmn512m",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        # the next get_spark in this process launches a fresh JVM
        SparkContext._gateway = SparkContext._jvm = None


def peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    kb = 0
    with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                kb = int(line.split()[1])
    return (kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def timed_loop(wl, spark, seconds: float, min_ops: int, max_ops: int | None):
    """Closed loop: ops back to back until ``seconds`` pass, within
    ``min_ops``..``max_ops``. Returns the latencies of the ops that
    succeeded, the failed count and the loop's wall time."""
    lat, failed = [], 0
    t0 = time.perf_counter()
    while len(lat) + failed < min_ops or (
        time.perf_counter() - t0 < seconds and (max_ops is None or len(lat) + failed < max_ops)
    ):
        s = time.perf_counter()
        try:
            wl.run_op(spark)
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc()
            failed += 1
            continue
        lat.append(time.perf_counter() - s)
    return lat, failed, time.perf_counter() - t0


def e2e(wl, spark, lat: list[float], setup_s: float) -> dict[str, float]:
    # no successful operation leaves no latency; the run reports failed > 0
    return {"setup_s": setup_s, "latency_p50_s": statistics.median(lat) if lat else 0.0,
            "stored_bytes_per_input_byte": wl.stored_bytes() / wl.input_bytes,
            "peak_rss_mb": peak_rss_mb(spark)}


def run(args, run_dir: str) -> dict:
    from layers import OVERHEAD_OF, compute, install, metric_units
    from spans import SparkRest, Tracer

    t_start = time.perf_counter()
    wl = WORKLOADS[args.workload](run_dir, args.seed)
    wl.prepare()
    log(f"prepare {time.perf_counter() - t_start:.1f}s")

    t0 = time.perf_counter()
    spark = start_spark(run_dir)
    get_spark_s = time.perf_counter() - t0
    attempted, failed = 1, 0
    try:
        try:
            wl.warm_up(spark)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            failed += 1
        setup_s = time.perf_counter() - t0
        log(f"setup {setup_s:.1f}s (get_spark {get_spark_s:.1f}s)")
        cores = int(os.environ["SPARK_GRAFT_CPUS"])

        lat, f, wall = timed_loop(wl, spark, args.seconds, wl.min_ops, wl.max_ops)
        attempted += len(lat) + f
        failed += f
        metrics = e2e(wl, spark, lat, setup_s)
        log(f"timed loop {wall:.1f}s, latencies {[round(x, 3) for x in lat]}")

        if args.trace:
            rest = SparkRest(spark)
            tracer = Tracer(spark)
            first_job, gc_ms, lo = rest.next_job_id(), rest.gc_ms(), time.time()
            install(tracer)
            try:
                # one traced operation keeps a traced run (which also pays
                # the full checks) well inside its time limit
                t_lat, f, _ = timed_loop(wl, spark, args.seconds, 1, 1)
            finally:
                tracer.unwrap_all()
            hi = time.time()
            attempted += len(t_lat) + f
            failed += f
            traced = e2e(wl, spark, t_lat, setup_s)
            layer = compute(tracer, rest, first_job, (lo, hi), len(t_lat), cores, gc_ms)
            layer.update({"session.get_spark_s": get_spark_s, "session.warmup_s": setup_s - get_spark_s})
            for m in OVERHEAD_OF:
                layer[f"trace.overhead.{m}"] = traced[m] - metrics[m]
            tracer.dump(os.path.join(DATA, f"spans-{args.workload}-{args.seed}.jsonl"))
            units = metric_units()
            out = {k: {"value": layer[k], "unit": u} for k, u in units.items()}
        else:
            out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}

        t_check = time.perf_counter()
        errors = wl.check(spark, full=bool(args.trace))
        log(f"check {time.perf_counter() - t_check:.1f}s")
        attempted += wl.attempted_checks
        failed += len(errors)
        for e in errors:
            log(f"CHECK FAILED {e}")
    finally:
        stop_spark(spark)
    log(f"failed_op_ratio {failed / attempted:.4f} ({failed}/{attempted}); "
        f"run {time.perf_counter() - t_start:.1f}s")
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=tuple(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-history", metavar="DIR", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if args.build_history:
        build_dir = os.path.join(DATA, f"build-{os.getpid()}")
        pin_host(build_dir)
        spark = start_spark(build_dir)
        try:
            build_history(args.build_history, spark)
        finally:
            stop_spark(spark)
            shutil.rmtree(build_dir, ignore_errors=True)
        return 0
    if not args.workload:
        ap.error("--workload is required")

    run_dir = os.path.join(DATA, f"run-{os.getpid()}")
    pin_host(run_dir)
    try:
        result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
