"""Benchmark runner: one workload, one seed, one JSON line of results.

    python3 perfbench/run.py --workload tool_serve --seed 1 --seconds 5 --trace 0

Run from the repository root.  The last line of stdout is
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  Everything
else goes to stderr.  See perfbench/README.md for what each workload
and metric means.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
#: the engine's sf0.1 test tables, copied byte for byte (see data/sf0.1/SHA256SUMS)
SF_DIR = os.path.join(HERE, "data", "sf0.1")
CORES = len(os.sched_getaffinity(0))
WORKLOADS = ("tool_serve", "index_ingest")


def log(*parts) -> None:
    print(f"[{time.perf_counter() - T_PROCESS:7.2f} s]", *parts, file=sys.stderr, flush=True)


def pin_environment(work: str) -> None:
    """Keep Spark's scratch inside ``work``, the engine offline and on our tables."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_GRAFT_SF_DIR"] = SF_DIR
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={os.path.join(work, 'tmp')} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.environ.pop("WDS_LIVE_FETCH", None)
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def measure(workload, spark, seconds: float, traced: bool):
    """Timed passes until ``seconds`` have gone by, and at least two.

    Two passes make ``req_p50_ms`` a median of 28 requests or 10 ingest
    ops; with one ingest cycle it is whichever of the five ops ranks
    third, and that jumps between ops from run to run.

    A traced run alternates traced and untraced passes, traced first.
    The JVM is still warming, so a later pass is faster and the
    traced-minus-untraced difference is an upper bound on the tracing
    overhead.  (Two passes, not three, keep a traced run inside the
    benchmark's time budget.)
    """
    import workloads

    trace = workloads.Trace(spark) if traced else None
    passes = []
    t_start = time.perf_counter()
    while True:
        with_trace = traced and len(passes) % 2 == 0
        ops = workload.run_pass(spark, trace if with_trace else None, tag=f"-p{len(passes)}")
        # a pass takes the summed latency of its operations: the client's
        # housekeeping between them (cache clear, forced GC) is not timed
        passes.append({
            "traced": with_trace,
            "wall_s": sum(op.seconds for op in ops),
            "gc_s": sum(op.gc_s for op in ops),
            "ops": ops,
        })
        log(f"pass {len(passes)}{' traced' if with_trace else ''}: {passes[-1]['wall_s']:.3f} s")
        done = time.perf_counter() - t_start >= seconds
        if done and len(passes) >= 2:
            return passes, trace


def run(args) -> dict:
    import report
    import tracing
    import workloads

    from weather_data_ingestion_service_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    app_id = spark.sparkContext.applicationId
    result = None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        workload = workloads.WORKLOADS[args.workload](args.seed, SF_DIR, os.path.join(WORK, "oracle"))
        warm = workload.warm_up(spark)
        setup_s = time.perf_counter() - T_PROCESS
        log(f"session {session_s:.2f} s, set-up {setup_s:.2f} s")
        t0 = time.perf_counter()
        errors = workload.verify(spark, warm)
        log(f"outputs checked in {time.perf_counter() - t0:.2f} s")
        passes, trace = measure(workload, spark, args.seconds, bool(args.trace))
        result = report.result(
            args, warm, errors, passes, trace,
            setup_s=setup_s, session_s=session_s, cores=CORES,
        )
        if trace is not None:
            report.write_trace(
                trace, passes, os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
            )
    finally:
        try:
            stop_spark(spark)
        except Exception as exc:  # the measurements stand without a clean stop
            log(f"stopping Spark failed: {exc!r}")
        for path in tracing.scratch_dirs(app_id):
            shutil.rmtree(path, ignore_errors=True)
        shutil.rmtree(args.work, ignore_errors=True)
        if result is not None:
            print(json.dumps(result), flush=True)
        log("done")
    return result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"no engine checkout at {ROOT}: run from the repository root")
        return 2
    args.work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    pin_environment(args.work)
    return 0 if run(args) is not None else 1


if __name__ == "__main__":
    sys.exit(main())
