"""Benchmark launcher.

    python3 perfbench/run.py --workload stage_block --seed 1 --seconds 10 --trace 0

Run from the repository root.  Prints a human summary, then as its last
stdout line one JSON object ``{correct, attempted, failed, metrics}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Its own files go under ``.perfbench/`` in the repository
root, the package's page cache under ``.cache/``; traced runs leave their
spans and status-store read-outs in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: driver heap; the session's default (24 GB) is sized for a large host
DRIVER_MEM = "1g"


def configure_env(work: str, cores: int) -> None:
    """Pin the run environment through the variables the session and the
    Spark launcher read, so nothing depends on the caller's shell."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers are started by the JVM and import the package
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = tmp
    jvm_files = "-Djava.io.tmpdir=%s -XX:-UsePerfData" % tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_files
    os.environ["SPARK_SUBMIT_OPTS"] = jvm_files


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    from perfbench.metrics import descendants

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while len(descendants(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", "%s-%d-%d" % (args.workload, args.seed, os.getpid()))

    from perfbench import workloads
    from perfbench.metrics import RssSampler, Tracer, check_name

    if args.workload not in workloads.WORKLOADS:
        ap.error("unknown workload %r; choose from %s" % (args.workload, ", ".join(workloads.WORKLOADS)))
    tracer = Tracer(enabled=bool(args.trace))
    try:
        configure_env(work, cores)
        from ocrd_tesserocr_spark.session import get_spark

        with RssSampler() as rss:
            t = time.perf_counter()
            with tracer.span("session.get_spark"):
                spark = get_spark("local[%d]" % cores, cores, app_name="perfbench")
            start_s = time.perf_counter() - t
            spark.sparkContext.setLogLevel("ERROR")
            run = None
            try:
                ctor = (workloads.OperatorsRun if args.workload == "operators"
                        else workloads.StageRun)
                run = ctor(spark, work, args.seed, args.seconds, tracer, cores)
                setup_s = start_s + run.setup()
                run.layers["session.start_s"] = start_s
                run.layers["session.python_worker_start_s"] = sum(
                    workloads.sql_total(r, "time to start Python workers")
                    for rs in run.readouts.values() for r in rs)
                # the end-to-end window runs untraced even in a traced run;
                # the traced window after it measures the tracing overhead
                tracer.enabled = False
                result = run.measure()
                tracer.enabled = bool(args.trace)
                if args.trace:
                    run.trace_layers(result)
            finally:
                stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values, units = run.layers, workloads.PER_LAYER
        write_trace(args, tracer, run)
    else:
        values = {"setup_s": setup_s, "docs_per_s": result["docs_per_s"],
                  "peak_rss_mb": rss.peak / workloads.MIB}
        units = workloads.END_TO_END
    metrics = {check_name(k): {"value": values[k], "unit": u} for k, u in units.items()}
    print("workload=%s seed=%d ops=%d failed=%d error_rate=%.4f walls=%s %s" % (
        args.workload, args.seed, run.attempted, run.failed, run.failed / run.attempted,
        [round(w, 3) for w in result["walls"]],
        " ".join("%s=%s" % kv for kv in run.notes.items())))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


def write_trace(args, tracer, run) -> None:
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "%s-seed%d.json" % (args.workload, args.seed)), "w") as f:
        json.dump({"spans": tracer.spans, "self_s": tracer.self_time_by_name(),
                   "readouts": run.readouts, "layers": run.layers}, f, indent=1)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
