"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload convert_megatail --seed 1 --seconds 25 --trace 0

Run from the repository root.  One driver process on ``local[min(nproc, 4)]``
built by ``plans.job.get_spark``, so the shipped session config is what gets
measured.  The job runs as a closed loop, one call in flight:

1. the seed's inputs are generated (or found in the cache) before Spark
   starts; ``get_spark`` and the first full-size job are the set-up
   (``setup_s``);
2. the job then runs back to back until about ``--seconds`` of job wall
   time are spent (at least three calls); end-to-end metrics are medians
   over them.  No call is dropped as warm-up: the first timed call is still
   10-40% slow, but the host's own swings are larger and slower, so the
   run's time goes to more timed calls, and the median absorbs that call;
3. with ``--trace 1`` the loop stops after three calls, and the last one's
   wall time is the reference for ``trace.overhead_s``; every layer is
   then timed once (see ``layers.py``) and the per-layer metrics are
   reported instead.

The output of the last timed call is checked doc by doc against the
single-process replay in ``oracle.py``.  Every metric is printed as
``name value unit``; the last stdout line is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  Inputs, outputs,
Spark scratch space and a per-run record (config, samples, trace spans)
live under ``.perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "patent_decision_document_converter_spark"
MAX_CORES = 4
MIN_CALLS = 3

END_TO_END = {
    "docs_per_s": "docs/s",
    "cpu_s_per_kdoc": "s",
    "out_bytes_per_in_byte": "ratio",
    "setup_s": "s",
}
CONFS = (
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.files.maxPartitionBytes",
    "spark.sql.shuffle.partitions",
)


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: str) -> None:
    """Keep every scratch file of Python, Spark and the JVM under ``work``,
    and let the Python workers import the package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the inputs are a few MB: a 2 GB driver heap is plenty, and it keeps
    # the JVM from growing toward get_spark's 8 GB default on a shared host
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Djava.io.tmpdir={tmp} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )


def shutdown(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ is missing from {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from patent_decision_document_converter_spark.plans.extract_job import run_extract_job
    from patent_decision_document_converter_spark.plans.job import get_spark, run_job
    from perfbench import layers, oracle, procstat, workloads

    wl = workloads.WORKLOADS.get(args.workload)
    if wl is None:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    isolate(work)
    runs_dir = os.path.join(work, "runs", f"{wl.name}-seed{args.seed}")
    shutil.rmtree(runs_dir, ignore_errors=True)
    nproc = len(os.sched_getaffinity(0))
    cores = min(nproc, MAX_CORES)

    t0 = time.perf_counter()
    inputs = workloads.ensure_inputs(wl, args.seed, os.path.join(work, "inputs"))
    inputs_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = get_spark(master=f"local[{cores}]")
    get_spark_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        config = {
            "workload": wl.name, "seed": args.seed, "nproc": nproc, "cores": cores,
            "docs": inputs.n_docs,
            **{k: spark.conf.get(k) for k in CONFS},
            "spark.driver.memory": spark.conf.get("spark.driver.memory"),
        }

        def run(out: str) -> None:
            if wl.job == "convert":
                run_job(spark, inputs.docs_path, out, wl.mode)
            else:
                run_extract_job(spark, inputs.docs_path, inputs.media_path, out, wl.mode)

        first = os.path.join(runs_dir, "setup")
        t0 = time.perf_counter()
        run(first)
        setup_s = get_spark_s + time.perf_counter() - t0
        shutil.rmtree(first)

        walls: list[float] = []
        cpus: list[float] = []
        last = None
        with procstat.PeakRss() as rss:
            # stop when one more call would end further past --seconds than
            # stopping now falls short of it
            while len(walls) < MIN_CALLS or not args.trace and (
                sum(walls) + walls[-1] / 2 < args.seconds
            ):
                if last:
                    shutil.rmtree(last)
                last = os.path.join(runs_dir, f"call{len(walls) + 1}")
                c0, t0 = procstat.tree_cpu_s(), time.perf_counter()
                run(last)
                walls.append(time.perf_counter() - t0)
                cpus.append(procstat.tree_cpu_s() - c0)
        out_bytes = oracle.data_bytes(os.path.join(last, "data"))
        failed, attempted = oracle.failed_docs(last, inputs.expected), inputs.n_docs
        shutil.rmtree(last)

        job_s = statistics.median(walls)
        e2e = {
            "docs_per_s": inputs.n_docs / job_s,
            "cpu_s_per_kdoc": statistics.median(cpus) / inputs.n_docs * 1000,
            "out_bytes_per_in_byte": out_bytes / inputs.input_bytes(),
            "setup_s": setup_s,
        }
        # Peak memory is recorded, not reported as a metric: the JVM heap
        # grows at G1's discretion and the forked workers share pages, so
        # identical runs read 2.2-7.8 GB and no bound would hold
        record = {"config": config, "inputs_s": inputs_s, "job_s": walls, "cpu_s": cpus,
                  "end_to_end": e2e, "peak_rss_mb": rss.peak / 1e6}
        if args.trace:
            tracer = layers.Tracer(f"{wl.name}-seed{args.seed}")
            with tracer.span("trace"):
                # the last call is the warmest untraced one, like the traced
                # call that follows it
                per_layer, trace_failed = layers.traced_run(
                    spark, wl, inputs, run, walls[-1], cores, runs_dir, tracer
                )
            failed += trace_failed
            attempted += inputs.n_docs
            # every per-layer metric is reported; one of a layer this
            # workload never calls reads 0.0 and is listed as not run
            not_run = [m["name"] for m in layers.per_layer_metrics() if m["name"] not in per_layer]
            record["per_layer"] = per_layer
            record["not_run"] = not_run
            record["spans"] = tracer.spans
            record["self_s"] = tracer.self_times()
    finally:
        shutdown(spark)

    os.makedirs(os.path.join(work, "results"), exist_ok=True)
    with open(os.path.join(work, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)

    print(" ".join(f"{k}={v}" for k, v in config.items()))
    if args.trace:
        metrics = {
            m["name"]: {"value": per_layer.get(m["name"], 0.0), "unit": m["unit"]}
            for m in layers.per_layer_metrics()
        }
    else:
        not_run = []
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    for name, m in metrics.items():
        print(f"{name} {'n/a (not run)' if name in not_run else m['value']} {m['unit']}")
    print(f"peak_rss_mb {record['peak_rss_mb']} MB (recorded only)")
    print(f"docs_failed {failed} of {attempted}")
    print(json.dumps(
        {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    ))
    return 0


if __name__ == "__main__":
    sys.exit(main())
