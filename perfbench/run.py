"""Benchmark of the Lambda pipeline's batch and speed layers on a
``local[4]`` session.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \\
        --trace <0|1>

Run from the root of a checkout. Workloads (see ``workloads.py``):

* ``curation_batch`` — batch layer: the heavy curation jobs at sf0.01,
  one after another, in seeded order, for the measured seconds.
* ``speed_layer_ingest`` — speed layer: the consumer1 chain as a stream
  over a Kafka-shaped log, draining a preloaded backlog (catch-up), then
  following an open-loop generator (live) for the measured seconds.

Both read the project's fixture tables, copied under ``data/`` (see
``inputs.py``).

Every output is checked against a pin taken from the query's DuckDB
oracle. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it carries the run context (host cores, Spark version, the ``calib_par``
CPU probe at the start and end of the run, and with ``--trace 1`` the
path of the span file).

Oracle pins, Spark scratch space and traces live under ``.bench_build``
in the checkout; the first run builds the pins.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "bigdata_project_hust_spark"
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
CORES = 4


def _prepare_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write inside
    the checkout, and put the package on the workers' import path."""
    tmp = os.path.join(BUILD, "tmp")
    local = os.path.join(BUILD, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
        os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    # every JVM, the spark-submit launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


def _calib_par(spark) -> float:
    """``bench.py``'s wide-CPU probe: fixed integer work, one task per
    core, no I/O. Its drift between runs shows host co-tenancy."""
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    (spark.range(0, 40_000_000 * n, 1, n)
     .select((F.col("id") * 2654435761 % 1000003).alias("h"))
     .agg(F.sum("h")).write.format("noop").mode("overwrite").save())
    return round(time.perf_counter() - t0, 3)


def _stop_jvm() -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    active = SparkContext._active_spark_context
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — last resort: never leave it
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: {PACKAGE}/ not found beside {BENCH_DIR}; run from "
              "the root of a full checkout", file=sys.stderr)
        return 2
    _prepare_env()

    import inputs
    import workloads
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    pins = inputs.ensure_pins(BUILD, workloads.oracles())
    tracer = Tracer(bool(args.trace))
    wl = workloads.WORKLOADS[args.workload](
        pins, tracer, args.seed, args.seconds, os.path.join(BUILD, "work"))
    try:
        spark = wl.set_up(CORES)
        calib_start = _calib_par(spark)
        wl.measure()
        calib_end = _calib_par(spark)
        context = {"nproc": os.cpu_count(), "cores": CORES,
                   "spark_version": spark.version,
                   "calib_par_start_s": calib_start,
                   "calib_par_end_s": calib_end, **wl.context()}
        if args.trace:
            metrics = wl.layer_metrics()
            context["trace_file"] = tracer.dump(
                os.path.join(BUILD, "traces"), args.workload, args.seed,
                wl.per_op_counters())
        else:
            metrics = wl.end_to_end_metrics()
    finally:
        _stop_jvm()
    print(json.dumps({"context": context}), flush=True)
    result = {"correct": wl.correct, "attempted": wl.attempted,
              "failed": wl.failed,
              "metrics": {name: {"value": value, "unit": unit}
                          for name, (value, unit) in metrics.items()}}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
