"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[$SPARK_GRAFT_CPUS].

Output contract (VERDICT r5 #2 — the driver tail-captures only the last
2,000 chars of stdout, and the r05 single line carrying BOTH per-query
dicts exceeded that, so BENCH_r05 recorded `parsed: null`):

  * an EARLY stdout line + a `bench_detail.json` sidecar carry the full
    detail (per-query min AND median, calibration runs);
  * the LAST stdout line is a compact summary — metric/value/queries
    (per-query min)/median_total/calib_sec/reps/sf/n_queries — measured
    at ~1.3k chars for the frozen 37-query headline set, comfortably
    inside the tail capture.

Each query is fully materialized through the noop sink (count() would
let Catalyst prune the expensive columns and under-report).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_project_hust_spark.checkpoint import release_all  # noqa: E402
from bigdata_project_hust_spark.plans.queries import QUERIES  # noqa: E402
from bigdata_project_hust_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


WARM_SF_DIR = os.environ.get("SPARK_GRAFT_WARM_SF_DIR",
                             "/root/testdata/sf0.001")


def main() -> None:
    spark = get_spark("bench")
    names = [n for n, s in QUERIES.items() if s.headline]
    # Untimed warm-up at the smallest SF: compiles every query's
    # whole-stage-codegen classes (cached by generated source, which is
    # data-independent). The timed runs below then measure the
    # data-proportional work — the quantity that extrapolates to
    # cluster scale — not one-time JIT cost that is identical at any SF.
    # A warm-up failure does not stop the bench (the timed run of that
    # query fails loudly on its own), but it is reported: on stderr and
    # in the sidecar's ``warmup_failed`` (query name -> "Type: message").
    warmup_failed: dict[str, str] = {}
    if os.path.isdir(WARM_SF_DIR):
        for name in names:
            try:
                QUERIES[name].fn(spark, WARM_SF_DIR) \
                    .write.format("noop").mode("overwrite").save()
            except Exception as exc:
                warmup_failed[name] = f"{type(exc).__name__}: {exc}"
                print(f"warm-up failed: {name}: {warmup_failed[name]}",
                      file=sys.stderr)
    else:
        spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    spark.catalog.clearCache()
    release_all(spark)
    # Best-of-N timing (default 3 — VERDICT r4 #2: a 2.9x swing on an
    # untouched query showed reps=2/min-only was too noisy to detect a
    # real 1.5x regression).  The repeats share no cache (cleared
    # between runs), so the min is the same data-proportional work with
    # the least scheduler/CPU-contention noise; the median is reported
    # alongside so environment noise (min << median) is distinguishable
    # from plan drift (min ≈ median, both moved).
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    # Machine-drift calibration: a fixed scan+agg (TPC-H Q1 shape,
    # never changes round-over-round) timed with the same
    # best-of-reps protocol. Round N vs round M regression claims on
    # real queries should be read against the calib ratio — an
    # untouched-code "regression" that tracks calib is machine drift
    # (the r4 1.31x mystery), one that outruns calib is a plan change.
    from pyspark.sql import functions as SF
    calib_runs = []
    for _ in range(reps):
        t0 = time.time()
        (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
         .groupBy("l_returnflag", "l_linestatus")
         .agg(SF.sum("l_quantity"), SF.sum("l_extendedprice"),
              SF.avg("l_discount"), SF.count("*"))
         .write.format("noop").mode("overwrite").save())
        calib_runs.append(time.time() - t0)
    calib = round(min(calib_runs), 3)
    # Wide-burst calibration: the Q1-shape calib reads a 3-file scan —
    # it measures scan+agg but occupies only a few cores, so host
    # co-tenancy that steals WIDE parallel throughput (every core busy
    # at once, the shape of the shuffle-heavy headliners) slips past
    # it (r07: calib flat at 0.285 while identical-code graph queries
    # ran 1.3x slower). This probe is fixed integer work across one
    # task per core — pure CPU, no I/O, no shuffle — so its ratio
    # round-over-round isolates parallel-CPU drift specifically.
    n_par = spark.sparkContext.defaultParallelism

    def _calib_par_probe() -> float:
        t0 = time.time()
        (spark.range(0, 40_000_000 * n_par, 1, n_par)
         .select((SF.col("id") * 2654435761 % 1000003).alias("h"))
         .agg(SF.sum("h")).write.format("noop").mode("overwrite").save())
        return time.time() - t0

    calib_par_runs = [_calib_par_probe() for _ in range(reps)]
    calib_par = round(min(calib_par_runs), 3)
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    offsets: dict[str, float] = {}  # session-relative start time per
    session_t0 = time.time()        # query: correlates per-query
    for name in names:              # inflation with transient windows
        offsets[name] = round(time.time() - session_t0, 1)
        fn = QUERIES[name].fn
        runs: list[float] = []
        for _ in range(reps):
            # plan build + optimization is still timed (per-query cost)
            t0 = time.time()
            df = fn(spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.time() - t0)
            # drop persisted intermediates (dedup shingles, tf-idf
            # tokens): keeps session memory bounded, queries and
            # repeats independent.  clearCache() frees persisted
            # frames only; release_all() additionally removes
            # localCheckpoint RDD blocks, which otherwise survive
            # until Python GC + ContextCleaner and accumulate across
            # a 37-query × reps session (VERDICT r8 #1 — the r8
            # driver-bench regression mechanism)
            spark.catalog.clearCache()
            release_all(spark)
        timings[name] = round(min(runs), 3)
        # statistics.median averages the two middle elements for even
        # reps (ADVICE r5: runs[len//2] was the upper-middle, biasing
        # the reported median upward whenever reps was even)
        medians[name] = round(statistics.median(runs), 3)
    # End-of-session re-probe: the start-of-session calibration misses
    # host co-tenancy that ARRIVES mid-run (observed twice: the r8
    # driver record, and an r9 closing run where median_total hit 93 s
    # with a flat 0.257 start calib, then 63.6 s on immediate re-run).
    # end >> start in a round's record pins broad per-query inflation
    # on the environment, not the plans.
    calib_par_end = round(min(_calib_par_probe() for _ in range(reps)), 3)
    total = round(sum(timings.values()), 3)
    summary = {
        "metric": "headline_queries_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "median_total": round(sum(medians.values()), 3),
        "calib_sec": calib,
        "calib_par_sec": calib_par,
        "calib_par_end_sec": calib_par_end,
        "reps": reps,
        "sf": sf_of(SF_DIR),
        "n_queries": len(timings),
        "release_blocks": True,
    }
    detail = {**summary, "warmup_failed": warmup_failed,
              "queries_median": medians,
              "queries_t_offset": offsets,
              "calib_runs": [round(r, 3) for r in calib_runs],
              "calib_par_runs": [round(r, 3) for r in calib_par_runs]}
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_detail.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1)
    except OSError:
        pass
    # detail FIRST; the LAST line must be the compact driver-parseable one
    print(json.dumps(detail))
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
