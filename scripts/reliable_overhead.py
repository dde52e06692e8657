"""Measure the reliable-checkpoint strategy's overhead vs local on the
graph headliners (VERDICT r6 #4: the 100 TB executor-loss story
rested on a code path no run had taken).

Runs each query at $SPARK_GRAFT_SF_DIR (default sf0.1) twice per
strategy and prints per-query medians plus the overhead ratio. The
reliable run writes parquet checkpoints under a temp dir and cleans
them with clear_checkpoints afterwards.

Usage: python scripts/reliable_overhead.py [sf_dir]
"""

from __future__ import annotations

import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

QUERY_NAMES = [
    "triangle_count_copurchase",
    "clustering_coefficient",
    "lpa_communities_parts",
]
REPS = 2


def main() -> None:
    from pyspark.sql import SparkSession

    import __spark_entry__ as E
    from bigdata_project_hust_spark.checkpoint import clear_checkpoints

    sf = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .config("spark.sql.shuffle.partitions", cpus)
             .appName("reliable-overhead").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()

    results: dict[str, dict[str, float]] = {}
    with tempfile.TemporaryDirectory(prefix="graft_ck_") as ckdir:
        for strategy in ("local", "reliable"):
            os.environ["SPARK_GRAFT_CHECKPOINT_STRATEGY"] = strategy
            os.environ["SPARK_GRAFT_CHECKPOINT_DIR"] = ckdir
            for name in QUERY_NAMES:
                times = []
                for _ in range(REPS):
                    t0 = time.time()
                    n = qs[name](spark, sf).count()
                    times.append(time.time() - t0)
                med = statistics.median(times)
                results.setdefault(name, {})[strategy] = med
                print(f"{strategy:8s} {name:28s} median {med:6.2f}s "
                      f"(n={n})", flush=True)
        cleared = clear_checkpoints(spark, ckdir)
        print(f"clear_checkpoints -> {cleared}")
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_STRATEGY", None)
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)

    print("\n| query | local s | reliable s | overhead |")
    print("|---|---|---|---|")
    for name, r in results.items():
        ratio = r["reliable"] / r["local"] if r["local"] else float("nan")
        print(f"| {name} | {r['local']:.2f} | {r['reliable']:.2f} "
              f"| {ratio:.2f}x |")


if __name__ == "__main__":
    main()
