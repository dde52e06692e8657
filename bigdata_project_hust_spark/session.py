"""SparkSession factory tuned for the test harness and for scale.

Local testing runs one JVM with N threads; the same config block is what
we would ship to a 1000-executor cluster, with the local-only knobs
(driver memory) moved to spark-submit. AQE is on so runtime statistics
re-plan skewed joins and coalesce small shuffle partitions — this is the
single most important 100 TB-scale setting.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "bigdata_project_hust_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    Shuffle partitions match cores locally; on a real cluster AQE
    coalescing makes the initial number mostly irrelevant as long as it
    is high enough, so we leave ``spark.sql.adaptive.*`` on.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    package_parent = os.path.dirname(
        os.path.dirname(os.path.abspath(__file__)))
    builder = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Runtime bloom-filter row pruning: for fact⋈fact joins whose
        # build side is selectively filtered but too big to broadcast,
        # the optimizer injects a bloom_filter_agg on the build keys and
        # a might_contain filter into the probe-side scan — at 100 TB
        # this prunes shuffle input by the build side's selectivity.
        # Explicit (though default-on in Spark 4) because the engine
        # RELIES on it for the non-broadcastable selective-join path;
        # see tests/test_plans.py::test_bloom_filter_prunes_probe_side.
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        # events.parquet carries TIMESTAMP(NANOS); read as long then
        # normalize to microsecond timestamps in io.load_table
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        # NOTE (r11): the r10 mitigation for the kafka_shaped
        # streaming-source "Python worker failed to connect back"
        # failure — spark.python.authenticate.socketTimeout=60s here —
        # was removed: Spark 4.1's connect-back wait is a hard-coded
        # 10 s Selector.select in PythonWorkerFactory, so the conf
        # never governed it in ANY session. The real fix is the
        # exactly-once stream-start retry in plans/round23.py, which
        # also protects the driver's own vanilla session.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers fork from a daemon that stops re-parsing
        # pyspark.zip on every task (see worker_daemon.py); the
        # package's parent goes on the workers' path so the daemon
        # imports from any working directory.
        .config("spark.python.daemon.module",
                "bigdata_project_hust_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", package_parent)
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
