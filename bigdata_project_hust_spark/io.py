"""Sources & sinks (SURVEY §2.1).

The reference's storage systems map onto Spark sources:

* Mongo full scans (S1)            → ``spark.read.parquet`` fixture tables
* HDFS JSON scan w/ schema (S8)    → ``read_json`` with explicit schema
* Incremental file discovery (S9)  → file stream source (streaming/)
* Kafka sources/sinks (S2/S4)      → kafka format (streaming/); gated,
  since no broker exists in the test container
* Mongo upsert sinks (S6/S7/S10)   → foreachBatch + idempotent merge
  (streaming/sinks.py); batch results are plain DataFrames

At 100 TB the scan layer is where performance is decided: always pass
explicit schemas (skips inference), always read parquet where possible
(column pruning + predicate pushdown + min/max skipping), and never
reproduce the reference's one-record-per-file layout
(reference consumer1.py:112-121 — a small-files antipattern).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .schemas import DRIVER_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable confs every query needs regardless of who built the
# SparkSession (the driver builds its own): nanos-parquet reads and a
# pinned UTC session TZ for oracle-comparable timestamps.
_RUNTIME_CONF = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
}


def ensure_runtime_conf(spark: SparkSession) -> None:
    for k, v in _RUNTIME_CONF.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (parquet; schema from the registry).

    Parquet carries its own schema; we do NOT force ours on read (Spark
    would do a cast-projection), but callers can rely on the registry
    shape because the driver generates these files deterministically.

    Nanosecond-timestamp columns (events.ts) arrive as long nanos under
    ``spark.sql.legacy.parquet.nanosAsLong`` and are normalized here to
    microsecond TimestampType — same truncation DuckDB applies, so the
    two engines see identical values.
    """
    ensure_runtime_conf(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    want = DRIVER_TABLES.get(name)
    if want is not None:
        for field in want.fields:
            if field.name not in df.columns:
                continue  # partial fixtures (tests) project a subset
            if (isinstance(field.dataType, T.TimestampType)
                    and isinstance(df.schema[field.name].dataType, T.LongType)):
                # integer div: ns values exceed double's 53-bit exact range
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"`{field.name}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] | None = None) -> dict[str, DataFrame]:
    """Read several fixture tables at once."""
    names = names or tuple(DRIVER_TABLES)
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str,
                   names: tuple[str, ...] | None = None) -> None:
    """Register fixture tables as temp views so spark.sql can see them."""
    for name, df in load_tables(spark, sf_dir, names).items():
        df.createOrReplaceTempView(name)


def read_json(spark: SparkSession, path: str,
              schema: T.StructType | None = None) -> DataFrame:
    """JSON scan with optional explicit schema (reference consumer2.py:71-76).

    With a schema this is a single pass; without, Spark runs an extra
    inference job — the fallback is kept for parity but callers should
    always pass a schema.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def read_csv(spark: SparkSession, path: str,
             schema: T.StructType | None = None,
             header: bool = True, sep: str = ",") -> DataFrame:
    """CSV scan with explicit schema (always pass one: schema inference
    over CSV is a full extra pass at 100 TB, and type guessing is
    wrong exactly when it matters — leading zeros, large ints,
    timestamps)."""
    reader = spark.read.option("header", str(header).lower()) \
                       .option("sep", sep)
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC sink — the other columnar format Spark writes natively;
    same pushdown/pruning/stats story as parquet."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def kafka_sink_frame(df: DataFrame, key_col: str) -> DataFrame:
    """S2 (producer.py:43-46,60-66): shape a DataFrame for the Kafka
    sink — ``key``/``value`` binary columns, value = JSON of the whole
    row. The actual ``.write.format("kafka")`` needs a broker; the
    frame shape is broker-independent and unit-tested (values parse
    back losslessly with from_json)."""
    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    return df.select(
        F.col(key_col).cast("string").cast("binary").alias("key"),
        payload.cast("binary").alias("value"))


def compact_files(spark: SparkSession, src: str, dst: str,
                  target_bytes: int = 128 * 1024 * 1024,
                  fmt: str = "parquet",
                  schema: T.StructType | None = None) -> int:
    """Compact a small-files dataset into ~``target_bytes`` parquet
    files; returns the output file count.

    The reference writes ONE JSON FILE PER RECORD
    (consumer1.py:112-121) — at 100 TB that is billions of files and a
    namenode meltdown before any query runs. Compaction = read +
    size-based coalesce + rewrite. Source bytes come from the Hadoop
    FileSystem API, so any URI scheme (hdfs://, s3a://, file:) sizes
    correctly — a local-only glob would see 0 bytes on a remote store
    and funnel the whole dataset through coalesce(1). ``coalesce``
    (not ``repartition``) avoids a shuffle — merging files is a narrow
    operation. Returns the ACTUAL number of files written (coalesce
    cannot exceed the input partition count, so the size-derived
    target is an upper bound, not a guarantee).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.format(fmt).load(src)
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(src)
    fs = jpath.getFileSystem(hconf)
    if any(ch in src for ch in "*?[{"):
        # glob source paths: getContentSummary would throw on the
        # literal pattern — sum the matched statuses instead
        total = sum(st.getLen() for st in fs.globStatus(jpath) or [])
    else:
        total = fs.getContentSummary(jpath).getLength()
    # source bytes are in the SOURCE format; parquet output is
    # typically smaller (columnar + snappy), so fewer/larger files
    # than the naive ratio — callers targeting exact sizes should set
    # target_bytes to source-format bytes per desired output file
    n_out = max(1, -(-total // target_bytes))   # ceil
    df.coalesce(n_out).write.mode("overwrite").parquet(dst)
    return len(spark.read.parquet(dst).inputFiles())


def write_sorted(df: DataFrame, path: str, sort_col: str,
                 n_files: int = 8, mode: str = "overwrite") -> None:
    """Range-partitioned, within-file-sorted parquet layout.

    ``repartitionByRange`` gives each output file a disjoint key range
    and ``sortWithinPartitions`` orders rows inside it, so every parquet
    row group carries tight min/max stats on ``sort_col`` — a point or
    range predicate then skips all but the covering file(s) at scan
    time (stats pruning), the poor-man's clustered index. This is the
    layout step a 100 TB table keyed by time or id should get once at
    ingest.
    """
    (df.repartitionByRange(n_files, F.col(sort_col))
       .sortWithinPartitions(sort_col)
       .write.mode(mode).parquet(path))


def write_parquet(df: DataFrame, path: str, partition_by: tuple[str, ...] = (),
                  mode: str = "overwrite") -> None:
    """Partitioned-parquet sink — replaces the reference's per-record
    JSON files (consumer1.py:112-121) with a layout that scales: one
    directory per partition value, large row groups, stats for skipping.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def footer_stats_scan(spark: SparkSession, path: str) -> DataFrame:
    """Open a parquet path through the V2 datasource so MIN/MAX/COUNT
    aggregates with no filter are answered from FOOTER STATISTICS
    (``PushedAggregation`` in the scan) — zero row groups read.  At
    100 TB, table-level min/max/count probes (freshness checks, split
    planning, monotonic-watermark discovery) become metadata-only.

    Spark routes parquet through the V1 path by default
    (``spark.sql.sources.useV1SourceList``), which cannot push
    aggregates; the V2 toggle is plan-time state, so it is flipped only
    while the relation is being resolved and restored immediately —
    other readers in the session are unaffected."""
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    old_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown")
    try:
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        return spark.read.parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)
        spark.conf.set("spark.sql.parquet.aggregatePushdown", old_agg)


def read_xml(spark: SparkSession, path: str, row_tag: str = "row",
             schema: T.StructType | None = None) -> DataFrame:
    """XML scan (built into Spark since 4.0 — no external package).
    Always pass a schema at scale: XML inference is a full extra pass,
    like CSV/JSON."""
    reader = spark.read.format("xml").option("rowTag", row_tag)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.load(path)


def write_xml(df: DataFrame, path: str, row_tag: str = "row",
              root_tag: str = "rows", mode: str = "overwrite") -> None:
    """XML sink — the interchange format legacy feeds still speak;
    same partitioned-files layout as every other Spark sink."""
    (df.write.format("xml").option("rowTag", row_tag)
       .option("rootTag", root_tag).mode(mode).save(path))


def read_binary_assets(spark: SparkSession, path: str,
                       glob: str | None = None,
                       recursive: bool = True) -> DataFrame:
    """Raw-asset ingest via Spark's built-in ``binaryFile`` source —
    the 100 TB entry point for the multimodal pipeline: images/audio
    land as opaque ``content`` bytes plus (path, modificationTime,
    length) metadata, partitioned by file across executors with zero
    driver involvement. Feed the result straight into
    ``operators.multimodal.extract_image_features`` /
    ``extract_audio_features`` after renaming to (asset_id, payload).

    ``glob`` maps to ``pathGlobFilter`` (e.g. ``*.png``) so non-asset
    files in the same tree are pruned at listing time, not scanned.

    Scale note: binaryFile caps single files at
    ``spark.sql.sources.binaryFile.maxLength`` (Int.MaxValue); shard
    larger media server-side. Listing parallelizes via the usual
    in-memory file index; for object stores prefer fewer, larger
    directories over millions of tiny ones.
    """
    reader = (spark.read.format("binaryFile")
              .option("recursiveFileLookup", "true" if recursive
                      else "false"))
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    return reader.load(path)


def binary_assets_with_ids(spark: SparkSession, path: str,
                           glob: str | None = None) -> DataFrame:
    """``read_binary_assets`` normalized to the multimodal operator
    contract: ``asset_id`` (stable 63-bit hash of the file path — the
    same cross-engine ``stable_hash64`` used by the dedup family),
    ``payload`` bytes, and the listing metadata."""
    from .functions.scalar import stable_hash64
    df = read_binary_assets(spark, path, glob)
    return df.select(
        stable_hash64(F.col("path")).alias("asset_id"),
        F.col("path"),
        F.col("length"),
        F.col("content").alias("payload"))


def write_bucketed_table(df: DataFrame, table: str, key: str,
                         buckets: int = 8,
                         mode: str = "overwrite") -> None:
    """Persist ``df`` as a Hive-bucketed, bucket-sorted parquet TABLE:
    rows are hash-partitioned on ``key`` into ``buckets`` files per
    write task and sorted by ``key`` inside each bucket.

    This is the pre-shuffle that pays for itself: two tables bucketed
    the same way join with NO exchange on either side (see
    ``bucketed_join``) — at 100 TB the canonical fact⋈fact strategy
    when both sides outgrow broadcast and the join key is stable
    (order_id, user_id). Requires ``saveAsTable`` (bucket metadata
    lives in the catalog, not parquet footers).

    A managed-table location can survive a dropped/never-registered
    catalog entry (e.g. a previous session's warehouse dir); Spark
    then refuses the name with LOCATION_ALREADY_EXISTS even under
    overwrite, so both the entry and any orphaned location are cleared
    first.  Only simple unqualified identifiers are accepted — a
    qualified (``db.tbl``) or path-bearing name would make the
    orphan-cleanup rmtree target the wrong directory."""
    import re
    import shutil
    from urllib.parse import urlparse

    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", table):
        raise ValueError(
            f"write_bucketed_table needs a simple identifier, got "
            f"{table!r} (qualified or path-like names would misdirect "
            "the orphaned-location cleanup)")
    spark = df.sparkSession
    wh = os.path.abspath(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    # prefer the catalog's own location over string concat when the
    # entry still exists (it may live outside the default warehouse)
    loc = None
    ttype = None
    if spark.catalog.tableExists(table):
        for row in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect():
            if row.col_name == "Location":
                loc = urlparse(row.data_type).path
            elif row.col_name == "Type":
                ttype = row.data_type
        # EXTERNAL tables deliberately keep their data across DROP
        # TABLE; deleting their directory here would destroy data the
        # user placed outside our control. Only MANAGED entries (or
        # locations inside our own warehouse) are fair game.
        if (loc is not None and ttype != "MANAGED"
                and os.path.commonpath([os.path.abspath(loc), wh]) != wh):
            raise ValueError(
                f"table {table!r} already exists as a {ttype or 'non-'}"
                f"MANAGED table at external location {loc!r}; refusing "
                "to overwrite external data — drop it explicitly first")
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    if loc is None:
        loc = os.path.join(wh, table.lower())
    shutil.rmtree(loc, ignore_errors=True)
    (df.write.format("parquet").mode(mode)
       .bucketBy(buckets, key).sortBy(key).saveAsTable(table))


def bucketed_join(spark: SparkSession, left_table: str, right_table: str,
                  key: str) -> DataFrame:
    """Join two same-bucketed catalog tables on their bucket key. With
    matching bucket counts Spark plans a SortMergeJoin whose BOTH
    inputs read pre-bucketed files — zero Exchange, zero Sort (files
    are bucket-sorted), the shuffle paid once at write time and
    amortized over every subsequent join. ``test_round11`` asserts the
    exchange-free plan and result parity with the plain parquet join."""
    return spark.table(left_table).join(spark.table(right_table), key)
