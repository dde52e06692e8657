"""Kafka-shaped streaming source (sources/kafka_log.py) — the S4/ST1
closure: multi-topic subscribe, per-partition offsets, startingOffsets,
failOnDataLoss, admission control, and checkpointed exactly-once resume
exercised through a REAL Structured Streaming source (no broker needed),
ending with the full consumer1 chain (parse → F2/P1/F1 → watermarked
dedup → upsert sink) run end-to-end with a kill/restart in the middle
(reference consumer1.py:41-48,155-172)."""

from __future__ import annotations

import json
import time

import pytest
from pyspark.sql import functions as F, types as T

from bigdata_project_hust_spark.sources import (KAFKA_FRAME_SCHEMA,
                                                append_records, create_topic,
                                                expire_before,
                                                register_kafka_shaped)
from bigdata_project_hust_spark.streaming.pipeline import (
    kafka_shaped_stream, parse_kafka_frame)

USER_SCHEMA = T.StructType([
    T.StructField("user_id", T.LongType()),
    T.StructField("screen_name", T.StringType()),
    T.StructField("followers_count", T.LongType()),
    T.StructField("friends_count", T.LongType()),
    T.StructField("statuses_count", T.LongType()),
])


def _user(i: int, followers: int = 100, friends: int = 10,
          statuses: int = 50, name: str | None = None) -> tuple[str, str]:
    return (str(i), json.dumps({
        "user_id": i, "screen_name": name or f"twitter_user_{i}",
        "followers_count": followers, "friends_count": friends,
        "statuses_count": statuses}))


def _drain(spark, df, name: str, ckpt: str | None = None):
    w = df.writeStream.format("memory").queryName(name)
    if ckpt:
        w = w.option("checkpointLocation", ckpt)
    q = w.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def test_schema_is_the_kafka_frame(spark, tmp_path):
    register_kafka_shaped(spark)
    root = str(tmp_path)
    create_topic(root, "tweets_topic", partitions=2)
    df = (spark.readStream.format("kafka_shaped")
          .option("path", root).option("subscribe", "tweets_topic").load())
    assert df.schema == KAFKA_FRAME_SCHEMA


def test_multi_topic_earliest_reads_everything(spark, tmp_path):
    """Three topics, two partitions each, earliest offsets: every
    record arrives exactly once with correct topic/partition/offset,
    keyed records land on a stable partition, per-partition offsets
    are dense from 0 (consumer1.py:41-48's subscription shape)."""
    register_kafka_shaped(spark)
    root = str(tmp_path)
    topics = ["projects_topic", "tweets_topic", "users_topic"]
    for t in topics:
        create_topic(root, t, partitions=2)
        append_records(root, t, [_user(i) for i in range(10)])
    df = (spark.readStream.format("kafka_shaped")
          .option("path", root)
          .option("subscribe", ",".join(topics))
          .option("startingOffsets", "earliest").load())
    got = _drain(spark, df, "ks_multi")
    assert got.count() == 30
    per_topic = {r["topic"]: r["c"] for r in
                 got.groupBy("topic").agg(F.count("*").alias("c")).collect()}
    assert per_topic == {t: 10 for t in topics}
    # offsets dense from 0 within each (topic, partition)
    for r in (got.groupBy("topic", "partition")
                 .agg(F.min("offset").alias("lo"),
                      F.max("offset").alias("hi"),
                      F.count("*").alias("n")).collect()):
        assert r["lo"] == 0 and r["n"] == r["hi"] + 1
    # same key → same partition (default-partitioner property)
    one_key = got.where(F.col("key").cast("string") == "3") \
                 .select("topic", "partition").distinct()
    assert one_key.groupBy("topic").count().agg(
        F.max("count")).first()[0] == 1
    # values parse losslessly through the shared downstream chain
    parsed = parse_kafka_frame(
        spark.createDataFrame(got.collect(), KAFKA_FRAME_SCHEMA),
        USER_SCHEMA)
    assert parsed.where(F.col("user_id").isNull()).count() == 0


def test_starting_offsets_latest_and_json_map(spark, tmp_path):
    register_kafka_shaped(spark)
    root = str(tmp_path)
    create_topic(root, "t1", partitions=1)
    append_records(root, "t1", [_user(i) for i in range(6)])
    # latest: pre-existing rows invisible; rows appended after start flow
    st = (spark.readStream.format("kafka_shaped")
          .option("path", root).option("subscribe", "t1")
          .option("startingOffsets", "latest").load())
    q = (st.writeStream.format("memory").queryName("ks_latest").start())
    try:
        q.processAllAvailable()
        assert spark.table("ks_latest").count() == 0
        append_records(root, "t1", [_user(100 + i) for i in range(3)])
        q.processAllAvailable()
        assert spark.table("ks_latest").count() == 3
    finally:
        q.stop()
    # JSON offset map: start partition 0 at offset 4 → rows 4..8
    st2 = (spark.readStream.format("kafka_shaped")
           .option("path", root).option("subscribe", "t1")
           .option("startingOffsets", json.dumps({"t1": {"0": 4}})).load())
    got = _drain(spark, st2, "ks_map")
    assert got.count() == 5
    assert got.agg(F.min("offset")).first()[0] == 4


def test_fail_on_data_loss_semantics(spark, tmp_path):
    """Retention expiry below the requested offset: hard error by
    default (exactly-once preserved), skip-and-continue when the job
    opts out — mirroring the real source's failOnDataLoss contract."""
    register_kafka_shaped(spark)
    root = str(tmp_path)
    create_topic(root, "t1", partitions=1)
    append_records(root, "t1", [_user(i) for i in range(10)])
    expire_before(root, "t1", {0: 5})
    strict = (spark.readStream.format("kafka_shaped")
              .option("path", root).option("subscribe", "t1")
              .option("startingOffsets", json.dumps({"t1": {"0": 2}}))
              .load())
    q = (strict.writeStream.format("memory").queryName("ks_strict").start())
    with pytest.raises(Exception, match="[Dd]ata loss|Offsets out of range"):
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    lax = (spark.readStream.format("kafka_shaped")
           .option("path", root).option("subscribe", "t1")
           .option("startingOffsets", json.dumps({"t1": {"0": 2}}))
           .option("failOnDataLoss", "false").load())
    got = _drain(spark, lax, "ks_lax")
    # offsets 2..4 expired and skipped; 5..9 delivered
    assert got.count() == 5
    assert got.agg(F.min("offset")).first()[0] == 5


def test_max_records_per_trigger_bounds_batches(spark, tmp_path):
    """Admission control: no micro-batch admits more than the cap, the
    stream still drains the full backlog across triggers."""
    register_kafka_shaped(spark)
    root = str(tmp_path)
    create_topic(root, "t1", partitions=2)
    append_records(root, "t1", [_user(i) for i in range(40)])
    st = (spark.readStream.format("kafka_shaped")
          .option("path", root).option("subscribe", "t1")
          .option("maxRecordsPerTrigger", "7").load())
    batch_sizes: list[int] = []
    q = (st.writeStream.foreachBatch(
            lambda df, bid: batch_sizes.append(df.count()))
         .start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert sum(batch_sizes) == 40
    assert max(batch_sizes) <= 7 + 1  # +1: per-partition min-progress floor


def test_subscribe_pattern_and_assign(spark, tmp_path):
    register_kafka_shaped(spark)
    root = str(tmp_path)
    for t in ("ev_a", "ev_b", "other"):
        create_topic(root, t, partitions=1)
        append_records(root, t, [_user(1)])
    pat = (spark.readStream.format("kafka_shaped")
           .option("path", root).option("subscribePattern", "ev_.*").load())
    got = _drain(spark, pat, "ks_pat")
    assert {r["topic"] for r in got.select("topic").collect()} \
        == {"ev_a", "ev_b"}
    asg = (spark.readStream.format("kafka_shaped")
           .option("path", root)
           .option("assign", json.dumps({"other": [0]})).load())
    got2 = _drain(spark, asg, "ks_asg")
    assert {r["topic"] for r in got2.select("topic").collect()} == {"other"}
    # exactly-one-mode is enforced at .load() time like the real source
    with pytest.raises(Exception, match="exactly one"):
        (spark.readStream.format("kafka_shaped")
         .option("path", root).option("subscribe", "ev_a")
         .option("assign", json.dumps({"other": [0]})).load())


def test_batch_read_over_same_log(spark, tmp_path):
    register_kafka_shaped(spark)
    root = str(tmp_path)
    create_topic(root, "t1", partitions=3)
    append_records(root, "t1", [_user(i) for i in range(12)])
    df = (spark.read.format("kafka_shaped")
          .option("path", root).option("subscribe", "t1").load())
    assert df.count() == 12
    assert df.schema == KAFKA_FRAME_SCHEMA
    # one task per (topic, partition) — Kafka's parallelism model
    assert df.rdd.getNumPartitions() == 3


def test_consumer1_chain_end_to_end_with_kill_restart(spark, tmp_path):
    """The full consumer1 pipeline through the kafka_shaped source with
    a kill/restart in the middle (reference consumer1.py:41-48,155-172):

      multi-topic subscribe (earliest) → value JSON parse
      (parse_kafka_frame) → F2 twitter→x value rewrite → F1 influence
      score → P2 KOL threshold → watermarked dedup-on-ingest →
      parquet upsert sink, checkpointed.

    Assertions: exactly-once across the restart (no re-emit of
    committed offsets, no loss), duplicates injected after restart are
    dropped by the dedup stage, and the restart resumes from the
    checkpoint rather than re-reading offset 0."""
    from bigdata_project_hust_spark.functions.scalar import (influence_score,
                                                             rewrite_values)
    from bigdata_project_hust_spark.streaming.pipeline import dedup_stream

    root = str(tmp_path / "log")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    create_topic(root, "twitter_users_topic", partitions=2)
    create_topic(root, "tweets_topic", partitions=1)

    # phase 1: 20 users (every other one above the KOL threshold)
    append_records(root, "twitter_users_topic",
                   [_user(i, followers=120 if i % 2 == 0 else 10)
                    for i in range(20)])

    def start():
        raw = kafka_shaped_stream(
            spark, root, "twitter_users_topic,tweets_topic", USER_SCHEMA,
            max_records_per_trigger=8)
        users = raw.where(F.col("topic") == "twitter_users_topic")
        scored = (users
                  .withColumn("screen_name",
                              rewrite_values("screen_name"))
                  .withColumn("influence",
                              influence_score("followers_count",
                                              "statuses_count",
                                              "friends_count"))
                  .where(F.col("influence") >= 50)
                  .withColumn("ingest_ts", F.current_timestamp()))
        deduped = dedup_stream(scored, ["user_id"], "ingest_ts",
                               watermark="10 minutes")
        return (deduped.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt).start())

    q = start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()  # kill
    first = spark.read.parquet(out_dir)
    n1 = first.count()
    assert n1 == 10  # the evens pass the threshold
    assert first.where(F.col("screen_name").contains("twitter")).count() == 0
    assert first.where(F.col("screen_name").startswith("x_user_")).count() \
        == 10

    # phase 2: re-emit 4 committed keys (duplicates) + 5 fresh KOLs
    append_records(root, "twitter_users_topic",
                   [_user(i, followers=120) for i in range(0, 8, 2)]
                   + [_user(100 + i, followers=120) for i in range(5)])
    append_records(root, "tweets_topic", [_user(999, followers=120)])

    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.read.parquet(out_dir)
    # exactly-once + dedup: 10 from phase 1, +5 fresh; re-emitted keys
    # dropped by dropDuplicatesWithinWatermark, committed offsets not
    # re-read (a re-read would double the phase-1 evens)
    assert got.count() == 15
    assert got.select("user_id").distinct().count() == 15
    assert got.where(F.col("user_id") >= 100).count() == 5

    # the checkpoint's offset log must show resume-from-committed:
    # the phase-2 start offset for users partition logs is > 0
    offs = sorted((tmp_path / "ckpt" / "offsets").glob("*"))
    assert len(offs) >= 2
    last = json.loads(offs[-1].read_text().splitlines()[-1])
    # all 30 appended records consumed: 20 phase-1 users + 9 phase-2
    # users (4 dupes + 5 fresh) + 1 tweets record
    assert sum(v for per in last.values() for v in per.values()) == 30


def test_restart_mid_stream_exactly_once(spark, tmp_path):
    """Kill between micro-batches with a small admission cap, restart
    from the same checkpoint: every record exactly once (the ratchet in
    KafkaShapedStreamReader must never let latestOffset regress)."""
    register_kafka_shaped(spark)
    root = str(tmp_path / "log")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    create_topic(root, "t1", partitions=2)
    append_records(root, "t1", [_user(i) for i in range(60)])

    def start():
        st = (spark.readStream.format("kafka_shaped")
              .option("path", root).option("subscribe", "t1")
              .option("maxRecordsPerTrigger", "10").load())
        return (st.writeStream.format("parquet")
                .option("path", out_dir)
                .option("checkpointLocation", ckpt).start())

    q = start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            try:
                if spark.read.parquet(out_dir).count() >= 10:
                    break
            except Exception:
                pass
            time.sleep(0.2)
    finally:
        q.stop()  # mid-stream kill
    n_partial = spark.read.parquet(out_dir).count()
    assert 10 <= n_partial <= 60
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = spark.read.parquet(out_dir)
    assert got.count() == 60, "rows lost or duplicated across restart"
    assert (got.select("topic", "partition", "offset").distinct().count()
            == 60)


class _StubQuery:
    """A started query whose run raises ``errors`` in turn (then
    succeeds) and whose first ``stop()`` raises."""

    def __init__(self, errors: list[Exception]):
        self.errors = errors
        self.stops = 0

    def processAllAvailable(self):
        if self.errors:
            raise self.errors.pop(0)

    def stop(self):
        self.stops += 1
        if self.stops == 1:
            raise RuntimeError("stop failed: session torn down")


def test_stream_start_retry_survives_failing_stop():
    """consumer1 round trip's stream-start retry: a STREAM_FAILED (or,
    with no condition, a connect-back message) restarts the query even
    when ``stop()`` raises; any other error is re-raised on the first
    attempt, never replaced by the ``stop()`` error."""
    from pyspark.errors import StreamingQueryException

    from bigdata_project_hust_spark.plans.round23 import (
        _process_all_with_retry)

    class _StreamFailed(StreamingQueryException):
        def getCondition(self):
            return "STREAM_FAILED"

    for transient in (_StreamFailed("Python worker failed to connect"),
                      RuntimeError("Python worker failed to connect back")):
        q = _StubQuery([transient])
        starts = []

        def start():
            starts.append(1)
            return q

        _process_all_with_retry(start)
        assert len(starts) == 2 and q.stops == 2

    q = _StubQuery([ValueError("bad record")])
    starts = []
    with pytest.raises(ValueError, match="bad record") as ei:
        _process_all_with_retry(lambda: starts.append(1) or q)
    assert len(starts) == 1 and q.stops == 1
    assert "stop failed" in "".join(ei.value.__notes__)

    q = _StubQuery([_StreamFailed("boom") for _ in range(3)])
    with pytest.raises(_StreamFailed, match="boom"):
        _process_all_with_retry(lambda: q, attempts=3)
    assert q.stops == 3
