"""Round-23 extension queries (build round 10): the two scale-shaped
gaps VERDICT r9 #5 named.

* ``dedup_components_twophase`` — connected components over the MinHash
  near-dup pair graph: a partition-local union-find, then alternating
  large-star/small-star contraction (Kiveris et al., SoCC 2014) over
  what it left: O(log² n) shuffle rounds regardless of graph diameter.
  At 100 TB the CC loop is the dedup pipeline's depth bottleneck — a
  loose threshold chains documents into long paths. It runs the same
  kernel as ``dedup_components`` (``dedup.connected_components``) and
  keeps its own registry name as the curation benchmark's CC job.
  Oracle: the same recursive-CTE reachability-min.
* ``multimodal_curation_stream`` — the streaming twin of the
  ``multimodal_curation`` headliner: the same decode → quality-gate →
  perceptual-fingerprint stages running as ``foreachBatch`` over an
  incremental file source (availableNow), landing gated per-asset rows
  in an append-only parquet sink; the final fingerprint dedup + keeper
  election runs batch over the sink. Gate expressions are SHARED
  functions with the batch headliner (`_mm_image_gate` /
  `_mm_audio_gate` / `_mm_curation_keepers`), so batch/stream parity is
  by construction; the oracle is the batch headliner's closed-form
  ORACLE_MM_CURATION, making the stream's exactly-once file handling
  part of the value-hash check.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from ..functions.scalar import influence_score, rewrite_values
from ..operators import dedup, multimodal
from ..sources import produce_topic_from_df
from ..streaming.pipeline import kafka_shaped_stream
from .queries import (ORACLE_MM_CURATION, _mm_audio_gate,
                      _mm_curation_keepers, _mm_image_gate,
                      _mm_jpeg_assets, _mm_wav_assets, _oracle_components)
from .spec import QuerySpec, _t

QUERIES_ROUND23: dict[str, QuerySpec] = {}


def q_dedup_components_twophase(spark, sf_dir):
    """Bounded-rounds duplicate clusters (dedup.connected_components)
    over the MinHash pair graph. Same output contract and oracle as
    dedup_components."""
    pairs = dedup.minhash_near_duplicates(_t(spark, sf_dir, "documents"))
    return dedup.connected_components(pairs).select(
        F.col("node").alias("doc_id"), "component")


def q_multimodal_curation_stream(spark, sf_dir):
    """Streaming twin of multimodal_curation: decode + gates in
    foreachBatch over an incremental parquet file source (ST4's
    maxFilesPerTrigger pacing, availableNow termination), exactly-once
    per-asset gated rows appended to a parquet sink, final
    fingerprint-keeper agg batch over the sink. At 100 TB this is the
    continuous-ingest shape: assets arrive as files, each micro-batch
    decodes only its files (arrow-batched, embarrassingly parallel),
    and the only stateful stage is the final small-key aggregation —
    run here as a batch query over the sink, or in production as an
    update-mode streaming agg downstream."""
    docs = _t(spark, sf_dir, "documents")
    work = tempfile.mkdtemp(prefix="mm_curation_stream_")
    src_img = os.path.join(work, "src_img")
    src_aud = os.path.join(work, "src_aud")
    # land the asset tables as MULTI-FILE parquet dirs so the file
    # source actually paces several micro-batches (repartition already
    # applied inside the asset builders)
    _mm_jpeg_assets(docs).write.parquet(src_img)
    _mm_wav_assets(docs).write.parquet(src_aud)

    def drain(src: str, sink: str, gate, stats_fn) -> None:
        schema = spark.read.parquet(src).schema
        # schema-bearing init write: an all-empty stream must still
        # leave a readable (0-row) sink for the final batch join
        gate(stats_fn(spark.read.parquet(src).limit(0))) \
            .write.mode("overwrite").parquet(sink)
        st = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 4).parquet(src))
        q = (st.writeStream
             .foreachBatch(lambda batch_df, _bid:
                           gate(stats_fn(batch_df))
                           .write.mode("append").parquet(sink))
             .option("checkpointLocation", os.path.join(work,
                                                        f"ckpt_{sink[-7:]}"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    sink_img = os.path.join(work, "imgf")
    sink_aud = os.path.join(work, "audf")
    drain(src_img, sink_img, _mm_image_gate, multimodal.extract_pixel_stats)
    drain(src_aud, sink_aud, _mm_audio_gate, multimodal.extract_audio_stats)
    return _mm_curation_keepers(spark.read.parquet(sink_img),
                                spark.read.parquet(sink_aud))


def _stream_failed(ex: Exception) -> bool:
    """A query that died with ``STREAM_FAILED``; the message substring
    is the fallback for an error that carries no condition."""
    if isinstance(ex, StreamingQueryException):
        return ex.getCondition() == "STREAM_FAILED"
    return "connect back" in str(ex)


def _process_all_with_retry(start, attempts: int = 3) -> None:
    """Run ``start()``'s query to completion, restarting it after a
    stream failure.

    The Python streaming source spawns a dedicated worker process, and
    Spark 4.1's connect-back wait is a HARD-CODED 10 s
    (Selector.select(10000L) in PythonWorkerFactory — the
    spark.python.authenticate.socketTimeout conf does not govern it,
    which is why the r10 session-conf mitigation never worked, in any
    session).  Under heavy external host load the spawn can miss that
    window and the query dies at INITIALIZING with STREAM_FAILED
    "Python worker failed to connect back" (CORRECTNESS_r10's one red
    row, in the driver's own session).  A restart from the checkpoint
    is exactly-once safe whatever failed the stream (the parquet sink
    is manifest-logged), so every STREAM_FAILED is retried and a
    deterministic one is re-raised after the last attempt; any other
    error is re-raised at once.  A failing ``stop()`` never replaces
    the query's own error."""
    for attempt in range(attempts):
        q = start()
        try:
            q.processAllAvailable()
        except Exception as ex:
            try:
                q.stop()
            except Exception as stop_ex:  # noqa: BLE001 — noted on ex
                ex.add_note(f"query.stop() also failed: {stop_ex!r}")
            if attempt + 1 == attempts or not _stream_failed(ex):
                raise
        else:
            q.stop()
            return


def q_kafka_consumer1_roundtrip(spark, sf_dir):
    """S4/ST1 as a DRIVER-ORACLED query: the customer table is landed
    as a 4-partition Kafka-shaped topic log by the distributed producer
    (crc32-keyed placement, value = JSON of the row — producer.py's
    shape), consumed through the kafka_shaped STREAMING source
    (subscribe, earliest, checkpointed), and pushed through the
    consumer1 transform chain: value JSON parse → F2 twitter→x value
    rewrite → F1 influence score → P2 KOL threshold (consumer1.py:
    41-48,55-59,136) → parquet sink. The oracle is the same scored
    SELECT the batch twins use, so the whole source→parse→sink loop is
    value-hash-checked — a JSON-precision loss, an offset gap, or a
    dropped/duplicated micro-batch all fail the hash."""
    from pyspark.sql import types as T

    work = tempfile.mkdtemp(prefix="kafka_c1_")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal", "c_nationkey")
    produce_topic_from_df(cust, work, "twitter_users_topic",
                          key_col="c_custkey", partitions=4)
    schema = T.StructType([
        T.StructField("c_custkey", T.LongType()),
        T.StructField("c_name", T.StringType()),
        T.StructField("c_acctbal", T.DoubleType()),
        T.StructField("c_nationkey", T.LongType()),
    ])
    parsed = kafka_shaped_stream(spark, work, "twitter_users_topic",
                                 schema)
    scored = (parsed
              .withColumn("c_name", rewrite_values("c_name"))
              .withColumn("influence_score",
                          influence_score(F.col("c_acctbal"),
                                          F.col("c_custkey") % 100,
                                          F.col("c_nationkey")))
              .where(F.col("influence_score") >= 50)
              .select("c_custkey", "c_name", "influence_score"))
    out_dir = os.path.join(work, "out")
    _process_all_with_retry(
        lambda: scored.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start())
    return spark.read.parquet(out_dir)


ORACLE_KAFKA_C1 = """
  SELECT c_custkey, c_name,
         (coalesce(c_acctbal, 0) * 0.5::DOUBLE
          + coalesce(c_custkey % 100, 0)::DOUBLE * 0.3::DOUBLE
          - coalesce(c_nationkey, 0)::DOUBLE * 0.2::DOUBLE)
           AS influence_score
  FROM customer
  WHERE (coalesce(c_acctbal, 0) * 0.5::DOUBLE
         + coalesce(c_custkey % 100, 0)::DOUBLE * 0.3::DOUBLE
         - coalesce(c_nationkey, 0)::DOUBLE * 0.2::DOUBLE) >= 50
"""


QUERIES_ROUND23.update({
    "dedup_components_twophase": QuerySpec(
        q_dedup_components_twophase, _oracle_components(),
        headline=True,
        doc="duplicate clusters via partition-local union-find, then "
            "large-star/small-star contraction (O(log n) rounds, "
            "diameter-independent); same recursive-CTE oracle as "
            "dedup_components"),
    "multimodal_curation_stream": QuerySpec(
        q_multimodal_curation_stream, ORACLE_MM_CURATION,
        doc="streaming twin of the multimodal curation headliner: "
            "foreachBatch decode+gates over an incremental file source, "
            "batch keeper election over the exactly-once sink"),
    "kafka_consumer1_roundtrip": QuerySpec(
        q_kafka_consumer1_roundtrip, ORACLE_KAFKA_C1,
        doc="S4/ST1 driver-oracled: distributed producer -> "
            "kafka_shaped streaming source -> consumer1 chain (parse, "
            "F2 rewrite, F1 score, P2 threshold) -> parquet sink; "
            "value-hash vs the scored customer SELECT"),
})
