"""The benchmark's workloads, one per processing layer.

Each workload sets itself up (session start plus an untimed warm pass of
its own operations, checked like every other output), measures for the
requested number of seconds, and reports three end-to-end metrics under
the same names (every run reports every metric of ``BENCHMARK.json``),
each with a per-workload meaning:

===================  =====================  ======================
metric               curation_batch         speed_layer_ingest
===================  =====================  ======================
``setup_s``          session start plus the warm pass
``latency_s``        mean over the jobs of  median record latency,
                     each job's median      due time to the commit
                     time                   of its micro-batch
``throughput_per_s`` ``semantic_dedup``     median over the
                     input rows per second  catch-up batches of
                     of its median time     records per second
===================  =====================  ======================

``curation_batch``'s throughput follows one job on its own so that a
gain in that job alone (the similarity pair-verify kernel) shows at
full size, not diluted by the other three jobs in the job mean.

The traced run reports per-layer metrics instead; every workload reports
every per-layer name, with 0 where the layer does no work.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

import pyarrow.parquet as pq

from inputs import CURATION_SF, DATA, STREAM_SF, WARM_SF, matches
from spans import SparkCounters

#: one job per heavy operator module: graph, dedup, similarity and
#: multimodal, with ``checkpoint`` barriers in the first three. The other
#: heavy headliners (``lpa_communities_parts``,
#: ``triangle_count_copurchase``, ``pagerank_trade_graph``,
#: ``dedup_ngram_prefix``) are left out to keep a run inside its time
#: budget.
CURATION = ("clustering_coefficient", "dedup_components_twophase",
            "semantic_dedup", "multimodal_curation")
#: the job ``curation_batch``'s throughput follows, and the table it reads
FOCUS, FOCUS_TABLE = "semantic_dedup", "embeddings"
KAFKA_C1 = "kafka_consumer1"

EXEC_COUNTS = ("jobs", "stages", "tasks", "sql_executions",
               "shuffle_write_bytes", "shuffle_records", "spill_bytes",
               "python_rows", "python_bytes", "scan_rows", "scan_bytes",
               "unpartitioned_window_rows")
_COUNT_UNITS = {"shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
                "python_bytes": "bytes", "scan_bytes": "bytes",
                "shuffle_records": "rows", "python_rows": "rows",
                "scan_rows": "rows", "unpartitioned_window_rows": "rows"}
#: per-layer metrics, in report order, with their units
LAYER_METRICS = {
    "session.start_s": "s", "warmup_s": "s", "traced.latency_s": "s",
    "plans.build_s": "s", "catalyst.plan_s": "s", "exec.s": "s",
    **{f"exec.{c}": _COUNT_UNITS.get(c, "count") for c in EXEC_COUNTS},
    "checkpoint.calls": "count", "checkpoint.s": "s",
    "source.latest_offset_ms": "ms", "source.records": "rows",
    "source.backlog_records": "rows",
    "stream.batches": "count", "stream.trigger_ms": "ms",
    "stream.plan_ms": "ms", "stream.add_batch_ms": "ms",
    "stream.commit_ms": "ms", "merge.s": "s", "merge.jobs": "count",
    "merge.buckets_touched": "count", "stream.input_rows": "rows",
    "generator.late_s": "s",
}


def oracles() -> dict[str, tuple[str, str]]:
    """Pin key -> (scale, DuckDB SQL) for every output the workloads
    check."""
    from bigdata_project_hust_spark.plans.queries import QUERIES
    from bigdata_project_hust_spark.plans.round23 import ORACLE_KAFKA_C1

    out = {}
    for sf in (WARM_SF, CURATION_SF):
        for name in CURATION:
            out[f"{sf}/{name}"] = (sf, QUERIES[name].oracle)
    for sf in (WARM_SF, STREAM_SF):
        out[f"{sf}/{KAFKA_C1}"] = (sf, ORACLE_KAFKA_C1)
    return out


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


class Workload:
    """Shared set-up, bookkeeping and reporting.

    A run sets up once: a second set-up (session restart plus warm pass)
    would add 25-35 s to every run on 4 cores, more than the benchmark's
    repeated-run time budget holds, so ``setup_s`` is the one cold set-up
    of the run."""

    def __init__(self, pins, tracer, seed, seconds, work):
        self.pins = pins
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.spark = None
        self.counters = None
        self.correct = True
        self.attempted = 0
        self.failed = 0
        self.session_s = 0.0
        self.warm_s = 0.0

    @staticmethod
    def sf_dir(scale: str) -> str:
        return os.path.join(DATA, scale)

    def set_up(self, cores: int):
        from bigdata_project_hust_spark.session import get_spark

        shutil.rmtree(self.work, ignore_errors=True)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", cores)
        t1 = time.perf_counter()
        self.warm()
        self.session_s = t1 - t0
        self.warm_s = time.perf_counter() - t1
        if self.tracer.enabled:
            self.counters = SparkCounters(self.spark)
        return self.spark

    def verify(self, key: str, pdf) -> None:
        if not matches(self.pins[key], pdf):
            self.mismatch(f"{key}: {len(pdf)} rows differ from the oracle "
                          "pin")

    def mismatch(self, what: str) -> None:
        self.correct = False
        print(f"MISMATCH {what}", file=sys.stderr)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAILED {what}", file=sys.stderr)
        traceback.print_exc()

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        values = dict.fromkeys(LAYER_METRICS, 0.0)
        values["session.start_s"] = self.session_s
        values["warmup_s"] = self.warm_s
        values["traced.latency_s"] = self.latency()
        values.update(self.layer_values())
        return {k: (float(v), LAYER_METRICS[k]) for k, v in values.items()}

    def end_to_end_metrics(self) -> dict[str, tuple[float, str]]:
        return {"setup_s": (self.session_s + self.warm_s, "s"),
                "latency_s": (self.latency(), "s"),
                "throughput_per_s": (self.throughput(), "1/s")}


class CurationBatch(Workload):
    """Batch layer: the heavy curation jobs at sf0.01, one at a time, in
    passes over ``PASS``, each in seeded order, until the time is up (and
    at least one whole pass). Each result is collected to the
    driver (the client's view of a complete result) and checked outside
    the timed region; cached frames and checkpoint blocks are released
    between jobs, as ``bench.py`` does."""

    NAMES = CURATION
    #: one measured pass: every job once and the focus job three times, so
    #: that the throughput median has three samples even in one pass
    PASS = CURATION + (FOCUS, FOCUS)
    SCALE = CURATION_SF

    def __init__(self, *args):
        super().__init__(*args)
        self.latencies: dict[str, list[float]] = {n: [] for n in self.NAMES}
        self.order: list[str] = []
        self.ops: list[dict] = []
        self.focus_rows = pq.read_metadata(os.path.join(
            self.sf_dir(self.SCALE), f"{FOCUS_TABLE}.parquet")).num_rows

    def warm(self) -> None:
        """One pass at the warm scale, then the focus job once at the
        measured scale: its first run there is 15-30% slower than later
        ones, and the throughput median has only a few samples."""
        for name in self.NAMES:
            self.run_query(name, WARM_SF, f"warm-{name}")
        self.run_query(FOCUS, self.SCALE, f"warm-{FOCUS}")

    def run_query(self, name: str, scale: str, op: str) -> float | None:
        from bigdata_project_hust_spark.checkpoint import release_all
        from bigdata_project_hust_spark.plans.queries import QUERIES

        spark = self.spark
        self.attempted += 1
        if self.counters is not None:
            self.counters.tag(op)
        try:
            t0 = time.perf_counter()
            with self.tracer.span("request", op=op, query=name):
                with self.tracer.span("plans.build"):
                    df = QUERIES[name].fn(spark, self.sf_dir(scale))
                with self.tracer.span("catalyst.plan"):
                    df._jdf.queryExecution().executedPlan()
                with self.tracer.span("exec"):
                    pdf = df.toPandas()
            elapsed = time.perf_counter() - t0
        except Exception:  # noqa: BLE001 — counted and reported
            self.fail(f"{name} at {scale}")
            return None
        finally:
            if self.counters is not None:
                self.counters.untag()
            spark.catalog.clearCache()
            release_all(spark)
        self.verify(f"{scale}/{name}", pdf)
        return elapsed

    def measure(self) -> None:
        rng = random.Random(self.seed)
        deadline = time.perf_counter() + self.seconds
        with self.tracer.checkpoint_spans():
            # one job at a time, in seeded passes, until the deadline and
            # at least one whole pass are reached
            order: list[str] = []
            while (time.perf_counter() < deadline
                   or len(self.order) < len(self.PASS)):
                if not order:
                    order = list(self.PASS)
                    rng.shuffle(order)
                name = order.pop(0)
                op = f"op{len(self.order)}"
                self.order.append(name)
                lat = self.run_query(name, self.SCALE, op)
                self.ops.append({"op": op, "query": name, "latency_s": lat})
                if lat is not None:
                    self.latencies[name].append(lat)
        if self.counters is not None:
            spark_counts = self.counters.by_op()
            for rec in self.ops:
                rec.update(dict.fromkeys(EXEC_COUNTS, 0))
                rec.update(spark_counts.get(rec["op"], {}))
                rec.update(self.tracer.op_times(rec["op"]))

    def per_query_median(self) -> dict[str, float]:
        return {n: round(statistics.median(v), 4)
                for n, v in self.latencies.items() if v}

    def latency(self) -> float:
        """Mean over the jobs of each job's median time."""
        missing = [n for n, v in self.latencies.items() if not v]
        if missing:
            self.mismatch(f"no completed run of {missing}")
            return 0.0
        return _mean(statistics.median(v) for v in self.latencies.values())

    def throughput(self) -> float:
        """``semantic_dedup``'s input rows per second of its own run
        time, median over its runs."""
        times = self.latencies[FOCUS]
        if not times:
            self.mismatch(f"no completed {FOCUS} run")
            return 0.0
        return self.focus_rows / statistics.median(times)

    def context(self) -> dict:
        return {"scale": self.SCALE, "requests": len(self.order),
                "per_query_median_s": self.per_query_median(),
                "per_query_s": {n: [round(t, 3) for t in v]
                                for n, v in self.latencies.items()}}

    def per_op_counters(self) -> list[dict]:
        return self.ops

    def layer_values(self) -> dict[str, float]:
        ops = self.ops
        out = {"plans.build_s": _mean(r.get("plans.build_s", 0) for r in ops),
               "catalyst.plan_s": _mean(r.get("catalyst.plan_s", 0)
                                        for r in ops),
               "exec.s": _mean(r.get("exec_s", 0) for r in ops),
               "checkpoint.calls": _mean(
                   r.get("checkpoint.materialize.calls", 0)
                   + r.get("checkpoint.materialize_counted.calls", 0)
                   for r in ops),
               "checkpoint.s": _mean(
                   r.get("checkpoint.materialize_s", 0)
                   + r.get("checkpoint.materialize_counted_s", 0)
                   for r in ops)}
        for c in EXEC_COUNTS:
            out[f"exec.{c}"] = _mean(r[c] for r in ops)
        return out


class SpeedLayerIngest(Workload):
    """Speed layer: consumer1 as a stream. A 4-partition Kafka-shaped log
    is preloaded with seeded replays of the sf0.1 customer table (keys
    repeat, so upserts hit existing rows); the stream parses, rewrites,
    scores and thresholds each record and a ``foreachBatch`` upserts the
    batch into a bucketed merge table. After the backlog drains, a
    generator thread appends further replayed records on a fixed
    schedule, well below catch-up capacity, for the measured seconds.
    The final table must equal the oracle over the customer table."""

    TOPIC = "twitter_users_topic"
    PARTITIONS = 4
    REPLAYS = 2
    MAX_PER_TRIGGER = 15_000
    #: records per second; low enough that a live batch costs little more
    #: than its fixed merge jobs, so latency does not swell with backlog
    LIVE_RATE = 300
    TICK_S = 0.1

    def __init__(self, *args):
        super().__init__(*args)
        self.rng = random.Random(self.seed)
        self.commits: dict[int, float] = {}
        self.batch_ops: dict[int, dict] = {}
        self.phase = "warm"
        self.table = None
        self.preloaded = 0
        self.catchup_batches: list[int] = []
        self.batch_rates: list[float] = []
        self.live_latency: list[float] = []
        self.late: list[float] = []
        self.progress: list[dict] = []
        self.live_chunks: list[tuple[int, int, int, float]] = []

    # -- inputs ----------------------------------------------------------
    def records(self, scale: str) -> list[tuple[str, str]]:
        t = pq.read_table(os.path.join(self.sf_dir(scale),
                                       "customer.parquet"),
                          columns=["c_custkey", "c_name", "c_acctbal",
                                   "c_nationkey"]).to_pylist()
        return [(str(r["c_custkey"]), json.dumps(r)) for r in t]

    def replay(self, recs, times):
        """``times`` seeded permutations of ``recs`` back to back — the
        producer's endless replay, in seeded key order."""
        out = []
        for _ in range(times):
            out.extend(self.rng.sample(recs, len(recs)))
        return out

    @staticmethod
    def line_counts(log: str, topic: str, parts: int) -> list[int]:
        out = []
        for p in range(parts):
            with open(os.path.join(log, topic, f"p{p:05d}.jsonl"),
                      "rb") as f:
                out.append(f.read().count(b"\n"))
        return out

    # -- the stream ------------------------------------------------------
    def start_stream(self, log: str, name: str):
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        from bigdata_project_hust_spark.functions.scalar import (
            influence_score, rewrite_values)
        from bigdata_project_hust_spark.streaming.merge_table import (
            MergeIntoParquetTable)
        from bigdata_project_hust_spark.streaming.pipeline import (
            kafka_shaped_stream)

        schema = T.StructType([
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_nationkey", T.LongType()),
        ])
        self.table = MergeIntoParquetTable(
            self.spark, os.path.join(self.work, name, "table"), "c_custkey")
        parsed = kafka_shaped_stream(
            self.spark, log, self.TOPIC, schema,
            max_records_per_trigger=self.MAX_PER_TRIGGER)
        scored = (parsed
                  .withColumn("c_name", rewrite_values("c_name"))
                  .withColumn("influence_score",
                              influence_score(F.col("c_acctbal"),
                                              F.col("c_custkey") % 100,
                                              F.col("c_nationkey")))
                  .where(F.col("influence_score") >= 50)
                  .select("c_custkey", "c_name", "influence_score"))
        return (scored.writeStream.foreachBatch(self.upsert)
                .option("checkpointLocation",
                        os.path.join(self.work, name, "ckpt"))
                .start())

    def upsert(self, batch_df, batch_id: int) -> None:
        op = f"{self.phase}-b{batch_id}"
        self.attempted += 1
        if self.counters is not None:
            self.counters.tag(op)
        try:
            with self.tracer.span("merge", op=op):
                self.table.merge(batch_df, "replace", "insert",
                                 epoch_id=batch_id)
        except Exception:
            self.fail(f"micro-batch {batch_id}")
            raise
        finally:
            if self.counters is not None:
                self.counters.untag()
        self.commits[batch_id] = time.time()
        if self.tracer.enabled:
            with open(os.path.join(self.table.path,
                                   "_manifest.json")) as f:
                st = json.load(f)
            self.batch_ops[batch_id] = {
                "op": op, "buckets_touched": sum(
                    1 for v in st["buckets"].values()
                    if v == st["version"])}

    def drain(self, query, scale: str) -> None:
        try:
            query.processAllAvailable()
        except Exception:  # noqa: BLE001 — counted and reported
            self.fail("stream")
        finally:
            query.stop()
        final = self.table.read()
        if final is None:
            self.mismatch("stream: empty table")
            return
        self.verify(f"{scale}/{KAFKA_C1}", final.toPandas())

    def warm(self) -> None:
        from bigdata_project_hust_spark.sources import (append_records,
                                                        create_topic)

        log = os.path.join(self.work, "warm", "log")
        create_topic(log, self.TOPIC, self.PARTITIONS)
        append_records(log, self.TOPIC, self.replay(
            self.records(WARM_SF), 2))
        self.commits.clear()
        query = self.start_stream(log, "warm")
        self.drain(query, WARM_SF)

    # -- measurement -----------------------------------------------------
    def measure(self) -> None:
        from bigdata_project_hust_spark.sources import (append_records,
                                                        create_topic)

        recs = self.records(STREAM_SF)
        log = os.path.join(self.work, "run", "log")
        create_topic(log, self.TOPIC, self.PARTITIONS)
        preload = self.replay(recs, self.REPLAYS)
        append_records(log, self.TOPIC, preload)
        self.preloaded = len(preload)
        ends = self.line_counts(log, self.TOPIC, self.PARTITIONS)
        live = self.replay(recs, 1 + int(self.seconds * self.LIVE_RATE
                                         / len(recs)))
        self.commits.clear()
        self.batch_ops.clear()
        self.phase = "catchup"
        query = self.start_stream(log, "run")
        try:
            query.processAllAvailable()
            self.catchup_batches = sorted(self.commits)
            self.phase = "live"
            gen = threading.Thread(
                target=self.generate,
                args=(append_records, log, live, ends), daemon=True)
            gen.start()
            gen.join()
        except Exception:  # noqa: BLE001 — counted and reported
            self.fail("stream")
        self.drain(query, STREAM_SF)
        # batches that read records (idle triggers report too)
        self.progress = [p for p in (json.loads(q.json)
                                     for q in query.recentProgress)
                         if p["numInputRows"]]
        self.batch_rates = self.catchup_rates()
        self.live_latency = self.match_latency()
        expected = sum(hi - lo for _, lo, hi, _ in self.live_chunks)
        if not expected or len(self.live_latency) != expected:
            self.mismatch(f"live phase: {len(self.live_latency)} of "
                          f"{expected} generated records matched to a "
                          "committed micro-batch")
        if self.counters is not None:
            spark_counts = self.counters.by_op()
            for rec in self.batch_ops.values():
                rec.update(dict.fromkeys(EXEC_COUNTS, 0))
                rec.update(spark_counts.get(rec["op"], {}))
                rec.update(self.tracer.op_times(rec["op"]))

    def catchup_rates(self) -> list[float]:
        """Records per second of each catch-up batch: the records in its
        offset range over its trigger's duration."""
        by_batch = {p["batchId"]: p for p in self.progress}
        rates = [self.batch_records(by_batch[b])
                 / (by_batch[b]["durationMs"]["triggerExecution"] / 1000)
                 for b in self.catchup_batches if b in by_batch]
        if not rates or len(rates) != len(self.catchup_batches):
            self.mismatch(f"catch-up: {len(rates)} of "
                          f"{len(self.catchup_batches)} committed batches "
                          "have progress")
        return rates

    def generate(self, append_records, log, live, ends) -> None:
        """Open loop: every ``TICK_S`` append the next slice of records,
        stamped with its due time, and log which (partition, offset)
        range each append produced."""
        try:
            self._generate(append_records, log, live, ends)
        except Exception:  # noqa: BLE001 — counted and reported
            self.fail("generator")

    def _generate(self, append_records, log, live, ends) -> None:
        per_tick = int(self.LIVE_RATE * self.TICK_S)
        sizes = [os.path.getsize(os.path.join(
            log, self.TOPIC, f"p{p:05d}.jsonl"))
            for p in range(self.PARTITIONS)]
        offsets = list(ends)
        t0 = time.time()
        for i in range(int(self.seconds / self.TICK_S)):
            due = t0 + i * self.TICK_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            chunk = live[i * per_tick:(i + 1) * per_tick]
            append_records(log, self.TOPIC, chunk, ts_ms=int(due * 1000))
            for p in range(self.PARTITIONS):
                path = os.path.join(log, self.TOPIC, f"p{p:05d}.jsonl")
                with open(path, "rb") as f:
                    f.seek(sizes[p])
                    added = f.read()
                sizes[p] += len(added)
                n = added.count(b"\n")
                if n:
                    self.live_chunks.append(
                        (p, offsets[p], offsets[p] + n, due))
                    offsets[p] += n
            self.late.append(time.time() - due)

    def match_latency(self) -> list[float]:
        """Per live record: commit time of the micro-batch whose offset
        range holds it, minus the record's due time."""
        out = []
        for prog in self.progress:
            bid = prog["batchId"]
            if bid not in self.commits:
                continue
            start = self.offsets(prog, "startOffset")
            end = self.offsets(prog, "endOffset")
            for p, lo_c, hi_c, due in self.live_chunks:
                lo = max(lo_c, start.get(str(p), 0))
                hi = min(hi_c, end.get(str(p), 0))
                if hi > lo:
                    out.extend([self.commits[bid] - due] * (hi - lo))
        return out

    def latency(self) -> float:
        return statistics.median(self.live_latency or [0.0])

    def throughput(self) -> float:
        """Median over the catch-up batches of records per second."""
        return statistics.median(self.batch_rates or [0.0])

    def context(self) -> dict:
        return {"scale": STREAM_SF, "catchup_records": self.preloaded,
                "catchup_batch_rates": [round(r, 1)
                                        for r in self.batch_rates],
                "batch_ms": [p["durationMs"]["triggerExecution"]
                             for p in self.progress],
                "live_records": len(self.live_latency),
                "live_batches": len(self.progress)
                - len(self.catchup_batches),
                "generator_late_max_s": round(max(self.late, default=0), 4)}

    def per_op_counters(self) -> list[dict]:
        by_batch = {p["batchId"]: p for p in self.progress}
        out = []
        for bid, rec in sorted(self.batch_ops.items()):
            prog = by_batch.get(bid)
            out.append({**rec, "batch": bid,
                        "records": prog and self.batch_records(prog),
                        "input_rows": prog and prog["numInputRows"],
                        "duration_ms": prog and prog["durationMs"]})
        return out

    def offsets(self, prog: dict, which: str) -> dict[str, int]:
        src = prog["sources"][0]
        return {p: int(o) for p, o in
                ((src.get(which) or {}).get(self.TOPIC, {})).items()}

    def batch_records(self, prog: dict) -> int:
        """Records in the batch's offset range (``numInputRows`` counts
        every re-read of the batch by the sink's actions)."""
        start = self.offsets(prog, "startOffset")
        return sum(hi - start.get(p, 0)
                   for p, hi in self.offsets(prog, "endOffset").items())

    def backlog(self, prog: dict) -> int:
        """Records in the log but not yet consumed when the batch
        committed."""
        done = self.commits.get(prog["batchId"], 0.0)
        written = self.preloaded + sum(
            hi - lo for _, lo, hi, due in self.live_chunks if due <= done)
        return written - sum(self.offsets(prog, "endOffset").values())

    def layer_values(self) -> dict[str, float]:
        progs = self.progress
        dur = [p.get("durationMs", {}) for p in progs]
        ops = list(self.batch_ops.values())
        out = {
            "source.latest_offset_ms": _mean(d.get("latestOffset", 0)
                                             for d in dur),
            "source.records": _mean(self.batch_records(p) for p in progs),
            "source.backlog_records": _mean(self.backlog(p)
                                            for p in progs),
            "stream.batches": len(progs),
            "stream.trigger_ms": _mean(d.get("triggerExecution", 0)
                                       for d in dur),
            "stream.plan_ms": _mean(d.get("queryPlanning", 0) for d in dur),
            "stream.add_batch_ms": _mean(d.get("addBatch", 0) for d in dur),
            "stream.commit_ms": _mean(d.get("walCommit", 0)
                                      + d.get("commitOffsets", 0)
                                      for d in dur),
            "merge.s": _mean(r.get("merge_s", 0) for r in ops),
            "merge.jobs": _mean(r["jobs"] for r in ops),
            "merge.buckets_touched": _mean(r["buckets_touched"]
                                           for r in ops),
            "stream.input_rows": _mean(p["numInputRows"] for p in progs),
            "generator.late_s": statistics.median(self.late or [0.0]),
        }
        for c in EXEC_COUNTS:
            out[f"exec.{c}"] = _mean(r[c] for r in ops)
        return out


WORKLOADS = {"curation_batch": CurationBatch,
             "speed_layer_ingest": SpeedLayerIngest}
