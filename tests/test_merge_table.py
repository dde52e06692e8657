"""MergeIntoParquetTable: MERGE INTO semantics over the hash-bucketed
copy-on-write parquet table (the cluster-real upsert path; reference
semantics from consumer2.py Mongo bulk upserts)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from bigdata_project_hust_spark.streaming.merge_table import (
    MergeIntoParquetTable)


def _mk(spark, tmp_path, rows, n_buckets=8):
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=n_buckets)
    t.merge(spark.createDataFrame(rows, "k long, v long, s string"))
    return t


def _seg_files(t, v):
    """Parquet file name -> size of segment ``v``."""
    d = t._seg_path(v)
    return {f: os.path.getsize(os.path.join(d, f))
            for f in os.listdir(d) if f.endswith(".parquet")}


def _rows(t):
    df = t.read()
    return {} if df is None else {
        r["k"]: (r["v"], r["s"]) for r in df.collect()}


def test_merge_insert_then_replace(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 10, "a"), (2, 20, "b")])
    assert _rows(t) == {1: (10, "a"), 2: (20, "b")}
    t.merge(spark.createDataFrame([(2, 99, "B"), (3, 30, "c")],
                                  "k long, v long, s string"))
    assert _rows(t) == {1: (10, "a"), 2: (99, "B"), 3: (30, "c")}


def test_merge_update_set_inc_and_max(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 10, "a"), (2, 20, "b")])
    t.merge(spark.createDataFrame([(1, 5, "z"), (4, 7, "d")],
                                  "k long, v long, s string"),
            when_matched={"v": "t_v + s_v",
                          "s": "greatest(t_s, s_s)"})
    assert _rows(t) == {1: (15, "z"), 2: (20, "b"), 4: (7, "d")}


def test_merge_delete_and_ignore_unmatched(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")])
    t.merge(spark.createDataFrame([(2, 0, "x"), (9, 0, "x")],
                                  "k long, v long, s string"),
            when_matched="delete", when_not_matched="ignore")
    assert _rows(t) == {1: (10, "a"), 3: (30, "c")}


def test_merge_rewrites_only_touched_buckets(spark, tmp_path):
    """The table-format property: a merge leaves untouched buckets'
    pointers and their segment's files byte-identical in place (pruned,
    not rewritten), and its new segment holds only the source's
    buckets."""
    rows = [(k, k, f"r{k}") for k in range(60)]
    t = _mk(spark, tmp_path, rows, n_buckets=16)
    st0 = t._state()
    files0 = {v: _seg_files(t, v) for v in set(st0["buckets"].values())}
    src = spark.createDataFrame([(1, 111, "upd")],
                                "k long, v long, s string")
    t.merge(src)
    st1 = t._state()
    changed = [b for b in st0["buckets"]
               if st1["buckets"].get(b) != st0["buckets"][b]]
    unchanged = [b for b in st0["buckets"]
                 if st1["buckets"].get(b) == st0["buckets"][b]]
    assert len(changed) == 1          # exactly the source key's bucket
    assert len(unchanged) == len(st0["buckets"]) - 1
    for b in unchanged:               # same files, same sizes on disk
        v = st0["buckets"][b]
        assert _seg_files(t, v) == files0[v]
    seg_buckets = {r[0] for r in spark.read.parquet(
        t._seg_path(st1["version"])).select("__bucket").distinct()
        .collect()}
    src_buckets = {r[0] for r in src.select(t._bucket_col()).collect()}
    assert seg_buckets <= src_buckets
    assert _rows(t)[1] == (111, "upd")


def test_merge_exactly_once_under_epoch_retry(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 1, "a")])
    inc = spark.createDataFrame([(1, 10, "a")], "k long, v long, s string")
    t.upsert_inc(inc, ["v"], [], epoch_id=7)
    t.upsert_inc(inc, ["v"], [], epoch_id=7)   # redelivery: no-op
    assert _rows(t)[1] == (11, "a")
    t.upsert_inc(inc, ["v"], [], epoch_id=8)
    assert _rows(t)[1] == (21, "a")


def test_crash_before_manifest_swap_preserves_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path, [(1, 10, "a")])
    st = t._state()
    # simulate a crash mid-merge: new bucket version written, manifest
    # NOT swapped — the live snapshot must be unchanged, and vacuum
    # must clean the orphan
    src = spark.createDataFrame([(1, 99, "z")], "k long, v long, s string")
    out = t._merge_frames(t.read(), src, "replace", "insert")
    t._write_touched(out, [int(b) for b in st["buckets"]],
                     st["version"] + 1)
    assert _rows(t)[1] == (10, "a")      # old snapshot still live
    removed = t.vacuum()
    assert removed >= 1
    assert _rows(t)[1] == (10, "a")


def test_compact_merges_small_files(spark, tmp_path):
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=2)
    for i in range(4):                   # 4 merges -> multi-file buckets
        t.merge(spark.createDataFrame(
            [(i * 2, i, "x"), (i * 2 + 1, i, "y")],
            "k long, v long, s string"))
    before = _rows(t)
    # every merge rewrites whole buckets here (2 buckets), so files per
    # bucket stay small; force multi-file via repartition on write is
    # not needed — instead assert compact() is a no-op on 1-file
    # buckets and content is stable
    t.compact(max_files_per_bucket=1)
    assert _rows(t) == before


def test_compact_rewrites_multifile_bucket(spark, tmp_path):
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=1)
    # many partitions -> many files in the single bucket (AQE would
    # coalesce the dropDuplicates shuffle to one partition at this row
    # count, so switch it off for the ingest)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        df = spark.range(50).select(
            F.col("id").alias("k"), F.col("id").alias("v"),
            F.lit("s").alias("s")).repartition(8)
        t.merge(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    st = t._state()
    assert len(_seg_files(t, st["buckets"]["0"])) > 1
    before = _rows(t)
    t.compact(max_files_per_bucket=1)
    st2 = t._state()
    assert len(_seg_files(t, st2["buckets"]["0"])) == 1
    assert _rows(t) == before
    t.compact(max_files_per_bucket=1)    # already compact: no-op
    assert t._state()["version"] == st2["version"]


def test_foreachbatch_stream_sink(spark, tmp_path):
    """Wire the merge table as a Structured Streaming foreachBatch
    sink: per-key replace upserts, exactly-once by epoch."""
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=4)
    src = str(tmp_path / "in")
    os.makedirs(src)
    spark.createDataFrame([(1, 10, "a"), (2, 20, "b")],
                          "k long, v long, s string") \
        .write.mode("overwrite").parquet(src)

    def sink(batch, epoch_id):
        t.upsert_replace(batch, epoch_id=epoch_id)

    q = (spark.readStream.schema("k long, v long, s string")
         .parquet(src)
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert _rows(t) == {1: (10, "a"), 2: (20, "b")}


def test_empty_delete_drops_bucket(spark, tmp_path):
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=1)
    t.merge(spark.createDataFrame([(1, 1, "a")], "k long, v long, s string"))
    t.merge(spark.createDataFrame([(1, 0, "x")], "k long, v long, s string"),
            when_matched="delete", when_not_matched="ignore")
    assert t.read() is None
    m = json.load(open(os.path.join(str(tmp_path / "tbl"),
                                    "_manifest.json")))
    assert m["buckets"] == {}


def test_time_travel_and_history(spark, tmp_path):
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=2, retain_versions=2)
    t.merge(spark.createDataFrame([(1, 10, "a")], "k long, v long, s string"))
    t.merge(spark.createDataFrame([(1, 99, "z")], "k long, v long, s string"))
    assert _rows(t)[1] == (99, "z")
    # time travel to the pre-update snapshot
    old = {r["k"]: (r["v"], r["s"]) for r in t.read(version=1).collect()}
    assert old[1] == (10, "a")
    hist = t.history()
    assert [h["version"] for h in hist] == [1, 2]


def test_history_retention_expires_old_snapshots(spark, tmp_path):
    import pytest
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=2, retain_versions=2)
    for i in range(4):
        t.merge(spark.createDataFrame([(1, i, "x")],
                                      "k long, v long, s string"))
    assert [h["version"] for h in t.history()] == [3, 4]
    with pytest.raises(FileNotFoundError):
        t.read(version=1)
    # retained snapshots stay readable after vacuum
    t.vacuum()
    assert {r["k"]: r["v"] for r in t.read(version=3).collect()} == {1: 2}
    assert _rows(t)[1] == (3, "x")


def test_change_feed_between_versions(spark, tmp_path):
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=2, retain_versions=4)
    t.merge(spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c")],
        "k long, v long, s string"))
    # v2: update k=1, delete k=2, insert k=4, leave k=3 untouched
    t.merge(spark.createDataFrame([(1, 11, "a"), (4, 40, "d")],
                                  "k long, v long, s string"))
    t.merge(spark.createDataFrame([(2, 0, "del")],
                                  "k long, v long, s string"),
            when_matched="delete", when_not_matched="ignore")
    feed = {r["k"]: r["change_type"]
            for r in t.change_feed(1, 3).collect()}
    assert feed == {1: "U", 2: "D", 4: "I"}
    # adjacent-version feed sees only that hop
    feed12 = {r["k"]: r["change_type"]
              for r in t.change_feed(1, 2).collect()}
    assert feed12 == {1: "U", 4: "I"}


def test_snapshot_read_starts_no_job(spark, tmp_path):
    """The manifest carries the segments' schema, so building a snapshot
    read infers nothing from parquet footers: it starts no Spark job."""
    from .test_plans import jobs_started

    t = _mk(spark, tmp_path, [(1, 10, "a"), (2, 20, "b")])
    t.merge(spark.createDataFrame([(3, 30, "c")], "k long, v long, s string"))
    df, jobs = jobs_started(spark, t.read)
    assert jobs == 0
    assert df.schema.simpleString() == "struct<k:bigint,v:bigint,s:string>"
    assert _rows(t) == {1: (10, "a"), 2: (20, "b"), 3: (30, "c")}


def test_merge_rejects_null_key_rows(spark, tmp_path):
    # ADVICE r4: a NULL merge key used to crash the distinct-bucket
    # sort with TypeError (stable_hash64(NULL) is NULL); it now fails
    # fast with a clear contract error.
    import pytest
    t = _mk(spark, tmp_path, [(1, 10, "a")])
    bad = spark.createDataFrame([(None, 99, "x"), (2, 20, "b")],
                                "k long, v long, s string")
    with pytest.raises(ValueError, match="NULL 'k'"):
        t.merge(bad)
    # the failed merge must not have committed anything
    assert _rows(t) == {1: (10, "a")}


def _apply(model, rows, when_matched, when_not_matched):
    """Python reference for one MERGE over a {k: (v, s)} dict."""
    out = dict(model)
    for k, v, s in rows:
        if k not in out:
            if when_not_matched == "insert":
                out[k] = (v, s)
        elif when_matched == "delete":
            del out[k]
        elif when_matched == "replace":
            out[k] = (v, s)
        else:                            # the update set below
            out[k] = (out[k][0] + v, max(out[k][1], s))
    return out


def test_merge_sequence_matches_dict_model(spark, tmp_path):
    """Seeded sparse merges mixing every clause: after each one the
    current snapshot, every retained snapshot and the change feed
    across the retained window equal a dict model, while snapshots
    span several segments and some buckets are emptied; vacuum then
    removes nothing a retained snapshot reads."""
    import random

    rng = random.Random(3)
    keys = list(range(24))
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=8, retain_versions=4)
    bucket = {r[0]: r[1] for r in spark.createDataFrame(
        [(k,) for k in keys], "k long").select("k", t._bucket_col())
        .collect()}
    inc = {"v": "t_v + s_v", "s": "greatest(t_s, s_s)"}
    clauses = [("replace", "insert"), ("delete", "ignore"),
               (inc, "insert"), ("replace", "ignore"),
               ("delete", "insert"), (inc, "ignore")]
    models = {}

    def step(rows, when_matched, when_not_matched):
        t.merge(spark.createDataFrame(rows, "k long, v long, s string"),
                when_matched, when_not_matched)
        v = t._state()["version"]
        models[v] = _apply(models.get(v - 1, {}), rows, when_matched,
                           when_not_matched)
        assert _rows(t) == models[v]
        retained = [h["version"] for h in t.history()]
        assert retained == list(range(max(1, v - 3), v + 1))
        for rv in retained:
            got = {r["k"]: (r["v"], r["s"])
                   for r in t.read(version=rv).collect()}
            assert got == models[rv], rv
        old, new = models[retained[0]], models[v]
        want = {k: "I" if k not in old else "D" if k not in new else "U"
                for k in old.keys() | new.keys()
                if old.get(k) != new.get(k)}
        if len(retained) > 1:
            feed = t.change_feed(retained[0], v)
            assert {r["k"]: r["change_type"]
                    for r in feed.collect()} == want

    step([(k, k, f"s{k}") for k in keys], "replace", "insert")
    emptied = bucket[5]
    for i in range(8):
        if i == 2:                       # empty one bucket outright
            rows = [(k, 0, "x") for k in keys if bucket[k] == emptied]
            clause = ("delete", "ignore")
        else:
            rows = [(k, rng.randrange(100), rng.choice("abcxyz"))
                    for k in rng.sample(keys, rng.randint(1, 4))]
            clause = clauses[i % len(clauses)]
        step(rows, *clause)
        if i == 2:
            assert str(emptied) not in t._state()["buckets"]
    st = t._state()
    assert len(set(st["buckets"].values())) > 1   # spans segments
    live = {t._seg_path(v) for h in t.history()
            for v in t._version_state(h["version"])["buckets"].values()}
    t.vacuum()
    assert all(os.path.isdir(p) for p in live)
    for h in t.history():
        assert {r["k"]: (r["v"], r["s"])
                for r in t.read(version=h["version"]).collect()} \
            == models[h["version"]]


def test_foreachbatch_merge_reads_each_microbatch_once(spark, tmp_path):
    """The merge reads its source once: over the kafka_shaped source,
    every trigger's numInputRows equals the records in its offset
    range (a count()/collect() on the batch frame would multiply it)."""
    from bigdata_project_hust_spark.sources import (append_records,
                                                    create_topic)
    from bigdata_project_hust_spark.streaming.pipeline import (
        kafka_shaped_stream)

    root = str(tmp_path / "log")
    create_topic(root, "users", partitions=2)
    t = MergeIntoParquetTable(spark, str(tmp_path / "tbl"), "k",
                              n_buckets=4)
    parsed = kafka_shaped_stream(spark, root, "users",
                                 "k long, v long, s string")
    q = (parsed.select("k", "v", "s").writeStream
         .foreachBatch(lambda b, e: t.upsert_replace(b, epoch_id=e))
         .option("checkpointLocation", str(tmp_path / "ckpt")).start())
    try:
        for lo in (0, 10):                     # two triggers with data
            append_records(root, "users", [
                (str(k), json.dumps({"k": k, "v": k, "s": "x"}))
                for k in range(lo, lo + 10)])
            q.processAllAvailable()
        progress = [json.loads(p.json) for p in q.recentProgress]
    finally:
        q.stop()

    def records(p):
        src = p["sources"][0]
        start = (src.get("startOffset") or {}).get("users", {})
        return sum(int(hi) - int(start.get(part, 0)) for part, hi in
                   (src.get("endOffset") or {}).get("users", {}).items())

    assert [p["numInputRows"] for p in progress] == \
        [records(p) for p in progress]
    assert sum(p["numInputRows"] for p in progress) == 20
    assert len([p for p in progress if p["numInputRows"]]) == 2
    assert _rows(t) == {k: (k, "x") for k in range(20)}
