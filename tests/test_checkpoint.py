"""checkpoint.materialize — the one strategy switch every
multi-consumer intermediate routes through (VERDICT r5 #5)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_project_hust_spark.checkpoint import (
    clear_checkpoints, materialize)


def _run_dir(spark, base):
    # reliable checkpoints are namespaced per run (ADVICE r6: the flat
    # layout accumulated unowned directories across runs)
    return os.path.join(str(base), spark.sparkContext.applicationId)


def test_materialize_default_cache_prefilled(spark):
    """Default strategy = eager cache: the InMemoryRelation is FULLY
    built before materialize returns (no lazy-fill race), and
    consumers read the cache, not the original subtree."""
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = materialize(df, "t_cache")
    try:
        # fill happened inside materialize — every cached batch is
        # already in the block manager before any consumer runs
        status = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert any(s.numCachedPartitions() > 0 for s in status)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan
        assert out.count() == 100
    finally:
        out.unpersist()


def test_materialize_local_truncates_lineage(spark):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = materialize(df, "t_local", strategy="local")
    assert out.count() == 100
    # lineage is cut: the materialized frame scans an existing RDD,
    # not the original range
    assert "ExistingRDD" in out._jdf.queryExecution().executedPlan().toString()


def test_materialize_reliable_parquet_roundtrip(spark, tmp_path):
    df = spark.range(50).withColumn("v", F.col("id") % 7)
    out = materialize(df, "t_rel", strategy="reliable", path=str(tmp_path))
    assert sorted(map(tuple, out.collect())) == \
        sorted(map(tuple, df.collect()))
    rd = _run_dir(spark, tmp_path)
    dirs = [d for d in os.listdir(rd) if d.startswith("t_rel_")]
    assert len(dirs) == 1 and dirs[0].endswith(".parquet")
    # the returned frame READS the durable copy (survives executor
    # loss — lineage roots at a FileScan, not the original plan)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan or "FileScan" in plan
    # repeated materializations never collide (counter-uniquified)
    materialize(df, "t_rel", strategy="reliable", path=str(tmp_path))
    assert len([d for d in os.listdir(rd)
                if d.startswith("t_rel_")]) == 2


def test_materialize_env_driven_strategy(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_STRATEGY flips every call site at once —
    a cluster deployment needs no code change."""
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_STRATEGY", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    df = spark.range(10)
    out = materialize(df, "t_env")
    assert out.count() == 10
    assert any(d.startswith("t_env_")
               for d in os.listdir(_run_dir(spark, tmp_path)))


def test_materialize_validates_inputs(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_STRATEGY", raising=False)
    df = spark.range(1)
    with pytest.raises(ValueError, match="strategy"):
        materialize(df, strategy="bogus")
    with pytest.raises(ValueError, match="directory"):
        materialize(df, strategy="reliable")


def test_clear_checkpoints_removes_only_this_run(spark, tmp_path,
                                                 monkeypatch):
    """clear_checkpoints reclaims THIS run's namespace; another run's
    subtree (a different applicationId) is untouched, and a second
    clear is a no-op returning False."""
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    other = tmp_path / "app-someoldrun-0001" / "t_x_0.parquet"
    other.mkdir(parents=True)
    df = spark.range(5)
    materialize(df, "t_clr", strategy="reliable", path=str(tmp_path))
    rd = _run_dir(spark, tmp_path)
    assert os.path.isdir(rd)
    assert clear_checkpoints(spark) is True
    assert not os.path.exists(rd)
    assert other.exists()                       # other run untouched
    assert clear_checkpoints(spark) is False    # idempotent no-op
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR")
    assert clear_checkpoints(spark) is False    # no base dir → no-op


def test_operator_through_reliable_path(spark, tmp_path, monkeypatch):
    """An end-to-end operator (clustering coefficient past the triangle
    broadcast gate: edge frame + degree frame both materialized)
    produces the broadcast kernel's results under the reliable
    strategy."""
    from bigdata_project_hust_spark.operators import graph
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "pa long, pb long")
    local = {r.node: tuple(r)
             for r in graph.clustering_coefficient(edges).collect()}
    monkeypatch.setattr(graph, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_STRATEGY", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    rel = {r.node: tuple(r)
           for r in graph.clustering_coefficient(edges).collect()}
    assert rel == local
    assert local[1] == (1, 2, 1, 1_000_000)  # in the triangle: cc = 1
    assert local[4] == (4, 1, 0, 0)          # pendant: degree < 2 → 0
    rd = _run_dir(spark, tmp_path)
    assert any(d.startswith("cc_edge_frame") for d in os.listdir(rd))
    assert any(d.startswith("cc_degrees") for d in os.listdir(rd))


def test_graph_and_dedup_headliners_reliable_parity(spark, tmp_path,
                                                    monkeypatch):
    """VERDICT r6 #4: the reliable strategy exercised END-TO-END on the
    two headliner families whose 100 TB story depends on it —
    triangle_count past its broadcast gate (the materialized oriented
    frame feeds the adjacency build and the edge-side join, and the
    test asserts the durable parquet artifact exists) and
    semantic_dedup — asserting result equality with the local
    strategy. semantic_dedup takes no checkpoint barrier any
    more (its k-means rounds and verify are Arrow kernels and its
    members frame has one consumer); it stays here as a no-regression
    guard, should a barrier come back, that the strategy flip cannot
    change its results."""
    from bigdata_project_hust_spark.operators import graph
    from bigdata_project_hust_spark.operators.graph import triangle_count
    from bigdata_project_hust_spark.operators.similarity import (
        semantic_dedup)
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges = spark.createDataFrame(k4 + [(10, 11), (11, 12)],
                                  "pa long, pb long")
    vecs = spark.createDataFrame(
        [(i, [1.0 + 0.001 * (i % 3), float(i // 3)]) for i in range(24)],
        "vec_id long, embedding array<double>")
    tri_local = sorted(map(tuple, triangle_count(edges).collect()))
    sd_local = sorted(map(tuple, semantic_dedup(vecs, k=4).collect()))
    monkeypatch.setattr(graph, "TRIANGLE_BROADCAST_MAX_EDGES", 0)
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_STRATEGY", "reliable")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path))
    assert sorted(map(tuple, triangle_count(edges).collect())) == tri_local
    assert sorted(map(tuple, semantic_dedup(vecs, k=4).collect())) == sd_local
    # both operators actually took the durable path
    rd = _run_dir(spark, tmp_path)
    assert any(d.startswith("tri_oriented") for d in os.listdir(rd))


def test_env_cache_rejected(spark, monkeypatch):
    """SPARK_GRAFT_CHECKPOINT_STRATEGY accepts only local/reliable:
    a global flip to 'cache' would silently re-route the
    correctness-motivated prefer='local' loop sites (k_core, CC) onto
    the path that OOMs canonicalizing their 3^rounds logical trees
    (ADVICE r7)."""
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_STRATEGY", "cache")
    df = spark.range(5)
    with pytest.raises(ValueError, match="local.*reliable|reliable"):
        materialize(df, "t_env_cache")
    # explicit strategy='local' at a call site is still honored
    out = materialize(df, "t_env_cache_local", strategy="local")
    assert out.count() == 5


def test_cache_is_always_eager(spark):
    """eager=False must NOT produce a lazily-persisted cache frame —
    that is exactly the concurrent-consumer fill race the cache
    strategy exists to prevent (ADVICE r7).  Asserts on THIS frame's
    RDD id, not any cached RDD in the shared session (ADVICE r8: a
    leftover cache from another test made the old any() vacuous)."""
    df = spark.range(64).withColumn("v", F.col("id") + 1)
    sc = spark.sparkContext._jsc.sc()
    before = {s.id() for s in sc.getRDDStorageInfo()}
    out = materialize(df, "t_lazy_cache", strategy="cache", eager=False)
    try:
        new = [s for s in sc.getRDDStorageInfo()
               if s.id() not in before]
        assert new and any(s.numCachedPartitions() > 0 for s in new)
    finally:
        out.unpersist()


def test_release_all_frees_cache_and_local_blocks(spark):
    """release_all() (VERDICT r8 #1) must unpersist cache-strategy
    frames AND remove localCheckpoint RDD blocks from the block
    manager — clearCache() alone leaves the latter pinned for the
    frame's lifetime, which is the r8 multi-query bench regression."""
    from bigdata_project_hust_spark.checkpoint import release_all

    release_all(spark)  # drain pins left by earlier tests
    cached = materialize(spark.range(128), "t_rel_cache",
                         strategy="cache")
    local = materialize(
        spark.range(128).withColumn("v", F.col("id") * 2),
        "t_rel_local", strategy="local")
    local_rid = local._jdf.queryExecution().analyzed().rdd().id()
    sc = spark.sparkContext._jsc.sc()
    assert any(s.id() == local_rid and s.numCachedPartitions() > 0
               for s in sc.getRDDStorageInfo())
    assert release_all(spark) >= 2
    # cache frame: storage level dropped back to NONE
    assert cached.storageLevel.useMemory is False
    # local frame: blocks gone — lineage is truncated, so computing it
    # again must fail (the release is real, not a storage-info no-op)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID"):
        local.count()
    # idempotent and empty after drain
    assert release_all(spark) == 0


@pytest.mark.slow_tier
def test_tracked_list_compacts_without_release(spark):
    """ADVICE r9 #2: a session that never calls release_all() must not
    grow _TRACKED unboundedly — once the list crosses the compaction
    threshold, dead unreleasable entries (GC'd cache frames) are
    dropped opportunistically, while live frames and dead-but-
    removable local entries (RDD id recorded) survive compaction."""
    import gc

    from bigdata_project_hust_spark import checkpoint as cp

    cp.release_all(spark)  # start from an empty list
    keep = materialize(spark.range(8), "t_compact_live", strategy="cache")
    try:
        with cp._TRACKED_LOCK:
            base = len(cp._TRACKED)
        assert base == 1
        # flood with short-lived cache frames past the threshold; each
        # is dropped by Python immediately, so compaction can reap them
        for i in range(cp._TRACKED_COMPACT_AT + 32):
            df = spark.range(2).persist()
            df.count()
            with cp._TRACKED_LOCK:
                cp._TRACKED.append(("cache", __import__("weakref").ref(df),
                                    None))
            df.unpersist(blocking=True)
            del df
        gc.collect()
        materialize(spark.range(8), "t_compact_trigger",
                    strategy="cache").unpersist()
        with cp._TRACKED_LOCK:
            n = len(cp._TRACKED)
            live = [e for e in cp._TRACKED if e[1]() is not None]
        assert n < cp._TRACKED_COMPACT_AT, \
            f"compaction did not reap dead entries (len={n})"
        assert any(e[1]() is keep for e in live)
    finally:
        cp.release_all(spark)


def test_barriers_name_their_jobs(spark):
    """Every materialize/materialize_counted barrier names the jobs it
    starts after its label (``spark.job.description`` in the status
    store) and restores the caller's description afterwards."""
    import uuid

    from bigdata_project_hust_spark.checkpoint import materialize_counted

    tag = uuid.uuid4().hex
    sc = spark.sparkContext
    sc.setJobDescription(f"outer_{tag}")
    try:
        materialize(spark.range(10), f"cache_{tag}").unpersist()
        _, n = materialize_counted(spark.range(11), f"local_{tag}",
                                   strategy="local")
        assert n == 11
        assert sc.getLocalProperty("spark.job.description") == f"outer_{tag}"
        spark.range(12).count()
    finally:
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    names = [j.description().get()
             for j in conv.asJava(sc._jsc.sc().statusStore().jobsList(None))
             if j.description().isDefined()
             and j.description().get().endswith(tag)]
    assert set(names) == {f"cache_{tag}", f"local_{tag}", f"outer_{tag}"}
