"""Round-10 operators: two-phase connected components (partition-local
union-find, then Kiveris et al.'s large-star/small-star contraction) and
the streaming multimodal-curation twin."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from bigdata_project_hust_spark.operators.dedup import (
    connected_components_twophase)


def _cc_of(df):
    return {(r["node"], r["component"]) for r in df.collect()}


def union_find_components(pairs) -> set:
    """Pure-Python reference: (node, least id of its component)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(x, find(x)) for x in parent}


def test_twophase_matches_min_propagation_random(spark):
    """The (node, component-min) labeling equals a pure-Python
    union-find's on a random graph with several components."""
    rng = random.Random(10)
    edges = set()
    # three blocks of 40 nodes with random intra-block edges
    for block in range(3):
        base = block * 100
        for _ in range(80):
            a, b = rng.sample(range(base, base + 40), 2)
            edges.add((a, b))
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges], "doc_a long, doc_b long")
    got = _cc_of(connected_components_twophase(pairs))
    assert got == union_find_components(edges)


def test_twophase_bounded_rounds_on_long_path(spark):
    """The reason this operator exists: a diameter-d path costs the
    min-propagation loop O(d) shuffle rounds, star contraction O(log d).
    On a 200-node path (diameter 199) the twophase variant must label
    every node with the minimum AND converge in ≤ 12 rounds."""
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    stats: dict = {}
    out = connected_components_twophase(pairs, stats=stats)
    rows = out.collect()
    assert len(rows) == n
    assert all(r["component"] == 0 for r in rows)
    assert stats["rounds"] <= 12, \
        f"star contraction took {stats['rounds']} rounds on a path"


def test_twophase_cliques_and_isolated_pair(spark):
    pairs = spark.createDataFrame(
        [(a, b) for a in range(5) for b in range(a + 1, 5)]  # clique 0-4
        + [(10, 11)],                                        # lone pair
        "doc_a long, doc_b long")
    stats: dict = {}
    got = _cc_of(connected_components_twophase(pairs, stats=stats))
    assert got == {(i, 0) for i in range(5)} | {(10, 10), (11, 10)}
    assert stats["rounds"] <= 3  # clique-ish graphs converge immediately


def test_twophase_self_loops_and_duplicate_pairs(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 1), (2, 3), (2, 3)],
        "doc_a long, doc_b long")
    got = _cc_of(connected_components_twophase(pairs))
    assert got == {(1, 1), (2, 1), (3, 1)}


def test_curation_stream_twin_matches_batch(spark):
    """The streaming twin (foreachBatch decode+gates over a file
    source) must reproduce the batch headliner row-for-row — shared
    gate functions + exactly-once sink handling."""
    from bigdata_project_hust_spark.plans.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    batch = QUERIES["multimodal_curation"].fn(spark, sf)
    stream = QUERIES["multimodal_curation_stream"].fn(spark, sf)
    cols = ["fingerprint", "n_assets", "keeper_id", "max_contrast3",
            "sum_signflips"]
    a = sorted(tuple(r) for r in batch.select(*cols).collect())
    b = sorted(tuple(r) for r in stream.select(*cols).collect())
    assert a == b and len(a) > 0
