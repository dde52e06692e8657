"""Opt-in 10× scale-exponent guards (VERDICT r8 #6).

Round 8's recurring disease was the multi-consumer LAZY subtree:
exchange reuse does not fire across aliased self-join branches, so a
banded candidate stage silently re-runs its whole upstream once per
consumer and the operator goes quadratic-ish.  It was found (and
fixed with measured crossover gates) in PPJoin, span-dedup, minhash,
ED1, PMI, journey and centroid — each time by a manual probe session.
These tests pin the probe methodology as a regression guard: run each
family at 1× and 10× (structure-preserving replication, output grows
exactly linearly) and assert the runtime exponent
``log(t10/t1)/log(10)`` stays under a GENEROUS ceiling (measured
exponents are ≤ 0.9; a lazy-subtree regression shows ≈ 2).

Timing-based and several minutes long, so they run only when
explicitly requested:

    SPARK_GRAFT_SCALE_GUARD=1 SPARK_GRAFT_CPUS=32 \
    SPARK_GRAFT_DRIVER_MEM=48g \
    python -m pytest tests/test_scale_exponents.py -q

Ceilings are deliberately loose (dedup 1.2, graph 1.3 — vs measured
0.07–0.93) so host noise cannot flake them; they exist to catch
order-of-growth regressions, not percent-level drift.
"""

from __future__ import annotations

import math
import os
import statistics
import time

import pytest
from pyspark.sql import functions as F

from bigdata_project_hust_spark import io as gio
from bigdata_project_hust_spark.operators import dedup
from bigdata_project_hust_spark.operators.graph import (
    clustering_coefficient, copurchase_edges, k_core, lpa_communities,
    triangle_count)

pytestmark = pytest.mark.skipif(
    os.environ.get("SPARK_GRAFT_SCALE_GUARD") != "1",
    reason="scale guards are an opt-in timing job "
           "(SPARK_GRAFT_SCALE_GUARD=1)")

SF_DIR = "/root/testdata/sf0.1"
N = 10
SHIFT = 10_000_000
ALPHA = "abcdefghijklmnopqrstuvwxyz"
REPS = 2


def _exponent(spark, fn, one, big, scale: int = N) -> float:
    from bigdata_project_hust_spark.checkpoint import release_all

    t = {}
    for tag, d in (("1x", one), ("10x", big)):
        times = []
        for _ in range(REPS):
            t0 = time.time()
            fn(d)
            times.append(time.time() - t0)
            # same hygiene as bench.py and the probe scripts: a rep
            # must not run on the previous rep's cache-manager-pinned
            # frames (measured: dirty reps turned triangle_count's
            # 20x exponent from 0.99 into 1.21)
            spark.catalog.clearCache()
            release_all(spark)
        t[tag] = statistics.median(times)
    return math.log(t["10x"] / t["1x"]) / math.log(scale)


@pytest.fixture(scope="module")
def docs_1x_10x(spark):
    """sf0.1 documents + 9 id-shifted copies whose text is re-lettered
    per copy (rotated alphabet): token boundaries and the intra-copy
    duplicate structure are preserved EXACTLY while cross-copy
    shingles are disjoint — output grows linearly, so the measured
    ratio isolates candidate-generation scaling (same construction as
    scripts/dedup_scale_probe.py)."""
    d1 = (gio.load_table(spark, SF_DIR, "documents")
          .select("doc_id", "text", "source").localCheckpoint())
    copies = []
    for k in range(N):
        rot = ALPHA[k % 26:] + ALPHA[:k % 26]
        txt = F.translate(F.col("text"), ALPHA + ALPHA.upper(),
                          rot + rot.upper())
        copies.append(d1.select(
            (F.col("doc_id") + F.lit(k * SHIFT)).alias("doc_id"),
            txt.alias("text"), F.col("source")))
    dn = copies[0]
    for c in copies[1:]:
        dn = dn.unionAll(c)
    yield d1, dn.localCheckpoint()


@pytest.fixture(scope="module")
def edges_1x_10x(spark):
    """sf0.1 co-purchase edges + 9 id-shifted copies (degree structure
    preserved; same construction as scripts/graph_scale_probe.py).
    The 10× graph crosses the 4M-edge broadcast gates, so the guard
    also exercises the shuffle fallbacks."""
    li = gio.load_table(spark, SF_DIR, "lineitem")
    e1 = copurchase_edges(li).localCheckpoint()
    copies = [e1.select((F.col("pa") + F.lit(k * SHIFT)).alias("pa"),
                        (F.col("pb") + F.lit(k * SHIFT)).alias("pb"))
              for k in range(N)]
    en = copies[0]
    for c in copies[1:]:
        en = en.unionAll(c)
    yield e1, en.localCheckpoint()


@pytest.mark.parametrize("name,fn,ceiling", [
    ("exact_md5", lambda d: dedup.exact_duplicates(d).count(), 1.2),
    ("minhash_lsh",
     lambda d: dedup.minhash_near_duplicates(d).count(), 1.2),
    ("simhash", lambda d: dedup.simhash_near_duplicates(d).count(), 1.2),
    ("ppjoin_prefix",
     lambda d: dedup.ngram_jaccard_pairs(d).count(), 1.2),
    ("span_dedup",
     lambda d: dedup.span_duplicates(d, n=20).count(), 1.2),
])
def test_dedup_family_stays_sublinear(spark, docs_1x_10x, name, fn,
                                      ceiling):
    d1, dn = docs_1x_10x
    exp = _exponent(spark, fn, d1, dn)
    assert exp < ceiling, (
        f"{name}: 10x exponent {exp:.2f} >= {ceiling} — a banded dedup "
        "stage regressed toward quadratic (check for a multi-consumer "
        "lazy subtree: is the shared candidate frame materialized?)")


@pytest.fixture(scope="module")
def edges_1x_20x(spark):
    """20× tier (VERDICT r9 #2): the two iterative-loop graph queries
    (lpa, k_core) are where a regression would hurt most at 100×, and
    their 20× exponents historically swung with host noise while the
    10× guards' 1.3 ceilings are too loose to catch a 20×-only
    pathology. Same id-shift construction, 20 copies (~24M directed
    edges — well past every broadcast gate)."""
    li = gio.load_table(spark, SF_DIR, "lineitem")
    e1 = copurchase_edges(li).localCheckpoint()
    copies = [e1.select((F.col("pa") + F.lit(k * SHIFT)).alias("pa"),
                        (F.col("pb") + F.lit(k * SHIFT)).alias("pb"))
              for k in range(20)]
    en = copies[0]
    for c in copies[1:]:
        en = en.unionAll(c)
    yield e1, en.localCheckpoint()


@pytest.mark.parametrize("name,fn,ceiling", [
    ("lpa_communities_20x",
     lambda e: lpa_communities(e).groupBy("community").count()
     .orderBy(F.desc("count")).limit(5).collect(), 1.3),
    ("k_core_20x",
     lambda e: k_core(e, k=3, rounds=6)
     .agg(F.count("*"), F.sum("core_degree")).collect(), 1.3),
])
def test_iterative_graph_20x_tier(spark, edges_1x_20x, name, fn,
                                  ceiling):
    """Quiet-host 20× pins (see STATUS round 10): lpa 0.8x–0.9x,
    k_core ~0.3 — the 1.3 ceiling catches an order-of-growth
    regression while staying far above measured + host noise."""
    e1, en = edges_1x_20x
    exp = _exponent(spark, fn, e1, en, scale=20)
    assert exp < ceiling, (
        f"{name}: 20x exponent {exp:.2f} >= {ceiling} — the iterative "
        "loop regressed (check per-round materialize/unpersist and the "
        "broadcast-gate fallback)")


@pytest.mark.parametrize("name,fn,ceiling", [
    ("triangle_count",
     lambda e: triangle_count(e).agg(F.sum("n_triangles")).collect(),
     1.3),
    ("clustering_coefficient",
     lambda e: clustering_coefficient(e)
     .agg(F.sum("n_triangles")).collect(), 1.3),
    ("lpa_communities",
     lambda e: lpa_communities(e).groupBy("community").count()
     .orderBy(F.desc("count")).limit(5).collect(), 1.3),
    ("k_core",
     lambda e: k_core(e, k=3, rounds=6)
     .agg(F.count("*"), F.sum("core_degree")).collect(), 1.3),
])
def test_graph_family_stays_near_linear(spark, edges_1x_10x, name, fn,
                                        ceiling):
    e1, en = edges_1x_10x
    exp = _exponent(spark, fn, e1, en)
    assert exp < ceiling, (
        f"{name}: 10x exponent {exp:.2f} >= {ceiling} — the graph loop "
        "regressed (check the broadcast gate fallback and the per-round "
        "materialize/unpersist discipline)")
