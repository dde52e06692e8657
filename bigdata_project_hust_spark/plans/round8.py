"""Round-8 extension queries: train/val/test split hygiene and
index-quality audits for the LLM-data-pipeline surface.

* ``split_leakage_audit`` — near-duplicate pairs straddling a
  deterministic train/val/test split: the contamination check a
  training pipeline must run BEFORE publishing a split (a val doc
  near-duplicating a train doc silently inflates eval numbers).
* ``dedup_method_kappa`` — Cohen's kappa agreement between the exact
  (md5) and MinHash near-dup document flags: the audit that tells you
  how much signal near-dup detection adds over exact dedup.
* ``ann_recall_ivfpq`` — recall@10 of the IVF-PQ index against the
  brute-force cosine baseline (the ivf_pq_topk twin of the existing
  LSH recall gate).

Same cross-engine exactness rules as ``queries.py``: integer counts
throughout; the one unavoidable division (kappa) runs once on a pinned
double tree and floors at e6.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalar import stable_hash64, stable_hash64_sql
from ..operators import dedup, similarity
from .queries import ORACLE_COSINE, _minhash_graph_sql
from .round4 import (_IVFPQ_NC, _IVFPQ_NPROBE, _PQ_D, _PQ_K, _PQ_KS,
                     _PQ_M, _PQ_QID, _oracle_ivf_pq)
from .spec import QuerySpec, _t

QUERIES_ROUND8: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# Split-leakage audit: near-dups straddling a train/val/test split
# ---------------------------------------------------------------------------

_SPLIT_SEED = 41    # deterministic hash split: 80/10/10 by doc_id


def _split_expr():
    s = F.pmod(stable_hash64(F.col("doc_id").cast("string"),
                             seed=_SPLIT_SEED), F.lit(10))
    return (F.when(s < 8, F.lit("train"))
             .when(s == 8, F.lit("val"))
             .otherwise(F.lit("test")))


def q_split_leakage_audit(spark, sf_dir):
    """Count MinHash near-dup pairs (Jaccard >= 1/2) by the split pair
    they land in under the deterministic 80/10/10 hash split; rows
    with ``leaked = 1`` are cross-split near-dups — benchmark
    contamination inside your own corpus. Scale shape: the pair set is
    the already-bucketed LSH pipeline (no new all-pairs work); the
    split map is a zero-shuffle hash of the id."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(d)
    sp = d.select(F.col("doc_id"), _split_expr().alias("split"))
    sa = sp.select(F.col("doc_id").alias("doc_a"),
                   F.col("split").alias("split_a"))
    sb = sp.select(F.col("doc_id").alias("doc_b"),
                   F.col("split").alias("split_b"))
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .groupBy("split_a", "split_b")
            .agg(F.count("*").alias("n_pairs"))
            .withColumn("leaked",
                        (F.col("split_a") != F.col("split_b"))
                        .cast("long")))


def _oracle_split_leakage() -> str:
    h = stable_hash64_sql("doc_id::VARCHAR", seed=_SPLIT_SEED)
    return f"""
  {_minhash_graph_sql()},
  pairs AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE i.inter_size * 2 >= (na.n_sh + nb.n_sh - i.inter_size)
  ),
  sp AS (
    SELECT doc_id,
           CASE WHEN ({h} % 10) < 8 THEN 'train'
                WHEN ({h} % 10) = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
  )
  SELECT sa.split AS split_a, sb.split AS split_b,
         count(*)::BIGINT AS n_pairs,
         (sa.split <> sb.split)::BIGINT AS leaked
  FROM pairs p
  JOIN sp sa ON sa.doc_id = p.doc_a
  JOIN sp sb ON sb.doc_id = p.doc_b
  GROUP BY sa.split, sb.split
"""


# ---------------------------------------------------------------------------
# Dedup-method agreement: Cohen's kappa, exact vs MinHash flags
# ---------------------------------------------------------------------------

def q_dedup_method_kappa(spark, sf_dir):
    """Cohen's kappa between two per-document binary labelings:
    ``exact`` (doc belongs to an md5 duplicate group) and ``near``
    (doc appears in a MinHash Jaccard>=1/2 pair). Outputs the full
    2x2 census plus kappa_e6 — one pinned-double division.

    Scale shape: both flag sets come from the scalable dedup pipelines
    (hash-groupBy / LSH buckets); the census is one broadcast-free
    groupBy over |docs| rows; kappa is a 1-row combine."""
    d = _t(spark, sf_dir, "documents")
    hashed = d.select(F.md5(F.col("text")).alias("h"), "doc_id")
    dup_h = (hashed.groupBy("h").agg(F.count("*").alias("nn"))
             .where(F.col("nn") > 1).select("h"))
    exact = (hashed.join(dup_h, "h")
             .select("doc_id").withColumn("a", F.lit(1)))
    pairs = dedup.minhash_near_duplicates(d)
    near = (pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct().withColumn("b", F.lit(1)))
    base = (d.select("doc_id")
            .join(exact, "doc_id", "left").join(near, "doc_id", "left")
            .select(F.coalesce("a", F.lit(0)).alias("a"),
                    F.coalesce("b", F.lit(0)).alias("b")))
    cells = base.groupBy().agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long")
        .alias("n00"))
    a1 = F.col("n11") + F.col("n10")
    b1 = F.col("n11") + F.col("n01")
    a0 = F.col("n01") + F.col("n00")
    b0 = F.col("n10") + F.col("n00")
    num = (F.col("n11") + F.col("n00")) * F.col("n") - (a1 * b1 + a0 * b0)
    den = F.col("n") * F.col("n") - (a1 * b1 + a0 * b0)
    kappa = F.when(den > 0,
                   F.floor(num.cast("double") * 1000000.0
                           / den.cast("double"))).otherwise(F.lit(0))
    return cells.select("n", "n11", "n10", "n01", "n00",
                        kappa.cast("long").alias("kappa_e6"))


def _oracle_kappa() -> str:
    return f"""
  {_minhash_graph_sql()},
  pairs AS (
    SELECT i.doc_a, i.doc_b
    FROM inter i
    JOIN sizes na ON na.doc_id = i.doc_a
    JOIN sizes nb ON nb.doc_id = i.doc_b
    WHERE i.inter_size * 2 >= (na.n_sh + nb.n_sh - i.inter_size)
  ),
  ex AS (
    SELECT doc_id FROM (
      SELECT doc_id, count(*) OVER (PARTITION BY md5(text)) AS nn
      FROM documents) WHERE nn > 1
  ),
  nr AS (
    SELECT DISTINCT doc_id FROM (
      SELECT doc_a AS doc_id FROM pairs
      UNION ALL SELECT doc_b FROM pairs)
  ),
  flags AS (
    SELECT (d.doc_id IN (SELECT doc_id FROM ex))::BIGINT AS a,
           (d.doc_id IN (SELECT doc_id FROM nr))::BIGINT AS b
    FROM documents d
  ),
  cells AS (
    SELECT count(*)::BIGINT AS n,
           sum(a * b)::BIGINT AS n11,
           sum(a * (1 - b))::BIGINT AS n10,
           sum((1 - a) * b)::BIGINT AS n01,
           sum((1 - a) * (1 - b))::BIGINT AS n00
    FROM flags
  )
  SELECT n, n11, n10, n01, n00,
         (CASE WHEN (n * n - ((n11 + n10) * (n11 + n01)
                              + (n01 + n00) * (n10 + n00))) > 0
               THEN floor(
                 ((n11 + n00) * n - ((n11 + n10) * (n11 + n01)
                                    + (n01 + n00) * (n10 + n00)))::DOUBLE
                 * 1000000.0
                 / (n * n - ((n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)))::DOUBLE)
               ELSE 0 END)::BIGINT AS kappa_e6
  FROM cells
"""


# ---------------------------------------------------------------------------
# IVF-PQ recall audit vs brute-force cosine
# ---------------------------------------------------------------------------

def q_ann_recall_ivfpq(spark, sf_dir):
    """Recall@10 of ivf_pq_topk against the exact cosine top-10 for
    the stored query vector — the IVF-PQ twin of ann_recall_lsh
    (quantifies list-miss + PQ-distortion loss together)."""
    e = _t(spark, sf_dir, "embeddings")
    ap = similarity.ivf_pq_topk(
        e, query_id=_PQ_QID, k=_PQ_K, n_centroids=_IVFPQ_NC,
        nprobe=_IVFPQ_NPROBE, m_sub=_PQ_M, sub_dim=_PQ_D,
        ks=_PQ_KS).select("vec_id")
    ex = similarity.cosine_topk(e, query_id=_PQ_QID,
                                k=_PQ_K).select("vec_id")
    hits = ap.join(ex, "vec_id")
    return hits.groupBy().agg(
        F.lit(_PQ_K).cast("long").alias("k"),
        F.count("*").cast("long").alias("n_hits"),
        (F.count("*") * (1_000_000 // _PQ_K)).cast("long")
        .alias("recall_e6"))


def _oracle_ann_recall_ivfpq() -> str:
    return f"""
  WITH approx AS (SELECT vec_id FROM ({_oracle_ivf_pq()})),
       exact AS (SELECT vec_id FROM ({ORACLE_COSINE}))
  SELECT {_PQ_K}::BIGINT AS k, count(*)::BIGINT AS n_hits,
         (count(*) * {1_000_000 // _PQ_K})::BIGINT AS recall_e6
  FROM approx JOIN exact USING (vec_id)
"""


QUERIES_ROUND8.update({
    "split_leakage_audit": QuerySpec(
        q_split_leakage_audit, _oracle_split_leakage(),
        doc="MinHash near-dup pairs straddling the deterministic "
            "80/10/10 hash split (benchmark-contamination audit)"),
    "dedup_method_kappa": QuerySpec(
        q_dedup_method_kappa, _oracle_kappa(),
        doc="Cohen's kappa agreement between exact-md5 and MinHash "
            "near-dup document flags (2x2 census + kappa_e6)"),
    "ann_recall_ivfpq": QuerySpec(
        q_ann_recall_ivfpq, _oracle_ann_recall_ivfpq(),
        doc="recall@10 of the IVF-PQ index vs brute-force cosine "
            "(index-quality gate for the PQ serving path)"),
})


# ---------------------------------------------------------------------------
# Leakage-safe split: assign splits by near-dup COMPONENT, not by doc
# ---------------------------------------------------------------------------

def q_leakage_safe_split(spark, sf_dir):
    """The FIX for what ``split_leakage_audit`` measures: hash-split
    by near-dup connected component (singletons are their own
    component), so every near-dup pair lands in the same split and
    cross-split contamination is zero BY CONSTRUCTION (asserted in
    test_round8). Output: per-split census (docs + distinct
    components). Scale shape: LSH pair pipeline + connected components
    (both bucketed), then a zero-shuffle hash of the component id."""
    d = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_near_duplicates(d)
    comp = dedup.connected_components(pairs).withColumnRenamed(
        "node", "doc_id")
    full = (d.select("doc_id").join(comp, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("component", F.col("doc_id"))
                    .alias("component")))
    s = F.pmod(stable_hash64(F.col("component").cast("string"),
                             seed=_SPLIT_SEED), F.lit(10))
    split = (F.when(s < 8, F.lit("train"))
              .when(s == 8, F.lit("val"))
              .otherwise(F.lit("test")))
    return (full.withColumn("split", split)
            .groupBy("split")
            .agg(F.count("*").cast("long").alias("n_docs"),
                 F.count_distinct("component").cast("long")
                 .alias("n_components")))


def _oracle_leakage_safe_split() -> str:
    from .queries import _oracle_components
    h = stable_hash64_sql("component::VARCHAR", seed=_SPLIT_SEED)
    return f"""
  WITH comp AS ({_oracle_components()}),
  alldocs AS (
    SELECT d.doc_id, coalesce(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
  ),
  sp AS (
    SELECT doc_id, component,
           CASE WHEN ({h} % 10) < 8 THEN 'train'
                WHEN ({h} % 10) = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM alldocs
  )
  SELECT split, count(*)::BIGINT AS n_docs,
         count(DISTINCT component)::BIGINT AS n_components
  FROM sp GROUP BY split
"""


QUERIES_ROUND8.update({
    "leakage_safe_split": QuerySpec(
        q_leakage_safe_split, _oracle_leakage_safe_split(),
        doc="component-level hash split: near-dup clusters never "
            "straddle splits (census per split)"),
})
