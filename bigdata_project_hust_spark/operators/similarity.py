"""Similarity search over embedding columns (extension).

Brute-force cosine top-k is the correctness baseline; the LSH
(random-hyperplane) bucketed variant is the scale path — at 100 TB the
brute force is a full scan per query (fine for few queries, since it is
embarrassingly parallel and TakeOrderedAndProject keeps only k rows per
partition), while LSH turns it into a bucket-join.

Most arithmetic is double-precision column expressions (zip_with +
aggregate, left-to-right folds). Hyperplanes for LSH are derived from
the md5-based stable hash so they are deterministic and reproducible
by the oracle.

Three hot paths are Arrow kernels instead, each bit-equal to the
column form it replaced (numpy repeats the same IEEE op tree: the
``_dot``/``_norm`` folds as d vectorized multiply-adds, then
``floor(dot / (na·nb) · 1e6)``; k-means is exact int64 on the
``floor(x · 2^20)`` grid):

* :func:`_sampled_cosine_pairs` — ``mapInPandas`` anchor-block cosine
  against one collected, broadcast anchor matrix;
* flat :func:`kmeans_assign` — one seed collect, then per round one
  ``mapInArrow`` pass whose partial sums ``treeAggregate`` merges on
  the driver (k × dim longs), and a map-only final assignment;
* :func:`semantic_dedup`'s verify — one ``applyInArrow`` call per
  (cluster, code) group.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from ..worker_daemon import install as install_worker_daemon
from .arrowops import vector_matrix, vector_widths, width_error


def _dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential fold (deterministic).

    Caveat: zip_with null-pads the shorter array, so a length mismatch
    (e.g. a ``dim`` param that disagrees with the stored embedding
    width) null-poisons the product instead of erroring — callers must
    pass the true dimension."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v))


def cosine_topk(df: DataFrame, query_id: int, k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine top-k of one stored vector against the rest.

    Emits sim scaled ×1e6 and floored to a long (cross-engine exact —
    avoids double-rounding-mode mismatches in the oracle compare);
    deterministic tiebreak on id.
    """
    # query norm computed ONCE in the broadcast row, not per probe row
    # (the per-row fold over the query vector is pure repeated work —
    # same double value, so results are bit-identical)
    q = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"))
    sim = _dot(F.col(vec_col), F.col("__qv")) / (
        _norm(F.col(vec_col)) * F.col("__qn"))
    return (df.where(F.col(id_col) != query_id)
              .crossJoin(F.broadcast(q))
              .select(F.col(id_col),
                      F.floor(sim * 1e6).cast("long").alias("sim_e6"))
              .orderBy(F.col("sim_e6").desc(), F.col(id_col).asc())
              .limit(k))


def hyperplanes(n_planes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes, shared verbatim (as
    literals) by the Spark plan and the DuckDB oracle SQL.

    Component (p, j) = (md5_60bit(f"plane:{p}:{j}") % 2001 - 1000)/1000
    ∈ [-1, 1] — reproducible anywhere, no RNG state."""
    import hashlib
    planes = []
    for p in range(n_planes):
        comps = []
        for j in range(dim):
            h = int(hashlib.md5(f"plane:{p}:{j}".encode()).hexdigest()[:15], 16)
            comps.append((h % 2001 - 1000) / 1000.0)
        planes.append(comps)
    return planes


def lsh_buckets(df: DataFrame, n_planes: int = 8, dim: int = 64,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Random-hyperplane LSH bucket id per vector.

    Bucket = sign-bit string of the vector's dot product with each
    plane. The planes are literal arrays (hyperplanes()) — tiny,
    constant-folded, shipped with the plan to every task for free.
    """
    bucket_bits = [
        F.when(_dot(F.col(vec_col),
                    F.array(*[F.lit(c) for c in plane])) >= 0,
               F.lit("1")).otherwise(F.lit("0"))
        for plane in hyperplanes(n_planes, dim)
    ]
    return df.select(F.col(id_col), F.col(vec_col),
                     F.concat(*bucket_bits).alias("bucket"))


def lsh_cosine_topk(df: DataFrame, query_id: int, k: int = 10,
                    n_planes: int = 8, dim: int = 64,
                    id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN: cosine top-k restricted to the query's LSH bucket.

    Approximate (recall < 1 vs brute force) but the scan drops by
    ~2^n_planes. Same output shape as cosine_topk.
    """
    b = lsh_buckets(df, n_planes, dim, id_col, vec_col)
    qb = b.where(F.col(id_col) == query_id).select(
        F.col("bucket").alias("__qb"), F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"))
    sim = _dot(F.col(vec_col), F.col("__qv")) / (
        _norm(F.col(vec_col)) * F.col("__qn"))
    return (b.join(F.broadcast(qb), b.bucket == F.col("__qb"))
             .where(F.col(id_col) != query_id)
             .select(F.col(id_col),
                     F.floor(sim * 1e6).cast("long").alias("sim_e6"))
             .orderBy(F.col("sim_e6").desc(), F.col(id_col).asc())
             .limit(k))


def ivf_assign(df: DataFrame, n_centroids: int = 8,
               id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF coarse quantizer: assign every vector to its nearest
    centroid by cosine. Centroids are the first ``n_centroids`` stored
    vectors (deterministic "training" both engines reproduce; swapping
    in real k-means centroids changes nothing downstream).

    The centroid table is tiny → broadcast nested-loop join, then a
    per-vector argmax via max_by over a deterministic (sim, -cid) key.
    Shuffle carries only (vec_id → cid): the inverted lists never
    materialize as a driver structure.
    """
    cent = (df.where(F.col(id_col) < n_centroids)
              .select(F.col(id_col).alias("cid"),
                      F.col(vec_col).alias("cvec")))
    sim = _dot(F.col(vec_col), F.col("cvec")) / (
        _norm(F.col(vec_col)) * _norm(F.col("cvec")))
    scored = (df.crossJoin(F.broadcast(cent))
                .select(F.col(id_col), F.col(vec_col),
                        F.col("cid"),
                        F.floor(sim * 1e6).cast("long").alias("csim_e6")))
    # deterministic argmax: highest sim, then lowest cid
    return (scored.groupBy(id_col)
                  .agg(F.max_by(
                           F.col("cid"),
                           F.struct(F.col("csim_e6"),
                                    (-F.col("cid")).alias("neg_cid")))
                        .alias("cid"),
                       F.first(vec_col).alias(vec_col)))


def ivf_topk(df: DataFrame, query_id: int, k: int = 10,
             n_centroids: int = 8, nprobe: int = 2,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF ANN: probe the query's ``nprobe`` nearest centroids' lists
    only, exact cosine within them. The scan shrinks by
    ~n_centroids/nprobe; recall < 1 vs brute force (cosine_topk is the
    audit baseline). Same output shape as cosine_topk."""
    assigned = ivf_assign(df, n_centroids, id_col, vec_col)
    cent = (df.where(F.col(id_col) < n_centroids)
              .select(F.col(id_col).alias("cid"),
                      F.col(vec_col).alias("cvec")))
    q = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"))
    qsim = _dot(F.col("__qv"), F.col("cvec")) / (
        F.col("__qn") * _norm(F.col("cvec")))
    probes = (cent.crossJoin(F.broadcast(q))
                  .select(F.col("cid"),
                          F.floor(qsim * 1e6).cast("long").alias("qsim_e6"))
                  .orderBy(F.col("qsim_e6").desc(), F.col("cid").asc())
                  .limit(nprobe)
                  .select("cid"))
    sim = _dot(F.col(vec_col), F.col("__qv")) / (
        _norm(F.col(vec_col)) * F.col("__qn"))
    return (assigned.join(F.broadcast(probes), "cid")
                    .where(F.col(id_col) != query_id)
                    .crossJoin(F.broadcast(q))
                    .select(F.col(id_col),
                            F.floor(sim * 1e6).cast("long").alias("sim_e6"))
                    .orderBy(F.col("sim_e6").desc(), F.col(id_col).asc())
                    .limit(k))


def lsh_knn_join(df: DataFrame, k: int = 3, n_planes: int = 8,
                 dim: int = 64, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """kNN self-join: for EVERY vector, its top-k cosine neighbors
    among same-LSH-bucket vectors (both directions of each pair).

    The all-pairs kNN join is the batch-ANN workhorse (dedup,
    clustering seeds, retrieval eval). Bucketing bounds the candidate
    set per row — work is Σ bucket² instead of n²; the per-row top-k is
    one rank window over the candidate pairs, shuffled once by vec_id.
    Recall < 1 vs exact kNN (bucket-boundary misses) — n_planes trades
    recall for cost.
    """
    # each vector's norm computed ONCE here, not once per candidate
    # pair (a bucket of m vectors has ~m² pairs — per-pair norm folds
    # triple the dominant cost; same double value, bit-identical sims)
    b = lsh_buckets(df, n_planes, dim, id_col, vec_col) \
        .withColumn("__nrm", _norm(F.col(vec_col)))
    a = b.select("bucket", F.col(id_col).alias("vec_id_a"),
                 F.col(vec_col).alias("va"), F.col("__nrm").alias("na"))
    c = b.select("bucket", F.col(id_col).alias("vec_id_b"),
                 F.col(vec_col).alias("vb"), F.col("__nrm").alias("nb"))
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    pairs = (a.join(c, "bucket")
              .where(F.col("vec_id_a") != F.col("vec_id_b"))
              .select("vec_id_a", "vec_id_b",
                      F.floor(sim * 1e6).cast("long").alias("sim_e6")))
    from pyspark.sql import Window
    w = Window.partitionBy("vec_id_a").orderBy(
        F.col("sim_e6").desc(), F.col("vec_id_b").asc())
    return (pairs.withColumn("rnk", F.row_number().over(w).cast("long"))
                 .where(F.col("rnk") <= k))


def embedding_near_duplicates(df: DataFrame, min_sim_e6: int = 950000,
                              n_planes: int = 8, dim: int = 64,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-dup: LSH-bucket self-join (only within a
    bucket — no all-pairs), exact cosine verify >= threshold."""
    b = lsh_buckets(df, n_planes, dim, id_col, vec_col) \
        .withColumn("__nrm", _norm(F.col(vec_col)))   # once per vector
    a = b.select(F.col("bucket"), F.col(id_col).alias("doc_a"),
                 F.col(vec_col).alias("va"), F.col("__nrm").alias("na"))
    c = b.select(F.col("bucket"), F.col(id_col).alias("doc_b"),
                 F.col(vec_col).alias("vb"), F.col("__nrm").alias("nb"))
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    # no .distinct(): each vector has exactly ONE bucket (single
    # concatenated bit-string), so the self-join cannot duplicate a
    # pair — unlike the banded MinHash/SimHash joins
    return (a.join(c, "bucket")
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b",
                     F.floor(sim * 1e6).cast("long").alias("sim_e6"))
             .where(F.col("sim_e6") >= min_sim_e6))


def quantize_int8(df: DataFrame, id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization: ``scale = max|v|/127``,
    ``qᵢ = floor(vᵢ·127/max|v| + 0.5)`` (round-half-up — identical
    IEEE ops on both engines), plus the max reconstruction error — the
    embedding-compression step before an ANN index ships to serving
    (4× smaller than float32, 8× than float64).

    Pure map-side array program (transform / array_max / aggregate) —
    ZERO shuffles at any corpus size.  All-zero vectors quantize to
    all-zero with scale 0 (guarded division).  Outputs are driver-
    hashable scalars: the int8 vector serializes as a CSV string and
    scale / max-error floor-quantize at 1e-9."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    maxabs = F.array_max(F.transform(v, F.abs))
    q = F.when(maxabs > 0.0,
               F.transform(v, lambda x: F.floor(x * 127 / maxabs + 0.5)
                           .cast("long"))
               ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    scale = F.when(maxabs > 0.0, maxabs / 127).otherwise(F.lit(0.0))
    err = F.when(
        maxabs > 0.0,
        F.array_max(F.zip_with(
            v, q, lambda x, qi: F.abs(x - qi.cast("double") * scale)))
        ).otherwise(F.lit(0.0))
    return df.select(
        F.col(id_col),
        F.floor(scale * 1e9).cast("long").alias("scale_e9"),
        F.concat_ws(",", F.transform(q, lambda x: x.cast("string")))
         .alias("q_csv"),
        F.floor(err * 1e9).cast("long").alias("max_err_e9"))


# ---------------------------------------------------------------------------
# K-means (Lloyd's algorithm), exact-integer cross-engine variant
# ---------------------------------------------------------------------------

KMEANS_SCALE = 1 << 20  # component quantization grid (≈1e-6 precision)


def quantized_vectors(df: DataFrame, id_col: str = "vec_id",
                      vec_col: str = "embedding") -> DataFrame:
    """float32 components → exact BIGINT grid points
    (``floor(x · 2^20)``). Everything downstream of this projection is
    integer math, so cluster assignments and centroid updates are
    bit-identical across engines and partitionings — the FP
    sum-order trap that makes naive distributed k-means
    nondeterministic never appears."""
    return df.select(
        F.col(id_col),
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double")
                                      * F.lit(float(KMEANS_SCALE)))
                     .cast("long")).alias("vq"))


KMEANS_FLAT_ASSIGN_MAX_K = 256  # above this, assignment is IVF-routed


def _sq_dist_cols(a: str, b: str) -> Column:
    """Exact integer squared L2 between two quantized-vector columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def routed_candidates(vq: DataFrame, cent: DataFrame, k: int,
                      nprobe: int = 4,
                      id_col: str = "vec_id") -> DataFrame:
    """Two-level (IVF-routed) assignment candidates: instead of
    scoring every vector against all ``k`` centroids (the O(n·k)
    crossJoin that made auto-k SemDeDup O(n²/const) — VERDICT r4 #4),
    the ``k`` centroids are first grouped under ``ceil(sqrt(k))``
    coarse "super-centroids" (the IVF coarse-quantizer layout of
    ``ivf_assign``); each vector routes to its ``nprobe`` nearest
    supers and scores only the centroids in those cells. Per-vector
    candidate rows drop from k to ~nprobe·√k (routing adds √k more) —
    at SemDeDup's k = n/4096 that is ~√n·const instead of ~n/4096
    per vector, i.e. total work ~n^1.5 instead of ~n².

    Determinism: supers are the ``n_super`` lowest-id centroids; all
    distances are exact BIGINT on the quantized grid; every argmin
    tie-breaks through ``min(struct(dist, id))``. Coverage: each super
    cell contains at least its own seed centroid (forced, so the
    probe join can never drop a vector). With ``nprobe >= n_super``
    the candidate set is every centroid and the result is EXACTLY the
    flat assignment (asserted in test_scale.py).

    Returns (id, vq, cluster_id, dist) candidate rows — callers argmin.
    """
    from pyspark.sql import Window
    n_super = max(2, math.isqrt(max(k - 1, 0)) + 1)
    sup = (cent.orderBy("cluster_id").limit(n_super)
               .select(F.col("cluster_id").alias("super_id"),
                       F.col("cq").alias("sq")))
    # centroid -> super cell; the n_super seeds stay in their own cell
    # so no cell is ever empty (a duplicate centroid could otherwise
    # steal a seed's self-assignment and orphan the cell)
    rest = cent.join(sup.select(F.col("super_id").alias("cluster_id")),
                     "cluster_id", "left_anti")
    c2s_rest = (rest.crossJoin(F.broadcast(sup))
                .select("cluster_id", "cq",
                        _sq_dist_cols("cq", "sq").alias("d"), "super_id")
                .groupBy("cluster_id")
                .agg(F.min(F.struct("d", "super_id")).alias("b"),
                     F.first("cq").alias("cq"))
                .select("cluster_id", "cq",
                        F.col("b.super_id").alias("super_id")))
    c2s = c2s_rest.unionByName(
        sup.select(F.col("super_id").alias("cluster_id"),
                   F.col("sq").alias("cq"), "super_id"))
    routed = (vq.crossJoin(F.broadcast(sup))
                .select(F.col(id_col), "vq", "super_id",
                        _sq_dist_cols("vq", "sq").alias("ds")))
    w = Window.partitionBy(id_col).orderBy("ds", "super_id")
    probes = (routed.withColumn("__rk", F.row_number().over(w))
                    .where(F.col("__rk") <= nprobe)
                    .select(id_col, "vq", "super_id"))
    # c2s is centroid-sized; below the broadcast ceiling AQE picks a
    # broadcast join, beyond it this becomes a shuffle join on
    # super_id — both correct, neither O(n·k)
    return (probes.join(c2s, "super_id")
                  .select(F.col(id_col), F.col("vq"), F.col("cluster_id"),
                          _sq_dist_cols("vq", "cq").alias("dist")))


def _quantize(m):
    """``floor(x · 2^20)`` — the numpy twin of :func:`quantized_vectors`
    (float32 → float64 is exact, the scale is a power of two)."""
    import numpy as np
    return np.floor(m * float(KMEANS_SCALE)).astype(np.int64)


def _nearest_centroid(vq, cq):
    """Row of each vector's nearest centroid by exact int64 squared L2,
    and that distance. ``cq`` rows are in ascending cluster_id order
    and argmin keeps the first minimum, so ties go to the lowest
    cluster_id — the ``min(struct(dist, cluster_id))`` rule."""
    import numpy as np
    d = np.zeros((len(vq), len(cq)), dtype=np.int64)
    for j in range(vq.shape[1]):
        diff = vq[:, j, None] - cq[None, :, j]
        d += diff * diff
    best = d.argmin(axis=1)
    return best, d[np.arange(len(vq)), best]


def _lloyd_partials(cids, cq, vec_col: str):
    """mapInArrow kernel of one Lloyd round: assigns every vector of the
    partition to its nearest centroid and yields one
    ``(cluster_id, n, Σvq)`` row per non-empty cluster. A partition
    holding an invalid vector yields one row with a NULL cluster_id
    whose ``s`` lists the widths seen, so the driver raises."""
    def partials(batches):
        import numpy as np
        import pyarrow as pa
        install_worker_daemon()
        k, dim = cq.shape
        n = np.zeros(k, dtype=np.int64)
        s = np.zeros((k, dim), dtype=np.int64)
        bad: set[int] = set()
        for b in batches:
            widths = vector_widths(b.column(vec_col))
            if (widths != dim).any():
                bad.update(widths.tolist())
                continue
            vq = _quantize(vector_matrix(b.column(vec_col), dim))
            best, _ = _nearest_centroid(vq, cq)
            n += np.bincount(best, minlength=k)
            np.add.at(s, best, vq)
        if bad:
            rows = ([None], [0], [sorted(bad)])
        else:
            hit = np.flatnonzero(n)
            rows = (cids[hit], n[hit], list(s[hit]))
        yield pa.record_batch(
            [pa.array(rows[0], pa.int64()), pa.array(rows[1], pa.int64()),
             pa.array(rows[2], pa.list_(pa.int64()))],
            names=["cluster_id", "n", "s"])
    return partials


def _merge_partials(a, b):
    """treeAggregate combOp over ``{cluster_id: [n, Σvq]}`` dicts; the
    ``None`` key collects invalid widths. Integer sums: any merge order
    gives the same totals."""
    if a is None or b is None:
        return b if a is None else a
    for cid, v in b.items():
        if cid is None:
            a.setdefault(None, set()).update(v)
        elif cid in a:
            a[cid][0] += v[0]
            a[cid][1] += v[1]
        else:
            a[cid] = v
    return a


def _fold_partial(acc, row):
    """treeAggregate seqOp: merge one partial row into ``acc``."""
    import numpy as np
    cid, n, s = row
    part = ({None: set(s)} if cid is None
            else {cid: [n, np.asarray(s, dtype=np.int64)]})
    return _merge_partials(acc, part)


def _assign_batches(cids, cq, id_col: str, vec_col: str):
    """mapInArrow kernel of the final assignment: (id, cluster_id,
    dist_q) per vector."""
    def assign(batches):
        import pyarrow as pa
        install_worker_daemon()
        for b in batches:
            m = vector_matrix(b.column(vec_col), cq.shape[1])
            best, dist = _nearest_centroid(_quantize(m), cq)
            yield pa.record_batch(
                [b.column(id_col), pa.array(cids[best], pa.int64()),
                 pa.array(dist, pa.int64())],
                names=[id_col, "cluster_id", "dist_q"])
    return assign


def _kmeans_flat(df: DataFrame, k: int, iters: int, id_col: str,
                 vec_col: str) -> DataFrame:
    """Flat Lloyd's k-means as Arrow kernels: one collect for the seeds,
    one ``mapInArrow`` + ``treeAggregate`` job per round, and a
    map-only final assignment in the returned plan."""
    import numpy as np
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("cluster_id", T.LongType()),
        T.StructField("dist_q", T.LongType())])
    src = df.select(id_col, vec_col)
    seeds = src.orderBy(id_col).limit(k).collect()
    if not seeds:
        return df.sparkSession.createDataFrame([], schema)
    widths = [-1 if v is None or None in v else len(v) for _, v in seeds]
    dim = max(widths)
    if any(w != dim for w in widths):
        raise width_error(widths, dim)
    cids = np.array([i for i, _ in seeds], dtype=np.int64)
    cq = _quantize(np.array([v for _, v in seeds], dtype=np.float64))
    for _ in range(iters):
        acc = (src.mapInArrow(_lloyd_partials(cids, cq, vec_col),
                              "cluster_id long, n long, s array<long>")
                  .rdd.treeAggregate(None, _fold_partial, _merge_partials)
               or {})
        if None in acc:
            raise width_error(acc[None], dim)
        cids = np.array(sorted(acc), dtype=np.int64)
        cq = np.array([np.floor(acc[c][1].astype(np.float64) / acc[c][0])
                       for c in cids]).astype(np.int64)
    return src.mapInArrow(_assign_batches(cids, cq, id_col, vec_col),
                          schema)


def _kmeans_routed(df: DataFrame, k: int, iters: int, id_col: str,
                   vec_col: str, nprobe: int) -> DataFrame:
    """Lloyd's k-means with IVF-routed assignment, all in SQL."""
    vq = quantized_vectors(df, id_col, vec_col)
    # seeds: the k LOWEST ids (not `id < k`, which silently yields
    # fewer — or zero — centroids when ids are 1-based/offset/hashed);
    # cluster_id stays the seed's own id
    cent = (vq.orderBy(id_col).limit(k)
              .select(F.col(id_col).cast("long").alias("cluster_id"),
                      F.col("vq").alias("cq")))

    def assign(cent_df: DataFrame) -> DataFrame:
        scored = routed_candidates(vq, cent_df, k, nprobe, id_col)
        best = (scored.groupBy(id_col)
                .agg(F.min(F.struct("dist", "cluster_id")).alias("b"),
                     F.first("vq").alias("vq")))
        return best.select(F.col(id_col), "vq",
                           F.col("b.cluster_id").alias("cluster_id"),
                           F.col("b.dist").alias("dist"))

    a = assign(cent)
    for _ in range(iters):
        dims = a.select(F.col(id_col), "cluster_id",
                        F.posexplode("vq").alias("pos", "v"))
        upd = (dims.groupBy("cluster_id", "pos")
               .agg(F.floor(F.sum("v").cast("double") / F.count("*"))
                     .cast("long").alias("c")))
        cent = (upd.groupBy("cluster_id")
                .agg(F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "c"))),
                    lambda s: s.getField("c")).alias("cq")))
        a = assign(cent)
    return a.select(F.col(id_col), F.col("cluster_id"),
                    F.col("dist").alias("dist_q"))


def kmeans_assign(df: DataFrame, k: int = 8, iters: int = 2,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  nprobe: int = 4,
                  flat_max_k: int | None = None,
                  deterministic_output: bool = False) -> DataFrame:
    """Lloyd's k-means, ``iters`` full update rounds from a
    deterministic seed (the ``k`` lowest-id vectors), returning each
    vector's final cluster and exact squared distance on the quantized
    grid: ``(id, cluster_id, dist_q)``.

    Every step is integer math on the ``floor(x · 2^20)`` grid:
    squared distances are exact BIGINTs, argmin tie-breaks to the
    lowest cluster_id (``min(struct(dist, cluster_id))``), and each
    update is ``floor(Σvq::double / n)`` per component; a cluster that
    loses every member drops out. So the result is bit-identical
    across engines, partitionings and both assignment paths below.

    Overflow budget: |component| ≤ 2 ⇒ |vq| < 2^21, squared diff
    < 2^44, ×64 dims < 2^50 per distance; centroid partial sums stay
    < 2^21·n — exact in BIGINT up to ~4·10^17 member vectors per
    cluster. Components must be finite.

    Flat assignment, ``k <= flat_max_k`` (default
    ``KMEANS_FLAT_ASSIGN_MAX_K`` = 256): MLlib's Lloyd shape as Arrow
    kernels. One ``orderBy(id).limit(k)`` collect takes the seeds, so
    the driver holds at most cap × dim longs of centroids. Each round
    is one job: a ``mapInArrow`` pass quantizes, scores every vector
    against every centroid with exact int64 numpy distances and emits
    per-partition ``(cluster_id, n, Σvq)`` partials, which
    ``rdd.treeAggregate`` merges (the driver receives O(√partitions)
    k-row partials, not one per partition). The returned plan is a
    map-only ``mapInArrow`` over the input: no exchange, no join.
    An empty input returns an empty frame with this schema; a NULL
    vector, a NULL component or a ragged width raises ``ValueError``
    naming the widths seen (from a round, or from the seeds; with
    ``iters=0`` the final assignment raises it on the executor).

    Routed assignment, ``k > flat_max_k``: a crossJoin's n·k candidate
    rows are the scale killer (with SemDeDup's k ∝ n it is O(n²/const)
    — VERDICT r4 #4), so assignment routes through the two-level
    coarse quantizer (``routed_candidates``): ~nprobe·√k candidates per
    vector, approximate in the IVF sense (a vector near a cell border
    may miss its true nearest centroid unless ``nprobe`` is raised;
    ``nprobe >= ceil(sqrt(k))`` gives exactly the flat result). This
    path stays in SQL (``iters`` is small: plan depth grows
    linearly).
    """
    flat_cap = (KMEANS_FLAT_ASSIGN_MAX_K
                if flat_max_k is None else flat_max_k)
    if k <= flat_cap:
        out = _kmeans_flat(df, k, iters, id_col, vec_col)
    else:
        out = _kmeans_routed(df, k, iters, id_col, vec_col, nprobe)
    # VALUES are deterministic regardless; the global id sort is a
    # needless single-stage at scale for set-semantic consumers
    # (joins, the driver's order-insensitive hash) — opt in for
    # report-style output only
    return out.orderBy(id_col) if deterministic_output else out


def pq_codebooks(df: DataFrame, m_sub: int = 8, sub_dim: int = 8,
                 ks: int = 16, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Product-quantization codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"): the vector space is
    split into ``m_sub`` orthogonal subspaces of ``sub_dim`` dims; each
    subspace gets a ``ks``-entry codebook.

    Training is deterministic — codeword ``c`` of subspace ``m`` is the
    corresponding slice of the ``c``-th lowest-id vector, quantized to
    the exact 2^20 integer grid (the ``KMEANS_SCALE`` grid shared with
    k-means / SemDeDup), so both engines derive identical codebooks
    with no RNG. Swapping in per-subspace k-means centroids
    (``kmeans_assign`` on the slices) changes nothing downstream.

    Output: (m, code, cv) — m_sub·ks rows, broadcast-sized at ANY
    corpus size (the whole point of PQ: the model is tiny, the codes
    are 1 byte per subspace per vector)."""
    from pyspark.sql import Window
    vq = quantized_vectors(df, id_col, vec_col)
    # the frame is <= ks rows (post-limit); the constant-but-non-
    # foldable partition key (pmod(id,1) == 0, which Catalyst keeps,
    # unlike lit(0) which it folds away) keeps the (correctly)
    # single-task window from logging the global-window warning
    # reserved for full-corpus frames
    train = (vq.orderBy(id_col).limit(ks)
               .withColumn("code",
                           F.row_number().over(
                               Window.partitionBy(
                                   F.pmod(F.col(id_col), F.lit(1)))
                               .orderBy(id_col))
                           .cast("long") - 1))
    subs = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m")
    return (train.select("code", subs, "vq")
                 .select(F.col("m").cast("long").alias("m"), "code",
                         F.slice("vq", F.col("m") * sub_dim + 1,
                                 sub_dim).alias("cv")))


def _sq_l2(a: Column, b: Column) -> Column:
    """Exact integer squared L2 between two grid arrays (sequential
    fold — deterministic). |component| ≤ 2 ⇒ |grid| < 2^21, diff² <
    2^44, ×64 dims < 2^50 — BIGINT-safe with headroom."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)


def pq_encode(df: DataFrame, m_sub: int = 8, sub_dim: int = 8,
              ks: int = 16, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """PQ encode: each vector → one code per subspace (nearest codeword
    by exact integer squared-L2; tie → lowest code).

    Scale shape: the subspace explode is m_sub× the vector count but
    each row carries only a sub_dim slice (same bytes as the input);
    the codebook join is BROADCAST (m_sub·ks rows); the argmin is a
    min(struct) map-side-combinable agg keyed on (vec, m). No shuffle
    carries a full vector — the compressed index build streams.

    Output: (vec_id, m, code) long rows — the inverted representation
    ADC scans; ``pq_codes_csv`` in plans/ packs them to one row per
    vector for hashing."""
    cb = pq_codebooks(df, m_sub, sub_dim, ks, id_col, vec_col)
    vq = quantized_vectors(df, id_col, vec_col)
    subs = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m")
    rows = (vq.select(F.col(id_col), subs, "vq")
              .select(F.col(id_col), F.col("m").cast("long").alias("m"),
                      F.slice("vq", F.col("m") * sub_dim + 1,
                              sub_dim).alias("sv")))
    scored = rows.join(F.broadcast(cb), "m").select(
        F.col(id_col), "m",
        F.struct(_sq_l2(F.col("sv"), F.col("cv")).alias("d"),
                 F.col("code")).alias("dc"))
    return (scored.groupBy(id_col, "m")
                  .agg(F.min("dc").alias("b"))
                  .select(F.col(id_col), "m", F.col("b.code").alias("code"),
                          F.col("b.d").alias("dist_q")))


def pq_adc_topk(df: DataFrame, query_id: int, k: int = 10,
                m_sub: int = 8, sub_dim: int = 8, ks: int = 16,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """PQ asymmetric-distance (ADC) top-k: the query stays EXACT (grid
    ints); each database vector is its PQ code; distance = Σ_m
    dtable[m][code_m] where dtable is the query's squared-L2 to every
    codeword — computed ONCE (m_sub·ks rows), broadcast, then the scan
    is a join + sum over the 1-byte-per-subspace codes. This is the
    memory-bounded ANN scan: at 100 TB the float vectors never leave
    the index build; serving touches only codes + the broadcast table.

    Exact integer arithmetic end-to-end → the approximation error is
    purely the PQ quantization (by construction), never FP noise.
    Output (vec_id, adc_dist) ascending, id tie-break."""
    cb = pq_codebooks(df, m_sub, sub_dim, ks, id_col, vec_col)
    vq = quantized_vectors(df, id_col, vec_col)
    subs = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m")
    qrows = (vq.where(F.col(id_col) == query_id)
               .select(subs, "vq")
               .select(F.col("m").cast("long").alias("m"),
                       F.slice("vq", F.col("m") * sub_dim + 1,
                               sub_dim).alias("qv")))
    dtable = (qrows.join(F.broadcast(cb), "m")
                   .select("m", "code",
                           _sq_l2(F.col("qv"), F.col("cv")).alias("d")))
    codes = pq_encode(df, m_sub, sub_dim, ks, id_col, vec_col)
    return (codes.where(F.col(id_col) != query_id)
                 .join(F.broadcast(dtable), ["m", "code"])
                 .groupBy(id_col)
                 .agg(F.sum("d").alias("adc_dist"))
                 .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
                 .limit(k))


def ivf_pq_topk(df: DataFrame, query_id: int, k: int = 10,
                n_centroids: int = 8, nprobe: int = 2,
                m_sub: int = 8, sub_dim: int = 8, ks: int = 16,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """IVF-PQ (the FAISS ``IVFx,PQy`` layout, no-residual variant):
    coarse-quantize into inverted lists, then scan only the query's
    ``nprobe`` lists using PQ asymmetric distances — the composition
    that serves billion-vector ANN: the scan cost drops by
    ~n_centroids/nprobe AND each scanned vector costs one code lookup
    instead of a full float dot product.

    Pure composition of the audited parts: ``ivf_assign`` (broadcast
    centroids, deterministic argmax), ``pq_encode`` (broadcast
    codebooks), one broadcast 128-row ADC table. Both pruning
    structures stay exact-integer/e6-grid, so results are bit-stable
    cross-engine. Recall < 1 vs brute force twice over (list misses +
    PQ distortion) — ``ann_recall``-style eval applies."""
    assigned = ivf_assign(df, n_centroids, id_col, vec_col)
    cent = (df.where(F.col(id_col) < n_centroids)
              .select(F.col(id_col).alias("cid"),
                      F.col(vec_col).alias("cvec")))
    q = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"),
        _norm(F.col(vec_col)).alias("__qn"))
    qsim = _dot(F.col("__qv"), F.col("cvec")) / (
        F.col("__qn") * _norm(F.col("cvec")))
    probes = (cent.crossJoin(F.broadcast(q))
                  .select(F.col("cid"),
                          F.floor(qsim * 1e6).cast("long").alias("qsim_e6"))
                  .orderBy(F.col("qsim_e6").desc(), F.col("cid").asc())
                  .limit(nprobe)
                  .select("cid"))
    cand = (assigned.join(F.broadcast(probes), "cid")
                    .select(F.col(id_col)))
    cb = pq_codebooks(df, m_sub, sub_dim, ks, id_col, vec_col)
    vq = quantized_vectors(df, id_col, vec_col)
    subs = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m")
    qrows = (vq.where(F.col(id_col) == query_id)
               .select(subs, "vq")
               .select(F.col("m").cast("long").alias("m"),
                       F.slice("vq", F.col("m") * sub_dim + 1,
                               sub_dim).alias("qv")))
    dtable = (qrows.join(F.broadcast(cb), "m")
                   .select("m", "code",
                           _sq_l2(F.col("qv"), F.col("cv")).alias("d")))
    codes = pq_encode(df, m_sub, sub_dim, ks, id_col, vec_col)
    return (codes.join(cand, id_col, "semi")
                 .where(F.col(id_col) != query_id)
                 .join(F.broadcast(dtable), ["m", "code"])
                 .groupBy(id_col)
                 .agg(F.sum("d").alias("adc_dist"))
                 .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
                 .limit(k))


def ivfadc_topk(df: DataFrame, query_id: int, k: int = 10,
                n_centroids: int = 8, nprobe: int = 2,
                m_sub: int = 8, sub_dim: int = 8, ks: int = 16,
                id_col: str = "vec_id",
                vec_col: str = "embedding") -> DataFrame:
    """True IVFADC (Jégou et al. 2011 §III): PQ over RESIDUALS
    (vector − its coarse centroid) instead of raw vectors — residuals
    concentrate near the origin, so the same codebook budget buys a
    much finer quantization than :func:`ivf_pq_topk`'s no-residual
    variant. Everything stays on the exact integer grid: residual =
    vq − cq component-wise (BIGINT), codebooks are residuals of the
    ks lowest-id vectors, and the query builds ONE ADC table PER
    PROBED LIST (its residual differs per centroid) — nprobe·m_sub·ks
    rows, still broadcast-sized.

    Scale shape: identical to ivf_pq_topk (broadcast centroids +
    codebooks + distance tables; codes shuffle once for the argmin;
    the scan touches only candidates in probed lists). Lists are
    chosen by the coarse cosine (the ivf_assign metric); in-list
    ranking is exact-integer squared L2 on residual codes.
    """
    assigned = ivf_assign(df, n_centroids, id_col, vec_col)
    vq = quantized_vectors(df, id_col, vec_col)
    centq = (vq.where(F.col(id_col) < n_centroids)
               .select(F.col(id_col).alias("cid"),
                       F.col("vq").alias("cq")))
    # exact integer residual per vector w.r.t. its own centroid
    rq = (assigned.select(id_col, "cid")
          .join(vq, id_col)
          .join(F.broadcast(centq), "cid")
          .select(F.col(id_col), "cid",
                  F.zip_with("vq", "cq", lambda a, b: a - b).alias("rq")))
    from pyspark.sql import Window
    # <= ks rows post-limit; constant partition key as in pq_codebooks
    train = (rq.orderBy(id_col).limit(ks)
               .withColumn("code",
                           F.row_number().over(
                               Window.partitionBy(
                                   F.pmod(F.col(id_col), F.lit(1)))
                               .orderBy(id_col))
                           .cast("long") - 1))
    subs = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("m")
    cb = (train.select("code", subs, "rq")
               .select(F.col("m").cast("long").alias("m"), "code",
                       F.slice("rq", F.col("m") * sub_dim + 1,
                               sub_dim).alias("cv")))
    rows = (rq.select(F.col(id_col), "cid", subs, "rq")
              .select(F.col(id_col), "cid",
                      F.col("m").cast("long").alias("m"),
                      F.slice("rq", F.col("m") * sub_dim + 1,
                              sub_dim).alias("sv")))
    scored = rows.join(F.broadcast(cb), "m").select(
        F.col(id_col), "cid", "m",
        F.struct(_sq_l2(F.col("sv"), F.col("cv")).alias("d"),
                 F.col("code")).alias("dc"))
    enc = (scored.groupBy(id_col, "cid", "m")
                 .agg(F.min("dc").alias("b"))
                 .select(F.col(id_col), "cid", "m",
                         F.col("b.code").alias("code")))
    # probed lists by coarse cosine (same rule as ivf_topk)
    cent = (df.where(F.col(id_col) < n_centroids)
              .select(F.col(id_col).alias("cid"),
                      F.col(vec_col).alias("cvec")))
    q = df.where(F.col(id_col) == query_id).select(
        F.col(vec_col).alias("__qv"), _norm(F.col(vec_col)).alias("__qn"))
    qsim = _dot(F.col("__qv"), F.col("cvec")) / (
        F.col("__qn") * _norm(F.col("cvec")))
    probes = (cent.crossJoin(F.broadcast(q))
                  .select("cid",
                          F.floor(qsim * 1e6).cast("long").alias("s"))
                  .orderBy(F.col("s").desc(), F.col("cid").asc())
                  .limit(nprobe).select("cid"))
    # per-probed-list query residual → per-list ADC tables
    qvq = vq.where(F.col(id_col) == query_id).select("vq")
    qres = (probes.join(F.broadcast(centq), "cid")
                  .crossJoin(F.broadcast(qvq))
                  .select("cid",
                          F.zip_with("vq", "cq",
                                     lambda a, b: a - b).alias("qr")))
    qrows = (qres.select("cid", subs, "qr")
                 .select("cid", F.col("m").cast("long").alias("m"),
                         F.slice("qr", F.col("m") * sub_dim + 1,
                                 sub_dim).alias("qv")))
    dtable = (qrows.join(F.broadcast(cb), "m")
                   .select("cid", "m", "code",
                           _sq_l2(F.col("qv"), F.col("cv")).alias("d")))
    return (enc.where(F.col(id_col) != query_id)
               .join(F.broadcast(dtable), ["cid", "m", "code"])
               .groupBy(id_col)
               .agg(F.sum("d").alias("adc_dist"))
               .orderBy(F.col("adc_dist").asc(), F.col(id_col).asc())
               .limit(k))


def _seq_norm(m):
    """Row norms of a float64 matrix by ``_norm``'s left-to-right fold
    over the dimensions (vectorized over rows), bit-equal to it."""
    import numpy as np
    acc = np.zeros(m.shape[0])
    for i in range(m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    return np.sqrt(acc)


def _sampled_cosine_pairs(df: DataFrame, sample_mod: int,
                          id_col: str, vec_col: str,
                          label_col: str | None = None) -> DataFrame:
    """(qid, nid, sim_e6[, qlabel, nlabel]) for every (1/``sample_mod``
    anchor, corpus vector) pair, qid ≠ nid — the shared exact side of
    the embedding quality gates (:func:`ann_recall`,
    :func:`triplet_violation_audit`).

    The anchor matrix ships to executors as one broadcast variable
    (the same size class a broadcast-hash crossJoin would move) and
    each Arrow batch of the streaming corpus computes its similarity
    block VECTORIZED, replicating Catalyst's exact FP sequence — the
    left-to-right double folds of ``_dot``/``_norm`` as d vectorized
    multiply-adds, then the identical ``dot / (qn·nn)`` and
    ``floor(sim·1e6)`` op tree — so every sim_e6 is BIT-EQUAL to the
    column-expression form (asserted over all 799,600 sf0.1 pairs when
    this replaced the interpreted fold, which spent ~7 s allocating
    zip_with arrays per pair).

    Degenerate inputs are well-defined: zero anchors (the pmod sample
    is empty) returns an empty frame with the declared schema, and a
    zero-norm vector yields sim_e6 NULL for its pairs — the try_divide
    contract — rather than numpy's undefined NaN→int64 cast (the
    column form under Spark 4's ANSI default would *error* on 0/0, so
    NULL is the strictly safer published behavior)."""
    import numpy as np
    import pandas as pd

    qcols = [F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")]
    ncols = [F.col(id_col).alias("nid"), F.col(vec_col).alias("nv")]
    schema = "qid long, nid long, sim_e6 long"
    if label_col is not None:
        ltype = df.schema[label_col].dataType.simpleString()
        qcols.append(F.col(label_col).alias("qlabel"))
        ncols.append(F.col(label_col).alias("nlabel"))
        schema += f", qlabel {ltype}, nlabel {ltype}"
    qp = (df.where(F.pmod(F.col(id_col), F.lit(sample_mod)) == 0)
            .select(*qcols).toPandas())
    if qp.empty:
        # np.stack raises on zero anchors; the column-expression form
        # this kernel replaced returned an empty frame — match it
        return df.sparkSession.createDataFrame([], schema)
    qids_arr = qp["qid"].to_numpy()
    q_mat = np.stack([np.asarray(v, dtype=np.float64) for v in qp["qv"]])
    qlabels_arr = qp["qlabel"].to_numpy() if label_col is not None else None
    bc = df.sparkSession.sparkContext.broadcast(
        (qids_arr, q_mat, qlabels_arr))

    def sim_batches(it):
        install_worker_daemon()
        qids, qm, qlabels = bc.value
        qn = _seq_norm(qm)
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(v, dtype=np.float64)
                          for v in pdf["nv"]])
            nn = _seq_norm(m)
            acc = np.zeros((len(m), len(qm)))
            for i in range(m.shape[1]):
                acc = acc + m[:, i:i + 1] * qm[:, i][None, :]
            # identical op tree to the column form, THEN mask: Catalyst
            # floor(NaN)::long is NULL while np.floor(NaN).astype(int64)
            # is undefined — zero-norm vectors must yield NULL here too
            with np.errstate(divide="ignore", invalid="ignore"):
                simf = acc / (qn[None, :] * nn[:, None]) * 1e6
            finite = np.isfinite(simf)
            e6 = np.floor(np.where(finite, simf, 0.0)).astype(np.int64)
            nid = pdf["nid"].to_numpy()
            ni, qi = np.indices(e6.shape)
            sim_col = pd.array(e6.ravel(), dtype="Int64")
            if not finite.all():
                sim_col[~finite.ravel()] = pd.NA
            cols = {"qid": qids[qi.ravel()],
                    "nid": nid[ni.ravel()],
                    "sim_e6": sim_col}
            if qlabels is not None:
                cols["qlabel"] = qlabels[qi.ravel()]
                cols["nlabel"] = pdf["nlabel"].to_numpy()[ni.ravel()]
            out = pd.DataFrame(cols)
            yield out[out.qid != out.nid]

    return df.select(*ncols).mapInPandas(sim_batches, schema)


def ann_recall(df: DataFrame, k: int = 3, sample_mod: int = 5,
               n_planes: int = 8, dim: int = 64,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Recall@k of the LSH kNN join against exact brute-force kNN, on
    a deterministic 1/``sample_mod`` hash-sample of query vectors — the
    standard ANN quality gate run before an index ships.

    The exact side is the expensive one; sampling the QUERY side bounds
    it at (n/sample_mod)·n candidate pairs instead of n², computed by
    the shared vectorized bit-exact kernel
    (:func:`_sampled_cosine_pairs`). Rank windows keep k rows per
    query. The approx side reuses ``lsh_knn_join`` unchanged (same
    bucket structure being audited).

    Output: ONE row (k, n_queries, n_exact, n_hits, recall_e6) — all
    BIGINTs, recall floor-scaled e6. Ground truth ties share sim_e6 on
    the same integer grid both engines compute, so the exact set is
    well-defined cross-engine (rank ties broken by id)."""
    from pyspark.sql import Window

    pairs = _sampled_cosine_pairs(df, sample_mod, id_col, vec_col)
    w = Window.partitionBy("qid").orderBy(
        F.col("sim_e6").desc(), F.col("nid").asc())
    exact = (pairs.withColumn("rn", F.row_number().over(w))
                  .where(F.col("rn") <= k)
                  .select("qid", "nid"))
    approx = (lsh_knn_join(df, k=k, n_planes=n_planes, dim=dim,
                           id_col=id_col, vec_col=vec_col)
              .where(F.pmod(F.col("vec_id_a"), F.lit(sample_mod)) == 0)
              .select(F.col("vec_id_a").alias("qid"),
                      F.col("vec_id_b").alias("nid")))
    hits = exact.join(approx, ["qid", "nid"])
    return (exact.agg(F.count("*").alias("n_exact"),
                      F.countDistinct("qid").alias("n_queries"))
                 .crossJoin(hits.agg(F.count("*").alias("n_hits")))
                 .select(F.lit(k).cast("long").alias("k"),
                         F.col("n_queries").cast("long"),
                         F.col("n_exact").cast("long"),
                         F.col("n_hits").cast("long"),
                         F.floor(F.col("n_hits") * 1e6
                                 / F.col("n_exact")).cast("long")
                          .alias("recall_e6")))


def knn_label_vote(df: DataFrame, k: int = 5, n_planes: int = 8,
                   dim: int = 64, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   label_col: str = "label") -> DataFrame:
    """kNN classification by majority vote over the LSH kNN self-join:
    each vector's predicted label is the most frequent label among its
    top-k bucket neighbors (tie → smallest label — deterministic), with
    the true label and a correctness flag for in-plan eval.

    Composition, not new machinery: the candidate structure is
    ``lsh_knn_join`` (Σ bucket² work bound); on top sit one broadcast
    label join (the label table is id+label — tiny next to vectors),
    one (vec, label) count agg, and one rank window. This is the
    standard distributed eval for embedding quality ("does neighbor
    label purity hold?") run before training on a curated corpus.
    """
    from pyspark.sql import Window
    nn = lsh_knn_join(df, k=k, n_planes=n_planes, dim=dim,
                      id_col=id_col, vec_col=vec_col)
    labels = df.select(F.col(id_col), F.col(label_col))
    nbr = labels.select(F.col(id_col).alias("vec_id_b"),
                        F.col(label_col).alias("nbr_label"))
    votes = (nn.join(F.broadcast(nbr), "vec_id_b")
             .groupBy("vec_id_a", "nbr_label")
             .agg(F.count("*").alias("n_votes")))
    w = Window.partitionBy("vec_id_a").orderBy(
        F.col("n_votes").desc(), F.col("nbr_label").asc())
    best = (votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("vec_id_a").alias(id_col),
                    F.col("nbr_label").alias("pred_label"),
                    F.col("n_votes")))
    truth = labels.select(F.col(id_col),
                          F.col(label_col).alias("true_label"))
    return (best.join(truth, id_col)
            .select(F.col(id_col),
                    F.col("pred_label").cast("long"),
                    F.col("n_votes").cast("long"),
                    F.col("true_label").cast("long"),
                    (F.col("pred_label") == F.col("true_label"))
                    .cast("long").alias("correct")))


SEMDEDUP_TARGET_CLUSTER_ROWS = 4096
#: lower-id rows per block of the in-cluster verify: peak memory is a
#: few block × |cluster| arrays, 8 MB each at the 4,096-row target
SEMDEDUP_VERIFY_BLOCK_ROWS = 256


def _verify_cluster(id_col: str, vec_col: str, min_sim_e6: int,
                    block: int):
    """applyInArrow kernel of the SemDeDup verify over one (cluster,
    code) group: ``is_kept`` = 0 iff a lower-id member's cosine, floored
    at 1e6, reaches ``min_sim_e6``. The cosine repeats the column form's
    FP sequence (``_dot``/``_norm`` left-to-right float64 folds, then
    ``floor(dot / (na·nb) · 1e6)``), so every decision is bit-equal to
    it; a zero-norm vector is dissimilar to everything."""
    def verify(table):
        import numpy as np
        import pyarrow as pa
        install_worker_daemon()
        order = np.argsort(table.column(id_col).to_numpy(), kind="stable")
        table = table.take(order)
        ids = table.column(id_col).to_numpy()
        m = vector_matrix(table.column(vec_col).combine_chunks())
        nrm = _seq_norm(m)
        mt = np.ascontiguousarray(m.T)
        lost = np.zeros(len(ids), dtype=bool)
        for lo in range(0, len(ids), block):
            hi = min(lo + block, len(ids))
            dot = np.zeros((hi - lo, len(ids) - lo))
            for j in range(mt.shape[0]):
                dot += mt[j, lo:hi, None] * mt[j, None, lo:]
            with np.errstate(divide="ignore", invalid="ignore"):
                e6 = np.floor(dot / (nrm[lo:hi, None] * nrm[None, lo:])
                              * 1e6)
            hit = ((ids[lo:hi, None] < ids[None, lo:])
                   & (nrm[lo:hi, None] > 0) & (nrm[None, lo:] > 0)
                   & (e6 >= min_sim_e6))
            lost[lo:] |= hit.any(axis=0)
        return pa.table({id_col: table.column(id_col),
                         "cluster_id": table.column("cluster_id"),
                         "is_kept": pa.array((~lost).astype(np.int64))})
    return verify


def _lsh_split_codes(df: DataFrame, bits: int, id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(id, __code): SemDeDup's deterministic sign-LSH sub-code on the
    exact integer grid. Bit j = sign of Σ_i h(j,i)·vq_i with Rademacher
    h(j,i) = 1 − 2·(((i·73856093 + j·19349663) mod 97) mod 2) — pure
    integer arithmetic, identical on any engine, zero shuffle (map-side
    transform/aggregate only)."""
    code = F.lit(0).cast("long")
    for j in range(bits):
        def hij(i, _j=j):
            return (F.lit(1) - 2 * F.pmod(
                F.pmod(i * 73856093 + F.lit(_j * 19349663), 97), 2))
        dot_j = F.aggregate(
            F.transform("vq", lambda x, i: x * hij(i)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        code = code + (dot_j >= 0).cast("long") * F.lit(1 << j)
    return quantized_vectors(df, id_col, vec_col).select(
        F.col(id_col), code.alias("__code"))


def semantic_dedup(df: DataFrame, k: int | None = None, iters: int = 2,
                   min_sim_e6: int = 950_000,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   target_cluster_rows: int = SEMDEDUP_TARGET_CLUSTER_ROWS,
                   lsh_split_bits: int = 0,
                   nprobe: int = 4) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embedding space, then drop near-identical vectors WITHIN each
    cluster — the all-pairs cosine matrix is only ever formed per
    cluster, never globally.

    A vector is pruned when a LOWER-id member of its own cluster is
    cosine-similar above the threshold (greedy lowest-id keeper — the
    same keeper rule as the MinHash/SimHash families, so curation
    chains can mix them). Returns every vector with its cluster and an
    ``is_kept`` flag (0/1 BIGINT) — callers filter or audit.

    100 TB shape: the cluster assignment is the exact-integer
    ``kmeans_assign`` (flat Arrow kernels up to
    ``KMEANS_FLAT_ASSIGN_MAX_K`` clusters: the driver holds at most
    cap × dim centroid longs, and each round's partial sums are merged
    by ``treeAggregate``). The verify is one shuffle on
    ``(cluster_id, code)`` and one ``applyInArrow`` kernel per group
    (:func:`_verify_cluster`), so the quadratic term is Σ|cluster|².
    The kernel takes the lower-id side in blocks of
    ``SEMDEDUP_VERIFY_BLOCK_ROWS`` rows: peak memory is
    O(block × |cluster|), not |cluster|². With ``k=None`` (the
    default) k is derived from the corpus count as
    ``max(8, ceil(n / target_cluster_rows))`` — SemDeDup's own scaling
    argument — so the expected pair count is Σ|cluster|² ≈
    k·(n/k)² = n·target_cluster_rows: LINEAR in n, not O(n²/const) as
    a fixed k would give (``test_scale.py`` asserts the linear
    growth). The count is one driver-side scalar, not a data collect.
    Skewed/oversized clusters can additionally be pre-split with
    ``lsh_split_bits`` sign-LSH bits (deterministic integer
    hyperplanes on the quantized grid): pairs are then required to
    share the (cluster, code) bucket, capping any single cluster's
    pair term at Σ|bucket|² at the cost of missing cross-bucket
    near-dups (SemDeDup is approximate by construction; the pruned
    set is always a SUBSET of the unsplit one). Assignment cost: for
    k > ``KMEANS_FLAT_ASSIGN_MAX_K`` the per-vector work is
    ~``nprobe``·√k candidate rows via the two-level coarse quantizer
    (see ``kmeans_assign``/``routed_candidates``), not the O(n·k)
    flat scoring that a corpus-proportional k would otherwise make
    O(n²/const). Cosine is floor-quantized at 1e6 for cross-engine
    hashing, bit-equal to the column-expression form. An empty input
    returns an empty frame; a NULL or ragged embedding raises
    ``ValueError`` (see ``kmeans_assign``).
    """
    from pyspark.sql import types as T

    if k is None:
        n = df.count()
        k = max(8, -(-n // target_cluster_rows))
    a = kmeans_assign(df, k=k, iters=iters, id_col=id_col,
                      vec_col=vec_col,
                      nprobe=nprobe).select(id_col, "cluster_id")
    m = a.join(df.select(id_col, vec_col), id_col)
    if lsh_split_bits > 0:
        m = m.join(_lsh_split_codes(df, lsh_split_bits, id_col, vec_col),
                   id_col)
    else:
        m = m.withColumn("__code", F.lit(0).cast("long"))
    schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("cluster_id", T.LongType()),
        T.StructField("is_kept", T.LongType())])
    return (m.select(id_col, "cluster_id", "__code", vec_col)
             .groupBy("cluster_id", "__code")
             .applyInArrow(_verify_cluster(id_col, vec_col, min_sim_e6,
                                           SEMDEDUP_VERIFY_BLOCK_ROWS),
                           schema))


JL_OUT_DIM = 16


def jl_project(df: DataFrame, out_dim: int = JL_OUT_DIM,
               in_dim: int = 64, id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim``
    components with a DETERMINISTIC ±1 sign matrix (Achlioptas 2003:
    Rademacher entries preserve pairwise distances like Gaussians) —
    the dimensionality-reduction step that makes downstream ANN /
    clustering 4× cheaper per vector.

    Engine-exact by integer design: components quantize to the e6
    grid FIRST, the sign matrix is pure integer arithmetic
    (``1 − 2·(((i·73856093 + j·19349663) mod 97) mod 2)`` — identical
    on any engine), and each output component is an exact BIGINT
    Σ s(i,j)·q_i (associative — no FP fold-order anywhere, unlike a
    float dot product). Scaling by 1/√out_dim is left to consumers
    (a constant factor — distance ORDER is what matters).

    Plan: posexplode to (vec, i, q) — in_dim rows per vector — one
    broadcast join against the in_dim×out_dim literal sign matrix,
    one (vec, j) re-aggregation. Output tall: out_dim rows per
    vector."""
    spark = df.sparkSession
    i_d = spark.range(in_dim).select(F.col("id").alias("i"))
    j_d = spark.range(out_dim).select(F.col("id").alias("jdim"))
    s = (F.lit(1) - 2 * F.pmod(
        F.pmod(F.col("i") * 73856093 + F.col("jdim") * 19349663,
               F.lit(97)), F.lit(2))).cast("long")
    signs = i_d.crossJoin(j_d).select("i", "jdim", s.alias("s"))
    t = df.select(F.col(id_col),
                  F.posexplode(vec_col).alias("i", "comp"))
    q = t.select(id_col, F.col("i").cast("long").alias("i"),
                 F.floor(F.col("comp").cast("double") * 1e6)
                  .cast("long").alias("q"))
    return (q.join(F.broadcast(signs), "i")
            .groupBy(id_col, "jdim")
            .agg(F.sum(F.col("s") * F.col("q")).cast("long")
                 .alias("proj_q_e6"))
            .orderBy(id_col, "jdim"))


def top_principal_component(df: DataFrame, dim: int = 64, iters: int = 6,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Top principal component of the embedding cloud (uncentered) via
    power iteration on an integer-exact Gramian — the PCA primitive
    behind embedding whitening / drift monitoring, expressed so two
    engines reproduce it bit-for-bit.

    Engine-exact by construction: components quantize to the e6 grid,
    the d×d Gramian G[i,j] = Σ_v q_i·q_j is an exact BIGINT sum
    (order-free), G rescales to ±1e6 through ONE pinned double tree
    (floor(g·1e6/max|g|)), and every power step w = A·v is again an
    exact 64-term BIGINT sum renormalized by floor(w·1e6/max|w|).
    The start vector is all-ones, so the iterate (and the component's
    sign) is fully deterministic.

    Plan shape at scale: each Arrow batch contributes ONE d×d partial
    Gramian (an int64 GEMM over the batch's e6-quantized matrix inside
    ``mapInPandas`` — exact 64-bit adds, identical to a BIGINT sum),
    so a task emits ≤ d² rows per batch and the only data-sized
    exchange carries d² keys (4096 rows for d=64, regardless of corpus
    size — the tree-aggregated-Gramian communication shape). An
    earlier pure-Catalyst version emitted the d² outer-product pairs
    per ROW via nested transform+explode: semantically identical, but
    N·d² interpreted struct allocations (205M rows at sf0.1) measured
    12.7 s where the batched GEMM takes ~1 s. The ``iters`` power
    steps then run DRIVER-SIDE on the collected d×d matrix: the
    Gramian is a constant-size summary (4096 BIGINTs for d=64 —
    metadata scale, like MLlib's tree-aggregated Gramian), and an
    executor-side join loop on a 64-row vector was pure AQE/job
    overhead (~5 s of 1-task stages at any SF). The numpy steps use
    the identical exact int64 adds and the identical pinned
    floor(w·1e6/max|w|) double tree, so results are bit-equal.
    BIGINT headroom: |q| ≤ 1e6·max|x|, so G ≤ N·(1e6·max|x|)² — at
    max|x| ≈ 1 this holds to N ≈ 9e6 vectors; beyond that, lower the
    quantization grid one decade per 100× rows.
    """
    import pandas as pd

    def gram_batches(it):
        import numpy as np
        install_worker_daemon()
        for pdf in it:
            if not len(pdf):
                continue
            m = np.stack([np.asarray(a, dtype=np.float64)
                          for a in pdf[vec_col]])
            # floor(cast(x as double) * 1e6) — bit-identical to the
            # Catalyst/DuckDB quantization (float32 widens exactly)
            q = np.floor(m * 1e6).astype(np.int64)
            gp = q.T @ q  # exact int64 partial Gramian for this batch
            ii, jj = np.indices(gp.shape)
            yield pd.DataFrame({"i": (ii + 1).ravel().astype(np.int32),
                                "j": (jj + 1).ravel().astype(np.int32),
                                "p": gp.ravel()})

    g = (df.select(vec_col)
         .mapInPandas(gram_batches, "i int, j int, p long")
         .groupBy("i", "j").agg(F.sum("p").cast("long").alias("g")))
    import numpy as np
    gm = np.zeros((dim, dim), dtype=np.int64)
    for row in g.collect():  # d² rows — constant-size summary
        gm[row["i"] - 1, row["j"] - 1] = row["g"]
    amax = np.abs(gm).max() or 1
    a_m = np.floor(gm.astype(np.float64) * 1e6 / float(amax)) \
            .astype(np.int64)
    v = np.full(dim, 1_000_000, dtype=np.int64)
    for _ in range(iters):
        w = a_m @ v  # exact int64, same adds as the BIGINT agg
        m = np.abs(w).max() or 1
        v = np.floor(w.astype(np.float64) * 1e6 / float(m)) \
              .astype(np.int64)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(j + 1, int(v[j])) for j in range(dim)],
        "dim long, weight_e6 long")


def label_centroids_e6(df: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding",
                       label_col: str = "label") -> DataFrame:
    """Per-label centroid on the e6 grid: component sums are exact
    BIGINT over e6-quantized inputs, the mean is one floored double
    division per component (floor, not cast — negative components must
    round the same way on both engines). Output: (label, centroid:
    array<long> in dimension order, n).

    Scale shape: posexplode → ONE map-side-combined groupBy on
    (label, dim) — #labels·d result rows regardless of corpus size —
    then a #labels-row array reassembly."""
    comp = df.select(F.col(label_col).alias("label"),
                     F.posexplode(vec_col).alias("dim", "x"))
    agg = (comp.groupBy("label", "dim")
           .agg(F.sum(F.floor(F.col("x").cast("double") * F.lit(1e6)))
                .cast("long").alias("s"),
                F.count("*").cast("long").alias("n")))
    c = agg.select("label", "dim", "n",
                   F.floor(F.col("s").cast("double")
                           / F.col("n").cast("double"))
                    .cast("long").alias("c"))
    return (c.groupBy("label")
            .agg(F.max("n").alias("n"),
                 F.transform(
                     F.array_sort(F.collect_list(F.struct("dim", "c"))),
                     lambda s: s.c).alias("centroid")))


def label_silhouette(df: DataFrame, id_col: str = "vec_id",
                     vec_col: str = "embedding",
                     label_col: str = "label") -> DataFrame:
    """Silhouette-style class-separability audit on the similarity
    scale: per vector, cosine to its OWN label centroid vs the best
    cosine among OTHER label centroids; per label, the integer means
    and the mean margin (own − best-other) at e6. Negative margins
    flag labels whose cloud leaks into a neighbor — the audit run
    before trusting ``label`` for stratified splits or classifier
    training.

    Exactness: each (vector, centroid) cosine is the package's
    sequential-fold dot/norm pattern floored to e6 (one fixed IEEE
    tree), so the per-label means are integer sums over integer
    cosines. Scale shape: centroids are a #labels-row broadcast; the
    probe is a zero-shuffle map over the corpus (#labels cosines per
    row) followed by one groupBy(label) — no pairwise vector work
    anywhere."""
    cents = label_centroids_e6(df, id_col, vec_col, label_col) \
        .select(F.col("label").alias("clabel"), "centroid")
    sim = _dot(F.col(vec_col), F.col("centroid")) / (
        _norm(F.col(vec_col)) * _norm(F.col("centroid")))
    probe = (df.select(F.col(id_col), F.col(label_col).alias("label"),
                       F.col(vec_col))
             .crossJoin(F.broadcast(cents))
             .select(F.col(id_col), "label", "clabel",
                     F.floor(sim * F.lit(1e6)).cast("long")
                      .alias("sim_e6")))
    per_vec = (probe.groupBy(F.col(id_col), F.col("label"))
               .agg(F.max(F.when(F.col("label") == F.col("clabel"),
                                 F.col("sim_e6"))).alias("own"),
                    F.max(F.when(F.col("label") != F.col("clabel"),
                                 F.col("sim_e6"))).alias("other")))
    return (per_vec.groupBy("label")
            .agg(F.count("*").cast("long").alias("n_vecs"),
                 F.floor(F.sum("own").cast("double")
                         / F.count("*").cast("double"))
                 .cast("long").alias("mean_own_e6"),
                 F.floor(F.sum("other").cast("double")
                         / F.count("*").cast("double"))
                 .cast("long").alias("mean_other_e6"),
                 F.floor(F.sum(F.col("own") - F.col("other"))
                         .cast("double") / F.count("*").cast("double"))
                 .cast("long").alias("mean_margin_e6")))


def triplet_violation_audit(df: DataFrame, sample_mod: int = 5,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            label_col: str = "label") -> DataFrame:
    """Hard-negative mining audit: on a deterministic 1/``sample_mod``
    hash-sample of anchors, compare each anchor's best SAME-label
    cosine (positive) against its best OTHER-label cosine (hard
    negative). A "violation" (hard negative ≥ positive) is exactly the
    triplet a metric-learning run would train on — the per-label
    violation rate prices how much contrastive fine-tuning the
    embedding space needs before label-conditioned retrieval is
    trustworthy.

    Same cost bound as :func:`ann_recall`: the sampled anchor side
    broadcasts, the corpus streams once — (n/sample_mod)·n candidate
    pairs, never n², computed by the shared vectorized bit-exact
    kernel (:func:`_sampled_cosine_pairs`). Per-anchor best-of is a
    plain max aggregate (no rank window needed for k=1). Output per
    label: n_anchors, n_violations, viol_frac_e6, mean_margin_e6
    (positive − negative, floored integer mean; negative mean = the
    label's anchors sit closer to foreign clouds than their own)."""
    pairs = (_sampled_cosine_pairs(df, sample_mod, id_col, vec_col,
                                   label_col=label_col)
             .select("qid", "qlabel",
                     (F.col("qlabel") == F.col("nlabel")).alias("same"),
                     "sim_e6"))
    per = (pairs.groupBy("qid", "qlabel")
           .agg(F.max(F.when(F.col("same"), F.col("sim_e6")))
                .alias("pos"),
                F.max(F.when(~F.col("same"), F.col("sim_e6")))
                .alias("neg"))
           .where(F.col("pos").isNotNull() & F.col("neg").isNotNull()))
    return (per.groupBy(F.col("qlabel").alias("label"))
            .agg(F.count("*").cast("long").alias("n_anchors"),
                 F.sum((F.col("neg") >= F.col("pos")).cast("long"))
                 .cast("long").alias("n_violations"),
                 F.floor(F.sum((F.col("neg") >= F.col("pos"))
                               .cast("long")).cast("double")
                         * F.lit(1000000.0)
                         / F.count("*").cast("double"))
                 .cast("long").alias("viol_frac_e6"),
                 F.floor(F.sum(F.col("pos") - F.col("neg"))
                         .cast("double") / F.count("*").cast("double"))
                 .cast("long").alias("mean_margin_e6")))
