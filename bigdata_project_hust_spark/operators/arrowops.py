"""Arrow-native vector operators: ``mapInArrow`` / ``applyInArrow``.

The third Python execution surface next to ``pandas_udf`` and
``mapInPandas`` (both already covered): here batches stay **pyarrow**
end-to-end — no pandas materialization, no per-row Python — which is
the right shape for wide numeric columns like embeddings (the pandas
conversion would box every list cell). The reference has no native
engine hook like this; these operators cover the extension brief's
"embedding column" family on the Arrow path.

Determinism contract (same as the SQL operators):

* ``embedding_norms`` accumulates the squared-component sum in float64
  with an EXPLICIT left-to-right fold over the dimensions (a
  vectorized ``acc += x[:, d]**2`` loop — sequential over dims,
  vectorized over rows), matching the oracle's ``list_reduce``
  fold order bit-for-bit; one pinned sqrt·1e6 floor per vector.
* ``label_centroids`` QUANTIZES each component to an e6 BIGINT before
  any summation, so the per-dimension totals are exact integer sums —
  associative, batch-order-proof, engine-exact.

Scale: mapInArrow streams record batches (no shuffle at all — a pure
projection); applyInArrow shuffles once on the group key and each
group reduces to |dims| rows. Both keep payloads in Arrow buffers —
the pattern to lift to GPU kernels (cudf) unchanged.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import materialize

EMB_DIM = 64


def vector_widths(col):
    """Per-vector width of an Arrow list column, -1 for a NULL vector or
    one holding a NULL component."""
    import numpy as np
    import pyarrow.compute as pc
    widths = pc.list_value_length(col).fill_null(-1).to_numpy() \
        .astype(np.int64)
    vals = col.flatten()
    if vals.null_count:
        parent = pc.list_parent_indices(col).to_numpy()
        widths[parent[pc.is_null(vals).to_numpy(zero_copy_only=False)]] = -1
    return widths


def width_error(widths, dim: int) -> ValueError:
    """The error for invalid vectors: every width seen, -1 as NULL."""
    seen = ", ".join("NULL" if w < 0 else str(w) for w in sorted(set(widths)))
    return ValueError(
        f"embedding vectors must all be {dim} wide with no NULL vector or "
        f"component; widths seen: [{seen}]")


def vector_matrix(col, dim: int | None = None):
    """(n, dim) float64 matrix from an Arrow list column — validates
    every vector instead of trusting the width: a NULL vector, a NULL
    component or a width other than ``dim`` (``None``: the widest
    vector's) raises ``ValueError`` naming the widths seen."""
    import numpy as np
    widths = vector_widths(col)
    if dim is None:
        dim = int(widths.max()) if len(widths) else 0
    if (widths != dim).any():
        raise width_error(widths, dim)
    return col.flatten().to_numpy().astype(np.float64).reshape(len(col), dim)


def embedding_norms(df: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """Per-vector L2 norm (e6-floored) and max |component| (e6-floored)
    via ``mapInArrow`` — the vector-hygiene scan (zero norms, inf/nan
    screens, quantization headroom) a serving pipeline runs before
    indexing. Sum order over dims is an explicit sequential fold —
    see module docstring."""

    def batches(it: Iterator) -> Iterator:
        import numpy as np
        import pyarrow as pa
        for b in it:
            ids = b.column(b.schema.get_field_index("vec_id"))
            m = vector_matrix(
                b.column(b.schema.get_field_index("embedding")), dim)
            acc = np.zeros(m.shape[0], dtype="float64")
            for d in range(dim):                 # sequential over dims
                acc = acc + m[:, d] * m[:, d]
            norm_e6 = np.floor(np.sqrt(acc) * 1e6).astype("int64")
            max_abs = np.abs(m).max(axis=1) if m.shape[0] else acc
            max_abs_e6 = np.floor(max_abs * 1e6).astype("int64")
            yield pa.record_batch(
                [ids, pa.array(norm_e6, pa.int64()),
                 pa.array(max_abs_e6, pa.int64())],
                names=["vec_id", "norm_e6", "max_abs_e6"])

    return df.select("vec_id", "embedding").mapInArrow(
        batches, "vec_id long, norm_e6 long, max_abs_e6 long")


def label_centroids(df: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """Per-label centroid accumulator via ``applyInArrow``: each
    (label, dim) cell is the EXACT BIGINT sum of e6-quantized
    components plus the vector count — the integer-grid form of a
    class centroid (divide downstream when a float centroid is
    wanted; keeping the sum exact makes incremental maintenance and
    cross-engine checks trivial). Output is tall: |labels|·dim rows."""

    # NOTE: no type annotations on this function — PySpark infers the
    # applyInArrow eval type from the signature's hints, and a string
    # annotation derails the inference (UnboundLocalError: eval_type).
    def per_group(table):
        import numpy as np
        import pyarrow as pa
        label = table.column("label")[0].as_py()
        col = table.column("embedding").combine_chunks()
        m = vector_matrix(col, dim)
        q = np.floor(m * 1e6).astype("int64")    # quantize BEFORE sum
        sums = q.sum(axis=0)
        n = np.int64(m.shape[0])
        return pa.table({
            "label": pa.array([label] * dim, pa.int32()),
            "dim": pa.array(np.arange(1, dim + 1, dtype="int64")),
            "sum_q_e6": pa.array(sums, pa.int64()),
            "n_vecs": pa.array(np.full(dim, n), pa.int64()),
        })

    return (df.select("label", "embedding")
            .groupBy("label")
            .applyInArrow(per_group,
                          "label int, dim long, sum_q_e6 long, "
                          "n_vecs long"))


def centroid_cosine(df: DataFrame, dim: int = EMB_DIM) -> DataFrame:
    """Label-centroid similarity matrix: cosine between every pair of
    class centroids — the class-separability audit run on embedding
    quality before training a classifier on the space.

    Composes :func:`label_centroids`; each centroid mean is ONE
    pinned floor(sum/n) per (label, dim) cell (→ exact e6-grid
    BIGINT), so the dot products and squared norms are EXACT integer
    sums over dims (order-free), and the final cosine is one pinned
    division per label pair floored at e6. |labels|²·dim work —
    trivial at any corpus scale."""
    # m feeds both dot-product sides AND the norms agg; left lazy the
    # full-corpus centroid agg inside label_centroids ran once per
    # consumer — materialized it is |labels|×dim rows (tiny barrier,
    # corpus-sized saving)
    c = label_centroids(df, dim)
    m = materialize(
        c.select("label", "dim",
                 F.floor(F.col("sum_q_e6").cast("double")
                         / F.col("n_vecs").cast("double"))
                  .cast("long").alias("mq")),
        "label_centroid_means", prefer="local")
    a = m.select(F.col("label").alias("label_a"), "dim",
                 F.col("mq").alias("ma"))
    b = m.select(F.col("label").alias("label_b"), "dim",
                 F.col("mq").alias("mb"))
    dots = (a.join(b, "dim")
            .where(F.col("label_a") < F.col("label_b"))
            .groupBy("label_a", "label_b")
            .agg(F.sum(F.col("ma") * F.col("mb")).alias("dot")))
    norms = (m.groupBy("label")
             .agg(F.sum(F.col("mq") * F.col("mq")).alias("n2")))
    j = (dots
         .join(norms.select(F.col("label").alias("label_a"),
                            F.col("n2").alias("n2a")), "label_a")
         .join(norms.select(F.col("label").alias("label_b"),
                            F.col("n2").alias("n2b")), "label_b"))
    cos = F.floor(F.col("dot").cast("double")
                  / F.sqrt(F.col("n2a").cast("double")
                           * F.col("n2b").cast("double")) * 1e6)
    return (j.select("label_a", "label_b",
                     F.when((F.col("n2a") > 0) & (F.col("n2b") > 0),
                            cos).otherwise(F.lit(0))
                     .cast("long").alias("cosine_e6"))
            .orderBy("label_a", "label_b"))


def embedding_outliers(df: DataFrame, dim: int = EMB_DIM,
                       sigmas: int = 3) -> DataFrame:
    """Within-class embedding outliers: vectors whose squared
    distance to their OWN label centroid is a >sigmas z-score among
    the label's distances — the mislabeled/garbage-vector screen run
    before training on labeled embeddings.

    Exact end to end: components and centroid means live on the e6
    integer grid, distances are exact BIGINT Σ(q−m)², and the z test
    is the cross-multiplied integer comparison
    ``(n·x − S)² > sigmas²·(n·Q − S²)`` on decimal(38) — no division,
    no sqrt, no FP (the value_outliers pattern, lifted to decimal
    because x ~ dim·(2e6)² already nears int64 when squared).

    Plan: centroid accumulate (applyInArrow), broadcast means join,
    one |vectors| distance agg, a per-label moments join."""
    c = label_centroids(df, dim)
    means = c.select("label", "dim",
                     F.floor(F.col("sum_q_e6").cast("double")
                             / F.col("n_vecs").cast("double"))
                      .cast("long").alias("mq"))
    t = df.select("vec_id", "label",
                  F.posexplode("embedding").alias("pos", "comp"))
    q = t.select("vec_id", "label",
                 (F.col("pos") + 1).cast("long").alias("dim"),
                 F.floor(F.col("comp").cast("double") * 1e6)
                  .cast("long").alias("q"))
    d2 = (q.join(F.broadcast(means), ["label", "dim"])
          .groupBy("vec_id", "label")
          .agg(F.sum((F.col("q") - F.col("mq"))
                     * (F.col("q") - F.col("mq")))
               .cast("long").alias("dist2")))
    dec, d19 = "decimal(38,0)", "decimal(19,0)"
    mom = d2.groupBy("label").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("dist2").cast(dec)).alias("s"),
        F.sum(F.col("dist2").cast(d19) * F.col("dist2").cast(d19))
         .alias("s2"))
    j = d2.join(F.broadcast(mom), "label")
    lhs = (F.col("n").cast(dec) * F.col("dist2").cast(dec)
           - F.col("s"))
    rhs = (F.lit(sigmas * sigmas).cast(dec)
           * (F.col("n") * F.col("s2") - F.col("s") * F.col("s")))
    return (j.select("vec_id", "label", "dist2",
                     F.col("n").cast("long").alias("n_label"),
                     ((lhs > 0) & (lhs * lhs > rhs)).cast("long")
                     .alias("is_outlier"))
            .where(F.col("is_outlier") == 1)
            .orderBy("vec_id"))
