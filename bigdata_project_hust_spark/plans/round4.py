"""Round-4 extension queries: product-quantization ANN, ANN recall
eval, BFS graph distances, weighted priority sampling, and the
interpolated bigram LM score.

Same cross-engine exactness rules as ``queries.py``: integer grids for
anything geometric (the PQ family is BIGINT end-to-end), floor-scaled
e6 fixed-point where a double is unavoidable, deterministic id
tie-breaks everywhere, and hash-derived (not RNG) randomness.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.scalar import stable_hash64_sql
from ..operators import curation, graph, similarity, text
from ..operators.similarity import KMEANS_SCALE
from .spec import QuerySpec, _t

# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): encode + ADC top-k
# ---------------------------------------------------------------------------

_PQ_M, _PQ_D, _PQ_KS = 8, 8, 16     # 8 subspaces × 8 dims, 16 codewords
_PQ_QID, _PQ_K = 0, 10              # ADC query vector / top-k


def q_pq_codes(spark, sf_dir):
    """PQ-encode every embedding (codes packed to a CSV string per
    vector + total quantization distortion) — the compressed-index
    build: 8 bytes of codes replace 256 bytes of float32."""
    enc = similarity.pq_encode(_t(spark, sf_dir, "embeddings"),
                               m_sub=_PQ_M, sub_dim=_PQ_D, ks=_PQ_KS)
    packed = (enc.groupBy("vec_id")
              .agg(F.array_sort(
                       F.collect_list(F.struct("m", "code"))).alias("mc"),
                   F.sum("dist_q").alias("distortion_q")))
    return packed.select(
        F.col("vec_id"),
        F.concat_ws(",", F.transform(
            F.col("mc"), lambda s: s.getField("code").cast("string")))
         .alias("codes_csv"),
        F.col("distortion_q").cast("long"))


def q_pq_adc_topk(spark, sf_dir):
    """PQ asymmetric-distance top-10 for stored vector 0: the scan
    touches only 1-byte codes + a broadcast 128-row distance table."""
    return similarity.pq_adc_topk(_t(spark, sf_dir, "embeddings"),
                                  query_id=_PQ_QID, k=_PQ_K,
                                  m_sub=_PQ_M, sub_dim=_PQ_D, ks=_PQ_KS)


def _pq_ctes() -> str:
    """Shared oracle CTEs: grid quantization, deterministic codebooks
    (slices of the ks lowest-id vectors), per-subspace encode."""
    return f"""
  vq AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> floor(x::DOUBLE * {float(KMEANS_SCALE)!r})
                               ::BIGINT) AS vq
    FROM embeddings
  ),
  tr AS (
    SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS code, vq
    FROM (SELECT vec_id, vq FROM vq ORDER BY vec_id LIMIT {_PQ_KS})
  ),
  ms AS (SELECT unnest(generate_series(0, {_PQ_M - 1}))::BIGINT AS m),
  cb AS (
    SELECT m, code,
           list_slice(vq, (m * {_PQ_D} + 1)::INT,
                      (m * {_PQ_D} + {_PQ_D})::INT) AS cv
    FROM tr, ms
  ),
  sv AS (
    SELECT vec_id, m,
           list_slice(vq, (m * {_PQ_D} + 1)::INT,
                      (m * {_PQ_D} + {_PQ_D})::INT) AS sv
    FROM vq, ms
  ),
  dists AS (
    SELECT s.vec_id, s.m, c.code,
           list_sum(list_transform(generate_series(1, {_PQ_D}),
                    i -> (s.sv[i] - c.cv[i]) * (s.sv[i] - c.cv[i])))
             ::BIGINT AS d
    FROM sv s JOIN cb c USING (m)
  ),
  enc AS (
    SELECT vec_id, m, code, d FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                   ORDER BY d ASC, code ASC) AS rn
      FROM dists) WHERE rn = 1
  )"""


ORACLE_PQ_CODES = f"""
  WITH {_pq_ctes()}
  SELECT vec_id,
         string_agg(code::VARCHAR, ',' ORDER BY m) AS codes_csv,
         sum(d)::BIGINT AS distortion_q
  FROM enc GROUP BY vec_id
"""

ORACLE_PQ_ADC = f"""
  WITH {_pq_ctes()},
  dt AS (
    SELECT c.m, c.code,
           list_sum(list_transform(generate_series(1, {_PQ_D}),
                    i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i])))
             ::BIGINT AS d
    FROM (SELECT m, sv FROM sv WHERE vec_id = {_PQ_QID}) q
    JOIN cb c USING (m)
  )
  SELECT e.vec_id, sum(dt.d)::BIGINT AS adc_dist
  FROM enc e JOIN dt ON e.m = dt.m AND e.code = dt.code
  WHERE e.vec_id <> {_PQ_QID}
  GROUP BY e.vec_id
  ORDER BY adc_dist ASC, vec_id ASC LIMIT {_PQ_K}
"""


# ---------------------------------------------------------------------------
# ANN recall eval: LSH kNN join vs exact brute force on sampled queries
# ---------------------------------------------------------------------------

_RECALL_K, _RECALL_MOD = 3, 5


def q_ann_recall_lsh(spark, sf_dir):
    """Recall@3 of the LSH kNN join vs exact kNN on a deterministic
    1/5 sample of query vectors — the index-quality gate."""
    return similarity.ann_recall(_t(spark, sf_dir, "embeddings"),
                                 k=_RECALL_K, sample_mod=_RECALL_MOD)


def _oracle_ann_recall() -> str:
    from .queries import _DOT_SQL
    planes = similarity.hyperplanes(8, 64)
    bits = " || ".join(
        "(CASE WHEN " + _DOT_SQL.format(
            a="embedding",
            b=f"[{', '.join(repr(c) for c in plane)}]::DOUBLE[]")
        + " >= 0 THEN '1' ELSE '0' END)"
        for plane in planes)
    cos = (f"floor({_DOT_SQL.format(a='a.embedding', b='c.embedding')}"
           f" / (sqrt({_DOT_SQL.format(a='a.embedding', b='a.embedding')})"
           f" * sqrt({_DOT_SQL.format(a='c.embedding', b='c.embedding')}))"
           " * 1000000)::BIGINT")
    return f"""
  WITH ex AS (
    SELECT qid, nid FROM (
      SELECT a.vec_id AS qid, c.vec_id AS nid,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {cos} DESC, c.vec_id ASC) AS rn
      FROM embeddings a JOIN embeddings c ON a.vec_id <> c.vec_id
      WHERE a.vec_id % {_RECALL_MOD} = 0
    ) WHERE rn <= {_RECALL_K}
  ),
  b AS (SELECT vec_id, embedding, ({bits}) AS bucket FROM embeddings),
  ap AS (
    SELECT qid, nid FROM (
      SELECT a.vec_id AS qid, c.vec_id AS nid,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {cos} DESC, c.vec_id ASC) AS rn
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
    ) WHERE rn <= {_RECALL_K} AND qid % {_RECALL_MOD} = 0
  ),
  h AS (SELECT count(*)::BIGINT AS n_hits FROM ex JOIN ap USING (qid, nid)),
  t AS (SELECT count(*)::BIGINT AS n_exact,
               count(DISTINCT qid)::BIGINT AS n_queries FROM ex)
  SELECT {_RECALL_K}::BIGINT AS k, t.n_queries, t.n_exact, h.n_hits,
         floor(h.n_hits * 1e6 / t.n_exact)::BIGINT AS recall_e6
  FROM t, h
"""


# ---------------------------------------------------------------------------
# BFS minimum-hop distances over the trade graph
# ---------------------------------------------------------------------------

_BFS_HOPS = 4


def q_bfs_hops_trade(spark, sf_dir):
    """BFS hop distances from the lowest-id node of the supplier ↔
    customer trade graph, 4 relaxation rounds — iterative relational
    BFS with a |V|-bounded frontier (no path explosion)."""
    edges = graph.supplier_customer_edges(_t(spark, sf_dir, "lineitem"),
                                          _t(spark, sf_dir, "orders"))
    return graph.bfs_hops(edges, max_hops=_BFS_HOPS)


ORACLE_BFS = f"""
  WITH RECURSIVE
  pairs AS (
    SELECT DISTINCT o.o_custkey * 2 AS cust_node,
           l.l_suppkey * 2 + 1 AS supp_node
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
  ),
  e AS (
    SELECT supp_node AS src, cust_node AS dst FROM pairs
    UNION ALL
    SELECT cust_node AS src, supp_node AS dst FROM pairs
  ),
  root AS (
    SELECT min(node) AS node FROM (
      SELECT src AS node FROM e UNION SELECT dst FROM e)
  ),
  walk(node, hops) AS (
    SELECT node, 0::BIGINT FROM root
    UNION
    SELECT e.dst, w.hops + 1 FROM walk w JOIN e ON e.src = w.node
    WHERE w.hops < {_BFS_HOPS}
  )
  SELECT node, min(hops)::BIGINT AS hops FROM walk GROUP BY node
"""


# ---------------------------------------------------------------------------
# Weighted priority sampling (Duffield, Lund, Thorup 2007)
# ---------------------------------------------------------------------------

_PS_N, _PS_SEED = 50, 7


def q_weighted_doc_sample(spark, sf_dir):
    """Top-50 priority sample of documents weighted by n_chars —
    deterministic weighted sampling without replacement (hash-derived
    uniforms, two IEEE ops, integral output columns)."""
    return curation.priority_sample(_t(spark, sf_dir, "documents"),
                                    n=_PS_N, seed=_PS_SEED)


def _oracle_priority_sample() -> str:
    h = stable_hash64_sql("doc_id::VARCHAR", _PS_SEED)
    u_num = f"({h} % 9007199254740992 + 1)"
    p = f"(n_chars::DOUBLE / ({u_num}::DOUBLE / 9007199254740992.0))"
    return f"""
  WITH pr AS (
    SELECT doc_id, n_chars::BIGINT AS weight,
           {u_num}::BIGINT AS u_num, {p} AS p
    FROM documents
  )
  SELECT row_number() OVER (ORDER BY p DESC, doc_id ASC)::BIGINT AS rank,
         doc_id, weight, u_num
  FROM pr ORDER BY p DESC, doc_id ASC LIMIT {_PS_N}
"""


# ---------------------------------------------------------------------------
# Interpolated bigram LM score
# ---------------------------------------------------------------------------


def q_text_bigram_logprob(spark, sf_dir):
    """Mean interpolated bigram log-probability per document (0.7·P_bi
    + 0.3·P_uni over the corpus's own counts) — the second-order LM
    quality signal; position-ordered sequential fold keeps the double
    sum deterministic."""
    return text.bigram_logprob(_t(spark, sf_dir, "documents"))


ORACLE_BIGRAM = r"""
  WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS tk
    FROM documents
  ),
  toks AS (SELECT doc_id, unnest(tk) AS term FROM t),
  uni AS (SELECT term, count(*)::BIGINT AS c1 FROM toks GROUP BY term),
  tot AS (SELECT sum(c1)::BIGINT AS nn FROM uni),
  pr AS (
    SELECT doc_id, unnest(generate_series(1, len(tk) - 1)) AS pos, tk
    FROM t WHERE len(tk) >= 2
  ),
  p2 AS (SELECT doc_id, pos, tk[pos] AS w1, tk[pos + 1] AS w2 FROM pr),
  big AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM p2
          GROUP BY w1, w2),
  sc AS (
    SELECT p.doc_id, p.pos,
           ln((0.7 * b.c2::DOUBLE) / u1.c1::DOUBLE
              + (0.3 * u2.c1::DOUBLE) / tot.nn::DOUBLE) AS lp
    FROM p2 p
    JOIN big b ON p.w1 = b.w1 AND p.w2 = b.w2
    JOIN uni u1 ON p.w1 = u1.term
    JOIN uni u2 ON p.w2 = u2.term, tot
  ),
  folded AS (
    SELECT doc_id, len(lps)::BIGINT AS n_bigrams,
           floor(list_reduce(list_prepend(0.0, lps), (a, b) -> a + b)
                 / len(lps) * 1e6)::BIGINT AS logprob_e6
    FROM (SELECT doc_id, list(lp ORDER BY pos) AS lps FROM sc
          GROUP BY doc_id)
  )
  SELECT d.doc_id,
         coalesce(f.n_bigrams, 0)::BIGINT AS n_bigrams,
         coalesce(f.logprob_e6, 0)::BIGINT AS logprob_e6
  FROM documents d LEFT JOIN folded f ON d.doc_id = f.doc_id
"""


# ---------------------------------------------------------------------------
# Bloom semi-join reduction: prefilter the fact side before the shuffle
# ---------------------------------------------------------------------------


def q_bloom_pruned_revenue(spark, sf_dir):
    """Revenue of lineitems belonging to URGENT orders, with the fact
    side Bloom-PRUNED before the exact join — the runtime-filter /
    semi-join-reduction pattern made explicit: the 2048-word filter
    broadcasts into the scan stage and the join shuffle carries only
    probable matches. No false negatives ⇒ results identical to the
    plain join (the oracle IS the plain join); false positives are
    removed by the exact join. Revenue accumulates as exact BIGINT
    cents (no FP merge-order nondeterminism)."""
    from ..operators.sketches import bloom_build, bloom_prune
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    urgent = (orders.where(F.col("o_orderpriority") == "1-URGENT")
                    .select("o_orderkey"))
    # native xxhash64 bits: the filter is a pure plan optimization
    # here (the exact join removes FPs and the oracle is the plain
    # join), so the ~10× cheaper JVM hash is the right probe; the
    # md5 'stable' mode is for bloom_customer_orders, whose BITS are
    # the verified output
    words = bloom_build(urgent, "o_orderkey", hash_fn="native")
    pruned = bloom_prune(words, lineitem, "l_orderkey",
                         hash_fn="native")
    cents = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    return (pruned.join(urgent,
                        pruned.l_orderkey == urgent.o_orderkey)
                  .groupBy("l_returnflag")
                  .agg(F.count("*").alias("n_items"),
                       F.sum(cents).alias("revenue_cents")))


ORACLE_BLOOM_PRUNED = """
  SELECT l_returnflag, count(*)::BIGINT AS n_items,
         sum(floor(l_extendedprice * 100 + 0.5)::BIGINT)::BIGINT
           AS revenue_cents
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '1-URGENT'
  GROUP BY l_returnflag
"""


# ---------------------------------------------------------------------------
# IVF-PQ: inverted lists + PQ asymmetric distance (FAISS IVFx,PQy shape)
# ---------------------------------------------------------------------------

_IVFPQ_NC, _IVFPQ_NPROBE = 8, 2


def q_ivf_pq_topk(spark, sf_dir):
    """IVF-PQ top-10 for stored vector 0: probe 2 of 8 inverted lists,
    rank by PQ asymmetric distance — the billion-vector serving
    layout (both pruning structures broadcast-sized)."""
    return similarity.ivf_pq_topk(_t(spark, sf_dir, "embeddings"),
                                  query_id=_PQ_QID, k=_PQ_K,
                                  n_centroids=_IVFPQ_NC,
                                  nprobe=_IVFPQ_NPROBE,
                                  m_sub=_PQ_M, sub_dim=_PQ_D, ks=_PQ_KS)


def _oracle_ivf_pq() -> str:
    from .queries import _DOT_SQL
    dot = _DOT_SQL
    cos = (f"floor({dot.format(a='e.embedding', b='c.cvec')}"
           f" / (sqrt({dot.format(a='e.embedding', b='e.embedding')})"
           f" * sqrt({dot.format(a='c.cvec', b='c.cvec')}))"
           " * 1000000)::BIGINT")
    qcos = (f"floor({dot.format(a='q.qv', b='cent.cvec')}"
            f" / (sqrt({dot.format(a='q.qv', b='q.qv')})"
            f" * sqrt({dot.format(a='cent.cvec', b='cent.cvec')}))"
            " * 1000000)::BIGINT")
    return f"""
  WITH {_pq_ctes()},
  cent AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    WHERE vec_id < {_IVFPQ_NC}
  ),
  assigned AS (
    SELECT vec_id, cid FROM (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos} DESC, c.cid ASC) AS rn
      FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
  ),
  q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {_PQ_QID}),
  probes AS (
    SELECT cid FROM cent, q
    ORDER BY {qcos} DESC, cid ASC
    LIMIT {_IVFPQ_NPROBE}
  ),
  dt AS (
    SELECT c.m, c.code,
           list_sum(list_transform(generate_series(1, {_PQ_D}),
                    i -> (qs.sv[i] - c.cv[i]) * (qs.sv[i] - c.cv[i])))
             ::BIGINT AS d
    FROM (SELECT m, sv FROM sv WHERE vec_id = {_PQ_QID}) qs
    JOIN cb c USING (m)
  )
  SELECT e.vec_id, sum(dt.d)::BIGINT AS adc_dist
  FROM enc e
  JOIN dt ON e.m = dt.m AND e.code = dt.code
  WHERE e.vec_id <> {_PQ_QID}
    AND e.vec_id IN (SELECT a.vec_id FROM assigned a
                     JOIN probes p ON a.cid = p.cid)
  GROUP BY e.vec_id
  ORDER BY adc_dist ASC, vec_id ASC LIMIT {_PQ_K}
"""


# ---------------------------------------------------------------------------
# Greedy subword segmentation piece counts (tokenizer-apply cost model)
# ---------------------------------------------------------------------------


def q_subword_piece_counts(spark, sf_dir):
    """Greedy longest-match subword piece counts per document under
    the fixed literal vocabulary — the sequence-length cost model for
    packing/budgeting (zero-shuffle nested HOF fold)."""
    return text.subword_piece_counts(_t(spark, sf_dir, "documents"))


def _oracle_subword() -> str:
    v3 = ", ".join(f"'{p}'" for p in text.SUBWORD_V3)
    v2 = ", ".join(f"'{p}'" for p in text.SUBWORD_V2)
    shift = 1 << 32
    return rf"""
  WITH t AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'),
                       x -> x <> '') AS w
    FROM documents
  )
  SELECT doc_id, len(w)::BIGINT AS n_words,
         coalesce(list_sum(list_transform(w, wd ->
           list_reduce(
             list_prepend({shift}::BIGINT,
                          list_transform(generate_series(1, length(wd)),
                                         x -> x::BIGINT)),
             (acc, i) -> CASE WHEN i <> acc // {shift} THEN acc ELSE
               ((acc // {shift}) +
                (CASE WHEN substr(wd, (acc // {shift})::INT, 3)
                           IN ({v3}) THEN 3
                      WHEN substr(wd, (acc // {shift})::INT, 2)
                           IN ({v2}) THEN 2
                      ELSE 1 END)) * {shift} + (acc % {shift}) + 1 END
           ) % {shift})), 0)::BIGINT AS n_pieces
  FROM t
"""


QUERIES_ROUND4: dict[str, QuerySpec] = {
    "pq_codes": QuerySpec(
        q_pq_codes, ORACLE_PQ_CODES,
        doc="product-quantization encode (deterministic codebooks on "
            "the 2^20 grid; 8 codes replace 256 bytes per vector)"),
    "pq_adc_topk": QuerySpec(
        q_pq_adc_topk, ORACLE_PQ_ADC,
        doc="PQ asymmetric-distance top-k ANN (code scan + broadcast "
            "distance table, BIGINT-exact end-to-end)"),
    "ann_recall_lsh": QuerySpec(
        q_ann_recall_lsh, _oracle_ann_recall(),
        doc="recall@3 of LSH kNN vs exact kNN on a hash-sampled "
            "query set (ANN index-quality gate)"),
    "bfs_hops_trade": QuerySpec(
        q_bfs_hops_trade, ORACLE_BFS,
        doc="BFS min-hop distances (iterative relaxation, |V|-bounded "
            "frontier; recursive-CTE oracle)"),
    "weighted_doc_sample": QuerySpec(
        q_weighted_doc_sample, _oracle_priority_sample(),
        doc="weighted sampling without replacement via priority "
            "sampling (hash-uniforms, two IEEE ops, integral output)"),
    "text_bigram_logprob": QuerySpec(
        q_text_bigram_logprob, ORACLE_BIGRAM,
        doc="interpolated bigram LM mean log-prob (position-ordered "
            "sequential fold — deterministic doubles)"),
    "bloom_pruned_revenue": QuerySpec(
        q_bloom_pruned_revenue, ORACLE_BLOOM_PRUNED, headline=True,
        doc="Bloom semi-join reduction: broadcast-filter the fact "
            "scan before the exact join (runtime filter, no false "
            "negatives — oracle is the plain join)"),
    "ivf_pq_topk": QuerySpec(
        q_ivf_pq_topk, _oracle_ivf_pq(), headline=True,
        doc="IVF-PQ ANN: probe nprobe inverted lists, rank by PQ "
            "asymmetric distance (FAISS IVFx,PQy layout)"),
    "subword_piece_counts": QuerySpec(
        q_subword_piece_counts, _oracle_subword(), headline=True,
        doc="greedy longest-match subword piece counts (tokenizer "
            "cost model; zero-shuffle nested HOF fold)"),
}


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (lossless PPJoin-style pruning)
# ---------------------------------------------------------------------------


def q_dedup_ngram_prefix(spark, sf_dir):
    """Prefix-filtered n-gram Jaccard pairs — the same kernel as
    dedup_ngram_jaccard (prefix filtering is lossless), so the oracle
    is the plain inverted-index SQL."""
    from ..operators import dedup
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Feature-hashing embedding (text → integer vector, zero-shuffle)
# ---------------------------------------------------------------------------


def q_text_hash_embedding(spark, sf_dir):
    """Feature-hash each document into a 16-dim integer vector (±1
    per token by hash bucket/sign) — the deterministic text→vector
    step; CSV + exact squared norm for driver hashing."""
    emb = text.hash_embedding(_t(spark, sf_dir, "documents"))
    return emb.select(
        F.col("doc_id"),
        F.concat_ws(",", F.transform("emb", lambda x: x.cast("string")))
         .alias("emb_csv"),
        F.aggregate("emb", F.lit(0).cast("long"),
                    lambda acc, v: acc + v * v).alias("norm_sq"))


def _oracle_hash_embedding() -> str:
    from ..operators.text import HASH_EMB_DIM
    h = stable_hash64_sql("t")
    shift = HASH_EMB_DIM.bit_length() - 1
    comps = ", ".join(
        f"""coalesce(list_sum(list_transform(th, h ->
            CASE WHEN (h & {HASH_EMB_DIM - 1}) = {j}
                 THEN (CASE WHEN ((h >> {shift}) & 1) = 0
                            THEN 1 ELSE -1 END)
                 ELSE 0 END)), 0)::BIGINT AS c{j}"""
        for j in range(HASH_EMB_DIM))
    csv = " || ',' || ".join(f"c{j}::VARCHAR"
                             for j in range(HASH_EMB_DIM))
    norm = " + ".join(f"c{j} * c{j}" for j in range(HASH_EMB_DIM))
    return rf"""
  WITH t AS (
    SELECT doc_id,
           list_transform(
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> ''),
             t -> {h}) AS th
    FROM documents
  ),
  c AS (SELECT doc_id, {comps} FROM t)
  SELECT doc_id, ({csv}) AS emb_csv, ({norm})::BIGINT AS norm_sq
  FROM c
"""


QUERIES_ROUND4.update({
    "dedup_ngram_prefix": QuerySpec(
        q_dedup_ngram_prefix, None,  # oracle assigned below (reuse)
        headline=True,
        doc="prefix-filtered Jaccard join (PPJoin-style lossless "
            "candidate pruning: index only rarest-shingle prefixes; "
            "kernel: dedup.ngram_jaccard_pairs)"),
    "text_hash_embedding": QuerySpec(
        q_text_hash_embedding, _oracle_hash_embedding(),
        doc="feature-hashing trick text→integer-vector embedding "
            "(zero-shuffle folds, bit-exact)"),
})


def _attach_prefix_oracle() -> None:
    """dedup_ngram_prefix shares the NAIVE inverted-index oracle
    verbatim — the point of the query: same answer, cheaper plan."""
    from . import queries as _q
    spec = QUERIES_ROUND4["dedup_ngram_prefix"]
    QUERIES_ROUND4["dedup_ngram_prefix"] = QuerySpec(
        spec.fn, _q.ORACLE_NGRAM, spec.headline, spec.doc)


_attach_prefix_oracle()


# ---------------------------------------------------------------------------
# Retrieval end-to-end: text → hash embedding → cosine top-k
# ---------------------------------------------------------------------------


def q_retrieval_hash_topk(spark, sf_dir):
    """End-to-end retrieval baseline with NO trained model: feature-
    hash documents to integer vectors, then brute cosine top-10 for
    document 0 — the full text→vector→ANN chain in one plan (swap the
    embed step for a real encoder and nothing downstream changes)."""
    from ..operators import similarity
    emb = text.hash_embedding(_t(spark, sf_dir, "documents"))
    return similarity.cosine_topk(emb, query_id=0, k=10,
                                  id_col="doc_id", vec_col="emb")


def _oracle_retrieval_hash_topk() -> str:
    from ..operators.text import HASH_EMB_DIM
    from .queries import _DOT_SQL
    h = stable_hash64_sql("t")
    shift = HASH_EMB_DIM.bit_length() - 1
    comps = ", ".join(
        f"""coalesce(list_sum(list_transform(th, h ->
            CASE WHEN (h & {HASH_EMB_DIM - 1}) = {j}
                 THEN (CASE WHEN ((h >> {shift}) & 1) = 0
                            THEN 1 ELSE -1 END)
                 ELSE 0 END)), 0)::BIGINT"""
        for j in range(HASH_EMB_DIM))
    return rf"""
  WITH t AS (
    SELECT doc_id,
           list_transform(
             list_filter(string_split_regex(lower(text), '\s+'),
                         x -> x <> ''),
             t -> {h}) AS th
    FROM documents
  ),
  emb AS (SELECT doc_id, [{comps}] AS e FROM t),
  q AS (SELECT e AS qv FROM emb WHERE doc_id = 0),
  sims AS (
    SELECT m.doc_id,
           {_DOT_SQL.format(a='m.e', b='q.qv')} AS dot,
           sqrt({_DOT_SQL.format(a='m.e', b='m.e')}) AS na,
           sqrt({_DOT_SQL.format(a='q.qv', b='q.qv')}) AS nb
    FROM emb m, q
    WHERE m.doc_id <> 0
  )
  SELECT doc_id, floor(dot / (na * nb) * 1000000)::BIGINT AS sim_e6
  FROM sims ORDER BY sim_e6 DESC, doc_id ASC LIMIT 10
"""


QUERIES_ROUND4.update({
    "retrieval_hash_topk": QuerySpec(
        q_retrieval_hash_topk, _oracle_retrieval_hash_topk(),
        doc="end-to-end retrieval: feature-hash embed → brute cosine "
            "top-k (text→vector→ANN in one plan)"),
})


# ---------------------------------------------------------------------------
# Sketch cube: per-group HLL registers + lossless rollup property
# ---------------------------------------------------------------------------


def q_hll_group_rollup(spark, sf_dir):
    """Per-priority HLL sketches of distinct customers with the
    rollup contract IN the result: merging the per-group register
    tables (register-wise max) must reproduce the direct global
    sketch register-for-register — the property that makes
    distinct-count cubes maintainable in O(m) per level. Emits one
    row per group: exact distinct, register checksum, and the
    merge==direct flag (1 on every row)."""
    from ..operators.sketches import hll_registers, hll_registers_by
    orders = _t(spark, sf_dir, "orders")
    by = hll_registers_by(orders, "o_custkey", "o_orderpriority")
    chk = F.sum(F.col("reg") * (F.col("idx") + 1)).cast("long")
    per = (by.groupBy("o_orderpriority")
             .agg(chk.alias("reg_checksum")))
    exact = (orders.groupBy("o_orderpriority")
                   .agg(F.count_distinct("o_custkey").cast("long")
                        .alias("n_exact")))
    rolled = (by.groupBy("idx").agg(F.max("reg").alias("reg"))
                .agg(chk.alias("mc")))
    direct = (hll_registers(orders, "o_custkey")
              .agg(chk.alias("dc")))
    return (per.join(exact, "o_orderpriority")
               .crossJoin(F.broadcast(rolled))
               .crossJoin(F.broadcast(direct))
               .select("o_orderpriority", "n_exact", "reg_checksum",
                       (F.col("mc") == F.col("dc")).cast("long")
                       .alias("rollup_matches_direct")))


def _oracle_hll_group_rollup() -> str:
    from ..operators.sketches import HLL_M, _rho_sql
    h = stable_hash64_sql("o_custkey::VARCHAR")
    rho = _rho_sql("(h >> 8)")
    return f"""
  WITH hashed AS (
    SELECT o_orderpriority, {h} AS h FROM orders
  ),
  by_g AS (
    SELECT o_orderpriority, h % {HLL_M} AS idx, max({rho}) AS reg
    FROM hashed GROUP BY o_orderpriority, idx
  ),
  per AS (
    SELECT o_orderpriority,
           sum(reg * (idx + 1))::BIGINT AS reg_checksum
    FROM by_g GROUP BY o_orderpriority
  ),
  exact AS (
    SELECT o_orderpriority,
           count(DISTINCT o_custkey)::BIGINT AS n_exact
    FROM orders GROUP BY o_orderpriority
  ),
  rolled AS (
    SELECT sum(reg * (idx + 1))::BIGINT AS mc FROM (
      SELECT idx, max(reg) AS reg FROM by_g GROUP BY idx)
  ),
  direct AS (
    SELECT sum(reg * (idx + 1))::BIGINT AS dc FROM (
      SELECT h % {HLL_M} AS idx, max({rho}) AS reg
      FROM hashed GROUP BY idx)
  )
  SELECT p.o_orderpriority, e.n_exact, p.reg_checksum,
         (CASE WHEN r.mc = d.dc THEN 1 ELSE 0 END)::BIGINT
           AS rollup_matches_direct
  FROM per p JOIN exact e USING (o_orderpriority), rolled r, direct d
"""


# ---------------------------------------------------------------------------
# Incremental join-view maintenance (insert-only deltas)
# ---------------------------------------------------------------------------


def q_incremental_join_view(spark, sf_dir):
    """Join-view IVM: orders with orderkey % 10 == 0 arrive as the
    delta batch; the refreshed view (old materialization ∪ delta ⋈
    dim) must equal the full recompute — which IS the oracle."""
    from ..operators.joins import incremental_join_view
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    base = orders.where(F.pmod(F.col("o_orderkey"), F.lit(10)) != 0)
    delta = orders.where(F.pmod(F.col("o_orderkey"), F.lit(10)) == 0)
    view = (base.join(cust, base.o_custkey == cust.c_custkey)
                .select("o_orderkey", "c_custkey", "c_name",
                        "o_totalprice"))
    return incremental_join_view(view, delta, cust,
                                 "o_custkey", "c_custkey")


ORACLE_IVM_JOIN = """
  SELECT o_orderkey, c_custkey, c_name, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
"""


# ---------------------------------------------------------------------------
# Grouped-agg Pandas UDF: per-group geometric mean (deterministic)
# ---------------------------------------------------------------------------


def q_pandas_gmean_prices(spark, sf_dir):
    """Per-returnflag geometric mean of extended price via a
    GROUPED_AGG Pandas UDF (the §2.8 aggregate-UDF surface, Arrow
    path): exp(mean(ln x)). The log sum runs as a Python loop over
    ASCENDING values — a pinned sequential order both engines can
    reproduce (numpy's pairwise sum and Spark's partial-agg merges
    could not be) — and the result floor-quantizes at e2."""
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: this module runs under `from __future__
    # import annotations`, which stringifies type hints and defeats
    # pandas_udf's signature inference
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def gmean_e2(v):
        import math
        xs = sorted(float(x) for x in v.dropna())
        s = 0.0
        for x in xs:
            s += math.log(x)
        return int(math.floor(math.exp(s / len(xs)) * 100)) if xs else 0

    li = _t(spark, sf_dir, "lineitem")
    # a GROUPED_AGG pandas UDF cannot share an agg with built-in
    # aggregates — the count rides a separate agg joined back
    g = (li.groupBy("l_returnflag")
           .agg(gmean_e2("l_extendedprice").alias("gmean_e2")))
    c = (li.groupBy("l_returnflag")
           .agg(F.count("*").cast("long").alias("n_items")))
    return g.join(c, "l_returnflag")


ORACLE_GMEAN = """
  SELECT l_returnflag,
         floor(exp(list_reduce(list_prepend(
                 0.0, list(ln(l_extendedprice::DOUBLE)
                           ORDER BY l_extendedprice)),
                 (a, b) -> a + b) / count(*)) * 100)::BIGINT AS gmean_e2,
         count(*)::BIGINT AS n_items
  FROM lineitem GROUP BY l_returnflag
"""


QUERIES_ROUND4.update({
    "hll_group_rollup": QuerySpec(
        q_hll_group_rollup, _oracle_hll_group_rollup(),
        doc="per-group HLL register sketches + lossless O(m) rollup "
            "contract (sketch cube maintenance)"),
    "incremental_join_view": QuerySpec(
        q_incremental_join_view, ORACLE_IVM_JOIN,
        doc="insert-only join-view IVM: view ∪ (Δfact ⋈ dim) == full "
            "recompute (the oracle is the recompute)"),
    "pandas_gmean_prices": QuerySpec(
        q_pandas_gmean_prices, ORACLE_GMEAN,
        doc="GROUPED_AGG Pandas UDF geometric mean (Arrow aggregate "
            "UDF surface, pinned-order log fold)"),
})


# ---------------------------------------------------------------------------
# Complex-event pattern matching (MATCH_RECOGNIZE-lite)
# ---------------------------------------------------------------------------


def q_event_pattern_matches(spark, sf_dir):
    """Per-user view→purchase conversion patterns (clicks/errors
    allowed between) counted by regex over the time-ordered journey
    string — free-form CEP next to the fixed-stage funnel."""
    from ..operators.eventflow import event_pattern_matches
    return event_pattern_matches(_t(spark, sf_dir, "events"))


ORACLE_EVENT_PATTERN = """
  WITH g AS (
    SELECT user_id, count(*)::BIGINT AS n_events,
           string_agg(substr(event_type, 1, 1), ''
                      ORDER BY ts, event_id) AS journey
    FROM events GROUP BY user_id
  )
  SELECT user_id, n_events, journey,
         len(regexp_extract_all(journey, 'v[ce]*p'))::BIGINT
           AS n_matches
  FROM g
"""


QUERIES_ROUND4.update({
    "event_pattern_matches": QuerySpec(
        q_event_pattern_matches, ORACLE_EVENT_PATTERN,
        doc="CEP-lite: regex sequence patterns over per-user ordered "
            "journey strings (one exchange, portable regex grammar)"),
})


# ---------------------------------------------------------------------------
# True IVFADC: PQ over residuals (vector − coarse centroid)
# ---------------------------------------------------------------------------


def q_ivfadc_topk(spark, sf_dir):
    """IVFADC top-10 for stored vector 0: residual-PQ codes ranked by
    per-probed-list ADC tables — the full billion-scale FAISS layout,
    BIGINT-exact end-to-end."""
    return similarity.ivfadc_topk(_t(spark, sf_dir, "embeddings"),
                                  query_id=_PQ_QID, k=_PQ_K,
                                  n_centroids=_IVFPQ_NC,
                                  nprobe=_IVFPQ_NPROBE,
                                  m_sub=_PQ_M, sub_dim=_PQ_D, ks=_PQ_KS)


def _oracle_ivfadc() -> str:
    from .queries import _DOT_SQL
    dot = _DOT_SQL
    cos = (f"floor({dot.format(a='e.embedding', b='c.cvec')}"
           f" / (sqrt({dot.format(a='e.embedding', b='e.embedding')})"
           f" * sqrt({dot.format(a='c.cvec', b='c.cvec')}))"
           " * 1000000)::BIGINT")
    qcos = (f"floor({dot.format(a='q.qv', b='cent.cvec')}"
            f" / (sqrt({dot.format(a='q.qv', b='q.qv')})"
            f" * sqrt({dot.format(a='cent.cvec', b='cent.cvec')}))"
            " * 1000000)::BIGINT")
    sq = ("list_sum(list_transform(generate_series(1, {d}), "
          "i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))::BIGINT")
    return f"""
  WITH vq AS (
    SELECT vec_id,
           list_transform(embedding,
                          x -> floor(x::DOUBLE * {float(KMEANS_SCALE)!r})
                               ::BIGINT) AS vq
    FROM embeddings
  ),
  cent AS (
    SELECT vec_id AS cid, embedding AS cvec FROM embeddings
    WHERE vec_id < {_IVFPQ_NC}
  ),
  centq AS (SELECT vec_id AS cid, vq AS cq FROM vq
            WHERE vec_id < {_IVFPQ_NC}),
  assigned AS (
    SELECT vec_id, cid FROM (
      SELECT e.vec_id, c.cid,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {cos} DESC, c.cid ASC) AS rn
      FROM embeddings e CROSS JOIN cent c
    ) WHERE rn = 1
  ),
  rq AS (
    SELECT a.vec_id, a.cid,
           list_transform(generate_series(1, len(v.vq)),
                          i -> v.vq[i] - cq.cq[i]) AS rq
    FROM assigned a
    JOIN vq v ON v.vec_id = a.vec_id
    JOIN centq cq ON cq.cid = a.cid
  ),
  tr AS (
    SELECT (row_number() OVER (ORDER BY vec_id) - 1)::BIGINT AS code, rq
    FROM (SELECT vec_id, rq FROM rq ORDER BY vec_id LIMIT {_PQ_KS})
  ),
  ms AS (SELECT unnest(generate_series(0, {_PQ_M - 1}))::BIGINT AS m),
  cb AS (
    SELECT m, code,
           list_slice(rq, (m * {_PQ_D} + 1)::INT,
                      (m * {_PQ_D} + {_PQ_D})::INT) AS cv
    FROM tr, ms
  ),
  sv AS (
    SELECT vec_id, cid, m,
           list_slice(rq, (m * {_PQ_D} + 1)::INT,
                      (m * {_PQ_D} + {_PQ_D})::INT) AS sv
    FROM rq, ms
  ),
  enc AS (
    SELECT vec_id, cid, m, code FROM (
      SELECT s.vec_id, s.cid, s.m, c.code,
             row_number() OVER (PARTITION BY s.vec_id, s.m
                                ORDER BY {sq.format(a='s.sv', b='c.cv',
                                                    d=_PQ_D)} ASC,
                                         c.code ASC) AS rn
      FROM sv s JOIN cb c USING (m)) WHERE rn = 1
  ),
  q AS (SELECT embedding AS qv FROM embeddings
        WHERE vec_id = {_PQ_QID}),
  probes AS (
    SELECT cid FROM cent, q
    ORDER BY {qcos} DESC, cid ASC LIMIT {_IVFPQ_NPROBE}
  ),
  qres AS (
    SELECT p.cid,
           list_transform(generate_series(1, len(v.vq)),
                          i -> v.vq[i] - cq.cq[i]) AS qr
    FROM probes p
    JOIN centq cq ON cq.cid = p.cid,
    (SELECT vq FROM vq WHERE vec_id = {_PQ_QID}) v
  ),
  qrows AS (
    SELECT cid, m,
           list_slice(qr, (m * {_PQ_D} + 1)::INT,
                      (m * {_PQ_D} + {_PQ_D})::INT) AS qv
    FROM qres, ms
  ),
  dt AS (
    SELECT r.cid, r.m, c.code,
           {sq.format(a='r.qv', b='c.cv', d=_PQ_D)} AS d
    FROM qrows r JOIN cb c USING (m)
  )
  SELECT e.vec_id, sum(dt.d)::BIGINT AS adc_dist
  FROM enc e
  JOIN dt ON e.cid = dt.cid AND e.m = dt.m AND e.code = dt.code
  WHERE e.vec_id <> {_PQ_QID}
  GROUP BY e.vec_id
  ORDER BY adc_dist ASC, vec_id ASC LIMIT {_PQ_K}
"""


QUERIES_ROUND4.update({
    "ivfadc_topk": QuerySpec(
        q_ivfadc_topk, _oracle_ivfadc(),
        doc="true IVFADC: PQ over residuals with per-probed-list ADC "
            "tables (the full FAISS billion-scale layout)"),
})


# ---------------------------------------------------------------------------
# OHLC resample (hypertable-style downsampling)
# ---------------------------------------------------------------------------


def q_ohlc_events(spark, sf_dir):
    """Per-user 1-hour OHLC bars over event values — open/close via
    min_by/max_by on (ts, event_id), one map-side-combined hash agg
    (values floor-scaled to cents for driver hashing)."""
    from ..operators.windows import ohlc_resample
    ev = _t(spark, sf_dir, "events").withColumn(
        "value_c", F.floor(F.col("value") * 100 + 0.5).cast("long"))
    return ohlc_resample(ev, "ts", "user_id", "value_c", 3600,
                         "event_id")


ORACLE_OHLC = """
  WITH v AS (
    SELECT user_id,
           (floor(epoch(ts) / 3600) * 3600)::BIGINT AS bucket_start,
           floor(value * 100 + 0.5)::BIGINT AS value_c, ts, event_id
    FROM events
  ),
  r AS (
    SELECT *,
           row_number() OVER (PARTITION BY user_id, bucket_start
                              ORDER BY ts ASC, event_id ASC) AS rn_a,
           row_number() OVER (PARTITION BY user_id, bucket_start
                              ORDER BY ts DESC, event_id DESC) AS rn_d
    FROM v
  )
  SELECT user_id, bucket_start,
         max(CASE WHEN rn_a = 1 THEN value_c END)::BIGINT AS open,
         max(value_c)::BIGINT AS high,
         min(value_c)::BIGINT AS low,
         max(CASE WHEN rn_d = 1 THEN value_c END)::BIGINT AS close,
         count(*)::BIGINT AS n_events
  FROM r GROUP BY user_id, bucket_start
"""


QUERIES_ROUND4.update({
    "ohlc_events": QuerySpec(
        q_ohlc_events, ORACLE_OHLC,
        doc="OHLC time-series resample (min_by/max_by single hash "
            "agg, no sort/window — continuous-rollup shape)"),
})


# ---------------------------------------------------------------------------
# Edit-distance fuzzy join (deletion-neighborhood blocking)
# ---------------------------------------------------------------------------


def q_fuzzy_customer_names(spark, sf_dir):
    """Customer-name pairs within edit distance 1 via FastSS/SymSpell
    deletion-neighborhood blocking — candidates from shared deletion
    variants (O(Σ|s|) index entries), exact Levenshtein verify. The
    oracle is the naive all-pairs scan: the blocking is LOSSLESS for
    ed ≤ 1."""
    from ..operators.dedup import fuzzy_join_ed1
    return fuzzy_join_ed1(_t(spark, sf_dir, "customer"),
                          "c_name", "c_custkey")


ORACLE_FUZZY_ED1 = """
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         levenshtein(a.c_name, b.c_name)::BIGINT AS dist
  FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
  WHERE levenshtein(a.c_name, b.c_name) <= 1
"""


QUERIES_ROUND4.update({
    "fuzzy_customer_names": QuerySpec(
        q_fuzzy_customer_names, ORACLE_FUZZY_ED1,
        doc="edit-distance-1 fuzzy self-join (deletion-neighborhood "
            "blocking, lossless; naive all-pairs oracle)"),
})


# ---------------------------------------------------------------------------
# Entity resolution: fuzzy pairs → connected components → canonical ids
# ---------------------------------------------------------------------------


def q_entity_resolution_customers(spark, sf_dir):
    """End-to-end entity resolution over customer names: ed≤1 fuzzy
    pairs (deletion-neighborhood blocking) → connected
    components → every customer with its canonical entity id (the
    cluster minimum; singletons resolve to themselves). The standard
    dedupe-the-CRM pipeline as one declarative plan."""
    from ..operators.dedup import connected_components, fuzzy_join_ed1
    cust = _t(spark, sf_dir, "customer")
    pairs = fuzzy_join_ed1(cust, "c_name", "c_custkey")
    comp = connected_components(pairs, "id_a", "id_b")
    return (cust.select("c_custkey")
                .join(comp.withColumnRenamed("node", "c_custkey"),
                      "c_custkey", "left")
                .select(F.col("c_custkey"),
                        F.coalesce("component", F.col("c_custkey"))
                         .cast("long").alias("entity_id")))


ORACLE_ENTITY_RESOLUTION = """
  WITH RECURSIVE fp AS (
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE levenshtein(a.c_name, b.c_name) <= 1
  ),
  e AS (
    SELECT id_a AS a, id_b AS b FROM fp
    UNION
    SELECT id_b, id_a FROM fp
  ),
  n AS (SELECT DISTINCT a AS node FROM e),
  reach AS (
    SELECT node, node AS lbl FROM n
    UNION
    SELECT e.b, r.lbl FROM reach r JOIN e ON e.a = r.node
  ),
  comp AS (SELECT node, min(lbl) AS component FROM reach GROUP BY node)
  SELECT c.c_custkey,
         coalesce(comp.component, c.c_custkey)::BIGINT AS entity_id
  FROM customer c LEFT JOIN comp ON comp.node = c.c_custkey
"""


QUERIES_ROUND4.update({
    "entity_resolution_customers": QuerySpec(
        q_entity_resolution_customers, ORACLE_ENTITY_RESOLUTION,
        doc="entity resolution: ed≤1 fuzzy pairs → connected "
            "components → canonical entity ids (CRM dedupe pipeline)"),
})


# ---------------------------------------------------------------------------
# Grid-bucketed radius join (spatial-join pattern, integer-exact)
# ---------------------------------------------------------------------------

_GRID_R = 40_000  # fixed-point radius (~0.04 in e6 coordinate units)


def q_customer_radius_pairs(spark, sf_dir):
    """Radius self-join over synthetic customer coordinates (derived
    deterministically from the key hash — the fixtures carry no geo
    columns, the JOIN SHAPE is the point): grid-bucket 3×3 candidate
    probe + exact integer distance verify. Oracle is the naive
    all-pairs scan — grid blocking is lossless."""
    from ..functions.scalar import stable_hash64
    from ..operators.joins import grid_radius_join
    cust = _t(spark, sf_dir, "customer").select("c_custkey")
    pts = cust.select(
        "c_custkey",
        F.pmod(stable_hash64(F.col("c_custkey").cast("string"), 31),
               F.lit(1_000_000)).alias("x"),
        F.pmod(stable_hash64(F.col("c_custkey").cast("string"), 32),
               F.lit(1_000_000)).alias("y"))
    return grid_radius_join(pts, "c_custkey", "x", "y", _GRID_R)


def _oracle_radius() -> str:
    hx = stable_hash64_sql("c_custkey::VARCHAR", 31)
    hy = stable_hash64_sql("c_custkey::VARCHAR", 32)
    return f"""
  WITH p AS (
    SELECT c_custkey, ({hx} % 1000000)::BIGINT AS x,
           ({hy} % 1000000)::BIGINT AS y
    FROM customer
  )
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         ((a.x - b.x) * (a.x - b.x)
          + (a.y - b.y) * (a.y - b.y))::BIGINT AS dist2
  FROM p a JOIN p b ON a.c_custkey < b.c_custkey
  WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
        <= {_GRID_R} * {_GRID_R}
"""


QUERIES_ROUND4.update({
    "customer_radius_pairs": QuerySpec(
        q_customer_radius_pairs, _oracle_radius(),
        doc="grid-bucketed radius self-join (3×3 cell probe, exact "
            "integer verify; lossless vs naive all-pairs oracle)"),
})


# ---------------------------------------------------------------------------
# Sequence & warehouse analytics: transitions, RFM, weighted median
# ---------------------------------------------------------------------------


def q_event_transition_matrix(spark, sf_dir):
    """Markov transition matrix of event types: per user, adjacent
    (ts, event_id)-ordered event pairs roll up to global (from, to)
    counts with row-normalized probabilities (floor e6). ONE user
    exchange (the journey shape); transitions never cross users."""
    from pyspark.sql import Window
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (ev.select("user_id", "event_type",
                       F.lead("event_type").over(w).alias("next_type"))
               .where(F.col("next_type").isNotNull()))
    counts = (pairs.groupBy(F.col("event_type").alias("from_type"),
                            F.col("next_type").alias("to_type"))
                   .agg(F.count("*").alias("n")))
    w2 = Window.partitionBy("from_type")
    return counts.select(
        "from_type", "to_type", F.col("n").cast("long"),
        F.floor(F.col("n") * 1e6 / F.sum("n").over(w2)).cast("long")
         .alias("p_e6"))


ORACLE_TRANSITIONS = """
  WITH s AS (
    SELECT user_id, event_type,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS next_type
    FROM events
  ),
  c AS (
    SELECT event_type AS from_type, next_type AS to_type,
           count(*)::BIGINT AS n
    FROM s WHERE next_type IS NOT NULL
    GROUP BY from_type, to_type
  )
  SELECT from_type, to_type, n,
         floor(n * 1e6 / sum(n) OVER (PARTITION BY from_type))::BIGINT
           AS p_e6
  FROM c
"""


def q_customer_rfm(spark, sf_dir):
    """RFM segmentation: per customer, Recency (days since last
    order vs corpus max date), Frequency (order count), Monetary
    (total cents), each quintiled by ntile over a deterministic
    (metric, key) order — the classic warehouse customer-scoring
    query as three windows over one agg."""
    from pyspark.sql import Window
    o = _t(spark, sf_dir, "orders")
    per = (o.groupBy("o_custkey")
             .agg(F.max("o_orderdate").alias("last_dt"),
                  F.count("*").cast("long").alias("frequency"),
                  F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)
                        .cast("long")).alias("monetary_c")))
    mx = o.agg(F.max("o_orderdate").alias("mx"))
    per = (per.crossJoin(F.broadcast(mx))
              .select("o_custkey",
                      F.datediff("mx", "last_dt").cast("long")
                       .alias("recency_days"),
                      "frequency", "monetary_c"))
    # Round-9 (closes the round-8 audit's last corpus-sized
    # unpartitioned window): ntile's exact semantics over a
    # (metric, key) TOTAL order are a pure function of (rank, n) —
    # the first n%5 tiles hold ceil(n/5) rows, the rest floor(n/5) —
    # so each quintile is a distributed two-phase rank (dist_cumsum
    # of ones: parallel within-bucket windows + a 256-row offset
    # table; deterministic arithmetic range bucketing, no sampling)
    # plus closed-form bucket arithmetic. DESC metrics rank via
    # negation; ties broken by o_custkey exactly as before. The
    # DuckDB oracle still says ntile(5), which pins the closed form
    # bit-for-bit.
    from ..checkpoint import materialize
    from ..operators.scale import dist_cumsum
    # per feeds the three rank chains (each consuming it thrice via
    # dist_cumsum's bucket/agg/main paths) plus the n_tot aggregate —
    # materialize so the orders scan + per-customer agg run once
    per = materialize(per, "rfm_per_customer")
    ranked = per.withColumn("__one", F.lit(1).cast("long")) \
                .withColumn("__negf", -F.col("frequency")) \
                .withColumn("__negm", -F.col("monetary_c"))
    ranked = dist_cumsum(ranked, "recency_days", {"__r_rk": "__one"},
                         tie_cols=("o_custkey",))
    ranked = dist_cumsum(ranked, "__negf", {"__f_rk": "__one"},
                         tie_cols=("o_custkey",))
    ranked = dist_cumsum(ranked, "__negm", {"__m_rk": "__one"},
                         tie_cols=("o_custkey",))
    n_tot = per.agg(F.count("*").alias("__n"))
    out = ranked.crossJoin(F.broadcast(n_tot))

    def tile(rank_col: str):
        q = F.floor(F.col("__n") / 5)
        rem = F.col("__n") % 5
        cut = rem * (q + 1)
        r = F.col(rank_col)
        return (F.when(r <= cut, F.floor((r - 1) / (q + 1)) + 1)
                 .otherwise(rem + F.floor((r - cut - 1) / q) + 1)
                ).cast("long")

    return out.select(
        "o_custkey", "recency_days", "frequency", "monetary_c",
        tile("__r_rk").alias("r_quintile"),
        tile("__f_rk").alias("f_quintile"),
        tile("__m_rk").alias("m_quintile"))


ORACLE_RFM = """
  WITH per AS (
    SELECT o_custkey, max(o_orderdate) AS last_dt,
           count(*)::BIGINT AS frequency,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT
             AS monetary_c
    FROM orders GROUP BY o_custkey
  ),
  mx AS (SELECT max(o_orderdate) AS mx FROM orders)
  SELECT o_custkey,
         date_diff('day', last_dt::DATE, mx::DATE)::BIGINT
           AS recency_days,
         frequency, monetary_c,
         ntile(5) OVER (ORDER BY date_diff('day', last_dt::DATE,
                                           mx::DATE) ASC,
                        o_custkey ASC)::BIGINT AS r_quintile,
         ntile(5) OVER (ORDER BY frequency DESC, o_custkey ASC)::BIGINT
           AS f_quintile,
         ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey ASC)::BIGINT
           AS m_quintile
  FROM per, mx
"""


def q_weighted_median_price(spark, sf_dir):
    """Exact WEIGHTED median extended price per returnflag (weights =
    integer quantities): order by value, running weight vs half the
    total — the first value whose cumulative weight reaches half is
    the lower weighted median. Pure integer comparisons (2·cum ≥
    total — no halving division), one key shuffle + one window."""
    from pyspark.sql import Window
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
         .alias("price_c"),
        F.col("l_quantity").cast("long").alias("qty"))
    w = Window.partitionBy("l_returnflag").orderBy("price_c") \
              .rowsBetween(Window.unboundedPreceding, 0)
    t = Window.partitionBy("l_returnflag")
    cum = (li.groupBy("l_returnflag", "price_c")
             .agg(F.sum("qty").alias("w"))
             .withColumn("cum", F.sum("w").over(
                 Window.partitionBy("l_returnflag").orderBy("price_c")
                 .rowsBetween(Window.unboundedPreceding, 0)))
             .withColumn("tot", F.sum("w").over(t)))
    return (cum.where(F.col("cum") * 2 >= F.col("tot"))
               .groupBy("l_returnflag")
               .agg(F.min("price_c").alias("wmedian_c"),
                    F.max("tot").cast("long").alias("total_weight")))


ORACLE_WMEDIAN = """
  WITH g AS (
    SELECT l_returnflag,
           floor(l_extendedprice * 100 + 0.5)::BIGINT AS price_c,
           sum(l_quantity::BIGINT)::BIGINT AS w
    FROM lineitem GROUP BY l_returnflag, price_c
  ),
  c AS (
    SELECT l_returnflag, price_c, w,
           sum(w) OVER (PARTITION BY l_returnflag ORDER BY price_c
                        ROWS UNBOUNDED PRECEDING)::BIGINT AS cum,
           sum(w) OVER (PARTITION BY l_returnflag)::BIGINT AS tot
    FROM g
  )
  SELECT l_returnflag, min(price_c)::BIGINT AS wmedian_c,
         max(tot)::BIGINT AS total_weight
  FROM c WHERE cum * 2 >= tot GROUP BY l_returnflag
"""


def q_lang_id_confusion(spark, sf_dir):
    """Language-ID eval: confusion counts of the labeled lang column
    vs the n-gram detector — the model-eval query every curation
    pipeline runs before trusting a classifier gate."""
    docs = _t(spark, sf_dir, "documents")
    detected = text.lang_id(docs)
    return (detected.join(docs.select("doc_id", "lang"), "doc_id")
                    .groupBy(F.col("lang").alias("labeled"),
                             F.col("lang_pred"))
                    .agg(F.count("*").cast("long").alias("n")))


def _oracle_lang_confusion() -> str:
    from .queries import ORACLE_LANG
    return f"""
  WITH d AS ({ORACLE_LANG})
  SELECT doc.lang AS labeled, d.lang_pred, count(*)::BIGINT AS n
  FROM d JOIN documents doc USING (doc_id)
  GROUP BY labeled, d.lang_pred
"""


QUERIES_ROUND4.update({
    "event_transition_matrix": QuerySpec(
        q_event_transition_matrix, ORACLE_TRANSITIONS,
        doc="Markov event-type transition matrix (one user exchange, "
            "row-normalized probabilities e6)"),
    "customer_rfm": QuerySpec(
        q_customer_rfm, ORACLE_RFM,
        doc="RFM quintile segmentation (one agg + three ntile "
            "windows, deterministic tie-breaks)"),
    "weighted_median_price": QuerySpec(
        q_weighted_median_price, ORACLE_WMEDIAN,
        doc="exact weighted median per group (integer cumulative-"
            "weight threshold, no FP halving)"),
    "lang_id_confusion": QuerySpec(
        q_lang_id_confusion, _oracle_lang_confusion(),
        doc="language-ID confusion matrix (classifier eval gate)"),
})
