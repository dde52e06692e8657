"""Corpus-curation operators, round 3 (training-data-pipeline
extensions): benchmark decontamination, sequence packing, document
chunking, and DSIR-style importance weighting.

All four are the standard pretraining-corpus steps between raw text and
a training batch (cf. Gao et al. "The Pile", Xie et al. 2023 DSIR,
arXiv:2302.03169):

* decontamination  — drop training docs that share n-grams with an
  evaluation benchmark (the train/test-leak guard every released model
  documents);
* sequence packing — concatenate the corpus in a deterministic order
  and split into fixed-length token sequences (what the training loader
  actually feeds the model);
* chunking         — overlapping token windows per document (RAG-style
  and long-doc-splitting preprocessing);
* DSIR weighting   — per-document importance = mean log-ratio of
  target-domain vs raw unigram probabilities, used to resample a raw
  corpus toward a target distribution.

Scale shapes: the benchmark / vocabulary sides are orders of magnitude
smaller than the corpus and stay BROADCAST; the only wide exchanges
carry per-document rows (decon per-doc agg, packing's bucketed cumsum)
or token rows (DSIR's tokens→vocab join). Chunking is a pure map-side
projection — zero shuffles at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..checkpoint import materialize

from ..functions.scalar import stable_hash64
from .dedup import shingles
from .text import TOKENS_PREFER, tokens


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

def benchmark_overlap(train: DataFrame, bench: DataFrame,
                      text_col: str = "text", id_col: str = "doc_id",
                      n: int = 3) -> DataFrame:
    """Per training document: distinct n-gram shingle count, how many of
    those shingles appear anywhere in the benchmark set, how many
    distinct benchmark docs are hit, and the contamination ratio
    (floor-scaled e6). ``contaminated`` = shares ≥ 1 shingle.

    100 TB shape: the benchmark side (eval sets are 10³-10⁶ docs) is
    aggregated to (shingle-hash, bench-doc) pairs and BROADCAST; the
    train side streams its shingles through the broadcast join map-side,
    so the only wide exchange is the per-train-doc aggregation of match
    rows. Shingle join keys are 60-bit ``stable_hash64`` values — the
    shuffle/broadcast carries 8-byte keys, not n-gram strings.
    """
    tr = (shingles(train, text_col, id_col, n)
          .select(F.col(id_col), stable_hash64(F.col("sh")).alias("sh_h")))
    bn = (shingles(bench, text_col, id_col, n)
          .select(stable_hash64(F.col("sh")).alias("sh_h"),
                  F.col(id_col).alias("bench_doc")))
    joined = tr.join(F.broadcast(bn), "sh_h", "left")
    overlap_sh = F.when(F.col("bench_doc").isNotNull(), F.col("sh_h"))
    out = (joined.groupBy(id_col)
           .agg(F.count_distinct("sh_h").alias("n_shingles"),
                F.count_distinct(overlap_sh).alias("n_overlap"),
                F.count_distinct("bench_doc").alias("n_bench_docs")))
    return out.select(
        F.col(id_col), "n_shingles", "n_overlap", "n_bench_docs",
        F.floor(F.col("n_overlap") * F.lit(1_000_000) / F.col("n_shingles"))
         .cast("long").alias("contamination_e6"),
        (F.col("n_overlap") > 0).cast("long").alias("contaminated"))


# ---------------------------------------------------------------------------
# Sequence packing (concat-and-split)
# ---------------------------------------------------------------------------

def sequence_pack(df: DataFrame, id_col: str = "doc_id",
                  ntok_col: str = "n_tokens", seq_len: int = 64,
                  bucket: int = 1024) -> DataFrame:
    """Concat-and-split sequence packing: documents are laid end-to-end
    in ``id_col`` order; each doc gets its global token offset, the
    training-sequence id its first token lands in
    (``pack_id = offset // seq_len``), and how many sequences it spans.

    The global running offset is the one op here that is NOT a plain
    window: ``Window.orderBy(id)`` funnels the whole corpus through ONE
    task. Instead the cumsum is two-phase — docs are bucketed by
    ``id // bucket`` (deterministic, range-ordered, independent of row
    density), the within-bucket prefix sum runs as a parallel
    per-bucket window, and the bucket base offsets come from a
    bucket-totals table that is ~corpus/bucket rows (tiny — ITS global
    window is safe) and joins back via broadcast. Identical semantics
    to the single global window, verified by the oracle which uses the
    naive form.
    """
    b = F.floor(F.col(id_col) / F.lit(bucket)).alias("__b")
    inner_w = (Window.partitionBy("__b").orderBy(id_col)
               .rowsBetween(Window.unboundedPreceding, -1))
    inner = (df.select(F.col(id_col), F.col(ntok_col), b)
               .withColumn("__off_in",
                           F.coalesce(F.sum(ntok_col).over(inner_w),
                                      F.lit(0))))
    btot = inner.groupBy("__b").agg(F.sum(ntok_col).alias("__bt"))
    base_w = (Window.orderBy("__b")
              .rowsBetween(Window.unboundedPreceding, -1))
    base = btot.withColumn(
        "__boff", F.coalesce(F.sum("__bt").over(base_w), F.lit(0))) \
        .select("__b", "__boff")
    out = inner.join(F.broadcast(base), "__b")
    offset = (F.col("__boff") + F.col("__off_in")).alias("offset")
    pack_id = F.floor((F.col("__boff") + F.col("__off_in")) / seq_len)
    last_tok = F.col("__boff") + F.col("__off_in") + F.col(ntok_col) - 1
    end_pack = F.when(F.col(ntok_col) > 0, F.floor(last_tok / seq_len)) \
                .otherwise(pack_id)
    return out.select(
        F.col(id_col), F.col(ntok_col).cast("long").alias("n_tokens"),
        offset.cast("long"),
        pack_id.cast("long").alias("pack_id"),
        (end_pack - pack_id + 1).cast("long").alias("n_packs_spanned"))


# ---------------------------------------------------------------------------
# Document chunking
# ---------------------------------------------------------------------------

def chunk_tokens(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", chunk_size: int = 32,
                 stride: int = 24) -> DataFrame:
    """Overlapping token-window chunks per document: windows start at
    token 1, 1+stride, 1+2·stride, … ≤ n_tokens; each takes up to
    ``chunk_size`` tokens (the tail window may be shorter). Token-less
    documents drop out (unnest semantics, mirrored by the oracle).

    Pure map-side array program (tokens → sequence of starts →
    transform/slice → posexplode): ZERO shuffles at any corpus size;
    the output is ~n/stride rows per doc and goes straight to the sink
    or the next operator.
    """
    ex = _token_windows(df, text_col, id_col, chunk_size, stride)
    return ex.select(
        F.col(id_col), F.col("__pos").cast("long").alias("chunk_no"),
        F.concat_ws(" ", F.col("__seg")).alias("chunk_text"),
        F.size("__seg").cast("long").alias("n_chunk_tokens"))


def _token_windows(df: DataFrame, text_col: str, id_col: str,
                   size: int, stride: int) -> DataFrame:
    """Shared token-window segmentation (tokens → sequence of starts →
    transform/slice → posexplode): one row per window with position
    ``__pos`` and token-array ``__seg``.  Token-less documents drop
    out (unnest semantics).  The split expression lives HERE only —
    chunk_tokens and line_dedup both consume it, so a change to the
    segmentation (e.g. real newline-based lines) happens once."""
    bound = df.select(F.col(id_col),
                      tokens(text_col).alias("__w"))
    w, n = F.col("__w"), F.size(F.col("__w"))
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(stride))) \
              .otherwise(F.array().cast("array<int>"))
    segs = F.transform(starts, lambda s: F.slice(w, s, size))
    return bound.select(F.col(id_col),
                        F.posexplode(segs).alias("__pos", "__seg"))


# ---------------------------------------------------------------------------
# DSIR-style importance weighting
# ---------------------------------------------------------------------------

def dsir_logratio(df: DataFrame, target_cond, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169), unigram instantiation: score every document by
    the mean log-ratio of target-domain vs raw-corpus token
    probabilities — documents that look like the target domain score
    high and are kept/up-sampled when the raw corpus is resampled.

    ``target_cond`` is a boolean Column marking the target-domain rows
    inside ``df`` (in production a separate curated corpus; the math is
    identical). Probabilities are add-one smoothed over the SHARED
    vocabulary so raw-only tokens stay finite:
    ``p_t(w) = (tf_t(w)+1) / (T+V)``, ``p_r(w) = (tf_r(w)+1) / (R+V)``.

    One tokenize pass feeds a single vocabulary aggregate computing both
    tf columns (the target side is a conditional sum, not a second
    scan); the vocabulary and its 1-row totals stay BROADCAST — the only
    wide exchanges carry token rows and per-doc rows, the 100 TB shape
    shared with tfidf_top_terms / unigram_logprob.

    Determinism: the per-token log-ratio is floor-quantized to 1e-9
    fixed point BEFORE the per-document sum, so the sum is exact
    BIGINT — order-insensitive across partitionings and engines.  A
    raw ``avg(double)`` here would float with the partial-aggregate
    merge order, and a doc on a floor(avg·1e6) boundary could flip its
    resampling decision between runs.  (The remaining cross-engine
    surface is ln() itself at an exact 1e-9 boundary — ~10⁻⁹ per
    token, versus the accumulated-rounding boundary the quantized sum
    removes.)
    """
    marked = df.select(F.col(id_col), F.col(text_col),
                       target_cond.cast("long").alias("__is_t"))
    toks = marked.select(
        F.col(id_col), F.col("__is_t"),
        F.explode(tokens(text_col)).alias("term")).transform(
        materialize, "dsir_tokens", prefer=TOKENS_PREFER)
    vocab = (toks.groupBy("term")
                 .agg(F.count("*").alias("__tf_r"),
                      F.sum("__is_t").alias("__tf_t")))
    tot = vocab.agg(F.sum("__tf_r").alias("__R"),
                    F.sum("__tf_t").alias("__T"),
                    F.count("*").alias("__V"))
    lr = F.log((F.col("__tf_t") + 1) / (F.col("__T") + F.col("__V"))) \
        - F.log((F.col("__tf_r") + 1) / (F.col("__R") + F.col("__V")))
    lr_e9 = F.floor(lr * 1e9).cast("long")
    scored = (toks.join(F.broadcast(vocab), "term")
                  .crossJoin(F.broadcast(tot))
                  .groupBy(id_col)
                  .agg(F.count("*").alias("n_tokens"),
                       F.sum(lr_e9).alias("__sum_e9"),
                       F.max("__is_t").alias("is_target"))
                  .withColumn(
                      "dsir_logratio_e6",
                      F.floor(F.col("__sum_e9")
                              / (F.col("n_tokens") * 1000)).cast("long")))
    return (marked.select(F.col(id_col), F.col("__is_t"))
            .join(scored, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                     .alias("n_tokens"),
                    F.coalesce("dsir_logratio_e6", F.lit(0)).cast("long")
                     .alias("dsir_logratio_e6"),
                    F.col("__is_t").cast("long").alias("is_target")))


# ---------------------------------------------------------------------------
# Deterministic global corpus shuffle
# ---------------------------------------------------------------------------

def corpus_shuffle(df: DataFrame, id_col: str = "doc_id",
                   seed: int = 7, shift: int = 50) -> DataFrame:
    """Deterministic global training-order shuffle: every document gets
    a dense position 0..n-1 in ``(stable_hash64(id), id)`` order — the
    reproducible random permutation a training loader reads the corpus
    in (same seed → same order on any cluster, any partitioning).

    A naive ``row_number() OVER (ORDER BY hash)`` funnels the corpus
    through ONE task.  Instead the 60-bit hash's top bits
    (``hash >> shift``, 1024 range-ordered buckets at the default) form
    the range partition: within-bucket ranks run as parallel windows,
    bucket base offsets come from the tiny bucket-counts table (its own
    global window is over ≤2^(60-shift) rows), and positions are
    ``base + intra`` — bit-identical to the naive form because the
    bucket id is a PREFIX of the sort key."""
    h = stable_hash64(F.col(id_col).cast("string"), seed)
    marked = df.select(F.col(id_col), h.alias("__h"),
                       F.shiftright(h, shift).alias("__b"))
    intra_w = Window.partitionBy("__b").orderBy("__h", id_col)
    intra = marked.withColumn(
        "__r", F.row_number().over(intra_w).cast("long") - 1)
    counts = marked.groupBy("__b").agg(F.count("*").alias("__n"))
    base_w = (Window.orderBy("__b")
              .rowsBetween(Window.unboundedPreceding, -1))
    base = counts.withColumn(
        "__base", F.coalesce(F.sum("__n").over(base_w), F.lit(0))) \
        .select("__b", "__base")
    return (intra.join(F.broadcast(base), "__b")
            .select(F.col(id_col),
                    (F.col("__base") + F.col("__r")).cast("long")
                    .alias("shuffle_pos")))


# ---------------------------------------------------------------------------
# Corpus-wide line-level dedup (C4 / RefinedWeb style)
# ---------------------------------------------------------------------------

def line_dedup(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", line_tokens: int = 8) -> DataFrame:
    """Remove duplicate LINES across the whole corpus, keeping each
    line's first occurrence (C4's "discard repeated three-sentence
    spans" / RefinedWeb's exact line dedup — boilerplate removal at
    sub-document granularity).  The fixtures' text has no newlines, so
    a "line" is a fixed ``line_tokens``-token segment; with real text
    the split expression is the only thing that changes.

    First occurrence = the lexicographically smallest (doc_id, line_no)
    among identical lines — a total order, so the keeper is unique and
    deterministic.  Per document: the reassembled text (kept lines in
    original order), total and removed line counts.

    100 TB shape: lines shuffle ONCE keyed by their 60-bit content
    hash (8-byte keys, not text) for the argmin; the keeper set joins
    back on the same key (exchange reuse), and reassembly shuffles
    per-document rows keyed by id.  No broadcast of anything
    corpus-sized, no all-pairs anywhere."""
    lines = (_token_windows(df, text_col, id_col,
                            line_tokens, line_tokens)
             .select(F.col(id_col), F.col("__pos").alias("line_no"),
                     F.concat_ws(" ", F.col("__seg"))
                      .alias("line_text")))
    lines = lines.withColumn("__h", stable_hash64(F.col("line_text")))
    keeper = (lines.groupBy("__h")
                   .agg(F.min(F.struct(F.col(id_col).alias("d"),
                                       F.col("line_no").alias("l")))
                         .alias("__keep")))
    marked = (lines.join(keeper, "__h")
                   .withColumn("__kept",
                               (F.col(id_col) == F.col("__keep.d"))
                               & (F.col("line_no") == F.col("__keep.l"))))
    kept_struct = F.when(F.col("__kept"),
                         F.struct("line_no", "line_text"))
    return (marked.groupBy(id_col)
            .agg(F.count("*").cast("long").alias("n_lines"),
                 F.sum((~F.col("__kept")).cast("long")).alias("n_removed"),
                 F.concat_ws(" ", F.transform(
                     F.array_sort(F.collect_list(kept_struct)),
                     lambda s: s.line_text)).alias("clean_text")))


# ---------------------------------------------------------------------------
# DSIR importance resampling (deterministic)
# ---------------------------------------------------------------------------

def dsir_resample(df: DataFrame, target_cond, text_col: str = "text",
                  id_col: str = "doc_id", seed: int = 11) -> DataFrame:
    """Deterministic importance RESAMPLING on top of
    :func:`dsir_logratio`: each document's acceptance probability is a
    linear squash of its log-ratio weight —
    ``p_e6 = clamp(500000 + floor(lr_e6/4), 0, 1e6)`` — and the accept
    decision is ``hash(id) mod 1e6 < p_e6``.  Target-like documents
    (positive weight) keep >50% acceptance, raw-like documents decay
    toward 0 — the resample-toward-target step of DSIR, made
    reproducible: same seed → same corpus on any cluster, any
    partitioning, any engine (the paper's Gumbel top-k draw needs a
    random source; the hash IS the random source here, exactly like
    the deterministic sampler in operators/sampling).

    All integer math after the weight (floor-div, clamp, mod) — the
    oracle reproduces the accept set bit-for-bit.  Zero extra shuffles
    beyond dsir_logratio's own: the squash/accept is map-side."""
    ds = dsir_logratio(df, target_cond, text_col, id_col)
    p = F.greatest(
        F.lit(0),
        F.least(F.lit(1_000_000),
                F.lit(500_000)
                + F.floor(F.col("dsir_logratio_e6") / 4))).cast("long")
    h = stable_hash64(F.col(id_col).cast("string"), seed)
    return (ds.withColumn("p_accept_e6", p)
              .where(F.pmod(h, F.lit(1_000_000)) < F.col("p_accept_e6"))
              .select(F.col(id_col), "n_tokens", "dsir_logratio_e6",
                      "p_accept_e6", "is_target"))


def priority_sample(df: DataFrame, n: int = 100,
                    weight_col: str = "n_chars",
                    id_col: str = "doc_id", seed: int = 7) -> DataFrame:
    """Weighted sampling without replacement via PRIORITY SAMPLING
    (Duffield, Lund, Thorup 2007): each row gets priority ``w / u``
    with ``u`` uniform in (0, 1]; the n highest priorities are the
    sample. Higher-weight rows are proportionally likelier to be
    kept — the weighted counterpart of the 10pct hash sample, used to
    oversample long/high-quality documents in a curation mix.

    Determinism and cross-engine exactness: ``u`` is derived from
    ``stable_hash64`` — ``u = ((h mod 2^53) + 1) / 2^53`` is ONE exact
    IEEE division (numerator ≤ 2^53 is exactly representable), and the
    priority ``w / u`` is one more — two IEEE ops, bit-identical in
    any engine, no RNG state. The emitted columns stay integral
    (rank, id, weight, u's integer numerator) so the driver hash never
    touches a double.

    Scale shape: ZERO shuffles beyond the global top-n —
    ``orderBy().limit(n)`` plans as TakeOrderedAndProject (each
    partition keeps n rows, the driver merges n·partitions), the same
    bound as any top-k at 100 TB."""
    h = stable_hash64(F.col(id_col).cast("string"), seed)
    u_num = F.pmod(h, F.lit(2 ** 53)) + 1
    u = u_num.cast("double") / F.lit(float(2 ** 53))
    priority = F.col(weight_col).cast("double") / u
    ranked = (df.select(F.col(id_col),
                        F.col(weight_col).cast("long").alias("weight"),
                        u_num.cast("long").alias("u_num"),
                        priority.alias("__p"))
                .orderBy(F.col("__p").desc(), F.col(id_col).asc())
                .limit(n))
    from pyspark.sql import Window
    w = Window.orderBy(F.col("__p").desc(), F.col(id_col).asc())
    return (ranked.withColumn("rank", F.row_number().over(w).cast("long"))
                  .select("rank", id_col, "weight", "u_num"))


def temperature_mix(df: DataFrame, source_col: str = "source",
                    alpha_num: int = 7,
                    alpha_den: int = 10) -> DataFrame:
    """Temperature-based source mixing weights for multilingual/
    multi-domain training (the ``p_s ∝ n_s^α`` rule, α = 0.7 per
    mT5/XLM-R): up-weights small sources, down-weights dominant ones.

    Exactness: each source's raw weight ``n^α = exp(α·ln n)`` is
    QUANTIZED to an e6 BIGINT immediately (one exp/ln pair per SOURCE,
    not per row); the normalizing total is then an INTEGER sum —
    summing the raw doubles instead would tie the result to the
    aggregate's merge order. Output also carries the exact doc count
    and the effective per-doc sampling factor ×e6.

    Scale: one count-by-source agg (map-side partials), then a
    |sources|-row projection — nothing else touches the corpus.
    """
    alpha = F.lit(alpha_num) / F.lit(alpha_den)
    counts = (df.groupBy(F.col(source_col).alias("source"))
              .agg(F.count("*").cast("long").alias("n_docs")))
    w = counts.select(
        "source", "n_docs",
        F.floor(F.exp(alpha * F.log(F.col("n_docs").cast("double")))
                * F.lit(1_000_000)).cast("long").alias("w_e6"))
    from pyspark.sql import Window
    total = F.sum("w_e6").over(Window.partitionBy())  # |sources| rows
    n_total = F.sum("n_docs").over(Window.partitionBy())
    return w.select(
        "source", "n_docs", "w_e6",
        F.floor(F.col("w_e6") * F.lit(1_000_000) / total)
         .cast("long").alias("share_e6"),
        # sampling factor: share / natural share, ×e6
        F.floor((F.col("w_e6") * F.lit(1_000_000) / total)
                * n_total / F.col("n_docs"))
         .cast("long").alias("boost_e6"))


TRIPLET_BUCKETS = 16


def contrastive_triplets(docs: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         a_col: str = "doc_a", b_col: str = "doc_b",
                         buckets: int = TRIPLET_BUCKETS) -> DataFrame:
    """(anchor, positive, negative) triplet mining for embedding-model
    training: positives are verified near-duplicate pairs (any pair
    source — MinHash, SimHash, embedding near-dup), negatives are
    drawn DETERMINISTICALLY by a bucket-chain rule:

      the corpus folds to ``buckets`` rows (min doc id per stable-hash
      bucket, broadcast everywhere); each anchor probes buckets
      ``(h(anchor)+1..+3) mod B`` in order and takes the first
      representative that is neither the anchor nor the positive
      (-1 if all three collide — bounded, never silent).

    Hash-derived ⇒ reproducible across engines/runs/partitionings
    (no RNG), and scale-free: the negative table is B rows however
    large the corpus; mining cost is the pair count, not pairs×docs
    (the naive "argmin over all docs per anchor" negative rule is a
    quadratic join — this is the broadcast-sized contract that
    replaces it).
    """
    from ..functions.scalar import stable_hash64
    if buckets & (buckets - 1):
        raise ValueError("buckets must be a power of two")
    h = stable_hash64(F.col(id_col).cast("string"))
    bmin = (docs.select(h.bitwiseAND(F.lit(buckets - 1)).alias("b"),
                        F.col(id_col).alias("cand"))
            .groupBy("b").agg(F.min("cand").alias("cand")))
    anchor_h = stable_hash64(F.col(a_col).cast("string"))
    t = pairs.select(F.col(a_col).alias("anchor"),
                     F.col(b_col).alias("positive"),
                     anchor_h.alias("ah"))
    for i in (1, 2, 3):
        bi = bmin.select(
            (F.col("b")).alias(f"tb{i}"), F.col("cand").alias(f"c{i}"))
        t = t.join(F.broadcast(bi),
                   (F.col("ah") + i).bitwiseAND(F.lit(buckets - 1))
                   == F.col(f"tb{i}"), "left")

    def ok(i):
        c = F.col(f"c{i}")
        return c.isNotNull() & (c != F.col("anchor")) \
            & (c != F.col("positive"))

    neg = (F.when(ok(1), F.col("c1"))
            .when(ok(2), F.col("c2"))
            .when(ok(3), F.col("c3"))
            .otherwise(F.lit(-1)))
    return t.select("anchor", "positive",
                    neg.cast("long").alias("negative"))


def target_encode(fact: DataFrame, dim: DataFrame, key: str,
                  cat_col: str, val, m: int = 10) -> DataFrame:
    """Smoothed target (mean) encoding of a categorical column — the
    leakage-safe feature every tabular training pipeline derives from
    a fact table: ``enc(c) = (Σ_c y + m·ȳ) / (n_c + m)``, shrinking
    rare categories toward the global mean.

    Exactness: per-category and global sums accumulate as BIGINT cents
    (no FP merge-order nondeterminism); the one smoothing division
    runs per CATEGORY (|categories| rows) on a pinned double tree,
    floored at e6.

    Plan shape: fact ⋈ dim on the key (bucket/co-partition both at
    warehouse scale), one |categories|-row agg, global moments via a
    window over that tiny aggregate — the fact table is scanned once
    and never re-shuffled.
    """
    from pyspark.sql import Window
    y = val.alias("y_cents")
    j = fact.join(dim.select(key, cat_col), key).select(
        F.col(cat_col).alias("cat"), y)
    per_cat = j.groupBy("cat").agg(
        F.count("*").cast("long").alias("n_cat"),
        F.sum("y_cents").cast("long").alias("sum_cents"))
    tot = Window.partitionBy()
    t = per_cat.select(
        "cat", "n_cat", "sum_cents",
        F.sum("n_cat").over(tot).alias("n_all"),
        F.sum("sum_cents").over(tot).alias("sum_all"))
    gmean = F.col("sum_all").cast("double") / F.col("n_all").cast("double")
    enc = ((F.col("sum_cents").cast("double") + F.lit(float(m)) * gmean)
           / (F.col("n_cat").cast("double") + F.lit(float(m))))
    return t.select(
        F.col("cat").alias(cat_col), "n_cat", "sum_cents",
        F.floor(enc * 1e6).cast("long").alias("enc_cents_e6")
    ).orderBy(cat_col)


def curriculum_order(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", seed: int = 11,
                     shift: int = 50) -> DataFrame:
    """Curriculum training order: documents sorted easiest-first by
    quality band (highest heuristic quality = band 0), shuffled
    DETERMINISTICALLY within each band — the quality-staged loader
    order (curriculum learning, Bengio et al. 2009) with
    :func:`corpus_shuffle`'s reproducibility guarantees.

    Global positions use the same two-phase rank: the range partition
    is (band, top hash bits), so within-partition row_numbers run in
    parallel and bucket base offsets come from a tiny totals table —
    bit-identical to a naive global ``row_number() OVER (ORDER BY
    band, hash, id)`` (which would funnel the corpus through one
    task, and which the oracle uses)."""
    from ..operators.text import quality_score
    from ..functions.scalar import stable_hash64
    q = quality_score(df, text_col, id_col).select(
        F.col(id_col), F.col("quality"))
    h = stable_hash64(F.col(id_col).cast("string"), seed)
    marked = q.select(
        F.col(id_col), F.col("quality"), h.alias("__h"),
        F.expr("(100 - quality) div 10").alias("__band"))
    marked = marked.withColumn("__b", F.shiftright(F.col("__h"), shift))
    intra_w = Window.partitionBy("__band", "__b").orderBy("__h", id_col)
    intra = marked.withColumn(
        "__r", F.row_number().over(intra_w).cast("long") - 1)
    counts = marked.groupBy("__band", "__b").agg(
        F.count("*").alias("__n"))
    base_w = (Window.orderBy("__band", "__b")
              .rowsBetween(Window.unboundedPreceding, -1))
    base = counts.withColumn(
        "__base", F.coalesce(F.sum("__n").over(base_w), F.lit(0))) \
        .select("__band", "__b", "__base")
    return (intra.join(F.broadcast(base), ["__band", "__b"])
            .select(F.col(id_col), F.col("quality"),
                    (F.col("__base") + F.col("__r")).cast("long")
                    .alias("curriculum_pos")))


def packing_fill_histogram(df: DataFrame, id_col: str = "doc_id",
                           ntok_col: str = "n_tokens",
                           seq_len: int = 64,
                           bucket: int = 1024) -> DataFrame:
    """Fill-ratio audit of concat-and-split packing: exact token
    count landing in every training sequence (docs spanning several
    sequences contribute their interval overlap), then the histogram
    of per-sequence fill — the padding-waste dashboard behind
    :func:`sequence_pack` (a full pack holds exactly ``seq_len``).

    The span explode is bounded: a doc emits ceil(n/seq_len)+1 rows.
    All arithmetic is integer interval overlap — exact on any
    engine."""
    sp = sequence_pack(df, id_col, ntok_col, seq_len, bucket)
    spans = sp.where(F.col("n_tokens") > 0).select(
        "offset", "n_tokens",
        F.explode(F.sequence(
            F.col("pack_id"),
            F.col("pack_id") + F.col("n_packs_spanned") - 1))
        .alias("pack"))
    lo = F.greatest(F.col("offset"), F.col("pack") * seq_len)
    hi = F.least(F.col("offset") + F.col("n_tokens"),
                 (F.col("pack") + 1) * seq_len)
    per_pack = (spans.select("pack", (hi - lo).alias("fill"))
                .groupBy("pack")
                .agg(F.sum("fill").cast("long").alias("fill_tokens")))
    return (per_pack.groupBy("fill_tokens")
            .agg(F.count("*").cast("long").alias("n_packs"))
            .orderBy("fill_tokens"))


def token_budget_allocation(df: DataFrame, text_col: str = "text",
                            source_col: str = "source",
                            budget_num: int = 1, budget_den: int = 2,
                            max_epochs: int = 4,
                            alpha_num: int = 7,
                            alpha_den: int = 10) -> DataFrame:
    """Training token-budget allocator: split a total budget of
    ``total·budget_num/budget_den`` tokens across sources by
    temperature weights (n^α, α=0.7), capping any source at
    ``max_epochs`` passes over its data — the concrete mixing plan a
    pretraining run executes (DoReMi/mT5-style weighting with an
    epoch cap instead of unbounded upsampling).

    Exactness: per-source token counts are exact integers; each n^α
    is quantized to an e6 BIGINT immediately (one exp/ln per source,
    the temperature_mix rule); everything after — the normalizing
    total, the budget share, the epoch cap, the e2 epoch factor — is
    integer arithmetic (positive-operand div).  The budget is a
    FRACTION of the corpus so the operator is scale-free.  One
    agg over the corpus, then a |sources|-row plan."""
    alpha = F.lit(alpha_num) / F.lit(alpha_den)
    toks = df.select(
        F.col(source_col).alias("source"),
        F.size(tokens(text_col)).cast("long").alias("nt"))
    per = toks.groupBy("source").agg(F.sum("nt").alias("n_tokens"))
    w = per.select(
        "source", "n_tokens",
        F.floor(F.exp(alpha * F.log(F.col("n_tokens").cast("double")))
                * F.lit(1_000_000)).cast("long").alias("w_e6"))
    tot_w = F.sum("w_e6").over(Window.partitionBy())
    tot_n = F.sum("n_tokens").over(Window.partitionBy())
    dec = "decimal(38,0)"
    sized = w.select(
        "source", "n_tokens", "w_e6",
        tot_w.alias("tw"),
        (tot_n * F.lit(budget_num)).alias("bnum"))
    raw = F.expr(f"(CAST(bnum AS {dec}) * CAST(w_e6 AS {dec})) div "
                 f"(CAST(tw AS {dec}) * {budget_den})")
    alloc = F.least(raw.cast("long"),
                    F.col("n_tokens") * F.lit(max_epochs))
    planned = sized.select("source", "n_tokens", "w_e6",
                           alloc.alias("alloc_tokens"))
    return (planned.select(
        "source", "n_tokens", "w_e6", "alloc_tokens",
        F.expr(f"(CAST(alloc_tokens AS {dec}) * 100) div "
               f"CAST(n_tokens AS {dec})").cast("long")
         .alias("epochs_e2"))
            .orderBy("source"))


# ---------------------------------------------------------------------------
# Per-source boilerplate strip (frequency-based, remove ALL instances)
# ---------------------------------------------------------------------------

def boilerplate_strip(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", source_col: str = "source",
                      line_tokens: int = 8, min_docs: int = 2) -> DataFrame:
    """Per-source boilerplate census: a "line" (fixed token segment,
    same convention as :func:`line_dedup`) that appears in at least
    ``min_docs`` DISTINCT documents of the same source is boilerplate
    (headers/footers/nav chrome — RefinedWeb/CCNet strip these by
    per-domain frequency, unlike line_dedup's corpus-wide keep-first).
    Returns the per-source removal report a strip job would act on:
    doc count, total segment instances, distinct boilerplate segments,
    instances and characters removed, and the removed fraction at e6.

    100 TB shape: segments shuffle ONCE keyed by (source, 60-bit
    content hash) — 8-byte-ish keys, not text; the two-level aggregate
    (per-segment census → per-source rollup) is all map-side-combined;
    no joins back to the corpus, no broadcast of anything
    corpus-sized. NULL-source docs are their own group, as in the
    mixing planner."""
    bound = df.select(F.col(id_col),
                      F.col(source_col).alias("src"),
                      tokens(text_col).alias("__w"))
    w, n = F.col("__w"), F.size(F.col("__w"))
    starts = F.when(n > 0, F.sequence(F.lit(1), n, F.lit(line_tokens))) \
              .otherwise(F.array().cast("array<int>"))
    segs = F.transform(starts, lambda s: F.slice(w, s, line_tokens))
    lines = (bound.select(F.col(id_col), "src",
                          F.explode(segs).alias("__seg"))
             .select(F.col(id_col), "src",
                     F.concat_ws(" ", F.col("__seg")).alias("__t")))
    per_seg = (lines
               .select(F.col(id_col), "src",
                       stable_hash64(F.col("__t")).alias("__h"),
                       F.length("__t").cast("long").alias("__len"))
               .groupBy("src", "__h")
               .agg(F.countDistinct(id_col).cast("long").alias("df_docs"),
                    F.count("*").cast("long").alias("inst"),
                    F.sum("__len").cast("long").alias("chars")))
    totals = per_seg.groupBy("src").agg(
        F.sum("inst").cast("long").alias("n_segments"),
        F.sum("chars").cast("long").alias("n_chars"))
    boiler = (per_seg.where(F.col("df_docs") >= min_docs)
              .groupBy("src")
              .agg(F.count("*").cast("long").alias("boiler_segments"),
                   F.sum("inst").cast("long").alias("removed_instances"),
                   F.sum("chars").cast("long").alias("removed_chars")))
    return (totals.join(boiler, "src", "left")
            .select(F.col("src").alias(source_col), "n_segments", "n_chars",
                    F.coalesce("boiler_segments", F.lit(0)).cast("long")
                     .alias("boiler_segments"),
                    F.coalesce("removed_instances", F.lit(0)).cast("long")
                     .alias("removed_instances"),
                    F.coalesce("removed_chars", F.lit(0)).cast("long")
                     .alias("removed_chars"),
                    F.floor(F.coalesce("removed_instances", F.lit(0))
                            .cast("double") * F.lit(1000000.0)
                            / F.col("n_segments").cast("double"))
                    .cast("long").alias("removed_frac_e6")))
