"""Deduplication operators (training-data-pipeline extensions).

Four tiers, cheapest first — the standard web-scale dedup ladder:

1. exact       — hash-groupBy on normalized text (one shuffle).
2. simhash     — 60-bit signature, banded LSH candidates, Hamming verify.
3. minhash-LSH — shingle → k minhashes → banded buckets → Jaccard verify.
4. embedding   — cosine near-dup (operators/similarity.py).

Every hash is the cross-engine md5-based ``stable_hash64`` so the
DuckDB oracle reproduces candidates bit-for-bit (functions/scalar.py).

Scale notes: the only shuffles are groupBy(shingle-hash/band) and the
candidate-pair join — both key-partitioned; no all-pairs product ever
materializes (band blocking bounds candidates). Shingle explosion is
the big intermediate (docs × ~tokens rows) but it is map-side generated
and immediately partially aggregated.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..checkpoint import materialize, materialize_counted
from ..functions.scalar import stable_hash64
from .text import tokens

MINHASH_K = 16          # signature length
MINHASH_BANDS = 4       # 4 bands × 4 rows
SIMHASH_BITS = 60       # stable_hash64 yields 60 usable bits
SIMHASH_BAND_BITS = 12  # 5 bands of 12 bits
CC_BROADCAST_MAX_EDGES = 4_000_000  # label-table broadcast gate (CC)
# Shingle-count gate for staging the MinHash signature table (see
# minhash_near_duplicates): the barrier loses at sf0.1 and wins past
# ~1M shingles.
MINHASH_SIG_MAT_MIN_SHINGLES = 1_000_000


def exact_duplicates(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact dedup by text: per distinct text, keeper id (min), dup
    count. Group key is the md5 of the text, not the text itself, so
    the shuffle carries 16-byte keys instead of full documents."""
    return (df
            .select(F.col(id_col), F.md5(F.col(text_col)).alias("text_md5"))
            .groupBy("text_md5")
            .agg(F.min(id_col).alias("keeper_id"),
                 F.count("*").alias("n_copies"))
            .where(F.col("n_copies") > 1))


def shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (lowercased).
    Documents shorter than n words contribute their whole text as one
    shingle. Array-native generation (sequence + transform) — no UDF,
    no explode-before-shingle blowup.

    The token array is bound to a projected column FIRST: higher-order
    functions are interpreted (outside codegen's subexpression
    elimination), so inlining split() into each element_at would
    re-tokenize the document once per shingle position — a measured
    ~8× slowdown of the whole pipeline.

    Dedup is per-document, so it happens MAP-SIDE via array_distinct
    before the explode — a row-level .distinct() here would shuffle the
    largest intermediate in the whole dedup pipeline (docs × shingles)
    for nothing."""
    bound = df.select(F.col(id_col), tokens(text_col).alias("__w"))
    w = F.col("__w")
    k = F.size(w)
    idx = F.sequence(F.lit(1), k - F.lit(n - 1))  # 1-based start positions
    grams = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]))
    arr = F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", w)))
    return bound.select(F.col(id_col),
                        F.explode(F.array_distinct(arr)).alias("sh"))


def xor_salts(k: int = MINHASH_K) -> list[int]:
    """k deterministic 60-bit constants (md5-derived, engine-neutral)
    defining the xor-permutation minhash family h_i(x) = base(x) ^ c_i.
    c_0 = 0 so h_0 is the unsalted base hash."""
    import hashlib
    return [0] + [
        int(hashlib.md5(f"minhash-salt:{i}".encode()).hexdigest()[:15], 16)
        for i in range(1, k)
    ]


def minhash_signatures(sh: DataFrame, id_col: str = "doc_id",
                       k: int = MINHASH_K) -> DataFrame:
    """k minhashes per doc: min over shingles of the xor-permuted base
    hash (h_i = stable_hash64(sh) ^ salt_i). One md5 per shingle row —
    not k — then k cheap xors; one partial+final hash-agg. The xor
    family is the standard cheap minhash permutation approximation
    (bits are permuted, order statistics preserved per-salt)."""
    salts = xor_salts(k)
    base = stable_hash64(F.col("sh"), seed=0)
    bound = sh.select(F.col(id_col), base.alias("__b"))
    aggs = [F.min(F.col("__b").bitwiseXOR(F.lit(salts[i]))).alias(f"h{i}")
            for i in range(k)]
    return bound.groupBy(id_col).agg(*aggs)


def _band_hash(cols: list[Column]) -> Column:
    return F.md5(F.concat_ws(",", *cols))


def minhash_bands(sig: DataFrame, id_col: str = "doc_id",
                  k: int = MINHASH_K, bands: int = MINHASH_BANDS) -> DataFrame:
    """LSH banding: hash each band of the signature; docs sharing any
    (band_id, band_hash) become candidates.

    Single-pass: bands are emitted via posexplode of one array column —
    a union-of-selects would re-run the whole signature pipeline once
    per band (a 4× recompute observed in bench)."""
    rows = k // bands
    band_arr = F.array(*[
        _band_hash([F.col(f"h{i}") for i in range(b * rows, (b + 1) * rows)])
        for b in range(bands)
    ])
    return sig.select(
        F.col(id_col),
        F.posexplode(band_arr).alias("band", "band_hash"))


def candidate_pairs(bands_df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Self-join band buckets → distinct ordered candidate pairs."""
    a = bands_df.select(F.col("band"), F.col("band_hash"),
                        F.col(id_col).alias("doc_a"))
    b = bands_df.select(F.col("band"), F.col("band_hash"),
                        F.col(id_col).alias("doc_b"))
    return (a.join(b, ["band", "band_hash"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b")
             .distinct())


def dense_ids(values: DataFrame, col: str | list[str],
              materialize_ranked: bool = True) -> DataFrame:
    """Assign dense 1..n integer ids to a DISTINCT value column
    without ever sorting the whole column in one task (the classic
    distributed dense rank): range-partition, sort WITHIN each
    partition (each sort task touches only its slice), then add
    per-partition offsets from a partition-count cumsum — the only
    unpartitioned window runs over ``nparts`` rows, not n.

    The per-partition rank costs NO second exchange (ADVICE r9: the
    earlier ``Window.partitionBy(spark_partition_id())`` form
    re-hashed the already-colocated vocabulary by pid, doubling its
    shuffle volume): ``monotonically_increasing_id`` over the sorted
    partition already encodes (partition index << 33) + a sequential
    in-partition counter, so pid and rank are two bit-ops on one
    codegen'd column — range exchange, in-partition sort, projection,
    all one stage.  Measured (driver protocol local[32], synthetic
    distinct ~48-char strings, reps=3): 5M vocab 2.89 s -> 1.57 s
    median; 20M vocab 41.8 s -> 12.4 s median /
    7.6 s -> 6.7 s min (co-tenant spread at 20M; new wins at every
    size by every statistic).

    Deterministic per evaluation (ranks are value-ordered), but range
    boundaries are sampled per physical exchange, so two independent
    evaluations may assign different (equally valid) bijections —
    materialize the result (or its consumer) when more than one
    branch must agree on the mapping, as the n-gram Jaccard kernels
    do.
    ``col`` may be a LIST of columns — the id then ranks the tuple
    lexicographically (range partitioning and the in-partition sort
    both take the column list), which is how the suffix-rank prefix
    doubling ranks (rank, next_rank) pairs without packing them into
    one overflow-prone long.
    Returns ``(*cols, __sid)``.  ``materialize_ranked=False`` skips
    the internal barrier (test seam: lets plan asserts see the rank
    stage; safe only under a single evaluation)."""
    cols = [col] if isinstance(col, str) else list(col)
    nparts = values.sparkSession.sparkContext.defaultParallelism
    # ranked feeds BOTH the offsets aggregate and the id join below;
    # left lazy, each consumer re-executes the range exchange, whose
    # boundaries are sampled per physical exchange — if reuse does not
    # fire, offs' per-__pid counts can describe different partition
    # contents than the probe side sees and the bijection breaks.
    # The barrier makes the (pid, rn) assignment a fact, not a plan.
    ranked = (values.repartitionByRange(nparts, *cols)
              .sortWithinPartitions(*cols)
              .withColumn("__mid", F.monotonically_increasing_id())
              .withColumn("__pid", F.shiftrightunsigned(F.col("__mid"), 33))
              .withColumn("__rn", F.col("__mid")
                          .bitwiseAND(F.lit((1 << 33) - 1)) + 1)
              .drop("__mid"))
    if materialize_ranked:
        ranked = materialize(ranked, "dense_ids_ranked", prefer="local")
    offs = (ranked.groupBy("__pid").agg(F.count("*").alias("__c"))
            .withColumn("__off", F.coalesce(
                F.sum("__c").over(
                    Window.orderBy("__pid")
                    .rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0)))
            .select("__pid", "__off"))
    return (ranked.join(F.broadcast(offs), "__pid")
            .select(*cols, (F.col("__off") + F.col("__rn"))
                    .alias("__sid")))


def jaccard_verify(pairs: DataFrame, sh: DataFrame,
                   id_col: str = "doc_id",
                   threshold_num: int = 1,
                   threshold_den: int = 2) -> DataFrame:
    """Exact Jaccard over shingle sets for candidate pairs; keeps pairs
    with jaccard >= threshold_num/threshold_den using integer math only
    (den*inter >= num*union) — no float comparisons, so the oracle
    matches bit-for-bit.

    ``sh`` must carry DISTINCT (doc, sh) rows — every engine pipeline
    does, because :func:`shingles` dedups map-side via
    ``array_distinct`` before its explode — so set sizes are plain
    counts and the sets plain ``collect_list`` arrays, with no
    distinct pass.

    PPJoin length filter first: jaccard >= t implies
    t·max(|A|,|B|) <= min(|A|,|B|), so size-incompatible pairs are
    dropped with pairs-sized joins BEFORE any per-shingle work —
    lossless (such pairs could never pass the final test), and on real
    skew-length corpora it is the cheapest pruning lever the verify
    has.

    Each side's shingle set rides along as an array and the pair's
    intersection is one codegen'd ``array_intersect`` — two hash
    joins, no exploded (pair × shingle) intermediate, no (doc, sh)-
    keyed shuffle-agg. Measured 4× faster than that explode form at
    sf0.1 (7.8 s → 2.0 s on 648k candidates). A doc in K pairs ships
    its array K times — the same total bytes the explode form
    shuffles, but fewer rows and one fewer exchange. Callers that
    rekey shingles to dense longs first (the n-gram Jaccard kernels)
    make the pair join ship 8-byte ints and ``array_intersect`` hash
    longs instead of ~60-char text — measured 5.7 s → 3.1 s on 648k
    candidate pairs × ~52-shingle documents at sf0.1; set sizes,
    intersections and unions are invariant under the bijection."""
    if threshold_num < 1:
        # at t = 0 every candidate passes, disjoint pairs included, so
        # the verify would stop being a filter on shared shingles
        raise ValueError("threshold_num must be >= 1")
    sets = sh.groupBy(id_col).agg(F.collect_list("sh").alias("ss"),
                                  F.count("*").alias("n_sh"))
    pa = sets.select(F.col(id_col).alias("doc_a"),
                     F.col("ss").alias("__sa"),
                     F.col("n_sh").alias("n_a"))
    pb = sets.select(F.col(id_col).alias("doc_b"),
                     F.col("ss").alias("__sb"),
                     F.col("n_sh").alias("n_b"))
    out = (pairs.join(pa, "doc_a").join(pb, "doc_b")
           .where(F.least("n_a", "n_b") * threshold_den
                  >= F.greatest("n_a", "n_b") * threshold_num)
           .withColumn("inter_size",
                       F.size(F.array_intersect("__sa", "__sb"))
                        .cast("long"))
           .withColumn("union_size",
                       F.col("n_a") + F.col("n_b") - F.col("inter_size")))
    return (out.where(F.col("inter_size") * threshold_den
                      >= F.col("union_size") * threshold_num)
               .select("doc_a", "doc_b", "inter_size", "union_size"))


def minhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            threshold_num: int = 1,
                            threshold_den: int = 2,
                            checkpoint_dir: str | None = None) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline: shingle → sign → band →
    candidates → exact-Jaccard verify.

    The shingle set feeds both the signatures and the Jaccard verify
    (3 downstream references) — without materialization the tokenize+
    explode+distinct subtree runs 4×. Two materialization modes:

    - ``checkpoint_dir=None`` (default, single-node / fits-in-memory):
      ``persist()`` — executor block-manager caching.
    - ``checkpoint_dir=<path>`` (cluster scale): the shingle table is
      written to parquet under the given directory and re-read, which
      truncates the lineage and survives executor loss — at 100 TB the
      shingle intermediate (docs × ~tokens rows) exceeds aggregate
      cluster memory, and a lost cached partition would otherwise
      recompute the whole tokenize subtree per retry. The path works on
      any Hadoop-FS URI (hdfs://, s3a://, file:).
    """
    sh, n_sh = materialize_counted(
        shingles(df, text_col, id_col), "minhash_shingles",
        strategy="reliable" if checkpoint_dir else None,
        path=checkpoint_dir, prefer="local")
    # the banded candidate self-join references the SIGNATURE agg
    # subtree twice (exchange reuse does not fire across the aliased
    # branches — the same measured effect as PPJoin's prefix index).
    # Scale crossover: at sf0.1 the barrier loses (paired A/B 1.72 s →
    # 1.98 s, the duplicated agg over 260k shingles is cheap); past the
    # shingle gate — counted free on the materialized sh — the
    # duplicated corpus-sized agg dominates.
    # simhash_near_duplicates materializes unconditionally because its
    # signature build (wide packed-lane agg) is expensive at ANY size.
    sig = minhash_signatures(sh, id_col)
    if n_sh >= MINHASH_SIG_MAT_MIN_SHINGLES:
        sig = materialize(sig, "minhash_sig", prefer="local")
    cands = candidate_pairs(minhash_bands(sig, id_col), id_col)
    return jaccard_verify(cands, sh, id_col, threshold_num, threshold_den)


def connected_components(pairs: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_iter: int = 25,
                         checkpoint_every: int = 5) -> DataFrame:
    """Duplicate-cluster formation: connected components over the
    near-dup pair graph via min-label propagation — the step between
    pair detection (minhash/simhash/ngram) and keeper selection (one
    representative per cluster). Output: (node, component) where
    component = the minimum node id reachable from the node.

    Iterative distributed algorithm (the one genuinely non-single-pass
    op in the engine): each round, every node takes the min of its own
    label and its neighbors' labels (one join + hash-agg); converges in
    ≤ diameter rounds. Near-dup graphs are clique-ish (a shared band
    bucket links all members pairwise), so the measured round count is
    2-3; a pointer-doubling shortcut (label ← label's label) was tried
    and REJECTED — it halves rounds on long chains but doubles the
    joins per round, a net 2× loss on real (low-diameter) dup graphs.

    Per round there is exactly ONE job: the convergence flag
    (sum of changed-bits) rides the persist-materializing count as an
    ``observe`` metric instead of a separate join-and-count pass.

    Lineage is TRUNCATED every ``checkpoint_every`` rounds via an
    eager ``localCheckpoint`` (reads from the already-persisted cache
    — cheap): persist alone caches DATA but keeps the full logical
    plan, and a long-diameter graph (a path) nests one join+agg per
    round until optimizer/tree-string passes overflow the driver heap
    around ~15 rounds. Dup graphs converge in 2-3 rounds, so the
    common path never checkpoints; a reliability-grade (HDFS)
    checkpoint would replace localCheckpoint on a real cluster where
    executor loss must be survivable.
    """
    from pyspark.sql import Observation

    e = pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Eager localCheckpoint (not just persist) on the base tables:
    # persist caches DATA but every round's plan still EMBEDS the full
    # upstream pair-generation plan (a fuzzy join's deletion lattice can
    # be thousands of tree nodes), and k rounds nest k copies of it —
    # plan stringification alone then overflows a default-sized (1g)
    # driver heap.  Truncating here makes each round's plan O(rounds
    # since last checkpoint), independent of the upstream plan.
    edges, n_sym = materialize_counted(
        e.unionByName(e.select(F.col("b").alias("a"),
                               F.col("a").alias("b"))).distinct(),
        "cc_edges", prefer="local")
    labels = (edges.select(F.col("a").alias("node")).distinct()
                   .select("node", F.col("node").alias("component"))
                   .persist())
    # |V| ≤ symmetric edge count, so under the gate the label table is
    # broadcast into the per-round join and the edge frame is never
    # shuffled — the same lever as lpa_communities (measured there:
    # 10.2 s → 5 s at sf0.1); bigger graphs keep the shuffle join.
    bcast = n_sym <= CC_BROADCAST_MAX_EDGES
    for i in range(max_iter):
        lab = F.broadcast(labels) if bcast else labels
        nbr = (edges.join(lab, edges["b"] == lab["node"])
                    .groupBy("a")
                    .agg(F.min("component").alias("nbr_comp")))
        if bcast:
            nbr = F.broadcast(nbr)
        new_comp = F.least(labels["component"],
                           F.coalesce(F.col("nbr_comp"),
                                      labels["component"]))
        obs = Observation(f"cc_round_{i}")
        new_labels = (labels.join(nbr, labels["node"] == nbr["a"], "left")
                            .select(labels["node"],
                                    new_comp.alias("component"),
                                    (new_comp != labels["component"])
                                    .cast("long").alias("__chg"))
                            .observe(obs, F.sum("__chg").alias("n_changed"))
                            .drop("__chg")
                            .persist())
        new_labels.count()  # materializes the round AND the metric
        labels.unpersist()
        labels = new_labels
        if (i + 1) % checkpoint_every == 0:
            # truncate lineage from the cached data, then drop the cache
            labels = materialize(new_labels, "cc_labels",
                                  prefer="local")
            new_labels.unpersist()
        if (obs.get["n_changed"] or 0) == 0:
            break
    edges.unpersist()
    return labels


def connected_components_twophase(pairs: DataFrame, src: str = "doc_a",
                                  dst: str = "doc_b",
                                  max_iter: int = 16,
                                  stats: dict | None = None) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — the bounded-rounds alternative to min-label
    propagation for HIGH-DIAMETER graphs.

    :func:`connected_components` converges in O(diameter) rounds — the
    right choice for clique-ish near-dup graphs (diameter 2-3), but at
    100 TB the dup-pair graph can chain documents into long paths
    (A≈B≈C≈… under a loose threshold), and a diameter-d path costs d
    shuffle rounds there. Star contraction converges in O(log² n)
    rounds worst-case (O(log n) observed) REGARDLESS of diameter:

    - **large-star** (per node u): point every neighbor v > u at
      m = min(Γ(u) ∪ {u});
    - **small-star** (per node u, over edges directed larger→smaller):
      point u and its smaller neighbors at their collective min.

    Each star is one symmetric-edge groupBy + one re-join + one edge
    distinct — three shuffles keyed on node/edge per half-round; edge
    count never grows beyond the symmetric input (the distinct is what
    bounds it — multiple donors emit the same (v, min) edge), and
    every value strictly decreases toward the component min, so the
    fixpoint is the star graph (member → component-min). Output
    matches :func:`connected_components` exactly: (node, component).
    Per-round cost is higher than one min-propagation round; the win
    is ROUND COUNT — pick this variant when the pair graph can be
    long-chained (loose thresholds, transitive near-dup text), the
    propagation loop when it is clique-ish (diameter 2-3).

    Convergence detection: the (distinct) edge set is compared across
    rounds by (count, bit_xor of xxhash64(u,v)) — one tiny agg per
    round riding the materialize, no extra join, no overflow under
    ANSI mode. Parent values are monotonically non-increasing under
    both stars, so a stable (count, xor) pair at the fixpoint is the
    designed terminal state; a collision masking a real change would
    need two distinct edge sets with equal count AND equal 64-bit
    xor-folds mid-descent (~2^-64 per round).

    Lineage: every round's edge frame is materialized with
    ``prefer="local"`` — the previous round's frame feeds the new plan
    ~4× (sym's two branches, small-star's two), so the logical tree is
    4^rounds without truncation (the class of plan that OOMs the
    driver, see :func:`connected_components`'s checkpoint note). The
    per-round ``unpersist`` drops superseded CACHE entries only;
    localCheckpoint blocks of superseded rounds are freed at the query
    boundary by ``checkpoint.release_all`` (bench.py / driver_sim do
    this per query) — bounded here by the ≤ max_iter round count.

    ``stats``: pass a dict to receive ``{"rounds": r}`` — the bounded-
    rounds property is an assertable contract, not a comment
    (tests pin rounds ≪ diameter on a long path).
    """
    e = (pairs.select(F.col(src).cast("long").alias("u"),
                      F.col(dst).cast("long").alias("v"))
              .where(F.col("u") != F.col("v"))
              .distinct())
    edges = materialize(e, "cc2_edges", prefer="local")
    prev_sig = None
    rounds = 0
    for rounds in range(1, max_iter + 1):
        # ---- large-star: key on BOTH endpoints (symmetric view) ----
        sym = edges.unionByName(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (sym.groupBy("u")
                   .agg(F.min("v").alias("nbr_min"))
                   .select("u", F.least("u", "nbr_min").alias("m")))
        large = (sym.join(mins, "u")
                    .where(F.col("v") > F.col("u"))
                    .select(F.col("v").alias("u"), F.col("m").alias("v"))
                    .where(F.col("u") != F.col("v"))
                    .distinct())
        # ---- small-star: direct edges larger→smaller, key on larger --
        d = large.select(F.greatest("u", "v").alias("u"),
                         F.least("u", "v").alias("v"))
        smins = d.groupBy("u").agg(F.min("v").alias("m"))
        small = (d.join(smins, "u")
                  .select(F.col("v").alias("u"), F.col("m").alias("v"))
                  .unionByName(smins.select("u", F.col("m").alias("v")))
                  .where(F.col("u") != F.col("v"))
                  .distinct())
        new_edges = materialize(small, "cc2_round", prefer="local")
        edges.unpersist()
        edges = new_edges
        sig = edges.agg(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h")).first()
        if (sig["n"], sig["h"]) == prev_sig:
            break
        prev_sig = (sig["n"], sig["h"])
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint edges are (member → component-min) stars; roots appear
    # only on the v side, so union them back with self-labels
    members = edges.select(F.col("u").alias("node"),
                           F.col("v").alias("component"))
    roots = edges.select(F.col("v").alias("node"),
                         F.col("v").alias("component")).distinct()
    return (members.unionByName(roots)
                   .groupBy("node").agg(F.min("component")
                                        .alias("component")))


def duplicate_cluster_keepers(pairs: DataFrame, src: str = "doc_a",
                              dst: str = "doc_b") -> DataFrame:
    """One keeper per duplicate cluster (the min id) + cluster size —
    components → groupBy; everything except the keeper is droppable."""
    comp = connected_components(pairs, src, dst)
    return (comp.groupBy("component")
                .agg(F.min("node").alias("keeper_id"),
                     F.count("*").alias("cluster_size")))


def _rekeyed_shingles(df: DataFrame, text_col: str, id_col: str,
                      n: int) -> DataFrame:
    """Shared prologue of the n-gram Jaccard kernels: shingle, count
    each shingle's document frequency, and replace every shingle by a
    dense long id ranked by ``(__df, sh)`` — so ascending id IS the
    PPJoin total order (rarest first, then value). Returns the
    materialized ``(id_col, sh, __df)`` frame with ``sh`` now the id.

    The df agg doubles as the dense-id vocabulary and the df join
    doubles as the rekey, so every stage past it (prefix windows,
    candidate self-joins, the verify's set aggregation and
    ``array_intersect``) runs on 8-byte longs instead of ~60-char
    n-gram strings. Output of every consumer is unchanged: Jaccard is
    invariant under any shingle bijection, and the df cap is a filter
    on the carried ``__df``."""
    sh = materialize(shingles(df, text_col, id_col, n), "shingles",
                     prefer="local")
    vocab = sh.groupBy("sh").agg(F.count("*").alias("__df"))
    ids = dense_ids(vocab, ["__df", "sh"])
    return materialize(
        sh.join(ids, "sh").select(F.col(id_col),
                                  F.col("__sid").alias("sh"), "__df"),
        "rekeyed_sh", prefer="local")


def _self_join_pairs(index: DataFrame, id_col: str) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one ``sh``."""
    return (index.alias("a").join(index.alias("b"), "sh")
                 .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                 .select(F.col(f"a.{id_col}").alias("doc_a"),
                         F.col(f"b.{id_col}").alias("doc_b"))
                 .distinct())


def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold_num: int = 3,
                        threshold_den: int = 10) -> DataFrame:
    """Exact n-gram Jaccard pairs (no LSH): every pair of documents
    with Jaccard ≥ threshold_num/threshold_den over their word
    n-gram sets, with exact integer intersection and union sizes.
    More recall than MinHash, more compute — the verify path for
    audits. Output equals the plain inverted-index self-join
    (pairs sharing ≥ 1 shingle, then exact verify), which is what
    the oracle computes.

    Candidates come from a prefix-filtered set-similarity join
    (Bayardo et al. 2007 "Scaling Up All Pairs Similarity Search";
    Xiao et al. 2008 PPJoin): order every document's shingles by a
    global total order (ascending document frequency — rarest first —
    then shingle value); a pair with Jaccard ≥ t = num/den must share
    at least one shingle among each side's first
    ``m − ⌈t·m⌉ + 1`` shingles. Indexing only prefixes is therefore
    LOSSLESS — unlike the df-cap variant there is no recall loss, yet
    the inverted index shrinks by ~t·Σm and, because prefixes are the
    RAREST shingles, the quadratic per-bucket term collapses exactly
    where it hurts (the ubiquitous-shingle buckets never enter the
    index). The exact-Jaccard verify runs on full shingle sets.

    Cost shape: one df agg (shuffle on shingle), one per-doc rank
    window (shuffle on doc), the prefix self-join (shuffle on
    shingle, buckets ≤ min(df, prefix-membership)), then the verify
    joins — each keyed, none cartesian. Rekeying to dense ids up
    front (see :func:`_rekeyed_shingles`) measured (paired A/B,
    local[32], reps=5, co-tenant load) sf0.1 median 7.59 s → 6.26 s,
    min 7.30 → 5.80 (0.79-0.82×, new won all 5 paired reps); plan
    diff in plans/r10/dedup_ngram_prefix_{before,after}.txt."""
    shi = _rekeyed_shingles(df, text_col, id_col, n).select(id_col, "sh")
    w = Window.partitionBy(id_col).orderBy(F.col("sh").asc())
    ranked = (shi
              .withColumn("__rk", F.row_number().over(w))
              # per-doc shingle count as a whole-partition window
              # count: the rank window already hash-partitioned on
              # the doc id, so this rides the SAME exchange — one
              # fewer agg and one fewer join than a sizes-table
              # aggregate (equal output, verified)
              .withColumn("__m", F.count("*").over(
                  Window.partitionBy(id_col))))
    # prefix length m − ⌈t·m⌉ + 1, integer ceil: (m·num + den − 1) div den
    plen = (F.col("__m")
            - F.expr(f"(__m * {threshold_num} + {threshold_den - 1}) "
                     f"div {threshold_den}") + 1)
    # pref feeds BOTH sides of the candidate self-join; left lazy the
    # df-agg + join + two-window subtree above runs once per side
    # (exchange reuse does not fire across the aliased branches).
    # Re-bisected at 32-core parallelism (reps=3 medians), the
    # barrier wins at EVERY size:
    #   260k shingles: local 6.43 s vs off  8.36 s (1.30×)
    #   1.04M        : local 9.63 s vs off 10.30 s (1.07×)
    #   2.60M        : local 21.9 s vs off  50.2 s (2.30×)
    # — at high parallelism the duplicated subtree costs two full
    # exchanges of the shingle frame while the barrier fill is wide.
    pref = materialize(
        ranked.where(F.col("__rk") <= plen).select(F.col(id_col), "sh"),
        "ppjoin_prefix", prefer="local")
    return jaccard_verify(_self_join_pairs(pref, id_col), shi, id_col,
                          threshold_num, threshold_den)


def ngram_jaccard_pairs_capped(df: DataFrame, text_col: str = "text",
                               id_col: str = "doc_id", n: int = 3,
                               threshold_num: int = 3,
                               threshold_den: int = 10,
                               max_df: int = 50) -> DataFrame:
    """Stop-shingle-capped n-gram Jaccard: candidate generation skips
    shingles appearing in more than ``max_df`` documents.

    The uncapped inverted-index join is O(Σ df²) over shingle document
    frequencies — one boilerplate shingle shared by 1M docs creates
    10¹² candidate probes. Capping df bounds every bucket at max_df²
    (the web-scale standard; recall loss is bounded to pairs whose
    ONLY shared shingles are ubiquitous ones, which fail the Jaccard
    threshold anyway in practice). The exact-Jaccard verify still uses
    the FULL shingle sets, so surviving pairs carry true scores.
    """
    # the rare filter is a cheap filter over the materialized rekeyed
    # frame: both self-join sides re-run only that filter over
    # checkpointed blocks, and the candidate self-join ships longs
    shi = _rekeyed_shingles(df, text_col, id_col, n)
    sh_rare = shi.where(F.col("__df") <= max_df).select(id_col, "sh")
    return jaccard_verify(_self_join_pairs(sh_rare, id_col),
                          shi.select(id_col, "sh"), id_col,
                          threshold_num, threshold_den)


SIMHASH_LANE_BITS = 20   # packed-counter lane width (3 lanes per long)
SIMHASH_LANES = 3        # => 20 packed sums instead of 60 scalar sums


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """60-bit SimHash per doc: per token-hash bit, majority vote of
    +1/-1 across (distinct) tokens; bit i set iff the vote is positive
    (set-bit count strictly exceeds half the token count).

    One hash-agg with PACKED bit counters: each aggregate column sums 3
    bit-indicators packed into 20-bit lanes of one long
    (``Σ ((th>>i)&1) << 20·lane``), so the per-doc vote state is 20
    packed sums + count(*) instead of 60 scalar sums. Versus the naive
    per-bit row explosion this shuffles N token rows, not 60·N; versus
    the 60-scalar-sum variant (round 1/2) it keeps the generated
    aggregate small enough for fast JIT and tighter agg buffers — a
    measured 4.4× cold / 1.25× warm win at sf0.1. Lane width 20 bits
    caps distinct tokens per doc at 2^20-1 (~1M — beyond any real
    document), and the cap is ENFORCED: the distinct-token array is
    sliced to 2^20-1 elements before the vote, so a pathological doc
    (log dump, base64 blob) is scored on a deterministic prefix of its
    distinct tokens instead of silently carrying a lane sum into the
    neighboring counter and corrupting every bit above it. All integer
    arithmetic; the oracle SQL keeps the straightforward 60-sum form —
    only final outputs must match (fixture docs sit far below the
    cap, so the slice is a no-op there).
    """
    lane_cap = (1 << SIMHASH_LANE_BITS) - 1
    tok = (df.select(F.col(id_col),
                     F.explode(F.slice(F.array_distinct(tokens(text_col)),
                                       1, lane_cap)).alias("tok"))
             .select(F.col(id_col),
                     stable_hash64(F.col("tok"), seed=99).alias("th")))
    # The wide vote/signature trees are built as SQL STRINGS and
    # parsed in ONE py4j call each (r10 optimization pass): the
    # Column-by-Column form issued ~600 synchronous py4j round trips
    # per query build — measured 1.4-1.7 s of pure Python-side
    # DataFrame construction at local[32], more than this operator's
    # whole execution (0.8 s). The parsed Catalyst tree is the same
    # integer expression (shifts, masks, sums — all BIGINT literals,
    # total < 2^60, no overflow), so signatures are bit-identical.
    n_groups = SIMHASH_BITS // SIMHASH_LANES
    aggs = []
    for g in range(n_groups):
        packed = " + ".join(
            f"(shiftrightunsigned(th, {g * SIMHASH_LANES + lane}) & 1L)"
            f" * {1 << (SIMHASH_LANE_BITS * lane)}L"
            for lane in range(SIMHASH_LANES))
        aggs.append(F.expr(f"sum({packed})").alias(f"p{g}"))
    votes = tok.groupBy(id_col).agg(F.count("*").alias("n"), *aggs)
    # bit i set iff vote sum > 0  ⇔  2*ones > n  (ones - (n-ones) > 0)
    lane_mask = (1 << SIMHASH_LANE_BITS) - 1
    sig_terms = []
    for i in range(SIMHASH_BITS):
        g, lane = i // SIMHASH_LANES, i % SIMHASH_LANES
        ones = (f"(shiftrightunsigned(p{g}, {SIMHASH_LANE_BITS * lane})"
                f" & {lane_mask}L)")
        sig_terms.append(
            f"(CASE WHEN {ones} * 2 > n THEN {1 << i}L ELSE 0L END)")
    sig = F.expr("CAST((" + " + ".join(sig_terms) + ") AS BIGINT)")
    return votes.select(F.col(id_col), sig.alias("simhash"))


def simhash_candidate_pairs(sig: DataFrame, id_col: str = "doc_id",
                            max_hamming: int = 3) -> DataFrame:
    """Banded-LSH candidate generation over 60-bit SimHash signatures
    (input: one row per doc with a ``simhash`` column). Returns
    distinct (doc_a, doc_b, sig_a, sig_b) with doc_a < doc_b, with
    GUARANTEED recall at the given Hamming radius.

    Blocking key width is the scale lever (VERDICT r4 #3): single
    12-bit blocks give only 2^12 = 4,096 bucket values per band, so
    bucket population grows ~n/4096 with corpus size and the
    within-bucket self-join ~n²/4096 — quadratic at billions of docs
    regardless of true similarity. For ``max_hamming <= 3`` the key is
    instead a PAIR of blocks (Manku/Jain/Sarma, WWW 2007 §3 — the
    multi-table Hamming-distance design): flipping <= 3 of 60 bits
    touches <= 3 of the 5 blocks, so >= 2 blocks stay clean and every
    true pair still shares >= 1 of the C(5,2) = 10 block-pair keys —
    recall identical to single bands — while the key space per table
    grows 2^12 → 2^24, cutting expected candidates by ~4096× (now
    ~10·n²/2^24) for 2× the exploded rows. ``max_hamming == 4`` falls
    back to single blocks (the pair guarantee needs 2 clean blocks);
    beyond 4 the 5-block layout cannot guarantee recall and raises."""
    n_blocks = SIMHASH_BITS // SIMHASH_BAND_BITS
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds the recall guarantee of "
            f"{n_blocks} x {SIMHASH_BAND_BITS}-bit blocks (needs <= "
            f"{n_blocks - 1})")

    def block(b: int) -> Column:
        return (F.shiftrightunsigned(F.col("simhash"),
                                     b * SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit((1 << SIMHASH_BAND_BITS) - 1)))

    if max_hamming <= n_blocks - 2:
        keys = [block(i) * F.lit(1 << SIMHASH_BAND_BITS) + block(j)
                for i in range(n_blocks) for j in range(i + 1, n_blocks)]
    else:
        keys = [block(b) for b in range(n_blocks)]
    # single-pass banding via posexplode (see minhash_bands note)
    bands_df = sig.select(F.col(id_col), F.col("simhash"),
                          F.posexplode(F.array(*keys))
                           .alias("band", "band_val"))
    a = bands_df.select("band", "band_val", F.col(id_col).alias("doc_a"),
                        F.col("simhash").alias("sig_a"))
    b_ = bands_df.select("band", "band_val", F.col(id_col).alias("doc_b"),
                         F.col("simhash").alias("sig_b"))
    return (a.join(b_, ["band", "band_val"])
             .where(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sig_a", "sig_b")
             .distinct())


def simhash_near_duplicates(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id",
                            max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup: banded LSH on the 60-bit signature (block-pair
    keys — see ``simhash_candidate_pairs`` for the recall guarantee and
    the 2^24 blocking-key space), then exact Hamming verify with
    bit_count. Bounded candidates, no all-pairs; output is identical to
    the single-band form (banding only affects candidate generation,
    and both guarantee recall at the radius)."""
    # the band self-join references the signature subtree twice; an
    # EAGER localCheckpoint (not lazy persist — concurrent branches of
    # one job race the unfilled cache and recompute) guarantees the
    # token-explode + wide-agg pipeline runs once, not per join side
    sig = materialize(simhash_signatures(df, text_col, id_col),
                      "simhash_sig")
    cands = simhash_candidate_pairs(sig, id_col, max_hamming)
    ham = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (cands.withColumn("hamming", ham.cast("long"))
                 .where(F.col("hamming") <= max_hamming)
                 .select("doc_a", "doc_b", "hamming"))


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (substring-level dedup)
# ---------------------------------------------------------------------------

def positional_spans(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id", n: int = 20) -> DataFrame:
    """One row per (doc, 1-based start position, n-token span hash).

    Unlike :func:`shingles` this keeps POSITIONS and within-doc
    repeats — substring dedup needs to know *where* a duplicated run
    sits, not just that the doc contains it. Documents shorter than
    ``n`` tokens contribute their whole text as the single span at
    position 1 (span_len < n), mirroring shingles' short-doc rule.
    Emits ``k`` (doc token count) and ``span_len`` alongside so
    downstream never re-tokenizes.
    """
    bound = df.select(F.col(id_col), tokens(text_col).alias("__w"))
    w = F.col("__w")
    k = F.size(w)
    idx = F.sequence(F.lit(1), k - F.lit(n - 1))
    grams = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + j) for j in range(n)]))
    arr = F.when(k >= n, grams).otherwise(F.array(F.concat_ws(" ", w)))
    span_len = F.when(k >= n, F.lit(n)).otherwise(k)
    return (bound
            .select(F.col(id_col), k.alias("k"), span_len.alias("span_len"),
                    F.posexplode(arr).alias("pos0", "span"))
            .select(F.col(id_col), "k", "span_len",
                    (F.col("pos0") + 1).alias("pos"),
                    stable_hash64(F.col("span"), seed=7).alias("span_h")))


def span_duplicates(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id", n: int = 20) -> DataFrame:
    """Substring-level exact dedup stats (Lee et al. 2021,
    arXiv:2107.06499 "Deduplicating Training Data Makes Language Models
    Better" — EXACTSUBSTR): a span is *duplicated* when its n-token
    hash occurs ≥ 2 times corpus-wide (across docs or repeated within
    one). Per document: total spans, duplicated spans, the highest
    corpus frequency any of its spans reaches, the number of TOKENS
    covered by at least one duplicated span (exact fixed-length
    interval union), and that coverage as a floor-scaled e6 fraction
    of the doc's tokens.

    Scale shape: one shuffle keyed on the 60-bit span hash (8-byte
    keys) for the corpus-wide frequency, one shuffle back on doc id
    for the per-doc rollup. The interval union is NOT computed by
    exploding covered token indexes (an n× row blowup on exactly the
    duplicated-heavy partitions that are already the hot spot) — for
    fixed span length L the union is a lag sweep:
    ``covered = Σ min(L, pos_i − pos_{i−1})`` over duplicated spans in
    position order, window-partitioned by doc.
    """
    # sp feeds BOTH the corpus-frequency agg and the probe side of the
    # join; left lazy the span generation (the 20-token concat_ws gram
    # build — the CPU-heavy part) runs twice. Materialized rows are
    # narrow (5 cols, hash not string). The span build is CPU-dominant
    # at EVERY size — paired A/Bs, local/off: sf0.01 0.79x, sf0.1 0.66x
    # (2.64→1.74 s), 30x probe 0.06x (97.5→5.45 s) — so the barrier is
    # unconditional.
    sp = materialize(positional_spans(df, text_col, id_col, n),
                     "span_positional", prefer="local")
    freq = sp.groupBy("span_h").agg(F.count("*").alias("span_freq"))
    j = sp.join(freq, "span_h")
    dup = F.col("span_freq") >= 2
    # previous duplicated span's position = last non-null dup pos among
    # strictly-preceding rows. Windowed on doc_id ALONE (not
    # (doc_id, dup)) so the window's hash partitioning is exactly what
    # the final groupBy(doc_id) needs — one Exchange serves both.
    prev_dup_pos = F.last(F.when(dup, F.col("pos")), ignorenulls=True).over(
        Window.partitionBy(id_col).orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    covered_inc = F.when(
        ~dup, F.lit(0)
    ).when(prev_dup_pos.isNull(), F.col("span_len")).otherwise(
        F.least(F.col("span_len"), F.col("pos") - prev_dup_pos))
    scored = j.select(
        F.col(id_col), F.col("k"), dup.cast("long").alias("is_dup"),
        F.col("span_freq"), covered_inc.alias("cov_inc"))
    out = (scored.groupBy(id_col)
           .agg(F.max("k").alias("n_tokens"),
                F.count("*").alias("n_spans"),
                F.sum("is_dup").alias("n_dup_spans"),
                F.max("span_freq").alias("max_span_freq"),
                F.sum("cov_inc").alias("dup_tokens")))
    frac = F.when(F.col("n_tokens") > 0,
                  F.floor(F.col("dup_tokens") * F.lit(1_000_000)
                          / F.col("n_tokens"))).otherwise(F.lit(0))
    return out.select(
        F.col(id_col),
        F.col("n_tokens").cast("long"),
        F.col("n_spans").cast("long"),
        F.col("n_dup_spans").cast("long"),
        F.col("max_span_freq").cast("long"),
        F.col("dup_tokens").cast("long"),
        frac.cast("long").alias("dup_frac_e6"))


def fuzzy_join_ed1(df: DataFrame, text_col: str,
                   id_col: str) -> DataFrame:
    """Edit-distance ≤ 1 self-join via DELETION-NEIGHBORHOOD blocking
    (the FastSS / SymSpell technique): two strings within edit
    distance 1 share a member of their deletion neighborhoods (the
    string itself plus every single-character deletion), so the
    candidate join runs on |s|+1 short variants per row instead of
    all pairs — O(Σ|s|) index entries vs O(n²) comparisons. The exact
    Levenshtein verify runs once per surviving candidate pair.

    Scale shape: variant generation is a zero-shuffle array program
    (transform over positions + array_distinct); the self-join is
    keyed on the variant string (bucket sizes = near-duplicate
    cluster sizes, not corpus size); `levenshtein()` runs JVM-side in
    codegen. Deterministic output: (id_a < id_b, distance) distinct
    pairs."""
    s = F.col(text_col)
    n = F.length(s)
    variants = F.array_distinct(F.concat(
        F.array(s),
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.concat(F.substring(s, F.lit(1), (i - 1).cast("int")),
                               s.substr(i + 1, n)))))
    # v feeds both self-join sides — left lazy the variant explosion
    # (string-heavy: |s|+1 substring concats per row) runs once per
    # side; same multi-consumer fix as the shingle pipelines. CPU-
    # dominant at every size, so the barrier is unconditional —
    # paired A/Bs, local/off: sf0.01 0.91x (fuzzy_customer_names) /
    # 0.86x (entity_resolution_customers), sf0.1 0.80x (ADVICE r8
    # asked for the measurement).
    v = materialize(df.select(F.col(id_col), s.alias("__s"),
                              F.explode(variants).alias("__v")),
                    "ed1_variants", prefer="local")
    a = v.select(F.col(id_col).alias("id_a"), F.col("__s").alias("sa"),
                 F.col("__v"))
    b = v.select(F.col(id_col).alias("id_b"), F.col("__s").alias("sb"),
                 F.col("__v"))
    return (a.join(b, "__v")
             .where(F.col("id_a") < F.col("id_b"))
             .select("id_a", "id_b",
                     F.levenshtein("sa", "sb").cast("long").alias("dist"))
             .where(F.col("dist") <= 1)
             .distinct())


def incremental_near_duplicates(df: DataFrame, new_cond,
                                text_col: str = "text",
                                id_col: str = "doc_id",
                                threshold_num: int = 1,
                                threshold_den: int = 2) -> DataFrame:
    """Incremental ingestion dedup: MinHash near-duplicate pairs
    between a NEW batch (rows satisfying ``new_cond``) and the
    existing corpus — the nightly-ingest shape, where re-running the
    full self-dedup would redo O(corpus) candidate work for an
    O(batch) question.

    Same shingle→signature→band machinery as
    :func:`minhash_near_duplicates`, but the bucket join is
    CROSS-SIDE ONLY (new × corpus): the corpus-side self-pairs —
    the quadratic bulk of every bucket — are never generated.
    Within-batch duplicates are the batch's own self-dedup run, by
    design. Verification is the exact integer Jaccard.

    Output: (new_doc, dup_of, inter_size, union_size) — equal, by
    construction, to the full pair graph restricted to cross-side
    pairs (which is exactly how the oracle derives it)."""
    # sh feeds the signature pipeline AND the exact-Jaccard verify —
    # materialized like every other shingle consumer (left lazy the
    # tokenize+explode subtree ran once per consumer; same fix as
    # minhash_near_duplicates)
    sh = materialize(shingles(df, text_col, id_col),
                     "incr_shingles", prefer="local")
    sig = minhash_signatures(sh, id_col)
    bands = minhash_bands(sig, id_col)
    flags = df.select(F.col(id_col),
                      new_cond.cast("long").alias("__new"))
    # tagged feeds both cross-side branches; |docs|×bands rows, narrow
    tagged = materialize(bands.join(flags, id_col),
                         "incr_tagged", prefer="local")
    a = (tagged.where(F.col("__new") == 1)
         .select("band", "band_hash", F.col(id_col).alias("new_doc")))
    b = (tagged.where(F.col("__new") == 0)
         .select("band", "band_hash", F.col(id_col).alias("dup_of")))
    cand = (a.join(b, ["band", "band_hash"])
            .select("new_doc", "dup_of").distinct())
    pairs = cand.select(F.col("new_doc").alias("doc_a"),
                        F.col("dup_of").alias("doc_b"))
    verified = jaccard_verify(pairs, sh, id_col, threshold_num,
                              threshold_den)
    return verified.select(
        F.col("doc_a").alias("new_doc"), F.col("doc_b").alias("dup_of"),
        "inter_size", "union_size")


def containment_duplicates(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id",
                           min_cont_num: int = 9,
                           min_cont_den: int = 10) -> DataFrame:
    """Asymmetric near-duplication: candidate pairs where the SMALLER
    shingle set is ≥ num/den contained in the other — catches a
    document embedded inside a larger one (quote farms, wrapper
    pages), which symmetric Jaccard misses (|A∩B|/|A∪B| stays low
    when |B| ≫ |A|).

    Candidates still come from the MinHash bands (recall tracks
    Jaccard, not containment — the standard engineering trade,
    documented; a containment-optimal index would be the prefix
    filter on df-ordered shingles, see ngram_jaccard_pairs). The
    containment test is integer cross-multiplication; the reported
    score is one integer division on the e6 grid."""
    sh = shingles(df, text_col, id_col)
    sig = minhash_signatures(sh, id_col)
    bands = minhash_bands(sig, id_col)
    cand = candidate_pairs(bands, id_col)
    sa = sh.select(F.col(id_col).alias("doc_a"), F.col("sh"))
    sb = sh.select(F.col(id_col).alias("doc_b"), F.col("sh"))
    inter = (cand.join(sa, "doc_a").join(sb, ["doc_b", "sh"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count("*").alias("inter_size")))
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    na = sizes.select(F.col(id_col).alias("doc_a"),
                      F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("doc_b"),
                      F.col("n_sh").alias("n_b"))
    j = inter.join(na, "doc_a").join(nb, "doc_b")
    small = F.least(F.col("n_a"), F.col("n_b"))
    return (j.where(F.col("inter_size") * min_cont_den
                    >= min_cont_num * small)
            .select("doc_a", "doc_b",
                    F.col("inter_size").cast("long").alias("inter_size"),
                    F.col("n_a").cast("long").alias("n_a"),
                    F.col("n_b").cast("long").alias("n_b"),
                    F.expr("(inter_size * 1000000)"
                           " div least(n_a, n_b)").cast("long")
                    .alias("cont_small_e6")))
