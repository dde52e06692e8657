"""Iterative graph analytics on DataFrames.

Second iterative-algorithm family after ``dedup.connected_components``:
PageRank over a transaction graph, with EXACT integer arithmetic so
ranks are bit-identical across engines, partitionings, and merge
orders (the FP-sum nondeterminism that plagues naive distributed
PageRank never appears).

Exactness design: ranks live on a 1e9 fixed-point grid as BIGINTs; the
damping factor is the rational 17/20 (= 0.85), applied as
``(x * 17) div 20``; per-edge contributions are ``rank div outdeg``.
Every operation is integer multiply/divide/sum — associative and
commutative, so Spark's partial aggregation cannot change the result.

Scale shape per iteration: one shuffle keyed on ``dst`` (the
contribution sum), one join of the (node, rank) table with the edge
list on ``src``. The rank table is |V| rows (small next to |E|); the
edge join partitions on src — at 100 TB you'd pre-partition edges by
src once and reuse that layout every iteration (noted, as with the
MinHash persist). Plan depth grows linearly in ``iters``; for long
runs localCheckpoint the rank table every few rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..checkpoint import materialize, materialize_counted
from ..worker_daemon import install as install_worker_daemon
from .dedup import endpoint_type

PR_SCALE = 1_000_000_000  # 1e9 fixed-point rank grid
_D_NUM, _D_DEN = 17, 20   # damping 0.85 as an exact rational
PR_BROADCAST_MAX_EDGES = 4_000_000  # contrib-table broadcast gate


def pagerank(edges: DataFrame, iters: int = 3,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """PageRank (un-normalized r₀=1 convention: ranks sum to ~|V|) on
    a directed edge list, ``iters`` exact-integer iterations:

        r'(v) = (3·SCALE) div 20  +  (17 · Σ_{u→v} (r(u) div deg(u))) div 20

    Nodes are every id appearing as src or dst; dangling nodes (no
    out-edges) contribute nothing but still receive the base mass —
    the standard simplification when ranks are used for *ordering*
    (mass conservation is not required for that).
    """
    # e / nodes / outdeg are loop-invariant and referenced in every
    # iteration's lineage — materialized once so no round re-derives
    # them (an earlier no-persist version leaned on AQE exchange
    # reuse; measured at sf0.1 the checkpointed build is 2× faster
    # cold, 10.4 s → 5.6 s, and no slower warm). The materialized
    # edge count gates a broadcast of the per-round contribution
    # table (|V|-sized): when |E| ≤ PR_BROADCAST_MAX_EDGES the big
    # edge frame is never shuffled — only the small rank/contrib
    # tables move each round. Bigger graphs keep the shuffle join,
    # O(|E|) per round.
    e, n_e = materialize_counted(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")),
        "pagerank_edges", prefer="local")
    nodes = materialize(e.select(F.col("src").alias("node"))
                        .union(e.select(F.col("dst").alias("node")))
                        .distinct(), "pagerank_nodes", prefer="local")
    outdeg = materialize(e.groupBy("src").agg(F.count("*").alias("deg")),
                         "pagerank_outdeg", prefer="local")
    base = F.lit((3 * PR_SCALE) // _D_DEN).cast("long")
    ranks = nodes.select("node", F.lit(PR_SCALE).cast("long").alias("r"))
    # Under the same edge gate, the |V|-bounded side of EVERY per-round
    # join rides a broadcast, not just the contrib table (r10
    # optimization pass): the before-plan ran ranks⋈outdeg and
    # nodes⋈inflow as SortMergeJoins — four |V|-row exchanges + sorts
    # per iteration (plans/r10/pagerank_trade_graph_before.txt). With
    # outdeg/inflow broadcast the only per-round exchange left is the
    # dst-keyed contribution agg, which is the one shuffle the
    # algorithm fundamentally needs. Past the gate all joins stay
    # shuffle joins (outdeg/inflow are |V|-sized — never broadcast at
    # 100 TB).
    bcast = n_e <= PR_BROADCAST_MAX_EDGES
    for _ in range(iters):
        # every frame here descends from `e`, so joins are self-joins
        # by lineage — explicit aliases keep the analyzer unambiguous
        contrib = (ranks.alias("rk")
                   .join(F.broadcast(outdeg.alias("og")) if bcast
                         else outdeg.alias("og"),
                         F.col("rk.node") == F.col("og.src"))
                   .select(F.col("og.src").alias("u"),
                           F.expr("r div deg").alias("c")))
        if bcast:
            contrib = F.broadcast(contrib)
        inflow = (e.alias("ed")
                  .join(contrib.alias("cb"),
                        F.col("ed.src") == F.col("cb.u"))
                  .groupBy(F.col("ed.dst").alias("dst"))
                  .agg(F.sum("c").alias("s")))
        if bcast:
            inflow = F.broadcast(inflow)
        ranks = (nodes.alias("nd")
                 .join(inflow.alias("infl"),
                       F.col("nd.node") == F.col("infl.dst"), "left")
                 .select(F.col("nd.node").alias("node"),
                         (base + F.expr(
                             f"(coalesce(s, 0L) * {_D_NUM}) div {_D_DEN}"))
                         .cast("long").alias("r")))
    return ranks.select(F.col("node"), F.col("r").alias("rank_e9"))


def supplier_customer_edges(lineitem: DataFrame,
                            orders: DataFrame) -> DataFrame:
    """Bipartite transaction graph: each distinct (supplier, customer)
    trading pair becomes one edge in each direction, so every node has
    out-degree ≥ 1 (no dangling leakage). Node ids are role-tagged
    collision-free at any key scale: customer → 2·key,
    supplier → 2·key + 1."""
    pairs = (lineitem.select("l_orderkey", "l_suppkey")
             .join(orders.select("o_orderkey", "o_custkey"),
                   lineitem.l_orderkey == orders.o_orderkey)
             .select((F.col("o_custkey") * 2).alias("cust_node"),
                     (F.col("l_suppkey") * 2 + 1).alias("supp_node"))
             .distinct())
    fwd = pairs.select(F.col("supp_node").alias("src"),
                       F.col("cust_node").alias("dst"))
    rev = pairs.select(F.col("cust_node").alias("src"),
                       F.col("supp_node").alias("dst"))
    return fwd.union(rev)


def copurchase_edges(lineitem: DataFrame) -> DataFrame:
    """Undirected co-purchase graph: parts appearing in the same order
    are connected (distinct pairs, low id < high id).

    Built as groupBy(order) → sorted ``collect_set`` → executor-side
    index-pair explosion → distinct, NOT a self-join on the order key:
    one scan instead of two and one partial-aggregated shuffle of the
    (order, part) rows instead of a join build — measured 1.9 s →
    1.4 s at sf0.1 (600 k lineitems → 1.196 M edges), and this build
    fronts every co-purchase graph query so it pays 3×. The per-order
    pair blowup is Σ d² either way and lands on the same order-keyed
    task in both shapes (a join buckets by the same key), so skew is
    unchanged; the array form additionally bounds it by the per-order
    basket size, which TPC-H-like schemas cap at single digits."""
    parts = (lineitem.select("l_orderkey", "l_partkey")
             .groupBy("l_orderkey")
             .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps")))
    pairs = parts.select(F.explode(F.flatten(F.transform(
        "ps", lambda x, i: F.transform(
            F.slice("ps", i + 2, F.size("ps")),
            lambda y: F.struct(x.alias("pa"), y.alias("pb")))))).alias("e"))
    return pairs.select("e.pa", "e.pb").distinct()


TRIANGLE_BROADCAST_MAX_EDGES = 4_000_000  # driver-fetch / broadcast cap
_WEDGE_CHUNK = 1 << 21  # wedges probed per vectorised step of the kernel


def node_degrees(edges: DataFrame, a: str = "pa",
                 b: str = "pb") -> DataFrame:
    """Degree per node of a distinct undirected edge list (one
    endpoint-union + count agg). Output: node, d (BIGINT)."""
    return (edges.select(F.col(a).alias("node"))
            .unionAll(edges.select(F.col(b).alias("node")))
            .groupBy("node").agg(F.count("*").cast("long").alias("d")))


def _oriented_csr(x, y):
    """Driver half of the triangle kernel: relabel the nodes of edge
    arrays ``x``, ``y`` by (degree, id) rank and point every edge up
    the ranking. Returns (ids, deg, indptr, indices) by rank: rank r's
    id, degree and ascending out-neighbours
    ``indices[indptr[r]:indptr[r + 1]]`` (self-loops left out)."""
    import numpy as np
    ids, inv = np.unique(np.concatenate([x, y]), return_inverse=True)
    n, m = len(ids), len(x)
    deg = np.bincount(inv, minlength=n).astype(np.int64)
    # ids are sorted, so a stable sort on degree breaks ties by id
    order = np.argsort(deg, kind="stable")
    rank = np.empty(n, dtype=np.int64)
    rank[order] = np.arange(n, dtype=np.int64)
    ru, rv = rank[inv[:m]], rank[inv[m:]]
    keep = ru != rv
    lo = np.minimum(ru, rv)[keep]
    hi = np.maximum(ru, rv)[keep]
    o = np.lexsort((hi, lo))
    indptr = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(np.bincount(lo, minlength=n), out=indptr[1:])
    return ids[order], deg[order], indptr, hi[o]


def _ranges(starts, lens):
    """Concatenated ``arange(s, s + l)`` for each (s, l) pair."""
    import numpy as np
    return (np.repeat(starts - np.cumsum(lens) + lens, lens)
            + np.arange(lens.sum()))


def _triangle_partials(bc, n_tasks: int):
    """mapInArrow kernel over ``spark.range(n_tasks)``: task t owns
    every rank r ≡ t (mod n_tasks). For each owned r it forms every
    pair (u < v) of r's out-neighbours — each triangle's wedge at its
    lowest-ranked corner, generated once — and probes the packed rank
    key ``u·n + v`` against the sorted keys of all oriented edges.
    Yields (node, degree, t) rows: every owned node (t may be 0) and
    every other node some closed wedge touched."""
    def partials(batches):
        import numpy as np
        import pyarrow as pa

        install_worker_daemon()
        ids, deg, indptr, indices = bc.value
        n = len(ids)
        outdeg = np.diff(indptr)
        # CSR rows are sorted by (low, high) rank: the packed keys are
        # sorted as built
        keys = np.repeat(np.arange(n, dtype=np.int64), outdeg) * n + indices
        for b in batches:
            for t in b.column(0).to_numpy():
                own = np.arange(t, n, n_tasks, dtype=np.int64)
                w = outdeg[own] * (outdeg[own] - 1) // 2
                cuts = np.searchsorted(np.cumsum(w), np.arange(
                    _WEDGE_CHUNK, w.sum(), _WEDGE_CHUNK), "right")
                cnt = np.zeros(n, dtype=np.int64)
                for chunk in np.split(own, cuts):
                    # positions p of the chunk's adjacency lists, each
                    # paired with every later position of its list
                    starts, lens = indptr[chunk], outdeg[chunk]
                    p = _ranges(starts, lens)
                    later = np.repeat(starts + lens, lens) - p - 1
                    if not later.sum():
                        continue
                    u = indices[np.repeat(p, later)]
                    v = indices[_ranges(p + 1, later)]
                    key = u * n + v
                    at = np.minimum(np.searchsorted(keys, key),
                                    len(keys) - 1)
                    hit = keys[at] == key
                    corner = np.repeat(np.repeat(chunk, lens), later)
                    cnt += np.bincount(np.concatenate(
                        [corner[hit], u[hit], v[hit]]), minlength=n)
                out = np.union1d(own, np.flatnonzero(cnt))
                yield pa.record_batch(
                    [pa.array(ids[out]), pa.array(deg[out]),
                     pa.array(cnt[out])],
                    names=["node", "degree", "t"])
    return partials


def _broadcast_triangles(edges: DataFrame, a: str,
                         b: str) -> DataFrame | None:
    """(node, degree, n_triangles) for every node of ``edges``, from
    one broadcast-CSR pass — or ``None`` when the edge list is longer
    than ``TRIANGLE_BROADCAST_MAX_EDGES`` (at most gate + 1 edges are
    fetched to find out)."""
    gate = TRIANGLE_BROADCAST_MAX_EDGES
    got = (edges.select(F.col(a).cast("long"), F.col(b).cast("long"))
           .dropna().limit(gate + 1).toArrow())
    if got.num_rows > gate:
        return None
    spark = edges.sparkSession
    csr = _oriented_csr(got.column(0).to_numpy(), got.column(1).to_numpy())
    n_tasks = spark.sparkContext.defaultParallelism
    per = (spark.range(0, n_tasks, 1, n_tasks)
           .mapInArrow(_triangle_partials(
               spark.sparkContext.broadcast(csr), n_tasks),
               "node long, degree long, t long")
           .groupBy("node", "degree")
           .agg(F.sum("t").alias("n_triangles")))
    return per.select(F.col("node").cast(endpoint_type(edges, a, b))
                      .alias("node"), "degree", "n_triangles")


def _intersect_triangles(edges: DataFrame, a: str, b: str,
                         deg: DataFrame) -> DataFrame:
    """Per-node triangle counts past the broadcast gate, by
    adjacency intersection over the (degree, id)-oriented edges."""
    e = edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    ranked = e.join(dx, "x").join(dy, "y")
    lower_first = (F.col("dx") < F.col("dy")) | (
        (F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y")))
    oriented = materialize(ranked.select(
        F.when(lower_first, F.col("x")).otherwise(F.col("y")).alias("lo"),
        F.when(lower_first, F.col("y")).otherwise(F.col("x")).alias("hi")),
        "tri_oriented")
    # adj feeds BOTH array joins (AQE reuses no exchange across
    # consumers): materialized, the 12M-edge probe halves, 48 s → 25 s
    adj = materialize(
        (oriented.groupBy(F.col("lo").alias("n"))
         .agg(F.sort_array(F.collect_list("hi")).alias("nbrs"))),
        "tri_adj", prefer="local")
    tris = (oriented
            .join(adj.select(F.col("n").alias("lo"),
                             F.col("nbrs").alias("na")), "lo")
            .join(adj.select(F.col("n").alias("hi"),
                             F.col("nbrs").alias("nb")), "hi", "left")
            .select(F.col("lo").alias("c"), F.col("hi").alias("u"),
                    # sinks have no adjacency row: coalesce to an
                    # empty array of na's own element type
                    F.explode(F.array_intersect(
                        "na", F.coalesce("nb", F.slice("na", 1, 0))))
                    .alias("v")))
    return (tris.select(F.explode(F.array("c", "u", "v")).alias("node"))
            .groupBy("node")
            .agg(F.count("*").cast("long").alias("n_triangles")))


def triangle_count(edges: DataFrame, a: str = "pa",
                   b: str = "pb") -> DataFrame:
    """Exact triangle count per node of a distinct undirected edge list
    (nodes in no triangle omitted): the DEGREE-ORDERED node-iterator
    algorithm. Edges point from the lower-(degree, id) end to the
    higher, so each triangle's wedge is formed once, at its
    lowest-ranked corner, and out-degrees are O(√|E|) even at hubs
    (Suri & Vassilvitskii, WWW 2011).

    Plan notes:
    - up to ``TRIANGLE_BROADCAST_MAX_EDGES`` edges the list is fetched
      to the driver once (``limit(gate + 1)``, so a bigger graph is
      never pulled whole), oriented into a CSR over dense ranks
      (:func:`_oriented_csr`) and broadcast. One ``mapInArrow`` pass
      over ``spark.range(parallelism)`` probes every owned node's
      out-neighbour pairs against the sorted packed rank keys
      ``u·n + v`` (exact for any id width: ranks are < n), and one
      ``groupBy(node)`` sums the partial counts. At sf0.01 the
      clustering-coefficient job runs 6 Spark jobs, not the wedge-join
      plan's 20.
    - past the gate, :func:`_intersect_triangles`: each oriented edge
      (a, b) meets the out-neighbour lists of a and b, and
      ``array_intersect`` yields each triangle once at its lowest
      corner — ~3 edge-list shuffles with array payloads instead of
      Σ d² wedge rows (on a 12M-edge probe it completes at a 4 g heap
      where broadcasting the 12M-key probe fails). Raise the gate only
      when the driver and every executor can hold the |E|-sized CSR.

    Output: node, n_triangles (BIGINT, exact)."""
    per = _broadcast_triangles(edges, a, b)
    if per is not None:
        return (per.where(F.col("n_triangles") > 0)
                .select("node", "n_triangles"))
    return _intersect_triangles(edges, a, b, node_degrees(edges, a, b))


def bfs_hops(edges: DataFrame, max_hops: int = 4,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Minimum-hop distances from the lowest-id node, bounded at
    ``max_hops`` rounds — BFS as iterative relational relaxation, the
    third iterative-graph family next to connected components and
    PageRank.

    Each round is one join (frontier candidates through the edge list)
    plus one min-agg — the distance table never exceeds |V| rows no
    matter how many paths exist (the path-explosion trap of naive
    transitive closure never appears, because min() collapses the
    frontier every round). The source is chosen RELATIONALLY (lowest
    node id via a 1-row limit), so no collect() and both engines pick
    the same root.

    Scale shape per round: distance table |V| rows (node, hops) — tiny
    next to |E|; the edge join shuffles on src. At 100 TB pre-partition
    edges by src once and every round reuses the layout; for deep
    searches localCheckpoint the distance table every few rounds.
    Unreached nodes are omitted (standard BFS contract).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    dist = (nodes.orderBy("node").limit(1)
            .select("node", F.lit(0).cast("long").alias("hops")))
    for _ in range(max_hops):
        step = (dist.join(e, dist.node == e.src)
                .select(F.col("dst").alias("node"),
                        (F.col("hops") + 1).alias("hops")))
        dist = (dist.union(step)
                .groupBy("node").agg(F.min("hops").alias("hops")))
    return dist.select("node", F.col("hops").cast("long"))


def link_prediction(edges: DataFrame, a: str = "pa", b: str = "pb",
                    max_degree: int = 200) -> DataFrame:
    """Common-neighbor link prediction over an undirected edge list
    (reference show/page.py serves "related entity" panels from the
    same co-occurrence signal): for every NON-adjacent pair (u, v)
    that shares ≥1 neighbor, emit the three classic scores —

    * ``cn``          — common-neighbor count (exact BIGINT),
    * ``jaccard_e6``  — ``floor(cn·1e6 / |Γ(u) ∪ Γ(v)|)`` as integer
      division on exact counts,
    * ``ra_e6``       — Resource Allocation index (Zhou et al. 2009)
      with each 1/deg(w) term pre-floored to ``floor(1e6/deg(w))`` so
      the per-pair score is a SUM OF INTEGERS — associative, merge-
      order-proof, bit-identical on any engine (an FP 1/d sum would
      depend on partial-agg order; Adamic-Adar's 1/ln d has the same
      flaw plus cross-engine ln noise).

    Wedge generation is keyed on the shared neighbor w, so the join
    fan-out per center is deg(w)²; hubs above ``max_degree`` are
    excluded from CENTER duty (standard web-scale practice — a
    ~celebrity node's wedge set is quadratic and its evidence is
    near-zero per pair; both engines apply the identical cap, so
    results still hash-match). Fan-out bound: Σ_w min(d_w, cap)².

    Scale shape: degree agg (1 shuffle), wedge self-join keyed on w
    (1 shuffle), pair agg (1 shuffle), one broadcast-able degree join
    per side, and an existing-edge anti join. Nothing materializes
    all pairs.
    """
    e = edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
    # undirected adjacency (both directions), plus exact degrees
    adj = e.union(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = adj.groupBy("x").agg(F.count("*").alias("d"))
    # wedges centered at w: neighbors u < v of the same (capped) center
    centers = deg.where(F.col("d") <= F.lit(max_degree)) \
                 .select(F.col("x").alias("w"), F.col("d").alias("dw"))
    n1 = adj.select(F.col("x").alias("w"), F.col("y").alias("u"))
    n2 = adj.select(F.col("x").alias("w"), F.col("y").alias("v"))
    wedges = (n1.join(centers, "w").join(n2, "w")
              .where(F.col("u") < F.col("v")))
    pairs = (wedges.groupBy("u", "v")
             .agg(F.count("*").cast("long").alias("cn"),
                  F.sum(F.floor(F.lit(1_000_000) / F.col("dw")))
                   .cast("long").alias("ra_e6")))
    # drop already-connected pairs (predict NEW links only)
    existing = e.select(F.least("x", "y").alias("u"),
                        F.greatest("x", "y").alias("v"))
    cand = pairs.join(existing, ["u", "v"], "left_anti")
    du = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    scored = (cand.join(du, "u").join(dv, "v")
              .select("u", "v", "cn",
                      (F.col("du") + F.col("dv") - F.col("cn"))
                      .cast("long").alias("union_sz"),
                      F.floor(F.col("cn") * F.lit(1_000_000)
                              / (F.col("du") + F.col("dv") - F.col("cn")))
                       .cast("long").alias("jaccard_e6"),
                      "ra_e6"))
    return scored


def basket_lift_pairs(lineitem: DataFrame, min_support: int = 3,
                      k: int = 20) -> DataFrame:
    """Market-basket association rules for part pairs (the A-priori
    pair pass): per unordered pair, the exact basket co-occurrence
    count (support), conditional confidence P(b|a) and lift
    s12·N/(s1·s2) — integer counts, e6-floored ratios on pinned
    integer products.

    Baskets are DISTINCT (order, part) pairs — a part twice in one
    order counts once. ``min_support`` prunes the pair tail right
    after the self-join's aggregation (the A-priori support bound);
    per-part supports are a broadcast-sized table joined back. Top-k
    by (support, lift) is TakeOrderedAndProject.

    Scale: the order-keyed self-join fan-out is Σ basket_size² —
    baskets are order line counts (≤7 in TPC-H; bounded per order at
    any SF), so the join is linear in orders. One wide shuffle on the
    pair key, everything after is broadcast-sized.
    """
    # per-order item SETS once (collect_set dedups map-side), then
    # singles/pairs/order-count all derive from the set arrays — one
    # scan + one order-keyed shuffle instead of a distinct + self-join
    # (same rewrite as copurchase_edges, r7)
    sets = (lineitem.select("l_orderkey", "l_partkey")
            .groupBy(F.col("l_orderkey").alias("ok"))
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps")))
    sets = materialize(sets, "basket_sets")
    n_orders = sets.agg(F.count("*").cast("long").alias("n_orders"))
    s1 = (sets.select(F.explode("ps").alias("p"))
          .groupBy("p").agg(F.count("*").cast("long").alias("s")))
    s12 = (sets.select(F.explode(F.flatten(F.transform(
               "ps", lambda x, i: F.transform(
                   F.slice("ps", i + 2, F.size("ps")),
                   lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
               ).alias("e"))
           .groupBy(F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb"))
           .agg(F.count("*").cast("long").alias("support"))
           .where(F.col("support") >= min_support))
    sa = s1.select(F.col("p").alias("pa"), F.col("s").alias("s1a"))
    sb = s1.select(F.col("p").alias("pb"), F.col("s").alias("s1b"))
    scored = (s12.join(F.broadcast(sa), "pa")
              .join(F.broadcast(sb), "pb")
              .crossJoin(F.broadcast(n_orders))
              .select(
                  "pa", "pb", "support", "s1a", "s1b",
                  F.floor(F.col("support") * F.lit(1_000_000)
                          / F.col("s1a")).cast("long")
                   .alias("confidence_e6"),
                  F.floor((F.col("support") * F.col("n_orders"))
                          * F.lit(1_000_000)
                          / (F.col("s1a") * F.col("s1b")))
                   .cast("long").alias("lift_e6")))
    return (scored.orderBy(F.col("support").desc(),
                           F.col("lift_e6").desc(), "pa", "pb")
            .limit(k))


def personalized_pagerank(edges: DataFrame, iters: int = 3,
                          src: str = "src",
                          dst: str = "dst") -> DataFrame:
    """Personalized PageRank (random walk with restart): identical
    exact-integer scheme to :func:`pagerank`, but ALL restart mass
    returns to one source node (the lowest id, chosen relationally —
    both engines pick the same root, no collect) instead of spreading
    uniformly — the "related to THIS entity" ranking behind
    recommendation panels.

    Total walk mass matches pagerank's |V|·SCALE convention: the
    source's restart term is ``(3·SCALE·|V|) div 20`` and the initial
    vector concentrates ``SCALE·|V|`` at the source. Per-iteration
    shape is pagerank's exactly (one dst-keyed shuffle + one src join;
    the |V|-row count and 1-row source ride broadcasts).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    outdeg = e.groupBy("src").agg(F.count("*").alias("deg"))
    stats = F.broadcast(nodes.agg(
        F.count("*").cast("long").alias("nv"),
        F.min("node").cast("long").alias("s")))
    nodes_s = nodes.crossJoin(stats)
    is_src = F.col("node") == F.col("s")
    base = F.when(
        is_src,
        F.expr(f"({3 * PR_SCALE}L * nv) div {_D_DEN}")).otherwise(
        F.lit(0)).cast("long")
    ranks = nodes_s.select(
        "node", "nv", "s",
        F.when(is_src, F.expr(f"{PR_SCALE}L * nv")).otherwise(F.lit(0))
         .cast("long").alias("r"))
    for _ in range(iters):
        contrib = (ranks.alias("rk")
                   .join(outdeg.alias("og"),
                         F.col("rk.node") == F.col("og.src"))
                   .select(F.col("og.src").alias("u"),
                           F.expr("r div deg").alias("c")))
        inflow = (e.alias("ed")
                  .join(contrib.alias("cb"),
                        F.col("ed.src") == F.col("cb.u"))
                  .groupBy(F.col("ed.dst").alias("dst"))
                  .agg(F.sum("c").alias("s_in")))
        ranks = (nodes_s.alias("nd")
                 .join(inflow.alias("infl"),
                       F.col("nd.node") == F.col("infl.dst"), "left")
                 .select(F.col("nd.node").alias("node"),
                         F.col("nd.nv").alias("nv"),
                         F.col("nd.s").alias("s"),
                         (base + F.expr(
                             f"(coalesce(s_in, 0L) * {_D_NUM})"
                             f" div {_D_DEN}"))
                         .cast("long").alias("r")))
    return ranks.select(F.col("node"), F.col("r").alias("ppr_e9"))


def k_core(edges: DataFrame, k: int = 3, rounds: int = 6,
           a: str = "pa", b: str = "pb") -> DataFrame:
    """k-core membership by bounded iterative peeling: drop every node
    whose degree in the SURVIVING subgraph is < k, re-derive degrees,
    repeat — the standard dense-substructure filter (spam rings,
    community cores) and the classic fixpoint that converges in a
    handful of rounds on real graphs because each peel removes whole
    fringe layers at once.

    ``rounds`` is a fixed bound so both engines run the identical
    computation (a convergence test at smoke scale asserts rounds and
    rounds+1 agree — the fixture graph reaches its fixpoint well
    inside the bound). Output: surviving nodes with their final
    in-core degree.

    Scale shape per round: one degree agg (|surviving nodes| rows) and
    two semi-joins of the edge list against that node set — the edge
    list only ever SHRINKS, so later rounds are cheaper than earlier
    ones. Pre-partition edges by endpoint to reuse the layout.

    Lineage is TRUNCATED with an eager ``localCheckpoint`` every
    round (the connected-components pattern): the surviving edge
    frame feeds THREE subplans of the next round (two semi-joins +
    the degree agg), so an unbroken lineage re-derives e₀ 3^rounds
    times — measured as an OOM at 6 rounds on the sf0.01 co-purchase
    graph. On a real cluster swap in a reliability-grade checkpoint
    (parquet/HDFS) so executor loss cannot drop a truncated block.

    When the surviving edge count is ≤ ``LPA_BROADCAST_MAX_EDGES``
    (so the surviving node set is too), the per-round keep set is
    BROADCAST into both semi-joins — the edge frame is never shuffled,
    the same lever as lpa_communities. The gate
    is re-evaluated EVERY round against the just-materialized edge
    frame (a count over a checkpointed frame is cheap), so an
    initially-large graph switches to the broadcast path as peeling
    shrinks it under the gate; bigger graphs keep the shuffle joins.
    """
    # prefer="local", NOT the default cache: the survivor frame feeds
    # THREE subplans of the next round, so the LOGICAL plan grows
    # 3^rounds unless each round resets it — persist() substitutes an
    # InMemoryRelation only on the physical side and the persist CALL
    # itself OOMs canonicalizing the 3^6-node logical tree at round 6
    # (caught by test_oracle_parity when `cache` became the default);
    # localCheckpoint replaces the plan with a LogicalRDD leaf
    e, n_e = materialize_counted(
        edges.select(F.col(a).alias("x"), F.col(b).alias("y")),
        "kcore_edges", prefer="local")
    for _ in range(rounds):
        deg = (e.select(F.col("x").alias("n"))
               .unionAll(e.select(F.col("y").alias("n")))
               .groupBy("n").agg(F.count("*").alias("d")))
        keep = deg.where(F.col("d") >= k).select("n")
        kx = keep.select(F.col("n").alias("x"))
        ky = keep.select(F.col("n").alias("y"))
        if n_e <= LPA_BROADCAST_MAX_EDGES:
            kx, ky = F.broadcast(kx), F.broadcast(ky)
        # re-gate on the shrinking survivor count; the count IS
        # the per-round materializing action (one job, not two)
        e, n_e = materialize_counted(e.join(kx, "x").join(ky, "y"),
                                     "graph_iter", prefer="local")
    final = (e.select(F.col("x").alias("node"))
             .unionAll(e.select(F.col("y").alias("node")))
             .groupBy("node").agg(F.count("*").cast("long")
                                  .alias("core_degree")))
    return final.where(F.col("core_degree") >= k).orderBy("node")


def degree_assortativity(edges: DataFrame, a: str = "pa",
                         b: str = "pb") -> DataFrame:
    """Degree assortativity of an undirected graph: the Pearson
    correlation of (deg(u), deg(v)) over all directed edge ends — the
    one-number summary of hub-to-hub vs hub-to-leaf wiring (positive:
    social-style, negative: infrastructure-style).

    Same exactness contract as ``pearson_qty_price``: degrees are
    exact BIGINTs, the five moments accumulate as decimal(38,0)
    (merge-order-proof), and only the final closed form runs in
    double, floored at e6. Both orientations of every edge enter the
    sum, which is exactly Newman's definition for undirected graphs.

    Plan: one degree agg, two joins of the edge list back to the
    degree table, one 1-row moments agg. Headroom: degrees < 2^19 at
    10^12 edge ends before n·Σd⁴ nears decimal(38).
    """
    e = edges.select(F.col(a).alias("u"), F.col(b).alias("v"))
    both = e.unionAll(e.select(F.col("v").alias("u"),
                               F.col("u").alias("v")))
    deg = (both.groupBy("u").agg(F.count("*").alias("d")))
    du = deg.select(F.col("u"), F.col("d").alias("dx"))
    dv = deg.select(F.col("u").alias("v"), F.col("d").alias("dy"))
    j = both.join(du, "u").join(dv, "v")
    dec, d19 = "decimal(38,0)", "decimal(19,0)"
    agg = j.groupBy().agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum(F.col("dx").cast(d19) * F.col("dx").cast(d19)).alias("sxx"),
        F.sum(F.col("dy").cast(d19) * F.col("dy").cast(d19)).alias("syy"),
        F.sum(F.col("dx").cast(d19) * F.col("dy").cast(d19)).alias("sxy"))
    n, sx, sy, sxx, syy, sxy = [
        F.col(c).cast("double")
        for c in ("n", "sx", "sy", "sxx", "syy", "sxy")]
    num = n * sxy - sx * sy
    den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return agg.select(
        F.col("n").cast("long").alias("n_edge_ends"),
        F.when(den > 0.0, F.floor(num / den * 1e6))
         .otherwise(F.lit(0)).cast("long").alias("assortativity_e6"))


def item_item_cosine(lineitem: DataFrame, top_n: int = 5,
                     min_co: int = 2) -> DataFrame:
    """Item-item collaborative filtering on co-purchase counts — the
    classic "customers who bought X also bought Y" ranker:
    sim(a, b) = co(a, b) / √(n_a · n_b) (cosine over binary
    order-incidence vectors), top-N neighbors per item.

    Counts are exact BIGINTs from distinct (order, part) incidence;
    the single cosine division runs once per surviving pair on a
    pinned double tree, floored at e6. ``min_co`` prunes
    single-co-occurrence noise pairs BEFORE the degree joins — the
    same tail-cut every production recommender applies, and the term
    that keeps the pair table near-linear in practice.

    Scale: pair generation fans out per order as basket², bounded by
    the order-size cap of the schema (7 lineitems max in TPC-H);
    for long-tail baskets cap items per basket first. The top-N is a
    per-item PARTITIONED rank window — parallel across items, never a
    global sort.
    """
    from pyspark.sql import Window
    # per-order item sets once; co-counts and per-item order counts
    # both derive from the arrays (one scan + one order-keyed shuffle;
    # the copurchase_edges r7 rewrite)
    sets = (lineitem.select("l_orderkey", "l_partkey")
            .groupBy(F.col("l_orderkey").alias("ok"))
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps")))
    sets = materialize(sets, "itemset_arrays")
    n_p = (sets.select(F.explode("ps").alias("p"))
           .groupBy("p").agg(F.count("*").alias("n_orders")))
    co = (sets.select(F.explode(F.flatten(F.transform(
              "ps", lambda x, i: F.transform(
                  F.slice("ps", i + 2, F.size("ps")),
                  lambda y: F.struct(x.alias("pa"), y.alias("pb")))))
              ).alias("e"))
          .groupBy(F.col("e.pa").alias("pa"), F.col("e.pb").alias("pb"))
          .agg(F.count("*").alias("co"))
          .where(F.col("co") >= min_co))
    both = co.unionAll(co.select(F.col("pb").alias("pa"),
                                 F.col("pa").alias("pb"), "co"))
    j = (both
         .join(n_p.select(F.col("p").alias("pa"),
                          F.col("n_orders").alias("na")), "pa")
         .join(n_p.select(F.col("p").alias("pb"),
                          F.col("n_orders").alias("nb")), "pb"))
    sim = F.floor(F.col("co").cast("double")
                  / F.sqrt(F.col("na").cast("double")
                           * F.col("nb").cast("double")) * 1e6)
    scored = j.select(F.col("pa").alias("item"),
                      F.col("pb").alias("neighbor"),
                      F.col("co").cast("long").alias("n_co"),
                      sim.cast("long").alias("cosine_e6"))
    w = Window.partitionBy("item").orderBy(
        F.col("cosine_e6").desc(), F.col("neighbor").asc())
    return (scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= top_n)
            .select("item", "neighbor", "n_co", "cosine_e6",
                    F.col("rn").cast("long").alias("rn")))


HITS_SCALE = 1_000_000


def hits(edges: DataFrame, iters: int = 2,
         src: str = "src", dst: str = "dst") -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on a directed edge
    list, ``iters`` UN-normalized exact-integer iterations:

        a'(v) = Σ_{u→v} h(u)        h'(u) = Σ_{u→v} a'(v)

    Skipping the per-round L2 normalization keeps every value an
    exact BIGINT (the normalized ratios are recoverable downstream,
    and ORDERING — what hub/authority scores are used for — is
    normalization-invariant). Growth bound: scores ≤
    SCALE · d_max^(2·iters); at the default 2 iterations that stays
    inside int64 for d_max up to ~5·10³ — beyond, move the grid to
    decimal(38) or add a per-round integer right-shift.

    Plan per round: two edge joins + two aggs, each shuffling
    |V|-sized frames on node ids; AQE dedups the loop-invariant edge
    exchange across rounds (the pagerank pattern — deliberately no
    persist)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    h = nodes.select("node",
                     F.lit(HITS_SCALE).cast("long").alias("h"))
    a = None
    for _ in range(iters):
        a_in = (e.alias("ed")
                .join(h.alias("hh"), F.col("ed.src") == F.col("hh.node"))
                .groupBy(F.col("ed.dst").alias("dst"))
                .agg(F.sum("h").alias("s_a")))
        a = (nodes.alias("nd")
             .join(a_in.alias("ai"),
                   F.col("nd.node") == F.col("ai.dst"), "left")
             .select(F.col("nd.node").alias("node"),
                     F.coalesce(F.col("s_a"), F.lit(0))
                     .cast("long").alias("a")))
        h_in = (e.alias("ed")
                .join(a.alias("aa"), F.col("ed.dst") == F.col("aa.node"))
                .groupBy(F.col("ed.src").alias("src"))
                .agg(F.sum("a").alias("s_h")))
        h = (nodes.alias("nd")
             .join(h_in.alias("hi"),
                   F.col("nd.node") == F.col("hi.src"), "left")
             .select(F.col("nd.node").alias("node"),
                     F.coalesce(F.col("s_h"), F.lit(0))
                     .cast("long").alias("h")))
    return (h.join(a, "node")
            .select("node", F.col("h").alias("hub"),
                    F.col("a").alias("authority")))


def clustering_coefficient(edges: DataFrame, a: str = "pa",
                           b: str = "pb",
                           deterministic_output: bool = False) -> DataFrame:
    """Local clustering coefficient per node: cc = 2·T / (d·(d−1)) —
    how close each node's neighborhood is to a clique, the classic
    community-structure signal next to triangle counts (which this
    composes: see :func:`triangle_count`).

    ALL-INTEGER: cc_e6 = (2·T·1e6) div (d·(d−1)) — exact counts, one
    integer division, no FP anywhere. Nodes with degree < 2 pin to 0.

    Under the gate the triangle kernel emits each node's degree next
    to its count: one edge fetch plus one kernel pass. Past it the
    edge frame and the degrees each feed two consumers, so both are
    materialized. Output is unordered unless ``deterministic_output``
    (a global sort is a needless single stage at scale)."""
    j = _broadcast_triangles(edges, a, b)
    if j is None:
        edges = materialize(edges, "cc_edge_frame")
        deg = materialize(node_degrees(edges, a, b), "cc_degrees")
        tri = _intersect_triangles(edges, a, b, deg)
        j = (deg.join(tri, "node", "left")
             .select("node", F.col("d").alias("degree"),
                     F.coalesce(F.col("n_triangles"), F.lit(0))
                     .cast("long").alias("n_triangles")))
    cc = F.expr("(2 * n_triangles * 1000000) div (degree * (degree - 1))")
    out = j.select("node", "degree", "n_triangles",
                   F.when(F.col("degree") >= 2, cc)
                    .otherwise(F.lit(0)).cast("long").alias("cc_e6"))
    return out.orderBy("node") if deterministic_output else out


def weighted_relax(edges: DataFrame, rounds: int = 4,
                   src: str = "src", dst: str = "dst",
                   w: str = "w") -> DataFrame:
    """Bounded-round weighted shortest paths from the lowest-id node
    (Bellman-Ford as iterative relational relaxation — the weighted
    sibling of :func:`bfs_hops`): each round joins the distance table
    through the edge list and min-collapses, so the frontier never
    exceeds |V| rows regardless of path multiplicity. Weights are
    BIGINTs (quantize upstream), distances exact integer sums —
    deterministic at any partitioning. Nodes unreached within
    ``rounds`` hops are omitted (documented bound, mirrored exactly
    by the oracle's unrolled rounds)."""
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"),
                     F.col(w).cast("long").alias("w"))
    nodes = (e.select(F.col("src").alias("node"))
             .union(e.select(F.col("dst").alias("node")))
             .distinct())
    dist = (nodes.orderBy("node").limit(1)
            .select("node", F.lit(0).cast("long").alias("c")))
    for _ in range(rounds):
        step = (dist.join(e, dist.node == e.src)
                .select(F.col("dst").alias("node"),
                        (F.col("c") + F.col("w")).alias("c")))
        dist = (dist.union(step)
                .groupBy("node").agg(F.min("c").alias("c")))
    return dist.select("node", F.col("c").cast("long").alias("cost"))


LPA_BROADCAST_MAX_EDGES = 4_000_000  # label-table broadcast gate


def lpa_communities(edges: DataFrame, a: str = "pa", b: str = "pb",
                    rounds: int = 3,
                    deterministic_output: bool = False,
                    edges_canonical: bool = False) -> DataFrame:
    """Synchronous label propagation communities, made DETERMINISTIC:
    every node adopts its most frequent neighbor label each round,
    ties broken by the smaller label — (count DESC, label ASC) is a
    total order, so unlike textbook async LPA the result is a pure
    function of the graph.  A fixed ``rounds`` budget (3) bounds both
    the work and the oracle (which unrolls the same rounds as CTEs).

    Per round: one edge⋈labels join keyed on the node id, one
    (node, lbl) count agg, and one per-node top-1 — the same shuffle
    shape as a round of min-label propagation, O(|E|) per round at any
    scale.  Nodes keep their own label only while no neighbor message
    arrives (symmetric edge lists deliver one per edge).  The
    symmetric edge list feeds every round — materialized so the edge
    build + symmetrize + distinct runs once, not ``rounds`` times
    (measured
    11.5 s → 7.6 s at sf0.1).  The top-1 is ``max(struct(c, -lbl))``
    — (count DESC, label ASC) as one total order — instead of a
    row_number window: a hash agg combines map-side and never sorts,
    where the window sorted every (node, lbl) group per round.

    When the symmetric edge count is ≤ ``LPA_BROADCAST_MAX_EDGES``
    (so |V| ≤ that bound too), the per-round label table is BROADCAST
    into the edge join — the big edge frame is never shuffled, only
    the |V|-sized label table moves each round (measured 10.2 s →
    7.5 s at sf0.1).  Bigger graphs keep the shuffle join, whose
    per-round cost stays O(|E|).  Output order is unordered by
    default; ``deterministic_output=True`` adds the global sort for
    report-style consumers.

    ``edges_canonical=True`` asserts the input is already a DISTINCT
    one-row-per-undirected-edge list in a fixed orientation (e.g.
    ``copurchase_edges``' lo < hi pairs): the symmetrized union is then
    distinct by construction — a row and its reverse can never collide
    — and the 2|E|-row distinct shuffle is skipped entirely. The
    default keeps the distinct: arbitrary edge lists may carry
    duplicates or both orientations, and a duplicate message row would
    double-count a neighbor's label vote."""
    e = edges.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    sym = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    if not edges_canonical:
        sym = sym.distinct()
    sym, n_sym = materialize_counted(sym, "lpa_sym_edges")
    if rounds < 1:
        raise ValueError(f"rounds must be >= 1, got {rounds}")
    # ROUND 1 in closed form: seed labels are the node ids and sym is
    # DISTINCT, so every (node, neighbor-label) vote count is exactly
    # 1 and the (count DESC, label ASC) top-1 degenerates to the
    # minimum neighbor id — one agg over the edge list, no seed
    # distinct, no join, no two-level count (identical to the generic
    # round by construction; the oracle's unrolled CTE r1 agrees)
    labels = (sym.groupBy(F.col("src").alias("node"))
              .agg(F.min("dst").alias("lbl")))
    superseded = None
    for rnd in range(1, rounds):
        # each round's broadcast BUILD executes the label lineage —
        # left lazy, round r re-runs rounds 1..r-1 inside its build
        # (O(rounds²) total work); materializing the |V|-row label
        # table per round keeps every round O(|E|) (measured 5.5 s →
        # 5.0 s warm / 14 s → 5.7 s cold at sf0.1, 3 rounds)
        labels = materialize(labels, "lpa_labels")
        if superseded is not None:
            # under the cache strategy the CacheManager holds every
            # persisted round until explicit unpersist — release the
            # previous round's table once this round's fill (the eager
            # count inside materialize) no longer needs it; a no-op
            # for localCheckpoint frames (ADVICE r7)
            superseded.unpersist()
        superseded = labels
        lab = labels.withColumnRenamed("node", "dst")
        if n_sym <= LPA_BROADCAST_MAX_EDGES:
            lab = F.broadcast(lab)
        msgs = (sym.join(lab, "dst")
                .groupBy(F.col("src").alias("node"), "lbl")
                .agg(F.count("*").alias("c")))
        labels = (msgs.groupBy("node")
                  .agg(F.max(F.struct(F.col("c"),
                                      (-F.col("lbl")).alias("nl")))
                        .alias("b"))
                  .select("node", (-F.col("b.nl")).alias("lbl")))
    out = labels.select("node", F.col("lbl").alias("community"))
    return out.orderBy("node") if deterministic_output else out


def lpa_communities_oracle(edges_sql: str, rounds: int = 3) -> str:
    """DuckDB twin: the same rounds unrolled as chained CTEs.
    ``edges_sql`` must yield columns (pa, pb)."""
    parts = [f"""
  e0 AS ({edges_sql}),
  e AS (SELECT pa AS src, pb AS dst FROM e0
        UNION SELECT pb, pa FROM e0),
  r0 AS (SELECT DISTINCT src AS node, src AS lbl FROM e)"""]
    for i in range(1, rounds + 1):
        parts.append(f"""
  c{i} AS (
    SELECT e.src AS node, r.lbl, count(*)::BIGINT AS c
    FROM e JOIN r{i - 1} r ON r.node = e.dst
    GROUP BY e.src, r.lbl
  ),
  r{i} AS (
    SELECT node, lbl FROM (
      SELECT node, lbl,
             row_number() OVER (PARTITION BY node
                                ORDER BY c DESC, lbl) AS rn
      FROM c{i}
    ) WHERE rn = 1
  )""")
    return ("  WITH" + ",".join(parts)
            + f"\n  SELECT node, lbl AS community FROM r{rounds} "
              "ORDER BY node")


def degree_powerlaw(edges: DataFrame, a: str = "pa",
                    b: str = "pb") -> DataFrame:
    """Power-law exponent of the degree distribution: OLS slope of
    ln(count) on ln(degree) over the degree histogram — the one-row
    is-this-a-hub-graph diagnostic that decides whether skew
    machinery (salting, degree caps) is needed before any join on
    the edge list.  Same quantize-then-exact-sum pattern as the
    token zipf fit: per-degree lns floored to e6 BIGINTs, exact
    decimal moments, one pinned closed-form combine."""
    e = edges.select(F.col(a).alias("x"), F.col(b).alias("y"))
    sym = e.unionByName(e.select(F.col("y").alias("x"),
                                 F.col("x").alias("y")))
    deg = sym.groupBy("x").agg(F.count("*").alias("d"))
    hist = deg.groupBy("d").agg(F.count("*").alias("c"))
    q = hist.select(
        F.floor(F.log(F.col("d").cast("double")) * 1e6).cast("long")
         .alias("qx"),
        F.floor(F.log(F.col("c").cast("double")) * 1e6).cast("long")
         .alias("qy"))
    dec, dec19 = "decimal(38,0)", "decimal(19,0)"
    m = q.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("qx").cast(dec)).alias("sx"),
        F.sum(F.col("qy").cast(dec)).alias("sy"),
        F.sum(F.col("qx").cast(dec19) * F.col("qx").cast(dec19))
         .alias("sxx"),
        F.sum(F.col("qx").cast(dec19) * F.col("qy").cast(dec19))
         .alias("sxy"))
    n, sx, sy, sxx, sxy = [F.col(c).cast("double")
                           for c in ("n", "sx", "sy", "sxx", "sxy")]
    den = (n * sxx) - (sx * sx)
    slope = ((n * sxy) - (sx * sy)) / den
    return m.select(
        F.col("n").cast("long").alias("n_degree_levels"),
        F.when(den != 0.0, F.floor(-slope * F.lit(1_000_000)))
         .otherwise(F.lit(0)).cast("long").alias("gamma_e6"))
