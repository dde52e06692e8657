"""Physical-plan quality gates: these assert the *plan shape* that
matters at 100 TB — broadcast joins for dimensions, filter/column
pushdown into the parquet scan, TakeOrderedAndProject for top-k, and
no stray shuffles — so a regression that silently flips a broadcast to
a sort-merge join (or un-pushes a filter) fails CI, not production."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdata_project_hust_spark.plans.queries import QUERIES

from .conftest import SF_SMOKE


def plan_of(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def n_nodes(plan: str, op: str) -> int:
    """Count physical operators by their detail-section headers
    ('(5) Exchange') — tree lines would double-count each node."""
    import re
    return len(re.findall(rf"^\(\d+\) {op}\b", plan, flags=re.M))


def test_flagship_joins_are_broadcast(spark):
    df = QUERIES["flagship_top_kols_per_region"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_multi_agg_pushes_filter_and_prunes_columns(spark):
    df = QUERIES["multi_agg_pricing"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" \
        in plan, plan
    # projection pruning: untouched columns must not be read
    assert "l_partkey" not in plan and "l_suppkey" not in plan, plan


def test_top5_uses_take_ordered_not_global_sort(spark):
    df = QUERIES["top5_orders"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_keep_last_is_single_shuffle_with_group_limit(spark):
    df = QUERIES["keep_last_per_user"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Exchange") == 1, plan
    # rank-limit pushdown: partial WindowGroupLimit keeps only the top
    # row per key map-side, so the shuffle carries ~|keys| rows
    assert n_nodes(plan, "WindowGroupLimit") == 2, plan


def test_revenue_join_partial_agg_before_shuffle(spark):
    df = QUERIES["revenue_per_nation"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    # partial + final hash aggregate pair
    assert plan.count("HashAggregate") >= 2, plan


def test_asof_join_is_single_shuffle_window(spark):
    df = QUERIES["asof_latest_order_per_event"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Window" in plan, plan
    # union + one window shuffle + the keep-last dedup shuffle; no join
    assert "SortMergeJoin" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_range_join_broadcasts_band_side(spark):
    df = QUERIES["range_join_price_bands"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_scan_reads_only_projected_columns(spark):
    df = QUERIES["influence_scores"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "c_mktsegment" not in plan.split("ReadSchema")[1].splitlines()[0], \
        plan


def test_approx_distinct_within_tolerance(spark):
    row = QUERIES["approx_distinct"].fn(spark, SF_SMOKE).collect()[0]
    assert abs(row.approx_users - row.exact_users) <= 0.05 * row.exact_users


@pytest.mark.slow_tier
def test_no_query_plans_cartesian_or_rowwise_python(spark):
    """Registry-wide plan lint — the two 100 TB anti-patterns no
    registered query may ever plan: a CartesianProduct (an unbroadcast
    cross join materializes |A|x|B|) and BatchEvalPython (row-at-a-time
    Python UDF; Arrow-batched nodes — ArrowEvalPython / MapInPandas /
    FlatMapGroupsInPandas* — are the sanctioned Python paths)."""
    bad = {}
    for name, spec in QUERIES.items():
        plan = plan_of(spec.fn(spark, SF_SMOKE))
        hits = [op for op in ("CartesianProduct", "BatchEvalPython")
                if op in plan]
        if hits:
            bad[name] = hits
    assert not bad, f"anti-pattern plan nodes: {bad}"


def test_q7_nation_dims_broadcast_no_cartesian(spark):
    """Q7's dual-role nation joins (and the 100-row supplier) must all
    broadcast; the OR-pair predicate must not degrade the join tree to
    a nested-loop."""
    df = QUERIES["tpch_q7_shape"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "BroadcastHashJoin") >= 3, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q17_decorrelation_scans_lineitem_once(spark):
    """The correlated per-part avg must decorrelate to ONE window over
    ONE fact scan — the naive plan scans lineitem twice (once per
    aggregation) and joins them back."""
    df = QUERIES["tpch_q17_shape"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    import re
    li_scans = len(re.findall(r"^Location: .*lineitem\.parquet",
                              plan, flags=re.M))
    assert li_scans == 1, plan


def test_q19_disjunction_keeps_single_join(spark):
    """The OR-of-ANDs predicate shares one equi-key, so Catalyst must
    keep ONE broadcast hash join (not a union of three joins) and push
    the IsNotNull/key filters to the scans."""
    df = QUERIES["tpch_q19_shape"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "BroadcastHashJoin") == 1, plan
    assert n_nodes(plan, "SortMergeJoin") == 0, plan


def test_q10_topk_before_attribute_join(spark):
    """Q10 aggregates and TakeOrdered-cuts on (custkey, revenue) pairs
    BEFORE joining customer attributes — the 20 survivors then
    broadcast-join, so the wide customer row never rides the shuffle."""
    df = QUERIES["tpch_q10_shape"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_bloom_filter_prunes_probe_side(spark):
    """Runtime bloom-filter pruning: a fact⋈fact join whose build side
    is selectively filtered but NOT broadcastable must inject a
    bloom_filter_agg on the build keys and a might_contain predicate on
    the probe side — at 100 TB this is what keeps a selective orders
    filter from shuffling the whole lineitem table.  Broadcast is
    disabled for the test because at fixture scale every side fits the
    64 MB threshold (where broadcast, strictly better, wins anyway)."""
    pfx = "spark.sql.optimizer.runtime.bloomFilter."
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_app = spark.conf.get(pfx + "applicationSideScanSizeThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # production default is 10GB (don't build blooms for small
        # probes); the fixture probe is tiny, so lower it to exercise
        # the injection path itself
        spark.conf.set(pfx + "applicationSideScanSizeThreshold", "1KB")
        li = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = (spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
             .where(F.col("o_totalprice") > 450000.0))
        j = li.join(o, li.l_orderkey == o.o_orderkey)
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt, opt[:2000]
        assert "might_contain" in opt, opt[:2000]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set(pfx + "applicationSideScanSizeThreshold", old_app)


def test_q21_reuses_orderkey_exchange(spark):
    """Q21's three lineitem roles (late-scan, any-other-supplier pairs,
    late-other-supplier) all hash-partition on l_orderkey; the physical
    plan must reuse at least one Exchange rather than re-shuffling the
    fact three independent times."""
    df = QUERIES["tpch_q21_shape"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "ReusedExchange" in plan or n_nodes(plan, "Exchange") <= 6, plan


def test_footer_stats_scan_pushes_aggregates(spark):
    """min/max/count over a footer_stats_scan must compile to a
    PushedAggregation batch scan (answered from parquet footers, zero
    row groups read) and agree with the row-reading V1 path."""
    from bigdata_project_hust_spark.io import footer_stats_scan
    df = footer_stats_scan(spark, f"{SF_SMOKE}/orders.parquet")
    agg = df.agg(F.min("o_totalprice").alias("mn"),
                 F.max("o_totalprice").alias("mx"),
                 F.count("*").alias("n"))
    phys = agg._jdf.queryExecution().executedPlan().toString()
    assert "PushedAggregation" in phys, phys[:1500]
    got = agg.collect()[0]
    ref = (spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
           .agg(F.min("o_totalprice"), F.max("o_totalprice"),
                F.count("*")).collect()[0])
    assert (got.mn, got.mx, got.n) == tuple(ref)


def test_q9_prunes_fact_below_derived_ps(spark):
    """Q9's part filter must semi-prune the lineitem scan BELOW the
    derived-partsupp aggregate (the pair-granularity commute), all
    dimension joins must broadcast, and nothing may degrade to a
    sort-merge join at this scale."""
    df = QUERIES["tpch_q9_shape"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "LeftSemi" in plan, plan          # the below-agg prune
    assert n_nodes(plan, "SortMergeJoin") == 0, plan
    assert n_nodes(plan, "BroadcastHashJoin") >= 4, plan


def test_q2_min_window_is_per_part_not_global(spark):
    """Q2's decorrelated min must be a window PARTITIONED BY
    ps_partkey — a global (unpartitioned) window would funnel the
    joined slice through one task."""
    df = QUERIES["tpch_q2_shape"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "windowspecdefinition(ps_partkey" in plan, plan


def test_bm25_no_explode_single_stats_broadcast(spark):
    """BM25's tf must be map-side array math (no Generate/explode) and
    the corpus stats must come back as a broadcast, ending in
    TakeOrderedAndProject — the whole query is scan + one 1-row agg."""
    df = QUERIES["bm25_search_topk"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Generate") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan or \
        "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_span_dedup_doc_exchange_serves_window_and_rollup(spark):
    """The sweep window (doc_id) and the final rollup (doc_id) must
    share ONE hash exchange; the span-frequency side rides the span_h
    exchange. More than 3 exchanges means a partitioning was wasted."""
    df = QUERIES["span_dedup_stats"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Exchange") <= 3, plan


def jobs_started(spark, run) -> tuple[object, int]:
    """``run()``'s result and the number of Spark jobs it started,
    counted by a job group of its own."""
    import uuid
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    jobs = conv.asJava(sc._jsc.sc().statusStore().jobsList(None))
    return out, sum(1 for j in jobs if j.jobGroup().isDefined()
                    and j.jobGroup().get() == group)


def test_kmeans_centroids_broadcast_every_iteration(spark):
    """The flat k-means holds its k-row centroid table on the driver and
    ships it inside each round's kernel, so no round joins against it:
    building kmeans_clusters starts exactly 1 + iters jobs (the seed
    collect, then one mapInArrow + treeAggregate per round), and the
    returned plan is the map-only final assignment over the scan — no
    Exchange, no join."""
    from bigdata_project_hust_spark.io import load_table
    from bigdata_project_hust_spark.operators.similarity import (
        kmeans_assign)
    from bigdata_project_hust_spark.plans.analytics_more import (
        _KM_ITERS, _KM_K)
    plan = plan_of(QUERIES["kmeans_clusters"].fn(spark, SF_SMOKE))
    assert n_nodes(plan, "Exchange") == 0, plan
    assert "Join" not in plan and "CartesianProduct" not in plan, plan
    assert n_nodes(plan, "MapInArrow") == 1, plan
    # the table load starts its own schema-inference job: load first
    emb = load_table(spark, SF_SMOKE, "embeddings")
    _, jobs = jobs_started(
        spark, lambda: kmeans_assign(emb, k=_KM_K, iters=_KM_ITERS))
    assert jobs == 1 + _KM_ITERS


def test_pagerank_reuses_invariant_exchanges(spark):
    """The loop-invariant edge/degree subplans must dedup via
    ReusedExchange instead of re-shuffling per iteration. Reuse is an
    AQE runtime decision, so the gate inspects the FINAL adaptive plan
    (after execution), not the static one."""
    df = QUERIES["pagerank_trade_graph"].fn(spark, SF_SMOKE)
    df.collect()
    plan = plan_of(df)
    assert "isFinalPlan=true" in plan, plan
    assert plan.count("ReusedExchange") >= 2, plan


def test_pyds_scan_plans_batch_source(spark):
    """The custom connector must appear as a v2 BatchScan feeding a
    partial/final agg pair — not a collect-and-parallelize."""
    df = QUERIES["pyds_customer_scan"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BatchScan" in plan, plan
    assert n_nodes(plan, "HashAggregate") == 2, plan


def test_gopher_rules_zero_shuffle(spark):
    """The Gopher rule filter is a pure projection — any Exchange in
    its plan means a rule accidentally became an aggregate."""
    df = QUERIES["gopher_quality_filter"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Exchange") == 0, plan
    assert n_nodes(plan, "Generate") == 0, plan


def test_semantic_dedup_pair_join_not_cartesian(spark):
    """SemDeDup's pairs are only formed inside a (cluster_id, code)
    group by the verify kernel (bounded Σ|cluster|²), never by a
    cartesian product."""
    df = QUERIES["semantic_dedup"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "CartesianProduct" not in plan, plan
    assert n_nodes(plan, "FlatMapGroupsInArrow") == 1, plan


def test_semantic_dedup_job_budget(spark, monkeypatch):
    """One semantic_dedup build + collect starts at most 10 Spark jobs
    (21 with the SQL k-means loop and the self-join verify) and takes
    no checkpoint barrier: the members frame has one consumer."""
    import sys

    from bigdata_project_hust_spark import checkpoint

    calls = []
    for name in ("materialize", "materialize_counted"):
        real = getattr(checkpoint, name)

        def counting(*args, _real=real, **kwargs):
            calls.append(args)
            return _real(*args, **kwargs)
        for mod in list(sys.modules.values()):
            if (getattr(mod, "__name__", "").startswith(
                    "bigdata_project_hust_spark")
                    and getattr(mod, name, None) is real):
                monkeypatch.setattr(mod, name, counting)
    rows, jobs = jobs_started(
        spark, lambda: QUERIES["semantic_dedup"].fn(spark, SF_SMOKE).collect())
    assert rows
    assert jobs <= 10, jobs
    assert calls == []


def test_graph_kernels_job_budget(spark):
    """The curation benchmark's two graph jobs, built and collected at
    SF_SMOKE: clustering_coefficient is one edge fetch plus one kernel
    pass (at most 6 Spark jobs; 20 with the wedge-join plan), and the
    one-partition dup graph's connected components end after the
    partition-local union-find (at most 10; 31 with two
    star-contraction rounds and their signature jobs)."""
    for name, budget in (("clustering_coefficient", 6),
                         ("dedup_components_twophase", 10)):
        rows, jobs = jobs_started(
            spark, lambda: QUERIES[name].fn(spark, SF_SMOKE).collect())
        assert rows, name
        assert jobs <= budget, (name, jobs)


def test_ccnet_cutoffs_broadcast_no_global_sort(spark):
    """The quartile cutoffs are a 1-row aggregate broadcast over the
    corpus — a global Sort (or a single-partition window Exchange)
    would be the 100 TB anti-pattern this query exists to avoid."""
    df = QUERIES["ccnet_perplexity_buckets"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Sort") == 0, plan
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0] \
        or "BroadcastNestedLoopJoin" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_bpe_counts_over_vocab_not_corpus(spark):
    """BPE pair counting must factor through the vocabulary: exactly
    two hash aggregates (corpus→vocab, pairs→counts) and a final
    TakeOrderedAndProject — a third agg or a global Sort means the
    pair explode ran over corpus rows."""
    df = QUERIES["bpe_top_merges"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert n_nodes(plan, "Exchange") <= 2, plan


def test_tukey_cutoffs_broadcast_no_sort(spark):
    df = QUERIES["tukey_outlier_events"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Sort") == 0, plan
    assert "BroadcastNestedLoopJoin" in plan, plan


def test_event_funnel_single_wide_exchange(spark):
    """The funnel's only data-sized shuffle is the user aggregation:
    the two downstream exchanges move <= |stages|+1 rows. No Window
    chain (5-shuffle formulation), no plan-duplicating self-join."""
    df = QUERIES["event_funnel"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Exchange") <= 3, plan
    assert n_nodes(plan, "Window") <= 1, plan  # the tiny share window


def test_retention_two_exchanges_no_window(spark):
    """Retention = groupBy(user) then groupBy(cohort, offset): exactly
    two exchanges, the de-dup folded into collect_set — no Window, no
    separate distinct pass."""
    df = QUERIES["retention_cohorts"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Exchange") == 2, plan
    assert n_nodes(plan, "Window") == 0, plan


def test_hll_register_agg_combines_map_side(spark):
    """The register max must partial-aggregate before its exchange
    (the shuffle carries <= 256 rows per task, not the corpus)."""
    df = QUERIES["hll_distinct_orderkeys"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "partial_max" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_subword_piece_counts_plan(spark):
    """The greedy subword fold is a pure nested-HOF projection — a
    Generate means the per-word loop became an explode/agg. One
    round-robin Exchange (the scan spread gated on partition count) is
    the only shuffle allowed: the fold is the engine's CPU-heaviest
    per-row projection and the fixture scan is one task, so spreading
    it is the one input spread the r10/r11 driver benches confirmed as
    a real win (1.37x at 32 cores, the suite's best 8->32 core
    scaling)."""
    df = QUERIES["subword_piece_counts"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "Exchange") <= 1, plan
    assert n_nodes(plan, "Generate") == 0, plan


def test_pq_adc_scan_broadcasts_model_tables(spark):
    """PQ ADC: codebook + distance-table joins must be broadcast (the
    model side is m_sub·ks rows) and the top-k must be
    TakeOrderedAndProject, not a global Sort."""
    df = QUERIES["pq_adc_topk"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_bloom_prune_is_map_side_before_join(spark):
    """The Bloom prune must reach the fact scan via broadcast word
    joins — every join with the 2048-word table broadcasts; no
    shuffle carries unpruned fact rows to the word table."""
    df = QUERIES["bloom_pruned_revenue"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    # probes are broadcast EQUI-joins (codegen) — a cross join with a
    # packed filter row pushes the probe predicate into an INTERPRETED
    # BroadcastNestedLoopJoin condition (measured 3.4 s of pure filter
    # at sf0.1 vs 0.3 s here)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # static plan: k identical word-table builds + final groupBy (AQE
    # dedupes the builds at runtime via ReusedExchange, the pagerank
    # pattern); the essential property is that NO exchange ever
    # carries fact rows — all fact-side joins broadcast the word side
    assert n_nodes(plan, "Exchange") <= 6, plan
    assert n_nodes(plan, "BroadcastHashJoin") >= 6, plan


def test_priority_sample_is_take_ordered(spark):
    """Priority sampling's global top-n must plan as
    TakeOrderedAndProject (per-partition n + driver merge), never a
    full Sort of the corpus."""
    df = QUERIES["weighted_doc_sample"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_triplet_audit_broadcasts_anchor_sample(spark):
    """The n²-bounded audits must put the SAMPLE on the broadcast side
    and stream the corpus ONCE: the similarity block is the shared
    vectorized kernel (one MapInPandas over the corpus scan, the
    anchor matrix riding a broadcast variable) — never a
    CartesianProduct, no join at all on the exact side, and the only
    exchanges are the per-anchor/per-label aggs."""
    df = QUERIES["triplet_violation_audit"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "MapInPandas") == 1, plan
    assert "CartesianProduct" not in plan, plan
    assert n_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan
    # anchor agg + label agg + the report orderBy's range partition
    assert n_nodes(plan, "Exchange") <= 3, plan


def test_als_checkpoint_truncates_fact_join(spark):
    """als_rank1 materializes the ratings edge list once: the executed
    plan must scan the checkpointed RDD, not re-run the orders ⋈
    lineitem join per half-step (AQE does not reuse that exchange —
    measured)."""
    df = QUERIES["als_rank1_item_factors"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "Scan ExistingRDD" in plan, plan
    # the fact tables must be absent from the iterate's lineage
    assert "lineitem" not in plan and "orders" not in plan, plan


def test_boilerplate_two_level_agg_on_hash_keys(spark):
    """boilerplate_strip shuffles segment HASHES (8-byte keys), never
    segment text: the exchange keys are (src, __h), and the rollup
    reuses the same grouping chain (no join back to the corpus)."""
    df = QUERIES["boilerplate_strip_report"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert "hashpartitioning(src" in plan, plan
    assert n_nodes(plan, "SortMergeJoin") <= 1, plan  # totals⋈boiler only


def test_clustering_coefficient_single_degree_agg(spark):
    """VERDICT r5 #4: degrees are computed ONCE — by the triangle
    kernel, next to each node's count — so the final plan is one
    MapInArrow over the task range plus one node-keyed agg: no
    endpoint-Union degree aggregate, no join, no cartesian product and
    no trailing global sort (output is unordered by default)."""
    df = QUERIES["clustering_coefficient"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "MapInArrow") == 1, plan
    assert n_nodes(plan, "Union") == 0, plan
    assert n_nodes(plan, "HashAggregate") == 2, plan  # partial + final
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert n_nodes(plan, "TakeOrderedAndProject") == 0, plan


def test_lpa_broadcasts_labels_no_edge_shuffle(spark, monkeypatch):
    """Under the 4M-edge gate every LPA round joins the edge frame
    against a BROADCAST label table, never shuffling the edges. Rounds
    materialize (r7: left lazy, round r's broadcast build re-ran
    rounds 1..r-1 — O(rounds²)), so the FINAL plan shows exactly the
    last round: one BroadcastHashJoin, zero sort-merge joins. The
    per-round shape itself is pinned on an unmaterialized single-round
    run."""
    from bigdata_project_hust_spark.operators import graph
    from bigdata_project_hust_spark import io as gio
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_STRATEGY", "local")
    df = QUERIES["lpa_communities_parts"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "BroadcastHashJoin") == 1, plan
    assert n_nodes(plan, "SortMergeJoin") == 0, plan
    edges = graph.copurchase_edges(
        gio.load_table(spark, SF_SMOKE, "lineitem"))
    # round 1 runs in closed form (min-neighbor agg — all vote counts
    # are 1 on a distinct symmetric edge list): NO join at all
    p1 = plan_of(graph.lpa_communities(edges, rounds=1,
                                       edges_canonical=True))
    assert n_nodes(p1, "BroadcastHashJoin") == 0, p1
    assert n_nodes(p1, "SortMergeJoin") == 0, p1
    # the generic round (2+) is one broadcast label join, no shuffle
    # of the edge frame
    p2 = plan_of(graph.lpa_communities(edges, rounds=2,
                                       edges_canonical=True))
    assert n_nodes(p2, "BroadcastHashJoin") == 1, p2
    assert n_nodes(p2, "SortMergeJoin") == 0, p2


def test_triangle_closure_probe_packed_broadcast(spark):
    """The triangle closure probe runs inside ONE MapInArrow kernel:
    each task probes its wedges' packed rank keys (u·n + v) against
    the broadcast CSR's sorted edge keys, so the plan holds no join at
    all — no wedge self-join, no closure-probe join, no cartesian
    product — and degrees are computed once, in the driver's CSR build
    (no endpoint-Union agg)."""
    df = QUERIES["triangle_count_copurchase"].fn(spark, SF_SMOKE)
    plan = plan_of(df)
    assert n_nodes(plan, "MapInArrow") == 1, plan
    assert "Join" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert n_nodes(plan, "Union") == 0, plan
