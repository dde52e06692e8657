"""Round-5 operators: hand-value unit tests + 100 TB plan gates for
link prediction, Naive Bayes, PMI, CUSUM/EWMA/autocorr, RRF fusion."""

from __future__ import annotations

import pytest

import math
import os
from datetime import datetime

from pyspark.sql import functions as F

from bigdata_project_hust_spark.operators.eventflow import (
    autocorr_lag1, cusum_drift_alerts, ewma_recent)
from bigdata_project_hust_spark.operators.graph import link_prediction
from bigdata_project_hust_spark.operators.text import (
    nb_lang_classifier, pmi_bigrams)
from bigdata_project_hust_spark.plans.queries import QUERIES

from .conftest import SF_SMOKE
from .test_plans import n_nodes, plan_of


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "pa long, pb long")


def _events(spark, tmp_path, rows):
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string") \
        .write.mode("overwrite") \
        .parquet(os.path.join(d, "events.parquet"))
    return d


# ---------------------------------------------------------------------------
# link prediction
# ---------------------------------------------------------------------------

def test_link_prediction_path_graph(spark):
    """Path 1-2-3: the only candidate is (1,3) through center 2 —
    cn=1, union=|Γ1 ∪ Γ3|=1, jaccard=1e6, ra=floor(1e6/deg(2)=2)."""
    out = link_prediction(_edges(spark, [(1, 2), (2, 3)])).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["u"], r["v"], r["cn"]) == (1, 3, 1)
    assert r["union_sz"] == 1 and r["jaccard_e6"] == 1_000_000
    assert r["ra_e6"] == 500_000


def test_link_prediction_excludes_existing_edges(spark):
    """A triangle has no non-adjacent pairs — empty output."""
    out = link_prediction(
        _edges(spark, [(1, 2), (1, 3), (2, 3)])).collect()
    assert out == []


def test_link_prediction_degree_cap(spark):
    """A star hub above the cap contributes no wedges: leaves share
    only the hub, so capping it empties the candidate set."""
    star = [(0, i) for i in range(1, 6)]
    assert len(link_prediction(_edges(spark, star)).collect()) == 10
    assert link_prediction(_edges(spark, star),
                           max_degree=4).collect() == []


def test_link_prediction_no_cartesian(spark):
    plan = plan_of(QUERIES["link_prediction_copurchase"]
                   .fn(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


# ---------------------------------------------------------------------------
# Naive Bayes classifier
# ---------------------------------------------------------------------------

def test_nb_classifier_separates_stopword_classes(spark):
    """Docs dominated by each language's stopwords classify to that
    language; the shared-vocab doc follows its majority tokens."""
    rows = [(0, "the and of to in is a the and"),
            (1, "el la de que y en un el la"),
            (2, "le la de et les des un le"),
            (3, "the and of el the and the of")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["nb_pred"]
           for r in nb_lang_classifier(df).collect()}
    assert got[0] == "en" and got[1] == "es" and got[3] == "en"
    # doc 2 is French-stopword-heavy; 'la'/'de'/'un' overlap with es,
    # but 'le'/'et'/'les'/'des' only count for fr
    assert got[2] == "fr"


def test_nb_scores_are_integers_and_ordered(spark):
    rows = [(0, "the and of to in"), (1, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in nb_lang_classifier(df).collect()}
    r0 = out[0]
    assert r0["score_en_e6"] > r0["score_es_e6"]
    assert isinstance(r0["score_en_e6"], int)
    # token-less doc still classifies (prior-only scores)
    assert out[1]["nb_pred"] in ("en", "es", "fr")


def test_nb_plan_broadcasts_model(spark):
    """The vocab-sized model and the 1-row stats ride broadcasts; the
    doc-keyed token⋈label joins MAY sort-merge (both sides are corpus-
    scale — broadcasting them would be the 100 TB mistake), and no
    join may degenerate to a conditioned nested-loop or cartesian."""
    plan = plan_of(QUERIES["nb_lang_classifier"].fn(spark, SF_SMOKE))
    assert n_nodes(plan, "BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

def test_pmi_hand_counts(spark):
    """Corpus 'a b a b' + 'a b c': c2(a,b)=3, c1(a)=c1(b)=3, N1=7,
    N2=5 → PMI=ln(3·49/(5·9)); only (a,b) survives min_count=3."""
    df = spark.createDataFrame([(0, "a b a b"), (1, "a b c")],
                               "doc_id long, text string")
    out = pmi_bigrams(df, min_count=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["w1"], r["w2"], r["c2"], r["c1a"], r["c1b"]) == \
        ("a", "b", 3, 3, 3)
    assert r["pmi_e6"] == math.floor(
        math.log(((3.0 * 7) * 7) / ((5.0 * 3) * 3)) * 1_000_000)


def test_pmi_single_token_docs_no_bigrams(spark):
    df = spark.createDataFrame([(0, "solo"), (1, ""), (2, "x y")],
                               "doc_id long, text string")
    out = pmi_bigrams(df, min_count=1).collect()
    assert [(r["w1"], r["w2"], r["c2"]) for r in out] == [("x", "y", 1)]


def test_pmi_plan_broadcasts_and_takeordered(spark):
    plan = plan_of(QUERIES["pmi_collocations"].fn(spark, SF_SMOKE))
    assert n_nodes(plan, "BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


# ---------------------------------------------------------------------------
# CUSUM / EWMA / autocorrelation
# ---------------------------------------------------------------------------

def _ev_rows(user, values, t0=0):
    return [(user * 1000 + i,
             datetime(2024, 1, 1, 0, (t0 + i) // 60, (t0 + i) % 60),
             user, "view", v, "{}") for i, v in enumerate(values)]


def test_cusum_hand_series(spark, tmp_path):
    """[0.10×3, 0.30×3]: target=20c, prefix drifts reach min −30 then
    climb back — CUSUM max 30, below h → no alarm."""
    d = _events(spark, tmp_path, _ev_rows(1, [0.10] * 3 + [0.30] * 3))
    r = cusum_drift_alerts(spark.read.parquet(
        os.path.join(d, "events.parquet"))).collect()[0]
    assert (r["n_events"], r["target_c"]) == (6, 20)
    assert r["cusum_max_c"] == 30
    assert r["alarm_event_id"] == -1


def test_cusum_alarm_fires_at_first_crossing(spark, tmp_path):
    """[0, 100.0]: drift +5000c on the second event crosses h=2000 —
    the alarm pins that event id."""
    d = _events(spark, tmp_path, _ev_rows(2, [0.0, 100.0]))
    r = cusum_drift_alerts(spark.read.parquet(
        os.path.join(d, "events.parquet"))).collect()[0]
    assert r["cusum_max_c"] == 5000
    assert r["alarm_event_id"] == 2001


def test_cusum_single_exchange_no_collect(spark):
    plan = plan_of(QUERIES["cusum_drift_alerts"].fn(spark, SF_SMOKE))
    # both window passes and the final agg share hashpartitioning(u)
    assert n_nodes(plan, "Exchange") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_ewma_hand_fold(spark, tmp_path):
    """[0.10, 0.30] → (0+640)/2=320, (320+1920)/2=1120."""
    d = _events(spark, tmp_path, _ev_rows(1, [0.10, 0.30]))
    r = ewma_recent(spark.read.parquet(
        os.path.join(d, "events.parquet"))).collect()[0]
    assert (r["n_tail"], r["ewma_c64"]) == (2, 1120)


def test_ewma_tail_bounds_fold(spark, tmp_path):
    """70 identical values: only the last 64 fold, and a constant
    stream converges to value·64 (= fixed point of (s+v·64)/2...
    with floor, 1.00 → 6400−ulp region; assert n_tail and the exact
    converged integer)."""
    d = _events(spark, tmp_path, _ev_rows(1, [1.0] * 70))
    r = ewma_recent(spark.read.parquet(
        os.path.join(d, "events.parquet"))).collect()[0]
    assert r["n_tail"] == 64
    # fold s←(s+6400)/2 from 0 converges to 6399 after >=13 steps
    # (floor keeps it one below the 6400 fixed point)
    assert r["ewma_c64"] == 6399


def test_autocorr_perfect_and_anti(spark, tmp_path):
    rows = _ev_rows(1, [1.0, 2.0, 3.0, 4.0]) + \
        _ev_rows(2, [1.0, 5.0, 1.0, 5.0, 1.0]) + \
        _ev_rows(3, [7.0])
    d = _events(spark, tmp_path, rows)
    got = {r["user_id"]: r for r in autocorr_lag1(
        spark.read.parquet(os.path.join(d, "events.parquet"))).collect()}
    assert got[1]["autocorr_e6"] == 1_000_000
    assert got[2]["autocorr_e6"] == -1_000_000
    # single event → no pairs → user absent (no lag rows)
    assert 3 not in got


# ---------------------------------------------------------------------------
# RRF fusion
# ---------------------------------------------------------------------------

def test_rrf_scores_consistent_with_ranks(spark):
    out = QUERIES["retrieval_rrf_fusion"].fn(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 10

    def rr(rank):
        return 0 if rank == -1 else math.floor(1e9 / (60 + rank))
    for r in out:
        assert r["rrf_e9"] == rr(r["bm25_rank"]) + rr(r["vec_rank"])
    scores = [r["rrf_e9"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_rrf_plan_is_takeordered(spark):
    plan = plan_of(QUERIES["retrieval_rrf_fusion"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


# ---------------------------------------------------------------------------
# winsorize / MAD / temperature mix / vocab coverage
# ---------------------------------------------------------------------------

def test_winsorize_hand_ranks(spark, tmp_path):
    """Values 1.00..10.00 in one group: p10=rank 1 (100c), p90=rank 9
    (900c); only the 1000c row clips high; clipped sum = 4500+900."""
    from bigdata_project_hust_spark.operators.quality import (
        winsorize_groups)
    d = _events(spark, tmp_path,
                _ev_rows(1, [float(i) for i in range(1, 11)]))
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    v = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    r = winsorize_groups(ev, "event_type", v, "event_id").collect()[0]
    assert (r["n_rows"], r["lo_c"], r["hi_c"]) == (10, 100, 900)
    assert r["sum_clipped"] == 5400
    assert (r["n_clip_lo"], r["n_clip_hi"]) == (0, 1)


def test_mad_outliers_robust_to_the_outlier(spark, tmp_path):
    """[1,1,1,1,100]: median 100c, MAD 0 — only the 100.00 row flags
    (a 3σ rule would have been dragged by the outlier itself)."""
    from bigdata_project_hust_spark.operators.quality import mad_outliers
    d = _events(spark, tmp_path, _ev_rows(1, [1.0] * 4 + [100.0]))
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    v = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    r = mad_outliers(ev, "event_type", v, "event_id").collect()[0]
    assert (r["median_c"], r["mad_c"], r["n_outliers"]) == (100, 0, 1)


def test_temperature_mix_upweights_small_sources(spark):
    """n=16 vs n=1 at α=0.7: shares follow 16^0.7 : 1 and the small
    source's boost exceeds 1e6 (oversampled), the big one's is
    below."""
    from bigdata_project_hust_spark.operators.curation import (
        temperature_mix)
    rows = [(i, "x", "big") for i in range(16)] + [(99, "y", "small")]
    df = spark.createDataFrame(rows, "doc_id long, text string, "
                                     "source string")
    got = {r["source"]: r for r in temperature_mix(df).collect()}
    w_big = math.floor(math.exp(0.7 * math.log(16.0)) * 1e6)
    w_small = math.floor(math.exp(0.7 * math.log(1.0)) * 1e6)
    assert got["big"]["w_e6"] == w_big
    assert got["small"]["w_e6"] == w_small
    tot = w_big + w_small
    assert got["big"]["share_e6"] == math.floor(w_big * 1e6 / tot)
    assert got["small"]["boost_e6"] > 1_000_000
    assert got["big"]["boost_e6"] < 1_000_000


def test_vocab_coverage_hand_curve(spark):
    """'a'×9 + 'b'×1: 50% and 90% need 1 term (cum 9/10), 99% needs
    both."""
    from bigdata_project_hust_spark.operators.text import vocab_coverage
    df = spark.createDataFrame([(0, "a a a a a a a a a b")],
                               "doc_id long, text string")
    got = {r["threshold_pct"]: r for r in vocab_coverage(df).collect()}
    assert got[50]["vocab_size"] == 1 and got[50]["covered_tokens"] == 9
    assert got[90]["vocab_size"] == 1
    assert got[99]["vocab_size"] == 2
    assert got[99]["covered_tokens"] == 10
    assert got[99]["total_tokens"] == 10


def test_engine_facade_round5_surface(spark):
    """Facade smoke for the round-5 additions."""
    from bigdata_project_hust_spark.api import Engine
    from bigdata_project_hust_spark.operators.graph import copurchase_edges
    eng = Engine(spark, SF_SMOKE)
    rp = (link_prediction(copurchase_edges(eng.table("lineitem")),
                          max_degree=200)
          .orderBy(F.col("cn").desc(), F.col("ra_e6").desc(), "u", "v")
          .limit(5))
    assert set(rp.columns) == {"u", "v", "cn", "union_sz",
                               "jaccard_e6", "ra_e6"}
    assert rp.count() <= 5
    assert "nb_pred" in eng.query("nb_lang_classifier").columns
    assert {"w1", "w2", "pmi_e6"} <= set(
        eng.query("pmi_collocations").columns)
    assert "alarm_event_id" in eng.query("cusum_drift_alerts").columns
    assert "ewma_c64" in eng.query("ewma_recent_value").columns
    assert "autocorr_e6" in eng.query("autocorr_lag1_user").columns
    assert eng.query("retrieval_rrf_fusion").count() <= 10
    assert "sum_clipped" in eng.query("winsorize_event_values").columns
    assert "mad_c" in eng.query("mad_outlier_values").columns
    mw = eng.query("source_temperature_mix")
    assert {"share_e6", "boost_e6"} <= set(mw.columns)
    assert eng.query("vocab_coverage_curve").count() == 3


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A partitioned fact joined with a filtered broadcast dim on the
    partition column must carry a dynamicpruning expression in the
    fact scan's PartitionFilters — the runtime skip that turns a
    full-layout scan into one directory at cluster scale."""
    from bigdata_project_hust_spark.operators.scale import (
        dpp_join, write_partitioned)
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    path = os.path.join(str(tmp_path), "orders_by_priority")
    write_partitioned(orders, path, "o_orderpriority")
    dim = spark.createDataFrame(
        [("1-URGENT", 1), ("3-MEDIUM", 0)],
        "o_orderpriority string, keep int")
    df = dpp_join(spark, path, "o_orderpriority", dim,
                  F.col("keep") == 1)
    plan = plan_of(df)
    assert "dynamicpruning" in plan.lower(), plan
    # and the result only contains the kept partition
    vals = {r["o_orderpriority"] for r in df.collect()}
    assert vals == {"1-URGENT"}


# ---------------------------------------------------------------------------
# snapshot diff / attribution / term drift
# ---------------------------------------------------------------------------

def test_snapshot_diff_iud(spark):
    from bigdata_project_hust_spark.operators.joins import snapshot_diff
    old = spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                                "k long, p long")
    new = spark.createDataFrame([(2, 20), (3, 31), (4, 40)],
                                "k long, p long")
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, "k", ["p"]).collect()}
    assert got == {1: "D", 3: "U", 4: "I"}


def test_snapshot_diff_null_vs_string_column(spark):
    """(NULL,'x') must not fingerprint equal to ('x',NULL) — the
    concat_ws null-skip trap the 'N' placeholder exists for."""
    from bigdata_project_hust_spark.operators.joins import snapshot_diff
    old = spark.createDataFrame([(1, None, "x")],
                                "k long, a string, b string")
    new = spark.createDataFrame([(1, "x", None)],
                                "k long, a string, b string")
    got = snapshot_diff(old, new, "k", ["a", "b"]).collect()
    assert [(r["k"], r["change_type"]) for r in got] == [(1, "U")]


def test_attribution_last_touch_and_window(spark, tmp_path):
    """User 1: view(t0) click(t1) purchase(t2) attributes to the view;
    user 2's purchase has no preceding view; user 3's only view is
    2 days before the purchase — outside the window."""
    rows = [
        (11, datetime(2024, 1, 1, 10, 0, 0), 1, "view", 1.0, "{}"),
        (12, datetime(2024, 1, 1, 10, 5, 0), 1, "click", 1.0, "{}"),
        (13, datetime(2024, 1, 1, 10, 9, 0), 1, "view", 1.0, "{}"),
        (14, datetime(2024, 1, 1, 11, 0, 0), 1, "purchase", 1.0, "{}"),
        (21, datetime(2024, 1, 1, 9, 0, 0), 2, "purchase", 1.0, "{}"),
        (31, datetime(2024, 1, 1, 8, 0, 0), 3, "view", 1.0, "{}"),
        (32, datetime(2024, 1, 3, 8, 0, 0), 3, "purchase", 1.0, "{}"),
    ]
    d = _events(spark, tmp_path, rows)
    from bigdata_project_hust_spark.operators.eventflow import (
        purchase_attribution)
    got = {r["purchase_id"]: (r["attributed_view_id"], r["gap_s"])
           for r in purchase_attribution(
               spark.read.parquet(
                   os.path.join(d, "events.parquet"))).collect()}
    assert got[14] == (13, 51 * 60)      # LATEST view, not the first
    assert got[21] == (-1, -1)
    assert got[32] == (-1, -1)           # outside the 1-day window


def test_term_drift_extreme_split(spark):
    """A-docs say only 'aaa', B-docs only 'bbb': both terms score the
    maximal chi² (=N) with opposite signs."""
    from bigdata_project_hust_spark.operators.text import term_drift_chi2
    rows = [(i, "aaa aaa aaa", "src0") for i in range(2)] + \
           [(9 + i, "bbb bbb bbb", "src15") for i in range(2)]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, source string")
    cond = F.substring("source", 4, 8).cast("long") < 10
    got = {r["t"]: r for r in term_drift_chi2(df, cond,
                                              min_total=1).collect()}
    assert got["aaa"]["sign"] == 1 and got["bbb"]["sign"] == -1
    assert got["aaa"]["chi2_e6"] == 12 * 1_000_000  # N = 12 tokens
    assert got["aaa"]["a"] == 6 and got["aaa"]["b"] == 0


def test_ols_recovers_exact_plane(spark, tmp_path):
    """Rows generated from y = 100 + 2·x1 + 3·x2 (no noise) fit back
    to exactly (100e6, 2e6, 3e6) — the closed form is exact when the
    residual is zero."""
    from bigdata_project_hust_spark.plans.round5 import q_ols_price_model
    # cents are kept multiples of 25 so dollars = cents/100 is
    # binary-exact and floor(dollars·100) reproduces them exactly
    pts = [(5, 30), (10, 85), (15, 40), (25, 0), (35, 10)]
    rows = [("A", float(x1), x2 / 10000.0,
             (100 + 2 * x1 + 3 * x2) / 100.0) for x1, x2 in pts]
    assert all((100 + 2 * x1 + 3 * x2) % 25 == 0 for x1, x2 in pts)
    d = str(tmp_path)
    spark.createDataFrame(
        rows, "l_returnflag string, l_quantity double, "
              "l_discount double, l_extendedprice double") \
        .write.parquet(os.path.join(d, "lineitem.parquet"))
    r = q_ols_price_model(spark, d).collect()[0]
    assert (r["b0_e6"], r["b1_e6"], r["b2_e6"]) == \
        (100_000_000, 2_000_000, 3_000_000)


def test_ols_degenerate_group_zero_betas(spark, tmp_path):
    """A single-point group has det 0 — coefficients emit as 0, not
    NaN/error."""
    from bigdata_project_hust_spark.plans.round5 import q_ols_price_model
    d = str(tmp_path)
    spark.createDataFrame(
        [("B", 1.0, 0.01, 5.0)],
        "l_returnflag string, l_quantity double, l_discount double, "
        "l_extendedprice double") \
        .write.parquet(os.path.join(d, "lineitem.parquet"))
    r = q_ols_price_model(spark, d).collect()[0]
    assert (r["b0_e6"], r["b1_e6"], r["b2_e6"]) == (0, 0, 0)


def test_recursive_cte_walks_full_hierarchy(spark):
    from bigdata_project_hust_spark.plans.round5 import (
        q_recursive_cte_depths)
    got = {r["depth"]: r["n_nodes"]
           for r in q_recursive_cte_depths(spark, SF_SMOKE).collect()}
    n_cust = spark.read.parquet(f"{SF_SMOKE}/customer.parquet").count()
    n_ord = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").count()
    assert got == {0: 5, 1: 25, 2: n_cust, 3: n_ord}


def test_pipe_syntax_matches_dataframe_twin(spark):
    from bigdata_project_hust_spark.plans.round5 import (
        q_pipe_syntax_orders)
    got = {r["o_orderpriority"]: (r["n_orders"], r["sum_price_c"])
           for r in q_pipe_syntax_orders(spark, SF_SMOKE).collect()}
    twin = (spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
            .where(F.col("o_orderstatus") == "O")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"),
                 F.sum(F.floor(F.col("o_totalprice") * 100)
                       .cast("long")).alias("s")))
    want = {r["o_orderpriority"]: (r["n"], r["s"])
            for r in twin.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# basket lift / key skew / zipf / personalized pagerank
# ---------------------------------------------------------------------------

def test_basket_lift_hand_counts(spark, tmp_path):
    """Baskets {a,b,c},{a,b},{a,b},{a,c}: support(a,b)=3 of N=4,
    s1(a)=4, s1(b)=3 → confidence 750000, lift exactly 1e6."""
    from bigdata_project_hust_spark.operators.graph import (
        basket_lift_pairs)
    rows = [(1, 100), (1, 200), (1, 300), (2, 100), (2, 200),
            (3, 100), (3, 200), (4, 100), (4, 300)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    out = basket_lift_pairs(li, min_support=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["pa"], r["pb"], r["support"]) == (100, 200, 3)
    assert (r["s1a"], r["s1b"]) == (4, 3)
    assert r["confidence_e6"] == 750_000
    assert r["lift_e6"] == 1_000_000


def test_key_skew_hand_gini(spark):
    """Counts {k1:3, k2:1}: Gini = (2·(1·1+2·3) − 3·4)/(2·4) =
    0.25; p99 count = 3; heaviest key is k1."""
    from bigdata_project_hust_spark.operators.scale import (
        key_skew_report)
    df = spark.createDataFrame([(1,), (1,), (1,), (2,)], "k long")
    r = key_skew_report(df, "k").collect()[0]
    assert (r["n_rows"], r["n_keys"]) == (4, 2)
    assert (r["max_key"], r["max_cnt"]) == (1, 3)
    assert r["p99_cnt"] == 3
    assert r["gini_e6"] == 250_000


def test_key_skew_uniform_gini_near_zero(spark):
    from bigdata_project_hust_spark.operators.scale import (
        key_skew_report)
    df = spark.createDataFrame([(i,) for i in range(8)], "k long")
    r = key_skew_report(df, "k").collect()[0]
    # uniform: gini = (2·Σrn − (K+1)·K)/(K·K) = 0... floor keeps 0
    assert r["gini_e6"] == 0 and r["max_cnt"] == 1


def test_zipf_fit_matches_quantized_reference(spark):
    """Mirror the quantize-then-OLS computation in python on a tiny
    corpus and compare exactly."""
    from bigdata_project_hust_spark.operators.text import zipf_fit
    df = spark.createDataFrame(
        [(0, "a a a a b b c")], "doc_id long, text string")
    r = zipf_fit(df).collect()[0]
    counts = sorted([4, 2, 1], reverse=True)
    xs = [math.floor(math.log(float(i + 1)) * 1e6)
          for i in range(len(counts))]
    ys = [math.floor(math.log(float(c)) * 1e6) for c in counts]
    n = float(len(counts))
    sx, sy = float(sum(xs)), float(sum(ys))
    sxx = float(sum(x * x for x in xs))
    sxy = float(sum(x * y for x, y in zip(xs, ys)))
    den = (n * sxx) - (sx * sx)
    slope = ((n * sxy) - (sx * sy)) / den
    assert r["n_terms"] == 3 and r["total_tokens"] == 7
    assert r["alpha_e6"] == math.floor(-slope * 1_000_000)
    assert r["intercept_e6"] == math.floor((sy - (slope * sx)) / n)
    assert 0 < r["alpha_e6"] < 3_000_000  # plausibility


def test_ppr_one_iteration_hand_values(spark):
    """Path 1–2–3 (both directions), source 1, one iteration:
    r(1)=450e6 (restart only), r(2)=2550e6 (walk mass from the
    source), r(3)=0."""
    from bigdata_project_hust_spark.operators.graph import (
        personalized_pagerank)
    e = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long")
    got = {r["node"]: r["ppr_e9"]
           for r in personalized_pagerank(e, iters=1).collect()}
    assert got == {1: 450_000_000, 2: 2_550_000_000, 3: 0}


def test_ppr_mass_concentrates_near_source(spark):
    """After 3 iterations on the trade graph the source keeps a top
    rank and total mass stays positive near |V|·SCALE·(walk decay)."""
    from bigdata_project_hust_spark.plans.round5 import q_ppr_trade_graph
    out = q_ppr_trade_graph(spark, SF_SMOKE)
    rows = out.collect()
    src = min(r["node"] for r in rows)
    by_rank = sorted(rows, key=lambda r: -r["ppr_e9"])
    assert by_rank[0]["node"] == src
    assert sum(r["ppr_e9"] for r in rows) > 0


def test_ams_exact_side_and_determinism(spark):
    """exact = Σ c_A(k)·c_B(k) on hand multiplicities; the sketch
    estimate is deterministic run-to-run (hash-derived, no RNG)."""
    import pytest
    from bigdata_project_hust_spark.operators.sketches import (
        ams_join_size)
    a = spark.createDataFrame([(1,), (1,), (2,), (3,)], "k long")
    b = spark.createDataFrame([(1,), (2,), (2,), (9,)], "k long")
    r1 = ams_join_size(a, "k", b, "k").collect()[0]
    r2 = ams_join_size(a, "k", b, "k").collect()[0]
    assert r1["exact_join_size"] == 2 * 1 + 1 * 2  # k=1: 2·1, k=2: 1·2
    assert r1["est_join_size"] == r2["est_join_size"]
    with pytest.raises(ValueError):
        ams_join_size(a, "k", b, "k", buckets=100)


def test_ams_estimate_tracks_exact_on_fixtures(spark):
    """At sf0.001 the single-estimator AMS estimate lands within 50%
    of the exact join size (loose bound: B=128, no median-of-means)."""
    from bigdata_project_hust_spark.plans.round5 import q_ams_join_size
    r = q_ams_join_size(spark, SF_SMOKE).collect()[0]
    assert r["exact_join_size"] == 6000
    assert abs(r["est_join_size"] - 6000) < 3000


# ---------------------------------------------------------------------------
# contrastive triplets
# ---------------------------------------------------------------------------

def _h64(s, seed=0):
    import hashlib
    return int(hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:15], 16)


def test_triplets_bucket_chain_matches_reference_rule(spark):
    """Replicate the bucket-chain rule in python over a 10-doc corpus
    and compare the mined negative exactly."""
    from bigdata_project_hust_spark.operators.curation import (
        contrastive_triplets)
    docs = spark.createDataFrame([(i, f"d{i}") for i in range(10)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(0, 1)], "doc_a long, doc_b long")
    r = contrastive_triplets(docs, pairs).collect()[0]
    bmin = {}
    for i in range(10):
        b = _h64(str(i)) & 15
        bmin[b] = min(bmin.get(b, i), i)
    ah = _h64("0")
    expect = -1
    for i in (1, 2, 3):
        c = bmin.get((ah + i) & 15)
        if c is not None and c not in (0, 1):
            expect = c
            break
    assert (r["anchor"], r["positive"]) == (0, 1)
    assert r["negative"] == expect and r["negative"] not in (-1, 0, 1)


def test_triplets_collision_fallback_minus_one(spark):
    """A 2-doc corpus: every bucket representative is the anchor or
    the positive — the chain exhausts and emits -1, never a silent
    bad negative."""
    from bigdata_project_hust_spark.operators.curation import (
        contrastive_triplets)
    docs = spark.createDataFrame([(5, "a"), (7, "b")],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame([(5, 7)], "doc_a long, doc_b long")
    r = contrastive_triplets(docs, pairs).collect()[0]
    assert r["negative"] == -1


# ---------------------------------------------------------------------------
# KS / Benford / registry-wide plan hygiene
# ---------------------------------------------------------------------------

def test_ks_hand_distributions(spark, tmp_path):
    """A = {1.00, 2.00}, B = {3.00, 4.00}: disjoint supports → the
    CDF gap peaks at 1 (ks_e6 = 1e6) at the largest A value."""
    from bigdata_project_hust_spark.operators.eventflow import (
        ks_two_sample)
    rows = [(1, datetime(2024, 1, 1), 1, "purchase", 1.0, "{}"),
            (2, datetime(2024, 1, 1), 1, "purchase", 2.0, "{}"),
            (3, datetime(2024, 1, 1), 1, "view", 3.0, "{}"),
            (4, datetime(2024, 1, 1), 1, "view", 4.0, "{}")]
    d = _events(spark, tmp_path, rows)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    r = ks_two_sample(ev, F.col("event_type") == "purchase",
                      F.col("event_type") == "view").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert r["ks_e6"] == 1_000_000
    assert r["ks_value_c"] == 200


def test_ks_identical_distributions_zero(spark, tmp_path):
    rows = [(i, datetime(2024, 1, 1), 1,
             "purchase" if i % 2 else "view", float(i // 2), "{}")
            for i in range(2, 10)]
    d = _events(spark, tmp_path, rows)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    from bigdata_project_hust_spark.operators.eventflow import (
        ks_two_sample)
    r = ks_two_sample(ev, F.col("event_type") == "purchase",
                      F.col("event_type") == "view").collect()[0]
    assert r["ks_e6"] == 0


def test_benford_shares_sum_and_digits(spark):
    from bigdata_project_hust_spark.plans.round5 import (
        q_benford_order_totals)
    rows = q_benford_order_totals(spark, SF_SMOKE).collect()
    digits = {r["digit"] for r in rows}
    assert digits <= set(range(1, 10))
    n = sum(r["n_obs"] for r in rows)
    # floor-rounded shares sum to <= 1e6 and within 9 ulps of it
    s = sum(r["p_obs_e6"] for r in rows)
    assert 1_000_000 - 9 <= s <= 1_000_000
    for r in rows:
        assert r["diff_e6"] == r["p_obs_e6"] - r["p_benford_e6"]
    assert n == spark.read.parquet(
        f"{SF_SMOKE}/orders.parquet").count()


@pytest.mark.slow_tier
def test_round5_queries_no_cartesian_products(spark):
    """Sweeping hygiene gate: no round-5 plan may contain a
    CartesianProduct (1-row broadcast crossJoins lower to
    BroadcastNestedLoopJoin without a condition, which is fine)."""
    from bigdata_project_hust_spark.plans.round5 import QUERIES_ROUND5
    for name, spec in QUERIES_ROUND5.items():
        plan = plan_of(spec.fn(spark, SF_SMOKE))
        assert "CartesianProduct" not in plan, name


def test_mwu_hand_ranks_with_ties(spark, tmp_path):
    """A = {1.00, 2.00}, B = {2.00, 3.00}: midranks 1, 2.5, 2.5, 4 →
    R_A = 3.5 → U_A = 0.5 (u2_a = 1), AUC = 0.125."""
    from bigdata_project_hust_spark.operators.eventflow import (
        mann_whitney_u)
    rows = [(1, datetime(2024, 1, 1), 1, "purchase", 1.0, "{}"),
            (2, datetime(2024, 1, 1), 1, "purchase", 2.0, "{}"),
            (3, datetime(2024, 1, 1), 1, "view", 2.0, "{}"),
            (4, datetime(2024, 1, 1), 1, "view", 3.0, "{}")]
    d = _events(spark, tmp_path, rows)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    r = mann_whitney_u(ev, F.col("event_type") == "purchase",
                       F.col("event_type") == "view").collect()[0]
    assert (r["n_a"], r["n_b"]) == (2, 2)
    assert r["u2_a"] == 1 and r["u2_b"] == 7
    assert r["auc_e6"] == 125_000


def test_mwu_stochastic_dominance_auc_one(spark, tmp_path):
    """All A values above all B values → AUC = 1."""
    from bigdata_project_hust_spark.operators.eventflow import (
        mann_whitney_u)
    rows = [(1, datetime(2024, 1, 1), 1, "purchase", 9.0, "{}"),
            (2, datetime(2024, 1, 1), 1, "purchase", 8.0, "{}"),
            (3, datetime(2024, 1, 1), 1, "view", 1.0, "{}")]
    d = _events(spark, tmp_path, rows)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    r = mann_whitney_u(ev, F.col("event_type") == "purchase",
                       F.col("event_type") == "view").collect()[0]
    assert r["auc_e6"] == 1_000_000


def test_ab_ztest_sign_and_counts(spark, tmp_path):
    """Arm A (even users) converts 2/2, arm B 0/2 → z > 0 and exact
    counts; swapped arms flip the sign."""
    import math as m
    from bigdata_project_hust_spark.operators.eventflow import (
        ab_conversion_ztest)
    rows = []
    for u, types in ((2, ["view", "purchase"]), (4, ["purchase"]),
                     (1, ["view"]), (3, ["click"])):
        for i, et in enumerate(types):
            rows.append((u * 10 + i, datetime(2024, 1, 1, 0, i), u,
                         et, 1.0, "{}"))
    d = _events(spark, tmp_path, rows)
    ev = spark.read.parquet(os.path.join(d, "events.parquet"))
    r = ab_conversion_ztest(ev).collect()[0]
    assert (r["n_a"], r["x_a"], r["n_b"], r["x_b"]) == (2, 2, 2, 0)
    p = 0.5
    z = (1.0 - 0.0) / m.sqrt((p * (1 - p)) * (1 / 2.0 + 1 / 2.0))
    assert r["z_e6"] == m.floor(z * 1e6)


def test_snapshot_diff_delimiter_and_null_sentinel_no_alias(spark):
    """Values containing the join delimiter must not alias across
    column boundaries, and a literal 'N' must differ from NULL."""
    from bigdata_project_hust_spark.operators.joins import snapshot_diff
    old = spark.createDataFrame(
        [(1, "a|b", "c"), (2, "N", "x")], "k int, a string, b string")
    new = spark.createDataFrame(
        [(1, "a", "b|c"), (2, None, "x")], "k int, a string, b string")
    got = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, "k", ["a", "b"]).collect()}
    assert got == {1: "U", 2: "U"}
