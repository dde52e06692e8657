"""Round-7 extension queries: distribution-shape statistics
(Jarque-Bera), rank association on aggregated series (Kendall tau-b,
Friedman), a depth-1 decision tree (Gini stump), and the drawdown
window family.

Same cross-engine exactness rules as ``queries.py``: counts, sums and
rank grids stay integral (BIGINT / decimal(38)); where a division or
sqrt is unavoidable it runs ONCE per output row on an
identically-parenthesized double tree (shared literal strings between
the Spark plan and the DuckDB oracle) and floors at e6/e9; fully
integer statistics (Friedman) never touch a double at all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import eventflow
from ..operators.eventflow import (
    JB_KURT, JB_M2, JB_SKEW, JB_STAT, KENDALL_TAU, STUMP_GINI)
from .spec import QuerySpec, _t

QUERIES_ROUND7: dict[str, QuerySpec] = {}

# ---------------------------------------------------------------------------
# Jarque-Bera normality per event type
# ---------------------------------------------------------------------------


def q_jarque_bera_values(spark, sf_dir):
    """Skewness / excess kurtosis / JB statistic per event type from
    exact raw power sums, pinned shared-string double combines."""
    return eventflow.jarque_bera_by_type(_t(spark, sf_dir, "events"))


ORACLE_JARQUE_BERA = f"""
  WITH d AS (
    SELECT event_type AS g,
           floor(value * 100 + 0.5)::BIGINT AS v,
           (floor(value * 100 + 0.5)::BIGINT
            * floor(value * 100 + 0.5)::BIGINT) AS v2
    FROM events
  ),
  agg AS (
    SELECT g, count(*)::HUGEINT AS n,
           sum(v)::HUGEINT AS s1,
           sum(v2)::HUGEINT AS q2,
           sum(v2::HUGEINT * v::HUGEINT) AS q3,
           sum(v2::HUGEINT * v2::HUGEINT) AS q4
    FROM d GROUP BY g
  ),
  dbl AS (
    SELECT g, n::BIGINT AS n_rows, n::DOUBLE AS n_,
           s1::DOUBLE AS s1, q2::DOUBLE AS q2,
           q3::DOUBLE AS q3, q4::DOUBLE AS q4
    FROM agg
  )
  SELECT g AS event_type, n_rows,
         (CASE WHEN n_rows > 3 AND ({JB_M2}) > 0.0
               THEN floor(({JB_SKEW}) * 1000000)
               ELSE 0 END)::BIGINT AS skew_e6,
         (CASE WHEN n_rows > 3 AND ({JB_M2}) > 0.0
               THEN floor(({JB_KURT}) * 1000000)
               ELSE 0 END)::BIGINT AS kurt_e6,
         (CASE WHEN n_rows > 3 AND ({JB_M2}) > 0.0
               THEN floor(({JB_STAT}) * 1000)
               ELSE 0 END)::BIGINT AS jb_e3
  FROM dbl ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Kendall tau-b between daily view and purchase counts
# ---------------------------------------------------------------------------


def q_kendall_view_purchase(spark, sf_dir):
    """Exact concordant/discordant census on the daily series,
    tau-b's sqrt combine pinned and shared."""
    return eventflow.kendall_tau_daily(_t(spark, sf_dir, "events"))


ORACLE_KENDALL = f"""
  WITH daily AS (
    SELECT floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           sum((event_type = 'view')::BIGINT)::BIGINT AS x,
           sum((event_type = 'purchase')::BIGINT)::BIGINT AS y
    FROM events GROUP BY 1
  ),
  pairs AS (
    SELECT sign(a.x - b.x)::BIGINT AS dx,
           sign(a.y - b.y)::BIGINT AS dy
    FROM daily a JOIN daily b ON a.day < b.day
  ),
  agg AS (
    SELECT count(*)::BIGINT AS p,
           sum((dx * dy = 1)::BIGINT)::BIGINT AS c,
           sum((dx * dy = -1)::BIGINT)::BIGINT AS d,
           sum((dx = 0)::BIGINT)::BIGINT AS tx,
           sum((dy = 0)::BIGINT)::BIGINT AS ty
    FROM pairs
  ),
  nd AS (SELECT count(*)::BIGINT AS n_days FROM daily),
  dbl AS (
    SELECT n_days, c AS n_conc, d AS n_disc,
           p::DOUBLE AS p_, c::DOUBLE AS c_, d::DOUBLE AS d_,
           tx::DOUBLE AS tx_, ty::DOUBLE AS ty_
    FROM agg, nd
  )
  SELECT n_days, n_conc, n_disc,
         (CASE WHEN p_ > tx_ AND p_ > ty_
               THEN floor(({KENDALL_TAU}) * 1000000)
               ELSE 0 END)::BIGINT AS tau_b_e6
  FROM dbl
"""


# ---------------------------------------------------------------------------
# Friedman test (blocks = days, treatments = event types) — all-integer
# ---------------------------------------------------------------------------


def q_friedman_daily_types(spark, sf_dir):
    """Conover tie-corrected Friedman chi-square on the complete
    day×type daily-count grid — exact integer ratio, e6-floored."""
    return eventflow.friedman_daily_types(_t(spark, sf_dir, "events"))


ORACLE_FRIEDMAN = """
  WITH d AS (
    SELECT floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           event_type AS t
    FROM events
  ),
  cnt AS (SELECT day, t, count(*)::BIGINT AS c FROM d GROUP BY day, t),
  grid AS (
    SELECT dd.day, tt.t, coalesce(cnt.c, 0)::BIGINT AS c
    FROM (SELECT DISTINCT day FROM d) dd
    CROSS JOIN (SELECT DISTINCT t FROM d) tt
    LEFT JOIN cnt ON cnt.day = dd.day AND cnt.t = tt.t
  ),
  per_c AS (SELECT day, c, count(*)::BIGINT AS m FROM grid
            GROUP BY day, c),
  r2tab AS (
    SELECT day, c,
           (2 * (sum(m) OVER (PARTITION BY day ORDER BY c
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - m) + m + 1) AS r2
    FROM per_c
  ),
  cells AS (
    SELECT g.day, g.t, r.r2
    FROM grid g JOIN r2tab r ON r.day = g.day AND r.c = g.c
  ),
  per_t AS (SELECT t, sum(r2)::HUGEINT AS r2_sum FROM cells GROUP BY t),
  gl AS (
    SELECT count(DISTINCT day)::HUGEINT AS b,
           count(DISTINCT t)::HUGEINT AS k,
           sum(r2::HUGEINT * r2::HUGEINT) AS sq
    FROM cells
  ),
  nd AS (
    SELECT b, k, sq,
           sum((r2_sum - b * (k + 1))
               * (r2_sum - b * (k + 1))) AS devsq
    FROM per_t, gl GROUP BY b, k, sq
  )
  SELECT b::BIGINT AS b_days, k::BIGINT AS k_types,
         (CASE WHEN (sq - b * k * (k + 1) * (k + 1)) > 0
               THEN ((k - 1) * devsq * 1000000)
                    // (sq - b * k * (k + 1) * (k + 1))
               ELSE 0 END)::BIGINT AS chi2_e6
  FROM nd
"""


# ---------------------------------------------------------------------------
# Decision stump: best Gini split of is-purchase on value
# ---------------------------------------------------------------------------


def q_decision_stump_purchase(spark, sf_dir):
    """Depth-1 tree: best value-cents threshold separating purchases
    from the rest by weighted Gini (pinned e9 score, TakeOrdered
    argmin with deterministic threshold tie-break)."""
    e = _t(spark, sf_dir, "events")
    return eventflow.decision_stump(
        e, F.col("event_type").eqNullSafe("purchase"))


ORACLE_STUMP = f"""
  WITH d AS (
    SELECT floor(value * 100 + 0.5)::BIGINT AS v,
           (event_type IS NOT DISTINCT FROM 'purchase')::BIGINT AS y
    FROM events
  ),
  per_v AS (SELECT v, count(*)::BIGINT AS c, sum(y)::BIGINT AS pos
            FROM d GROUP BY v),
  cum AS (
    SELECT v,
           sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW)::BIGINT AS nl,
           sum(pos) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW)::BIGINT AS pl
    FROM per_v
  ),
  tot AS (SELECT sum(c)::BIGINT AS n, sum(pos)::BIGINT AS p
          FROM per_v),
  cand AS (
    SELECT v, nl, pl, n AS n_rows, (nl - pl) AS ql,
           (n - nl) AS nr, (p - pl) AS pr
    FROM cum, tot WHERE nl < n
  ),
  dbl AS (
    SELECT v, nl, pl, n_rows,
           nl::DOUBLE AS nl_, pl::DOUBLE AS pl_, ql::DOUBLE AS ql_,
           nr::DOUBLE AS nr_, pr::DOUBLE AS pr_,
           (nr - pr)::DOUBLE AS qr_
    FROM cand
  ),
  scored AS (
    SELECT v AS thr_cents,
           floor(({STUMP_GINI}) * 1000000000)::BIGINT AS gini_e9,
           nl AS n_left, pl AS pos_left, n_rows
    FROM dbl
  )
  SELECT thr_cents, gini_e9, n_left, pos_left, n_rows
  FROM scored ORDER BY gini_e9, thr_cents LIMIT 1
"""


# ---------------------------------------------------------------------------
# Max drawdown of daily revenue per nation
# ---------------------------------------------------------------------------


def q_max_drawdown_nation(spark, sf_dir):
    """Running-peak minus current on each nation's daily revenue
    series — all-integer window family."""
    return eventflow.max_drawdown_daily(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"))


ORACLE_DRAWDOWN = """
  WITH daily AS (
    SELECT n_name,
           date_diff('day', DATE '1970-01-01', o_orderdate)::BIGINT
             AS day,
           sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS rev
    FROM orders
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    GROUP BY 1, 2
  ),
  dd AS (
    SELECT n_name,
           (max(rev) OVER (PARTITION BY n_name ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - rev) AS dd
    FROM daily
  )
  SELECT n_name, max(dd)::BIGINT AS max_drawdown_cents,
         count(*)::BIGINT AS n_days
  FROM dd GROUP BY n_name ORDER BY n_name
"""


QUERIES_ROUND7.update({
    "jarque_bera_values": QuerySpec(
        q_jarque_bera_values, ORACLE_JARQUE_BERA,
        doc="Jarque-Bera normality per type (exact power sums, "
            "shared-string moment combines)"),
    "kendall_view_purchase": QuerySpec(
        q_kendall_view_purchase, ORACLE_KENDALL,
        doc="Kendall tau-b between daily view/purchase counts "
            "(exact pair census)"),
    "friedman_daily_types": QuerySpec(
        q_friedman_daily_types, ORACLE_FRIEDMAN,
        doc="tie-corrected Friedman test on the day×type grid "
            "(all-integer)"),
    "decision_stump_purchase": QuerySpec(
        q_decision_stump_purchase, ORACLE_STUMP,
        doc="best Gini threshold split (depth-1 decision tree)"),
    "max_drawdown_nation": QuerySpec(
        q_max_drawdown_nation, ORACLE_DRAWDOWN,
        doc="max drawdown of daily revenue per nation "
            "(running-peak window)"),
})


# ===========================================================================
# Batch 2: KMV sketch, phrase search, shard planner, SQL surface, ACF
# ===========================================================================

from ..operators import scale, sketches, text  # noqa: E402


def q_kmv_distinct_custkeys(spark, sf_dir):
    """KMV(64) cardinality estimate of ordering customers next to the
    exact count — all-integer sketch, bit-for-bit cross-engine."""
    return sketches.kmv_distinct(_t(spark, sf_dir, "orders"),
                                 "o_custkey")


def q_kmv_jaccard_custkeys(spark, sf_dir):
    """KMV union-sample Jaccard between ordering custkeys and the
    full customer key set (basis points, exact integer division)."""
    return sketches.kmv_jaccard(
        _t(spark, sf_dir, "orders"), "o_custkey",
        _t(spark, sf_dir, "customer"), "c_custkey")


def q_phrase_search_the_part(spark, sf_dir):
    """Quoted-phrase search ("the part") via the positional inverted
    index — start-aligned n-way join on (doc, start)."""
    return text.phrase_hits(_t(spark, sf_dir, "documents"),
                            "the part")


def q_shard_plan_documents(spark, sf_dir):
    """Per-source output-shard manifest: running byte totals
    integer-divided by a 16 KiB target."""
    d = _t(spark, sf_dir, "documents")
    return scale.shard_plan(d, F.length("text"))


ORACLE_SHARD_PLAN = """
  WITH sized AS (
    SELECT source, doc_id, length(text)::BIGINT AS bytes
    FROM documents
  ),
  planned AS (
    SELECT source, bytes,
           ((sum(bytes) OVER (PARTITION BY source ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             - bytes) // 16384)::BIGINT AS shard_id
    FROM sized
  )
  SELECT source, shard_id, count(*)::BIGINT AS n_docs,
         sum(bytes)::BIGINT AS shard_bytes
  FROM planned GROUP BY source, shard_id
  ORDER BY source, shard_id
"""


def q_filter_clause_rollup(spark, sf_dir):
    """SQL-surface breadth: aggregate FILTER (WHERE …) clauses plus a
    named WINDOW clause ranking the grouped rows — one grouped scan,
    no CASE-expression contortions."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_r7")
    return spark.sql("""
      SELECT o_orderpriority,
             count(*) AS n_orders,
             count(*) FILTER (WHERE o_orderstatus = 'F')
               AS n_finished,
             count(*) FILTER (WHERE o_totalprice > 100000.0)
               AS n_large,
             rank() OVER w AS priority_rank
      FROM orders_r7
      GROUP BY o_orderpriority
      WINDOW w AS (ORDER BY count(*) DESC, o_orderpriority)
    """)


ORACLE_FILTER_CLAUSE = """
  SELECT o_orderpriority,
         count(*)::BIGINT AS n_orders,
         (count(*) FILTER (WHERE o_orderstatus = 'F'))::BIGINT
           AS n_finished,
         (count(*) FILTER (WHERE o_totalprice > 100000.0))::BIGINT
           AS n_large,
         rank() OVER w AS priority_rank
  FROM orders
  GROUP BY o_orderpriority
  WINDOW w AS (ORDER BY count(*) DESC, o_orderpriority)
"""


def q_acf_daily_values(spark, sf_dir):
    """Correlogram of the daily value-total series, lags 1..7 in one
    plan (broadcast lag fan-out, exact per-lag moments)."""
    return eventflow.acf_daily_totals(_t(spark, sf_dir, "events"))


ORACLE_ACF = f"""
  WITH daily AS (
    SELECT floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS t
    FROM events GROUP BY 1
  ),
  pairs AS (
    SELECT l.lag, a.t AS x, b.t AS y
    FROM (SELECT unnest(generate_series(1, 7))::BIGINT AS lag) l
    JOIN daily a ON true
    JOIN daily b ON a.day = b.day + l.lag
  ),
  agg AS (
    SELECT lag, count(*)::HUGEINT AS n,
           sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
           sum(x::HUGEINT * x::HUGEINT) AS sxx,
           sum(y::HUGEINT * y::HUGEINT) AS syy,
           sum(x::HUGEINT * y::HUGEINT) AS sxy
    FROM pairs GROUP BY lag
  ),
  dbl AS (
    SELECT lag, n::BIGINT AS n_pairs, n::DOUBLE AS n_,
           sx::DOUBLE AS sx, sy::DOUBLE AS sy, sxx::DOUBLE AS sxx,
           syy::DOUBLE AS syy, sxy::DOUBLE AS sxy
    FROM agg
  )
  SELECT lag, n_pairs,
         (CASE WHEN n_pairs > 1
                    AND n_ * sxx > sx * sx
                    AND n_ * syy > sy * sy
               THEN floor(({eventflow.ACF_R}) * 1000000)
               ELSE 0 END)::BIGINT AS acf_e6
  FROM dbl ORDER BY lag
"""


QUERIES_ROUND7.update({
    "kmv_distinct_custkeys": QuerySpec(
        q_kmv_distinct_custkeys,
        sketches.kmv_distinct_oracle("orders", "o_custkey"),
        doc="KMV(64) distinct sketch vs exact (all-integer "
            "estimate)"),
    "kmv_jaccard_custkeys": QuerySpec(
        q_kmv_jaccard_custkeys,
        sketches.kmv_jaccard_oracle("orders", "o_custkey",
                                    "customer", "c_custkey"),
        doc="KMV union-sample Jaccard in basis points"),
    "phrase_search_the_part": QuerySpec(
        q_phrase_search_the_part,
        text.phrase_hits_oracle("the part"),
        doc="positional-index quoted-phrase search (start-aligned "
            "n-way join)"),
    "shard_plan_documents": QuerySpec(
        q_shard_plan_documents, ORACLE_SHARD_PLAN,
        doc="deterministic output-shard planner (running-byte "
            "integer div)"),
    "filter_clause_rollup": QuerySpec(
        q_filter_clause_rollup, ORACLE_FILTER_CLAUSE,
        doc="aggregate FILTER clauses + named WINDOW clause "
            "(SQL surface)"),
    "acf_daily_values": QuerySpec(
        q_acf_daily_values, ORACLE_ACF,
        doc="multi-lag correlogram of daily totals (one-plan lag "
            "fan-out)"),
})


# ===========================================================================
# Batch 3: robust trend, trend test, GOF, streaks, ridge regression
# ===========================================================================

import re  # noqa: E402

from ..operators.eventflow import MK_Z  # noqa: E402
from .round5 import _OLS_D0, _OLS_D1, _OLS_D2, _OLS_DET  # noqa: E402

_K_SHIFT = 1 << 40  # slope-quantization positivity shift


def q_theil_sen_daily(spark, sf_dir):
    """Theil-Sen robust slope of daily totals — LOW median of e6
    pairwise slopes, floor-div made engine-safe by the +K·den
    shift."""
    return eventflow.theil_sen_daily(_t(spark, sf_dir, "events"))


ORACLE_THEIL_SEN = f"""
  WITH daily AS (
    SELECT floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS t
    FROM events GROUP BY 1
  ),
  slopes AS (
    SELECT (((b.t - a.t) * 1000000 + {_K_SHIFT} * (b.day - a.day))
            // (b.day - a.day) - {_K_SHIFT})::BIGINT AS slope_e6
    FROM daily a JOIN daily b ON a.day < b.day
  ),
  ranked AS (
    SELECT slope_e6, row_number() OVER (ORDER BY slope_e6) AS rn,
           count(*) OVER () AS n
    FROM slopes
  )
  SELECT n::BIGINT AS n_pairs, slope_e6 AS sen_slope_e6
  FROM ranked WHERE rn = (n + 1) // 2
"""


def q_mann_kendall_daily(spark, sf_dir):
    """Mann-Kendall trend test on daily totals — exact S, tie-
    corrected variance, continuity-corrected pinned z."""
    return eventflow.mann_kendall_trend(_t(spark, sf_dir, "events"))


ORACLE_MANN_KENDALL = f"""
  WITH daily AS (
    SELECT floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS t
    FROM events GROUP BY 1
  ),
  s_agg AS (
    SELECT sum(sign(b.t - a.t))::BIGINT AS s
    FROM daily a JOIN daily b ON a.day < b.day
  ),
  ties AS (
    SELECT sum(m * (m - 1) * (2 * m + 5))::BIGINT AS tie_sum,
           sum(m)::BIGINT AS n
    FROM (SELECT t, count(*)::BIGINT AS m FROM daily GROUP BY t)
  ),
  dbl AS (
    SELECT n AS n_days, s AS s_stat, s::DOUBLE AS s_,
           (CASE WHEN s > 0 THEN 1.0 WHEN s < 0 THEN -1.0
                 ELSE 0.0 END)::DOUBLE AS adj_,
           ((n::DOUBLE * (n::DOUBLE - 1.0)
             * (2.0 * n::DOUBLE + 5.0) - tie_sum::DOUBLE)
            / 18.0) AS var_
    FROM s_agg, ties
  )
  SELECT n_days, s_stat,
         (CASE WHEN var_ > 0.0 AND s_stat <> 0
               THEN floor(({MK_Z}) * 1000000)
               ELSE 0 END)::BIGINT AS z_e6
  FROM dbl
"""


def q_chi2_gof_types(spark, sf_dir):
    """Uniformity GOF of the type histogram via the integer identity
    chi2 = (k·ΣO² - n²)/n."""
    return eventflow.chi2_gof_types(_t(spark, sf_dir, "events"))


ORACLE_CHI2_GOF = """
  WITH counts AS (
    SELECT event_type, count(*)::BIGINT AS o FROM events
    WHERE event_type IS NOT NULL GROUP BY event_type
  ),
  agg AS (
    SELECT count(*)::HUGEINT AS k, sum(o)::HUGEINT AS n,
           sum(o::HUGEINT * o::HUGEINT) AS sq
    FROM counts
  )
  SELECT k::BIGINT AS k_types, n::BIGINT AS n_rows,
         (CASE WHEN n > 0
               THEN ((k * sq - n * n) * 1000000) // n
               ELSE 0 END)::BIGINT AS chi2_e6
  FROM agg
"""


def q_active_day_islands(spark, sf_dir):
    """Per-user consecutive-active-day streaks (gaps-and-islands)."""
    return eventflow.active_day_islands(_t(spark, sf_dir, "events"))


ORACLE_ISLANDS = """
  WITH days AS (
    SELECT DISTINCT user_id AS u,
           floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day
    FROM events
  ),
  g AS (
    SELECT u, day,
           (day - row_number() OVER (PARTITION BY u ORDER BY day))
             AS island
    FROM days
  ),
  isl AS (SELECT u, island, count(*)::BIGINT AS len FROM g
          GROUP BY u, island)
  SELECT u AS user_id, sum(len)::BIGINT AS n_active_days,
         count(*)::BIGINT AS n_streaks,
         max(len)::BIGINT AS longest_streak
  FROM isl GROUP BY u ORDER BY user_id
"""


# --- Ridge regression: the OLS normal equations with lam added to
# every diagonal of X'X — the shared strings are DERIVED from the
# verified OLS strings by a word-boundary substitution, so Spark and
# the oracle keep byte-identical double trees by construction.
# Raw-scale ridge (no feature standardization), documented as such.


def _ridge_expr(expr: str) -> str:
    expr = re.sub(r"\bn_\b", "(n_ + lam)", expr)
    expr = re.sub(r"\bs11\b", "(s11 + lam)", expr)
    expr = re.sub(r"\bs22\b", "(s22 + lam)", expr)
    return expr


_RIDGE_DET = _ridge_expr(_OLS_DET)
_RIDGE_D = [_ridge_expr(d) for d in (_OLS_D0, _OLS_D1, _OLS_D2)]
_RIDGE_LAM = "100000.0"


def q_ridge_price_model(spark, sf_dir):
    """Per-returnflag ridge fit of price on (quantity, discount_bp):
    exact decimal moments, Cramer solve on the lam-shifted normal
    equations, e6-floored coefficients."""
    li = _t(spark, sf_dir, "lineitem")
    dec, dec19 = "decimal(38,0)", "decimal(19,0)"
    d = li.select(
        "l_returnflag",
        F.floor("l_quantity").cast("long").alias("x1"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5)).cast("long")
         .alias("x2"),
        F.floor(F.col("l_extendedprice") * 100).cast("long").alias("y"))
    x1, x2, y = [F.col(c).cast(dec19) for c in ("x1", "x2", "y")]
    agg = d.groupBy("l_returnflag").agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("x1").cast(dec)).alias("s1"),
        F.sum(F.col("x2").cast(dec)).alias("s2"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(x1 * x1).alias("s11"),
        F.sum(x1 * x2).alias("s12"),
        F.sum(x2 * x2).alias("s22"),
        F.sum(x1 * y).alias("s1y"),
        F.sum(x2 * y).alias("s2y"))
    dbl = agg.select(
        "l_returnflag", F.col("n").cast("long").alias("n_rows"),
        F.expr(f"CAST({_RIDGE_LAM} AS DOUBLE)").alias("lam"),
        *[F.col(c).cast("double").alias(c if c != "n" else "n_")
          for c in ("n", "s1", "s2", "sy", "s11", "s12", "s22",
                    "s1y", "s2y")])
    det = F.expr(_RIDGE_DET)
    return dbl.select(
        "l_returnflag", "n_rows",
        *[F.when(det != 0.0,
                 F.floor(F.expr(dn) / det * F.lit(1_000_000)))
           .otherwise(F.lit(0)).cast("long").alias(f"b{i}_e6")
          for i, dn in enumerate(_RIDGE_D)])


def _ridge_oracle() -> str:
    return f"""
  WITH d AS (
    SELECT l_returnflag,
           floor(l_quantity)::BIGINT AS x1,
           floor(l_discount * 10000 + 0.5)::BIGINT AS x2,
           floor(l_extendedprice * 100)::BIGINT AS y
    FROM lineitem
  ),
  agg AS (
    SELECT l_returnflag,
           count(*)::HUGEINT AS n,
           sum(x1)::HUGEINT AS s1, sum(x2)::HUGEINT AS s2,
           sum(y)::HUGEINT AS sy,
           sum(x1::HUGEINT * x1::HUGEINT) AS s11,
           sum(x1::HUGEINT * x2::HUGEINT) AS s12,
           sum(x2::HUGEINT * x2::HUGEINT) AS s22,
           sum(x1::HUGEINT * y::HUGEINT) AS s1y,
           sum(x2::HUGEINT * y::HUGEINT) AS s2y
    FROM d GROUP BY l_returnflag
  ),
  dbl AS (
    SELECT l_returnflag, n::BIGINT AS n_rows,
           {_RIDGE_LAM}::DOUBLE AS lam,
           n::DOUBLE AS n_, s1::DOUBLE AS s1, s2::DOUBLE AS s2,
           sy::DOUBLE AS sy, s11::DOUBLE AS s11, s12::DOUBLE AS s12,
           s22::DOUBLE AS s22, s1y::DOUBLE AS s1y, s2y::DOUBLE AS s2y
    FROM agg
  )
  SELECT l_returnflag, n_rows,
         (CASE WHEN ({_RIDGE_DET}) <> 0.0
               THEN floor(({_RIDGE_D[0]}) / ({_RIDGE_DET}) * 1000000)
               ELSE 0 END)::BIGINT AS b0_e6,
         (CASE WHEN ({_RIDGE_DET}) <> 0.0
               THEN floor(({_RIDGE_D[1]}) / ({_RIDGE_DET}) * 1000000)
               ELSE 0 END)::BIGINT AS b1_e6,
         (CASE WHEN ({_RIDGE_DET}) <> 0.0
               THEN floor(({_RIDGE_D[2]}) / ({_RIDGE_DET}) * 1000000)
               ELSE 0 END)::BIGINT AS b2_e6
  FROM dbl
"""


QUERIES_ROUND7.update({
    "theil_sen_daily": QuerySpec(
        q_theil_sen_daily, ORACLE_THEIL_SEN,
        doc="Theil-Sen robust slope (median of pairwise slopes, "
            "shift-safe floor div)"),
    "mann_kendall_daily": QuerySpec(
        q_mann_kendall_daily, ORACLE_MANN_KENDALL,
        doc="Mann-Kendall trend test (exact S, tie-corrected "
            "variance)"),
    "chi2_gof_types": QuerySpec(
        q_chi2_gof_types, ORACLE_CHI2_GOF,
        doc="chi-square GOF vs uniform (pure integer identity)"),
    "active_day_islands": QuerySpec(
        q_active_day_islands, ORACLE_ISLANDS,
        doc="gaps-and-islands consecutive-day streaks per user"),
    "ridge_price_model": QuerySpec(
        q_ridge_price_model, _ridge_oracle(),
        doc="ridge regression via lam-shifted normal equations "
            "(strings derived from the verified OLS strings)"),
})


# ===========================================================================
# Batch 4: quantile normalization, LPA communities, post-hoc Welch,
# token budget allocation
# ===========================================================================

from ..operators import curation, graph, quality  # noqa: E402


def q_quantile_normalize_values(spark, sf_dir):
    """Per-type value cells mapped onto the pooled distribution by
    rank (merge-stream lookup, no range join)."""
    e = _t(spark, sf_dir, "events")
    return quality.quantile_normalize_map(
        e, "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))


ORACLE_QNORM = """
  WITH d AS (
    SELECT event_type AS g, floor(value * 100 + 0.5)::BIGINT AS v
    FROM events
  ),
  cells AS (SELECT g, v, count(*)::BIGINT AS c FROM d GROUP BY g, v),
  ranked AS (
    SELECT g, v,
           (2 * (sum(c) OVER (PARTITION BY g ORDER BY v
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 - c) + c + 1) AS r2,
           sum(c) OVER (PARTITION BY g) AS n_g
    FROM cells
  ),
  pool AS (SELECT v, count(*)::BIGINT AS cp FROM d GROUP BY v),
  bounds AS (
    SELECT v AS bv,
           sum(cp) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                         AND CURRENT ROW) AS cum
    FROM pool
  ),
  nt AS (SELECT count(*)::BIGINT AS n_tot FROM d),
  queries AS (
    SELECT g, v, (r2 * n_tot + 2 * n_g - 1) // (2 * n_g) AS pos,
           0 AS is_b, NULL::BIGINT AS bval
    FROM ranked, nt
  ),
  boundaries AS (
    SELECT NULL::VARCHAR AS g, NULL::BIGINT AS v, cum AS pos,
           1 AS is_b, bv AS bval
    FROM bounds
  ),
  merged AS (SELECT * FROM queries UNION ALL
             SELECT * FROM boundaries),
  looked AS (
    SELECT g, v, is_b,
           min(bval) OVER (ORDER BY pos, is_b
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS v_norm
    FROM merged
  )
  SELECT g, v, v_norm FROM looked WHERE is_b = 0 ORDER BY g, v
"""


_COPURCHASE_SQL = """SELECT DISTINCT a.l_partkey AS pa,
           b.l_partkey AS pb
    FROM lineitem a JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""


def q_lpa_communities(spark, sf_dir):
    """Deterministic synchronous label propagation (3 rounds) on the
    co-purchase graph."""
    from ..operators.graph import copurchase_edges
    return graph.lpa_communities(
        copurchase_edges(_t(spark, sf_dir, "lineitem")),
        edges_canonical=True)


def q_pairwise_welch_types(spark, sf_dir):
    """Post-hoc pairwise Welch t between every event-type pair."""
    return eventflow.pairwise_welch_matrix(_t(spark, sf_dir,
                                              "events"))


_SE1 = ("((n1::DOUBLE * q1::DOUBLE - s1::DOUBLE * s1::DOUBLE) "
        "/ (n1::DOUBLE * (n1::DOUBLE - 1.0)) / n1::DOUBLE)")
_SE2 = ("((n2::DOUBLE * q2::DOUBLE - s2::DOUBLE * s2::DOUBLE) "
        "/ (n2::DOUBLE * (n2::DOUBLE - 1.0)) / n2::DOUBLE)")
_WELCH_OK = f"n1 > 1 AND n2 > 1 AND ({_SE1} + {_SE2}) > 0.0"
_WELCH_T = (f"((s1::DOUBLE / n1::DOUBLE - s2::DOUBLE / n2::DOUBLE) "
            f"/ sqrt({_SE1} + {_SE2}))")
_WELCH_DOF = (f"((({_SE1} + {_SE2}) * ({_SE1} + {_SE2})) "
              f"/ ({_SE1} * {_SE1} / (n1::DOUBLE - 1.0) "
              f"+ {_SE2} * {_SE2} / (n2::DOUBLE - 1.0)))")

ORACLE_PAIRWISE_WELCH = f"""
  WITH d AS (
    SELECT event_type AS g, floor(value * 100 + 0.5)::BIGINT AS v
    FROM events WHERE event_type IS NOT NULL
  ),
  per AS (
    SELECT g, count(*)::HUGEINT AS n, sum(v)::HUGEINT AS s,
           sum(v::HUGEINT * v::HUGEINT) AS q
    FROM d GROUP BY g
  ),
  j AS (
    SELECT a.g AS type_a, b.g AS type_b,
           a.n AS n1, a.s AS s1, a.q AS q1,
           b.n AS n2, b.s AS s2, b.q AS q2
    FROM per a JOIN per b ON a.g < b.g
  )
  SELECT type_a, type_b, n1::BIGINT AS n_a, n2::BIGINT AS n_b,
         (CASE WHEN {_WELCH_OK}
               THEN floor({_WELCH_T} * 1e6)
               ELSE 0 END)::BIGINT AS t_e6,
         (CASE WHEN {_WELCH_OK}
               THEN floor({_WELCH_DOF} * 1e3)
               ELSE 0 END)::BIGINT AS dof_e3
  FROM j ORDER BY type_a, type_b
"""


def q_token_budget_allocation(spark, sf_dir):
    """Temperature-weighted token-budget plan (half the corpus,
    epoch-capped) per source."""
    return curation.token_budget_allocation(_t(spark, sf_dir,
                                               "documents"))


ORACLE_TOKEN_BUDGET = r"""
  WITH toks AS (
    SELECT source,
           len(list_filter(string_split_regex(lower(text), '\s+'),
                           x -> x <> ''))::BIGINT AS nt
    FROM documents
  ),
  per AS (SELECT source, sum(nt)::BIGINT AS n_tokens FROM toks
          GROUP BY source),
  w AS (
    SELECT source, n_tokens,
           floor(exp((7::DOUBLE / 10) * ln(n_tokens::DOUBLE))
                 * 1000000)::BIGINT AS w_e6
    FROM per
  ),
  t AS (
    SELECT *, sum(w_e6) OVER () AS tw,
           (sum(n_tokens) OVER () * 1) AS bnum
    FROM w
  ),
  planned AS (
    SELECT source, n_tokens, w_e6,
           least((bnum::HUGEINT * w_e6::HUGEINT)
                 // (tw::HUGEINT * 2),
                 (n_tokens * 4)::HUGEINT)::BIGINT AS alloc_tokens
    FROM t
  )
  SELECT source, n_tokens, w_e6, alloc_tokens,
         ((alloc_tokens::HUGEINT * 100) // n_tokens::HUGEINT)::BIGINT
           AS epochs_e2
  FROM planned ORDER BY source
"""


QUERIES_ROUND7.update({
    "quantile_normalize_values": QuerySpec(
        q_quantile_normalize_values, ORACLE_QNORM,
        doc="cross-group quantile normalization (merge-stream rank "
            "lookup, no range join)"),
    "lpa_communities_parts": QuerySpec(
        q_lpa_communities,
        graph.lpa_communities_oracle(_COPURCHASE_SQL), headline=True,
        doc="deterministic synchronous LPA communities (3 unrolled "
            "rounds)"),
    "pairwise_welch_types": QuerySpec(
        q_pairwise_welch_types, ORACLE_PAIRWISE_WELCH,
        doc="post-hoc pairwise Welch t matrix (k-row moment "
            "self-join)"),
    "token_budget_allocation": QuerySpec(
        q_token_budget_allocation, ORACLE_TOKEN_BUDGET,
        doc="temperature-weighted epoch-capped token budget plan"),
})


# ===========================================================================
# Batch 5: prefix-filtered similarity join, consistent-hash routing,
# linear multi-touch attribution
# ===========================================================================

from ..functions.scalar import stable_hash64_sql  # noqa: E402
from ..operators import dedup, scale as scale_ops  # noqa: E402
from .queries import ORACLE_NGRAM  # noqa: E402  (defined before round7 loads)


def q_dedup_prefix_filter(spark, sf_dir):
    """Lossless prefix-filtered n-gram Jaccard ≥ 3/10 — the same
    kernel as dedup_ngram_jaccard, so it shares that query's oracle
    verbatim."""
    return dedup.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


def q_consistent_hash_routing(spark, sf_dir):
    """Ring routing of doc keys over 4 nodes × 8 vnodes — per-node
    load audit via the merge-stream successor window."""
    return scale_ops.consistent_hash_routing(
        _t(spark, sf_dir, "documents"))


_RING_HASH = stable_hash64_sql(
    "('ring:' || (i % 4)::VARCHAR || ':' || (i // 4)::VARCHAR)", 17)
_KEY_HASH = stable_hash64_sql("doc_id::VARCHAR", 23)

ORACLE_CONSISTENT_HASH = f"""
  WITH ring AS (
    SELECT (i % 4)::BIGINT AS node, {_RING_HASH} AS pos
    FROM (SELECT unnest(generate_series(0, 31)) AS i)
  ),
  enc AS (SELECT (pos * 4 + node) AS epos FROM ring),
  keys AS (SELECT {_KEY_HASH} AS h FROM documents),
  wrap AS (SELECT min(epos) AS wrap_epos FROM enc),
  merged AS (
    SELECT (h * 4) AS spos, 0 AS is_ring, NULL::BIGINT AS epos
    FROM keys
    UNION ALL
    SELECT epos AS spos, 1 AS is_ring, epos FROM enc
  ),
  routed AS (
    SELECT is_ring,
           min(epos) OVER (ORDER BY spos, is_ring
             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS succ
    FROM merged
  )
  SELECT (coalesce(succ, wrap_epos) % 4)::BIGINT AS node,
         count(*)::BIGINT AS n_keys
  FROM routed, wrap WHERE is_ring = 0
  GROUP BY 1 ORDER BY 1
"""


def q_linear_attribution(spark, sf_dir):
    """Equal-credit multi-touch attribution: integer bp credit per
    view in the pre-purchase hour, remainder tracked."""
    return eventflow.linear_attribution(_t(spark, sf_dir, "events"))


ORACLE_LINEAR_ATTRIBUTION = """
  WITH d AS (
    SELECT user_id AS u, event_type AS et, event_id,
           floor(epoch(ts))::BIGINT AS ts_s
    FROM events
  ),
  counted AS (
    SELECT u, et, event_id,
           sum((et = 'view')::BIGINT) OVER (
             PARTITION BY u ORDER BY ts_s
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
             AS n_views
    FROM d
  )
  SELECT event_id AS purchase_id, u AS user_id,
         n_views::BIGINT AS n_views,
         (10000 // n_views)::BIGINT AS credit_bp,
         (10000 - n_views * (10000 // n_views))::BIGINT
           AS remainder_bp
  FROM counted WHERE et = 'purchase' AND n_views > 0
  ORDER BY purchase_id
"""


QUERIES_ROUND7.update({
    "dedup_prefix_filter": QuerySpec(
        q_dedup_prefix_filter, ORACLE_NGRAM,
        doc="lossless prefix-filtered Jaccard join (AllPairs bound, "
            "same oracle as the full inverted-index join; kernel: "
            "dedup.ngram_jaccard_pairs)"),
    "consistent_hash_routing": QuerySpec(
        q_consistent_hash_routing, ORACLE_CONSISTENT_HASH,
        doc="consistent-hash ring router (merge-stream successor "
            "lookup, vnode load audit)"),
    "linear_attribution": QuerySpec(
        q_linear_attribution, ORACLE_LINEAR_ATTRIBUTION,
        doc="linear multi-touch attribution (RANGE-frame view "
            "census, integer bp credits)"),
})


# ===========================================================================
# Batch 6: DiD, Nelson-Aalen, exact percentile_cont, changepoint,
# trending terms
# ===========================================================================

from ..operators import aggregations  # noqa: E402
from ..operators.eventflow import CHANGEPOINT_SSE, DID  # noqa: E402


def q_diff_in_diff_arms(spark, sf_dir):
    """DiD treatment-effect contrast across arms and the day-15
    cutover — four exact cells, one pinned combine."""
    return eventflow.diff_in_diff(_t(spark, sf_dir, "events"))


ORACLE_DID = f"""
  WITH d AS (
    SELECT (user_id % 2)::BIGINT AS arm,
           floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           floor(value * 100 + 0.5)::BIGINT AS v
    FROM events
  ),
  d0 AS (SELECT min(day) AS day0 FROM d),
  cells AS (
    SELECT arm, (day >= day0 + 15)::BIGINT AS post,
           count(*)::HUGEINT AS n, sum(v)::HUGEINT AS s
    FROM d, d0 GROUP BY 1, 2
  ),
  flat AS (
    SELECT
      sum(CASE WHEN arm = 0 AND post = 0 THEN n END) AS n00,
      sum(CASE WHEN arm = 0 AND post = 0 THEN s END) AS s00,
      sum(CASE WHEN arm = 0 AND post = 1 THEN n END) AS n01,
      sum(CASE WHEN arm = 0 AND post = 1 THEN s END) AS s01,
      sum(CASE WHEN arm = 1 AND post = 0 THEN n END) AS n10,
      sum(CASE WHEN arm = 1 AND post = 0 THEN s END) AS s10,
      sum(CASE WHEN arm = 1 AND post = 1 THEN n END) AS n11,
      sum(CASE WHEN arm = 1 AND post = 1 THEN s END) AS s11
    FROM cells
  ),
  dbl AS (
    SELECT n00::BIGINT AS n_00, n01::BIGINT AS n_01,
           n10::BIGINT AS n_10, n11::BIGINT AS n_11,
           (s10::DOUBLE / n10::DOUBLE) AS mtpre,
           (s11::DOUBLE / n11::DOUBLE) AS mtpost,
           (s00::DOUBLE / n00::DOUBLE) AS mcpre,
           (s01::DOUBLE / n01::DOUBLE) AS mcpost
    FROM flat
  )
  SELECT n_00, n_01, n_10, n_11,
         (CASE WHEN n_00 > 0 AND n_01 > 0 AND n_10 > 0 AND n_11 > 0
               THEN floor(({DID}) * 1000000)
               ELSE 0 END)::BIGINT AS did_e6
  FROM dbl
"""


def q_nelson_aalen_purchase(spark, sf_dir):
    """Cumulative hazard of time-to-first-purchase — fully integer
    (d·1e9 div n increments, exact running sum)."""
    return eventflow.nelson_aalen(_t(spark, sf_dir, "events"))


ORACLE_NELSON_AALEN = """
  WITH per_user AS (
    SELECT user_id,
           min(floor(epoch(ts))::BIGINT) AS first_s,
           min(CASE WHEN event_type = 'purchase'
                    THEN floor(epoch(ts))::BIGINT END) AS ev_s,
           max(floor(epoch(ts))::BIGINT) AS last_s
    FROM events GROUP BY user_id
  ),
  dur AS (
    SELECT coalesce(ev_s - first_s, last_s - first_s) AS t,
           (ev_s IS NOT NULL)::BIGINT AS is_event
    FROM per_user
  ),
  pts AS (SELECT t, sum(is_event)::BIGINT AS d,
                 sum(1 - is_event)::BIGINT AS c
          FROM dur GROUP BY t),
  at_risk AS (
    SELECT t, d,
           (sum(d + c) OVER ()
            - coalesce(sum(d + c) OVER (ORDER BY t
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                0))::BIGINT AS n
    FROM pts
  ),
  inc AS (SELECT t, d, n, (d * 1000000000) // n AS inc_e9
          FROM at_risk WHERE d > 0)
  SELECT t, d, n AS n_at_risk,
         sum(inc_e9) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW)::BIGINT AS cum_hazard_e9
  FROM inc ORDER BY t
"""


def q_changepoint_daily(spark, sf_dir):
    """Depth-1 binary-segmentation changepoint of the daily series
    (min left+right SSE, TakeOrdered argmin)."""
    return eventflow.changepoint_daily(_t(spark, sf_dir, "events"))


_SSE_SQL = (CHANGEPOINT_SSE
            .replace("ql", "qld").replace("sl", "sld")
            .replace("nl", "nld").replace("qr", "qrd")
            .replace("sr", "srd").replace("nr", "nrd"))

ORACLE_CHANGEPOINT = f"""
  WITH daily AS (
    SELECT floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS t
    FROM events GROUP BY 1
  ),
  cum AS (
    SELECT day,
           count(*) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW)::BIGINT AS nl,
           sum(t::HUGEINT) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW) AS sl,
           sum(t::HUGEINT * t::HUGEINT) OVER (ORDER BY day ROWS
             BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ql,
           count(*) OVER ()::BIGINT AS n,
           sum(t::HUGEINT) OVER () AS s,
           sum(t::HUGEINT * t::HUGEINT) OVER () AS q
    FROM daily
  ),
  dbl AS (
    SELECT day AS split_day, nl AS n_left, (n - nl) AS n_right,
           nl::DOUBLE AS nld, sl::DOUBLE AS sld, ql::DOUBLE AS qld,
           (n - nl)::DOUBLE AS nrd, (s - sl)::DOUBLE AS srd,
           (q - ql)::DOUBLE AS qrd
    FROM cum WHERE nl < n
  )
  SELECT split_day, n_left, n_right,
         floor({_SSE_SQL})::BIGINT AS sse_floor
  FROM dbl ORDER BY sse_floor, split_day LIMIT 1
"""


def q_quartiles_order_totals(spark, sf_dir):
    """Exact percentile_cont quartiles of order totals — integer
    interpolation on the distinct-value grid."""
    o = _t(spark, sf_dir, "orders")
    return aggregations.percentile_cont_quartiles(
        o, F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)))


ORACLE_QUARTILES = """
  WITH d AS (SELECT floor(o_totalprice * 100 + 0.5)::BIGINT AS v
             FROM orders),
  grid AS (SELECT v, count(*)::BIGINT AS c FROM d GROUP BY v),
  cum AS (SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
            PRECEDING AND CURRENT ROW)::BIGINT AS cum FROM grid),
  n AS (SELECT count(*)::BIGINT AS n FROM d),
  ranks AS (
    SELECT q, n, ((n - 1) * q) // 4 + 1 AS rlo,
           ((n - 1) * q) // 4 + 2 AS rhi,
           ((n - 1) * q) % 4 AS frac
    FROM (SELECT unnest([1, 2, 3])::BIGINT AS q), n
  ),
  lo AS (
    SELECT q, n, frac, min(v) AS v_lo
    FROM cum, ranks WHERE cum >= rlo GROUP BY q, n, frac
  ),
  hi AS (
    SELECT q, min(v) AS v_hi
    FROM cum, ranks WHERE cum >= rhi GROUP BY q
  )
  SELECT lo.q, n AS n_rows, v_lo,
         coalesce(v_hi, v_lo) AS v_hi,
         (v_lo * 100 + ((coalesce(v_hi, v_lo) - v_lo) * 100 * frac)
          // 4)::BIGINT AS value_e2
  FROM lo LEFT JOIN hi ON hi.q = lo.q
  ORDER BY lo.q
"""


def q_trending_terms_batches(spark, sf_dir):
    """Decayed trending terms over ingest batches (doc_id div 50) —
    integer halving per batch of age."""
    d = _t(spark, sf_dir, "documents")
    return text.trending_terms(d, F.expr("doc_id div 50"))


ORACLE_TRENDING = r"""
  WITH toks AS (
    SELECT (doc_id // 50)::BIGINT AS ep,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS term
    FROM documents
  ),
  per AS (SELECT term, ep, count(*)::BIGINT AS c FROM toks
          GROUP BY 1, 2),
  mx AS (SELECT max(ep) AS max_ep FROM per),
  scored AS (
    SELECT term,
           (c // (1::BIGINT << least(max_ep - ep, 40)::INT))::BIGINT
             AS w
    FROM per, mx
  ),
  agg AS (SELECT term, sum(w)::BIGINT AS score FROM scored
          GROUP BY term)
  SELECT term, score FROM agg WHERE score > 0
  ORDER BY score DESC, term LIMIT 20
"""


QUERIES_ROUND7.update({
    "diff_in_diff_arms": QuerySpec(
        q_diff_in_diff_arms, ORACLE_DID,
        doc="difference-in-differences contrast (4 exact cells, one "
            "pinned combine)"),
    "nelson_aalen_purchase": QuerySpec(
        q_nelson_aalen_purchase, ORACLE_NELSON_AALEN,
        doc="Nelson-Aalen cumulative hazard (fully integer "
            "increments)"),
    "changepoint_daily": QuerySpec(
        q_changepoint_daily, ORACLE_CHANGEPOINT,
        doc="binary-segmentation changepoint (prefix-sum SSE "
            "argmin)"),
    "quartiles_order_totals": QuerySpec(
        q_quartiles_order_totals, ORACLE_QUARTILES,
        doc="exact percentile_cont quartiles (integer interpolation "
            "on the distinct grid)"),
    "trending_terms_batches": QuerySpec(
        q_trending_terms_batches, ORACLE_TRENDING,
        doc="exponential-decay trending terms (integer halving per "
            "batch)"),
})


# ===========================================================================
# Batch 7: UCB1 bandit, Poisson rate test, churn hazard, degree
# power law, rolling median
# ===========================================================================

from ..operators.eventflow import POISSON_Z, UCB1  # noqa: E402


def q_ucb_arm_scores(spark, sf_dir):
    """UCB1 allocation scores per event-type arm (success = value ≥
    $100), deterministic rank."""
    return eventflow.ucb_arm_scores(_t(spark, sf_dir, "events"))


ORACLE_UCB = f"""
  WITH per AS (
    SELECT event_type AS arm, count(*)::BIGINT AS n,
           sum((floor(value * 100 + 0.5)::BIGINT >= 10000)::BIGINT)
             ::BIGINT AS k
    FROM events WHERE event_type IS NOT NULL GROUP BY 1
  ),
  tot AS (SELECT sum(n)::BIGINT AS nn FROM per),
  dbl AS (
    SELECT arm, n AS n_pulls, k AS n_wins, n::DOUBLE AS n_,
           k::DOUBLE AS k_, nn::DOUBLE AS nn_
    FROM per, tot
  ),
  scored AS (
    SELECT arm, n_pulls, n_wins,
           floor(({UCB1}) * 1000000)::BIGINT AS ucb_e6
    FROM dbl
  )
  SELECT arm, n_pulls, n_wins, ucb_e6,
         row_number() OVER (ORDER BY ucb_e6 DESC, arm) AS rank
  FROM scored
"""


def q_poisson_rate_arms(spark, sf_dir):
    """Conditional binomial test of event rates per exposure
    user-day between arms — integer numerator and radicand."""
    return eventflow.poisson_rate_test(_t(spark, sf_dir, "events"))


ORACLE_POISSON = f"""
  WITH d AS (
    SELECT (user_id % 2)::BIGINT AS arm, user_id AS u,
           floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day
    FROM events
  ),
  ks AS (SELECT arm, count(*)::BIGINT AS k FROM d GROUP BY arm),
  ex AS (SELECT arm, count(*)::BIGINT AS t
         FROM (SELECT DISTINCT arm, u, day FROM d) GROUP BY arm),
  j AS (
    SELECT sum(CASE WHEN ks.arm = 0 THEN k END)::BIGINT AS k1,
           sum(CASE WHEN ks.arm = 1 THEN k END)::BIGINT AS k2,
           sum(CASE WHEN ks.arm = 0 THEN t END)::BIGINT AS t1,
           sum(CASE WHEN ks.arm = 1 THEN t END)::BIGINT AS t2
    FROM ks JOIN ex ON ks.arm = ex.arm
  ),
  ints AS (
    SELECT k1 AS n_events_a, k2 AS n_events_b,
           t1 AS exposure_a, t2 AS exposure_b,
           (k1::HUGEINT * (t1 + t2)::HUGEINT
            - (k1 + k2)::HUGEINT * t1::HUGEINT)::DOUBLE AS k1t_,
           ((k1 + k2)::HUGEINT * t1::HUGEINT * t2::HUGEINT)::DOUBLE
             AS nt1t2_
    FROM j
  )
  SELECT n_events_a, n_events_b, exposure_a, exposure_b,
         (CASE WHEN exposure_a > 0 AND exposure_b > 0
                    AND nt1t2_ > 0.0
               THEN floor(({POISSON_Z}) * 1000000)
               ELSE 0 END)::BIGINT AS z_e6
  FROM ints
"""


def q_churn_hazard_tenure(spark, sf_dir):
    """Discrete churn hazard per tenure week, final-week users
    censored."""
    return eventflow.churn_hazard_by_tenure(_t(spark, sf_dir,
                                               "events"))


ORACLE_CHURN_HAZARD = """
  WITH per_user AS (
    SELECT user_id AS u,
           min(floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT)
             AS first_d,
           max(floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT)
             AS last_d
    FROM events GROUP BY 1
  ),
  mx AS (SELECT max(last_d) AS max_d FROM per_user),
  tagged AS (
    SELECT ((last_d - first_d) // 7)::BIGINT AS w,
           (last_d > max_d - 7)::BIGINT AS censored
    FROM per_user, mx
  ),
  hist AS (SELECT w, count(*)::BIGINT AS n_ending,
                  sum(censored)::BIGINT AS n_censored
           FROM tagged GROUP BY w),
  haz AS (
    SELECT w, n_ending, n_censored,
           sum(n_ending) OVER (ORDER BY w DESC ROWS BETWEEN
             UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS at_risk,
           (n_ending - n_censored)::BIGINT AS churned
    FROM hist
  )
  SELECT w AS tenure_week, at_risk, churned,
         n_censored AS censored,
         ((churned * 1000000) // at_risk)::BIGINT AS hazard_e6
  FROM haz ORDER BY tenure_week
"""


def q_degree_powerlaw_parts(spark, sf_dir):
    """Power-law exponent of the co-purchase degree histogram
    (quantized-ln OLS)."""
    from ..operators.graph import copurchase_edges
    return graph.degree_powerlaw(
        copurchase_edges(_t(spark, sf_dir, "lineitem")))


ORACLE_DEGREE_POWERLAW = f"""
  WITH e0 AS ({_COPURCHASE_SQL}),
  sym AS (SELECT pa AS x, pb AS y FROM e0
          UNION ALL SELECT pb, pa FROM e0),
  deg AS (SELECT x, count(*)::BIGINT AS d FROM sym GROUP BY x),
  hist AS (SELECT d, count(*)::BIGINT AS c FROM deg GROUP BY d),
  q AS (
    SELECT floor(ln(d::DOUBLE) * 1e6)::BIGINT AS qx,
           floor(ln(c::DOUBLE) * 1e6)::BIGINT AS qy
    FROM hist
  ),
  m AS (
    SELECT count(*)::HUGEINT AS n, sum(qx)::HUGEINT AS sx,
           sum(qy)::HUGEINT AS sy,
           sum(qx::HUGEINT * qx::HUGEINT) AS sxx,
           sum(qx::HUGEINT * qy::HUGEINT) AS sxy
    FROM q
  )
  SELECT n::BIGINT AS n_degree_levels,
         (CASE WHEN ((n::DOUBLE * sxx::DOUBLE)
                     - (sx::DOUBLE * sx::DOUBLE)) <> 0.0
               THEN floor(-(((n::DOUBLE * sxy::DOUBLE)
                             - (sx::DOUBLE * sy::DOUBLE))
                            / ((n::DOUBLE * sxx::DOUBLE)
                               - (sx::DOUBLE * sx::DOUBLE)))
                          * 1000000)
               ELSE 0 END)::BIGINT AS gamma_e6
  FROM m
"""


def q_rolling_median_daily(spark, sf_dir):
    """7-day rolling LOW median of daily totals (offset fan-out +
    nearest rank)."""
    return eventflow.rolling_median_daily(_t(spark, sf_dir,
                                             "events"))


ORACLE_ROLLING_MEDIAN = """
  WITH daily AS (
    SELECT floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT AS day,
           sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS t
    FROM events GROUP BY 1
  ),
  offs AS (SELECT unnest(generate_series(0, 6))::BIGINT AS off),
  members AS (SELECT (day + off) AS center, t FROM daily, offs),
  joined AS (
    SELECT m.center, m.t
    FROM members m JOIN (SELECT day AS center FROM daily) c
      USING (center)
  ),
  ranked AS (
    SELECT center, t,
           row_number() OVER (PARTITION BY center ORDER BY t) AS rn,
           count(*) OVER (PARTITION BY center) AS m
    FROM joined
  )
  SELECT center AS day, m::BIGINT AS n_window, t AS rolling_median
  FROM ranked WHERE rn = (m + 1) // 2 ORDER BY day
"""


QUERIES_ROUND7.update({
    "ucb_arm_scores": QuerySpec(
        q_ucb_arm_scores, ORACLE_UCB,
        doc="UCB1 bandit allocation scores per arm (pinned "
            "exploration bonus)"),
    "poisson_rate_arms": QuerySpec(
        q_poisson_rate_arms, ORACLE_POISSON,
        doc="two-sample event-rate test (conditional binomial, "
            "integer radicand)"),
    "churn_hazard_tenure": QuerySpec(
        q_churn_hazard_tenure, ORACLE_CHURN_HAZARD,
        doc="discrete churn hazard by tenure week (censored final "
            "week)"),
    "degree_powerlaw_parts": QuerySpec(
        q_degree_powerlaw_parts, ORACLE_DEGREE_POWERLAW,
        doc="degree-distribution power-law fit (quantized-ln OLS)"),
    "rolling_median_daily": QuerySpec(
        q_rolling_median_daily, ORACLE_ROLLING_MEDIAN,
        doc="7-day rolling LOW median smoother (offset fan-out)"),
})


# ===========================================================================
# Batch 8: distribution fitting, calendar heatmap, journey distance,
# outlier consensus
# ===========================================================================


def q_lognormal_gamma_values(spark, sf_dir):
    """Method-of-moments lognormal and gamma fits of event values
    (quantized-ln exact sums, pinned combines)."""
    return eventflow.lognormal_gamma_fit(_t(spark, sf_dir, "events"))


ORACLE_DIST_FIT = """
  WITH d AS (
    SELECT floor(value * 100 + 0.5)::BIGINT AS v FROM events
    WHERE floor(value * 100 + 0.5)::BIGINT > 0
  ),
  grid AS (SELECT v, count(*)::BIGINT AS c FROM d GROUP BY v),
  q AS (SELECT v, c,
               floor(ln(v::DOUBLE / 100.0) * 1e6)::BIGINT AS l
        FROM grid),
  m AS (
    SELECT sum(c)::HUGEINT AS n,
           sum(c::HUGEINT * l::HUGEINT) AS sl,
           sum(c::HUGEINT * (l::HUGEINT * l::HUGEINT)) AS ql,
           sum(c::HUGEINT * v::HUGEINT) AS sv,
           sum(c::HUGEINT * (v::HUGEINT * v::HUGEINT)) AS qv
    FROM q
  ),
  ints AS (
    SELECT n::BIGINT AS n_rows, ((sl + 30000000 * n) // n - 30000000)::BIGINT AS mu_e6,
           n::DOUBLE AS n_, sl::DOUBLE AS sl_, ql::DOUBLE AS ql_,
           sv::DOUBLE AS sv_, qv::DOUBLE AS qv_
    FROM m
  )
  SELECT n_rows, mu_e6,
         (CASE WHEN n_rows > 1
               THEN floor(sqrt(((n_ * ql_) - (sl_ * sl_))
                               / (n_ * n_)))
               ELSE 0 END)::BIGINT AS sigma_e6,
         (CASE WHEN (((n_ * qv_) - (sv_ * sv_)) / (n_ * n_)) > 0.0
               THEN floor((((sv_ / n_) * (sv_ / n_))
                           / (((n_ * qv_) - (sv_ * sv_))
                              / (n_ * n_))) * 1000000)
               ELSE 0 END)::BIGINT AS gamma_k_e6,
         (CASE WHEN (((n_ * qv_) - (sv_ * sv_)) / (n_ * n_)) > 0.0
               THEN floor(((((n_ * qv_) - (sv_ * sv_))
                            / (n_ * n_)) / (sv_ / n_)) * 1000000)
               ELSE 0 END)::BIGINT AS gamma_theta_e6
  FROM ints
"""


def q_dow_hour_heatmap(spark, sf_dir):
    """DOW × hour activity matrix in pure epoch arithmetic."""
    return eventflow.dow_hour_heatmap(_t(spark, sf_dir, "events"))


ORACLE_DOW_HOUR = """
  SELECT ((floor(floor(epoch(ts))::BIGINT / 86400)::BIGINT + 3) % 7)
           ::BIGINT AS dow,
         (floor(floor(epoch(ts))::BIGINT / 3600)::BIGINT % 24)
           ::BIGINT AS hour,
         count(*)::BIGINT AS n_events,
         sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS sum_cents
  FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_journey_edit_distance(spark, sf_dir):
    """Levenshtein distance between adjacent users' capped journey
    strings."""
    return eventflow.journey_edit_distance(_t(spark, sf_dir,
                                              "events"))


ORACLE_JOURNEY_EDIT = """
  WITH d AS (
    SELECT user_id AS u, substring(event_type, 1, 1) AS ch,
           floor(epoch(ts))::BIGINT AS ts_s, event_id
    FROM events
  ),
  capped AS (
    SELECT u, ch,
           row_number() OVER (PARTITION BY u
                              ORDER BY ts_s, event_id) AS rn
    FROM d QUALIFY rn <= 50
  ),
  js AS (SELECT u, string_agg(ch, '' ORDER BY rn) AS j
         FROM capped GROUP BY u)
  SELECT a.u AS user_a, b.u AS user_b,
         length(a.j)::BIGINT AS len_a, length(b.j)::BIGINT AS len_b,
         levenshtein(a.j, b.j)::BIGINT AS edit_distance
  FROM js a JOIN js b ON b.u = a.u + 1
  ORDER BY user_a
"""


def q_outlier_consensus(spark, sf_dir):
    """Vote histogram of the 3σ / 3·MAD / extreme-Tukey ensemble —
    every comparison integer."""
    return eventflow.outlier_consensus(_t(spark, sf_dir, "events"))


ORACLE_OUTLIER_CONSENSUS = """
  WITH d AS (SELECT floor(value * 100 + 0.5)::BIGINT AS v
             FROM events),
  mom AS (SELECT count(*)::HUGEINT AS n, sum(v)::HUGEINT AS s,
                 sum(v::HUGEINT * v::HUGEINT) AS q
          FROM d),
  grid AS (SELECT v, count(*)::BIGINT AS c FROM d GROUP BY v),
  cum AS (
    SELECT v, sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW)::BIGINT AS cum,
           sum(c) OVER ()::BIGINT AS nn
    FROM grid
  ),
  med AS (SELECT min(v) AS med FROM cum WHERE cum >= (nn + 1) // 2),
  qq1 AS (SELECT min(v) AS q1 FROM cum WHERE cum * 4 >= nn),
  qq3 AS (SELECT min(v) AS q3 FROM cum WHERE cum * 4 >= nn * 3),
  dev AS (SELECT abs(v - med) AS a FROM d, med),
  dgrid AS (SELECT a, count(*)::BIGINT AS c FROM dev GROUP BY a),
  dcum AS (
    SELECT a, sum(c) OVER (ORDER BY a ROWS BETWEEN UNBOUNDED
             PRECEDING AND CURRENT ROW)::BIGINT AS cum,
           sum(c) OVER ()::BIGINT AS nn
    FROM dgrid
  ),
  mad AS (SELECT min(a) AS mad FROM dcum WHERE cum >= (nn + 1) // 2),
  votes AS (
    SELECT (((n * v::HUGEINT - s) * (n * v::HUGEINT - s)
             > 9 * (n * q - s * s))::BIGINT
            + (abs(v - med) > 3 * mad)::BIGINT
            + ((2 * v < 2 * q1 - 3 * (q3 - q1))
               OR (2 * v > 2 * q3 + 3 * (q3 - q1)))::BIGINT)
             AS votes
    FROM d, mom, med, mad, qq1, qq3
  )
  SELECT votes, count(*)::BIGINT AS n_rows
  FROM votes GROUP BY votes ORDER BY votes
"""


QUERIES_ROUND7.update({
    "lognormal_gamma_values": QuerySpec(
        q_lognormal_gamma_values, ORACLE_DIST_FIT,
        doc="method-of-moments lognormal + gamma fits (quantized-ln "
            "exact sums)"),
    "dow_hour_heatmap": QuerySpec(
        q_dow_hour_heatmap, ORACLE_DOW_HOUR,
        doc="dow×hour calendar heatmap (pure epoch integer "
            "arithmetic)"),
    "journey_edit_distance": QuerySpec(
        q_journey_edit_distance, ORACLE_JOURNEY_EDIT,
        doc="adjacent-user journey Levenshtein (capped total-order "
            "strings)"),
    "outlier_consensus": QuerySpec(
        q_outlier_consensus, ORACLE_OUTLIER_CONSENSUS,
        doc="3-detector outlier vote histogram (all-integer "
            "thresholds)"),
})
