"""Experimentation / forecast-evaluation queries.

- ``ab_test_lift`` — the experimentation-platform readout: users split
  into two variants by the repo's engine-portable md5 hash bucket
  (never rand() — assignment is a pure function of the id, stable and
  auditable), conversion = made a HIGH-VALUE purchase (value ≥ 80 —
  plain purchase is near-universal in this domain, a degenerate
  metric whose pooled variance is zero), and the two-proportion
  pooled z-test with rates and lift in exact integer basis points.
  The z statistic is built entirely from exact integer counts through
  correctly-rounded IEEE ops in one spelled-out order — identical
  doubles in both engines, so even the significance flag is safe.
- ``holt_backtest`` — rolling-origin forecast evaluation of the Holt
  model: every day-t state predicts day t+1, errors aggregate to the
  model's MAE next to the naive (carry-forward) baseline's MAE — the
  backtesting operator that turns a forecaster into a measured one
  (skill > 1 means the model loses to persistence). Naive errors are
  exact integer cents end to end (half-up integer division); model
  errors are doubles from the shared unrounded Holt fold.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _t(spark, sf_dir, name):
    from tracker_trainer_spark.queries import _t as _load

    return _load(spark, sf_dir, name)


def r4(c):
    return F.round(c, 4)


# --------------------------------------------------------------------------
# Two-variant A/B conversion test (pooled two-proportion z)
# --------------------------------------------------------------------------

def ab_test_lift(spark, sf_dir):
    """Hash-assigned A/B conversion readout over event users: variant =
    md5-bucket(user_id) % 2 (portable, reshuffle-stable), conversion =
    at least one HIGH-VALUE purchase (value ≥ 80; plain purchase is
    near-universal here — zero pooled variance). One row: per-variant
    user/converter counts, rates in half-up integer basis points, the
    pooled two-proportion z statistic, and its |z| > 1.96 significance
    flag. z = (pa − pb) / sqrt(p̂(1−p̂)(1/na + 1/nb)) with every input
    an exact integer — both engines produce the identical double, so
    the comparison against 1.96 can never disagree."""
    from tracker_trainer_spark.functions.sampling import hash_bucket

    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(((F.col("event_type") == "purchase")
               & (F.col("value") >= 80.0)).cast("int")).alias("conv"))
    assigned = per_user.select(
        (hash_bucket("user_id") % 2).alias("v"), "conv")
    counts = assigned.agg(
        F.sum(F.when(F.col("v") == 0, 1).otherwise(0)).cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("v") == 0, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_a"),
        F.sum(F.when(F.col("v") == 1, 1).otherwise(0)).cast("long")
        .alias("n_b"),
        F.sum(F.when(F.col("v") == 1, F.col("conv")).otherwise(0))
        .cast("long").alias("conv_b"),
    )
    z = (
        (F.col("conv_a").cast("double") / F.col("n_a").cast("double")
         - F.col("conv_b").cast("double") / F.col("n_b").cast("double"))
        / F.sqrt(
            ((F.col("conv_a") + F.col("conv_b")).cast("double")
             / (F.col("n_a") + F.col("n_b")).cast("double"))
            * (1.0 - (F.col("conv_a") + F.col("conv_b")).cast("double")
               / (F.col("n_a") + F.col("n_b")).cast("double"))
            * (1.0 / F.col("n_a").cast("double")
               + 1.0 / F.col("n_b").cast("double"))
        )
    )
    return counts.select(
        "n_a", "conv_a",
        F.expr("(2 * conv_a * 10000 + n_a) div (2 * n_a)")
        .alias("rate_a_bp"),
        "n_b", "conv_b",
        F.expr("(2 * conv_b * 10000 + n_b) div (2 * n_b)")
        .alias("rate_b_bp"),
        (r4(z) + F.lit(0.0)).alias("z_score"),
        (F.abs(z) > 1.96).cast("int").alias("significant_95"),
    )


AB_SQL = """
WITH per_user AS (
  SELECT user_id,
         max(CASE WHEN event_type = 'purchase' AND value >= 80.0
                  THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), assigned AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 % 2 AS v,
         conv
  FROM per_user
), counts AS (
  SELECT CAST(sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(sum(CASE WHEN v = 0 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(sum(CASE WHEN v = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(sum(CASE WHEN v = 1 THEN conv ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM assigned
)
SELECT n_a, conv_a,
       CAST((2 * conv_a * 10000 + n_a) // (2 * n_a) AS BIGINT)
         AS rate_a_bp,
       n_b, conv_b,
       CAST((2 * conv_b * 10000 + n_b) // (2 * n_b) AS BIGINT)
         AS rate_b_bp,
       round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                       / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / CAST(n_a AS DOUBLE)
                       + 1.0 / CAST(n_b AS DOUBLE))), 4) + 0.0 AS z_score,
       CAST(abs((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
                 - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
                / sqrt((CAST(conv_a + conv_b AS DOUBLE)
                        / CAST(n_a + n_b AS DOUBLE))
                       * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
                          / CAST(n_a + n_b AS DOUBLE))
                       * (1.0 / CAST(n_a AS DOUBLE)
                          + 1.0 / CAST(n_b AS DOUBLE)))) > 1.96
            AS INT) AS significant_95
FROM counts
"""


# --------------------------------------------------------------------------
# Rolling-origin Holt backtest (model MAE vs naive persistence MAE)
# --------------------------------------------------------------------------

def holt_backtest(spark, sf_dir):
    """Rolling-origin evaluation of the Holt forecaster: each day-t
    state's 1-step forecast (unrounded l + b) scores against day t+1's
    actual, next to the naive carry-forward baseline. One row:
    evaluation count, the model's MAE (double, r4 — forecasts are
    FP), the naive MAE in exact half-up integer cents, and the naive
    MAE minus model MAE (positive = the model beats persistence)."""
    from tracker_trainer_spark.queries_seq_ext import _holt_states

    st = _holt_states(spark, sf_dir).select(
        F.col("s.day").alias("day"),
        F.col("s.cents").alias("cents"),
        (F.col("s.st.l") + F.col("s.st.b")).alias("fc"),
    )
    w = Window.orderBy("day")
    ev = (
        st.select(
            "day", "cents", "fc",
            F.lead("cents").over(w).alias("next_cents"),
        )
        .where(F.col("next_cents").isNotNull())
        .select(
            F.abs(F.col("next_cents").cast("double") - F.col("fc"))
            .alias("model_err"),
            F.abs(F.col("next_cents") - F.col("cents")).alias("naive_err"),
        )
    )
    return ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_evals"),
        (r4(F.avg("model_err")) + F.lit(0.0)).alias("mae_model_cents"),
        F.expr("(2 * sum(naive_err) + count(1)) div (2 * count(1))")
        .alias("mae_naive_cents"),
        (r4(F.expr("(2 * sum(naive_err) + count(1)) div (2 * count(1))")
            .cast("double") - F.avg("model_err")) + F.lit(0.0))
        .alias("model_edge_cents"),
    )


def _backtest_sql():
    from tracker_trainer_spark.queries_seq_ext import HOLT_CORE_SQL

    return f"""
WITH RECURSIVE {HOLT_CORE_SQL}, ev AS (
  SELECT abs(CAST(lead(cents) OVER (ORDER BY day) AS DOUBLE) - (l + b))
           AS model_err,
         abs(lead(cents) OVER (ORDER BY day) - cents) AS naive_err
  FROM st
  QUALIFY lead(cents) OVER (ORDER BY day) IS NOT NULL
)
SELECT CAST(count(*) AS BIGINT) AS n_evals,
       round(avg(model_err), 4) + 0.0 AS mae_model_cents,
       CAST((2 * sum(naive_err) + count(*)) // (2 * count(*)) AS BIGINT)
         AS mae_naive_cents,
       round(CAST((2 * sum(naive_err) + count(*)) // (2 * count(*))
                  AS DOUBLE) - avg(model_err), 4) + 0.0
         AS model_edge_cents
FROM ev
"""


# --------------------------------------------------------------------------
# Mann-Whitney U (rank-based two-sample test) — the nonparametric twin
# of ab_test_lift's z-test: no normality assumption on the metric
# --------------------------------------------------------------------------

def mann_whitney_u(spark, sf_dir):
    """Rank-based two-sample location test over order values: variants
    assigned by the portable md5 hash bucket of o_orderkey, metric =
    exact integer cents of o_totalprice, and the Mann-Whitney U with
    midranks, tie correction and normal approximation.

    Every statistic is built from EXACT integer aggregates so both
    engines derive bit-identical doubles:

    - doubled midrank R2(v) = 2·cnt_less(v) + cnt_eq(v) + 1 (twice the
      textbook midrank, so ties at .5 stay integer);
    - S2a = Σ R2 over variant A (BIGINT), U2 = S2a − 2·Ra_min where
      2·U_a = S2a − n_a(n_a+1);
    - tie term ΣT = Σ(t³ − t) per tied-value group (BIGINT);
    - z = (U_a − n_a·n_b/2) / sqrt(var), var = n_a·n_b/12 ·
      ((N+1) − ΣT/(N(N−1))) — one spelled-out double formula over the
      integer aggregates.

    The rank table is an ECDF over the DISTINCT-cents relation (one
    global-ordered running sum — value-cardinality-sized, the same
    single-partition ECDF spelling as the KS drift query); fact rows
    join to it by value, they are never globally sorted themselves."""
    from tracker_trainer_spark.functions.sampling import hash_bucket

    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        (hash_bucket("o_orderkey") % 2).alias("v"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    # r9 (VERDICT r8 item 5): ONE fact aggregation — the r8 spelling
    # aggregated `base` twice (vc by cents, pv by (v, cents)); the
    # value histogram is a regroup of the finer per-variant histogram,
    # and counts are exact integers, so vc now derives from pv and the
    # orders scan+agg runs once.  sf0.1 best-of-3: 0.85 → 0.72 s.
    # r9 late A/B, DECLINED: persisting pv for its two consumer paths
    # measured ~1.8 s vs ~1.17 s at sf0.1 — the paths share ONE
    # identical exchange subtree, which Spark already dedupes via
    # ReusedExchange (unlike the ≥3-consumer InMemoryRelation cases the
    # r9 persists fixed), so the persist only added a blocking
    # materialization.
    pv = base.groupBy("v", "cents").agg(
        F.count(F.lit(1)).cast("long").alias("n"))
    vc = pv.groupBy("cents").agg(
        F.sum("n").cast("long").alias("t"))
    w = Window.orderBy("cents").rowsBetween(
        Window.unboundedPreceding, 0)
    ranked = vc.select(
        "cents", "t",
        (F.sum("t").over(w).cast("long") - F.col("t")).alias("lt"),
    ).select(
        "cents",
        (F.lit(2) * F.col("lt") + F.col("t") + F.lit(1)).alias("r2"),
        (F.col("t") * F.col("t") * F.col("t") - F.col("t")).alias("tt"),
    )
    sums = (
        pv.join(ranked, "cents")
        .groupBy("v")
        .agg(
            F.sum("n").cast("long").alias("nv"),
            F.sum(F.col("n") * F.col("r2")).cast("long").alias("s2"),
        )
    )
    tie = ranked.agg(F.sum("tt").cast("long").alias("_sumtt"))
    # conditional aggregation, not filter+join: the oracle's scalar
    # subqueries always yield ONE row (NULL fields if a variant is
    # empty); an empty-variant filter side would instead collapse the
    # join to ZERO rows and diverge row-for-row from the oracle
    ab = sums.agg(
        F.max(F.when(F.col("v") == 0, F.col("nv"))).alias("n_a"),
        F.max(F.when(F.col("v") == 0, F.col("s2"))).alias("s2a"),
        F.max(F.when(F.col("v") == 1, F.col("nv"))).alias("n_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nn = na + nb
    # U_a from the doubled rank sum: 2·U_a = s2a − n_a·(n_a + 1)
    u2 = (F.col("s2a") - F.col("n_a") * (F.col("n_a") + F.lit(1)))
    u_a = u2.cast("double") / F.lit(2.0)
    var = (na * nb / F.lit(12.0)) * (
        (nn + F.lit(1.0))
        - F.col("_sumtt").cast("double") / (nn * (nn - F.lit(1.0)))
    )
    z = (u_a - na * nb / F.lit(2.0)) / F.sqrt(var)
    return (
        ab.join(F.broadcast(tie))
        .select(
            "n_a", "n_b",
            (r4(u_a) + 0.0).alias("u_stat"),
            (r4(z) + 0.0).alias("z_score"),
            (F.abs(z) > 1.96).cast("int").alias("significant"),
        )
    )


MWU_SQL = """
WITH base AS (
  SELECT CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
              AS BIGINT) % 100 % 2 AS v,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders
), vc AS (
  SELECT cents, CAST(count(*) AS BIGINT) AS t FROM base GROUP BY 1
), ranked AS (
  SELECT cents,
         2 * (CAST(sum(t) OVER (ORDER BY cents
                ROWS UNBOUNDED PRECEDING) AS BIGINT) - t) + t + 1 AS r2,
         t * t * t - t AS tt
  FROM vc
), pv AS (
  SELECT v, cents, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY 1, 2
), sums AS (
  SELECT v, CAST(sum(n) AS BIGINT) AS nv,
         CAST(sum(n * r2) AS BIGINT) AS s2
  FROM pv JOIN ranked USING (cents) GROUP BY v
), tie AS (SELECT CAST(sum(tt) AS BIGINT) AS sumtt FROM ranked),
ab AS (
  SELECT (SELECT nv FROM sums WHERE v = 0) AS n_a,
         (SELECT s2 FROM sums WHERE v = 0) AS s2a,
         (SELECT nv FROM sums WHERE v = 1) AS n_b,
         (SELECT sumtt FROM tie) AS sumtt
), f AS (
  SELECT n_a, n_b,
         CAST(s2a - n_a * (n_a + 1) AS DOUBLE) / 2.0 AS u_a,
         CAST(n_a AS DOUBLE) AS nad, CAST(n_b AS DOUBLE) AS nbd,
         CAST(sumtt AS DOUBLE) AS ttd
  FROM ab
), z AS (
  SELECT n_a, n_b, u_a,
         (u_a - nad * nbd / 2.0)
           / sqrt((nad * nbd / 12.0)
                  * ((nad + nbd + 1.0)
                     - ttd / ((nad + nbd) * (nad + nbd - 1.0)))) AS zs
  FROM f
)
SELECT n_a, n_b,
       round(u_a, 4) + 0.0 AS u_stat,
       round(zs, 4) + 0.0 AS z_score,
       CAST(abs(zs) > 1.96 AS INT) AS significant
FROM z
"""


# (name, query, DuckDB oracle SQL) rows; queries.py assembles the registry.
REGISTRY = (
    ("ab_test_lift", ab_test_lift, AB_SQL),
    ("holt_backtest", holt_backtest, _backtest_sql()),
    ("mann_whitney_u", mann_whitney_u, MWU_SQL),
)
