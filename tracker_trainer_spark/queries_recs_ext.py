"""Recommender / growth-analytics queries.

- ``part_affinity_recs`` — item-item collaborative filtering: top
  recommendations per seed part by co-purchase cosine
  (co / sqrt(n_a·n_b)), the classic "customers who bought X also
  bought Y" operator. Co-occurrence pairs generate from a shuffle-hash
  self-join of the deduped co-partitioned (order, part) relation
  (``copurchase_pairs`` — ONE fact exchange serves the dedup and both
  join sides; r7, replacing the collect_set basket explode whose array
  aggregation dominated the query); cosine ranks are cross-engine safe
  because every input is an exact integer and sqrt/division are
  correctly-rounded IEEE ops evaluated in the same order.
- ``cohort_ltv_curve`` — cumulative lifetime-value curves per signup
  cohort: users cohorted by first-seen week, cumulative purchase
  cents per cohort through each week-age k, and LTV per user in exact
  integer cents (integer half-up division) — the growth-analytics twin
  of ``retention_cohorts`` (that one counts actives; this follows the
  money).
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
# Item-item collaborative filtering over co-purchase baskets
# --------------------------------------------------------------------------

_RECS_PER_SEED = 3
_RECS_TOPN = 30
_RECS_MIN_CO = 3


def copurchase_pairs(ob, pack: bool = True):
    """Unordered co-purchase pair counts from a deduped (order, part)
    relation: ``(a, b, co)`` with a < b, one row per distinct pair.

    THE shipped pair-generation subtree (part_affinity_recs, the pair
    soak, and the stage profiler all call this one function — a shape
    change here is automatically what the soak certifies):

    - the caller hands in ``ob`` already repartitioned on
      ``l_orderkey`` and deduped, so the shuffle-hash self-join rides
      that single fact exchange (AQE stage reuse serves both sides);
    - the a<b convention lives in the join condition (half-volume
      stream);
    - ``pack=True`` packs the pair into one BIGINT key for the count
      agg (primitive-long hashing, the supplier_shared_parts
      convention) and unpacks after — EXACT only while partkey < 2³¹
      (TPC-H partkey = 200k × SF crosses that near SF ~10,000; the
      caller checks the actual key bound from parquet footer stats and
      passes ``pack=False`` past it, where the agg groups the (a, b)
      ints directly: same result, ~2× slower hashing, no overflow).
    """
    x, y = ob.alias("x"), ob.hint("shuffle_hash").alias("y")
    joined = x.join(y, (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
                    & (F.col("x.l_partkey") < F.col("y.l_partkey")))
    if pack:
        return (
            joined.select(
                (F.shiftleft(F.col("x.l_partkey").cast("bigint"), 32)
                 + F.col("y.l_partkey")).alias("pk"))
            .groupBy("pk")
            .agg(F.count(F.lit(1)).cast("long").alias("co"))
            .select(F.expr("shiftright(pk, 32)").alias("a"),
                    F.expr("pk & 4294967295").alias("b"), "co")
        )
    return (
        joined.select(F.col("x.l_partkey").cast("bigint").alias("a"),
                      F.col("y.l_partkey").cast("bigint").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("co"))
    )


def part_affinity_recs(spark, sf_dir):
    """Top-N item-item recommendations by co-purchase cosine: for each
    seed part, the strongest co-purchased parts with
    cos = co / sqrt(n_seed · n_rec), co ≥ 3 (support floor). Ranks take
    the top 3 per seed (cosine desc, rec id) and the global top 30 rows
    (cosine desc, seed, rec) — every ranking key is either an exact
    integer or a correctly-rounded IEEE expression over exact integers
    (identical doubles in both engines, so no rounded-tie hazard).

    r7 pair shape (profiled at sf1, scripts/profile_pairs.py): the r6
    basket spelling built per-order arrays with collect_set and exploded
    pairs scan-side — but the collect_set aggregation itself dominated
    the query (~6.5 s of a ~10 s wall at sf1: array buffers defeat the
    codegen fixed-width agg path AND map-side combine). Pairs now come
    from a self-join of the deduped (order, part) relation — an equal
    volume of generated pairs without ever building an array:

    - ``repartition(l_orderkey)`` + ``dropDuplicates`` puts ONE
      hash exchange on the fact; HashPartitioning(okey) satisfies the
      dedup's ClusteredDistribution(okey, pkey), the self-join's
      ClusteredDistribution(okey), and AQE stage reuse serves both join
      sides from that single materialization — the fact crosses the
      network exactly once, same as the basket shape.
    - the a<b convention lives in the join condition, so the generated
      stream is half-volume; key packing for the count agg (and its
      partkey-width fallback) lives in ``copurchase_pairs``.
    - ``shuffle_hash`` hint: the join is already co-partitioned, and a
      hash probe generates pairs without SortMergeJoin's two 6M-row
      sorts (A/B at sf1: SMJ 6.1 s vs SHJ 2.9 s full-query warm).
      Per-partition build side is |fact|/shuffle-partitions rows —
      bounded at any scale by sizing shuffle partitions, the normal
      100 TB lever, and AQE skew-split keeps a hub order from pinning
      one task.

    Self-join here is NOT the r5 anti-pattern (that was a self-join of
    the RAW fact with both directions kept); on the deduped
    co-partitioned relation it is strictly less work than the basket
    explode — same pair stream, no array materialization.

    r8: ``ob`` is PERSISTED.  Stage accounting at sf1 (UI REST metrics)
    showed the single-fact-exchange claim broken in the 3-consumer
    shape: AQE's stage reuse served the self-join's two sides from one
    materialization when they were the ONLY consumers, but with the
    n_part branch as a third consumer the 66 MB dedup exchange ran
    TWICE (classic ReuseExchange with AQE off deduplicates it, so the
    subtrees are canonically equal — the miss is AQE stage-cache
    behavior, not plan shape).  persist() restores compute-once for
    all three consumers the way reuse should have: sf1 full-query
    min-of-3 4.21 s → 2.18 s (A/B'd against an independent
    countDistinct n_part branch too: 2.87 s — persist wins).  At
    100 TB the cached relation is fact-sized; MEMORY_AND_DISK spills
    blocks to executor-local disk, which is exactly where the reused
    shuffle files would have lived — same storage posture, one fact
    network crossing either way.  Both persists ride
    ``tracked_persist`` (ADVICE r8): harnesses release them between
    queries via ``release_caches()``; under a harness that doesn't,
    LRU block eviction is the documented release mechanism.

    r9: ``n_part`` is persisted too — the executed sf1 plan showed the
    degree AGGREGATION running TWICE (the na/nb lookups are two
    different projections of the same agg subtree, which AQE stage
    reuse does not dedupe — same miss as the r8 3-consumer case):
    stages of 26 s + 11 s CPU re-scanning the ob cache and re-agging.
    Persisting the part-keyed degree relation (part-table-sized,
    bounded) computes it once; sf1 full-query min-of-4 1.97 s → 1.31 s.
    """
    from tracker_trainer_spark.queries import table_column_max, tracked_persist

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    ob = tracked_persist(
        li.repartition("l_orderkey")
        .dropDuplicates(["l_orderkey", "l_partkey"]))
    # BIGINT pair pack is exact only while 0 <= partkey < 2^31; check
    # BOTH bounds from parquet footer stats (zero Spark jobs) and fall
    # back to 2-int grouping outside them — or when either stat is
    # absent (review r7: TPC-H partkey = 200k x SF overflows the pack
    # near SF ~10,000, inside the stated 100 TB posture; ADVICE r7: a
    # NEGATIVE partkey's sign bits would bleed into the high word while
    # a max-only gate passes — TPC-H keys are positive, but the guard
    # exists precisely for non-TPC-H inputs).
    from tracker_trainer_spark.queries import table_column_min

    max_pk = table_column_max(sf_dir, "lineitem", "l_partkey")
    min_pk = table_column_min(sf_dir, "lineitem", "l_partkey")
    half = copurchase_pairs(
        ob, pack=(max_pk is not None and int(max_pk) < 2 ** 31
                  and min_pk is not None and int(min_pk) >= 0),
    ).where(F.col("co") >= _RECS_MIN_CO)
    sym = half.select(
        F.explode(F.expr(
            "array(struct(a, b, co), struct(b AS a, a AS b, co))")).alias("p")
    ).select("p.a", "p.b", "p.co")
    # per-part distinct-order counts (the cosine norms) ride the same
    # deduped relation; the partkey exchange map-side-combines 6M rows
    # onto |part| keys before it moves.  Persisted (r9, see docstring):
    # consumed twice under different projections, which AQE won't dedupe.
    n_part = tracked_persist(
        ob.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    # n_part is part-table-sized (grows with SF) — no broadcast hint;
    # AQE broadcasts it while it fits, shuffles on the pair keys past it.
    scored = (
        sym.join(n_part.select(F.col("l_partkey").alias("a"),
                               F.col("n").alias("na")), "a")
        .join(n_part.select(F.col("l_partkey").alias("b"),
                            F.col("n").alias("nb")), "b")
        .select(
            F.col("a").alias("seed"), F.col("b").alias("rec"), "co",
            (F.col("co").cast("double")
             / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
             ).alias("_cos"),
        )
    )
    wr = Window.partitionBy("seed").orderBy(F.desc("_cos"), "rec")
    return (
        scored.withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= _RECS_PER_SEED)
        .select("seed", "rec", "co",
                F.col("rnk").cast("int").alias("rnk"),
                r4(F.col("_cos")).alias("cosine"))
        .orderBy(F.desc("_cos"), "seed", "rec")
        .limit(_RECS_TOPN)
    )


RECS_SQL = f"""
WITH ob AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
), co AS (
  SELECT x.l_partkey AS a, y.l_partkey AS b,
         CAST(count(*) AS BIGINT) AS co
  FROM ob x JOIN ob y
    ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey
  GROUP BY 1, 2
  HAVING count(*) >= {_RECS_MIN_CO}
), n_part AS (
  SELECT l_partkey, CAST(count(*) AS BIGINT) AS n FROM ob GROUP BY 1
), sym AS (
  SELECT a, b, co FROM co
  UNION ALL
  SELECT b AS a, a AS b, co FROM co
), scored AS (
  SELECT sym.a AS seed, sym.b AS rec, sym.co,
         CAST(sym.co AS DOUBLE)
           / sqrt(CAST(na.n AS DOUBLE) * CAST(nb.n AS DOUBLE)) AS _cos
  FROM sym
  JOIN n_part na ON sym.a = na.l_partkey
  JOIN n_part nb ON sym.b = nb.l_partkey
), ranked AS (
  SELECT seed, rec, co, _cos,
         row_number() OVER (PARTITION BY seed
                            ORDER BY _cos DESC, rec) AS rnk
  FROM scored
)
SELECT seed, rec, co, CAST(rnk AS INT) AS rnk, round(_cos, 4) AS cosine
FROM ranked
WHERE rnk <= {_RECS_PER_SEED}
ORDER BY _cos DESC, seed, rec
LIMIT {_RECS_TOPN}
"""


# --------------------------------------------------------------------------
# Cohort LTV curves (cumulative revenue per signup cohort by week age)
# --------------------------------------------------------------------------

def cohort_ltv_curve(spark, sf_dir):
    """Cumulative lifetime value per signup cohort: users cohort by
    first-seen week; for each week-age k since cohort start, the
    cohort's cumulative purchase revenue and the per-user LTV in exact
    integer cents (half-up integer division) — the revenue twin of
    ``retention_cohorts``. One user-keyed agg for cohorting, one
    (cohort, age) agg for weekly revenue, one calendar-bounded window
    for the running sum; no n-sized relation ever re-shuffles."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_users"))
    weekly = (
        ev.where(F.col("event_type") == "purchase")
        .join(firsts, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.date_trunc("week", "ts").cast("date"),
                        F.col("cohort")) / 7).cast("int").alias("age_weeks"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long"))
             .cast("long").alias("week_cents"))
    )
    wcum = (Window.partitionBy("cohort").orderBy("age_weeks")
            .rowsBetween(Window.unboundedPreceding, 0))
    return (
        weekly.withColumn(
            "cum_cents", F.sum("week_cents").over(wcum).cast("long"))
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort", "age_weeks", "cohort_users", "week_cents",
            "cum_cents",
            F.expr("(2 * cum_cents + cohort_users)"
                   " div (2 * cohort_users)").alias("ltv_cents_per_user"),
        )
        .orderBy("cohort", "age_weeks")
    )


LTV_SQL = """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE) AS cohort
  FROM events GROUP BY 1
), sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_users
  FROM firsts GROUP BY 1
), weekly AS (
  SELECT f.cohort,
         CAST(date_diff('day', f.cohort,
                        CAST(date_trunc('week', e.ts) AS DATE)) / 7
              AS INT) AS age_weeks,
         CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT)
           AS week_cents
  FROM events e JOIN firsts f ON e.user_id = f.user_id
  WHERE e.event_type = 'purchase'
  GROUP BY 1, 2
), cum AS (
  SELECT cohort, age_weeks, week_cents,
         CAST(sum(week_cents) OVER (PARTITION BY cohort ORDER BY age_weeks
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_cents
  FROM weekly
)
SELECT c.cohort, c.age_weeks, s.cohort_users, c.week_cents, c.cum_cents,
       CAST((2 * c.cum_cents + s.cohort_users)
            // (2 * s.cohort_users) AS BIGINT) AS ltv_cents_per_user
FROM cum c JOIN sizes s ON c.cohort = s.cohort
ORDER BY c.cohort, c.age_weeks
"""


# (name, query, DuckDB oracle SQL) rows; queries.py assembles the registry.
REGISTRY = (
    ("part_affinity_recs", part_affinity_recs, RECS_SQL),
    ("cohort_ltv_curve", cohort_ltv_curve, LTV_SQL),
)
