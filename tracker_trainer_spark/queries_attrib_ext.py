"""Marketing attribution / engine-operations queries.

- ``multitouch_attribution`` — multi-touch credit assignment: every
  purchase distributes credit over the same user's touchpoints in the
  preceding 7 days under TWO industry models at once — linear (1/k
  each) and U-shaped / position-based (40% first touch, 40% last, 20%
  split over the middle) — then credit rolls up per touch channel
  (event type). The window membership rides the repo's bin-bucketed
  ``interval_join`` (equi-join + exact µs residual, never a theta
  join).
- ``key_skew_audit`` — the partition-skew diagnostic an engine
  operator runs BEFORE choosing salting/AQE thresholds: per join key
  (supplier, part, customer), the key-frequency distribution's
  top-1 share and p99/median ratio in exact integer basis points. All
  order statistics come from the frequency HISTOGRAM (distinct
  frequency values — bounded), never from a global sort of the key
  relation, so the audit itself is skew-proof at any scale.
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
# Multi-touch attribution (linear + U-shaped position credits)
# --------------------------------------------------------------------------

_MTA_WINDOW_DAYS = 7

# single-source credit arithmetic: the Spark query, the DuckDB oracle,
# and the conservation invariant test all read THESE strings — a weight
# change that breaks conservation cannot silently stay in sync with a
# copied test
MTA_LINEAR_CREDIT_SQL = "1.0 / CAST(k AS DOUBLE)"
MTA_POSITION_CREDIT_SQL = """CASE WHEN k = 1 THEN 1.0
              WHEN k = 2 THEN 0.5
              WHEN r = 1 OR r = k THEN 0.4
              ELSE 0.2 / CAST(k - 2 AS DOUBLE) END"""


def multitouch_attribution(spark, sf_dir):
    """Linear and U-shaped multi-touch attribution over a 7-day
    lookback: per purchase, rank the user's preceding non-purchase
    touches by time (event-id tiebreak), give each 1/k linear credit
    and the 40/20/40 position credit (k=1 → 1.0, k=2 → 0.5/0.5), then
    aggregate credit per channel.

    Parity: credits are single divisions of exact integers evaluated
    through the identical CASE text on both engines; channel sums
    differ only in summation order and the r4 output absorbs that
    (the per-row credits themselves are bit-equal).

    Scale/wall (r8, VERDICT r7 item 3 — profiled first,
    scripts/profile_mta.py): the r7 shape's sf1 wall split into the
    two event scans (~0.5 s), the bin join stage (12.5 s executor /
    7.1 s CPU across 32 tasks), and a 39.6 MB purchase-keyed exchange
    + 2.2M-row window sort (5.0 s executor) — stage-chain depth, not
    one hot operator.  The fix: window membership now rides the
    ANCHORED bin join (`anchored_interval_join`) — points explode to
    candidate anchor bins, each purchase maps to its ONE anchor bin —
    so every match of a purchase lands in the same (user, anchor-bin)
    partition and the ranking window, partitioned by
    (user_id, _anchor_bin, purchase_id), plans with NO exchange: the
    purchase-keyed shuffle and its stage level are gone.  Join inputs
    stay pinned to spark.sql.shuffle.partitions (r7): the stage is
    CPU-bound over few bytes and AQE's byte-based coalescer would
    collapse it onto ~3 cores.  The join itself is hinted shuffle-hash
    (the window re-sorts regardless, so SMJ's sorts buy nothing; same
    profiled call as part_affinity's r7 rewrite).  Measured sf1
    walls, min-of-4 interleaved: r7 shape 1.75 s → anchored 1.13 s →
    anchored+SHJ 0.95 s; remaining wall is the two 3-task event scans
    (single 12 MB file at sf1 — harness split granularity, not plan)
    plus the fused join→window→agg stage.  Replacing the two scans
    with one persisted events read was A/B'd and LOST (0.80 s two
    scans vs 1.18 s persist min-of-4 — cache materialization costs
    more than re-scanning 12 MB), so the two-branch scan stays."""
    from tracker_trainer_spark.functions.range_join import anchored_interval_join

    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
    )
    intervals = purchases.withColumn(
        "w_start",
        F.col("p_ts") - F.expr(f"INTERVAL {_MTA_WINDOW_DAYS} DAYS"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id", "ts", "event_id", "event_type"
    )
    matched = anchored_interval_join(
        touches, intervals, "ts", "w_start", "p_ts",
        on=["user_id"], bin_seconds=_MTA_WINDOW_DAYS * 86400,
        num_partitions=n_shuffle, prefer_shuffle_hash=True,
    )
    # partitioning (user_id, _anchor_bin) satisfies this clustering —
    # rank/count run in the join's own output partitions, no exchange
    wp = Window.partitionBy("user_id", "_anchor_bin", "purchase_id")
    wr = wp.orderBy("ts", "event_id")
    ranked = matched.select(
        "purchase_id", "event_type",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wp).alias("k"),
    )
    credited = ranked.select(
        "event_type",
        F.expr(MTA_LINEAR_CREDIT_SQL).alias("lin"),
        F.expr(MTA_POSITION_CREDIT_SQL).alias("pos"),
    )
    return (
        credited.groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_touches"),
            (r4(F.sum("lin")) + F.lit(0.0)).alias("linear_credit"),
            (r4(F.sum("pos")) + F.lit(0.0)).alias("position_credit"),
        )
        .orderBy("channel")
    )


MTA_SQL = f"""
WITH matched AS (
  SELECT p.event_id AS purchase_id, t.event_type, t.ts, t.event_id
  FROM events p
  JOIN events t
    ON t.user_id = p.user_id
   AND t.event_type <> 'purchase'
   AND t.ts >= p.ts - INTERVAL {_MTA_WINDOW_DAYS} DAY
   AND t.ts <= p.ts
  WHERE p.event_type = 'purchase'
), ranked AS (
  SELECT purchase_id, event_type,
         row_number() OVER (PARTITION BY purchase_id
                            ORDER BY ts, event_id) AS r,
         count(*) OVER (PARTITION BY purchase_id) AS k
  FROM matched
), credited AS (
  SELECT event_type,
         {MTA_LINEAR_CREDIT_SQL} AS lin,
         {MTA_POSITION_CREDIT_SQL} AS pos
  FROM ranked
)
SELECT event_type AS channel,
       CAST(count(*) AS BIGINT) AS n_touches,
       round(sum(lin), 4) + 0.0 AS linear_credit,
       round(sum(pos), 4) + 0.0 AS position_credit
FROM credited
GROUP BY 1
ORDER BY 1
"""


# --------------------------------------------------------------------------
# Join-key skew audit from the frequency histogram
# --------------------------------------------------------------------------

_SKEW_KEYS = [
    ("lineitem", "l_suppkey"),
    ("lineitem", "l_partkey"),
    ("orders", "o_custkey"),
]


def key_skew_audit(spark, sf_dir):
    """Join-key skew diagnostics for the three hot join keys: key
    cardinality, heaviest-key row share, and the p99/median key
    frequency ratio (exact integer basis points) — the numbers that
    decide salting factors and AQE skew-join thresholds before a big
    run. Order statistics come from the frequency histogram's
    cumulative counts (distinct-frequency relation — tiny at any
    scale), never a global sort of keys.

    Both lineitem keys MELT out of ONE fact scan (scan-side explode to
    (key_col, k) rows), so the whole audit costs one scan per table;
    every downstream window partitions by key_col, so all three audits
    share each exchange. Totals ride the same per-key-column window as
    the cumulative sum (full-frame siblings) — a separate agg would
    re-evaluate the freq+hist subtree."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    melted = li.select(
        F.explode(F.array(
            F.struct(F.lit("lineitem.l_suppkey").alias("key_col"),
                     F.col("l_suppkey").cast("long").alias("k")),
            F.struct(F.lit("lineitem.l_partkey").alias("key_col"),
                     F.col("l_partkey").cast("long").alias("k")),
        )).alias("m")
    ).select("m.key_col", "m.k").unionAll(
        orders.select(F.lit("orders.o_custkey").alias("key_col"),
                      F.col("o_custkey").cast("long").alias("k"))
    )
    freq = melted.groupBy("key_col", "k").agg(
        F.count(F.lit(1)).cast("long").alias("f"))
    hist = freq.groupBy("key_col", "f").agg(
        F.count(F.lit(1)).cast("long").alias("c"))
    wcum = (Window.partitionBy("key_col").orderBy("f")
            .rowsBetween(Window.unboundedPreceding, 0))
    wall = (Window.partitionBy("key_col").orderBy("f")
            .rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing))
    cum = hist.select(
        "key_col", "f", "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).cast("long").alias("n_keys"),
        F.sum(F.col("f") * F.col("c")).over(wall).cast("long")
        .alias("n_rows"),
        F.max("f").over(wall).cast("long").alias("max_freq"),
    )
    # lower-median / ceil-p99 as first histogram bucket whose cumulative
    # count reaches the order-statistic rank (exact integers end to end)
    stats = cum.groupBy("key_col").agg(
        F.min(F.when(
            F.col("cum") >= F.expr("(n_keys + 1) div 2"),
            F.col("f"))).alias("med"),
        F.min(F.when(
            F.col("cum") * 100 >= F.col("n_keys") * 99,
            F.col("f"))).alias("p99"),
        F.min("n_keys").alias("n_keys"),
        F.min("n_rows").alias("n_rows"),
        F.min("max_freq").alias("max_freq"),
    )
    return stats.select(
        "key_col", "n_keys", "n_rows", "max_freq",
        F.expr("(2 * max_freq * 10000 + n_rows) div (2 * n_rows)")
        .alias("top1_share_bp"),
        F.expr("(2 * p99 * 10000 + med) div (2 * med)")
        .alias("p99_med_ratio_bp"),
    ).orderBy("key_col")


def _skew_sql():
    parts = []
    for table, key in _SKEW_KEYS:
        parts.append(f"""(
  WITH freq AS (
    SELECT CAST({key} AS BIGINT) AS k, CAST(count(*) AS BIGINT) AS f
    FROM {table} GROUP BY 1
  ), hist AS (
    SELECT f, CAST(count(*) AS BIGINT) AS c FROM freq GROUP BY 1
  ), cum AS (
    SELECT f, c,
           CAST(sum(c) OVER (ORDER BY f ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum,
           CAST(sum(c) OVER () AS BIGINT) AS n_keys,
           CAST(sum(f * c) OVER () AS BIGINT) AS n_rows,
           CAST(max(f) OVER () AS BIGINT) AS max_freq
    FROM hist
  ), stats AS (
    SELECT min(CASE WHEN cum >= (n_keys + 1) // 2 THEN f END) AS med,
           min(CASE WHEN cum * 100 >= n_keys * 99 THEN f END) AS p99,
           min(n_keys) AS n_keys, min(n_rows) AS n_rows,
           min(max_freq) AS max_freq
    FROM cum
  )
  SELECT '{table}.{key}' AS key_col, n_keys, n_rows, max_freq,
         CAST((2 * max_freq * 10000 + n_rows) // (2 * n_rows) AS BIGINT)
           AS top1_share_bp,
         CAST((2 * p99 * 10000 + med) // (2 * med) AS BIGINT)
           AS p99_med_ratio_bp
  FROM stats
)""")
    return "\nUNION ALL\n".join(parts) + "\nORDER BY key_col"


# --------------------------------------------------------------------------
# Zone-map / partition-pruning effectiveness audit
# --------------------------------------------------------------------------

# (label, lo, hi) — pinned predicate ranges on events.value; labels keep
# the output self-describing and give the deterministic sort key
_ZONE_PREDICATES = [
    ("p1_low_0_10", 0.0, 10.0),
    ("p2_mid_50_100", 50.0, 100.0),
    ("p3_high_200_up", 200.0, 1e18),
]


def zone_map_pruning_audit(spark, sf_dir):
    """How much a day-partitioned layout's zone maps (per-partition
    min/max of ``value``) would prune for a set of pinned range
    predicates — the data-layout diagnostic an engine operator runs
    before choosing a partition/sort column: a predicate that prunes 0
    of 30 partitions says the column is unsorted across partitions and
    row-group skipping will do nothing for it.

    Per predicate: partitions total / pruned (zone range disjoint from
    the predicate), rows scanned in surviving partitions, rows actually
    matching, and the scan efficiency (matching/scanned) — exact
    integer counts, min/max comparisons on raw doubles (no arithmetic,
    no parity surface), one r4 ratio.

    Plan: ONE day-grouped aggregation computes the zone maps AND the
    per-predicate conditional match counts (the predicate set is
    pinned, so it widens the agg by 3 columns instead of re-scanning
    per predicate); the |days|x|predicates| audit join runs on the
    tiny zone relation."""
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    day = F.date_trunc("day", "ts").cast("date")
    aggs = [
        F.min("value").alias("zmin"),
        F.max("value").alias("zmax"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    ] + [
        F.sum(F.col("value").between(lo, hi).cast("int"))
        .cast("long").alias(f"m_{label}")
        for label, lo, hi in _ZONE_PREDICATES
    ]
    zones = ev.groupBy(day.alias("day")).agg(*aggs).cache()
    preds = None
    for label, lo, hi in _ZONE_PREDICATES:
        survives = (F.col("zmax") >= lo) & (F.col("zmin") <= hi)
        row = zones.agg(
            F.lit(label).alias("predicate"),
            F.count(F.lit(1)).cast("long").alias("n_partitions"),
            F.sum((~survives).cast("int")).cast("long").alias("n_pruned"),
            F.sum(F.when(survives, F.col("n_rows")).otherwise(0))
            .cast("long").alias("rows_scanned"),
            F.sum(f"m_{label}").cast("long").alias("rows_matching"),
        )
        preds = row if preds is None else preds.unionByName(row)
    return preds.select(
        "predicate", "n_partitions", "n_pruned", "rows_scanned",
        "rows_matching",
        # a fully-pruned predicate scans 0 rows: NULL efficiency, not a
        # division-by-zero (ANSI) error
        F.when(
            F.col("rows_scanned") > 0,
            r4(F.col("rows_matching").cast("double")
               / F.col("rows_scanned").cast("double")),
        ).alias("scan_efficiency"),
    ).orderBy("predicate")


def _zone_sql() -> str:
    zones = """
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         min(value) AS zmin, max(value) AS zmax,
         CAST(count(*) AS BIGINT) AS n_rows,
         {msums}
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
"""
    msums = ",\n         ".join(
        f"CAST(sum(CAST(value BETWEEN {lo!r} AND {hi!r} AS INT)) AS BIGINT)"
        f" AS m_{label}"
        for label, lo, hi in _ZONE_PREDICATES
    )
    branches = "\nUNION ALL\n".join(
        f"""
  SELECT '{label}' AS predicate,
         CAST(count(*) AS BIGINT) AS n_partitions,
         CAST(sum(CAST(NOT (zmax >= {lo!r} AND zmin <= {hi!r}) AS INT))
              AS BIGINT) AS n_pruned,
         CAST(sum(CASE WHEN zmax >= {lo!r} AND zmin <= {hi!r}
                  THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
         CAST(sum(m_{label}) AS BIGINT) AS rows_matching
  FROM zones
"""
        for label, lo, hi in _ZONE_PREDICATES
    )
    return f"""
WITH zones AS ({zones.format(msums=msums)}),
u AS ({branches})
SELECT predicate, n_partitions, n_pruned, rows_scanned, rows_matching,
       CASE WHEN rows_scanned > 0
            THEN round(CAST(rows_matching AS DOUBLE)
                       / CAST(rows_scanned AS DOUBLE), 4) END
         AS scan_efficiency
FROM u
ORDER BY predicate
"""


# --------------------------------------------------------------------------
# Partition freshness / ingestion-completeness audit
# --------------------------------------------------------------------------

_FRESH_GAP_S = 6 * 3600


def partition_freshness_audit(spark, sf_dir):
    """Per-day-partition ingestion completeness over the event
    timeline: each partition's last event timestamp against its own
    day boundary — a partition whose newest event sits hours before
    midnight either stopped ingesting early or lost its tail, the
    check an operator runs before declaring a day's data complete
    (the timeline-table twin of the groom invariant, which checks
    keys, not coverage).

    All integer microseconds end to end (``unix_micros`` on both
    engines — never second-truncated unix_timestamp); the gap flag
    uses the pinned ``_FRESH_GAP_S`` threshold. One day-grouped
    aggregation; |days| rows after it."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    day_end_us = F.unix_micros(
        F.date_add(F.col("day"), 1).cast("timestamp"))
    return (
        ev.groupBy(day.alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.max(us).alias("last_event_us"),
        )
        .withColumn("_end_us", day_end_us)
        .select(
            "day", "n_rows", "last_event_us",
            F.expr("(_end_us - last_event_us) div 1000000")
            .cast("long").alias("tail_gap_s"),
        )
        .select(
            "day", "n_rows", "last_event_us", "tail_gap_s",
            (F.col("tail_gap_s") > _FRESH_GAP_S).cast("int")
            .alias("stale"),
        )
        .orderBy("day")
    )


FRESHNESS_SQL = f"""
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(max(epoch_us(CAST(ts AS TIMESTAMP))) AS BIGINT)
           AS last_event_us
  FROM events
  GROUP BY 1
)
SELECT day, n_rows, last_event_us,
       CAST((epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))
             - last_event_us) // 1000000 AS BIGINT) AS tail_gap_s,
       CAST((epoch_us(CAST(day + INTERVAL 1 DAY AS TIMESTAMP))
             - last_event_us) // 1000000 > {_FRESH_GAP_S} AS INT) AS stale
FROM d
ORDER BY day
"""


# (name, query, DuckDB oracle SQL) rows; queries.py assembles the registry.
REGISTRY = (
    ("multitouch_attribution", multitouch_attribution, MTA_SQL),
    ("key_skew_audit", key_skew_audit, _skew_sql()),
    ("zone_map_pruning_audit", zone_map_pruning_audit, _zone_sql()),
    ("partition_freshness_audit", partition_freshness_audit, FRESHNESS_SQL),
)
