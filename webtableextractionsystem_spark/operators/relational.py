"""Relational operator surface over the driver's TPC-H-ish tables.

The reference has no general relational algebra (SURVEY.md §2.5); what it
does have maps to: left-anti set difference (Bloom dedup F3), TOP-n queue
consumption (S3/S9), count guards, unions, and per-key accumulation.
These queries exercise the Spark-native versions of each — plus the
joins/windows/rollups any real engine user needs — with exact DuckDB
oracles.

Numeric discipline: money aggregates are summed as DECIMAL(18,2) in BOTH
engines — decimal addition is exact and order-independent, so value
hashes can't drift on float summation order (doubles appear only where
values are compared, never re-accumulated).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --- TPC-H Q1-style aggregation (map-side partial aggs, one shuffle) -------

def pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")
    return (
        li.where(F.col("l_shipdate") < F.lit("2002-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # exact decimal accumulation, ONE final cast to double so both
            # engines hand pandas the same plain float (engines disagree on
            # how Decimal objects surface otherwise)
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.count("*").alias("count_order"),
        )
    )


PRICING_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate < TIMESTAMP '2002-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# --- broadcast join chain: orders -> customer -> nation ---------------------

def revenue_by_nation(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double").alias("revenue"),
        )
    )


REVENUE_BY_NATION_SQL = """
SELECT n_name, count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# --- window: top-3 orders per customer --------------------------------------

def top_orders_per_customer(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk",
                F.round("o_totalprice", 2).alias("price"))
    )


TOP_ORDERS_SQL = """
SELECT o_custkey, o_orderkey, CAST(rnk AS INTEGER) AS rnk,
       round(o_totalprice, 2) AS price
FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk
      FROM orders)
WHERE rnk <= 3
"""


# --- left-anti set difference (the Bloom-dedup F3 analogue) ------------------

def customers_without_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti") \
            .select("c_custkey", "c_name")


ANTI_JOIN_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""
# NOT EXISTS, not NOT IN: a NULL c_custkey makes NOT IN evaluate to NULL
# (row dropped) while Spark's left_anti finds no match and KEEPS it —
# NOT EXISTS is the exact dual of left_anti under NULL keys.


# --- TOP-n batch consumption (S3: SELECT TOP n ... ORDER BY ID) --------------

def queue_batch(spark, sf_dir):
    return (
        _t(spark, sf_dir, "orders")
        .orderBy("o_orderkey")
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_orderstatus")
    )


QUEUE_BATCH_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus
FROM orders ORDER BY o_orderkey LIMIT 100
"""


# --- union (lexicon fusion / list accumulation analogue) ---------------------

def name_union(spark, sf_dir):
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("supplier").alias("src"))
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("customer").alias("src"))
    return s.unionByName(c).distinct()


NAME_UNION_SQL = """
SELECT s_name AS name, 'supplier' AS src FROM supplier
UNION
SELECT c_name AS name, 'customer' AS src FROM customer
"""


# --- events: hourly windowed aggregation (streaming-shaped, batch-run) -------

def events_hourly(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"),
                          "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double").alias("sum_value"),
        )
    )


EVENTS_HOURLY_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
"""


# --- events: JSON prop extraction (regexp-based for engine parity) -----------

def events_json_props(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("int")
    return (
        e.select((k % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count("*").alias("n"))
    )


EVENTS_JSON_SQL = r"""
SELECT CAST(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS INTEGER) % 10
            AS INTEGER) AS k_bucket,
       count(*) AS n
FROM events GROUP BY 1
"""
# TRY_CAST, not CAST: DuckDB regexp_extract returns '' on no-match and
# CAST('' AS INTEGER) is a hard Conversion Error, while Spark's
# regexp_extract('').cast('int') degrades to a NULL group — TRY_CAST
# mirrors the NULL-bucket semantics instead of erroring the gate.


# --- events: per-user sessions-ish profile -----------------------------------

def user_profiles(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd HH:mm:ss"
    return e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.date_format(F.min("ts"), fmt).alias("first_ts"),
        F.date_format(F.max("ts"), fmt).alias("last_ts"),
    )


USER_PROFILES_SQL = """
SELECT user_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_types,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
FROM events GROUP BY user_id
"""


# --- events: gap-based sessionization (lag + cumulative sum) -----------------

SESSION_GAP_MIN = 30


def _epoch_s():
    # parquet timestamps load as TIMESTAMP_NTZ, which cannot cast to long
    # directly; route through timestamp (session tz is pinned UTC)
    return F.col("ts").cast("timestamp").cast("long")


def _session_table(e):
    """The session-split rule in ONE place (gap flag -> running-sum ids
    -> per-session agg), shared by event_sessions and closed_sessions so
    the two can't disagree about what a session is. Returns one row per
    (user_id, session_id) with last_s retained for close-rule filters."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.when(
        _epoch_s()
        - F.lag(_epoch_s(), 1).over(w)
        > SESSION_GAP_MIN * 60,
        1,
    ).otherwise(0)
    fmt = "yyyy-MM-dd HH:mm:ss"
    return (
        e.withColumn("new_sess", gap)
        .withColumn("session_id",
                    F.sum("new_sess").over(
                        w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), fmt).alias("session_start"),
            (F.max(_epoch_s())
             - F.min(_epoch_s())).alias("duration_s"),
            F.max(_epoch_s()).alias("last_s"),
        )
    )


def event_sessions(spark, sf_dir):
    """Sessions split on >30-min inactivity gaps: classic lag + running
    sum of gap flags. Per-user windows — shuffle on user_id only."""
    return _session_table(_t(spark, sf_dir, "events")).drop("last_s")


# the session-split CTEs in ONE place (twin of _session_table), shared
# by the plain and the watermark-closed session oracles
_SESSION_CTES_SQL = f"""flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   > {SESSION_GAP_MIN * 60}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
),
numbered AS (
  SELECT user_id, ts,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS session_id
  FROM flagged
),
sessions AS (
  SELECT user_id, session_id,
         count(*) AS n_events,
         strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         max(CAST(floor(epoch(ts)) AS BIGINT)) - min(CAST(floor(epoch(ts)) AS BIGINT)) AS duration_s,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS last_s
  FROM numbered
  GROUP BY user_id, session_id
)"""

EVENT_SESSIONS_SQL = f"""
WITH {_SESSION_CTES_SQL}
SELECT user_id, session_id, n_events, session_start, duration_s
FROM sessions
"""


# --- events: watermark-confirmed (closed) sessions ---------------------------
#
# The sessions whose close is confirmed: a session closes when a later
# event of the same user arrives past the gap (every non-final session
# of a user), or when the event-time watermark (max event ts minus the
# delay) passes last_event + gap (the only close a user's FINAL session
# can get). This query applies exactly those two rules over the static
# table — what an event-time session stream would have emitted once its
# final watermark is max(ts) - delay. Scale: the same single user_id
# shuffle as event_sessions + a broadcast one-row watermark scalar.

SESSION_WATERMARK_DELAY_S = 10 * 3600


def closed_sessions(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    sessions = _session_table(e).withColumn(
        "max_sid", F.max("session_id").over(Window.partitionBy("user_id")))
    watermark = e.agg(
        (F.max(_epoch_s()) - SESSION_WATERMARK_DELAY_S).alias("wm_s"))
    return (
        sessions.join(F.broadcast(watermark))
        .where(
            (F.col("session_id") < F.col("max_sid"))  # in-stream close
            | (F.col("last_s") + SESSION_GAP_MIN * 60
               < F.col("wm_s"))                       # timeout close
        )
        .select("user_id", "session_id", "n_events",
                "session_start", "duration_s")
    )


CLOSED_SESSIONS_SQL = f"""
WITH {_SESSION_CTES_SQL},
scoped AS (
  SELECT *, max(session_id) OVER (PARTITION BY user_id) AS max_sid
  FROM sessions
)
SELECT user_id, session_id, n_events, session_start, duration_s
FROM scoped
WHERE session_id < max_sid
   OR last_s + {SESSION_GAP_MIN * 60}
      < (SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) - {SESSION_WATERMARK_DELAY_S} FROM events)
"""


# --- events: bucketed interval join -------------------------------------------
#
# Every view paired with the same user's purchases in the NEXT HOUR
# (view_ts, view_ts + 1h]. A naive range join is a per-user cross
# product; the scalable shape hashes both sides into hour buckets: each
# purchase lands in exactly ONE bucket, each view probes the TWO buckets
# its window can span, so the join is a plain (user_id, bucket)
# equi-join (one shuffle per side) with the exact range predicate
# applied after. The view's two probe buckets are always distinct
# (+3600s advances the hour by exactly 1), so each qualifying pair
# matches exactly once — no dedup pass. Oracle independence: DuckDB
# evaluates the same semantics as a NATIVE inequality join, a genuinely
# different formulation (like the as-of oracle).

INTERVAL_JOIN_WINDOW_S = 3600


def event_interval_join(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    epoch = _epoch_s()
    v = e.where(F.col("event_type") == "view").select(
        "user_id", epoch.alias("v_s"), F.col("event_id").alias("view_id"))
    p = e.where(F.col("event_type") == "purchase").select(
        "user_id", epoch.alias("p_s"),
        (epoch - F.pmod(epoch, INTERVAL_JOIN_WINDOW_S))
        .alias("bucket"),
        F.col("value").cast("decimal(18,2)").alias("p_value"))
    vb = F.col("v_s") - F.pmod(F.col("v_s"), INTERVAL_JOIN_WINDOW_S)
    probes = v.select(
        "user_id", "v_s", "view_id",
        F.explode(F.array(vb, vb + INTERVAL_JOIN_WINDOW_S)).alias("bucket"))
    pairs = probes.join(p, ["user_id", "bucket"]).where(
        (F.col("p_s") > F.col("v_s"))
        & (F.col("p_s") <= F.col("v_s") + INTERVAL_JOIN_WINDOW_S))
    return pairs.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("view_id").alias("n_views_converted"),
        F.sum("p_value").cast("double").alias("attributed_value"),
    )


EVENT_INTERVAL_JOIN_SQL = f"""
SELECT v.user_id, count(*) AS n_pairs,
       count(DISTINCT v.event_id) AS n_views_converted,
       CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
FROM (SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS v_s
      FROM events WHERE event_type = 'view') v
JOIN (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_s, value
      FROM events WHERE event_type = 'purchase') p
  ON v.user_id = p.user_id
 AND p.p_s > v.v_s
 AND p.p_s <= v.v_s + {INTERVAL_JOIN_WINDOW_S}
GROUP BY v.user_id
"""


# --- events: retention cohorts ------------------------------------------------
#
# Users cohorted by first-active day; each later active day lands in
# (cohort_day, day_offset) with a distinct-user count — the classic
# warehouse retention matrix. Scale shape: distinct user-days (one
# shuffle), first-day window on user_id (same key, exchange reused),
# one (cohort, offset) agg shuffle. All outputs integer/string.

def event_retention(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # explicit repartition on user_id: HashPartitioning(user_id)
    # satisfies BOTH the (user_id, day) distinct's clustering and the
    # first-day window's — ONE exchange instead of two (plan-audited)
    user_days = (
        e.select("user_id", F.to_date("ts").alias("day"))
        .repartition("user_id").distinct()
    )
    cohorted = user_days.withColumn(
        "cohort", F.min("day").over(Window.partitionBy("user_id")))
    return (
        cohorted
        .groupBy(F.date_format("cohort", "yyyy-MM-dd").alias("cohort_day"),
                 F.datediff("day", "cohort").alias("day_offset"))
        # plain count: a user appears at most once per (cohort, offset)
        # by construction, so a three-phase distinct agg buys nothing
        .agg(F.count("*").alias("n_users"))
    )


EVENT_RETENTION_SQL = """
WITH user_days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
cohorted AS (
  SELECT user_id, day,
         min(day) OVER (PARTITION BY user_id) AS cohort
  FROM user_days
)
SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
       CAST(date_diff('day', cohort, day) AS INTEGER) AS day_offset,
       count(*) AS n_users
FROM cohorted
GROUP BY cohort, day_offset
"""


# --- events: trailing-window anomaly flags ------------------------------------
#
# Hours whose event count exceeds 2x the trailing-24h mean. The usual
# z-score needs float stddev (not cross-engine hash-stable); the
# threshold form cross-multiplies instead — count * n_trailing >
# 2 * trailing_sum — ALL integer, exact in both engines. One shuffle to
# hourly counts (tiny domain: one row per hour of history), one ordered
# window over it. The frame is a RANGE over an integer hour index, so
# the baseline is the last 24 WALL-CLOCK hours: zero-traffic hours are
# genuinely absent from it (after an outage trail_n is 0 -> not
# anomalous by definition), where a ROWS frame would silently reach
# back across the gap to days-old traffic.

ANOMALY_TRAIL_H = 24
ANOMALY_FACTOR = 2


def event_anomalies(spark, sf_dir):
    e = _t(spark, sf_dir, "events")
    # integral `div`, never double `/` + cast —
    # matches the oracle's BIGINT // 3600 exactly at any magnitude
    hour_idx = F.expr("cast(cast(ts as timestamp) as long) div 3600")
    hourly = e.groupBy(hour_idx.alias("hour_idx")).agg(
        F.count("*").alias("n"))
    w = (Window.orderBy("hour_idx")
         .rangeBetween(-ANOMALY_TRAIL_H, -1))
    return hourly.select(
        F.date_format(
            F.timestamp_seconds(F.col("hour_idx") * 3600),
            "yyyy-MM-dd HH:00:00").alias("hour"),
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("trail_sum"),
        F.count("n").over(w).alias("trail_n"),
    ).select(
        "hour", "n", "trail_sum", "trail_n",
        ((F.col("trail_n") > 0)
         & (F.col("n") * F.col("trail_n")
            > ANOMALY_FACTOR * F.col("trail_sum"))).alias("anomaly"),
    )


EVENT_ANOMALIES_SQL = f"""
WITH hourly AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour_idx,
         count(*) AS n
  FROM events GROUP BY 1
),
trailed AS (
  SELECT hour_idx, n,
         CAST(COALESCE(sum(n) OVER (ORDER BY hour_idx
                                    RANGE BETWEEN {ANOMALY_TRAIL_H} PRECEDING
                                    AND 1 PRECEDING), 0) AS BIGINT)
           AS trail_sum,
         count(n) OVER (ORDER BY hour_idx
                        RANGE BETWEEN {ANOMALY_TRAIL_H} PRECEDING
                        AND 1 PRECEDING) AS trail_n
  FROM hourly
)
SELECT strftime(make_timestamp(hour_idx * 3600 * 1000000),
                '%Y-%m-%d %H:00:00') AS hour,
       n, trail_sum, trail_n,
       trail_n > 0 AND n * trail_n > {ANOMALY_FACTOR} * trail_sum
         AS anomaly
FROM trailed
"""
# make_timestamp(us), not to_timestamp(s): to_timestamp returns
# TIMESTAMPTZ, so strftime would render it in the gate host's session
# TimeZone while the Spark side is pinned UTC — make_timestamp returns
# plain TIMESTAMP and is timezone-independent.


# --- rollup (grouping sets) ---------------------------------------------------

def lineitem_rollup(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n",
        )
    )


ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def lineitem_cube(spark, sf_dir):
    """CUBE over (returnflag, linestatus): all four grouping combinations
    in one pass (Expand + single shuffle) — the multi-dimensional
    superset of lineitem_rollup, which omits the (ALL, ls) slices."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"),
             F.sum(F.col("l_quantity").cast("decimal(18,2)"))
             .cast("double").alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("rf"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("ls"),
            "n", "sum_qty",
        )
    )


CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS rf,
       coalesce(l_linestatus, 'ALL') AS ls,
       count(*) AS n,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def customers_with_open_orders(spark, sf_dir):
    """EXISTS / left-semi: customers having at least one open ('O')
    order — the dual of the anti-join, one broadcast semi join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
    )


EXISTS_SQL = """
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
"""


def region_part_volume(spark, sf_dir):
    """Five-table star join covering the two remaining TPC-H-ish dims
    (region, part): the lineitem fact joins supplier -> nation -> region
    on one side and part on the other, grouped by (region, brand) — the
    Q5/Q9 plan shape. All four dimension sides are broadcast (regions/
    nations are tiny by definition; supplier/part are the classic
    broadcast-able dims), so the only shuffle is the final partial-agg
    exchange on the grouping key. Money follows the decimal discipline
    (sum as DECIMAL(18,2), one final cast to double)."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .groupBy("r_name", "p_brand")
        .agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double").alias("volume"),
        )
    )


REGION_PART_VOLUME_SQL = """
SELECT r_name, p_brand, count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
JOIN part ON l_partkey = p_partkey
GROUP BY r_name, p_brand
"""


def event_attribution(spark, sf_dir):
    """Click attribution (clicks x same-user purchases within 1 hour
    after the click) — a range-condition self-join on the events fact,
    aggregated per user so the oracle output is compact and
    integer/decimal-disciplined."""
    e = _t(spark, sf_dir, "events")
    c = e.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("cts"))
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"),
        F.col("value").alias("pv"))
    return (
        c.join(p, F.expr(
            "cu = pu AND pts >= cts AND pts <= cts + interval 1 hour"))
        .groupBy(F.col("cu").alias("user_id"))
        .agg(F.count("*").alias("n_attributions"),
             F.sum(F.col("pv").cast("decimal(18,2)"))
             .cast("double").alias("attributed_value"))
    )


EVENT_ATTRIBUTION_SQL = """
SELECT c.user_id,
       count(*) AS n_attributions,
       CAST(sum(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
GROUP BY c.user_id
"""


def event_funnel(spark, sf_dir):
    """Funnel conversion over the events fact: how far each user gets
    through signup -> view -> click -> purchase, using first-occurrence
    ordering (stage k is reached iff the first event of every earlier
    step exists and the first-occurrence timestamps are non-decreasing),
    reported as users per deepest stage. Scale shape: ONE shuffle on
    user_id with map-side partial conditional-min aggregates, then a
    tiny 5-key rollup — the classic product-analytics query shape."""
    e = _t(spark, sf_dir, "events")

    def first(tp):
        return F.min(F.when(F.col("event_type") == tp, F.col("ts")))

    pu = e.groupBy("user_id").agg(
        first("signup").alias("t1"), first("view").alias("t2"),
        first("click").alias("t3"), first("purchase").alias("t4"))
    stage = (
        F.when(F.col("t1").isNull(), 0)
        .when(F.col("t2").isNull() | (F.col("t2") < F.col("t1")), 1)
        .when(F.col("t3").isNull() | (F.col("t3") < F.col("t2")), 2)
        .when(F.col("t4").isNull() | (F.col("t4") < F.col("t3")), 3)
        .otherwise(4)
    )
    return (
        pu.select(stage.cast("int").alias("funnel_stage"))
        .groupBy("funnel_stage")
        .agg(F.count("*").alias("n_users"))
    )


EVENT_FUNNEL_SQL = """
WITH pu AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t1,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t2,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t3,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t4
  FROM events GROUP BY user_id
)
SELECT CAST(CASE WHEN t1 IS NULL THEN 0
                 WHEN t2 IS NULL OR t2 < t1 THEN 1
                 WHEN t3 IS NULL OR t3 < t2 THEN 2
                 WHEN t4 IS NULL OR t4 < t3 THEN 3
                 ELSE 4 END AS INTEGER) AS funnel_stage,
       count(*) AS n_users
FROM pu
GROUP BY 1
"""


def event_asof_join(spark, sf_dir):
    """AS-OF join — an operator Spark's DataFrame API lacks natively:
    each purchase is matched to the MOST RECENT click by the same user
    at or before it (the kdb/pandas ``merge_asof`` / DuckDB ``ASOF
    JOIN`` semantics; reference scope: the system's MSSQL layer answers
    point-in-time lookups row-at-a-time, this is the set form).

    Scale shape — the union+window trick, NOT a range join: tag clicks
    and purchases, union them into one stream, and carry the last seen
    click_ts forward with ``last(..., ignorenulls)`` over a user_id
    window. ONE shuffle on user_id; a range-condition join would
    explode every (click, purchase) pair within the horizon before
    filtering (the attribution query needs those pairs; as-of only
    needs the latest, so the window form does strictly less work and
    never materializes the quadratic intermediate). Equal-ts tie: the
    click sorts first (is_p ascending), so a same-microsecond click is
    visible to the purchase — matching ASOF's >= bound. Output is
    per-purchase with second-formatted timestamps and an exact
    microsecond gap (integer discipline)."""
    e = _t(spark, sf_dir, "events")
    ev = e.where(F.col("event_type").isin("click", "purchase")).select(
        "event_id", "user_id", "ts",
        (F.col("event_type") == "purchase").cast("int").alias("is_p"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_p", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    asof = ev.withColumn(
        "click_ts",
        F.last(F.when(F.col("is_p") == 0, F.col("ts")),
               ignorenulls=True).over(w))
    return (
        asof.where((F.col("is_p") == 1) & F.col("click_ts").isNotNull())
        .select(
            "event_id", "user_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
            .alias("purchase_ts"),
            F.date_format("click_ts", "yyyy-MM-dd HH:mm:ss")
            .alias("asof_click_ts"),
            # ts is TIMESTAMP_NTZ in the parquet; unix_micros wants TZ.
            # The NTZ->TZ cast shifts both operands identically, so the
            # difference is timezone-invariant.
            (F.unix_micros(F.col("ts").cast("timestamp"))
             - F.unix_micros(F.col("click_ts").cast("timestamp")))
            .alias("gap_us"),
        )
    )


# DuckDB's native ASOF JOIN is the independent formulation: the engine
# picks the greatest c.ts <= p.ts per left row — no window algebra shared
# with the Spark implementation.
EVENT_ASOF_SQL = """
SELECT p.event_id, p.user_id,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS asof_click_ts,
       date_diff('microsecond', c.ts, p.ts) AS gap_us
FROM (SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'purchase') p
ASOF JOIN (SELECT user_id, ts FROM events
           WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""
