"""Window functions (SURVEY.md §2.5, W1–W7).

Every window spec orders by a unique tiebreaker so row_number/ntile are
deterministic; oracle SQL orders by ``CAST(ts AS TIMESTAMP)`` wherever
events.ts appears so both engines rank on the same µs-truncated values.

Scale note: a window = one shuffle on partitionBy keys + one sort. Keys
here (suppkey, user_id, orderkey) are high-cardinality, so partitions
stay balanced; never window over a constant / tiny-cardinality key at
scale (single-task sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..registry import query
from ..session import load_table

# ---------------------------------------------------------------------------
# W1 — ranking family
# ---------------------------------------------------------------------------


@query(
    "w1_ranking",
    oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
       CAST(RANK()       OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC) AS BIGINT) AS drnk,
       CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_quantity DESC, l_orderkey, l_linenumber) AS BIGINT) AS rn
FROM lineitem
""",
    category="window",
)
def ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank (real ties) + row_number (unique ordering)."""
    li = load_table(spark, sf_dir, "lineitem")
    w_ties = W.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    # ascending tiebreakers sort NULLs last like the oracle (DuckDB's
    # default); Spark's ascending default would put them first
    w_uniq = W.partitionBy("l_returnflag").orderBy(
        F.col("l_quantity").desc(),
        F.asc_nulls_last("l_orderkey"),
        F.asc_nulls_last("l_linenumber"),
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        "l_quantity",
        F.rank().over(w_ties).cast("long").alias("rnk"),
        F.dense_rank().over(w_ties).cast("long").alias("drnk"),
        F.row_number().over(w_uniq).cast("long").alias("rn"),
    )


# ---------------------------------------------------------------------------
# W2 — top-K per group
# ---------------------------------------------------------------------------


@query(
    "w2_topk_per_group",
    oracle="""
SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
FROM lineitem
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY l_suppkey ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) <= 3
""",
    category="window",
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 line items per supplier (rank-filter; map-side safe at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_suppkey").orderBy(  # NULLs last: see w1_ranking
        F.col("l_extendedprice").desc(),
        F.asc_nulls_last("l_orderkey"),
        F.asc_nulls_last("l_linenumber"),
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# W3 — lag / lead
# ---------------------------------------------------------------------------


@query(
    "w3_lag_lead",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       LAG(value)       OVER w AS prev_value,
       LEAD(event_type) OVER w AS next_type,
       LAG(value, 2, -1.0) OVER w AS prev2_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
""",
    category="window",
)
def lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset access with default values."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lag("value", 2, -1.0).over(w).alias("prev2_value"),
    )


# ---------------------------------------------------------------------------
# W4 — running aggregates (rows frame)
# ---------------------------------------------------------------------------


@query(
    "w4_running_agg",
    oracle="""
WITH per_line AS (
  SELECT l_orderkey, l_linenumber,
         SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS cents,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_orderkey, l_linenumber
)
SELECT l_orderkey, l_linenumber,
       CAST(SUM(cents) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         / 100.0 AS running_total,
       CAST(SUM(n) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_n
FROM per_line
""",
    category="window",
)
def running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative sum/count per order. The fixture's (orderkey, linenumber)
    is NOT unique, and a running frame ordered by a non-unique key is
    ambiguous under ties (engines disagree on tie order — bit us at
    sf0.01). So: aggregate ties first, then accumulate over the now-unique
    key — the only deterministic shape for a running total."""
    li = load_table(spark, sf_dir, "lineitem")
    per_line = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("long")).alias("cents"),
        F.count(F.lit(1)).alias("n"),
    )
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return per_line.select(
        "l_orderkey",
        "l_linenumber",
        (F.sum("cents").over(w).cast("double") / 100.0).alias("running_total"),
        F.sum("n").over(w).cast("long").alias("running_n"),
    )


# ---------------------------------------------------------------------------
# W5 — time-range frame (sliding by value range, not row count)
# ---------------------------------------------------------------------------


@query(
    "w5_range_frame",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_last_hour,
       CAST(SUM(CAST(value AS DECIMAL(22,6))) OVER w AS DOUBLE) AS value_last_hour
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
""",
    category="window",
)
def range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-hour window via RANGE frame on epoch-µs."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        "ts",
        F.count(F.lit(1)).over(w).alias("n_last_hour"),
        F.sum(F.col("value").cast("decimal(22,6)")).over(w).cast("double").alias("value_last_hour"),
    )


# ---------------------------------------------------------------------------
# W6 — distribution functions
# ---------------------------------------------------------------------------


@query(
    "w6_distribution",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(NTILE(4) OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS quartile,
       PERCENT_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS pct_rank,
       CUME_DIST() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS cume
FROM orders
""",
    category="window",
)
def distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / percent_rank / cume_dist (int-ratio doubles → deterministic)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


# ---------------------------------------------------------------------------
# W7 — first / last value over full frame
# ---------------------------------------------------------------------------


@query(
    "w7_first_last",
    oracle="""
SELECT DISTINCT user_id,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type)  OVER w AS last_type,
       FIRST_VALUE(CAST(ts AS TIMESTAMP)) OVER w AS first_ts,
       LAST_VALUE(CAST(ts AS TIMESTAMP))  OVER w AS last_ts
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    category="window",
)
def first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user first/last event over an unbounded frame, collapsed to one row."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.first("ts").over(w).alias("first_ts"),
        F.last("ts").over(w).alias("last_ts"),
    ).distinct()


# ---------------------------------------------------------------------------
# W8 — nth_value / IGNORE NULLS navigation
# ---------------------------------------------------------------------------


@query(
    "w8_nth_value_ignore_nulls",
    oracle="""
SELECT s_suppkey, s_nationkey,
       nth_value(CASE WHEN s_acctbal > 0 THEN s_name END, 2 IGNORE NULLS) OVER w
         AS second_positive,
       first_value(CASE WHEN s_acctbal > 0 THEN s_name END IGNORE NULLS) OVER w
         AS first_positive
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_suppkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
    category="window",
)
def nth_value_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Navigation with NULL skipping: the 2nd and 1st positive-balance
    supplier name per nation, in key order. IGNORE NULLS turns nth_value /
    first_value into 'nth matching row' — the idiom for 'first valid
    observation' in sensor/feature pipelines (a LOCF building block)."""
    s = load_table(spark, sf_dir, "supplier")
    w = (
        W.partitionBy("s_nationkey")
        .orderBy("s_suppkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    positive = F.when(F.col("s_acctbal") > 0, F.col("s_name"))
    return s.select(
        "s_suppkey",
        "s_nationkey",
        F.nth_value(positive, 2, ignoreNulls=True).over(w).alias("second_positive"),
        F.first(positive, ignorenulls=True).over(w).alias("first_positive"),
    )


# ---------------------------------------------------------------------------
# W9 — moving median (composed: Spark has no median-with-frame)
# ---------------------------------------------------------------------------


@query(
    "w9_moving_median",
    oracle="""
SELECT l_orderkey, l_linenumber, l_suppkey,
       median(l_quantity) OVER (PARTITION BY l_suppkey
                                ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice
                                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
         AS med_qty
FROM lineitem WHERE l_suppkey <= 20
""",
    category="window",
)
def moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median over a 6-row trailing frame. Spark rejects median with
    a window frame, so it is COMPOSED: collect_list over the frame →
    array_sort → middle element(s), interpolating even-sized frames as the
    mean of the two middles (exactly DuckDB's median). The frame is bounded
    (6 rows), so the per-row array is O(1) — this composition stays safe at
    any scale, unlike an unbounded-frame collect.

    The fixture's (l_orderkey, l_linenumber) is NOT unique, so the ROWS
    frame orders by (orderkey, linenumber, quantity, extendedprice): rows
    still tied after all four keys are interchangeable for this output —
    same median inputs — so every engine's tie order yields one multiset."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 20)
    w = (
        W.partitionBy("l_suppkey")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .rowsBetween(-5, 0)
    )
    arr = F.array_sort(F.collect_list("l_quantity").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2).cast("int") + 1)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_suppkey",
        ((lo + hi) / 2.0).alias("med_qty"),
    )


# ---------------------------------------------------------------------------
# W10 — running distinct count (composed: no COUNT(DISTINCT) window in Spark)
# ---------------------------------------------------------------------------


@query(
    "w10_running_distinct",
    oracle="""
WITH marked AS (
  SELECT user_id, event_id, ts,
         CASE WHEN ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY CAST(ts AS TIMESTAMP), event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       CAST(SUM(first_seen) OVER (PARTITION BY user_id
                                  ORDER BY CAST(ts AS TIMESTAMP), event_id) AS BIGINT)
         AS distinct_types_so_far
FROM marked
""",
    category="window",
)
def running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative COUNT(DISTINCT event_type) per user — neither engine
    supports DISTINCT aggregates over a running frame, so it is composed
    from two windows: mark each (user, type)'s FIRST occurrence, then
    running-sum the marks. Both windows shuffle on user_id (one exchange;
    the first adds event_type to the sort key only), and per-row state is
    O(1) — the collect_set-over-frame alternative would carry the whole
    set per row."""
    e = load_table(spark, sf_dir, "events")
    w_first = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    marked = e.withColumn(
        "first_seen", F.when(F.row_number().over(w_first) == 1, 1).otherwise(0)
    )
    return marked.select(
        "user_id",
        "event_id",
        F.sum("first_seen").over(w_run).cast("long").alias("distinct_types_so_far"),
    )


# ---------------------------------------------------------------------------
# W11 — ratio-to-report (share of partition total)
# ---------------------------------------------------------------------------


@query(
    "w11_ratio_to_report",
    oracle="""
WITH per_cust AS (
  SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS cents
  FROM orders GROUP BY o_custkey
)
SELECT o_custkey,
       CAST(cents AS DOUBLE) / 100.0 AS cust_total,
       CAST(cents AS DOUBLE) / SUM(cents) OVER () AS share,
       CAST(RANK() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS spend_rank
FROM per_cust
""",
    category="window",
)
def ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total per customer: an empty-OVER window divides each
    pre-aggregated row by the global sum. The quantized-cents pre-agg both
    makes the division exact-deterministic AND shrinks the unpartitioned
    window's input from fact rows to one row per key — the empty OVER() is
    a single-task sort at scale, so it must only ever see key-grain data."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100.0 + 0.5).cast("long")).alias("cents")
    )
    w_all = W.partitionBy()
    w_rank = W.partitionBy().orderBy(F.col("cents").desc(), "o_custkey")
    return per_cust.select(
        "o_custkey",
        (F.col("cents").cast("double") / 100.0).alias("cust_total"),
        (F.col("cents").cast("double") / F.sum("cents").over(w_all)).alias("share"),
        F.rank().over(w_rank).cast("long").alias("spend_rank"),
    )


# ---------------------------------------------------------------------------
# W12 — gaps and islands (longest consecutive-day streak)
# ---------------------------------------------------------------------------


@query(
    "w12_gaps_islands",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
  FROM events
), islands AS (
  SELECT user_id, day,
         CAST(date_diff('day', DATE '2024-01-01', CAST(day AS DATE)) AS BIGINT)
           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS island
  FROM days
), streaks AS (
  SELECT user_id, island, COUNT(*) AS streak_len, MIN(day) AS streak_start
  FROM islands GROUP BY user_id, island
)
SELECT user_id,
       CAST(MAX(streak_len) AS BIGINT) AS longest_streak,
       CAST(SUM(streak_len) AS BIGINT) AS n_active_days,
       MIN(streak_start) AS first_day
FROM streaks GROUP BY user_id
""",
    category="window",
)
def gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE active
    days. The classic rewrite — day-ordinal minus row_number is constant
    within a consecutive run — turns streak detection into a groupBy, no
    self-join over gaps. Shuffles only (user, day) pairs (pre-distinct'd),
    then everything stays keyed on user_id."""
    e = load_table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    islands = days.withColumn(
        "island",
        F.datediff(F.col("day").cast("date"), F.lit("2024-01-01").cast("date")).cast(
            "long"
        )
        - F.row_number().over(w),
    )
    streaks = islands.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"), F.min("day").alias("streak_start")
    )
    return streaks.groupBy("user_id").agg(
        F.max("streak_len").cast("long").alias("longest_streak"),
        F.sum("streak_len").cast("long").alias("n_active_days"),
        F.min("streak_start").alias("first_day"),
    )


# ---------------------------------------------------------------------------
# W13 — running peak and drawdown
# ---------------------------------------------------------------------------


@query(
    "w13_drawdown",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
         CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v_micro
  FROM events
)
SELECT user_id, event_id,
       CAST(MAX(v_micro) OVER w AS DOUBLE) / 1000000.0 AS peak,
       CAST(MAX(v_micro) OVER w - v_micro AS DOUBLE) / 1000000.0 AS drawdown
FROM seq
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
    category="window",
)
def drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running peak + drawdown-from-peak per user — the monitoring/finance
    staple (how far below its historical max is the series right now).
    One running-max window over quantized micro-units keeps the subtraction
    exact; ordering carries the unique event_id tiebreaker per the w4
    rule."""
    e = load_table(spark, sf_dir, "events")
    v_micro = F.floor(F.col("value") * 1e6 + 0.5).cast("long")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    seq = e.select("user_id", "event_id", "ts", v_micro.alias("v_micro"))
    peak = F.max("v_micro").over(w)
    return seq.select(
        "user_id",
        "event_id",
        (peak.cast("double") / 1e6).alias("peak"),
        ((peak - F.col("v_micro")).cast("double") / 1e6).alias("drawdown"),
    )
