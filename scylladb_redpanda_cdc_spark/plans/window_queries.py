"""Group W — window functions (SURVEY.md §2.W).

Determinism: every ORDER BY that feeds row_number/ntile/lag/lead carries a
total-order tiebreak (SURVEY.md §5.2.5); rank/dense_rank/cume_dist use the
tie-bearing key on both engines so tie semantics are exercised identically.
Frames are declared as ROWS explicitly where the default RANGE frame would
include peers.

Scale: one shuffle on the partition key per window spec; specs sharing a
partition key reuse the same exchange (Catalyst collapses them).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.plans import QuerySpec
from scylladb_redpanda_cdc_spark.sources.tables import load_table as _T


def w6_win_sessionize(spark, sf_dir):
    """Batch gaps-and-islands sessionization: the classic two-stacked-window
    idiom (lag to mark 30-min-gap breaks, running sum of breaks to number
    sessions, then a keyed aggregate). The streaming twin is S5's
    session_window; this is how the same semantics are computed over a
    static 100 TB event log — both windows share the user_id partitioning,
    so Catalyst plans ONE shuffle, and the aggregate reuses it.

    Gap comparison in exact integer micros on both engines (>= breaks ties
    identically); session end = last event + gap, matching S5's oracle."""
    ev = _T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    brk = F.when(
        F.lag("ts").over(w).isNull() | (gap_us >= F.lit(1_800_000_000)), 1
    ).otherwise(0)
    wrun = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = ev.select("user_id", "ts", "event_id", brk.alias("brk"))
    sessioned = marked.select(
        "user_id", "ts", F.sum("brk").over(wrun).alias("sid")
    )
    return sessioned.groupBy("user_id", "sid").agg(
        F.unix_millis(F.min("ts")).alias("sess_start_ms"),
        (F.unix_millis(F.max("ts")) + F.lit(1_800_000)).alias("sess_end_ms"),
        F.count("*").alias("n_events"),
    ).drop("sid")


#: Gaps-and-islands sessionization of ``events`` (30-minute gap, ``>=``
#: breaks, (ts, event_id) order): the ``WITH`` head ending in
#: ``sessioned(user_id, ts, value, sid)`` — shared by the w6, w7 and s5
#: oracles.
_SESSIONS_SQL = """WITH marked AS (
  SELECT user_id, ts, event_id, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessioned AS (
  SELECT user_id, ts, value,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)"""

_W6_SQL = f"""{_SESSIONS_SQL}
SELECT user_id,
  epoch_ms(MIN(ts)) AS sess_start_ms,
  epoch_ms(MAX(ts)) + 1800000 AS sess_end_ms,
  COUNT(*) AS n_events
FROM sessioned GROUP BY user_id, sid"""


def w7_session_window_native(spark, sf_dir):
    """Spark's BUILT-IN batch ``session_window`` (w6 builds the identical
    semantics from two stacked windows; w7 proves the native primitive —
    the form you'd actually write — lands the exact same sessions): merge
    events whose gaps are under 30 minutes, per user, and aggregate.

    Session identity: Spark extends a session to ``[ts, ts+gap)``, so an
    event landing exactly at ``ts+gap`` starts a NEW session — the same
    ``>=`` break rule w6's lag-gap construction uses, which is why one
    oracle covers both formulations. Value sums are exact floored micros.

    Scale shape: session_window compiles to one user-keyed shuffle + a
    sort-based session merge — the same single-shuffle plan as w6, minus
    the second stacked window."""
    ev = _T(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.floor(F.col("value") * 1_000_000).cast("long")).alias(
                "value_micros"
            ),
        )
        .select(
            "user_id",
            F.unix_millis(F.col("sw.start")).alias("sess_start_ms"),
            F.unix_millis(F.col("sw.end")).alias("sess_end_ms"),
            "n_events",
            "value_micros",
        )
    )


_W7_SQL = f"""{_SESSIONS_SQL}
SELECT user_id,
  epoch_ms(MIN(ts)) AS sess_start_ms,
  epoch_ms(MAX(ts)) + 1800000 AS sess_end_ms,
  CAST(COUNT(*) AS BIGINT) AS n_events,
  CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
    AS value_micros
FROM sessioned GROUP BY user_id, sid"""


def w1_win_ranking(spark, sf_dir):
    o = _T(spark, sf_dir, "orders")
    w_tie = Window.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc())
    w_total = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w_total).alias("rn"),
        F.rank().over(w_tie).alias("rnk"),
        F.dense_rank().over(w_tie).alias("drnk"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


def w2_win_lag_lead(spark, sf_dir):
    o = _T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_rows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(w_rows).alias("first_price"),
        F.last("o_totalprice").over(w_rows).alias("last_price"),
    )


def w3_win_running_sum(spark, sf_dir):
    o = _T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_spend"),
        F.count("*").over(w).alias("running_n"),
    )


def w4_win_moving_avg(spark, sf_dir):
    """ROWS moving average + RANGE frame over a day-number column (value
    -based frame, 30-day lookback)."""
    o = _T(spark, sf_dir, "orders")
    day = F.datediff(F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date"))
    base = o.withColumn("day_num", day)
    w_rows = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, 0)
    )
    w_range = Window.partitionBy("o_custkey").orderBy("day_num").rangeBetween(-30, 0)
    return base.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.avg("o_totalprice").over(w_rows), 4).alias("avg_last4"),
        F.round(F.sum("o_totalprice").over(w_range), 2).alias("sum_30d"),
    )


def w5_win_cume(spark, sf_dir):
    o = _T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.cume_dist().over(w).alias("cume"),
        F.percent_rank().over(w).alias("pct_rank"),
    )


def w8_win_value_frames(spark, sf_dir):
    """W8: the value-window family — first_value / last_value / nth_value
    over EXPLICIT frames (trailing, forward-looking, and full-partition),
    on a total order (orderdate, orderkey tiebreak) so every value is
    deterministic. The forward frame (current→unbounded following) is the
    one engines quietly get wrong when they default the frame to
    range-unbounded-preceding — declaring it pins the semantics.

    Exactness: picked values are raw 2-decimal money (no arithmetic);
    nth_value returns NULL for partitions shorter than 3 in both engines.

    Scale: one shuffle on o_custkey + one per-partition sort shared by
    all three frames (Catalyst collapses same-spec windows into a single
    Window operator)."""
    o = _T(spark, sf_dir, "orders")
    order = [F.col("o_orderdate").asc(), F.col("o_orderkey").asc()]
    base = Window.partitionBy("o_custkey").orderBy(*order)
    w_trail = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = base.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    w_full = base.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.first_value("o_totalprice").over(w_trail).alias("first_price"),
        F.last_value("o_totalprice").over(w_fwd).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(w_full).alias("third_price"),
    )


_W8_SQL = """SELECT o_custkey, o_orderkey,
  FIRST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
    ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,
  LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
    ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_price,
  NTH_VALUE(o_totalprice, 3) OVER (PARTITION BY o_custkey
    ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS third_price
FROM orders"""


def w9_win_median_rewrite(spark, sf_dir):
    """W9: rolling median — Spark has no MEDIAN() OVER; the declared
    rewrite collects the bounded frame (last 4 prices), sorts it, and
    takes the middle pair SYMBOLICALLY: the output is median×2 in integer
    cents (odd frame: 2·mid; even frame: lo+hi), which sidesteps the .5
    interpolation float while remaining exactly DuckDB's native
    ``MEDIAN() OVER`` doubled. b50's pattern (close an engine gap with a
    rewrite and PROVE it), applied to an interpolating aggregate.

    Applicability rule: the collect frame must be BOUNDED (here 4 rows) —
    unbounded frames take a two-pass percentile instead.

    Scale: one shuffle on o_custkey + one sort; the frame array is O(4)
    per row."""
    o = _T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(-3, Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("cents").over(w))
    n = F.size(arr)
    med_x2 = F.element_at(arr, ((n - 1) / 2).cast("int") + 1) + F.element_at(
        arr, (n / 2).cast("int") + 1
    )
    return o.select(
        "o_custkey", "o_orderkey", med_x2.alias("median_x2_cents")
    )


_W9_SQL = """SELECT o_custkey, o_orderkey,
  CAST(2 * MEDIAN(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS BIGINT)
    AS median_x2_cents
FROM orders"""


def w10_win_ignore_nulls(spark, sf_dir):
    """IGNORE NULLS window family — the sparse-series navigation variant
    (sensor/price series where most rows carry no reading): lag/lead skip
    to the nearest NON-NULL neighbor and nth_value picks the k-th
    non-null of the partition, where the plain forms (w2/w8) would just
    return the adjacent NULL. The reading column is deterministically
    sparsified (value only on event_id % 3 == 0) so every navigation
    crosses real gaps. b45's gap-fill uses last(ignorenulls) for spine
    filling; w10 pins the rest of the family.

    Scale: one window partitioned on the user key — same single-shuffle
    shape as every W op; IGNORE NULLS changes the frame scan, not the
    distribution."""
    e = _T(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.when(
            F.col("event_id") % 3 == 0,
            F.floor(F.col("value") * 1_000_000).cast("long"),
        ).alias("vm"),
    )
    base.createOrReplaceTempView("sg_w10_events")
    return spark.sql(
        """SELECT event_id, user_id, vm,
  lag(vm) IGNORE NULLS OVER w AS prev_reading,
  lead(vm) IGNORE NULLS OVER w AS next_reading,
  nth_value(vm, 2) IGNORE NULLS OVER (PARTITION BY user_id
    ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS second_reading
FROM sg_w10_events
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)"""
    )


_W10_SQL = """WITH base AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us,
    CASE WHEN event_id % 3 = 0
         THEN CAST(FLOOR(value * 1000000) AS BIGINT) END AS vm
  FROM events)
SELECT event_id, user_id, vm,
  lag(vm IGNORE NULLS) OVER w AS prev_reading,
  lead(vm IGNORE NULLS) OVER w AS next_reading,
  nth_value(vm, 2 IGNORE NULLS) OVER (PARTITION BY user_id
    ORDER BY ts_us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    AS second_reading
FROM base
WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)"""


def w11_window_group_limit(spark, sf_dir):
    """W11: the rank-filter TOP-K PUSHDOWN (Spark 3.5 WindowGroupLimit,
    SPARK-37099) — ``rank() <= k`` directly above its window is
    rewritten so each map task keeps only k rows per group BEFORE the
    window shuffle, then each reducer keeps k per group before the
    full in-partition sort. b24 computes top-k-per-group as semantics;
    w11 pins the PHYSICAL rewrite that makes the idiom affordable at
    100 TB (without it, the shuffle carries the whole corpus; with it,
    k x groups rows) — tests/test_plan_shapes.py asserts the
    WindowGroupLimit node on both map and final sides.

    rank() (not row_number) over the tie-bearing price key exercises
    the rewrite's peer-row handling; the projection keeps the rank
    column so the oracle grades the ranks themselves."""
    li = _T(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_suppkey").orderBy(
        F.col("l_extendedprice").desc()
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.rank().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 2)
    )


_W11_SQL = """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice, rnk
FROM (
  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
    CAST(RANK() OVER (PARTITION BY l_suppkey
      ORDER BY l_extendedprice DESC) AS INTEGER) AS rnk
  FROM lineitem) r
WHERE rnk <= 2"""


def w12_named_window_clause(spark, sf_dir):
    """W12: the SQL ``WINDOW`` clause — one NAMED window specification
    referenced by four functions (ANSI's answer to repeating the spec
    per call; every ported warehouse query uses it), plus a second
    named frame-bearing window over the SAME (partition, order). The
    analyzer resolves all references to the shared spec and Catalyst
    collapses every expression into ONE Window operator over ONE
    exchange+sort (pinned in tests/test_plan_shapes.py) — the property
    that makes the idiom free: adding a fifth function to ``w`` costs
    zero extra shuffles or sorts at 100 TB.

    Integer/exact outputs throughout (running sum in exact cents)."""
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_w12_orders")
    return spark.sql(
        "SELECT o_custkey, o_orderkey,"
        " row_number() OVER w AS rn,"
        " lag(o_orderkey) OVER w AS prev_key,"
        " lead(o_orderkey) OVER w AS next_key,"
        " CAST(count(*) OVER w2 AS BIGINT) AS n_so_far,"
        " CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER w2"
        "   AS BIGINT) AS cents_so_far"
        " FROM sg_w12_orders"
        " WINDOW w AS (PARTITION BY o_custkey"
        "   ORDER BY CAST(o_orderdate AS DATE), o_orderkey),"
        " w2 AS (PARTITION BY o_custkey"
        "   ORDER BY CAST(o_orderdate AS DATE), o_orderkey"
        "   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    )


_W12_SQL = """SELECT o_custkey, o_orderkey,
  row_number() OVER w AS rn,
  lag(o_orderkey) OVER w AS prev_key,
  lead(o_orderkey) OVER w AS next_key,
  CAST(count(*) OVER w2 AS BIGINT) AS n_so_far,
  CAST(CAST(sum(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) OVER w2
    AS BIGINT) AS BIGINT) AS cents_so_far
FROM orders
WINDOW w AS (PARTITION BY o_custkey
    ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
  w2 AS (PARTITION BY o_custkey
    ORDER BY CAST(o_orderdate AS DATE), o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""


SPECS = [
    QuerySpec(
        "w1_win_ranking",
        "W",
        "row_number / rank / dense_rank / ntile",
        w1_win_ranking,
        "SELECT o_orderkey, o_orderpriority, o_totalprice,\n"
        "  ROW_NUMBER() OVER (PARTITION BY o_orderpriority"
        " ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn,\n"
        "  RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC)"
        " AS rnk,\n"
        "  DENSE_RANK() OVER (PARTITION BY o_orderpriority"
        " ORDER BY o_totalprice DESC) AS drnk,\n"
        "  NTILE(4) OVER (PARTITION BY o_orderpriority"
        " ORDER BY o_totalprice DESC, o_orderkey ASC) AS quartile\n"
        "FROM orders",
    ),
    QuerySpec(
        "w2_win_lag_lead",
        "W",
        "lag / lead / first / last",
        w2_win_lag_lead,
        "SELECT o_custkey, o_orderkey, o_totalprice,\n"
        "  LAG(o_totalprice) OVER w AS prev_price,\n"
        "  LEAD(o_totalprice) OVER w AS next_price,\n"
        "  FIRST_VALUE(o_totalprice) OVER"
        " (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price,\n"
        "  LAST_VALUE(o_totalprice) OVER"
        " (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_price\n"
        "FROM orders\n"
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)",
    ),
    QuerySpec(
        "w3_win_running_sum",
        "W",
        "running sum / count (ROWS frame)",
        w3_win_running_sum,
        "SELECT o_custkey, o_orderkey,\n"
        "  ROUND(SUM(o_totalprice) OVER w, 2) AS running_spend,\n"
        "  COUNT(*) OVER w AS running_n\n"
        "FROM orders\n"
        "WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey\n"
        "             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
    ),
    QuerySpec(
        "w4_win_moving_avg",
        "W",
        "moving average (ROWS) + 30-day RANGE frame",
        w4_win_moving_avg,
        "SELECT o_custkey, o_orderkey,\n"
        "  ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey\n"
        "    ORDER BY o_orderdate, o_orderkey"
        " ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS avg_last4,\n"
        "  ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey\n"
        "    ORDER BY datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))\n"
        "    RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS sum_30d\n"
        "FROM orders",
    ),
    QuerySpec(
        "w5_win_cume",
        "W",
        "cume_dist / percent_rank",
        w5_win_cume,
        "SELECT o_orderkey, o_orderpriority,\n"
        "  CUME_DIST() OVER w AS cume, PERCENT_RANK() OVER w AS pct_rank\n"
        "FROM orders\n"
        "WINDOW w AS (PARTITION BY o_orderpriority"
        " ORDER BY o_totalprice ASC, o_orderkey ASC)",
    ),
    QuerySpec(
        "w6_win_sessionize",
        "W",
        "batch gaps-and-islands sessionization (lag + running break sum)",
        w6_win_sessionize,
        _W6_SQL,
    ),
    QuerySpec(
        "w7_session_window_native",
        "W",
        "built-in batch session_window == w6's lag-gap sessions (exact)",
        w7_session_window_native,
        _W7_SQL,
    ),
    QuerySpec(
        "w8_win_value_frames",
        "W",
        "first/last/nth_value over explicit trailing/forward/full frames",
        w8_win_value_frames,
        _W8_SQL,
    ),
    QuerySpec(
        "w9_win_median_rewrite",
        "W",
        "rolling median via bounded-frame collect rewrite (2x-cents exact)",
        w9_win_median_rewrite,
        _W9_SQL,
    ),
    QuerySpec(
        "w10_win_ignore_nulls",
        "W",
        "IGNORE NULLS lag/lead/nth_value over a sparsified reading series",
        w10_win_ignore_nulls,
        _W10_SQL,
    ),
    QuerySpec(
        "w11_window_group_limit",
        "W",
        "rank<=k top-k pushdown (WindowGroupLimit on map+final sides)",
        w11_window_group_limit,
        _W11_SQL,
    ),
    QuerySpec(
        "w12_named_window_clause",
        "W",
        "named WINDOW clause: 5 functions, ONE Window op, one shuffle",
        w12_named_window_clause,
        _W12_SQL,
    ),
]
