"""Group B — batch relational core (SURVEY.md §2.B) over the star schema.

The reference's consumers are jq filters over order events
(reference README.md:215); this group is that consumer surface grown to a
full relational engine, per the driver contract (SURVEY.md §2 group B note).

Determinism rules used throughout (SURVEY.md §5.2.5):
- every aggregate/computed column aliased identically in Spark + SQL;
- float SUMs of 2-decimal money rounded to 2 (exact sum is a multiple of
  0.01, fp noise ≪ the .005 boundary at oracle SF), AVGs rounded to 4;
- date/timestamp outputs converted to strings / epoch integers (cross-engine
  ns-vs-us precision);
- every top-k / limit has a total-order tiebreak;
- collect outputs sorted and joined to a string.

Scale notes are per-query docstrings: which side broadcasts, where the
shuffle lands, why the plan survives 100×.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from scylladb_redpanda_cdc_spark.operators.checkpoint import (
    session_frame,
    stage_checkpoint,
)
from scylladb_redpanda_cdc_spark.operators import scale as _scale
from scylladb_redpanda_cdc_spark.operators.rank import ranged_rank
from scylladb_redpanda_cdc_spark.plans import QuerySpec
from scylladb_redpanda_cdc_spark.sources.tables import load_table as _T

# ---------------------------------------------------------------------------
# B1-B3 scans & filters (predicate pushdown / column pruning)
# ---------------------------------------------------------------------------


def b1_scan_project(spark, sf_dir):
    """Projection-only scan: ReadSchema must list exactly these 3 columns."""
    return _T(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")


def b2_filter_conjunctive(spark, sf_dir):
    """Range+equality conjunction (TPC-H Q6 shape); all three predicates
    reach the parquet scan as PushedFilters."""
    li = _T(spark, sf_dir, "lineitem")
    return li.filter(
        (li.l_shipdate >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (li.l_shipdate < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (li.l_discount >= 0.05)
        & (li.l_quantity < 24)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


def b3_filter_in_like_null(spark, sf_dir):
    p = _T(spark, sf_dir, "part")
    return p.filter(
        p.p_brand.isin("Brand#1", "Brand#7", "Brand#13")
        & p.p_type.like("%A%")
        & p.p_size.isNotNull()
    ).select("p_partkey", "p_brand", "p_type", "p_size")


# ---------------------------------------------------------------------------
# B4-B14 joins
# ---------------------------------------------------------------------------


def b4_join_inner_equi(spark, sf_dir):
    """Fact⋈dim equi-join; at real scale customer broadcasts (dim ≪ fact)."""
    o, c = _T(spark, sf_dir, "orders"), _T(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


def b5_join_broadcast(spark, sf_dir):
    """Explicit broadcast of the part dim into the lineitem fact — build side
    declared, no shuffle of the big side (SURVEY.md §2 100TB notes)."""
    li, p = _T(spark, sf_dir, "lineitem"), _T(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
    )


def b6_join_sortmerge(spark, sf_dir):
    """Fact⋈fact: both sides large at 100 TB -> sort-merge on the join key
    (MERGE hint pins it; AQE may still pick better at runtime)."""
    li, o = _T(spark, sf_dir, "lineitem"), _T(spark, sf_dir, "orders")
    return (
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_extendedprice"), 2).alias("revenue"),
        )
    )


def b7_join_left_outer(spark, sf_dir):
    c, o = _T(spark, sf_dir, "customer"), _T(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def b8_join_right_outer(spark, sf_dir):
    o, c = _T(spark, sf_dir, "orders"), _T(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey, "right")
        .groupBy("c_nationkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


def b9_join_full_outer(spark, sf_dir):
    """Full outer of two pre-aggregated sides (per-nation customers vs
    suppliers); aggregating before the join keeps both sides tiny."""
    c = _T(spark, sf_dir, "customer").groupBy("c_nationkey").agg(F.count("*").alias("n_cust"))
    s = _T(spark, sf_dir, "supplier").groupBy("s_nationkey").agg(F.count("*").alias("n_supp"))
    j = c.join(s, c.c_nationkey == s.s_nationkey, "full")
    return j.select(
        F.coalesce(c.c_nationkey, s.s_nationkey).alias("nationkey"),
        F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
    )


def b10_join_left_semi(spark, sf_dir):
    """EXISTS: customers having at least one open ('O') order."""
    c = _T(spark, sf_dir, "customer")
    o = _T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "O")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


def b11_join_left_anti(spark, sf_dir):
    """NOT EXISTS: customers with no orders at all."""
    c, o = _T(spark, sf_dir, "customer"), _T(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


def b12_join_cross_nested_loop(spark, sf_dir):
    """Bounded cross product: 5 regions × distinct order statuses."""
    r = _T(spark, sf_dir, "region")
    st = _T(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(st).select("r_name", "o_orderstatus")


def b13_join_theta_range(spark, sf_dir):
    """Theta-join semantics (per supplier: customers with strictly larger
    acctbal) WITHOUT the nested loop.

    ``s JOIN c ON s_acctbal < c_acctbal`` plans as BroadcastNestedLoop —
    O(|S|x|C|) compares with both sides growing with SF: a scale-killer.
    Rank decomposition instead:
      1. bucket both sides by fixed acctbal ranges (width 100 over TPC-H's
         [-999.99, 9999.99] domain -> ~110 buckets);
      2. per-bucket customer counts + a suffix sum over the ~110-row bucket
         spine give ``n_above`` = customers in strictly higher buckets
         (broadcast);
      3. within each bucket, union both sides and take a running customer
         count ordered by (bal, side) — a per-bucket merge-rank, O(n log n),
         customers sorting before suppliers on ties so equal balances are
         counted as <= (not richer).
    n_richer = n_above + n_in_bucket - n_le_within. One shuffle keyed by
    bucket, no cross product anywhere (plan pinned in
    tests/test_plan_shapes.py). Inner-join semantics kept: zero-richer
    suppliers are filtered, null balances never match.
    """
    s = (
        _T(spark, sf_dir, "supplier")
        .select(F.col("s_suppkey").cast("long").alias("s_suppkey"), "s_acctbal")
        .filter(F.col("s_acctbal").isNotNull())
    )
    c = _T(spark, sf_dir, "customer").select("c_acctbal").filter(
        F.col("c_acctbal").isNotNull()
    )
    width = F.lit(100.0)
    cb = c.select(
        F.floor(F.col("c_acctbal") / width).cast("long").alias("bkt"),
        F.col("c_acctbal").alias("bal"),
    )
    sb = s.select(
        "s_suppkey",
        F.floor(F.col("s_acctbal") / width).cast("long").alias("bkt"),
        F.col("s_acctbal").alias("bal"),
    )
    per_bucket = cb.groupBy("bkt").agg(F.count("*").alias("n_cust"))
    # spine = distinct buckets of BOTH sides; the customer-side set is
    # exactly per_bucket's keys, so reuse that aggregate instead of a
    # third scan of the customer projection
    spine = per_bucket.select("bkt").union(sb.select("bkt")).distinct()
    # Suffix sum over the bucket spine: a global-order window, but the frame
    # is dim-sized by construction (domain/width buckets), never data-sized.
    wdesc = Window.orderBy(F.col("bkt").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bucket_cum = (
        spine.join(per_bucket, "bkt", "left")
        .select("bkt", F.coalesce("n_cust", F.lit(0)).alias("n_cust"))
        .withColumn("n_above", F.coalesce(F.sum("n_cust").over(wdesc), F.lit(0)))
    )
    tagged = cb.select(
        "bkt",
        "bal",
        F.lit(0).alias("is_supp"),
        F.lit(None).cast("long").alias("s_suppkey"),
    ).unionByName(sb.select("bkt", "bal", F.lit(1).alias("is_supp"), "s_suppkey"))
    wrun = (
        Window.partitionBy("bkt")
        .orderBy(F.col("bal").asc(), F.col("is_supp").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ranked = tagged.withColumn(
        "n_le_within", F.sum(F.lit(1) - F.col("is_supp")).over(wrun)
    )
    return (
        ranked.filter(F.col("is_supp") == 1)
        .join(F.broadcast(bucket_cum), "bkt")
        .select(
            "s_suppkey",
            (F.col("n_above") + F.col("n_cust") - F.col("n_le_within")).alias(
                "n_richer_customers"
            ),
        )
        .filter(F.col("n_richer_customers") > 0)
    )


def b14_join_asof(spark, sf_dir):
    """As-of join: for each purchase event, the latest click by the same
    user at-or-before the purchase. Equi-join on user + time filter +
    row_number()==1 — the shuffle is on user_id, matching the natural
    stream partitioning; no cross product materializes."""
    e = _T(spark, sf_dir, "events")
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("click_ts"),
    )
    j = pur.join(
        clk,
        (pur.user_id == clk.c_user_id) & (clk.click_ts <= pur.purchase_ts),
        "inner",
    )
    w = Window.partitionBy("purchase_id").orderBy(
        F.col("click_ts").desc(), F.col("click_id").desc()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "purchase_id",
            "user_id",
            "click_id",
            F.unix_micros(F.col("click_ts").cast("timestamp")).alias("click_ts_us"),
        )
    )


def b54_join_asof_forward_tolerance(spark, sf_dir):
    """As-of join, FORWARD direction with a tolerance window (the pandas
    ``merge_asof(direction='forward', tolerance=...)`` semantics b14's
    backward form doesn't cover): for each click, the EARLIEST purchase by
    the same user strictly after the click and within 24 h — attribution
    with an expiry, left-preserving so unconverted clicks survive with
    NULLs. Same scale shape as b14: equi-join on user (the natural stream
    partitioning), the time predicates ride the join filter, one
    per-click window picks the first qualifying purchase — never a cross
    product, and the tolerance bound caps the per-key fan-out a hot user
    could otherwise produce (the skew story b14 leaves implicit)."""
    e = _T(spark, sf_dir, "events")
    clk = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    pur = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user_id"),
        F.col("ts").alias("purchase_ts"),
    )
    tol_us = 86_400_000_000  # 24 h in micros
    j = clk.join(
        pur,
        (clk.user_id == pur.p_user_id)
        & (pur.purchase_ts > clk.click_ts)
        & (
            F.unix_micros(pur.purchase_ts.cast("timestamp"))
            - F.unix_micros(clk.click_ts.cast("timestamp"))
            <= tol_us
        ),
        "left",
    )
    w = Window.partitionBy("click_id").orderBy(
        F.col("purchase_ts").asc_nulls_last(), F.col("purchase_id").asc_nulls_last()
    )
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "click_id",
            "user_id",
            "purchase_id",
            F.unix_micros(F.col("purchase_ts").cast("timestamp")).alias(
                "purchase_ts_us"
            ),
        )
    )


_B55_BODY = """WITH RECURSIVE h(s_suppkey, depth, root_key) AS (
  SELECT s_suppkey, 0 AS depth, s_suppkey AS root_key
  FROM {tbl} WHERE s_suppkey <= 9
  UNION ALL
  SELECT s.s_suppkey, h.depth + 1, h.root_key
  FROM {tbl} s JOIN h ON s.s_suppkey {div} 10 = h.s_suppkey
  WHERE s.s_suppkey > 9)
SELECT s_suppkey, CAST(depth AS BIGINT) AS depth,
  CAST(root_key AS BIGINT) AS root_key
FROM h"""


def b55_recursive_cte(spark, sf_dir):
    """Native recursive CTE (Spark 4's WITH RECURSIVE, SPARK-24497 — the
    SQL-standard fixpoint iteration x21/x74 hand-roll with DataFrame
    loops): a deterministic supplier hierarchy (parent = s_suppkey DIV
    10, a complete 10-ary tree by arithmetic — no fixture column games)
    walked from the roots, emitting each supplier's depth and root. The
    engine-native counterpart to the hand-rolled iteration family:
    Catalyst owns the loop, per-step plans stay shallow, and termination
    is the standard no-new-rows fixpoint.

    Scale: each recursion step is one equi-join of the frontier against
    supplier (frontier-sized, never all-pairs); depth = log10(|supplier|)
    steps. The DataFrame-loop operators remain the right tool when a step
    needs non-SQL logic (checkpointing policy, convergence flags) —
    having BOTH forms is the point."""
    _T(spark, sf_dir, "supplier").createOrReplaceTempView("sg_b55_supplier")
    return spark.sql(_B55_BODY.format(div="DIV", tbl="sg_b55_supplier"))


_B56_BODY = """SELECT n.n_name, l.c_custkey, l.c_acctbal
FROM {nation} n,
LATERAL (SELECT c_custkey, c_acctbal FROM {customer} c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey ASC LIMIT 2) l"""


def b56_lateral_topk(spark, sf_dir):
    """LATERAL correlated subquery (SQL-standard per-row subplan): per
    nation its top-2 customers by account balance — the decorrelation
    path the optimizer must rewrite into a ranked join (b24 expresses the
    identical semantics with an explicit window; having BOTH proves the
    engine covers how users actually write it). Catalyst decorrelates
    the LATERAL into a window-over-join — per-group state, never a
    per-nation re-scan of customer.

    Scale: the rewritten plan shuffles once on nationkey and ranks
    within groups; deterministic tiebreak (custkey) pins the oracle."""
    _T(spark, sf_dir, "nation").createOrReplaceTempView("sg_b56_nation")
    _T(spark, sf_dir, "customer").createOrReplaceTempView("sg_b56_customer")
    return spark.sql(
        _B56_BODY.format(nation="sg_b56_nation", customer="sg_b56_customer")
    )


# ---------------------------------------------------------------------------
# B15-B21 aggregation
# ---------------------------------------------------------------------------


def b15_agg_basic(spark, sf_dir):
    """TPC-H Q1 shape: partial+final hash agg, no data movement before the
    map-side combine."""
    li = _T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.min("l_quantity").alias("min_qty"),
            F.max("l_quantity").alias("max_qty"),
            F.count("*").alias("count_order"),
        )
    )


def b16_agg_count_distinct(spark, sf_dir):
    li = _T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


def b17_agg_approx_distinct(spark, sf_dir):
    """HLL sketch, made strictly gradeable: the approximate value itself
    differs across HLL implementations, so the output carries the exact
    count plus a boolean asserting the sketch landed within 3x its declared
    rsd (0.02) of exact — the bound HLL++ guarantees with overwhelming
    probability. The oracle computes the exact count and expects TRUE."""
    li = _T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_n_part"),
        F.countDistinct("l_partkey").alias("exact_n_part"),
    )
    tol = F.lit(3 * 0.02) * F.col("exact_n_part").cast("double")
    return agg.select(
        "l_returnflag",
        "exact_n_part",
        (
            F.abs(F.col("approx_n_part") - F.col("exact_n_part")).cast("double")
            <= tol
        ).alias("approx_within_3rsd"),
    )


def b18_agg_filtered(spark, sf_dir):
    """FILTER-clause aggregation via sum(when(...))."""
    li = _T(spark, sf_dir, "lineitem")
    disc = F.when(li.l_discount > 0.05, li.l_extendedprice).otherwise(0.0)
    return li.groupBy("l_linestatus").agg(
        F.round(F.sum(disc), 2).alias("discounted_revenue"),
        F.count(F.when(li.l_quantity >= 40, True)).alias("n_bulk"),
    )


def b19_agg_grouping_sets(spark, sf_dir):
    li = _T(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sum_qty"),
        F.grouping_id().cast("int").alias("gid"),
    )


def b20_agg_collect(spark, sf_dir):
    """collect_set made deterministic: sorted then joined to a string."""
    o = _T(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.array_join(F.sort_array(F.collect_set("o_orderstatus")), ",").alias(
            "statuses"
        ),
        F.count("*").alias("n"),
    )


def b21_agg_percentile(spark, sf_dir):
    """Exact interpolated percentiles (SQL-checkable); the approximate
    variant is B17's territory."""
    li = _T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 4).alias("median_price"),
        F.round(F.percentile("l_extendedprice", 0.25), 4).alias("p25_price"),
        F.round(F.percentile("l_extendedprice", 0.75), 4).alias("p75_price"),
    )


# ---------------------------------------------------------------------------
# B22-B24 ordering / top-k
# ---------------------------------------------------------------------------


def b22_sort_multikey(spark, sf_dir):
    """Multi-key sort with explicit null placement + total-order tiebreak;
    Spark executes sort+limit as TakeOrdered (no full global sort)."""
    o = _T(spark, sf_dir, "orders")
    return (
        o.orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_totalprice").desc(),
            F.col("o_orderkey").asc(),
        )
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .limit(100)
    )


def b23_limit_topk(spark, sf_dir):
    li = _T(spark, sf_dir, "lineitem")
    return (
        li.orderBy(
            F.col("l_extendedprice").desc(),
            F.col("l_orderkey").asc(),
            F.col("l_linenumber").asc(),
        )
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(50)
    )


def b24_topk_per_group(spark, sf_dir):
    """Top-3 orders per customer — windowed rank, one shuffle on the group
    key; never a global sort."""
    o = _T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rk")
    )


def b57_join_null_safe(spark, sf_dir):
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM) — the one
    equi-join variant where NULL keys MATCH each other instead of
    vanishing (dimension keys that are legitimately absent on both sides:
    'unknown bucket' joins 'unknown bucket'). Keys are derived with
    NULLIF so the fixture exercises real NULL groups: urgent orders get a
    NULL priority-key on both sides and must still pair up. Output is the
    per-key match count, NULL group included — a plain equi-join would
    silently drop it (the classic silent-data-loss bug this operator
    exists to name).

    Scale: Spark plans ``<=>`` as a hash join on a null-coalesced key —
    same single shuffle as any equi-join, no nested-loop fallback (the
    registry plan sweep enforces it)."""
    o = _T(spark, sf_dir, "orders")
    a = o.select(
        F.expr("nullif(o_orderpriority, '1-URGENT')").alias("k"),
        F.col("o_orderkey").alias("left_key"),
    ).filter(F.col("o_orderkey") % 100 == 0)
    b = o.select(
        F.expr("nullif(o_orderpriority, '1-URGENT')").alias("k2"),
        F.col("o_orderkey").alias("right_key"),
    ).filter(F.col("o_orderkey") % 100 == 50)
    j = a.join(b, a.k.eqNullSafe(b.k2), "inner")
    return j.groupBy(F.coalesce("k", F.lit("<null>")).alias("prio_key")).agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("left_key").alias("n_left"),
        F.countDistinct("right_key").alias("n_right"),
    )


_B57_SQL = """WITH a AS (
  SELECT NULLIF(o_orderpriority, '1-URGENT') AS k, o_orderkey AS left_key
  FROM orders WHERE o_orderkey % 100 = 0),
b AS (
  SELECT NULLIF(o_orderpriority, '1-URGENT') AS k2, o_orderkey AS right_key
  FROM orders WHERE o_orderkey % 100 = 50)
SELECT COALESCE(a.k, '<null>') AS prio_key,
  COUNT(*) AS n_pairs,
  COUNT(DISTINCT left_key) AS n_left,
  COUNT(DISTINCT right_key) AS n_right
FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k2
GROUP BY 1"""


_B58_BODY = """SELECT l_returnflag, l_linestatus, year(l_shipdate) AS yr,
  COUNT(*) AS n,
  CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
  CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
  CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price
FROM {tbl}
GROUP BY ALL
ORDER BY ALL"""


def b58_group_by_all(spark, sf_dir):
    """``GROUP BY ALL`` / ``ORDER BY ALL`` (Spark 3.4+ / SPARK-41631 —
    the analyst-ergonomics surface DuckDB pioneered and warehouse SQL
    converged on): every non-aggregate select item becomes a group key,
    including the DERIVED ``year(l_shipdate)`` expression — the analyzer
    resolves keys from the projection, so adding a dimension never
    desyncs the SELECT list from the GROUP BY clause. Both engines run
    the textually identical statement; that equivalence is the operator.

    Scale: identical physical plan to an explicit groupBy — one
    partial+final hash agg, map-side combine; ORDER BY ALL sorts the
    group-count-sized output, never the corpus."""
    _T(spark, sf_dir, "lineitem").createOrReplaceTempView("sg_b58_lineitem")
    return spark.sql(_B58_BODY.format(tbl="sg_b58_lineitem"))


def b59_parameterized_sql(spark, sf_dir):
    """Named-parameter-marker SQL (Spark 3.4+ ``spark.sql(text, args)``,
    SPARK-41271 — the injection-safe templating surface every SQL
    gateway needs): the statement carries ``:since`` / ``:cap`` markers
    and the VALUES arrive out-of-band as typed args, never string-spliced
    into the text. The oracle inlines the same literals, proving marker
    binding changes nothing about semantics.

    Scale: parameters bind at parse time — the plan is identical to the
    literal form, including partition/predicate pushdown of the bound
    filters."""
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_b59_orders")
    return spark.sql(
        "SELECT o_orderpriority, COUNT(*) AS n,"
        " CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        " AS total_cents"
        " FROM sg_b59_orders"
        " WHERE CAST(o_orderdate AS DATE) >= CAST(:since AS DATE)"
        " AND o_totalprice < :cap"
        " GROUP BY o_orderpriority",
        args={"since": "1995-01-01", "cap": 200000.0},
    )


_B59_SQL = """SELECT o_orderpriority, COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS total_cents
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1995-01-01'
  AND o_totalprice < 200000.0
GROUP BY o_orderpriority"""


def b60_transpose(spark, sf_dir):
    """``DataFrame.transpose`` (Spark 4.0, SPARK-47541 — the matrix flip
    the report layer otherwise hand-rolls with unpivot+pivot): a
    per-returnflag metrics frame (3 rows x 2 metric columns) transposed
    so METRICS become rows and FLAGS become columns — the orientation a
    dashboard table wants. Index values become column names sorted
    ascending; metrics are pre-cast to double (transpose requires a
    common value type). Sums are integral-valued doubles (< 2^53), so
    addition order cannot perturb them and the oracle is exact.

    Scale: transpose is a REPORT-layer operator — it must enumerate the
    index column's values to name output columns, so it belongs on
    aggregate-sized frames exactly like this (group-count rows), never
    on a corpus."""
    li = _T(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.sum("l_quantity").cast("double").alias("qty_sum"),
        F.count("*").cast("double").alias("n_rows"),
    )
    return agg.transpose("l_returnflag")


_B60_SQL = """SELECT 'qty_sum' AS key,
  (SELECT CAST(SUM(l_quantity) AS DOUBLE) FROM lineitem
   WHERE l_returnflag = 'A') AS "A",
  (SELECT CAST(SUM(l_quantity) AS DOUBLE) FROM lineitem
   WHERE l_returnflag = 'N') AS "N",
  (SELECT CAST(SUM(l_quantity) AS DOUBLE) FROM lineitem
   WHERE l_returnflag = 'R') AS "R"
UNION ALL
SELECT 'n_rows',
  (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem WHERE l_returnflag = 'A'),
  (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem WHERE l_returnflag = 'N'),
  (SELECT CAST(COUNT(*) AS DOUBLE) FROM lineitem WHERE l_returnflag = 'R')"""


def b61_session_variables(spark, sf_dir):
    """SQL session variables (Spark 4 ``DECLARE VARIABLE`` /
    ``SET VAR``, SPARK-46908): a query parameter COMPUTED by one
    statement and consumed by the next — the multi-statement session
    state that scripts and notebooks otherwise thread through driver
    Python. The variable is set from a scalar subquery (half the max
    order price) and read inside the analytic query's predicate; the
    oracle inlines the identical subquery, proving variable indirection
    changes nothing. MAX (order-insensitive) keeps the computed bound
    engine-exact where AVG's float summation order would not be.

    Scale: the variable is driver-session state holding ONE value; the
    consuming query plans exactly as if the literal were inline,
    including predicate pushdown."""
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_b61_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE sg_b61_cap DOUBLE")
    spark.sql(
        "SET VAR sg_b61_cap ="
        " (SELECT MAX(o_totalprice) * 0.5 FROM sg_b61_orders)"
    )
    return spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n,"
        " CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        " AS total_cents"
        " FROM sg_b61_orders WHERE o_totalprice > sg_b61_cap"
        " GROUP BY o_orderstatus"
    )


_B61_SQL = """SELECT o_orderstatus, COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS total_cents
FROM orders
WHERE o_totalprice > (SELECT MAX(o_totalprice) * 0.5 FROM orders)
GROUP BY o_orderstatus"""


def b62_bitmap_distinct(spark, sf_dir):
    """EXACT mergeable distinct counting via bitmaps (Spark 3.5
    ``bitmap_construct_agg`` / ``bitmap_or_agg`` / ``bitmap_count``,
    SPARK-44190 — the warehouse trick for exact COUNT(DISTINCT int-key)
    rollups): per (returnflag, linestatus) a partkey position bitmap is
    built once, per returnflag the sub-bitmaps are OR-merged, and the
    merged cardinality must EQUAL the direct countDistinct — the
    mergeability b48 proves approximately for HLL, proved exactly here
    (per-day bitmaps union into month/year with no error and no
    re-scan). Output carries both counts and the agreement bit; the
    oracle expects equality.

    Scale: bitmaps are fixed-size-bucketed binary state — partial-agg
    combinable map-side; the two-level rollup never re-touches rows,
    only ORs group-count bitmaps."""
    li = _T(spark, sf_dir, "lineitem")
    # Canonical bitmap pattern: bucket number is a GROUP KEY (each bitmap
    # covers one 32768-position bucket; a single unbucketed bitmap
    # silently collides values across buckets — the fixture's partkey 0
    # lands in bucket 0 while 1..32768 land in bucket 1).
    sub = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.bitmap_bucket_number("l_partkey").alias("bkt"),
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("l_partkey")).alias("bm")
    )
    merged = (
        sub.groupBy("l_returnflag", "bkt")
        .agg(F.bitmap_count(F.bitmap_or_agg("bm")).alias("nd"))
        .groupBy("l_returnflag")
        .agg(F.sum("nd").alias("nd_merged"))
    )
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_exact")
    )
    return merged.join(exact, "l_returnflag").select(
        "l_returnflag",
        "nd_merged",
        "nd_exact",
        (F.col("nd_merged") == F.col("nd_exact")).alias("agree"),
    )


_B62_SQL = """SELECT l_returnflag,
  COUNT(DISTINCT l_partkey) AS nd_merged,
  COUNT(DISTINCT l_partkey) AS nd_exact,
  TRUE AS agree
FROM lineitem GROUP BY l_returnflag"""


def b63_crosstab(spark, sf_dir):
    """``df.stat.crosstab`` — the contingency-table API (pairwise
    frequency of two categorical columns, one output column per distinct
    value of the second): order status x priority counts, the
    data-exploration staple. Column names come from the data
    (deterministic: the five TPC-H priorities); counts are exact
    BIGINTs; the oracle is conditional aggregation over the same pairs.

    Scale: one pair-keyed partial agg + a pivot over a value-count-sized
    column set — crosstab belongs on low-cardinality categorical pairs
    exactly like this (it enumerates the second column's values as
    column names), never on high-cardinality keys."""
    o = _T(spark, sf_dir, "orders")
    return o.stat.crosstab("o_orderstatus", "o_orderpriority")


_B63_SQL = """SELECT o_orderstatus AS o_orderstatus_o_orderpriority,
  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
       AS BIGINT) AS "1-URGENT",
  CAST(SUM(CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END)
       AS BIGINT) AS "2-HIGH",
  CAST(SUM(CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END)
       AS BIGINT) AS "3-MEDIUM",
  CAST(SUM(CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END)
       AS BIGINT) AS "4-NOT SPECIFIED",
  CAST(SUM(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END)
       AS BIGINT) AS "5-LOW"
FROM orders GROUP BY o_orderstatus"""


def b64_corr_covar(spark, sf_dir):
    """Distributed Pearson correlation / sample covariance via EXACT
    integer moment sums — the classic single-pass formulation (count,
    sum x, sum y, sum xy, sum x², sum y² are all partial-agg
    combinable, so one map-side-combined shuffle serves any group
    count). Inputs are exact longs (quantity is integral; extendedprice
    in cents), the six moments are exact integers (y² summed as
    DECIMAL — cents² overflows BIGINT at scale), and the final
    corr/covar is a FIXED double expression over those exact moments —
    bit-identical across engines and executor schedules, unlike the
    built-in streaming co-moment aggregates whose last ulps depend on
    merge order. The built-ins (``F.corr``/``F.covar_samp``) are
    exercised through an error-envelope boolean (|builtin − moments| <
    1e-6), the b17/b48 grading pattern.

    Scale: ONE partial-agg shuffle, group-count-sized output; the
    moment vector is exactly what a 1000-executor tree-aggregate
    combines."""
    li = _T(spark, sf_dir, "lineitem")
    m = (
        li.select(
            "l_returnflag",
            F.col("l_quantity").cast("long").alias("x"),
            F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        )
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
            F.sum(F.col("x") * F.col("x")).alias("sx2"),
            F.sum(F.col("y").cast("decimal(20,0)") * F.col("y")).alias("sy2"),
            F.corr(
                F.col("x").cast("double"), F.col("y").cast("double")
            ).alias("corr_builtin"),
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    corr = (nd * F.col("sxy").cast("double") - sxd * syd) / (
        F.sqrt(nd * F.col("sx2").cast("double") - sxd * sxd)
        * F.sqrt(nd * F.col("sy2").cast("double") - syd * syd)
    )
    covar = (F.col("sxy").cast("double") - sxd * syd / nd) / (nd - F.lit(1.0))
    return m.select(
        "l_returnflag",
        "n",
        "sx",
        "sy",
        corr.alias("corr_qty_price"),
        covar.alias("covar_samp_qty_price"),
        (F.abs(F.col("corr_builtin") - corr) < 1e-6).alias("builtin_agrees"),
    )


_B64_SQL = """WITH m AS (
  SELECT l_returnflag,
    CAST(COUNT(*) AS BIGINT) AS n,
    CAST(SUM(x) AS BIGINT) AS sx,
    CAST(SUM(y) AS BIGINT) AS sy,
    SUM(x * y) AS sxy,
    SUM(x * x) AS sx2,
    SUM(CAST(y AS HUGEINT) * y) AS sy2,
    corr(CAST(x AS DOUBLE), CAST(y AS DOUBLE)) AS corr_builtin
  FROM (SELECT l_returnflag,
          CAST(l_quantity AS BIGINT) AS x,
          CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem)
  GROUP BY l_returnflag)
SELECT l_returnflag, n, sx, sy,
  (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
  / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
     * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
            - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
    AS corr_qty_price,
  (CAST(sxy AS DOUBLE)
     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
  / (CAST(n AS DOUBLE) - 1.0) AS covar_samp_qty_price,
  abs(corr_builtin
      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        / (sqrt(CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           * sqrt(CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                  - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) < 1e-6
    AS builtin_agrees
FROM m"""


def b65_min_max_by(spark, sf_dir):
    """``max_by`` / ``min_by`` (Spark 3.3, SPARK-27974) — the argmax/argmin
    AGGREGATES: "which order was the priciest per status" as one
    partial-agg pass, NOT a ranking window (b24's top-k shape needs the
    per-group sort; arg-extremes need only a combinable (ord, arg) pair —
    at 100 TB that is the difference between a map-side-combined shuffle
    of group-count rows and a full per-group sort). The ordering key is a
    STRUCT (price, orderkey) so ties on price resolve by key — a total
    order, making the winner engine-exact; the oracle picks the same row
    by ROW_NUMBER with the identical compound sort.

    Scale: one partial-agg shuffle; (ord, arg) state is constant-size and
    merge-combinable — exactly the tree-aggregate shape."""
    o = _T(spark, sf_dir, "orders")
    ordc = F.struct(F.col("o_totalprice"), F.col("o_orderkey"))
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", ordc).alias("priciest_order"),
        F.min_by("o_orderkey", ordc).alias("cheapest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
        F.count("*").alias("n"),
    )


_B65_SQL = """WITH r AS (
  SELECT o_orderstatus, o_orderkey, o_totalprice,
    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rmax,
    ROW_NUMBER() OVER (PARTITION BY o_orderstatus
      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rmin
  FROM orders)
SELECT o_orderstatus,
  MAX(CASE WHEN rmax = 1 THEN o_orderkey END) AS priciest_order,
  MAX(CASE WHEN rmin = 1 THEN o_orderkey END) AS cheapest_order,
  MAX(o_totalprice) AS max_price,
  MIN(o_totalprice) AS min_price,
  CAST(COUNT(*) AS BIGINT) AS n
FROM r GROUP BY o_orderstatus"""


def b66_union_schema_drift(spark, sf_dir):
    """``unionByName(allowMissingColumns=True)`` (Spark 3.1,
    SPARK-32798) — the schema-drift union: two ingest vintages with
    different column sets combined BY NAME, absent columns null-filled
    (positional ``union`` would silently misalign or reject; o6 solves
    the same drift at the parquet-scan layer, this is the DataFrame-API
    layer a multi-vintage pipeline composes in code). Old vintage lacks
    ``n_chars``; new vintage carries it; the unioned frame is the
    contract both downstreams read.

    Scale: pure narrow union — zero shuffles, each vintage scans once
    with its own pruned schema."""
    d = _T(spark, sf_dir, "documents")
    v_old = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", "lang", "source"
    )
    v_new = d.filter(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "source", "n_chars"
    )
    return v_old.unionByName(v_new, allowMissingColumns=True)


_B66_SQL = """SELECT doc_id, lang, source, CAST(NULL AS BIGINT) AS n_chars
FROM documents WHERE doc_id % 2 = 0
UNION ALL
SELECT doc_id, lang, source, n_chars
FROM documents WHERE doc_id % 2 = 1"""


def b67_sql_pipe_syntax(spark, sf_dir):
    """SQL PIPE syntax (Spark 4.0, SPARK-49555 — the linear query form
    GoogleSQL introduced and DuckDB/ZetaSQL converged on): the query
    reads top-to-bottom as a dataflow — ``FROM`` first, then ``|>
    WHERE`` (pushed to the scan exactly like the nested form), ``|>
    EXTEND`` for a derived column, ``|> AGGREGATE ... GROUP BY`` with
    the aggregate list adjacent to its keys. The analyzer lowers pipes
    to the SAME logical plan as nested SQL, so the oracle is the
    classic-form twin — that lowering equivalence is the operator.

    Scale: plan-identical to the nested form — pushed date filter, one
    partial+final hash agg; the syntax layer costs nothing physical."""
    _T(spark, sf_dir, "lineitem").createOrReplaceTempView("sg_b67_lineitem")
    return spark.sql(
        "FROM sg_b67_lineitem"
        " |> WHERE l_shipdate >= DATE'1995-01-01'"
        " |> EXTEND year(l_shipdate) AS ship_year"
        " |> AGGREGATE COUNT(*) AS n,"
        "    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty"
        "    GROUP BY l_returnflag, ship_year"
        " |> SELECT l_returnflag, CAST(ship_year AS INTEGER) AS ship_year,"
        "    n, sum_qty"
    )


_B67_SQL = """SELECT l_returnflag,
  CAST(year(l_shipdate) AS INTEGER) AS ship_year,
  COUNT(*) AS n,
  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
FROM lineitem
WHERE l_shipdate >= DATE '1995-01-01'
GROUP BY l_returnflag, year(l_shipdate)"""


#: Most recent b68 Observation, for the metrics-equality test (the side
#: channel an output diff can't grade; observed values only exist after
#: the caller's action completes).
_b68_last_observation: list = [None]


def b68_observed_metrics(spark, sf_dir):
    """``df.observe`` / ``CollectMetrics`` (Spark 3.0, SPARK-29345 —
    accumulator-grade METRICS riding an existing pass): the returned
    frame is the filtered projection a downstream actually consumes,
    and the observation node computes row count + exact-cent revenue ON
    THE SAME SCAN — the data-quality counters every production pipeline
    wants without paying a second job for them. The observed metrics
    are asserted equal to an independent aggregate in
    tests/test_plan_shapes.py (the part an output-diff can't see);
    the row output itself is oracle-checked here.

    Scale: metrics fold into the scan's partial aggregates
    (accumulator-style, driver-merged constants) — zero extra passes,
    zero shuffles beyond the query's own."""
    from pyspark.sql import Observation

    obs = Observation()  # fresh per call: one Observation binds one action
    _b68_last_observation[0] = obs  # test handle (metrics side channel)
    return (
        _T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("rev_cents"),
        )
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


_B68_SQL = """SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderstatus = 'F'"""


def b69_join_strategy_invariance(spark, sf_dir):
    """Join-strategy HINTS (SPARK-27225): the same customer⋈orders
    aggregate executed under ``broadcast``, ``merge`` (sort-merge), and
    ``shuffle_hash`` hints — three PHYSICAL strategies, one logical
    plan — unioned with a strategy label. Identical per-strategy values
    are the operator's claim: the hint surface steers the planner
    without touching semantics (the manual override for when the
    optimizer's size estimates are wrong at 100 TB — a skewed build
    side mis-sized by stale stats is exactly when an engineer reaches
    for these). tests/test_plan_shapes.py pins that all three nodes
    (BroadcastHashJoin, SortMergeJoin, ShuffledHashJoin) actually
    appear — without that, three identical plans would pass this
    oracle vacuously.

    Scale: each branch is the b4/b5/b6 shape; the union is
    branch-count x group-count rows."""
    o = _T(spark, sf_dir, "orders")
    c = _T(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")

    def agg(joined, label):
        return joined.groupBy("o_orderpriority").agg(
            F.count("*").alias("n"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100).cast("long")
            ).alias("cents"),
        ).select(F.lit(label).alias("strategy"), "o_orderpriority", "n", "cents")

    return (
        agg(o.join(c.hint("broadcast"), o.o_custkey == c.c_custkey), "broadcast")
        .unionAll(
            agg(o.join(c.hint("merge"), o.o_custkey == c.c_custkey), "merge")
        )
        .unionAll(
            agg(
                o.join(c.hint("shuffle_hash"), o.o_custkey == c.c_custkey),
                "shuffle_hash",
            )
        )
    )


_B69_SQL = """WITH a AS (
  SELECT o_orderpriority, COUNT(*) AS n,
    CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
  GROUP BY o_orderpriority)
SELECT s.strategy, a.o_orderpriority, a.n, a.cents
FROM a, (VALUES ('broadcast'), ('merge'), ('shuffle_hash')) AS s(strategy)"""


def b70_distribute_sort_by(spark, sf_dir):
    """``DISTRIBUTE BY ... SORT BY`` (Hive-inherited physical-distribution
    SQL): hash-partition the output on the key and sort WITHIN each
    partition only — the pre-write clustering idiom (o3 does it through
    the DataFrame writer's ``sortWithinPartitions``; this is the SQL
    surface an analyst types). The row SET is unchanged — that plus the
    physical shape IS the operator: tests/test_plan_shapes.py pins an
    ``Exchange hashpartitioning`` followed by a NON-global sort and the
    absence of any global-sort Exchange (``rangepartitioning`` — what
    ORDER BY would plan, serializing 100 TB through a range sampler for
    an ordering the sink doesn't need).

    Scale: one hash shuffle + per-partition sort — each reducer sorts
    its own slice, nothing global."""
    _T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= "1995-06-01"
    ).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "l_quantity"
    ).createOrReplaceTempView("sg_b70_lineitem")
    return spark.sql(
        "SELECT l_orderkey, l_suppkey, CAST(l_shipdate AS STRING)"
        " AS ship_date, CAST(l_quantity AS BIGINT) AS qty"
        " FROM sg_b70_lineitem"
        " DISTRIBUTE BY l_suppkey SORT BY l_suppkey, ship_date, l_orderkey"
    )


_B70_SQL = """SELECT l_orderkey, l_suppkey,
  CAST(l_shipdate AS VARCHAR) AS ship_date,
  CAST(l_quantity AS BIGINT) AS qty
FROM lineitem WHERE l_shipdate >= DATE '1995-06-01'"""


def b71_listagg(spark, sf_dir):
    """``listagg(...) WITHIN GROUP (ORDER BY ...)`` (Spark 4.0,
    SPARK-42746 — the ANSI ordered string aggregation warehouses
    standardized on): per customer, order keys concatenated in
    ascending order and statuses in DESCENDING key order — the ordered
    aggregate b20 emulates via collect_list + sort + join, now the
    declarative one-aggregate form (WITHIN GROUP makes the
    concatenation order part of the SEMANTICS, so the result is
    deterministic without the b20 rewrite).

    Scale: one customer-keyed partial agg; group payloads are the
    customer's own orders (bounded), exactly collect_list's shape."""
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_b71_orders")
    return spark.sql(
        "SELECT o_custkey,"
        " listagg(CAST(o_orderkey AS STRING), ',')"
        "   WITHIN GROUP (ORDER BY o_orderkey) AS keys_asc,"
        " listagg(o_orderstatus, '')"
        "   WITHIN GROUP (ORDER BY o_orderkey DESC) AS status_by_key_desc,"
        " COUNT(*) AS n"
        " FROM sg_b71_orders GROUP BY o_custkey"
    )


_B71_SQL = """SELECT o_custkey,
  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey)
    AS keys_asc,
  string_agg(o_orderstatus, '' ORDER BY o_orderkey DESC)
    AS status_by_key_desc,
  COUNT(*) AS n
FROM orders GROUP BY o_custkey"""


def b73_sql_pivot_unpivot(spark, sf_dir):
    """SQL ``PIVOT`` / ``UNPIVOT`` clauses (Spark 3.4 SQL syntax,
    SPARK-39876 — b33/b34 exercise the DataFrame-API forms; this is the
    relational-algebra SQL layer an analyst ports from a warehouse) as
    one ROUND TRIP: statuses pivot into per-status cent columns, then
    unpivot straight back to (priority, status, cents) — UNPIVOT drops
    the NULL cells PIVOT minted for absent combinations, so the round
    trip must reproduce exactly the plain GROUP BY aggregate, which is
    the oracle. The inversion claim is the operator.

    Scale: the pivot is one partial agg keyed by (priority) with a
    status-count-wide row; unpivot is a map-side expand — group-count
    x status-count rows total."""
    _T(spark, sf_dir, "orders").select(
        "o_orderpriority", "o_orderstatus", "o_totalprice"
    ).createOrReplaceTempView("sg_b73_orders")
    return spark.sql(
        "WITH p AS (SELECT * FROM sg_b73_orders"
        " PIVOT (CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT))"
        " AS BIGINT) FOR o_orderstatus"
        " IN ('F' AS f_cents, 'O' AS o_cents, 'P' AS p_cents)))"
        " SELECT o_orderpriority, status, cents FROM p"
        " UNPIVOT (cents FOR status"
        " IN (f_cents AS `F`, o_cents AS `O`, p_cents AS `P`))"
    )


_B73_SQL = """SELECT o_orderpriority, o_orderstatus AS status,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
FROM orders GROUP BY o_orderpriority, o_orderstatus"""


def b74_identifier_clause(spark, sf_dir):
    """``IDENTIFIER(:param)`` clause (Spark 3.5, SPARK-43205): table and
    column names bound from typed parameters — the injection-safe
    DYNAMIC-IDENTIFIER half of the templating story (b59 binds VALUES;
    b74 binds NAMES, which plain parameter markers cannot do because
    identifiers aren't expressions). The statement is one template; the
    grouping column and source table both arrive out-of-band; the
    oracle inlines the same identifiers, proving binding changes
    nothing semantically.

    Scale: identifiers resolve at parse time — the plan is identical to
    the literal statement, pushdown included."""
    _T(spark, sf_dir, "customer").createOrReplaceTempView("sg_b74_customer")
    return spark.sql(
        "SELECT IDENTIFIER(:col) AS segment, COUNT(*) AS n,"
        " CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT)"
        " AS bal_cents"
        " FROM IDENTIFIER(:tbl) GROUP BY IDENTIFIER(:col)",
        args={"col": "c_mktsegment", "tbl": "sg_b74_customer"},
    )


_B74_SQL = """SELECT c_mktsegment AS segment, COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM customer GROUP BY c_mktsegment"""


def b72_lateral_alias(spark, sf_dir):
    """LATERAL COLUMN ALIASES (Spark 3.4, SPARK-27561): a select item
    referencing an alias defined EARLIER IN THE SAME SELECT LIST —
    ``cents`` feeds ``band`` and ``half_cents`` without a subquery or
    CTE (pre-3.4 Spark forced the nesting; warehouses resolved laterally
    for years, and analysts port exactly such statements). The analyzer
    rewrites the chain into nested projections; both engines run the
    textually identical statement, and that shared resolution is the
    operator.

    Scale: pure projection algebra riding the scan — the alias chain
    collapses into one codegen'd stage, zero shuffles."""
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_b72_orders")
    return spark.sql(
        "SELECT o_orderkey,"
        " CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,"
        " CASE WHEN cents >= 20000000 THEN 'big'"
        "      WHEN cents >= 10000000 THEN 'mid'"
        "      ELSE 'small' END AS band,"
        " cents DIV 2 AS half_cents,"
        " concat(band, ':', CAST(half_cents AS STRING)) AS tag"
        " FROM sg_b72_orders"
    )


_B72_SQL = """SELECT o_orderkey,
  CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
  CASE WHEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) >= 20000000
         THEN 'big'
       WHEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) >= 10000000
         THEN 'mid'
       ELSE 'small' END AS band,
  CAST(FLOOR(o_totalprice * 100) AS BIGINT) // 2 AS half_cents,
  concat(CASE WHEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) >= 20000000
                THEN 'big'
              WHEN CAST(FLOOR(o_totalprice * 100) AS BIGINT) >= 10000000
                THEN 'mid'
              ELSE 'small' END, ':',
         CAST(CAST(FLOOR(o_totalprice * 100) AS BIGINT) // 2 AS VARCHAR))
    AS tag
FROM orders"""


# ---------------------------------------------------------------------------
# B25-B29 set operations
# ---------------------------------------------------------------------------


def b25_union_all(spark, sf_dir):
    o = _T(spark, sf_dir, "orders")
    hi = o.filter(o.o_totalprice > 400000).select(
        "o_orderkey", F.lit("high").alias("bucket")
    )
    lo = o.filter(o.o_totalprice < 5000).select(
        "o_orderkey", F.lit("low").alias("bucket")
    )
    return hi.unionByName(lo)


def b26_union_distinct(spark, sf_dir):
    c = _T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


def b27_intersect(spark, sf_dir):
    c = _T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


def b28_except(spark, sf_dir):
    c = _T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


def b29_distinct_dedup(spark, sf_dir):
    """Deterministic exact dedup: keep the lowest orderkey per
    (custkey, status) — the window idiom shared with X1 (dropDuplicates
    keeps an arbitrary row; this pins which row survives)."""
    o = _T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey", "o_orderstatus").orderBy("o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderstatus", "o_orderkey")
    )


def b30_scalar_subquery_agg(spark, sf_dir):
    """Decorrelated scalar subquery: the 1-row aggregate is broadcast into
    the filter — no per-row subquery execution."""
    c = _T(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal").alias("global_avg"))
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("global_avg"))
        .select("c_custkey", "c_acctbal")
    )


#: Conservative in-flight bytes per dim-parquet byte for b31's broadcast-
#: infeasibility test (decompression + row overhead on the pre-explode
#: orders columns; deliberately LOWER than the 4× the decade-4 probe
#: measured for the wider lineitem rows, so the test errs toward keeping
#: AQE's runtime broadcast as the fast path — it only gates an added
#: repartition, never correctness).
DIM_INFLIGHT_MULTIPLIER = 3


def b31_join_skew_salted(spark, sf_dir):
    """Salted join — the manual skew-defeat pattern (SURVEY.md §2 100TB
    notes; AQE's skew splitting covers sort-merge, salting covers the cases
    it can't, e.g. a broadcast-infeasible hot build side).

    The fact side derives a deterministic salt in [0, 8); the dim side is
    exploded 8x so every (key, salt) pair exists. Join lands on the
    composite key, spreading any hot orderkey across 8 reducers. Semantics
    are EXACTLY the plain equi-join, so the oracle is the unsalted SQL.
    """
    n_salts = 8
    li = _T(spark, sf_dir, "lineitem").withColumn(
        "salt", F.pmod(F.col("l_linenumber"), F.lit(n_salts))
    )
    o = _T(spark, sf_dir, "orders").withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    # Scale guard (round 13): the salted sort-merge ran SUPER-linear at
    # the ×1000 decade-4 probe (18.3× wall for 9.9× shuffle bytes — 45 GB
    # over the session's fixed partitions put ~350 MB sorts past the
    # spill threshold). When the exploded dim side is past any sane
    # broadcast threshold (the operator's declared scenario — otherwise
    # AQE's runtime broadcast makes an added exchange pure waste), size
    # the fact-side exchange from the lineitem parquet bytes; the dim
    # side then co-exchanges to match. Below the gate (every fixture SF)
    # both checks are driver-side metadata and the plan is byte-identical
    # to the floored one.
    dim_bytes = _scale.fs_bytes(spark, os.path.join(sf_dir, "orders.parquet"))
    n_fan = None
    if (
        dim_bytes is not None
        and dim_bytes * n_salts * DIM_INFLIGHT_MULTIPLIER
        > _scale.BROADCAST_INFEASIBLE_BYTES
    ):
        n_fan = _scale.fanout_partitions_by_bytes(
            spark,
            os.path.join(sf_dir, "lineitem.parquet"),
            bytes_multiplier=4,
        )
    if n_fan:
        li = li.repartition(n_fan, "l_orderkey", "salt")
    return (
        li.join(o, (li.l_orderkey == o.o_orderkey) & (li.salt == o.salt))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


#: b32/o11's bucketed layouts: (fixture table, columns), bucketed and
#: sorted on the first column.
_BUCKETED = (
    ("orders", ("o_orderkey", "o_orderpriority")),
    ("lineitem", ("l_orderkey", "l_quantity")),
)


def _bucketed_names(loc: str) -> tuple[str, str]:
    """The bucketed tables' catalog names, derived from their staged dir."""
    base = os.path.basename(loc)
    return f"{base}_orders", f"{base}_lineitem"


def stage_bucketed_tables(spark, sf_dir) -> tuple[str, str]:
    """Stage the bucketed orders/lineitem tables once per (session,
    dataset) and return their table names — the write IS the 'pay the
    shuffle once' half of the bucketing pattern, so re-staging per call
    only re-pays it. Shared by b32 (co-located join) and o11 (bucket
    pruning): both are read-side dividends of the same ingest-time
    layout. The names derive from the staged dir, so a re-stage (reaped
    scratch) registers fresh tables instead of reading vanished paths."""
    from scylladb_redpanda_cdc_spark.streaming.core import staged

    def write(loc: str) -> None:
        for (table, cols), name in zip(_BUCKETED, _bucketed_names(loc)):
            (
                _T(spark, sf_dir, table)
                .select(*cols)
                .write.mode("overwrite")
                .option("path", f"{loc}/{name}")
                .bucketBy(8, cols[0])
                .sortBy(cols[0])
                .saveAsTable(name)
            )

    return _bucketed_names(staged(spark, "bucketed", (sf_dir,), write))


def b32_join_bucketed_colocated(spark, sf_dir):
    """Bucketed co-located join: both sides pre-bucketed by the join key ->
    the join plan has NO Exchange (verified by tests/test_plan_shapes.py).
    This is the 'pay the shuffle once at write time' pattern — at 100 TB
    the fact table is bucketed on its PK at ingest and every subsequent
    key join is shuffle-free."""
    o_tbl, li_tbl = stage_bucketed_tables(spark, sf_dir)
    o = spark.table(o_tbl)
    li = spark.table(li_tbl)
    return (
        # merge hint: at tiny test SF the optimizer would broadcast instead,
        # which never exercises the bucket co-location being demonstrated.
        li.hint("merge")
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
    )


def b33_pivot(spark, sf_dir):
    """Pivot (long -> wide): explicit value list so the plan is a single
    pass of conditional aggregates — no extra distinct-values job, which at
    100 TB would be a full second scan."""
    li = _T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


def b34_unpivot(spark, sf_dir):
    """Unpivot/melt (wide -> long): 3 measure columns to (measure, val)
    rows — pure narrow projection, output 3x rows with no shuffle. The
    bulk-rows filter sits BEFORE the unpivot so it reaches the parquet scan
    (pushdown through melt) and the graded result stays hash-compact."""
    li = _T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 45)
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_discount", "l_tax"],
        variableColumnName="measure",
        valueColumnName="val",
    )


@session_frame
def _b35_hour(spark, sf_dir):
    """b35's hour-level rollup, persisted once per (session, dataset) —
    the continuous aggregate's stored finest level (see b35)."""
    e = _T(spark, sf_dir, "events")
    hour = (
        e.select(
            "event_type",
            F.unix_millis(F.date_trunc("hour", F.col("ts"))).alias("bucket_ms"),
            F.floor(F.col("value") * 1_000_000)
            .cast("long")
            .alias("value_micros"),
        )
        .groupBy("event_type", "bucket_ms")
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value_micros").alias("value_micros_sum"),
        )
    )
    return hour.persist()


def b35_time_bucket_rollup(spark, sf_dir):
    """Hypertable-style continuous-aggregate rollup: hour AND day buckets
    per event_type from ONE raw scan — the day level re-aggregates the
    hour-level PARTIALS (24x fewer rows), never the raw events. That
    partials-of-partials shape is the whole point of a continuous
    aggregate at 100 TB: the coarse granularity costs a vocabulary-sized
    shuffle, not a second corpus pass.

    The hour level is PERSISTED (per session+dataset) before both branches
    consume it — Spark's exchange-reuse does not deduplicate the two
    identical aggregate subtrees on its own (verified: the un-cached plan
    scans events twice), and a real hypertable stores its finest rollup as
    a table anyway; the cache is that table's stand-in.

    Engine-exact arithmetic: buckets are epoch-millis longs (hour via
    date_trunc in session-UTC, day via integer modulus on the hour
    bucket); value sums are exact integer micros (floor-then-sum, the S3
    discipline)."""
    hour = _b35_hour(spark, sf_dir)
    day = (
        hour.select(
            "event_type",
            (F.col("bucket_ms") - F.col("bucket_ms") % 86_400_000).alias(
                "bucket_ms"
            ),
            "n_events",
            "value_micros_sum",
        )
        .groupBy("event_type", "bucket_ms")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_micros_sum").alias("value_micros_sum"),
        )
    )
    return hour.select(
        F.lit("hour").alias("granularity"),
        "event_type",
        "bucket_ms",
        "n_events",
        "value_micros_sum",
    ).unionByName(
        day.select(
            F.lit("day").alias("granularity"),
            "event_type",
            "bucket_ms",
            "n_events",
            "value_micros_sum",
        )
    )


def b36_range_interval_join(spark, sf_dir):
    """Time-range self-join WITHOUT the nested loop: for every event, the
    count of same-user events in the following 5 minutes.

    ``e1 JOIN e2 ON same user AND e2.ts IN (e1.ts, e1.ts + 5min]`` plans
    as a sort-merge on user_id alone with a per-user quadratic range
    filter — fine until one bot user has 10^6 events. Bucketed range join
    instead (the standard interval-join decomposition, same shape Flink's
    interval join and range-join hints produce):

      1. bucket both sides into 5-minute epoch buckets;
      2. a right-side row can only match left rows in ITS bucket or the
         one before, so explode the right side to those two keys (2x one
         side, constant factor — not O(n^2));
      3. equi-join on (user_id, bucket) — hash-partitionable, AQE-salvable
         like any other key join — then apply the exact range predicate;
      4. per-left-event count via partial agg.

    Exact integer micros arithmetic both engines agree on; left join keeps
    zero-neighbor events in the output."""
    e = _T(spark, sf_dir, "events")
    W = 300_000_000  # 5 minutes in micros
    base = e.select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("us")
    )
    # FLOOR division, not DIV: DIV truncates toward zero, so pre-epoch
    # (negative) micros would share bucket 0 with post-epoch micros and
    # cross-epoch neighbors could be missed. ``x - pmod(x, W)`` is the
    # largest multiple of W <= x, and DIV of an exact multiple is exact —
    # pure int64 arithmetic, no double rounding at any timestamp range.
    left = base.withColumn("bucket", F.expr(f"(us - pmod(us, {W})) DIV {W}"))
    right = base.select(
        F.col("user_id").alias("r_user"), F.col("us").alias("r_us")
    ).select(
        "r_user",
        "r_us",
        F.explode(
            F.array(
                F.expr(f"(r_us - pmod(r_us, {W})) DIV {W}"),
                F.expr(f"(r_us - pmod(r_us, {W})) DIV {W} - 1"),
            )
        ).alias("bucket"),
    )
    hit = (F.col("r_us") > F.col("us")) & (F.col("r_us") - F.col("us") <= W)
    return (
        left.join(
            right,
            (left.user_id == right.r_user) & (left.bucket == right.bucket),
            "left",
        )
        .groupBy("event_id", "user_id")
        .agg(
            F.sum(F.when(hit, 1).otherwise(0)).cast("long").alias("n_next_5min")
        )
    )


def b37_time_range_window(spark, sf_dir):
    """Time-RANGE window frame: per event, the count and exact-micros sum
    of the SAME USER's events in the trailing 5 minutes (RANGE BETWEEN
    300s PRECEDING AND CURRENT ROW) — the rolling-aggregate form of b36's
    interval join (b36 answers "how many follow?", b37 annotates every
    row with its trailing window in ONE pass, no self-join).

    RANGE, not ROWS: ties on ts are frame PEERS, so events sharing a
    timestamp see the identical frame in both engines — ROWS would make
    the result depend on the engine's (unspecified) peer order.

    Exactness: the frame key is epoch MICROS (exact int64; session-UTC
    discipline via load_table); summed values are floored micros — exact
    BIGINT in any order.

    Scale shape: one shuffle on user_id, then a per-partition sort and a
    single sliding-frame pass — Spark's WindowExec maintains the range
    frame incrementally (no per-row rescan). Skew caveat at 100 TB: one
    bot user = one partition; the b36 bucketed decomposition is the
    rewrite when a key exceeds a task, which is why both operators exist."""
    e = _T(spark, sf_dir, "events")
    base = e.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("value_micros"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-300_000_000, Window.currentRow)
    )
    return base.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count("*").over(w).alias("n_trailing_5min"),
        F.sum("value_micros").over(w).alias("value_micros_trailing"),
    )


def b38_funnel_conversion(spark, sf_dir):
    """Ordered conversion funnel per user: first `view`, then the first
    `click` AT OR AFTER that view, then the first `purchase` at or after
    that click — the product-analytics staple (Amplitude/Mixpanel funnels)
    that naive per-type mins get WRONG (a purchase before the first view
    must not count as conversion).

    Exactness: stage times are epoch-micros MINs (exact int64); the stage
    number is integer arithmetic on null flags.

    Scale shape: three user-keyed partial aggs, each over a narrower
    event-type slice (the type filter pushes into the scan), then
    users-sized joins on the same user_id key — AQE co-partitions the
    follow-up joins with the agg output, so after the first shuffle the
    funnel refinement is co-located; nothing corpus-sized moves twice and
    there is no per-user quadratic step (the window-sort alternative puts
    a bot user's whole history in one task; this shape partial-aggs it)."""
    e = _T(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros(F.col("ts")).alias("us")
    )
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("us").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("us") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("us") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("us").alias("t_purchase"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select(
            "user_id",
            "t_view",
            "t_click",
            "t_purchase",
            (
                F.lit(1)
                + F.col("t_click").isNotNull().cast("int")
                + F.col("t_purchase").isNotNull().cast("int")
            ).alias("funnel_stage"),
        )
    )


def b39_cohort_retention(spark, sf_dir):
    """Cohort retention matrix — the other product-analytics staple beside
    b38's funnel: users grouped by the DAY of their first event (their
    cohort), then for every later active day the count and rate of the
    cohort still active at that day offset.

    Exactness: days are epoch-day int64s via the same floor-division
    idiom as b36 (exact at any timestamp range); retention is integer
    ppm (identical truncation both engines).

    Scale shape: (1) first-touch = user-keyed partial agg; (2) active
    (user, day) pairs = partial-agg DISTINCT (map-side combine collapses
    a user's same-day events before the shuffle — at 100 TB that is the
    difference between shuffling every event and every user-day);
    (3) the user-keyed join rides the same key as (1); (4) the final
    cohort-keyed agg is days x offsets-sized — tiny. The per-event flow
    is one shuffle + one co-keyed join, no window over a user's history."""
    D = 86_400_000_000  # one day in micros
    e = _T(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            f"(unix_micros(ts) - pmod(unix_micros(ts), {D})) DIV {D}"
        ).alias("day"),
    )
    first = e.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    cohort_sizes = first.groupBy("cohort_day").agg(
        F.count("*").alias("n_cohort")
    )
    act = e.distinct()
    return (
        act.join(first, "user_id")
        .select("cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.count("*").cast("long").alias("n_active"))
        .join(cohort_sizes, "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            "n_cohort",
            F.expr("n_active * 1000000 DIV n_cohort").alias("retention_ppm"),
        )
    )


def b40_rfm_segmentation(spark, sf_dir):
    """RFM segmentation — the marketing-analytics classic: per user,
    Recency (last event time), Frequency (event count), Monetary (exact
    micros value sum), each cut into quartiles; segment code = R*100 +
    F*10 + M.

    Quartiles use NTILE over a TOTAL order (metric, then user_id) so the
    cut lines are deterministic in both engines; quartile 4 = most
    recent / most frequent / highest value.

    Scale shape (round 11 — `operators.rank.ranged_rank`, per metric):
    the corpus-sized work is one user-keyed partial agg; a users-sized
    frame still grows with the data, so each NTILE must NOT be an
    unpartitioned window (one task sorts every user, three times). Each
    metric gets an exact two-phase rank over sampled range boundaries —
    the round-9 equal-width cells bounded the cell COUNT, but a metric
    that collapses onto few values (freq ties, a constant-value promo
    day) put every user back in one cell/task; sampled boundaries split
    by row count under any distribution, tiebreaking on user_id. The
    three rank frames are narrow (user_id + rank) and join back to the
    checkpointed users frame on its unique key; NTILE(4) is exact-rank
    arithmetic. The users frame is stage_checkpointed once so the events
    agg runs a single time."""
    e = _T(spark, sf_dir, "events")
    per = (
        e.select(
            "user_id",
            F.unix_micros(F.col("ts")).alias("us"),
            F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
        )
        .groupBy("user_id")
        .agg(
            F.max("us").alias("last_us"),
            F.count("*").alias("freq"),
            F.sum("vm").alias("monetary_micros"),
        )
    ).transform(stage_checkpoint)
    orders = {
        "r": ("last_us", "r_q"),
        "f": ("freq", "f_q"),
        "m": ("monetary_micros", "m_q"),
    }
    ranked = per
    for k, (metric, _q) in orders.items():
        rk = ranged_rank(
            per.select("user_id", metric),
            [F.col(metric).asc(), F.col("user_id").asc()],
            rank_col=f"rank_{k}",
            total_col="n" if k == "r" else None,
        ).drop(metric)
        ranked = ranked.join(rk, "user_id")
    # NTILE(4) on the exact rank: base = n DIV 4, first n % 4 buckets
    # take one extra row (SQL NTILE's law, the x121 arithmetic at k=4).
    for k, (_metric, q) in orders.items():
        ranked = ranked.withColumn(
            q,
            F.expr(
                f"CASE WHEN rank_{k} <= (n % 4) * (n DIV 4 + 1)"
                f" THEN (rank_{k} - 1) DIV (n DIV 4 + 1) + 1"
                f" ELSE (n % 4) + (rank_{k} - (n % 4) * (n DIV 4 + 1) - 1)"
                f"   DIV (n DIV 4) + 1 END"
            ).cast("int"),
        )
    return ranked.select(
        "user_id",
        "last_us",
        "freq",
        "monetary_micros",
        "r_q",
        "f_q",
        "m_q",
        (F.col("r_q") * 100 + F.col("f_q") * 10 + F.col("m_q"))
        .cast("int")
        .alias("rfm_code"),
    )


def b41_approx_quantile(spark, sf_dir):
    """Approximate percentiles (Greenwald-Khanna `percentile_approx`) made
    strictly gradeable by b17's envelope policy: the sketch value differs
    across implementations, so the output carries the EXACT percentile
    plus a boolean asserting the approximation landed within 3x the
    sketch's declared RANK error (1/accuracy = 1/1000 of the rows,
    converted to a value envelope via the exact percentiles at rank
    +- 3*error — the same 3x slack b17 gives HLL, which also absorbs
    interpolation-vs-datapoint rank-definition skew at small n).

    Why it exists at 100 TB: exact percentiles need a full sort or a
    2-pass count-then-select; the GK sketch is one pass, mergeable across
    partitions (partial-agg friendly — each executor sketches its split,
    the shuffle carries sketches, not rows), with a deterministic rank
    bound — the right default for monitoring dashboards at scale."""
    li = _T(spark, sf_dir, "lineitem")
    acc = 1000
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("approx_p50"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50"),
        F.expr(f"percentile(l_extendedprice, 0.5 - 3.0/{acc})").alias("_lo"),
        F.expr(f"percentile(l_extendedprice, 0.5 + 3.0/{acc})").alias("_hi"),
    )
    return agg.select(
        "l_returnflag",
        # 4-dp round absorbs last-bit interpolation divergence (b21's rule)
        F.round("exact_p50", 4).alias("exact_p50"),
        (
            (F.col("approx_p50") >= F.col("_lo"))
            & (F.col("approx_p50") <= F.col("_hi"))
        ).alias("approx_within_rank_error"),
    )


def b44_q3_composite(spark, sf_dir):
    """TPC-H Q3-shaped composite — the realistic multi-operator workload
    in ONE declarative plan: segment-filtered customers ⋈ date-filtered
    orders ⋈ lineitem, revenue per (order, date, priority), top-10 by
    revenue. The individual B specs prove each operator; b44 proves they
    COMPOSE into the plan you'd want — both filters push into their
    scans, the customer side broadcasts, the orders⋈lineitem join keys
    the bigger pair, revenue partial-aggs before the top-k, and the
    top-10 is TakeOrdered (no global sort).

    Exactness: revenue is exact integer micros (floor each extended
    price*(1-discount) per row — one deterministic double multiply, then
    floor — summed as BIGINT in any order)."""
    c = _T(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1995-03-15"
    ).select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    li = _T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1995-03-15"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 1_000_000
    ).cast("long")
    return (
        li.join(
            o.join(F.broadcast(c), o.o_custkey == c.c_custkey),
            li.l_orderkey == o.o_orderkey,
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev).alias("revenue_micros"))
        .orderBy(F.col("revenue_micros").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


_B44_SQL = """SELECT l_orderkey, o_orderdate, o_orderpriority,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 1000000)
    AS BIGINT)) AS BIGINT) AS revenue_micros
FROM customer
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue_micros DESC, l_orderkey ASC LIMIT 10"""


def b45_gap_fill(spark, sf_dir):
    """Time-series regularization: per user, the dense daily spine from
    first to last activity, zero-filled event counts and FORWARD-FILLED
    daily value (`last(..., ignorenulls)` over the ordered spine) — the
    gap-fill + LOCF step every downstream daily model assumes has already
    happened.

    Exactness: days are epoch-day int64s (b36's floor idiom), daily
    values exact micros, and the forward fill reads a total order
    ((user, day) unique) — identical in both engines.

    Scale shape: one user-day partial agg; the spine explodes bounded by
    each user's day SPAN (never the cross product of users x calendar);
    the join rides the same (user, day) key; the fill window is per-user
    over days-sized rows."""
    D = 86_400_000_000
    e = _T(spark, sf_dir, "events").select(
        "user_id",
        F.expr(
            f"(unix_micros(ts) - pmod(unix_micros(ts), {D})) DIV {D}"
        ).alias("day"),
        F.floor(F.col("value") * 1_000_000).cast("long").alias("vm"),
    )
    daily = e.groupBy("user_id", "day").agg(
        F.count("*").alias("n_events"),
        F.sum("vm").alias("value_micros"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    filled = spine.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0).cast("long")).alias("n_events"),
        F.last("value_micros", ignorenulls=True)
        .over(w)
        .alias("ff_value_micros"),
    )


_B45_SQL = """WITH e AS (
  SELECT user_id,
    (epoch_us(ts)
     - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
    // 86400000000 AS day,
    CAST(FLOOR(value * 1000000) AS BIGINT) AS vm
  FROM events),
daily AS (SELECT user_id, day, CAST(COUNT(*) AS BIGINT) AS n_events,
            CAST(SUM(vm) AS BIGINT) AS value_micros
          FROM e GROUP BY user_id, day),
span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily
         GROUP BY user_id),
spine AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS day FROM span)
SELECT s.user_id, s.day,
  COALESCE(n_events, 0) AS n_events,
  CAST(LAST_VALUE(value_micros IGNORE NULLS) OVER (
    PARTITION BY s.user_id ORDER BY s.day
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS ff_value_micros
FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day"""


def b46_agg_cube(spark, sf_dir):
    """Full CUBE over (returnflag, linestatus): all four grouping sets —
    detail, each single-dimension margin, and the grand total — in one
    declared plan, disambiguated by grouping_id (a NULL group value vs a
    rolled-up dimension are different things; gid is the only sound
    discriminator). b19 proves ROLLUP's prefix lattice; b46 proves the
    full power set.

    Exactness: counts + exact floored-micros sums (any agg order).

    Scale: Spark expands CUBE to a single Expand + one partial-agg
    shuffle — 4x map-side rows but ONE exchange, with map-side combine
    collapsing each grouping set before it moves; margins are never
    recomputed from detail in a second pass."""
    li = _T(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.floor(F.col("l_quantity") * 1_000_000).cast("long")).alias(
            "qty_micros"
        ),
        F.grouping_id().cast("int").alias("gid"),
    )


_B46_SQL = """SELECT l_returnflag, l_linestatus,
  COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(l_quantity * 1000000) AS BIGINT)) AS BIGINT)
    AS qty_micros,
  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""


def b47_subquery_family(spark, sf_dir):
    """Correlated-subquery surface in one declared row: EXISTS / NOT
    EXISTS / IN / NOT IN (null-free) / NOT IN (with a NULL in the
    subquery). Catalyst decorrelates the first four to left-semi /
    left-anti equi-joins (pinned in test_plan_shapes — the rewrite that
    makes them shuffle-joinable at scale instead of per-row re-executed);
    the fifth pins three-valued NOT IN logic: ONE null in the subquery
    makes the predicate UNKNOWN for every row, so its count is exactly 0
    — the classic silent-wrong-answer trap, here a declared contract both
    engines agree on. The null is planted with
    ``nullif(o_custkey, MIN(o_custkey))`` so it exists at every SF."""
    _T(spark, sf_dir, "customer").createOrReplaceTempView("sg_b47_c")
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_b47_o")
    return spark.sql(
        """SELECT
  (SELECT COUNT(*) FROM sg_b47_c c
   WHERE EXISTS (SELECT 1 FROM sg_b47_o o WHERE o.o_custkey = c.c_custkey))
    AS n_exists,
  (SELECT COUNT(*) FROM sg_b47_c c
   WHERE NOT EXISTS (SELECT 1 FROM sg_b47_o o
                     WHERE o.o_custkey = c.c_custkey)) AS n_not_exists,
  (SELECT COUNT(*) FROM sg_b47_c c
   WHERE c.c_custkey IN (SELECT o_custkey FROM sg_b47_o)) AS n_in,
  (SELECT COUNT(*) FROM sg_b47_c c
   WHERE c.c_custkey NOT IN (SELECT o_custkey FROM sg_b47_o))
    AS n_not_in_nullfree,
  (SELECT COUNT(*) FROM sg_b47_c c
   WHERE c.c_custkey NOT IN
     (SELECT nullif(o_custkey, (SELECT MIN(o_custkey) FROM sg_b47_o))
      FROM sg_b47_o)) AS n_not_in_withnull"""
    )


_B47_SQL = """SELECT
  (SELECT COUNT(*) FROM customer c
   WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey))
    AS n_exists,
  (SELECT COUNT(*) FROM customer c
   WHERE NOT EXISTS (SELECT 1 FROM orders o
                     WHERE o.o_custkey = c.c_custkey)) AS n_not_exists,
  (SELECT COUNT(*) FROM customer c
   WHERE c.c_custkey IN (SELECT o_custkey FROM orders)) AS n_in,
  (SELECT COUNT(*) FROM customer c
   WHERE c.c_custkey NOT IN (SELECT o_custkey FROM orders))
    AS n_not_in_nullfree,
  (SELECT COUNT(*) FROM customer c
   WHERE c.c_custkey NOT IN
     (SELECT nullif(o_custkey, (SELECT MIN(o_custkey) FROM orders))
      FROM orders)) AS n_not_in_withnull"""


def b48_hll_sketch_union(spark, sf_dir):
    """Mergeable distinct-count sketches — the actual 100 TB distinct-count
    architecture: per-partition/per-group HLL sketches built once
    (``hll_sketch_agg``), then UNIONED (``hll_union_agg``) to the global
    estimate without ever re-touching the data — the two-level rollup b17's
    single-shot approx_count_distinct can't do (sketches are reusable
    state: per-day sketches union into month/year for free). Graded by
    b17's policy: sketch estimates differ across implementations, so the
    output carries the exact count plus booleans asserting both the
    merged estimate and the per-group round trip landed within the
    sketch's error envelope (lgConfigK=12 ⇒ rsd ≈ 1.6%; 5x headroom).
    The oracle computes the exact counts and expects TRUE."""
    li = _T(spark, sf_dir, "lineitem")
    per_group = li.groupBy("l_returnflag").agg(
        F.hll_sketch_agg("l_partkey", 12).alias("sk"),
        F.countDistinct("l_partkey").alias("exact_n"),
    )
    merged = per_group.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("union_est"),
        F.sum(
            (
                F.abs(
                    F.hll_sketch_estimate("sk").cast("double")
                    - F.col("exact_n").cast("double")
                )
                <= F.lit(0.08) * F.col("exact_n").cast("double")
            ).cast("int")
        ).alias("groups_within_tol"),
        F.count("*").alias("n_groups"),
    )
    exact = li.agg(F.countDistinct("l_partkey").alias("exact_n_part"))
    return merged.crossJoin(exact).select(
        "exact_n_part",
        "n_groups",
        (F.col("groups_within_tol") == F.col("n_groups")).alias(
            "all_groups_within_tol"
        ),
        (
            F.abs(
                F.col("union_est").cast("double")
                - F.col("exact_n_part").cast("double")
            )
            <= F.lit(0.08) * F.col("exact_n_part").cast("double")
        ).alias("union_within_tol"),
    )


_B48_SQL = """SELECT
  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS exact_n_part,
  (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem) AS n_groups,
  TRUE AS all_groups_within_tol,
  TRUE AS union_within_tol"""


def b49_bag_set_ops(spark, sf_dir):
    """Bag-semantics set operations: ``exceptAll`` / ``intersectAll`` over
    two multiset projections WITH genuine duplicates — B27/B28 prove the
    set (DISTINCT) forms; the ALL forms are different operators with
    different algebra (multiplicity arithmetic: min(m,n) for intersect,
    max(0, m-n) for except) and the ones dedup accounting actually needs.
    Output is the aggregated verdict of each result so the one-row oracle
    pins full multiset cardinality and mass.

    Scale: Spark plans both as a single aggregate-join on the value
    (count-per-key on each side, then multiplicity arithmetic) — no sort,
    no pairwise expansion; the join rides the value key."""
    li = _T(spark, sf_dir, "lineitem")
    a = li.where(F.col("l_quantity") >= 25).select("l_partkey")
    b = li.where(F.col("l_returnflag") == "R").select("l_partkey")
    ex = a.exceptAll(b).agg(
        F.count("*").alias("n_except_all"),
        F.sum("l_partkey").alias("sum_except_all"),
    )
    it = a.intersectAll(b).agg(
        F.count("*").alias("n_intersect_all"),
        F.sum("l_partkey").alias("sum_intersect_all"),
    )
    return ex.crossJoin(it)


_B49_SQL = """SELECT
  (SELECT COUNT(*) FROM (SELECT l_partkey FROM lineitem WHERE l_quantity >= 25
                         EXCEPT ALL
                         SELECT l_partkey FROM lineitem
                         WHERE l_returnflag = 'R')) AS n_except_all,
  (SELECT CAST(SUM(l_partkey) AS BIGINT) FROM
     (SELECT l_partkey FROM lineitem WHERE l_quantity >= 25
      EXCEPT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'))
    AS sum_except_all,
  (SELECT COUNT(*) FROM (SELECT l_partkey FROM lineitem WHERE l_quantity >= 25
                         INTERSECT ALL
                         SELECT l_partkey FROM lineitem
                         WHERE l_returnflag = 'R')) AS n_intersect_all,
  (SELECT CAST(SUM(l_partkey) AS BIGINT) FROM
     (SELECT l_partkey FROM lineitem WHERE l_quantity >= 25
      INTERSECT ALL
      SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'))
    AS sum_intersect_all"""


def b50_window_distinct_rewrite(spark, sf_dir):
    """Running DISTINCT count over a window — an operator Spark does NOT
    support natively (`COUNT(DISTINCT) OVER` raises); the declared
    rewrite is ``size(collect_set() OVER w)``, proven value-identical to
    DuckDB's native windowed distinct aggregate. Engines differ in what
    they expose; an engine's job is to close the gap with a rewrite and
    PROVE it — that proof is this spec.

    Scale: one shuffle on the partition key + one sort; collect_set state
    per frame is bounded by the distinct-value cardinality of the column
    (here order priorities: ≤5), not frame length — the rewrite is only
    safe under that bound, which is the documented applicability rule
    (unbounded-cardinality columns take b17's sketch path instead)."""
    o = _T(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.size(F.collect_set("o_orderpriority").over(w)).alias(
            "distinct_priorities_so_far"
        ),
    )


_B50_SQL = """SELECT o_custkey, o_orderkey,
  CAST(COUNT(DISTINCT o_orderpriority) OVER (
    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS INTEGER)
    AS distinct_priorities_so_far
FROM orders"""


def b51_dq_report(spark, sf_dir):
    """Data-quality assertion report (the dbt-test / Great-Expectations
    surface as ONE declarative pass): per check, violation count over
    orders — PK uniqueness, not-null, referential integrity into
    customer, value-range, and set-membership. A warehouse gates loads on
    exactly this report; emitting counts (not booleans) makes it a
    monitoring time series.

    Scale: the five checks share one scan via conditional partial aggs;
    uniqueness is a key-group count and referential integrity an anti
    join against the (broadcastable) dimension — nothing re-reads the
    fact table five times."""
    o = _T(spark, sf_dir, "orders")
    c = _T(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey")
    )
    base = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.countDistinct("o_orderkey")).alias(
            "dup_pk_violations"
        ),
        F.sum(
            F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)
        ).alias("null_price_violations"),
        F.sum(
            F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)
        ).alias("nonpositive_price_violations"),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        ).alias("bad_status_violations"),
    )
    orphans = o.join(F.broadcast(c), "o_custkey", "left_anti").agg(
        F.count("*").alias("orphan_fk_violations")
    )
    return base.crossJoin(orphans)


_B51_SQL = """SELECT
  (SELECT COUNT(*) FROM orders) AS n_rows,
  (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
    AS dup_pk_violations,
  (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NULL)
    AS null_price_violations,
  (SELECT COUNT(*) FROM orders WHERE o_totalprice <= 0)
    AS nonpositive_price_violations,
  (SELECT COUNT(*) FROM orders
   WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS bad_status_violations,
  (SELECT COUNT(*) FROM orders o
   WHERE NOT EXISTS (SELECT 1 FROM customer c
                     WHERE c.c_custkey = o.o_custkey))
    AS orphan_fk_violations"""


def b52_tablesample_envelope(spark, sf_dir):
    """Bernoulli TABLESAMPLE, graded by b17's policy: the sampled subset
    itself is engine-specific (seeded per-row coin flips), so the output
    pins what IS contractual — the exact source count, a binomial-bounds
    boolean on the sample size (10% ± 5pp absolute, ~10σ headroom at
    fixture scale), and a zero count of sampled rows that do not exist in
    the source (subset soundness via anti join). The oracle expects the
    exact count, TRUE, and 0.

    Scale: sampling is a map-side filter (no shuffle, no materialized
    sample); the soundness anti-join is sample-sized."""
    li = _T(spark, sf_dir, "lineitem")
    s = li.sample(fraction=0.1, seed=42)
    n = li.agg(F.count("*").alias("n_source"))
    ns = s.agg(F.count("*").alias("n_sample"))
    foreign = s.join(
        li, ["l_orderkey", "l_linenumber"], "left_anti"
    ).agg(F.count("*").alias("n_foreign"))
    return (
        n.crossJoin(ns)
        .crossJoin(foreign)
        .select(
            "n_source",
            (
                (F.col("n_sample") >= F.col("n_source") * 0.05)
                & (F.col("n_sample") <= F.col("n_source") * 0.15)
            ).alias("sample_in_bounds"),
            "n_foreign",
        )
    )


_B52_SQL = """SELECT COUNT(*) AS n_source, TRUE AS sample_in_bounds,
  CAST(0 AS BIGINT) AS n_foreign
FROM lineitem"""


def b53_q5_composite(spark, sf_dir):
    """TPC-H Q5-shaped composite: local-supplier revenue per nation — the
    six-table snowflake (region→nation→{customer, supplier}→orders→
    lineitem) with the same-nation customer/supplier correlation
    predicate and a one-year date slice. b44 proves a 3-way compose; b53
    proves the DEEP join tree lands the right shape: region/nation/
    supplier broadcast (tiny dims), customer⋈orders keyed on custkey,
    the big orders⋈lineitem pair keyed on orderkey, the same-nation
    predicate applied as a join condition (not a post-filter on a wider
    join), and the date filter pushed into the orders scan.

    Exactness: revenue in exact floored micros per item, summed as
    BIGINT."""
    r = _T(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    n = _T(spark, sf_dir, "nation")
    c = _T(spark, sf_dir, "customer")
    s = _T(spark, sf_dir, "supplier")
    o = _T(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = _T(spark, sf_dir, "lineitem")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    sn = s.join(F.broadcast(nr), s.s_nationkey == nr.n_nationkey).select(
        "s_suppkey", F.col("s_nationkey").alias("sup_nationkey"), "n_name"
    )
    co = c.join(o, c.c_custkey == o.o_custkey).select(
        "o_orderkey", F.col("c_nationkey").alias("cust_nationkey")
    )
    rev = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 1_000_000
    ).cast("long")
    j = (
        li.join(co, li.l_orderkey == co.o_orderkey)
        .join(
            F.broadcast(sn),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("cust_nationkey") == F.col("sup_nationkey")),
        )
        .select("n_name", rev.alias("rev_micros"))
    )
    return j.groupBy("n_name").agg(
        F.sum("rev_micros").alias("revenue_micros"),
        F.count("*").alias("n_items"),
    )


_B53_SQL = """SELECT n_name,
  CAST(SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 1000000)
                AS BIGINT)) AS BIGINT) AS revenue_micros,
  COUNT(*) AS n_items
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN supplier ON s_nationkey = n_nationkey
JOIN lineitem ON l_suppkey = s_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey AND c_nationkey = s_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name"""


def b43_multiformat_scan(spark, sf_dir):
    """Source-format breadth: the documents table round-tripped through
    CSV (header + quoting) and JSON-lines, read back with EXPLICIT
    schemas (never inferSchema — a schema inference pass reads the data
    twice and types drift run-to-run), and aggregated per (format,
    source). Matching the parquet oracle proves both readers byte-
    faithful end to end — the lake-ingest reality where upstream drops
    CSV/JSONL and only the engine's parsers stand between them and the
    warehouse.

    Scale notes: both readers are splittable scans here (CSV/JSONL split
    by line); explicit schema keeps a single pass; the verdict agg is
    formats x sources-sized with map-side combine. Staged once per
    (session, dataset)."""
    from scylladb_redpanda_cdc_spark.streaming.core import staged

    def write(base: str) -> None:
        d = _T(spark, sf_dir, "documents")
        d.write.mode("overwrite").option("header", True).csv(base + "/csv")
        d.write.mode("overwrite").json(base + "/jsonl")

    base = staged(spark, "multiformat", (sf_dir,), write)
    ddl = (
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint"
    )
    c = (
        spark.read.schema(ddl)
        .option("header", True)
        .csv(base + "/csv")
        .withColumn("fmt", F.lit("csv"))
    )
    j = (
        spark.read.schema(ddl)
        .json(base + "/jsonl")
        .withColumn("fmt", F.lit("jsonl"))
    )
    return (
        c.unionByName(j)
        .groupBy("fmt", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum(F.length("text").cast("long")).alias("text_chars"),
        )
    )


_B43_SQL = """SELECT fmt, source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS n_chars,
  CAST(SUM(length(text)) AS BIGINT) AS text_chars
FROM documents CROSS JOIN (VALUES ('csv'), ('jsonl')) f(fmt)
GROUP BY fmt, source"""


def b42_last_touch_attribution(spark, sf_dir):
    """Last-touch attribution: every purchase is credited to the user's
    most recent PRECEDING view or click (ties on timestamp broken by
    event_id — a total order, so both engines credit the same touch);
    output is the per-type attribution tally plus unattributed purchases.

    The windowed AS-OF shape: b14 joins two tables as-of; attribution is
    the single-table form — a running conditional MAX over the user's
    ordered history — one shuffle on user_id, one incremental frame pass,
    no self-join at all.

    Exactness: the credited touch is an integer-packed (us, event_id,
    type-code) triple so MAX carries the tie-break; counts are BIGINTs."""
    e = _T(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    # pack (us, event_id) lexicographically into a struct for running MAX;
    # keep the type alongside so the argmax carries its payload
    touch = F.when(
        F.col("event_type").isin("view", "click"),
        F.struct(
            F.col("us").alias("t_us"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("t_type"),
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attributed = (
        e.withColumn("last_touch", F.max(touch).over(w))
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("last_touch.t_type"), F.lit("none")).alias(
                "attributed_to"
            )
        )
    )
    return attributed.groupBy("attributed_to").agg(
        F.count("*").cast("long").alias("n_purchases")
    )


_B42_SQL = """WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
a AS (
  SELECT event_type,
    MAX(CASE WHEN event_type IN ('view', 'click')
             THEN struct_pack(t_us := us, t_id := event_id,
                              t_type := event_type) END)
      OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
  FROM e)
SELECT COALESCE(lt.t_type, 'none') AS attributed_to,
  CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM a WHERE event_type = 'purchase'
GROUP BY 1"""


_B41_SQL = """SELECT l_returnflag,
  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS exact_p50,
  TRUE AS approx_within_rank_error
FROM lineitem GROUP BY l_returnflag"""


_B40_SQL = """WITH per AS (
  SELECT user_id, MAX(epoch_us(ts)) AS last_us,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
           AS monetary_micros
  FROM events GROUP BY user_id)
SELECT user_id, last_us, freq, monetary_micros,
  CAST(NTILE(4) OVER (ORDER BY last_us ASC, user_id ASC) AS INT) AS r_q,
  CAST(NTILE(4) OVER (ORDER BY freq ASC, user_id ASC) AS INT) AS f_q,
  CAST(NTILE(4) OVER (ORDER BY monetary_micros ASC, user_id ASC) AS INT)
    AS m_q,
  CAST(NTILE(4) OVER (ORDER BY last_us ASC, user_id ASC) * 100
     + NTILE(4) OVER (ORDER BY freq ASC, user_id ASC) * 10
     + NTILE(4) OVER (ORDER BY monetary_micros ASC, user_id ASC) AS INT)
    AS rfm_code
FROM per"""


_B39_SQL = """WITH e AS (
  SELECT user_id,
    (epoch_us(ts)
     - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000)
    // 86400000000 AS day
  FROM events),
f AS (SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
cs AS (SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS n_cohort FROM f
       GROUP BY cohort_day),
act AS (SELECT DISTINCT user_id, day FROM e),
m AS (SELECT cohort_day, day - cohort_day AS day_offset,
             CAST(COUNT(*) AS BIGINT) AS n_active
      FROM act JOIN f USING (user_id) GROUP BY 1, 2)
SELECT cohort_day, day_offset, n_active, n_cohort,
       n_active * 1000000 // n_cohort AS retention_ppm
FROM m JOIN cs USING (cohort_day)"""


_B38_SQL = """WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
v AS (SELECT user_id, MIN(us) AS t_view FROM e
      WHERE event_type = 'view' GROUP BY user_id),
c AS (SELECT e.user_id, MIN(us) AS t_click FROM e JOIN v USING (user_id)
      WHERE event_type = 'click' AND us >= t_view GROUP BY e.user_id),
p AS (SELECT e.user_id, MIN(us) AS t_purchase FROM e JOIN c USING (user_id)
      WHERE event_type = 'purchase' AND us >= t_click GROUP BY e.user_id)
SELECT v.user_id, t_view, t_click, t_purchase,
  CAST(1 + CAST(t_click IS NOT NULL AS INT)
         + CAST(t_purchase IS NOT NULL AS INT) AS INT) AS funnel_stage
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""


_B37_SQL = """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
  CAST(COUNT(*) OVER w AS BIGINT) AS n_trailing_5min,
  CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) OVER w AS BIGINT)
    AS value_micros_trailing
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)"""


_B36_SQL = """SELECT e.event_id, e.user_id,
  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_next_5min
FROM events e LEFT JOIN (
  SELECT a.event_id, COUNT(*) AS n
  FROM events a JOIN events b
    ON a.user_id = b.user_id
   AND epoch_us(b.ts) > epoch_us(a.ts)
   AND epoch_us(b.ts) - epoch_us(a.ts) <= 300000000
  GROUP BY a.event_id) c USING (event_id)"""


_B35_SQL = """WITH h AS (
  SELECT event_type, epoch_ms(date_trunc('hour', ts)) AS bucket_ms,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CAST(FLOOR(value * 1000000) AS BIGINT)) AS BIGINT)
           AS value_micros_sum
  FROM events GROUP BY 1, 2)
SELECT 'hour' AS granularity, event_type, bucket_ms, n_events,
       value_micros_sum
FROM h
UNION ALL
SELECT 'day', event_type, bucket_ms - (bucket_ms % 86400000),
       CAST(SUM(n_events) AS BIGINT),
       CAST(SUM(value_micros_sum) AS BIGINT)
FROM h GROUP BY 1, 2, 3"""


def b75_execute_immediate(spark, sf_dir):
    """``EXECUTE IMMEDIATE`` dynamic SQL (Spark 4.0, SPARK-44911): the
    statement TEXT itself is data — held in a SQL session variable (b61's
    surface) and executed with positional ``?`` markers bound via
    ``USING`` (b59's surface). This is the dispatch form a SQL gateway
    uses when the query template is chosen at runtime (per-tenant
    statements, stored-template dashboards); b59 binds values into a
    static text, b74 binds identifiers — b75 binds the WHOLE statement.
    The oracle inlines the same text + literals, proving the dynamic
    round-trip changes nothing semantically.

    Scale: the variable resolves at parse time; the executed plan is
    identical to the literal statement, pushdown included."""
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_b75_orders")
    spark.sql("DECLARE OR REPLACE VARIABLE sg_b75_stmt STRING")
    spark.sql(
        "SET VARIABLE sg_b75_stmt ="
        " 'SELECT o_orderpriority, COUNT(*) AS n,"
        " CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
        " AS total_cents"
        " FROM sg_b75_orders WHERE o_orderstatus = ? AND o_totalprice >= ?"
        " GROUP BY o_orderpriority'"
    )
    return spark.sql("EXECUTE IMMEDIATE sg_b75_stmt USING 'F', 50000.0D")


_B75_SQL = """SELECT o_orderpriority, COUNT(*) AS n,
  CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    AS total_cents
FROM orders WHERE o_orderstatus = 'F' AND o_totalprice >= 50000.0
GROUP BY o_orderpriority"""


def b76_keyset_pagination(spark, sf_dir):
    """LIMIT/OFFSET vs KEYSET pagination, proven equivalent: page 3
    (rows 41-60 of orders under the total order (o_orderdate,
    o_orderkey)) fetched BOTH ways in one statement — ``LIMIT 20 OFFSET
    40`` and the keyset form ``WHERE (date, key) > anchor ORDER BY ...
    LIMIT 20`` with the anchor (row 40) pulled by scalar subqueries.
    Identical 20 rows per method is the correctness claim.

    Scale: this pair IS the scale story — OFFSET must sort and discard
    40+page rows and gets linearly worse per page (a global
    TakeOrdered), while the keyset predicate pushes into the scan and
    reads only rows past the anchor regardless of page depth; the query
    demonstrates on one page that switching methods cannot change
    results. Anchor subqueries are scalar (no join node, no nested
    loop); ties are impossible because o_orderkey is unique."""
    _T(spark, sf_dir, "orders").createOrReplaceTempView("sg_b76_orders")
    return spark.sql(_B76_TEMPLATE.format(tbl="sg_b76_orders"))


#: One template, two engines: the oracle renders the identical statement
#: against DuckDB's ``orders`` view, so the methods AND the engines agree.
_B76_TEMPLATE = """WITH ordered AS (
  SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS odate, o_totalprice
  FROM {tbl}),
anchor AS (SELECT odate AS ad, o_orderkey AS ak FROM ordered
           ORDER BY odate, o_orderkey LIMIT 1 OFFSET 39),
offset_page AS (SELECT o_orderkey, odate, o_totalprice FROM ordered
                ORDER BY odate, o_orderkey LIMIT 20 OFFSET 40),
keyset_page AS (SELECT o_orderkey, odate, o_totalprice FROM ordered
                WHERE odate > (SELECT ad FROM anchor)
                   OR (odate = (SELECT ad FROM anchor)
                       AND o_orderkey > (SELECT ak FROM anchor))
                ORDER BY odate, o_orderkey LIMIT 20)
SELECT 'offset' AS method, o_orderkey, odate, o_totalprice FROM offset_page
UNION ALL
SELECT 'keyset' AS method, o_orderkey, odate, o_totalprice FROM keyset_page"""

_B76_SQL = _B76_TEMPLATE.format(tbl="orders")


def b77_two_phase_skew_agg(spark, sf_dir):
    """B77: two-phase (salted) aggregation for pathologically skewed group
    keys, proven loss-free: ``l_returnflag`` has THREE values over the
    whole of lineitem — at 100 TB a single-phase final agg funnels a third
    of the table into one reducer. Phase 1 partial-aggregates on
    (key, salt = pmod(l_orderkey, 16)) — 48 uniform cells, every reducer
    bounded at 1/16 of a key's rows; phase 2 merges the algebraic states
    (count-sum / sum-sum / min-min / max-max) back to 3 rows. The oracle
    is the DIRECT single-phase GROUP BY — identical output is exactly the
    claim that salting an algebraic aggregate cannot change the answer
    (b31 salts a JOIN; b77 salts the aggregate itself).

    Exactness: money sums in integer cents (BIGINT, order-independent);
    min/max/count trivially mergeable. Spark's own partial-agg does this
    per-task already — the explicit salt adds the REDUCER-side split that
    partial agg alone cannot give when one grouping key dominates."""
    li = _T(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100).cast("long")
    p1 = (
        li.withColumn("_salt", F.pmod(F.col("l_orderkey"), F.lit(16)))
        .groupBy("l_returnflag", "_salt")
        .agg(
            F.count("*").alias("_n"),
            F.sum(cents).alias("_c"),
            F.min("l_quantity").alias("_mn"),
            F.max("l_quantity").alias("_mx"),
        )
    )
    return p1.groupBy("l_returnflag").agg(
        F.sum("_n").cast("long").alias("n_rows"),
        F.sum("_c").cast("long").alias("total_cents"),
        F.min("_mn").alias("min_qty"),
        F.max("_mx").alias("max_qty"),
    )


_B77_SQL = """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
  CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
    AS total_cents,
  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY l_returnflag"""


SPECS = [
    QuerySpec(
        "b2_filter_conjunctive",
        "B",
        "conjunctive range+equality filter (pushdown)",
        b2_filter_conjunctive,
        "SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem\n"
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'\n"
        "  AND l_discount >= 0.05 AND l_quantity < 24",
    ),
    QuerySpec(
        "b3_filter_in_like_null",
        "B",
        "IN / LIKE / IS NOT NULL predicates",
        b3_filter_in_like_null,
        "SELECT p_partkey, p_brand, p_type, p_size FROM part\n"
        "WHERE p_brand IN ('Brand#1','Brand#7','Brand#13') AND p_type LIKE '%A%'\n"
        "  AND p_size IS NOT NULL",
    ),
    QuerySpec(
        "b4_join_inner_equi",
        "B",
        "inner equi-join fact⋈dim + aggregate",
        b4_join_inner_equi,
        "SELECT c_nationkey, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice),2) AS revenue\n"
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey",
    ),
    QuerySpec(
        "b5_join_broadcast",
        "B",
        "broadcast-hash join, small dim build side",
        b5_join_broadcast,
        "SELECT p_brand, SUM(l_quantity) AS sum_qty, COUNT(*) AS n_items\n"
        "FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand",
    ),
    QuerySpec(
        "b6_join_sortmerge",
        "B",
        "sort-merge join fact⋈fact",
        b6_join_sortmerge,
        "SELECT o_orderpriority, COUNT(*) AS n_items,"
        " ROUND(SUM(l_extendedprice),2) AS revenue\n"
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority",
    ),
    QuerySpec(
        "b7_join_left_outer",
        "B",
        "left outer join preserving customers without orders",
        b7_join_left_outer,
        "SELECT c_custkey, COUNT(o_orderkey) AS n_orders\n"
        "FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY c_custkey",
    ),
    QuerySpec(
        "b8_join_right_outer",
        "B",
        "right outer join",
        b8_join_right_outer,
        "SELECT c_nationkey, COUNT(o_orderkey) AS n_orders\n"
        "FROM orders RIGHT JOIN customer ON o_custkey = c_custkey GROUP BY c_nationkey",
    ),
    QuerySpec(
        "b9_join_full_outer",
        "B",
        "full outer join of two aggregates",
        b9_join_full_outer,
        "WITH c AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer GROUP BY 1),\n"
        "     s AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier GROUP BY 1)\n"
        "SELECT COALESCE(c_nationkey, s_nationkey) AS nationkey,\n"
        "       COALESCE(n_cust, 0) AS n_cust, COALESCE(n_supp, 0) AS n_supp\n"
        "FROM c FULL OUTER JOIN s ON c_nationkey = s_nationkey",
    ),
    QuerySpec(
        "b10_join_left_semi",
        "B",
        "left semi join (EXISTS)",
        b10_join_left_semi,
        "SELECT c_custkey, c_mktsegment FROM customer c\n"
        "WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey"
        " AND o.o_orderstatus = 'O')",
    ),
    QuerySpec(
        "b11_join_left_anti",
        "B",
        "left anti join (NOT EXISTS)",
        b11_join_left_anti,
        "SELECT c_custkey, c_name FROM customer c\n"
        "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
    ),
    QuerySpec(
        "b12_join_cross_nested_loop",
        "B",
        "bounded cross join",
        b12_join_cross_nested_loop,
        "SELECT r_name, o_orderstatus FROM region\n"
        "CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)",
    ),
    QuerySpec(
        "b13_join_theta_range",
        "B",
        "non-equi theta join via bucket + merge-rank (no nested loop)",
        b13_join_theta_range,
        "SELECT s_suppkey, COUNT(*) AS n_richer_customers\n"
        "FROM supplier JOIN customer ON s_acctbal < c_acctbal GROUP BY s_suppkey",
    ),
    QuerySpec(
        "b14_join_asof",
        "B",
        "as-of join: latest click at-or-before each purchase per user",
        b14_join_asof,
        "WITH pur AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts\n"
        "             FROM events WHERE event_type = 'purchase'),\n"
        "     clk AS (SELECT event_id AS click_id, user_id, ts AS click_ts\n"
        "             FROM events WHERE event_type = 'click'),\n"
        "     j AS (SELECT purchase_id, pur.user_id, click_id, click_ts,\n"
        "                  ROW_NUMBER() OVER (PARTITION BY purchase_id\n"
        "                    ORDER BY click_ts DESC, click_id DESC) AS rn\n"
        "           FROM pur JOIN clk ON pur.user_id = clk.user_id\n"
        "                AND clk.click_ts <= pur.purchase_ts)\n"
        "SELECT purchase_id, user_id, click_id, epoch_us(click_ts) AS click_ts_us\n"
        "FROM j WHERE rn = 1",
    ),
    QuerySpec(
        "b54_join_asof_forward_tolerance",
        "B",
        "forward as-of join with 24h tolerance, left-preserving",
        b54_join_asof_forward_tolerance,
        "WITH clk AS (SELECT event_id AS click_id, user_id, ts AS click_ts\n"
        "             FROM events WHERE event_type = 'click'),\n"
        "     pur AS (SELECT event_id AS purchase_id, user_id, ts AS purchase_ts\n"
        "             FROM events WHERE event_type = 'purchase'),\n"
        "     j AS (SELECT click_id, clk.user_id, purchase_id, purchase_ts,\n"
        "                  ROW_NUMBER() OVER (PARTITION BY click_id\n"
        "                    ORDER BY purchase_ts ASC NULLS LAST,\n"
        "                             purchase_id ASC NULLS LAST) AS rn\n"
        "           FROM clk LEFT JOIN pur ON clk.user_id = pur.user_id\n"
        "                AND pur.purchase_ts > clk.click_ts\n"
        "                AND epoch_us(pur.purchase_ts) - epoch_us(clk.click_ts)\n"
        "                    <= 86400000000)\n"
        "SELECT click_id, user_id, purchase_id,\n"
        "  epoch_us(purchase_ts) AS purchase_ts_us\n"
        "FROM j WHERE rn = 1",
    ),
    QuerySpec(
        "b55_recursive_cte",
        "B",
        "native WITH RECURSIVE: arithmetic supplier tree depth/root walk",
        b55_recursive_cte,
        _B55_BODY.format(div="//", tbl="supplier"),
    ),
    QuerySpec(
        "b56_lateral_topk",
        "B",
        "LATERAL correlated subquery: per-nation top-2 customers",
        b56_lateral_topk,
        _B56_BODY.format(nation="nation", customer="customer"),
    ),
    QuerySpec(
        "b57_join_null_safe",
        "B",
        "null-safe equality join: NULL keys pair instead of vanishing",
        b57_join_null_safe,
        _B57_SQL,
    ),
    QuerySpec(
        "b58_group_by_all",
        "B",
        "GROUP BY ALL / ORDER BY ALL: keys resolved from the projection",
        b58_group_by_all,
        _B58_BODY.format(tbl="lineitem"),
    ),
    QuerySpec(
        "b59_parameterized_sql",
        "B",
        "named parameter markers: typed args bound out-of-band at parse",
        b59_parameterized_sql,
        _B59_SQL,
    ),
    QuerySpec(
        "b60_transpose",
        "B",
        "DataFrame.transpose: metrics to rows, index values to columns",
        b60_transpose,
        _B60_SQL,
    ),
    QuerySpec(
        "b61_session_variables",
        "B",
        "DECLARE/SET VAR session variables: computed bound, inlined plan",
        b61_session_variables,
        _B61_SQL,
    ),
    QuerySpec(
        "b62_bitmap_distinct",
        "B",
        "bitmap_construct/or/count: exact mergeable distinct rollup",
        b62_bitmap_distinct,
        _B62_SQL,
    ),
    QuerySpec(
        "b63_crosstab",
        "B",
        "df.stat.crosstab: categorical contingency table, exact counts",
        b63_crosstab,
        _B63_SQL,
    ),
    QuerySpec(
        "b64_corr_covar",
        "B",
        "Pearson corr/covar from exact integer moments (+builtin envelope)",
        b64_corr_covar,
        _B64_SQL,
    ),
    QuerySpec(
        "b65_min_max_by",
        "B",
        "max_by/min_by argmax aggregates: no-window per-group extremes",
        b65_min_max_by,
        _B65_SQL,
    ),
    QuerySpec(
        "b66_union_schema_drift",
        "B",
        "unionByName(allowMissingColumns): vintage union, null-filled",
        b66_union_schema_drift,
        _B66_SQL,
    ),
    QuerySpec(
        "b67_sql_pipe_syntax",
        "B",
        "SQL pipe syntax (|> WHERE/EXTEND/AGGREGATE): lowering twin",
        b67_sql_pipe_syntax,
        _B67_SQL,
    ),
    QuerySpec(
        "b68_observed_metrics",
        "B",
        "df.observe CollectMetrics: DQ counters riding the same scan",
        b68_observed_metrics,
        _B68_SQL,
    ),
    QuerySpec(
        "b69_join_strategy_invariance",
        "B",
        "broadcast/merge/shuffle_hash hints: 3 physicals, equal values",
        b69_join_strategy_invariance,
        _B69_SQL,
    ),
    QuerySpec(
        "b70_distribute_sort_by",
        "B",
        "DISTRIBUTE BY + SORT BY: hash exchange + non-global sort only",
        b70_distribute_sort_by,
        _B70_SQL,
    ),
    QuerySpec(
        "b71_listagg",
        "B",
        "listagg WITHIN GROUP: ANSI ordered string agg (b20 declarative)",
        b71_listagg,
        _B71_SQL,
    ),
    QuerySpec(
        "b72_lateral_alias",
        "B",
        "lateral column aliases: same-SELECT alias chain, one projection",
        b72_lateral_alias,
        _B72_SQL,
    ),
    QuerySpec(
        "b73_sql_pivot_unpivot",
        "B",
        "SQL PIVOT then UNPIVOT: the round trip reproduces the GROUP BY",
        b73_sql_pivot_unpivot,
        _B73_SQL,
    ),
    QuerySpec(
        "b74_identifier_clause",
        "B",
        "IDENTIFIER(:param): names bound out-of-band, plan unchanged",
        b74_identifier_clause,
        _B74_SQL,
    ),
    QuerySpec(
        "b15_agg_basic",
        "B",
        "grouped sum/avg/min/max/count (TPC-H Q1 shape)",
        b15_agg_basic,
        "SELECT l_returnflag, l_linestatus, SUM(l_quantity) AS sum_qty,\n"
        "  ROUND(SUM(l_extendedprice),2) AS sum_base_price,\n"
        "  ROUND(AVG(l_quantity),4) AS avg_qty, ROUND(AVG(l_discount),4) AS avg_disc,\n"
        "  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,\n"
        "  COUNT(*) AS count_order\n"
        "FROM lineitem GROUP BY l_returnflag, l_linestatus",
    ),
    QuerySpec(
        "b16_agg_count_distinct",
        "B",
        "exact distinct counts per group",
        b16_agg_count_distinct,
        "SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp,\n"
        "  COUNT(DISTINCT l_partkey) AS n_part FROM lineitem GROUP BY l_returnflag",
    ),
    QuerySpec(
        "b17_agg_approx_distinct",
        "B",
        "HLL approximate distinct, graded via 3*rsd envelope vs exact",
        b17_agg_approx_distinct,
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_n_part,\n"
        "  TRUE AS approx_within_3rsd\n"
        "FROM lineitem GROUP BY l_returnflag",
    ),
    QuerySpec(
        "b18_agg_filtered",
        "B",
        "filtered aggregation (FILTER clause)",
        b18_agg_filtered,
        "SELECT l_linestatus,\n"
        "  ROUND(SUM(CASE WHEN l_discount > 0.05 THEN l_extendedprice ELSE 0.0 END),2)"
        " AS discounted_revenue,\n"
        "  COUNT(CASE WHEN l_quantity >= 40 THEN 1 END) AS n_bulk\n"
        "FROM lineitem GROUP BY l_linestatus",
    ),
    QuerySpec(
        "b19_agg_grouping_sets",
        "B",
        "rollup with grouping_id",
        b19_agg_grouping_sets,
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS sum_qty,\n"
        "  CAST(GROUPING(l_returnflag, l_linestatus) AS INTEGER) AS gid\n"
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)",
    ),
    QuerySpec(
        "b20_agg_collect",
        "B",
        "collect_set, determinized via sort + join",
        b20_agg_collect,
        "SELECT o_orderpriority,\n"
        "  array_to_string(list_sort(list_distinct(list(o_orderstatus))), ',')"
        " AS statuses,\n"
        "  COUNT(*) AS n FROM orders GROUP BY o_orderpriority",
    ),
    QuerySpec(
        "b21_agg_percentile",
        "B",
        "exact median / percentiles per group",
        b21_agg_percentile,
        "SELECT l_returnflag, ROUND(MEDIAN(l_extendedprice),4) AS median_price,\n"
        "  ROUND(quantile_cont(l_extendedprice, 0.25),4) AS p25_price,\n"
        "  ROUND(quantile_cont(l_extendedprice, 0.75),4) AS p75_price\n"
        "FROM lineitem GROUP BY l_returnflag",
    ),
    QuerySpec(
        "b22_sort_multikey",
        "B",
        "multi-key sort with null placement + limit",
        b22_sort_multikey,
        "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders\n"
        "ORDER BY o_orderpriority ASC NULLS FIRST, o_totalprice DESC, o_orderkey ASC\n"
        "LIMIT 100",
    ),
    QuerySpec(
        "b23_limit_topk",
        "B",
        "global top-k (TakeOrdered)",
        b23_limit_topk,
        "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem\n"
        "ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 50",
    ),
    QuerySpec(
        "b24_topk_per_group",
        "B",
        "top-k per group via window rank",
        b24_topk_per_group,
        "SELECT o_custkey, o_orderkey, o_totalprice, rk FROM (\n"
        "  SELECT o_custkey, o_orderkey, o_totalprice,\n"
        "    ROW_NUMBER() OVER (PARTITION BY o_custkey"
        " ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk\n"
        "  FROM orders) WHERE rk <= 3",
    ),
    QuerySpec(
        "b25_union_all",
        "B",
        "UNION ALL of tagged slices",
        b25_union_all,
        "SELECT o_orderkey, 'high' AS bucket FROM orders WHERE o_totalprice > 400000\n"
        "UNION ALL\n"
        "SELECT o_orderkey, 'low' AS bucket FROM orders WHERE o_totalprice < 5000",
    ),
    QuerySpec(
        "b26_union_distinct",
        "B",
        "UNION (distinct)",
        b26_union_distinct,
        "SELECT c_nationkey AS nationkey FROM customer\n"
        "UNION SELECT s_nationkey FROM supplier",
    ),
    QuerySpec(
        "b27_intersect",
        "B",
        "INTERSECT",
        b27_intersect,
        "SELECT c_nationkey AS nationkey FROM customer\n"
        "INTERSECT SELECT s_nationkey FROM supplier",
    ),
    QuerySpec(
        "b28_except",
        "B",
        "EXCEPT",
        b28_except,
        "SELECT c_nationkey AS nationkey FROM customer\n"
        "EXCEPT SELECT s_nationkey FROM supplier",
    ),
    QuerySpec(
        "b29_distinct_dedup",
        "B",
        "deterministic dedup (lowest key per group survives)",
        b29_distinct_dedup,
        "SELECT o_custkey, o_orderstatus, o_orderkey FROM (\n"
        "  SELECT o_custkey, o_orderstatus, o_orderkey,\n"
        "    ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus"
        " ORDER BY o_orderkey) AS rn\n"
        "  FROM orders) WHERE rn = 1",
    ),
    QuerySpec(
        "b30_scalar_subquery_agg",
        "B",
        "scalar aggregate subquery, decorrelated",
        b30_scalar_subquery_agg,
        "SELECT c_custkey, c_acctbal FROM customer\n"
        "WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)",
    ),
    QuerySpec(
        "b31_join_skew_salted",
        "B",
        "salted equi-join (manual skew defeat, exact plain-join semantics)",
        b31_join_skew_salted,
        "SELECT o_orderpriority, COUNT(*) AS n_items,\n"
        "  ROUND(SUM(l_quantity), 2) AS sum_qty\n"
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey\n"
        "GROUP BY o_orderpriority",
    ),
    QuerySpec(
        "b32_join_bucketed_colocated",
        "B",
        "bucketed co-located join (shuffle paid at write, join exchange-free)",
        b32_join_bucketed_colocated,
        "SELECT o_orderpriority, COUNT(*) AS n_items,\n"
        "  ROUND(SUM(l_quantity), 2) AS sum_qty\n"
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey\n"
        "GROUP BY o_orderpriority",
    ),
    QuerySpec(
        "b33_pivot",
        "B",
        "pivot long->wide with explicit values (single-pass conditional aggs)",
        b33_pivot,
        "SELECT l_linestatus,\n"
        "  ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS A,\n"
        "  ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS N,\n"
        "  ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS R\n"
        "FROM lineitem GROUP BY l_linestatus",
    ),
    # b1/b34 graded last within B: their 60k/180k-row results are the
    # group's largest driver-side transfers — under a bounded grading
    # budget the cheap-to-compare queries come first.
    QuerySpec(
        "b1_scan_project",
        "B",
        "projection-only scan (column pruning)",
        b1_scan_project,
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem",
    ),
    QuerySpec(
        "b34_unpivot",
        "B",
        "unpivot/melt wide->long (narrow projection, no shuffle)",
        b34_unpivot,
        "WITH bulk AS (SELECT * FROM lineitem WHERE l_quantity >= 45)\n"
        "SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,"
        " l_quantity AS val FROM bulk\n"
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount',"
        " l_discount FROM bulk\n"
        "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax',"
        " l_tax FROM bulk",
    ),
    QuerySpec(
        "b35_time_bucket_rollup",
        "B",
        "continuous-aggregate rollup: hour buckets + day-from-hour partials",
        b35_time_bucket_rollup,
        _B35_SQL,
    ),
    QuerySpec(
        "b36_range_interval_join",
        "B",
        "bucketed time-range self-join: same-user events in next 5 minutes",
        b36_range_interval_join,
        _B36_SQL,
    ),
    QuerySpec(
        "b37_time_range_window",
        "B",
        "RANGE-frame trailing 5-minute per-user rolling count/sum",
        b37_time_range_window,
        _B37_SQL,
    ),
    QuerySpec(
        "b38_funnel_conversion",
        "B",
        "ordered view→click→purchase funnel per user (first-touch, exact)",
        b38_funnel_conversion,
        _B38_SQL,
    ),
    QuerySpec(
        "b39_cohort_retention",
        "B",
        "first-touch day cohorts x active-day offsets, exact ppm retention",
        b39_cohort_retention,
        _B39_SQL,
    ),
    QuerySpec(
        "b40_rfm_segmentation",
        "B",
        "recency/frequency/monetary quartile segments per user (NTILE)",
        b40_rfm_segmentation,
        _B40_SQL,
    ),
    QuerySpec(
        "b41_approx_quantile",
        "B",
        "GK percentile_approx within declared rank error (b17's policy)",
        b41_approx_quantile,
        _B41_SQL,
    ),
    QuerySpec(
        "b42_last_touch_attribution",
        "B",
        "purchases credited to the latest preceding view/click (windowed)",
        b42_last_touch_attribution,
        _B42_SQL,
    ),
    QuerySpec(
        "b43_multiformat_scan",
        "B",
        "CSV + JSONL readers round-trip the table (explicit schemas)",
        b43_multiformat_scan,
        _B43_SQL,
    ),
    QuerySpec(
        "b44_q3_composite",
        "B",
        "TPC-H Q3-shaped composite: 3-way join + agg + top-10 (one plan)",
        b44_q3_composite,
        _B44_SQL,
    ),
    QuerySpec(
        "b45_gap_fill",
        "B",
        "dense daily spine + zero-fill counts + forward-filled values",
        b45_gap_fill,
        _B45_SQL,
    ),
    QuerySpec(
        "b46_agg_cube",
        "B",
        "full CUBE lattice (detail, both margins, grand total) in one pass",
        b46_agg_cube,
        _B46_SQL,
    ),
    QuerySpec(
        "b47_subquery_family",
        "B",
        "EXISTS/NOT EXISTS/IN/NOT IN (+null) decorrelated to semi/anti",
        b47_subquery_family,
        _B47_SQL,
    ),
    QuerySpec(
        "b48_hll_sketch_union",
        "B",
        "mergeable HLL sketches: per-group build + union rollup in bounds",
        b48_hll_sketch_union,
        _B48_SQL,
    ),
    QuerySpec(
        "b49_bag_set_ops",
        "B",
        "EXCEPT ALL / INTERSECT ALL multiset algebra (min/m-n counts)",
        b49_bag_set_ops,
        _B49_SQL,
    ),
    QuerySpec(
        "b50_window_distinct_rewrite",
        "B",
        "running windowed COUNT DISTINCT via the collect_set-size rewrite",
        b50_window_distinct_rewrite,
        _B50_SQL,
    ),
    QuerySpec(
        "b51_dq_report",
        "B",
        "data-quality assertion report: 5 checks, one scan + one anti join",
        b51_dq_report,
        _B51_SQL,
    ),
    QuerySpec(
        "b52_tablesample_envelope",
        "B",
        "Bernoulli TABLESAMPLE graded by bounds + subset-soundness (b17)",
        b52_tablesample_envelope,
        _B52_SQL,
    ),
    QuerySpec(
        "b53_q5_composite",
        "B",
        "TPC-H Q5-shaped 6-table snowflake: local-supplier revenue/nation",
        b53_q5_composite,
        _B53_SQL,
    ),
    QuerySpec(
        "b75_execute_immediate",
        "B",
        "EXECUTE IMMEDIATE: statement text in a variable, USING params",
        b75_execute_immediate,
        _B75_SQL,
    ),
    QuerySpec(
        "b76_keyset_pagination",
        "B",
        "page 3 by LIMIT/OFFSET and by keyset anchor: identical rows",
        b76_keyset_pagination,
        _B76_SQL,
    ),
    QuerySpec(
        "b77_two_phase_skew_agg",
        "B",
        "salted two-phase aggregate == direct GROUP BY (loss-free merge)",
        b77_two_phase_skew_agg,
        _B77_SQL,
    ),
]
