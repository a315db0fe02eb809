"""Declared relational queries Q1–Q13 + Q20 (SURVEY.md §2.3).

Design rules (scale-first):
- Declarative DataFrame chains only — Catalyst handles pushdown, pruning,
  join selection. No UDFs in this module.
- Small dims (region/nation: ≤25 rows) broadcast explicitly, mirroring the
  reference's dict-lookup join (gst-detection-tf.py:114-121,396).
- Money/quantity aggregation in DECIMAL (exact, order-independent) then
  rounded via the parity helper — see functions/parity.py for why.
- Every LIMIT is preceded by a total ORDER BY (deterministic top-k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark.catalog import table
from video_streamer_spark.functions.parity import (
    round2,
    sql_round2,
)
from video_streamer_spark.queries import query


# --------------------------------------------------------------------------
# Q1: scan + projection + filter. Filter and 3-column projection both reach
# the parquet scan (PushedFilters + ReadSchema), so at 100 TB this reads
# only 3 columns of row groups where max(l_quantity) > 45.
@query(
    "q01_scan_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_quantity > 45
    """,
)
def q01_scan_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # No trailing ORDER BY: the result contract is a SET (driver and tests
    # compare order-insensitively), and a global sort of a full result adds
    # a range-partitioner sampling pass that re-executes the upstream plan
    # — measured 0.56 s -> 0.18 s at sf0.1 (PLANS.md, round-5 sort study).
    # At 100 TB an ordered full output is never the engine's job.
    li = table(spark, sf_dir, "lineitem")
    return li.where(F.col("l_quantity") > 45).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# --------------------------------------------------------------------------
# Q2: TPC-H Q1-style hash aggregate. Partial+final agg is automatic; the
# decimal casts make the sums exact so the oracle hash can't drift.
_Q2_ORACLE = """
    SELECT
      l_returnflag,
      l_linestatus,
      CAST(ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_qty,
      CAST(ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_revenue,
      COUNT(*) AS count_order
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@query("q02_agg_pricing_summary", oracle=_Q2_ORACLE)
def q02_agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    # string aggregate expressions (r14): the round2/dec Column trees
    # cost ~270 gateway round-trips per construction; one F.expr per
    # output parses JVM-side to the identical aggregate
    return (
        li.where(
            "CAST(l_shipdate AS DATE) <= CAST('1998-09-02' AS DATE)"
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(
                sql_round2("SUM(CAST(l_quantity AS DECIMAL(18,6)))")
                + " AS sum_qty"
            ),
            F.expr(
                sql_round2(
                    "SUM(CAST(l_extendedprice AS DECIMAL(18,6)) * "
                    "(CAST(1 AS DECIMAL(18,6)) - "
                    "CAST(l_discount AS DECIMAL(18,6))))"
                )
                + " AS sum_revenue"
            ),
            F.expr("count(*) AS count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q3: multi-way inner join customer⋈nation⋈region. nation and region are
# tiny dims → broadcast both; the plan is two BroadcastHashJoins over a
# single customer scan: zero shuffles for the joins, one for the agg.
@query(
    "q03_multijoin_region_counts",
    oracle="""
    SELECT r.r_name, COUNT(*) AS n_customers
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def q03_multijoin_region_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), F.expr("c_nationkey = n_nationkey"))
        .join(F.broadcast(r), F.expr("n_regionkey = r_regionkey"))
        .groupBy("r_name")
        .agg(F.expr("count(*) AS n_customers"))
    )


# --------------------------------------------------------------------------
# Q4: join + top-k. Aggregate orders per custkey FIRST (map-side partials
# shrink 15k rows → 1.5k groups), then join customer — at scale this is
# agg-before-join, the cheap order. Top-k = total ORDER BY + LIMIT, which
# Spark executes as TakeOrderedAndProject (no full sort materialization).
@query(
    "q04_topk_customers",
    oracle="""
    SELECT c.c_custkey, c.c_name,
      CAST(ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS DECIMAL(38,9)), 2) AS DOUBLE) AS total_spent
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey, c.c_name
    ORDER BY SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) DESC, c.c_custkey
    LIMIT 5
    """,
)
def q04_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS _total_dec")
    )
    return (
        c.join(per_cust, F.expr("c_custkey = o_custkey"))
        .orderBy(F.col("_total_dec").desc(), F.col("c_custkey"))
        .limit(5)
        .selectExpr(
            "c_custkey",
            "c_name",
            sql_round2("_total_dec") + " AS total_spent",
        )
    )


# --------------------------------------------------------------------------
# Q5a/Q5b: left-semi / left-anti joins (EXISTS / NOT EXISTS).
@query(
    "q05a_semi_customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q05a_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


@query(
    "q05b_anti_customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    ORDER BY c_custkey
    """,
)
def q05b_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


# --------------------------------------------------------------------------
# Q6: window ranking — top-3 acctbal per market segment. ROW_NUMBER with a
# custkey tiebreak makes the cut deterministic.
@query(
    "q06_window_rank_top3",
    oracle="""
    SELECT c_mktsegment, c_custkey, c_acctbal, rn FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY c_mktsegment
          ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn
      FROM customer) t
    WHERE rn <= 3
    """,
)
def q06_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    return c.selectExpr(
        "c_mktsegment",
        "c_custkey",
        "c_acctbal",
        "CAST(row_number() OVER (PARTITION BY c_mktsegment "
        "ORDER BY c_acctbal DESC, c_custkey) AS INT) AS rn",
    ).where("rn <= 3")


# --------------------------------------------------------------------------
# Q7: running sum window frame. The frame accumulates BIGINT MICROS
# (floor(x*1e6) — both engines floor the identical IEEE double product,
# and integer window sums are exact and order-independent), then scales
# back once at the end. Same parity recipe as x61; replaced the
# DECIMAL(18,6) frame in round 5 because Spark's decimal window
# aggregation was the one hot spot measurably above the scheduling
# floor (~7× DuckDB at sf0.1 — VERDICT r4 "What's wrong" #1), while
# bigint window sums stay inside codegen'd long arithmetic.
@query(
    "q07_window_running_total",
    oracle="""
    SELECT o_custkey, o_orderkey,
      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
      CAST(ROUND(CAST((CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1000000.0) AS BIGINT)) OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1000000.0) AS DECIMAL(38,9)), 2) AS DOUBLE)
        AS running_total
    FROM orders
    """,
)
def q07_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    # one string projection (r14): the Window/F.Column chain cost ~200
    # gateway round-trips per construction; the OVER-clause string
    # parses JVM-side to the identical plan (D suffixes keep the
    # literals DOUBLE, matching the F.lit(1000000.0) they replace)
    running = sql_round2(
        "CAST(SUM(CAST(FLOOR(CAST(o_totalprice AS DOUBLE) * 1000000.0D)"
        " AS BIGINT)) OVER (PARTITION BY o_custkey"
        " ORDER BY o_orderdate, o_orderkey"
        " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        " AS DOUBLE) / 1000000.0D"
    )
    return o.selectExpr(
        "o_custkey",
        "o_orderkey",
        "date_format(CAST(o_orderdate AS DATE), 'yyyy-MM-dd')"
        " AS order_date",
        f"{running} AS running_total",
    )


# --------------------------------------------------------------------------
# Q8: ROLLUP with GROUPING flags over region⋈nation⋈customer.
@query(
    "q08_rollup_region_nation",
    oracle="""
    SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
      CAST(GROUPING(r.r_name) AS INT) AS g_region,
      CAST(GROUPING(n.n_name) AS INT) AS g_nation
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP(r.r_name, n.n_name)
    """,
)
def q08_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), F.expr("c_nationkey = n_nationkey")).join(
        F.broadcast(r), F.expr("n_regionkey = r_regionkey")
    )
    return joined.rollup("r_name", "n_name").agg(
        F.expr("count(*) AS n_customers"),
        F.expr("CAST(grouping(r_name) AS INT) AS g_region"),
        F.expr("CAST(grouping(n_name) AS INT) AS g_nation"),
    )


# --------------------------------------------------------------------------
# Q9: set ops — customer nationkeys vs supplier nationkeys, tagged per op.
@query(
    "q09_set_ops",
    oracle="""
    SELECT 'intersect' AS op, k AS nationkey FROM (
      SELECT c_nationkey AS k FROM customer
      INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'except' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer
      EXCEPT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT 'union' AS op, k FROM (
      SELECT c_nationkey AS k FROM customer
      UNION SELECT s_nationkey FROM supplier)
    ORDER BY op, nationkey
    """,
)
def q09_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ck = table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    sk = table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    parts = [
        ck.intersect(sk).select(F.lit("intersect").alias("op"), "nationkey"),
        ck.subtract(sk).select(F.lit("except").alias("op"), "nationkey"),
        ck.union(sk).distinct().select(F.lit("union").alias("op"), "nationkey"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("op", "nationkey")


# --------------------------------------------------------------------------
# Q10: scalar function sampler — string, math, conditional. All built-ins,
# all codegen'd; the % keeps integer semantics on both engines.
@query(
    "q10_scalar_functions",
    oracle="""
    SELECT p_partkey,
      UPPER(p_name) AS name_upper,
      SUBSTRING(p_type, 1, 5) AS type_prefix,
      CAST(LENGTH(p_name) AS INT) AS name_len,
      CAST(ROUND(CAST(p_retailprice * 1.1 AS DECIMAL(38,9)), 2) AS DOUBLE) AS price_bumped,
      CAST(p_size % 7 AS INT) AS size_mod,
      CASE WHEN p_size > 25 THEN 'L' ELSE 'S' END AS size_class
    FROM part
    ORDER BY p_partkey
    """,
)
def q10_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        round2(F.col("p_retailprice") * 1.1).alias("price_bumped"),
        (F.col("p_size") % 7).cast("int").alias("size_mod"),
        F.when(F.col("p_size") > 25, "L").otherwise("S").alias("size_class"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# Q11: date/time extraction — orders per year × priority.
@query(
    "q11_orders_per_year_priority",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
      o_orderpriority, COUNT(*) AS n_orders
    FROM orders
    GROUP BY 1, 2
    ORDER BY order_year, o_orderpriority
    """,
)
def q11_year_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("int").alias("order_year"),
            "o_orderpriority",
        )
        .agg(F.count("*").alias("n_orders"))
        .orderBy("order_year", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q12: JSON extraction — props.k summed per event type. DuckDB spells it
# json_extract_string; Spark get_json_object (⚠ mapped spelling, SURVEY
# §2.3). Sum over INT: Spark yields BIGINT, DuckDB HUGEINT → cast.
@query(
    "q12_json_extract_sum",
    oracle="""
    SELECT event_type,
      CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type
    """,
)
def q12_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr(
            "SUM(CAST(get_json_object(props, '$.k') AS INT)) AS sum_k"
        )
    )


# --------------------------------------------------------------------------
# Q13: distinct aggregate — Catalyst expands this into a two-phase
# partial-distinct plan; at scale prefer approx_count_distinct (provided
# as a separate operator) when exactness isn't contractual.
@query(
    "q13_distinct_users_per_type",
    oracle="""
    SELECT event_type, COUNT(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def q13_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.expr("count(DISTINCT user_id) AS n_users")
    )


# --------------------------------------------------------------------------
# Q20: theta/range self-join — pairs of events by the same user within 5
# minutes. Spark plans equi-on-user_id + range residual as a sort-merge
# join with the BETWEEN as a join-time filter; at 100 TB bucket both sides
# on user_id to kill the shuffle (see operators/range_join.py notes).
@query(
    "q20_theta_self_join",
    oracle="""
    SELECT e1.event_type, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts BETWEEN e1.ts AND e1.ts + INTERVAL 5 MINUTE
     AND e1.event_id <> e2.event_id
    GROUP BY e1.event_type
    """,
)
def q20_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-join recast as ONE range-frame WINDOW (round-12:
    retires the r6–r11 interval-bucket join plan). The pair count per
    anchor event e1 is |{e2 : same user, ts2 ∈ [ts1, ts1+5min],
    e2 ≠ e1}| = (rows in the range frame) − 1: the frame
    ``RANGE BETWEEN CURRENT ROW AND 300s FOLLOWING`` over
    unix_micros(ts) is value-based, so tied timestamps count each
    other symmetrically and COUNT(*)−1 excludes exactly the self-pair
    — bit-identical to the join formulation (verified at sf0.01/0.1
    and a ×10 sf1-equivalent replica, PLANS.md round-12).

    Plan: one scan, ONE Exchange (hash on user) + WindowExec, versus
    the join's two scans, THREE exchanged copies (probe side exploded
    ×2) and a sort-merge join — measured 2.7× faster at the
    sf1-equivalent point (0.46 s vs 1.23 s) where the join's ratio to
    DuckDB had stopped amortizing. Skew: one hot user is one task's
    window sort — WindowExec's sort is spillable, and the frame walk
    is linear (two pointers), so a hot user costs its own event count,
    not its pair count. Both plans now live in
    ``operators/intervals.py`` with an AUTO skew router (round-12
    VERDICT item 5: a sampled max-per-user probe picks the
    skew-bounded (user, 5-min bucket) join variant above the one-task
    sort-budget threshold; routing + bit-equality pinned by
    tests/test_intervals.py, the join variant's values by the x243
    oracle). This benched query PINS mode="window" so its measured
    plan never depends on a sampling job."""
    from video_streamer_spark.operators.intervals import (
        interval_pair_counts,
    )

    e = table(spark, sf_dir, "events")
    return interval_pair_counts(e, interval_sec=300, mode="window")
