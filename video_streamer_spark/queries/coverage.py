"""Operator-coverage queries: the §2.2 capability-matrix rows not already
exercised by Q1–Q20 — cube/grouping sets, the window-function family,
string/date/array scalar functions, JSON struct parsing, union variants,
approximate distinct. Each oracle-checked except where the semantics are
approximate by design.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from video_streamer_spark.catalog import table
from video_streamer_spark.functions.parity import round2
from video_streamer_spark.queries import query


# --------------------------------------------------------------------------
# CUBE: all 4 grouping combinations of (year, priority)
@query(
    "x16_cube_year_priority",
    oracle="""
    SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
      o_orderpriority, COUNT(*) AS n_orders,
      CAST(GROUPING(CAST(EXTRACT(YEAR FROM o_orderdate) AS INT)) AS INT) AS g_year,
      CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY CUBE(1, 2)
    ORDER BY g_year, g_prio, order_year NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def x16_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("order_year"), "o_orderpriority"
    )
    return (
        o.cube("order_year", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.grouping("order_year").cast("int").alias("g_year"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
        .orderBy(
            "g_year",
            "g_prio",
            F.col("order_year").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# GROUPING SETS: explicit set list (status totals, priority totals, grand)
@query(
    "x17_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
      CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
      CAST(GROUPING(o_orderpriority) AS INT) AS g_prio
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    ORDER BY g_status, g_prio,
      o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
    """,
)
def x17_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupingSets(
            [["o_orderstatus"], ["o_orderpriority"], []],
            "o_orderstatus",
            "o_orderpriority",
        )
        .agg(
            F.count("*").alias("n_orders"),
            F.grouping("o_orderstatus").cast("int").alias("g_status"),
            F.grouping("o_orderpriority").cast("int").alias("g_prio"),
        )
        .orderBy(
            "g_status",
            "g_prio",
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# window-function family: lag/lead/rank/dense_rank/ntile/first/last + a
# range-frame average, one pass over customer
@query(
    "x18_window_family",
    oracle="""
    SELECT c_custkey, c_mktsegment, c_acctbal,
      LAG(c_custkey) OVER w AS prev_key,
      LEAD(c_custkey) OVER w AS next_key,
      CAST(RANK() OVER w AS INT) AS rnk,
      CAST(DENSE_RANK() OVER w AS INT) AS drnk,
      CAST(NTILE(4) OVER w AS INT) AS quartile,
      FIRST_VALUE(c_custkey) OVER w AS seg_top_key,
      CAST(ROUND(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) OVER (
          PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey
          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DECIMAL(38,9)), 2) AS DOUBLE)
        AS sum3
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    ORDER BY c_mktsegment, rnk
    """,
)
def x18_window_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec

    c = table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    w3 = w.rowsBetween(-2, Window.currentRow)
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.lag("c_custkey").over(w).alias("prev_key"),
        F.lead("c_custkey").over(w).alias("next_key"),
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.first("c_custkey").over(w).alias("seg_top_key"),
        round2(F.sum(dec("c_acctbal")).over(w3)).alias("sum3"),
    ).orderBy("c_mktsegment", "rnk")


# --------------------------------------------------------------------------
# string-function sampler (shared spellings only, parity-safe)
@query(
    "x19_string_functions",
    oracle="""
    SELECT p_partkey,
      reverse(p_brand) AS brand_rev,
      lpad(p_brand, 12, '_') AS brand_pad,
      replace(p_type, ' ', '-') AS type_dashed,
      split_part(p_type, ' ', 1) AS type_head,
      CAST(levenshtein(p_brand, p_type) AS INT) AS brand_type_dist,
      concat_ws('|', p_brand, p_type) AS brand_type,
      CAST(starts_with(p_name, 'a') AS BOOLEAN) AS starts_a,
      CAST(strpos(p_name, 'o') AS INT) AS first_o,
      upper(substring(p_name, 1, 3)) AS name3
    FROM part
    ORDER BY p_partkey
    """,
)
def x19_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad("p_brand", 12, "_").alias("brand_pad"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("-")).alias("type_dashed"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_head"),
        F.levenshtein("p_brand", "p_type").cast("int").alias("brand_type_dist"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.col("p_name").startswith("a").alias("starts_a"),
        F.instr("p_name", "o").cast("int").alias("first_o"),
        F.upper(F.substring("p_name", 1, 3)).alias("name3"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# date/time sampler: trunc/extract/arith/diff with engine-mapped spellings
@query(
    "x20_date_functions",
    oracle="""
    SELECT o_orderkey,
      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS d,
      CAST(EXTRACT(QUARTER FROM o_orderdate) AS INT) AS q,
      CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS m,
      CAST(isodow(o_orderdate) AS INT) AS dow_iso,
      strftime(CAST(o_orderdate + INTERVAL 3 MONTH AS DATE), '%Y-%m-%d') AS plus3m,
      strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end,
      CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
        AS days_since_95,
      CAST(FLOOR(epoch(o_orderdate)) AS BIGINT) AS epoch_s
    FROM orders
    ORDER BY o_orderkey
    """,
)
def x20_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import date_str

    o = table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        date_str("o_orderdate").alias("d"),
        F.quarter("o_orderdate").cast("int").alias("q"),
        F.month("o_orderdate").cast("int").alias("m"),
        (F.weekday("o_orderdate") + 1).cast("int").alias("dow_iso"),
        date_str(F.add_months("o_orderdate", 3)).alias("plus3m"),
        date_str(F.last_day("o_orderdate")).alias("month_end"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_95"),
        # NTZ → timestamp (session tz is UTC, matching DuckDB's naive
        # epoch()) → fractional seconds → floor
        F.floor(F.col("o_orderdate").cast("timestamp").cast("double"))
        .cast("bigint")
        .alias("epoch_s"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# JSON struct parsing (from_json with explicit schema vs path extraction)
@query(
    "x21_json_struct",
    oracle="""
    SELECT event_id,
      CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val,
      CAST(json_extract_string(props, '$.k') IS NOT NULL AS BOOLEAN) AS has_k,
      CAST(json_extract_string(props, '$.missing') IS NOT NULL AS BOOLEAN) AS has_missing
    FROM events
    ORDER BY event_id
    """,
)
def x21_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    parsed = e.select(
        "event_id",
        F.from_json("props", "k INT, missing STRING").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k_val"),
        F.col("p.k").isNotNull().alias("has_k"),
        F.col("p.missing").isNotNull().alias("has_missing"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# union variants: UNION ALL BY NAME with differing column orders
@query(
    "x22_union_by_name",
    oracle="""
    SELECT k, src FROM (
      SELECT c_custkey AS k, 'c' AS src FROM customer WHERE c_custkey <= 50
      UNION ALL BY NAME
      SELECT 's' AS src, s_suppkey AS k FROM supplier WHERE s_suppkey <= 50)
    ORDER BY k, src
    """,
)
def x22_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .where(F.col("c_custkey") <= 50)
        .select(F.col("c_custkey").alias("k"), F.lit("c").alias("src"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .where(F.col("s_suppkey") <= 50)
        .select(F.lit("s").alias("src"), F.col("s_suppkey").alias("k"))
    )
    return c.unionByName(s).orderBy("k", "src")


# --------------------------------------------------------------------------
# array-function sampler over tokenized documents (scalar outputs only)
@query(
    "x23_array_functions",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents)
    SELECT doc_id,
      CAST(len(t) AS INT) AS n_tokens,
      CAST(len(list_distinct(t)) AS INT) AS n_distinct,
      CAST(list_contains(t, 'spark') AS BOOLEAN) AS has_spark,
      array_to_string(list_sort(list_distinct(t))[1:3], ',') AS first3_sorted,
      CAST(list_sum(list_transform(t, x -> strlen(x))) AS BIGINT) AS total_chars
    FROM toks
    ORDER BY doc_id
    """,
)
def x23_array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col

    d = table(spark, sf_dir, "documents")
    t = tokens_col("text")
    dedup_sorted = F.array_sort(F.array_distinct(t))
    return d.select(
        "doc_id",
        F.size(t).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(t)).cast("int").alias("n_distinct"),
        F.array_contains(t, "spark").alias("has_spark"),
        F.concat_ws(",", F.slice(dedup_sorted, 1, 3)).alias("first3_sorted"),
        F.aggregate(
            t, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x).cast("bigint")
        ).alias("total_chars"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# approximate distinct: engines use different sketches, so no value oracle;
# the pytest property test bounds the error against the exact count
# HLL sketches are engine-specific, so the ESTIMATE itself can't be
# oracle-hashed — but the accuracy CONTRACT can: emit the exact count
# plus a boolean asserting the estimate lands within the rsd bound. The
# oracle states the same contract (exact count, bound-met = true), so a
# drifting sketch flips the hash. The raw estimate stays property-tested
# in tests/test_sources_and_ops.py.
@query(
    "x24_approx_distinct",
    oracle="""
    SELECT event_type,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x24_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").cast("bigint").alias("exact_users"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# grouped-map applyInPandas: per-type min-max scaling (exact ops only, so
# the pandas path and the SQL window formulation agree bit-for-bit)
@query(
    "x33_grouped_minmax_scale",
    oracle="""
    SELECT event_id, event_type, value,
      CASE WHEN MAX(value) OVER w = MIN(value) OVER w THEN 0.0
           ELSE (value - MIN(value) OVER w)
                / (MAX(value) OVER w - MIN(value) OVER w) END AS scaled
    FROM events
    WINDOW w AS (PARTITION BY event_type)
    """,
)
def x33_grouped_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.grouped import minmax_scale_per_group

    e = table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    return minmax_scale_per_group(e)


# --------------------------------------------------------------------------
# GROUPED_AGG pandas UDAF: per-type median (summation-free, oracle-exact)
@query(
    "x34_grouped_median_udaf",
    oracle="""
    SELECT event_type, CAST(median(value) AS DOUBLE) AS median_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x34_grouped_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.grouped import median_per_group

    e = table(spark, sf_dir, "events")
    return median_per_group(e).orderBy("event_type")


# --------------------------------------------------------------------------
# null semantics: NULLIF/COALESCE, null-safe equality, null-last ordering
# (the testdata has no physical NULLs, so NULLIF manufactures them)
@query(
    "x35_null_semantics",
    oracle="""
    SELECT p_partkey,
      NULLIF(p_size % 7, 0) AS s7,
      NULLIF(p_size % 5, 0) AS s5,
      COALESCE(NULLIF(p_size % 7, 0), -1) AS s7_filled,
      CAST(NULLIF(p_size % 7, 0) IS NOT DISTINCT FROM NULLIF(p_size % 5, 0)
           AS BOOLEAN) AS null_safe_eq,
      CAST(NULLIF(p_size % 7, 0) IS NULL AS BOOLEAN) AS is_div7
    FROM part
    ORDER BY s7 NULLS LAST, p_partkey
    """,
)
def x35_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    s7 = F.nullif(F.pmod("p_size", F.lit(7)), F.lit(0))
    s5 = F.nullif(F.pmod("p_size", F.lit(5)), F.lit(0))
    return (
        p.select(
            "p_partkey",
            s7.alias("s7"),
            s5.alias("s5"),
            F.coalesce(s7, F.lit(-1)).alias("s7_filled"),
            s7.eqNullSafe(s5).alias("null_safe_eq"),
            s7.isNull().alias("is_div7"),
        )
        .orderBy(F.col("s7").asc_nulls_last(), "p_partkey")
    )


# --------------------------------------------------------------------------
# correlated scalar subquery — Catalyst decorrelates it into an
# aggregate + join (no per-row re-execution); expressed through
# spark.sql since subqueries ARE the SQL surface
@query(
    "x36_correlated_subquery",
    oracle="""
    SELECT p_partkey, p_type,
      CAST(ROUND(CAST(p_retailprice AS DECIMAL(38,9)), 2) AS DOUBLE) AS price,
      CAST((SELECT COUNT(*) FROM part p2
            WHERE p2.p_type = p1.p_type
              AND p2.p_retailprice > p1.p_retailprice) AS BIGINT)
        AS n_pricier_same_type
    FROM part p1
    ORDER BY p_partkey
    """,
)
def x36_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_type,
          CAST(ROUND(CAST(p_retailprice AS DECIMAL(38,9)), 2) AS DOUBLE)
            AS price,
          CAST((SELECT COUNT(*) FROM part p2
                WHERE p2.p_type = p1.p_type
                  AND p2.p_retailprice > p1.p_retailprice) AS BIGINT)
            AS n_pricier_same_type
        FROM part p1
        ORDER BY p_partkey
        """
    )


# --------------------------------------------------------------------------
# regex functions: extract / replace / match / LIKE. Patterns stay in the
# RE2 ∩ Java-regex common subset so both engines agree.
@query(
    "x39_regex_functions",
    oracle="""
    SELECT p_partkey,
      regexp_extract(p_type, '([A-Z]+)', 1) AS first_word,
      regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled,
      CAST(regexp_matches(p_type, 'BRUSHED|POLISHED') AS BOOLEAN) AS is_finished,
      CAST(p_name LIKE '%ol%' AS BOOLEAN) AS has_ol,
      CAST(p_brand SIMILAR TO 'Brand#[0-9]+' AS BOOLEAN) AS brand_shape
    FROM part
    ORDER BY p_partkey
    """,
)
def x39_regex_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_word"),
        F.regexp_replace("p_type", "[aeiou]", "_").alias("devoweled"),
        F.col("p_type").rlike("BRUSHED|POLISHED").alias("is_finished"),
        F.col("p_name").like("%ol%").alias("has_ol"),
        F.col("p_brand").rlike("^Brand#[0-9]+$").alias("brand_shape"),
    ).orderBy("p_partkey")


# --------------------------------------------------------------------------
# RANGE window frame: 30-day trailing order totals per customer. The
# frame is value-based (all orders within 30 days), not row-based —
# Spark's rangeBetween needs a numeric ordering key, so both engines
# order on epoch days.
@query(
    "x40_range_frame_trailing_sum",
    oracle="""
    SELECT o_orderkey, o_custkey,
      strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
      CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
        PARTITION BY o_custkey
        ORDER BY CAST(epoch(o_orderdate) / 86400 AS BIGINT)
        RANGE BETWEEN 30 PRECEDING AND CURRENT ROW
      ) AS DECIMAL(38,9)), 2) AS DOUBLE) AS trailing_30d
    FROM orders
    WHERE o_custkey < 100
    ORDER BY o_custkey, o_orderkey
    """,
)
def x40_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import date_str, dec, round2

    o = table(spark, sf_dir, "orders").where(F.col("o_custkey") < 100)
    day = (F.col("o_orderdate").cast("timestamp").cast("double") / 86400).cast(
        "bigint"
    )
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day)
        .rangeBetween(-30, Window.currentRow)
    )
    return (
        o.select(
            "o_orderkey",
            "o_custkey",
            date_str("o_orderdate").alias("order_date"),
            round2(F.sum(dec("o_totalprice")).over(w)).alias("trailing_30d"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


# --------------------------------------------------------------------------
# x49: statistical aggregates (stddev / variance / correlation / median).
# Engine-native stddev/corr stream doubles in engine-specific orders, so
# a naive oracle would hash-mismatch on 1e-15 noise. Both sides instead
# aggregate EXACT decimal moments (sum, sum of squares, cross products —
# order-independent) and apply an IDENTICAL double-arithmetic tail, so
# the results are bit-equal. tests/test_sources_and_ops.py separately
# asserts this formulation agrees with F.stddev_samp / F.corr to 1e-9,
# proving it IS the standard statistic, not a lookalike.
@query(
    "x49_stat_aggregates",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
        COUNT(*) AS n,
        SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sx,
        SUM(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_quantity AS DECIMAL(28,6))) AS sxx,
        SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sy,
        SUM(CAST(l_extendedprice AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS syy,
        SUM(CAST(l_quantity AS DECIMAL(28,6)) * CAST(l_extendedprice AS DECIMAL(28,6))) AS sxy,
        quantile_cont(l_quantity, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
      CAST(ROUND(CAST((sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)))) AS DECIMAL(38,12)), 4) AS DOUBLE) AS stddev_qty,
      CAST(ROUND(CAST(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS DECIMAL(38,12)), 4) AS DOUBLE) AS corr_qty_price,
      CAST(ROUND(CAST(med AS DECIMAL(38,12)), 4) AS DOUBLE) AS median_qty
    FROM m ORDER BY l_returnflag
    """,
)
def x49_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec, round4

    li = table(spark, sf_dir, "lineitem")
    q, p = dec("l_quantity"), dec("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(q).alias("sx"),
        F.sum(q * q).alias("sxx"),
        F.sum(p).alias("sy"),
        F.sum(p * p).alias("syy"),
        F.sum(q * p).alias("sxy"),
        F.expr("percentile(l_quantity, 0.5)").alias("med"),
    )
    nd = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sxx = F.col("sxx").cast("double")
    sy = F.col("sy").cast("double")
    syy = F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("n"),
        round4(F.sqrt((nd * sxx - sx * sx) / (nd * (nd - F.lit(1.0))))).alias(
            "stddev_qty"
        ),
        round4(
            (nd * sxy - sx * sy)
            / (F.sqrt(nd * sxx - sx * sx) * F.sqrt(nd * syy - sy * sy))
        ).alias("corr_qty_price"),
        round4(F.col("med")).alias("median_qty"),
    ).orderBy("l_returnflag")


# --------------------------------------------------------------------------
# x50: arrays_zip — pair each doc's first tokens with their 1-based
# positions through a zipped struct array, then explode. The oracle
# reproduces the pairs by position indexing (semantics, not spelling).
@query(
    "x50_arrays_zip_positions",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    e AS (
      SELECT doc_id, t,
        unnest(generate_series(1, least(len(t), 3))) AS pos
      FROM toks WHERE len(t) > 0)
    SELECT doc_id, CAST(pos AS INT) AS pos, t[pos] AS token
    FROM e ORDER BY doc_id, pos
    """,
)
def x50_arrays_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    zipped = (
        d.select("doc_id", toks.alias("t"))
        .where(F.size("t") > 0)
        .withColumn("tk3", F.slice("t", 1, 3))
        .withColumn("pos3", F.sequence(F.lit(1), F.least(F.size("t"), F.lit(3))))
        .select("doc_id", F.explode(F.arrays_zip("tk3", "pos3")).alias("z"))
    )
    return zipped.select(
        "doc_id",
        F.col("z.pos3").cast("int").alias("pos"),
        F.col("z.tk3").alias("token"),
    ).orderBy("doc_id", "pos")


# --------------------------------------------------------------------------
# x52: approximate percentile with an accuracy CONTRACT (same pattern as
# x24): the sketch value is engine-specific, so the hashed result is the
# exact median (cross-engine-stable) plus a boolean asserting the
# approximation lands inside a generous quantile band. At 100 TB the
# approx path is the only affordable one — exact percentile needs a full
# per-group sort — so the contract is what a user actually relies on.
@query(
    "x52_approx_percentile_contract",
    oracle="""
    SELECT event_type,
      CAST(ROUND(CAST(quantile_cont(value, 0.5) AS DECIMAL(38,12)), 4) AS DOUBLE)
        AS exact_median,
      TRUE AS within_band
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x52_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 1000).alias("approx_median"),
            F.expr("percentile(value, 0.5)").alias("exact_raw"),
            F.expr("percentile(value, 0.45)").alias("lo"),
            F.expr("percentile(value, 0.55)").alias("hi"),
        )
        .select(
            "event_type",
            round4(F.col("exact_raw")).alias("exact_median"),
            (
                (F.col("approx_median") >= F.col("lo"))
                & (F.col("approx_median") <= F.col("hi"))
            ).alias("within_band"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x53: MERGEABLE sketch rollup — the incremental-aggregation pattern that
# makes distinct counting affordable at 100 TB: build one HLL sketch per
# (day, type) partition (each a parallel partial), then answer the
# all-time question by UNIONING sketches, never re-scanning raw events.
# Contract oracle as in x24/x52: exact distinct plus a 5%-accuracy flag.
@query(
    "x53_hll_sketch_rollup",
    oracle="""
    SELECT event_type,
      CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x53_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("day"), "event_type"
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("approx_users")
    )
    exact = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x54: date spine + gap fill + moving average — the time-series idiom a
# hypertable user expects: generate the COMPLETE calendar between the
# first and last order date (sequence + explode — a generated dimension,
# no source table), left-join daily order counts so empty days exist as
# zeros, then a 7-day ROWS window over the gap-free spine. Without the
# spine, a moving average silently skips missing days — the classic
# time-series bug this operator exists to prevent.
@query(
    "x54_date_spine_moving_avg",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
             MAX(CAST(o_orderdate AS DATE)) AS hi
      FROM orders),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds),
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n
      FROM orders GROUP BY 1),
    filled AS (
      SELECT spine.d, COALESCE(daily.n, 0) AS n_orders
      FROM spine LEFT JOIN daily ON spine.d = daily.d)
    SELECT strftime(d, '%Y-%m-%d') AS day,
      CAST(n_orders AS BIGINT) AS n_orders,
      CAST(ROUND(CAST(
        CAST(SUM(n_orders) OVER (ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        / CAST(COUNT(*) OVER (ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
        AS DECIMAL(38,9)), 2) AS DOUBLE) AS ma7
    FROM filled ORDER BY day
    """,
)
def x54_date_spine_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round2

    o = table(spark, sf_dir, "orders")
    bounds = o.select(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count("*").alias("n")
    )
    filled = spine.join(daily, "d", "left").select(
        "d", F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_orders")
    )
    w = Window.orderBy("d").rowsBetween(-6, Window.currentRow)
    return (
        filled.select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "n_orders",
            round2(
                F.sum("n_orders").over(w).cast("double")
                / F.count("*").over(w).cast("double")
            ).alias("ma7"),
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# x56: MERGE / upsert (the ACID-table-format capability, operators/merge.py
# — apply_changeset is the logical plan Delta's MERGE INTO compiles to:
# changeset anti-joined against base on the key, surviving changes
# unioned back). The changeset exercises all three arms — WHEN MATCHED
# UPDATE (keys %10==0, price × 1.1 in exact decimal), WHEN NOT MATCHED
# INSERT (fresh keys at +100M), WHEN MATCHED DELETE (keys %13==0) — and
# the result is rolled up per status so the driver row stays compact.
# The physical, atomically committed MERGE is table_format.merge_table
# (x210 onward).
@query(
    "x56_merge_upsert_result",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS key, o_orderstatus AS status,
        CAST(o_totalprice AS DECIMAL(18,6)) AS price
      FROM orders),
    changes AS (
      SELECT key, 'U' AS op, 'R' AS status,
        CAST(price * CAST(1.1 AS DECIMAL(3,2)) AS DECIMAL(18,6)) AS price
      FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      UNION ALL
      SELECT key + 100000000, 'I', 'N', CAST(555.55 AS DECIMAL(18,6))
      FROM base WHERE key % 97 = 0
      UNION ALL
      SELECT key, 'D', NULL, NULL FROM base WHERE key % 13 = 0),
    merged AS (
      SELECT key, status, price FROM changes WHERE op <> 'D'
      UNION ALL
      SELECT b.key, b.status, b.price FROM base b
      LEFT JOIN changes c ON b.key = c.key WHERE c.key IS NULL)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(ROUND(CAST(SUM(price) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_price
    FROM merged GROUP BY status ORDER BY status
    """,
)
def x56_merge_upsert_result(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec
    from video_streamer_spark.operators.merge import apply_changeset

    base = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key"),
        F.col("o_orderstatus").alias("status"),
        dec("o_totalprice").alias("price"),
    )
    k = F.col("key")
    updates = base.where((k % 10 == 0) & (k % 13 != 0)).select(
        "key",
        F.lit("U").alias("__op"),
        F.lit("R").alias("status"),
        (F.col("price") * F.expr("CAST(1.1 AS DECIMAL(3,2))"))
        .cast("decimal(18,6)")
        .alias("price"),
    )
    inserts = base.where(k % 97 == 0).select(
        (k + 100_000_000).alias("key"),
        F.lit("I").alias("__op"),
        F.lit("N").alias("status"),
        F.expr("CAST(555.55 AS DECIMAL(18,6))").alias("price"),
    )
    deletes = base.where(k % 13 == 0).select(
        "key",
        F.lit("D").alias("__op"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("decimal(18,6)").alias("price"),
    )
    changes = updates.unionByName(inserts).unionByName(deletes)
    merged = apply_changeset(base, changes, ["key"])
    return (
        merged.groupBy("status")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            round2(F.sum("price")).alias("sum_price"),
        )
        .orderBy("status")
    )


# --------------------------------------------------------------------------
# x57: join against a COMPUTED quantile dimension — exact quartile
# boundaries of the order price (integer cents, so the R-7 linear
# interpolation is dyadic-exact and bit-identical across engines), turned
# into a 4-row band dimension, broadcast-joined back with range
# predicates, then rolled up per band. The pattern behind histogram
# equi-depth bucketing and percentile-banded reporting: the boundary
# aggregate is one reduction, the dimension never leaves the plan (no
# driver collect), and the band join is a 4-row broadcast nested loop —
# constant-size build side at any corpus scale.
@query(
    "x57_quantile_bucket_join",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
        CAST(o_totalprice AS DECIMAL(18,6)) AS price
      FROM orders),
    q AS (SELECT quantile_cont(cents, [0.25, 0.5, 0.75]) AS qs FROM o),
    bands AS (
      SELECT 0 AS band_id, CAST(NULL AS DOUBLE) AS lo, CAST(qs[1] AS DOUBLE) AS hi FROM q
      UNION ALL SELECT 1, CAST(qs[1] AS DOUBLE), CAST(qs[2] AS DOUBLE) FROM q
      UNION ALL SELECT 2, CAST(qs[2] AS DOUBLE), CAST(qs[3] AS DOUBLE) FROM q
      UNION ALL SELECT 3, CAST(qs[3] AS DOUBLE), CAST(NULL AS DOUBLE) FROM q)
    SELECT CAST(band_id AS INT) AS band_id, lo, hi,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(ROUND(CAST(SUM(price) AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_price
    FROM o JOIN bands
      ON (lo IS NULL OR cents >= lo) AND (hi IS NULL OR cents < hi)
    GROUP BY band_id, lo, hi ORDER BY band_id
    """,
)
def x57_quantile_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec

    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        dec("o_totalprice").alias("price"),
    )
    qs = o.agg(
        F.expr("percentile(cents, array(0.25D, 0.5D, 0.75D))").alias("qs")
    )
    null_d = F.lit(None).cast("double")
    bands = qs.select(
        F.posexplode(
            F.array(
                F.struct(null_d.alias("lo"), F.col("qs")[0].alias("hi")),
                F.struct(F.col("qs")[0].alias("lo"), F.col("qs")[1].alias("hi")),
                F.struct(F.col("qs")[1].alias("lo"), F.col("qs")[2].alias("hi")),
                F.struct(F.col("qs")[2].alias("lo"), null_d.alias("hi")),
            )
        )
    ).select(
        F.col("pos").cast("int").alias("band_id"),
        F.col("col.lo").alias("lo"),
        F.col("col.hi").alias("hi"),
    )
    joined = o.join(
        F.broadcast(bands),
        (F.col("lo").isNull() | (F.col("cents") >= F.col("lo")))
        & (F.col("hi").isNull() | (F.col("cents") < F.col("hi"))),
    )
    return (
        joined.groupBy("band_id", "lo", "hi")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            round2(F.sum("price")).alias("sum_price"),
        )
        .orderBy("band_id")
    )


# --------------------------------------------------------------------------
# x59: top-k per group AFTER a join+aggregate — top-3 parts by revenue
# within each brand. Classic two-shuffle shape: partial+final agg on the
# composite key (p_brand, p_partkey), then one window shuffle on the
# group key for the rank; the filter on rank caps the output at
# k × n_groups. Revenue in exact decimal so the per-group ordering (and
# the hash) cannot drift between engines.
@query(
    "x59_topk_per_group",
    oracle="""
    WITH rev AS (
      SELECT p.p_brand, l.l_partkey,
        SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
            * (CAST(1 AS DECIMAL(18,6)) - CAST(l.l_discount AS DECIMAL(18,6))))
          AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY p.p_brand, l.l_partkey),
    ranked AS (
      SELECT p_brand, l_partkey, revenue,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY p_brand ORDER BY revenue DESC, l_partkey) AS INT) AS rnk
      FROM rev)
    SELECT p_brand, l_partkey AS p_partkey,
      CAST(ROUND(CAST(revenue AS DECIMAL(38,9)), 2) AS DOUBLE) AS revenue, rnk
    FROM ranked WHERE rnk <= 3
    ORDER BY p_brand, rnk
    """,
)
def x59_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec

    li = table(spark, sf_dir, "lineitem")
    p = table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    rev = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "l_partkey")
        .agg(
            F.sum(
                dec("l_extendedprice") * (dec(F.lit(1)) - dec("l_discount"))
            ).alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy(
        F.col("revenue").desc(), F.col("l_partkey")
    )
    return (
        rev.withColumn("rnk", F.row_number().over(w).cast("int"))
        .where(F.col("rnk") <= 3)
        .select(
            "p_brand",
            F.col("l_partkey").alias("p_partkey"),
            round2("revenue").alias("revenue"),
            "rnk",
        )
        .orderBy("p_brand", "rnk")
    )


# --------------------------------------------------------------------------
# x64: UNPIVOT / melt — the inverse of x30's pivot, completing the
# reshape pair. Wide numeric columns of part melt into (id, metric,
# value) long form via the native DataFrame.unpivot (Spark's Expand
# node: one scan, rows × n_metrics output, no shuffle until the final
# sort). The oracle spells it as the equivalent UNION ALL.
@query(
    "x64_unpivot_part_metrics",
    oracle="""
    SELECT p_partkey, metric, val FROM (
      SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS val
      FROM part
      UNION ALL
      SELECT p_partkey, 'p_retailprice', CAST(p_retailprice AS DOUBLE)
      FROM part)
    WHERE p_partkey <= 200
    ORDER BY p_partkey, metric
    """,
)
def x64_unpivot_part_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").where(F.col("p_partkey") <= 200)
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.col("p_retailprice").cast("double").alias("p_retailprice"),
        )
        .unpivot(
            ids=["p_partkey"],
            values=["p_size", "p_retailprice"],
            variableColumnName="metric",
            valueColumnName="val",
        )
        .orderBy("p_partkey", "metric")
    )


# --------------------------------------------------------------------------
# x66: single-pass TABLE PROFILING — null counts, exact distinct counts,
# and min/max per column in ONE aggregation over one scan (Spark plans
# the multi-distinct via Expand; no per-column re-scans — the property
# that matters when the table is 100 TB). Output melts to one row per
# column. min/max render through the repo's parity formats (decimal /
# date-string) so the hash is engine-stable.
@query(
    "x66_profile_orders",
    oracle="""
    WITH s AS (
      SELECT COUNT(*) AS n_rows,
        COUNT(*) - COUNT(o_custkey) AS nn_custkey,
        COUNT(DISTINCT o_custkey) AS nd_custkey,
        CAST(MIN(o_custkey) AS VARCHAR) AS mn_custkey,
        CAST(MAX(o_custkey) AS VARCHAR) AS mx_custkey,
        COUNT(*) - COUNT(o_orderstatus) AS nn_status,
        COUNT(DISTINCT o_orderstatus) AS nd_status,
        MIN(o_orderstatus) AS mn_status, MAX(o_orderstatus) AS mx_status,
        COUNT(*) - COUNT(o_totalprice) AS nn_price,
        COUNT(DISTINCT o_totalprice) AS nd_price,
        CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mn_price,
        CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR) AS mx_price,
        COUNT(*) - COUNT(o_orderdate) AS nn_date,
        COUNT(DISTINCT o_orderdate) AS nd_date,
        strftime(MIN(o_orderdate), '%Y-%m-%d') AS mn_date,
        strftime(MAX(o_orderdate), '%Y-%m-%d') AS mx_date
      FROM orders)
    SELECT col, n_rows, n_nulls, n_distinct, min_val, max_val FROM (
      SELECT 'o_custkey' AS col, n_rows, nn_custkey AS n_nulls,
        nd_custkey AS n_distinct, mn_custkey AS min_val, mx_custkey AS max_val
      FROM s
      UNION ALL
      SELECT 'o_orderstatus', n_rows, nn_status, nd_status, mn_status,
        mx_status FROM s
      UNION ALL
      SELECT 'o_totalprice', n_rows, nn_price, nd_price, mn_price, mx_price
      FROM s
      UNION ALL
      SELECT 'o_orderdate', n_rows, nn_date, nd_date, mn_date, mx_date FROM s)
    ORDER BY col
    """,
)
def x66_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import date_str

    o = table(spark, sf_dir, "orders")
    s = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_custkey")).alias("nn_custkey"),
        F.countDistinct("o_custkey").alias("nd_custkey"),
        F.min("o_custkey").cast("string").alias("mn_custkey"),
        F.max("o_custkey").cast("string").alias("mx_custkey"),
        (F.count("*") - F.count("o_orderstatus")).alias("nn_status"),
        F.countDistinct("o_orderstatus").alias("nd_status"),
        F.min("o_orderstatus").alias("mn_status"),
        F.max("o_orderstatus").alias("mx_status"),
        (F.count("*") - F.count("o_totalprice")).alias("nn_price"),
        F.countDistinct("o_totalprice").alias("nd_price"),
        F.min("o_totalprice").cast("decimal(18,2)").cast("string").alias("mn_price"),
        F.max("o_totalprice").cast("decimal(18,2)").cast("string").alias("mx_price"),
        (F.count("*") - F.count("o_orderdate")).alias("nn_date"),
        F.countDistinct("o_orderdate").alias("nd_date"),
        date_str(F.min("o_orderdate")).alias("mn_date"),
        date_str(F.max("o_orderdate")).alias("mx_date"),
    )
    rows = []
    for col, nn, nd, mn, mx in (
        ("o_custkey", "nn_custkey", "nd_custkey", "mn_custkey", "mx_custkey"),
        ("o_orderstatus", "nn_status", "nd_status", "mn_status", "mx_status"),
        ("o_totalprice", "nn_price", "nd_price", "mn_price", "mx_price"),
        ("o_orderdate", "nn_date", "nd_date", "mn_date", "mx_date"),
    ):
        rows.append(
            s.select(
                F.lit(col).alias("col"),
                F.col("n_rows"),
                F.col(nn).cast("bigint").alias("n_nulls"),
                F.col(nd).cast("bigint").alias("n_distinct"),
                F.col(mn).alias("min_val"),
                F.col(mx).alias("max_val"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("col")


# --------------------------------------------------------------------------
# x76: relative-position window functions — PERCENT_RANK and CUME_DIST
# per market segment (the remaining members of the ranking family next
# to x18's row_number/rank/dense_rank/ntile). Both are rational values
# of small-integer counts, so round4 renders them engine-identically.
@query(
    "x76_percent_rank_cume_dist",
    oracle="""
    SELECT c_custkey, c_mktsegment,
      CAST(ROUND(CAST(PERCENT_RANK() OVER w AS DECIMAL(38,12)), 4)
           AS DOUBLE) AS pct_rank,
      CAST(ROUND(CAST(CUME_DIST() OVER w AS DECIMAL(38,12)), 4)
           AS DOUBLE) AS cume
    FROM customer
    WHERE c_custkey <= 300
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    ORDER BY c_mktsegment, c_custkey
    """,
)
def x76_percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    c = table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            round4(F.percent_rank().over(w)).alias("pct_rank"),
            round4(F.cume_dist().over(w)).alias("cume"),
        )
        .orderBy("c_mktsegment", "c_custkey")
    )


# --------------------------------------------------------------------------
# x77: ARRAY SET ALGEBRA — intersect/union/except between each document's
# token set and the stopword list, emitted as SIZES (distinct-element
# counts), which pins the set semantics without hashing engine-specific
# array orderings. Spark's array_intersect/union/except dedup their
# result; the oracle states the same counts via list_distinct +
# list_contains filters.
@query(
    "x77_array_set_algebra",
    oracle="""
    WITH stop AS (
      SELECT ['the','a','of','and','to','in','is','on','for','with'] AS sw),
    t AS (
      SELECT doc_id,
        list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
          AS toks
      FROM documents)
    SELECT doc_id,
      CAST(len(list_filter(toks, x -> list_contains(sw, x))) AS INT)
        AS n_intersect,
      CAST(len(toks) + 10 - len(list_filter(toks, x -> list_contains(sw, x)))
        AS INT) AS n_union,
      CAST(len(list_filter(toks, x -> NOT list_contains(sw, x))) AS INT)
        AS n_except
    FROM t CROSS JOIN stop
    ORDER BY doc_id
    """,
)
def x77_array_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col
    from video_streamer_spark.operators.text import EN_STOPWORDS

    docs = table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    toks = tokens_col("text")
    return (
        docs.select(
            "doc_id",
            F.size(F.array_intersect(toks, stop)).cast("int").alias(
                "n_intersect"
            ),
            F.size(F.array_union(toks, stop)).cast("int").alias("n_union"),
            F.size(F.array_except(toks, stop)).cast("int").alias("n_except"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x80: FILTERED AGGREGATES — per-priority order stats where each
# aggregate carries its own predicate (SQL's FILTER clause; Spark spells
# it count/sum over CASE). One scan, one shuffle, no per-predicate
# re-aggregation.
@query(
    "x80_filtered_aggregates",
    oracle="""
    SELECT o_orderpriority,
      CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
      CAST(COUNT(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT) AS n_big,
      CAST(ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                      FILTER (WHERE o_orderstatus = 'O')
                 AS DECIMAL(38,9)), 2) AS DOUBLE) AS sum_open
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def x80_filtered_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec

    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1))
            .cast("bigint")
            .alias("n_f"),
            F.count(F.when(F.col("o_totalprice") > 200000, 1))
            .cast("bigint")
            .alias("n_big"),
            round2(
                F.sum(
                    F.when(
                        F.col("o_orderstatus") == "O", dec("o_totalprice")
                    )
                )
            ).alias("sum_open"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# x81: OUTER GENERATORS — explode_outer/posexplode_outer preserve the
# parent row as a NULL when the array is empty (the inner variant drops
# it); exercised on an always-empty filter result so every document
# survives with a NULL token, plus an inner-explode count as contrast.
@query(
    "x81_explode_outer_semantics",
    oracle="""
    WITH t AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> length(x) > 99) AS longs
      FROM documents)
    SELECT doc_id,
      CAST(NULL AS VARCHAR) AS long_token,
      CAST(0 AS INT) AS n_long
    FROM t WHERE len(longs) = 0
    ORDER BY doc_id
    """,
)
def x81_explode_outer_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    longs = F.filter(tokens_col("text"), lambda t: F.length(t) > 99)
    exploded = docs.select(
        "doc_id", F.explode_outer(longs).alias("long_token")
    )
    inner_counts = (
        docs.select("doc_id", F.explode(longs).alias("t"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return (
        exploded.join(inner_counts, "doc_id", "left")
        .select(
            "doc_id",
            "long_token",
            F.coalesce(F.col("n"), F.lit(0)).cast("int").alias("n_long"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x82: error-safe arithmetic — try_divide/try_cast return NULL instead
# of failing on divide-by-zero and malformed casts (ANSI-mode-safe
# pipelines need the explicit spelling). Oracle states the same
# semantics with CASE guards.
@query(
    "x82_try_functions",
    oracle="""
    SELECT event_id,
      CASE WHEN event_id % 3 = 0 THEN NULL
           ELSE CAST(ROUND(CAST(value / (event_id % 3) AS DECIMAL(38,9)), 2)
                     AS DOUBLE) END AS safe_div,
      CASE WHEN event_type IN ('view','click','purchase','signup','error')
           THEN NULL ELSE NULL END AS bad_int
    FROM events WHERE event_id < 1000 ORDER BY event_id
    """,
)
def x82_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").where(F.col("event_id") < 1000)
    return (
        e.select(
            "event_id",
            round2(
                F.try_divide(F.col("value"), F.col("event_id") % 3)
            ).alias("safe_div"),
            F.expr("try_cast(event_type AS INT)").alias("bad_int"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# x83: ordered STRING AGGREGATION — per-region pipe-joined nation list
# (LISTAGG / string_agg). Spark spells it sort_array(collect_list())
# + array_join; the explicit sort makes the concatenation order
# deterministic regardless of shuffle arrival order — the property that
# makes string_agg usable in a hash-checked pipeline at all.
@query(
    "x83_string_agg_nations",
    oracle="""
    SELECT r.r_name,
      CAST(COUNT(*) AS BIGINT) AS n_nations,
      string_agg(n.n_name, '|' ORDER BY n.n_name) AS nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name ORDER BY r.r_name
    """,
)
def x83_string_agg_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count("*").cast("bigint").alias("n_nations"),
            F.array_join(
                F.sort_array(F.collect_list("n_name")), "|"
            ).alias("nations"),
        )
        .orderBy("r_name")
    )


# --------------------------------------------------------------------------
# x84: equi-WIDTH histogram — 10 fixed-width bins over the order price
# domain (the fixed-bin counterpart of x57's equi-depth quantile bands).
# Bin edges derive from a 1-row min/max reduction that broadcasts back;
# all bin arithmetic runs on integer cents with integer division, so
# there is no floating-point edge case for engines to disagree on.
@query(
    "x84_equiwidth_histogram",
    oracle="""
    WITH o AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    b AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM o),
    binned AS (
      SELECT LEAST(((cents - lo) * 10) // GREATEST(hi - lo + 1, 1), 9)
        AS bin_id
      FROM o CROSS JOIN b)
    SELECT CAST(bin_id AS INT) AS bin_id,
      CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM binned GROUP BY bin_id ORDER BY bin_id
    """,
)
def x84_equiwidth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents")
    )
    b = o.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    binned = o.crossJoin(F.broadcast(b)).select(
        F.least(
            (
                ((F.col("cents") - F.col("lo")) * 10)
                / F.greatest(F.col("hi") - F.col("lo") + 1, F.lit(1))
            ).cast("bigint"),
            F.lit(9).cast("bigint"),
        ).alias("bin_id")
    )
    return (
        binned.groupBy(F.col("bin_id").cast("int").alias("bin_id"))
        .agg(F.count("*").cast("bigint").alias("n_orders"))
        .orderBy("bin_id")
    )
