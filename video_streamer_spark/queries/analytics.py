"""Round-5 analytics queries (x86+): scale-pattern operators a 100 TB
curation/warehouse pipeline leans on — runtime join pruning (bloom),
exact distributed quantiles, skyline/Pareto selection, graph triangle
counting, gaps-and-islands, interval overlap joins, collocation mining,
and prefix-filtered set-similarity joins.

Every query keeps the repo's contract: declarative DataFrame plans that
Catalyst can push down / broadcast / reorder, a DuckDB oracle string
with bit-identical output (helpers from functions/parity.py), and an
explicit note on why the plan survives 1000 executors.

Reference anchor: these extend the metadata-curation side of the
reference pipeline (the role VDMS queries play — reference README.md:2,
gst-detection-tf.py:308-344) far past what the reference itself ships,
per the engine brief.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from video_streamer_spark.catalog import table
from video_streamer_spark.functions.parity import round2, round4, round6
from video_streamer_spark.queries import query

_R2 = "CAST(ROUND(CAST(({}) AS DECIMAL(38,9)), 2) AS DOUBLE)"
_R4 = "CAST(ROUND(CAST(({}) AS DECIMAL(38,12)), 4) AS DOUBLE)"


# --------------------------------------------------------------------------
# x86: BLOOM-FILTER JOIN PRUNING — the runtime-filter pattern every
# warehouse engine applies to selective star joins (Spark's own
# spark.sql.optimizer.runtime.bloomFilter does this invisibly; here it
# is an explicit, testable operator). Build a 1024-bit bloom over the
# filtered dim keys as SIXTEEN bit_or AGGREGATES of per-row hash words
# (k=3 xxhash64 probes per key), broadcast the single 16-long row, and
# prune the fact scan with pure codegen'd bit tests BEFORE the join.
# False positives are removed by the real join, so the bloom is
# semantics-free — which is exactly why the oracle is the PLAIN join:
# hash parity proves the filter admitted every true match.
# At 100 TB: the bloom is ~128 bytes regardless of fact size, the probe
# is per-row bit math in whole-stage codegen, and the pruned fact side
# shuffles a fraction of its rows into the join.
_BLOOM_BITS = 1024
_BLOOM_WORDS = _BLOOM_BITS // 64
_BLOOM_K = 3


def _bloom_positions(key: F.Column) -> list[tuple[F.Column, F.Column]]:
    """k (word_index, bit_mask) pairs for a key — identical expressions
    on build and probe sides."""
    out = []
    for i in range(_BLOOM_K):
        h = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(_BLOOM_BITS))
        # F.shiftleft only takes a literal shift amount; call the SQL
        # function directly for a column-valued shift
        mask = F.call_function(
            "shiftleft", F.lit(1).cast("bigint"), (h % F.lit(64)).cast("int")
        )
        out.append(((h / F.lit(64)).cast("int"), mask))
    return out


def bloom_build(keys: DataFrame, key_col: str) -> DataFrame:
    """One-row DataFrame with a 16×bigint bloom over ``key_col``."""
    pos = _bloom_positions(F.col(key_col))
    words = [
        reduce(
            lambda acc, wb: acc.bitwiseOR(
                F.when(wb[0] == j, wb[1]).otherwise(F.lit(0).cast("bigint"))
            ),
            pos,
            F.lit(0).cast("bigint"),
        ).alias(f"w{j}")
        for j in range(_BLOOM_WORDS)
    ]
    row_words = keys.select(*words)
    return row_words.agg(
        *[F.bit_or(F.col(f"w{j}")).alias(f"w{j}") for j in range(_BLOOM_WORDS)]
    ).select(
        F.array(*[F.col(f"w{j}") for j in range(_BLOOM_WORDS)]).alias("bloom")
    )


def bloom_prune(facts: DataFrame, bloom: DataFrame, key_col: str) -> DataFrame:
    """Keep fact rows whose key passes every bloom probe (no false
    negatives by construction; false positives fall to the later join).
    The crossJoin broadcasts ONE row — a plan parameter, not data."""
    probed = facts.crossJoin(F.broadcast(bloom))
    cond = reduce(
        lambda acc, wb: acc
        & (
            F.element_at(F.col("bloom"), wb[0] + F.lit(1)).bitwiseAND(wb[1])
            != F.lit(0)
        ),
        _bloom_positions(F.col(key_col)),
        F.lit(True),
    )
    return probed.where(cond).drop("bloom")


@query(
    "x86_bloom_filter_join",
    oracle=f"""
    SELECT p.p_brand,
      CAST(COUNT(*) AS BIGINT) AS n_items,
      {_R2.format("SUM(CAST(l.l_quantity AS DECIMAL(18,6)))")} AS sum_qty
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size >= 40
    GROUP BY p.p_brand ORDER BY p.p_brand
    """,
)
def x86_bloom_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part").where(F.col("p_size") >= 40)
    bloom = bloom_build(part.select("p_partkey"), "p_partkey")
    pruned = bloom_prune(li, bloom, "l_partkey")
    return (
        pruned.join(F.broadcast(part), pruned["l_partkey"] == part["p_partkey"])
        .groupBy("p_brand")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            round2(
                F.sum(F.col("l_quantity").cast("decimal(18,6)"))
            ).alias("sum_qty"),
        )
        .orderBy("p_brand")
    )


# --------------------------------------------------------------------------
# x87: EXACT grouped quantiles — the contract x52 deliberately does NOT
# make (approx_percentile there). Spark's percentile() sorts within the
# aggregation buffer; DuckDB's quantile_cont applies the same
# (n-1)*q linear interpolation, so after the round4 quantization the
# values are bit-identical. At 100 TB the partial aggregation still
# map-side-combines; exact quantiles are the right tool per GROUP (each
# group's values fit an executor), approx (x52) when a single group is
# itself terabytes.
@query(
    "x87_group_quantiles_exact",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      {_R4.format("quantile_cont(l_quantity, 0.25)")} AS q25,
      {_R4.format("quantile_cont(l_quantity, 0.5)")} AS q50,
      {_R4.format("quantile_cont(l_quantity, 0.75)")} AS q75,
      {_R4.format("quantile_cont(l_extendedprice, 0.9)")} AS price_p90
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def x87_group_quantiles_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    qs = F.percentile(
        "l_quantity", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75))
    )
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            qs.alias("qs"),
            F.percentile("l_extendedprice", F.lit(0.9)).alias("p90"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            "n_rows",
            round4(F.col("qs")[0]).alias("q25"),
            round4(F.col("qs")[1]).alias("q50"),
            round4(F.col("qs")[2]).alias("q75"),
            round4(F.col("p90")).alias("price_p90"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# x88: SKYLINE / Pareto frontier — parts where no other part is both
# cheaper-or-equal AND larger-or-equal (strict somewhere): the
# multi-objective "best tradeoffs" selection. The naive formulation is
# a quadratic NOT EXISTS self-join (that's the oracle); the engine
# computes it with ONE SORT and two window maxes over cents-quantized
# price (lossless for 2-decimal prices, and it gives the RANGE frame an
# integer key): dominated ⇔ max(size | price strictly lower) >= size
# OR max(size | price equal) > size. O(n log n), no join — at 100 TB
# this is a sort-based single pass, vs the join's n² explosion.
@query(
    "x88_skyline_pareto",
    oracle=f"""
    WITH q AS (
      SELECT p_partkey, p_retailprice, p_size,
        CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS cents
      FROM part)
    SELECT p_partkey, {_R2.format("a.p_retailprice")} AS price, p_size
    FROM q a
    WHERE NOT EXISTS (
      SELECT 1 FROM q b
      WHERE b.cents <= a.cents AND b.p_size >= a.p_size
        AND (b.cents < a.cents OR b.p_size > a.p_size))
    ORDER BY cents, p_size DESC, p_partkey
    """,
)
def x88_skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        "p_size",
        F.floor(F.col("p_retailprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
    )
    w_strict = (
        Window.orderBy("cents")
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_equal = Window.partitionBy("cents")
    dominated = (
        F.coalesce(
            F.max("p_size").over(w_strict), F.lit(-(2**31))
        )
        >= F.col("p_size")
    ) | (F.max("p_size").over(w_equal) > F.col("p_size"))
    return (
        p.withColumn("dom", dominated)
        .where(~F.col("dom"))
        .select(
            "p_partkey",
            round2("p_retailprice").alias("price"),
            "p_size",
            "cents",
        )
        .orderBy("cents", F.col("p_size").desc(), "p_partkey")
        .drop("cents")
    )


# --------------------------------------------------------------------------
# x89: TRIANGLE COUNT on a deterministic co-occurrence graph (nodes =
# part/supplier residues, edges = lineitem links). The classic two-join
# wedge closure with ID-ORDERED orientation (u<v<w): every triangle is
# counted exactly once and each join is an equi-join whose fan-out is
# bounded by forward-degree — the standard trick that keeps the wedge
# volume skew-bounded at scale (a hub contributes deg²/2 wedges only on
# its ORIENTED edges). No cartesian anywhere.
@query(
    "x89_triangle_count",
    oracle="""
    WITH e AS (
      SELECT DISTINCT least(l_partkey % 200, l_suppkey % 200) AS u,
             greatest(l_partkey % 200, l_suppkey % 200) AS v
      FROM lineitem
      WHERE l_partkey % 200 <> l_suppkey % 200),
    tri AS (
      SELECT COUNT(*) AS n FROM e e1
      JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT n FROM tri) AS BIGINT) AS n_triangles
    """,
)
def x89_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.pmod(F.col("l_partkey"), F.lit(200)).alias("pk"),
        F.pmod(F.col("l_suppkey"), F.lit(200)).alias("sk"),
    )
    e = (
        li.where(F.col("pk") != F.col("sk"))
        .select(
            F.least("pk", "sk").alias("u"), F.greatest("pk", "sk").alias("v")
        )
        .distinct()
    )
    e1 = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = e.select(F.col("u").alias("b2"), F.col("v").alias("c"))
    wedges = e1.join(e2, e1["b"] == e2["b2"]).select("a", "b", "c")
    e3 = e.select(F.col("u").alias("a3"), F.col("v").alias("c3"))
    tri = wedges.join(
        e3, (wedges["a"] == e3["a3"]) & (wedges["c"] == e3["c3"])
    ).agg(F.count("*").cast("bigint").alias("n_triangles"))
    return e.agg(F.count("*").cast("bigint").alias("n_edges")).crossJoin(
        F.broadcast(tri)
    )


# --------------------------------------------------------------------------
# x90: GAPS AND ISLANDS — per-user runs of CONSECUTIVE active days (the
# canonical streak/retention shape). The whole computation is the
# row_number-difference trick: day_number − row_number is constant
# within a consecutive run, so one window plus two aggregations — no
# self-join, no iteration. Scale: both windows/aggs partition on
# user_id; a 100 TB events table shuffles once on the user key.
@query(
    "x90_gaps_islands",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    grp AS (
      SELECT user_id, day,
        date_diff('day', DATE '1970-01-01', day)
          - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS g
      FROM days),
    islands AS (
      SELECT user_id, g, COUNT(*) AS len
      FROM grp GROUP BY user_id, g)
    SELECT user_id,
      CAST(SUM(len) AS BIGINT) AS n_active_days,
      CAST(COUNT(*) AS BIGINT) AS n_streaks,
      CAST(MAX(len) AS BIGINT) AS longest_streak
    FROM islands GROUP BY user_id
    HAVING SUM(len) >= 5
    ORDER BY user_id
    """,
)
def x90_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.col("ts").cast("date").alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.select(
        "user_id",
        "day",
        (
            F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("g"),
    )
    islands = grp.groupBy("user_id", "g").agg(F.count("*").alias("len"))
    return (
        islands.groupBy("user_id")
        .agg(
            F.sum("len").cast("bigint").alias("n_active_days"),
            F.count("*").cast("bigint").alias("n_streaks"),
            F.max("len").cast("bigint").alias("longest_streak"),
        )
        .where(F.col("n_active_days") >= 5)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# x91: INTERVAL OVERLAP SELF-JOIN — concurrent activity detection:
# events become intervals [ts, ts + min(value,30)·1min] and we count,
# per user, the pairs of genuinely overlapping intervals. The engine
# never writes the quadratic predicate join: each interval EXPLODES to
# the hour buckets it covers (≤2 — durations are capped below one
# bucket), pairs equi-join on (user, bucket), a distinct collapses the
# ≤2-bucket double-match, and the exact overlap predicate filters last.
# Every overlapping pair shares the bucket of any point in their
# intersection, so the bucket cover is complete — same decomposition as
# the q20 theta join and x65 length buckets. The oracle IS the naive
# quadratic predicate join: hash parity proves the bucketed plan
# loses and invents nothing. Micros arithmetic keeps both engines
# integer-exact.
@query(
    "x91_interval_overlap_join",
    oracle="""
    WITH iv AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
        epoch_us(ts) + CAST(floor(least(value, 30.0) * 60000000.0) AS BIGINT) AS e
      FROM events)
    SELECT a.user_id,
      CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
      AND a.s <= b.e AND b.s <= a.e
    GROUP BY a.user_id
    ORDER BY a.user_id
    """,
)
def x91_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    bucket_us = 3_600_000_000  # 1 hour; durations capped at 30 min
    iv = e.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("s"),
        (
            F.unix_micros("ts")
            + F.floor(F.least(F.col("value"), F.lit(30.0)) * 60000000.0).cast(
                "bigint"
            )
        ).alias("e"),
    )
    exploded = iv.select(
        "user_id",
        "event_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                (F.col("s") / bucket_us).cast("bigint"),
                (F.col("e") / bucket_us).cast("bigint"),
            )
        ).alias("bk"),
    )
    a = exploded.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("ia"),
        F.col("s").alias("sa"),
        F.col("e").alias("ea"),
        "bk",
    )
    b = exploded.select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("ib"),
        F.col("s").alias("sb"),
        F.col("e").alias("eb"),
        "bk",
    )
    pairs = (
        a.join(b, ["u", "bk"])
        .where(
            (F.col("ia") < F.col("ib"))
            & (F.col("sa") <= F.col("eb"))
            & (F.col("sb") <= F.col("ea"))
        )
        .select("u", "ia", "ib")
        .distinct()
    )
    return (
        pairs.groupBy(F.col("u").alias("user_id"))
        .agg(F.count("*").cast("bigint").alias("n_overlapping_pairs"))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# x92: COLLOCATION MINING (PMI) — statistically-bound word pairs, the
# classic corpus-analysis signal (phrase detection for tokenizer vocab
# building). Adjacent-token bigrams and unigrams are counted with plain
# aggregations. The hashed output carries the EXACT integer sufficient
# statistics (n_pair, c1, c2) plus PMI = ln(P(ab)/(P(a)·P(b))) through
# the guard-digit round6 recipe emitted as DOUBLE — never DECIMAL
# (parity.py rule 4; this query was the program's first driver-red row
# because its old DECIMAL(18,6) output hash-diverged on trailing-zero
# values). Scale: two groupBy counts + two broadcastable joins of the
# (small) vocab onto the bigram relation; nothing quadratic, no UDF.
@query(
    "x92_collocation_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    uni AS (
      SELECT unnest(t) AS w FROM toks),
    ucnt AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY w),
    utot AS (SELECT SUM(c) AS n FROM ucnt),
    bi AS (
      SELECT unnest(list_transform(range(1, len(t)),
                    i -> struct_pack(w1 := t[i], w2 := t[i+1]))) AS p
      FROM toks WHERE len(t) >= 2),
    bcnt AS (SELECT p.w1 AS w1, p.w2 AS w2, COUNT(*) AS c FROM bi
             GROUP BY p.w1, p.w2),
    btot AS (SELECT SUM(c) AS n FROM bcnt)
    SELECT w1, w2, CAST(b.c AS BIGINT) AS n_pair,
      CAST(u1.c AS BIGINT) AS c1, CAST(u2.c AS BIGINT) AS c2,
      CAST(ROUND(CAST(ln((CAST(b.c AS DOUBLE) / btot.n) /
              ((CAST(u1.c AS DOUBLE) / utot.n) *
               (CAST(u2.c AS DOUBLE) / utot.n))) AS DECIMAL(38,12)), 6)
           AS DOUBLE) AS pmi
    FROM bcnt b
    JOIN ucnt u1 ON b.w1 = u1.w
    JOIN ucnt u2 ON b.w2 = u2.w
    CROSS JOIN utot CROSS JOIN btot
    WHERE b.c >= 5
    ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
)
def x92_collocation_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import tokens_col

    docs = table(spark, sf_dir, "documents")
    toks = docs.select(tokens_col("text").alias("t"))
    uni = toks.select(F.explode("t").alias("w"))
    ucnt = uni.groupBy("w").agg(F.count("*").alias("c"))
    utot = ucnt.agg(F.sum("c").alias("n_uni"))
    bi = toks.where(F.size("t") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(element_at(t, i) AS w1,"
                "             element_at(t, i + 1) AS w2))"
            )
        ).alias("p")
    )
    bcnt = bi.groupBy(
        F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    ).agg(F.count("*").alias("c"))
    btot = bcnt.agg(F.sum("c").alias("n_bi"))
    u1 = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bcnt.where(F.col("c") >= 5)
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("n_pair"),
            F.col("c1").cast("bigint").alias("c1"),
            F.col("c2").cast("bigint").alias("c2"),
            round6(
                F.log(
                    (F.col("c").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("c1").cast("double") / F.col("n_uni"))
                        * (F.col("c2").cast("double") / F.col("n_uni"))
                    )
                )
            ).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(20)
    )


# --------------------------------------------------------------------------
# x93: PREFIX-FILTERED SET-SIMILARITY JOIN — word-set Jaccard ≥ t
# pairs via the PPJoin-family prefix filter, a genuinely different
# candidate scheme from x04's df-cutoff inverted index: order every
# doc's distinct tokens by GLOBAL rarity (freq asc, token asc); if
# jaccard(A,B) ≥ t the two prefixes of length |S| − ⌈t·|S|⌉ + 1 must
# share a token, so ONLY prefix tokens enter the inverted index —
# candidate volume shrinks by ~(1−t) per side while recall stays exact.
# Verification joins each candidate pair's full sorted-token relation
# and counts intersections. Oracle: the prefix-free formulation
# (any-shared-token candidates + exact jaccard) — hash parity proves
# the prefix filter dropped no qualifying pair.
#
# Output contract: each doc's TOP-1 most-similar neighbor (jaccard
# desc, doc_b asc), not the full pair set — this testdata is one giant
# planted near-dup blob (≈9M pairs ≥0.5 at sf0.1, ~2M even at 0.9), so
# an all-pairs enumeration is output-quadratic in cluster size no
# matter how good the candidate scheme is; top-1 keeps the output
# linear while the prefix-filter join underneath does identical work
# per candidate. The deterministic 1-in-5 doc subset bounds the
# candidate volume the same way a production dedup shards the corpus.
@query(
    "x93_jaccard_prefix_join",
    oracle=f"""
    WITH dt AS (
      SELECT DISTINCT doc_id, unnest(list_filter(string_split(text, ' '),
                                     x -> x <> '')) AS w
      FROM documents WHERE doc_id % 5 = 0),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM dt GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS i
      FROM dt a JOIN dt b ON a.w = b.w AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id),
    scored AS (
      SELECT da AS doc_a, db AS doc_b,
        CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS j
      FROM inter
      JOIN sz sa ON sa.doc_id = da
      JOIN sz sb ON sb.doc_id = db
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5),
    best AS (
      SELECT doc_a, doc_b, j,
        ROW_NUMBER() OVER (PARTITION BY doc_a ORDER BY j DESC, doc_b) AS rn
      FROM scored)
    SELECT doc_a, doc_b, {_R4.format("j")} AS jaccard
    FROM best WHERE rn = 1 ORDER BY doc_a
    """,
)
def x93_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import tokens_col

    t = 0.5
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") % 5 == 0)
    dt = (
        docs.select("doc_id", F.explode(tokens_col("text")).alias("w"))
        .distinct()
    )
    freq = dt.groupBy("w").agg(F.count("*").alias("df"))
    ranked = dt.join(F.broadcast(freq), "w").select(
        "doc_id",
        "w",
        F.row_number()
        .over(
            Window.partitionBy("doc_id").orderBy(
                F.col("df").asc(), F.col("w").asc()
            )
        )
        .alias("pos"),
    )
    sz = dt.groupBy("doc_id").agg(F.count("*").alias("n"))
    # prefix length |S| - ceil(t*|S|) + 1
    pref = (
        ranked.join(F.broadcast(sz), "doc_id")
        .where(
            F.col("pos")
            <= F.col("n") - F.ceil(F.lit(t) * F.col("n")) + F.lit(1)
        )
        .select("doc_id", "w")
    )
    cand = (
        pref.alias("pa")
        .join(pref.alias("pb"), "w")
        .where(F.col("pa.doc_id") < F.col("pb.doc_id"))
        .select(
            F.col("pa.doc_id").alias("doc_a"),
            F.col("pb.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    ta = dt.select(F.col("doc_id").alias("doc_a"), "w")
    tb = dt.select(F.col("doc_id").alias("doc_b"), "w")
    inter = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "w"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("i").cast("double") / (
        F.col("na") + F.col("nb") - F.col("i")
    )
    scored = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .where(jac >= t)
        .select("doc_a", "doc_b", jac.alias("j"))
    )
    best = scored.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("doc_a").orderBy(
                F.col("j").desc(), F.col("doc_b").asc()
            )
        ),
    ).where(F.col("rn") == 1)
    return best.select(
        "doc_a", "doc_b", round4(F.col("j")).alias("jaccard")
    ).orderBy("doc_a")


# --------------------------------------------------------------------------
# x95: EMBEDDING CLUSTER DISPERSION — per-label variance trace (the
# within-cluster scatter every embedding-quality / clustering-drift
# monitor tracks). posexplode puts (label, dim) on the shuffle key so
# the reduction is a plain two-level aggregation; all sums ride the
# integer-quantization parity recipe (floor(x·1e6) / floor(x²·1e12) —
# exact, order-independent, identical in both engines). Per-dim
# contributions floor-quantize to BIGINT micro-units (the x61/x107
# recipe: floor of a transcendental-free double is bit-identical
# cross-engine) so the cross-dim sum is exact integer arithmetic, and
# the trace is emitted as micro_sum/1e6 — one correctly-rounded double
# division, never a DECIMAL output (parity.py rule 4; the old
# DECIMAL(18,6) output was the program's second driver-red row). Scale:
# one shuffle on (label, dim) — 64·n_labels keys — then a tiny
# label-level agg.
@query(
    "x95_embedding_dispersion",
    oracle="""
    WITH dims AS (
      SELECT label, i AS dim,
        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq,
        CAST(floor(CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                   * 1000000000000.0) AS DECIMAL(38,0)) AS xxq
      FROM embeddings, range(1, 65) t(i)),
    per_dim AS (
      SELECT label, dim, COUNT(*) AS n,
        SUM(xq) AS sx, SUM(xxq) AS sxx
      FROM dims GROUP BY label, dim),
    contrib AS (
      SELECT label, n,
        CAST(floor((CAST(sxx AS DOUBLE) / 1000000000000.0 / n
             - (CAST(sx AS DOUBLE) / 1000000.0 / n)
               * (CAST(sx AS DOUBLE) / 1000000.0 / n))
               * 1000000.0) AS BIGINT) AS v_micro
      FROM per_dim)
    SELECT label, CAST(MAX(n) AS BIGINT) AS n_vectors,
      CAST(SUM(v_micro) AS DOUBLE) / 1000000.0 AS variance_trace
    FROM contrib GROUP BY label ORDER BY label
    """,
)
def x95_embedding_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        ),
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.floor(F.col("x") * 1000000.0).cast("bigint").alias("xq"),
        F.floor(F.col("x") * F.col("x") * 1000000000000.0)
        .cast("decimal(38,0)")
        .alias("xxq"),
    )
    per_dim = dims.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        F.sum("xq").alias("sx"),
        F.sum("xxq").alias("sxx"),
    )
    contrib = per_dim.select(
        "label",
        "n",
        F.floor(
            (
                F.col("sxx").cast("double") / 1e12 / F.col("n")
                - (F.col("sx").cast("double") / 1e6 / F.col("n"))
                * (F.col("sx").cast("double") / 1e6 / F.col("n"))
            )
            * 1e6
        )
        .cast("bigint")
        .alias("v_micro"),
    )
    return (
        contrib.groupBy("label")
        .agg(
            F.max("n").cast("bigint").alias("n_vectors"),
            (F.sum("v_micro").cast("double") / 1e6).alias("variance_trace"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# x96: EQUI-DEPTH HISTOGRAM — x84's twin with equal POPULATION per
# bucket instead of equal width: ntile over a TOTAL order (price, then
# orderkey so ties are deterministic) → per-bucket count/min/max — the
# quantile-sketch shape optimizers build for selectivity estimation.
# Scale: ntile is one global sort — at 100 TB swap in percentile-based
# boundaries (x87) and a broadcast range join; the ntile form is exact.
@query(
    "x96_equidepth_histogram",
    oracle=f"""
    WITH ranked AS (
      SELECT o_totalprice,
        NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders)
    SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
      {_R2.format("MIN(o_totalprice)")} AS lo,
      {_R2.format("MAX(o_totalprice)")} AS hi
    FROM ranked GROUP BY bucket ORDER BY bucket
    """,
)
def x96_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    ranked = o.select(
        "o_totalprice",
        F.ntile(10)
        .over(Window.orderBy("o_totalprice", "o_orderkey"))
        .alias("bucket"),
    )
    return (
        ranked.groupBy("bucket")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            round2(F.min("o_totalprice")).alias("lo"),
            round2(F.max("o_totalprice")).alias("hi"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# x97: CHI-SQUARE INDEPENDENCE TEST — is document language independent
# of source? The full contingency pipeline (cell counts, margins,
# expected counts, Σ(o−e)²/e) as plain aggregations + broadcast joins.
# Per-cell contributions quantize to DECIMAL(18,6) before the final sum
# (the x62/x95 recipe) so the statistic is bit-identical cross-engine.
# Scale: one groupBy over (lang, source) — the contingency table is
# tiny regardless of corpus size; margins broadcast back onto it.
@query(
    "x97_chi_square_independence",
    oracle="""
    WITH cells AS (
      SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY lang, source),
    rowm AS (SELECT lang, SUM(o) AS rt FROM cells GROUP BY lang),
    colm AS (SELECT source, SUM(o) AS ct FROM cells GROUP BY source),
    tot AS (SELECT SUM(o) AS n FROM cells),
    contrib AS (
      SELECT c.lang, c.source,
        CAST(power(CAST(c.o AS DOUBLE)
                   - CAST(r.rt AS DOUBLE) * ct.ct / t.n, 2)
             / (CAST(r.rt AS DOUBLE) * ct.ct / t.n)
          AS DECIMAL(18,6)) AS x2
      FROM cells c JOIN rowm r USING (lang) JOIN colm ct USING (source)
      CROSS JOIN tot t)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      CAST((SELECT COUNT(*) FROM rowm) - 1 AS BIGINT)
        * CAST((SELECT COUNT(*) FROM colm) - 1 AS BIGINT) AS dof,
      CAST(SUM(x2) AS DOUBLE) AS chi2
    FROM contrib
    """,
)
def x97_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(F.count("*").alias("o"))
    rowm = cells.groupBy("lang").agg(F.sum("o").alias("rt"))
    colm = cells.groupBy("source").agg(F.sum("o").alias("ct"))
    tot = cells.agg(F.sum("o").alias("n"))
    e = F.col("rt").cast("double") * F.col("ct") / F.col("n")
    contrib = (
        cells.join(F.broadcast(rowm), "lang")
        .join(F.broadcast(colm), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            F.pow(F.col("o").cast("double") - e, F.lit(2.0))
            .__truediv__(e)
            .cast("decimal(18,6)")
            .alias("x2"),
        )
    )
    n_rows = rowm.agg(
        (F.count("*") - 1).cast("bigint").alias("r1")
    )
    n_cols = colm.agg(
        (F.count("*") - 1).cast("bigint").alias("c1")
    )
    return (
        contrib.agg(
            F.count("*").cast("bigint").alias("n_cells"),
            F.sum("x2").cast("double").alias("chi2"),
        )
        .crossJoin(F.broadcast(n_rows))
        .crossJoin(F.broadcast(n_cols))
        .select(
            "n_cells",
            (F.col("r1") * F.col("c1")).alias("dof"),
            "chi2",
        )
    )


# --------------------------------------------------------------------------
# x98: SNAPSHOT DIFF — diff_snapshots (operators/merge.py), the inverse
# of MERGE: given only two table STATES, emit the minimal I/U/D
# changeset that transforms one into the other (CDC backfill when no
# change log exists). The "new" state is derived deterministically from
# orders (delete keys ≡0 mod 97, bump price on ≡1 mod 13, insert
# shifted copies of keys ≡0 mod 101) so the oracle can rebuild both
# states and classify with the same full-outer-join logic. One shuffle
# per side on the key; struct-equality payload compare in codegen.
# apply(diff) ≡ new is pinned by test_diff_snapshots_round_trip.
@query(
    "x98_snapshot_diff",
    oracle="""
    WITH old_t AS (
      SELECT o_orderkey AS k, o_totalprice AS price FROM orders),
    new_t AS (
      SELECT k, CASE WHEN k % 13 = 1 THEN price + 10.0 ELSE price END AS price
      FROM old_t WHERE k % 97 <> 0
      UNION ALL
      SELECT k + 10000000, price FROM old_t WHERE k % 101 = 0),
    diff AS (
      SELECT COALESCE(n.k, o.k) AS k,
        CASE WHEN o.k IS NULL THEN 'I'
             WHEN n.k IS NULL THEN 'D'
             WHEN n.price <> o.price THEN 'U' END AS op
      FROM old_t o FULL OUTER JOIN new_t n ON o.k = n.k)
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(k) AS BIGINT) AS key_sum
    FROM diff WHERE op IS NOT NULL
    GROUP BY op ORDER BY op
    """,
)
def x98_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.merge import diff_snapshots

    old = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), F.col("o_totalprice").alias("price")
    )
    new = (
        old.where(F.col("k") % 97 != 0)
        .select(
            "k",
            F.when(F.col("k") % 13 == 1, F.col("price") + 10.0)
            .otherwise(F.col("price"))
            .alias("price"),
        )
        .unionByName(
            old.where(F.col("k") % 101 == 0).select(
                (F.col("k") + 10000000).alias("k"), "price"
            )
        )
    )
    diff = diff_snapshots(old, new, ["k"])
    return (
        diff.groupBy(F.col("__op").alias("op"))
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum("k").cast("bigint").alias("key_sum"),
        )
        .orderBy("op")
    )


# --------------------------------------------------------------------------
# x100: Z-ORDER CLUSTERING KEY — the Morton interleave behind
# multi-dimensional data skipping (operators/layout.py; Delta OPTIMIZE
# ZORDER's math). The query pins the bit-exact curve: z-values over
# (n_chars mod 1024, doc_id mod 1024), aggregated per curve tile with
# the min/max extents of BOTH dimensions — tight per-tile boxes are
# precisely the property file skipping exploits (asserted physically
# through optimize_table(zorder_by=...) in
# test_zorder_layout_prunes_both_dims). Pure bit arithmetic, no UDF;
# the oracle recomputes the interleave with the same shifts.
@query(
    "x100_zorder_clustering",
    oracle="""
    WITH z AS (
      SELECT doc_id, n_chars,
        (n_chars % 1024) AS a, (doc_id % 1024) AS b,
        list_sum(list_transform(range(0, 10),
          i -> ((((n_chars % 1024) >> i) & 1) << (2*i))
             + ((((doc_id % 1024) >> i) & 1) << (2*i + 1)))) AS zval
      FROM documents)
    SELECT CAST(zval // 65536 AS BIGINT) AS tile,
      CAST(COUNT(*) AS BIGINT) AS n,
      CAST(MIN(a) AS BIGINT) AS a_lo, CAST(MAX(a) AS BIGINT) AS a_hi,
      CAST(MIN(b) AS BIGINT) AS b_lo, CAST(MAX(b) AS BIGINT) AS b_hi
    FROM z GROUP BY tile ORDER BY tile
    """,
)
def x100_zorder_clustering(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.layout import zorder_value

    docs = table(spark, sf_dir, "documents").select(
        (F.col("n_chars") % 1024).alias("a"),
        (F.col("doc_id") % 1024).alias("b"),
    )
    z = docs.withColumn(
        "zval", zorder_value(F.col("a"), F.col("b"), bits=10)
    )
    return (
        z.groupBy((F.col("zval") / 65536).cast("bigint").alias("tile"))
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.min("a").cast("bigint").alias("a_lo"),
            F.max("a").cast("bigint").alias("a_hi"),
            F.min("b").cast("bigint").alias("b_lo"),
            F.max("b").cast("bigint").alias("b_hi"),
        )
        .orderBy("tile")
    )


# --------------------------------------------------------------------------
# x101: VARIANT JSON — Spark 4's binary semi-structured type (the
# open-format answer to schema-on-read JSON columns): try_parse_json
# over a feed where every 10th payload is deliberately truncated
# (at-least-once pipelines see malformed records; they must count, not
# crash), typed extraction via variant_get, per-type aggregation.
# Variant parses once into a binary tree — repeated path extraction
# doesn't re-parse the string, which is the 100 TB difference vs
# get_json_object (q12). Oracle: DuckDB json_valid + json_extract on
# the identically corrupted string.
@query(
    "x101_variant_json",
    oracle="""
    WITH feed AS (
      SELECT event_type,
        CASE WHEN event_id % 10 = 0
             THEN substr(props, 1, length(props) - 1)
             ELSE props END AS s
      FROM events)
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN json_valid(s) THEN 1 ELSE 0 END) AS BIGINT)
        AS n_valid,
      CAST(SUM(CASE WHEN json_valid(s)
               THEN CAST(json_extract_string(s, '$.k') AS BIGINT)
               ELSE 0 END) AS BIGINT) AS sum_k
    FROM feed GROUP BY event_type ORDER BY event_type
    """,
)
def x101_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    s = F.when(
        F.col("event_id") % 10 == 0,
        F.substring(F.col("props"), 1, F.length("props") - 1),
    ).otherwise(F.col("props"))
    v = e.select("event_type", F.try_parse_json(s).alias("v"))
    k = F.variant_get("v", "$.k", "bigint")
    return (
        v.groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(
                F.when(F.col("v").isNotNull(), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_valid"),
            F.sum(F.coalesce(k, F.lit(0))).cast("bigint").alias("sum_k"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x102: LATERAL JOIN — the correlated table subquery (top-2 customers
# per nation) in its native SQL form. Catalyst rewrites the correlated
# LIMIT into a ranked window under the hood, so this is semantically
# q06's window-rank but exercises the LATERAL resolution path — both
# engines run the textually identical query.
_X102_SQL = """
    SELECT n.n_name, t.c_custkey,
      CAST(ROUND(CAST(t.c_acctbal AS DECIMAL(38,9)), 2) AS DOUBLE)
        AS acctbal
    FROM nation n,
    LATERAL (SELECT c_custkey, c_acctbal FROM customer c
             WHERE c.c_nationkey = n.n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey
"""


@query("x102_lateral_topk", oracle=_X102_SQL)
def x102_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_X102_SQL)


# --------------------------------------------------------------------------
# x103: PYTHON UDTF — Spark 4's user-defined TABLE function surface
# (@udtf + LATERAL), the official API for one-row-to-many-rows Python
# operators (the ad-hoc alternative to mapInPandas when the expansion
# is per-row). The chunker splits text into fixed 64-char windows; the
# oracle never runs Python — every output is a closed-form function of
# length(text) (n chunks = ceil(len/64), Σ chunk_id = n(n−1)/2), so the
# hash check pins the UDTF's row expansion exactly. Scale note: UDTFs
# run row-at-a-time; the production chunker stays the codegen'd
# posexplode pipeline (x63) — this query covers the API surface.
@query(
    "x103_python_udtf_chunks",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
        CAST(ceil(length(text) / 64.0) AS BIGINT) AS n_chunks
      FROM documents WHERE length(text) > 0)
    SELECT lang,
      CAST(SUM(n_chunks) AS BIGINT) AS total_chunks,
      CAST(SUM(n_chunks * (n_chunks - 1) / 2) AS BIGINT) AS chunk_id_sum
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def x103_python_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id: int, chunk: string")
    class Chunker:
        def eval(self, text, size):
            t = text or ""
            for i in range(0, len(t), size):
                yield i // size, t[i : i + size]

    spark.udtf.register("vss_chunker", Chunker)
    from video_streamer_spark.catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT lang,
          CAST(COUNT(*) AS BIGINT) AS total_chunks,
          CAST(SUM(c.chunk_id) AS BIGINT) AS chunk_id_sum
        FROM documents, LATERAL vss_chunker(text, 64) c
        WHERE length(text) > 0
        GROUP BY lang ORDER BY lang
        """
    )


# --------------------------------------------------------------------------
# x104: BASELINE JPEG through the O2 decode path — the second REAL
# compressed codec (operators/jpeg.py: marker parse, Huffman entropy
# decode with byte-unstuffing, DC prediction, zigzag, dequant, matrix
# IDCT, level shift). The encoder writes each of the first 32 text
# bytes as one FLAT 8×8 grayscale block under unit quant tables —
# flat blocks are DC-only and integer-exact through DCT→quant→IDCT, so
# the decode is bit-exact and the oracle recomputes every statistic
# from the text column (the PNG path rides codec losslessness; this
# one rides exactness of the math — general content round-trips within
# the quantization bound instead, property-tested). Grayscale
# broadcasts to the uniform (h,w,3) tensor, so r=g=b and the channel
# sums are 64× the byte sum (each block covers 64 pixels).
@query(
    "x104_decode_jpeg_infer",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 32), 32, '.') AS s FROM documents)
    SELECT doc_id, CAST(64 AS INT) AS width, CAST(32 AS INT) AS height,
      CAST(64 * list_sum(list_transform(range(1, 33),
           i -> ascii(substr(s, i, 1)))) AS BIGINT) AS r_sum,
      CAST(64 * list_sum(list_transform(range(1, 33),
           i -> ascii(substr(s, i, 1)))) AS BIGINT) AS g_sum,
      CAST(64 * list_sum(list_transform(range(1, 33),
           i -> ascii(substr(s, i, 1)))) AS BIGINT) AS b_sum,
      CAST(24 * list_sum(list_transform(range(1, 9),
           i -> ascii(substr(s, i, 1)))) AS BIGINT) AS top_row_sum,
      CAST(ascii(substr(s, 1, 1)) AS INT) AS top_left_r
    FROM body ORDER BY doc_id
    """,
)
def x104_decode_jpeg_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import multimodal

    docs = table(spark, sf_dir, "documents")
    frames = multimodal.encode_jpeg_payloads(docs, blocks_w=8, blocks_h=4)
    return multimodal.decode_frames_detail(frames).orderBy("doc_id")


# --------------------------------------------------------------------------
# x105: VIDEO DECODE END TO END — the reference's actual workload shape
# (filesrc ! decodebin ! per-frame compute, run.sh:53) with ZERO codec
# libraries: documents become 3-frame MJPEG AVIs (RIFF mux of flat-
# block baseline JPEGs — operators/video.py + operators/jpeg.py), the
# engine demuxes the RIFF tree, decodes every frame through the real
# JPEG path, and reduces per video. Flat-block exactness (x104) makes
# every decoded pixel of every frame a closed-form function of the
# text column, so the oracle recomputes whole-video statistics in SQL:
# each byte paints 64 pixels × 3 channels. One video = one row; frames
# never leave the executor.
@query(
    "x105_decode_video_stats",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 96), 96, '.') AS s FROM documents)
    SELECT doc_id, CAST(3 AS INT) AS n_frames,
      CAST(64 AS INT) AS width, CAST(32 AS INT) AS height,
      CAST(192 * list_sum(list_transform(range(1, 97),
           i -> ascii(substr(s, i, 1)))) AS BIGINT) AS pixel_sum,
      CAST(192 * list_sum(list_transform(range(1, 33),
           i -> ascii(substr(s, i, 1)))) AS BIGINT) AS first_frame_sum,
      CAST(ascii(substr(s, 65, 1)) AS INT) AS last_top_left
    FROM body ORDER BY doc_id
    """,
)
def x105_decode_video_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import video

    docs = table(spark, sf_dir, "documents")
    avis = video.encode_mjpeg_payloads(docs, n_frames=3, blocks_w=8, blocks_h=4)
    return video.decode_video_stats(avis).orderBy("doc_id")


# --------------------------------------------------------------------------
# x197: GLOBAL MOTION ESTIMATION — the first stage of every video
# encoder/tracker (reference analog: the per-frame temporal loop the
# GStreamer pipeline hands to the model, run.sh:53), executed on REAL
# decoded pixels with zero codec libraries: each document becomes a
# two-frame MJPEG AVI whose second frame carries a PLANTED cyclic shift
# of (dy, dx) = ((doc_id//5)%3 − 1, doc_id%5 − 2) blocks over a grid of
# pairwise-distinct flat blocks (operators/video.py
# encode_shifted_pair_payloads). The engine demuxes the RIFF tree,
# JPEG-decodes both frames, and exhaustively block-matches a ±2×±1
# search window; distinct block values make the planted shift the
# unique SAD-zero argmin, so the oracle is the closed-form plant — the
# query only hash-matches if mux → demux → decode → search recovers
# every planted vector exactly.
@query(
    "x197_motion_vectors",
    oracle="""
    SELECT doc_id,
      CAST(doc_id % 5 - 2 AS INT) AS mv_dx_blocks,
      CAST((doc_id // 5) % 3 - 1 AS INT) AS mv_dy_blocks,
      CAST(0 AS BIGINT) AS sad_min,
      CAST(2 AS INT) AS n_frames
    FROM documents ORDER BY doc_id
    """,
)
def x197_motion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import video

    docs = table(spark, sf_dir, "documents")
    pairs = video.encode_shifted_pair_payloads(docs)
    return video.estimate_global_motion(pairs).orderBy("doc_id")


# x198: MOTION FIELD — x197's global estimator generalized to per-
# region vectors (the minimal motion SEGMENTATION a tracker/encoder
# consumes): the two halves of each synthesized frame pair carry
# INDEPENDENT planted cyclic shifts (operators/video.py
# encode_split_motion_payloads), and the engine must recover BOTH per
# video through the same demux → JPEG decode → exhaustive matching
# path. Frame-wide distinct block values make each half's argmin
# unique, so the oracle is the closed-form plant per (doc, region).
@query(
    "x198_motion_field",
    oracle="""
    SELECT doc_id, region,
      CASE WHEN region = 'left' THEN CAST(doc_id % 3 - 1 AS INT)
           ELSE CAST(doc_id % 7 % 3 - 1 AS INT) END AS mv_dx_blocks,
      CASE WHEN region = 'left' THEN CAST((doc_id // 3) % 3 - 1 AS INT)
           ELSE CAST((doc_id // 7) % 3 - 1 AS INT) END AS mv_dy_blocks,
      CAST(0 AS BIGINT) AS sad_min
    FROM documents
    CROSS JOIN (SELECT unnest(['left', 'right']) AS region)
    ORDER BY doc_id, region
    """,
)
def x198_motion_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import video

    docs = table(spark, sf_dir, "documents")
    pairs = video.encode_split_motion_payloads(docs)
    return video.estimate_motion_field(pairs).orderBy("doc_id", "region")
