"""Round-5 advanced queries (x106+): recursive/iterative graph and
statistics operators a 100 TB curation warehouse leans on — recursive
CTEs (new in Spark 4.1), closed-form linear regression from exact
decimal sums, BM25 ranking, corpus-drift profiles, Markov transition
matrices, market-basket lift, a k-means assignment step, robust
MAD-based outlier detection, frontier BFS vs a recursive-SQL oracle,
and event path mining.

Contract identical to queries/analytics.py: declarative DataFrame
plans, a DuckDB oracle with bit-identical output (decimal aggregation,
quantized ln/ratios per functions/parity.py), and a scale note per
query on why the plan survives 1000 executors.

Reference anchor: extends the metadata/curation analytics surface of
the reference pipeline (reference README.md:2, gst-detection-tf.py:
308-344) per the engine brief, same as x86-x105.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from video_streamer_spark.catalog import register_views, table
from video_streamer_spark.functions.arrays import cosine_similarity
from video_streamer_spark.functions.parity import round4
from video_streamer_spark.queries import query

_R4 = "CAST(ROUND(CAST(({}) AS DECIMAL(38,12)), 4) AS DOUBLE)"


# --------------------------------------------------------------------------
# x106: RECURSIVE CTE — hierarchical rollup with WITH RECURSIVE, the
# SQL:1999 iteration surface Spark gained in 4.x. Every supplier walks
# the synthetic ownership chain parent(s) = floor(s/10) down to a
# single-digit root, accumulating integer account-balance cents along
# the path; the result groups suppliers by chain length. The SAME SQL
# text runs on both engines (Spark executes the recursion as iterated
# union steps — each round is one broadcastable join against the
# supplier dim, so the 100 TB cost is rounds x one join, exactly the
# frontier pattern x79/x114 hand-build). All arithmetic is BIGINT
# cents — order-independent, so cross-engine hash parity is exact.
_X106_SQL = """
    WITH RECURSIVE chain AS (
      SELECT s_suppkey AS node, s_suppkey AS cur, 0 AS depth,
             CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS path_cents
      FROM supplier
      UNION ALL
      SELECT c.node AS node, s.s_suppkey AS cur, c.depth + 1 AS depth,
             c.path_cents + CAST(floor(s.s_acctbal * 100 + 0.5) AS BIGINT)
               AS path_cents
      FROM chain c
      JOIN supplier s ON s.s_suppkey = CAST(floor(c.cur / 10.0) AS BIGINT)
      WHERE c.cur >= 10
    ),
    per_node AS (
      SELECT node, MAX(depth) AS chain_len,
             max_by(path_cents, depth) AS chain_cents
      FROM chain GROUP BY node
    )
    SELECT CAST(chain_len AS INT) AS chain_len,
      CAST(COUNT(*) AS BIGINT) AS n_suppliers,
      CAST(SUM(chain_cents) AS BIGINT) AS sum_chain_cents
    FROM per_node GROUP BY chain_len ORDER BY chain_len
"""


@query("x106_recursive_chain_rollup", oracle=_X106_SQL)
def x106_recursive_chain_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_X106_SQL)


# --------------------------------------------------------------------------
# x107: LINEAR REGRESSION per group, closed-form from exact sums — the
# distributed way to fit y = a·x + b: one pass of map-side-combinable
# DECIMAL aggregates (n, Σx, Σy, Σxy, Σx², Σy² over integer cents), then
# slope/intercept/r² as driver-free scalar math on the exact sums.
# Both engines aggregate in DECIMAL(38,0) (order-independent, so the
# sums are bit-identical) and evaluate the SAME double expression tree
# on them; results are ROUND4-quantized. At 100 TB: a single partial
# aggregation, no second pass, no UDF — the same shape regr_slope()
# uses internally, made explicit and cross-engine exact.
_REG_NUM = "CAST(n * sxy - sx * sy AS DOUBLE)"
_REG_DXX = "CAST(n * sxx - sx * sx AS DOUBLE)"
_REG_DYY = "CAST(n * syy - sy * sy AS DOUBLE)"


@query(
    "x107_regression_by_nation",
    oracle=f"""
    WITH pts AS (
      SELECT n_name,
        CAST(floor(c.c_acctbal * 100 + 0.5) AS BIGINT) AS x,
        CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT) AS y
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey),
    sums AS (
      SELECT n_name,
        CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        SUM(CAST(x AS DECIMAL(38,0))) AS sx,
        SUM(CAST(y AS DECIMAL(38,0))) AS sy,
        SUM(CAST(x AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS sxy,
        SUM(CAST(x AS DECIMAL(38,0)) * CAST(x AS DECIMAL(38,0))) AS sxx,
        SUM(CAST(y AS DECIMAL(38,0)) * CAST(y AS DECIMAL(38,0))) AS syy
      FROM pts GROUP BY n_name)
    SELECT n_name, CAST(n AS BIGINT) AS n_points,
      {_R4.format(f"({_REG_NUM}) / ({_REG_DXX})")} AS slope,
      {_R4.format(
          f"(CAST(sy AS DOUBLE) - (({_REG_NUM}) / ({_REG_DXX}))"
          f" * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)"
      )} AS intercept,
      {_R4.format(
          f"(({_REG_NUM}) / (sqrt({_REG_DXX}) * sqrt({_REG_DYY})))"
          f" * (({_REG_NUM}) / (sqrt({_REG_DXX}) * sqrt({_REG_DYY})))"
      )} AS r2
    FROM sums ORDER BY n_name
    """,
)
def x107_regression_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    cents = lambda c: F.floor(F.col(c) * 100 + 0.5).cast("bigint")  # noqa: E731
    pts = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select(
            "n_name",
            cents("c_acctbal").cast("decimal(38,0)").alias("x"),
            cents("o_totalprice").cast("decimal(38,0)").alias("y"),
        )
    )
    sums = pts.groupBy("n_name").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num, dxx, dyy = (F.expr(_REG_NUM), F.expr(_REG_DXX), F.expr(_REG_DYY))
    slope = num / dxx
    r = num / (F.sqrt(dxx) * F.sqrt(dyy))
    return sums.select(
        "n_name",
        F.col("n").cast("bigint").alias("n_points"),
        round4(slope).alias("slope"),
        round4(
            (F.col("sy").cast("double") - slope * F.col("sx").cast("double"))
            / F.col("n").cast("double")
        ).alias("intercept"),
        round4(r * r).alias("r2"),
    ).orderBy("n_name")


# --------------------------------------------------------------------------
# x108: BM25 RANKING — the retrieval scoring function every corpus
# search/curation stack uses. Term frequencies come from the shared
# whitespace tokenizer (same as operators/text.tokens_col), df
# and avgdl from one corpus pass; idf = ln((N-df+0.5)/(df+0.5)+1) and
# the k1/b saturation are evaluated as the SAME double expression on
# both engines and the final score is ROUND4-quantized. Scale: tf is a
# (doc,term) groupBy over an exploded scan filtered to the query terms
# (pushdown keeps the explode narrow), df/avgdl are broadcastable
# one-row/k-row aggregates — no joins bigger than the doc count.
_BM25_TERMS = ("hash", "join", "vector", "scan")
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS_SQL = "(" + ", ".join(f"'{t}'" for t in _BM25_TERMS) + ")"


@query(
    "x108_bm25_ranking",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
    corpus AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_len FROM dl),
    tf AS (
      SELECT doc_id, w AS term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(t) AS w FROM toks)
      WHERE w IN {_BM25_TERMS_SQL}
      GROUP BY doc_id, w),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term),
    scored AS (
      SELECT tf.doc_id,
        SUM(CAST(
          CAST(ROUND(CAST(ln((CAST(c.n_docs AS DOUBLE) - df.df + 0.5)
                             / (df.df + 0.5) + 1.0)
                          AS DECIMAL(38,9)), 6) AS DECIMAL(18,6))
          AS DOUBLE)
          * (CAST(tf.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
          / (CAST(tf.tf AS DOUBLE) + {_BM25_K1}
             * (1.0 - {_BM25_B} + {_BM25_B}
                * (CAST(dl.dl AS DOUBLE)
                   / (CAST(c.total_len AS DOUBLE)
                      / CAST(c.n_docs AS DOUBLE)))))) AS score
      FROM tf
      JOIN df ON tf.term = df.term
      JOIN dl ON tf.doc_id = dl.doc_id
      CROSS JOIN corpus c
      GROUP BY tf.doc_id)
    SELECT doc_id, {_R4.format("score")} AS bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 15
    """,
)
def x108_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import tokens_col

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    dl = toks.select("doc_id", F.size("t").cast("bigint").alias("dl"))
    corpus = dl.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_len"),
    )
    tf = (
        toks.select("doc_id", F.explode("t").alias("term"))
        .where(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count("*").cast("bigint").alias("df"))
    j = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    from video_streamer_spark.functions.parity import qdec6

    idf_q = qdec6(
        F.log(
            (F.col("n_docs").cast("double") - F.col("df") + 0.5)
            / (F.col("df") + 0.5)
            + 1.0
        )
    ).cast("double")
    tf_d = F.col("tf").cast("double")
    avgdl = F.col("total_len").cast("double") / F.col("n_docs").cast("double")
    term_score = (
        idf_q
        * (tf_d * (_BM25_K1 + 1.0))
        / (
            tf_d
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * (F.col("dl").cast("double") / avgdl))
        )
    )
    return (
        j.groupBy("doc_id")
        .agg(F.sum(term_score).alias("score"))
        .select("doc_id", round4("score").alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(15)
    )


# --------------------------------------------------------------------------
# x109: CORPUS DRIFT — TF-IDF profile cosine between language corpora.
# Each lang's token-frequency profile is weighted by a quantized
# global idf (ln(n_langs/df_langs) as DECIMAL(18,6)); profile pairs are
# compared by cosine with DECIMAL numerators (weights are tf·idf_q =
# integer × fixed-point — exact, order-independent) and double sqrt
# norms evaluated identically on both engines. The drift matrix is the
# standard monitor for "did this month's crawl change distribution".
# Scale: profiles are |vocab|-row aggregates per lang — the pair join
# is vocab-sized, never corpus-sized.
@query(
    "x109_tfidf_profile_drift",
    oracle=f"""
    WITH tok AS (
      SELECT lang, unnest(list_filter(string_split(text, ' '),
                                      x -> x <> '')) AS w
      FROM documents),
    tf AS (SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM tok GROUP BY lang, w),
    nl AS (SELECT CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs FROM tf),
    dfl AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS dfl FROM tf GROUP BY w),
    wt AS (
      SELECT tf.lang, tf.w,
        CAST(tf.tf AS DECIMAL(18,6))
          * CAST(ROUND(CAST(ln(CAST(nl.n_langs AS DOUBLE) / dfl.dfl + 1.0)
                            AS DECIMAL(38,9)), 6) AS DECIMAL(18,6)) AS wgt
      FROM tf JOIN dfl ON tf.w = dfl.w CROSS JOIN nl),
    nrm AS (SELECT lang, SUM(wgt * wgt) AS n2 FROM wt GROUP BY lang),
    num AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, SUM(a.wgt * b.wgt) AS dot
      FROM wt a JOIN wt b ON a.w = b.w AND a.lang < b.lang
      GROUP BY a.lang, b.lang)
    SELECT lang_a, lang_b,
      {_R4.format(
          "CAST(num.dot AS DOUBLE) / (sqrt(CAST(na.n2 AS DOUBLE))"
          " * sqrt(CAST(nb.n2 AS DOUBLE)))"
      )} AS cosine
    FROM num
    JOIN nrm na ON num.lang_a = na.lang
    JOIN nrm nb ON num.lang_b = nb.lang
    ORDER BY lang_a, lang_b
    """,
)
def x109_tfidf_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import tokens_col

    docs = table(spark, sf_dir, "documents")
    tok = docs.select("lang", F.explode(tokens_col("text")).alias("w"))
    tf = tok.groupBy("lang", "w").agg(F.count("*").cast("bigint").alias("tf"))
    nl = tf.agg(F.countDistinct("lang").cast("bigint").alias("n_langs"))
    dfl = tf.groupBy("w").agg(F.count("*").cast("bigint").alias("dfl"))
    from video_streamer_spark.functions.parity import qdec6

    idf_q = qdec6(
        F.log(F.col("n_langs").cast("double") / F.col("dfl") + 1.0)
    )
    wt = (
        tf.join(F.broadcast(dfl), "w")
        .crossJoin(F.broadcast(nl))
        .select(
            "lang", "w", (F.col("tf").cast("decimal(18,6)") * idf_q).alias("wgt")
        )
    )
    nrm = wt.groupBy("lang").agg(F.sum(F.col("wgt") * F.col("wgt")).alias("n2"))
    a = wt.select(
        F.col("lang").alias("lang_a"), "w", F.col("wgt").alias("wa")
    )
    b = wt.select(
        F.col("lang").alias("lang_b"), "w", F.col("wgt").alias("wb")
    )
    num = (
        a.join(b, "w")
        .where(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = nrm.select(F.col("lang").alias("lang_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("lang").alias("lang_b"), F.col("n2").alias("nb2"))
    return (
        num.join(F.broadcast(na), "lang_a")
        .join(F.broadcast(nb), "lang_b")
        .select(
            "lang_a",
            "lang_b",
            round4(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("na2").cast("double"))
                    * F.sqrt(F.col("nb2").cast("double"))
                )
            ).alias("cosine"),
        )
        .orderBy("lang_a", "lang_b")
    )


# --------------------------------------------------------------------------
# x110: MARKOV TRANSITION MATRIX over event streams — P(next event type
# | current) per user journey, the standard input to funnel/abandonment
# models. One window (lead over user, time-ordered — a single shuffle
# on user_id), one groupBy for counts, probabilities as exact-count
# ratios quantized ROUND4. Scale: state space is |event_types|² — the
# output is tiny no matter the input size, and the window shuffle is
# the only data-sized exchange.
@query(
    "x110_markov_transitions",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type,
        lead(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS next_type
      FROM events),
    cnt AS (
      SELECT event_type AS from_type, next_type AS to_type,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE next_type IS NOT NULL
      GROUP BY event_type, next_type),
    tot AS (
      SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
      FROM cnt GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
      {_R4.format("CAST(c.n AS DOUBLE) / CAST(t.n_from AS DOUBLE)")} AS p
    FROM cnt c JOIN tot t ON c.from_type = t.from_type
    ORDER BY c.from_type, c.to_type
    """,
)
def x110_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    cnt = seq.groupBy("from_type", "to_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    tot = cnt.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return (
        cnt.join(F.broadcast(tot), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            round4(
                F.col("n").cast("double") / F.col("n_from").cast("double")
            ).alias("p"),
        )
        .orderBy("from_type", "to_type")
    )


# --------------------------------------------------------------------------
# x111: MARKET-BASKET LIFT — part co-occurrence within orders, the
# association-rule screen (lift > 1 ⇔ parts bought together more than
# chance). Distinct (order, part) pairs self-join on the order key with
# a key-ordering predicate (each unordered pair once); support counts
# are exact BIGINTs and lift is evaluated as the same double expression
# both sides, ROUND4. Scale: the self-join key is the order key —
# fan-out is items-per-order², bounded per order, never corpus-wide;
# the support cutoff keeps the output to actually-frequent pairs.
@query(
    "x111_basket_lift",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n_ord AS (
      SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM lineitem),
    supp AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM op
      GROUP BY l_partkey),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM op a JOIN op b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY a.l_partkey, b.l_partkey)
    SELECT part_a, part_b, c_ab,
      {_R4.format(
          "(CAST(c_ab AS DOUBLE) * CAST(n_ord.n AS DOUBLE))"
          " / (CAST(sa.c AS DOUBLE) * CAST(sb.c AS DOUBLE))"
      )} AS lift
    FROM pair
    JOIN supp sa ON pair.part_a = sa.l_partkey
    JOIN supp sb ON pair.part_b = sb.l_partkey
    CROSS JOIN n_ord
    WHERE c_ab >= 3
    ORDER BY lift DESC, part_a, part_b LIMIT 25
    """,
)
def x111_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    n_ord = li.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n"))
    supp = op.groupBy("l_partkey").agg(F.count("*").cast("bigint").alias("c"))
    a = op.select("l_orderkey", F.col("l_partkey").alias("part_a"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("part_b"))
    pair = (
        a.join(b, "l_orderkey")
        .where(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count("*").cast("bigint").alias("c_ab"))
        .where(F.col("c_ab") >= 3)
    )
    sa = supp.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    sb = supp.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pair.join(F.broadcast(sa), "part_a")
        .join(F.broadcast(sb), "part_b")
        .crossJoin(F.broadcast(n_ord))
        .select(
            "part_a",
            "part_b",
            "c_ab",
            round4(
                (F.col("c_ab").cast("double") * F.col("n").cast("double"))
                / (F.col("ca").cast("double") * F.col("cb").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "part_a", "part_b")
        .limit(25)
    )


# --------------------------------------------------------------------------
# x112: K-MEANS ASSIGNMENT STEP (spherical) — one Lloyd iteration's
# assign phase: centroids are the k=8 lowest-id embeddings
# (deterministic init), every vector joins the broadcast centroid set,
# similarity is the ROUND4-quantized cosine (same fold order as DuckDB
# list_dot_product — the q18 recipe), and argmax ties break on centroid
# id. Output is per-cluster size + mean similarity from DECIMAL sums.
# At 100 TB: the centroid side is k rows (broadcast — no shuffle of the
# vector corpus), assignment is one codegen'd pass, and the per-cluster
# stats are a map-side-combinable aggregate: exactly how distributed
# k-means scales. Full iteration = re-derive centroids from the
# cluster means (x61's centroid aggregate) and repeat.
@query(
    "x112_kmeans_assign",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS cid, embedding AS cvec FROM embeddings
      WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
        {_R4.format(
            "list_dot_product(CAST(e.embedding AS DOUBLE[]),"
            " CAST(c.cvec AS DOUBLE[]))"
            " / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
            " CAST(e.embedding AS DOUBLE[])))"
            " * sqrt(list_dot_product(CAST(c.cvec AS DOUBLE[]),"
            " CAST(c.cvec AS DOUBLE[]))))"
        )} AS sim
      FROM embeddings e CROSS JOIN cent c),
    best AS (
      SELECT vec_id, cid, sim,
        ROW_NUMBER() OVER (PARTITION BY vec_id
                           ORDER BY sim DESC, cid) AS rn
      FROM scored)
    SELECT cid AS cluster_id,
      CAST(COUNT(*) AS BIGINT) AS n_members,
      {_R4.format(
          "CAST(SUM(CAST(sim AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)"
      )} AS mean_sim
    FROM best WHERE rn = 1
    GROUP BY cid ORDER BY cluster_id
    """,
)
def x112_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    cent = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "cid",
        round4(cosine_similarity("embedding", "cvec")).alias("sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), "cid")
    best = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        best.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            (
                F.sum(F.col("sim").cast("decimal(18,6)")).cast("double")
                / F.count("*")
            ).alias("mean_sim_raw"),
        )
        .select(
            "cluster_id", "n_members", round4("mean_sim_raw").alias("mean_sim")
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# x113: ROBUST OUTLIER DETECTION (median/MAD) — the screen that
# survives heavy tails where mean/stddev z-scores drown: robust z =
# 0.6745·(x − median)/MAD. Median and MAD are exact percentiles over
# integer cents (the x87 dyadic-exact recipe), broadcast as one-row
# scalars; the flag pass is pure codegen. Two sequential exact
# aggregations + one broadcast — at 100 TB the same shape, with
# approx_percentile swapped in when a single group exceeds executor
# memory (x52's contract). The 1.33 cut sits just inside this
# corpus's uniform-tail maximum (|z|max = 0.6745*2 ~ 1.349 for a
# uniform distribution) so the query provably selects a non-empty tail.
@query(
    "x113_outlier_mad",
    oracle=f"""
    WITH cents AS (
      SELECT o_orderkey,
        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders),
    med AS (SELECT quantile_cont(c, 0.5) AS m FROM cents),
    mad AS (
      SELECT quantile_cont(abs(c - med.m), 0.5) AS d
      FROM cents, med)
    SELECT o_orderkey,
      {_R4.format("c / 100.0")} AS totalprice,
      {_R4.format("0.6745 * (c - med.m) / mad.d")} AS robust_z
    FROM cents, med, mad
    WHERE abs(0.6745 * (c - med.m) / mad.d) > 1.33
    ORDER BY robust_z DESC, o_orderkey LIMIT 20
    """,
)
def x113_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("c"),
    )
    med = cents.agg(F.percentile("c", F.lit(0.5)).alias("m"))
    mad = cents.crossJoin(F.broadcast(med)).agg(
        F.percentile(F.abs(F.col("c") - F.col("m")), F.lit(0.5)).alias("d")
    )
    z = 0.6745 * (F.col("c") - F.col("m")) / F.col("d")
    return (
        cents.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mad))
        .where(F.abs(z) > 1.33)
        .select(
            "o_orderkey",
            round4(F.col("c") / 100.0).alias("totalprice"),
            round4(z).alias("robust_z"),
        )
        .orderBy(F.col("robust_z").desc(), "o_orderkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# x114: BFS OVER THE BASKET GRAPH — minimum hop counts from the lowest
# part key through "bought in the same order" edges, bounded to 3 hops.
# The Spark side is FRONTIER EXPANSION with per-round dedup (visited
# anti-join): each round shuffles only the frontier×degree candidate
# set, so the cost is O(edges touched), never O(paths) — the form that
# survives 100 TB graphs (same family as x45's components and x79's
# pointer jumping; BFS adds distance semantics). The ORACLE is a
# recursive CTE that enumerates paths and minimizes afterwards — an
# independent formulation whose agreement checks the frontier
# algorithm, not a re-implementation.
@query(
    "x114_bfs_hops",
    oracle="""
    WITH RECURSIVE pairs AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
    walk AS (
      SELECT (SELECT MIN(l_partkey) FROM lineitem) AS node, 0 AS dist
      UNION ALL
      SELECT p.dst AS node, w.dist + 1 AS dist
      FROM walk w JOIN pairs p ON p.src = w.node
      WHERE w.dist < 3),
    best AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY node)
    SELECT CAST(dist AS INT) AS dist, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM best GROUP BY dist ORDER BY dist
    """,
)
def x114_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a = op.select("l_orderkey", F.col("l_partkey").alias("src"))
    b = op.select("l_orderkey", F.col("l_partkey").alias("dst"))
    edges = (
        a.join(b, "l_orderkey")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
        # materialize the edge list once: every BFS round probes it, and
        # without this each round re-runs the pair self-join + distinct
        # (measured 3x the query cost at sf0.1)
        .localCheckpoint(eager=True)
    )
    # source = global min part key: a 1-row action fixing a query
    # parameter (like similarity.py's centroid fetch), not a data path
    src = li.agg(F.min("l_partkey")).first()[0]
    visited = li.sparkSession.createDataFrame(
        [(int(src), 0)], "node bigint, dist int"
    )
    frontier = visited
    for d in range(1, 4):
        candidates = (
            frontier.join(edges, frontier["node"] == edges["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        new = candidates.join(visited, "node", "left_anti").select(
            "node", F.lit(d).alias("dist")
        )
        # cut lineage so round N+1's plan doesn't re-run rounds 1..N
        new = new.localCheckpoint(eager=True)
        visited = visited.union(new)
        frontier = new
    return (
        visited.groupBy("dist")
        .agg(F.count("*").cast("bigint").alias("n_nodes"))
        .orderBy("dist")
    )


# --------------------------------------------------------------------------
# x115: EVENT PATH MINING — top event-type trigrams across user
# journeys (the "what do users actually do" sequence report). Two leads
# over one (user, time) window — a single shuffle — then a count. The
# path space is |event_types|³ so the aggregate output is tiny at any
# input scale.
@query(
    "x115_event_trigrams",
    oracle="""
    WITH seq AS (
      SELECT event_type AS w1,
        lead(event_type, 1) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS w2,
        lead(event_type, 2) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS w3
      FROM events)
    SELECT w1 || '>' || w2 || '>' || w3 AS path,
      CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE w2 IS NOT NULL AND w3 IS NOT NULL
    GROUP BY path ORDER BY n DESC, path LIMIT 10
    """,
)
def x115_event_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("w1"),
        F.lead("event_type", 1).over(w).alias("w2"),
        F.lead("event_type", 2).over(w).alias("w3"),
    ).where(F.col("w2").isNotNull() & F.col("w3").isNotNull())
    return (
        seq.select(
            F.concat_ws(">", "w1", "w2", "w3").alias("path")
        )
        .groupBy("path")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "path")
        .limit(10)
    )


# --------------------------------------------------------------------------
# x116: SQL SCRIPTING + SESSION VARIABLES (Spark 4.1 BEGIN/END,
# DECLARE/SET, WHILE/IF) — procedural control flow INSIDE the engine,
# no driver round-trips per step: a binary search over integer price
# cents for the exact top-K admission threshold (min t with
# count(cents > t) < K). Each probe is one scan-aggregate; 26
# iterations pin the 2^26-cent range. The ORACLE is the closed form —
# the K-th largest order statistic — an independent derivation, so the
# hash check proves the control flow converged to the right answer.
# Scale note: the script form is the API-coverage demo; the production
# form IS the oracle's order statistic (one top-K pass, x59's shape).
_X116_K = 1000


@query(
    "x116_scripted_threshold_search",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
      FROM orders),
    kth AS (SELECT c FROM cents ORDER BY c DESC LIMIT 1 OFFSET {_X116_K - 1})
    SELECT kth.c AS threshold_cents,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM cents WHERE c > kth.c)
        AS n_above
    FROM kth
    """,
)
def x116_scripted_threshold_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(f"""
    BEGIN
      DECLARE lo BIGINT DEFAULT 0;
      DECLARE hi BIGINT DEFAULT 67108864;
      DECLARE mid BIGINT;
      DECLARE cnt BIGINT;
      WHILE lo < hi DO
        SET mid = (lo + hi) DIV 2;
        SET cnt = (SELECT COUNT(*) FROM orders
                   WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                         > mid);
        IF cnt < {_X116_K} THEN
          SET hi = mid;
        ELSE
          SET lo = mid + 1;
        END IF;
      END WHILE;
      SELECT lo AS threshold_cents,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
         WHERE CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) > lo)
          AS n_above;
    END
    """)


# --------------------------------------------------------------------------
# x117: DATA-QUALITY AUDIT — the expectations pass every ingest runs
# before data is trusted: referential integrity (anti-join), null/empty
# checks, domain-range checks, duplicate-key checks, each as one
# aggregate over its table, unioned into a single report. Checks that
# pass with 0 violations are part of the contract (the audit proves
# absence, not just presence). Scale: every check is a scan-local
# aggregate or a broadcast/shuffle anti-join on a key — nothing
# quadratic; at 100 TB the audits union into ONE multi-scan job.
@query(
    "x117_data_quality_audit",
    oracle="""
    SELECT 'customer_acctbal_negative' AS check_name,
      CAST(COUNT(*) FILTER (WHERE c_acctbal < 0) AS BIGINT) AS n_violations,
      CAST(COUNT(*) AS BIGINT) AS n_checked
    FROM customer
    UNION ALL
    SELECT 'document_text_empty',
      CAST(COUNT(*) FILTER (WHERE text IS NULL OR text = '') AS BIGINT),
      CAST(COUNT(*) AS BIGINT)
    FROM documents
    UNION ALL
    SELECT 'lineitem_discount_range',
      CAST(COUNT(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1)
           AS BIGINT),
      CAST(COUNT(*) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders_duplicate_pk',
      CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
      CAST(COUNT(*) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'orders_orphan_custkey',
      (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o
       WHERE NOT EXISTS (SELECT 1 FROM customer c
                         WHERE c.c_custkey = o.o_custkey)),
      CAST(COUNT(*) AS BIGINT)
    FROM orders
    ORDER BY check_name
    """,
)
def x117_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    docs = table(spark, sf_dir, "documents")
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")

    def check(df: DataFrame, name: str, cond) -> DataFrame:
        return df.agg(
            F.lit(name).alias("check_name"),
            F.count_if(cond).cast("bigint").alias("n_violations"),
            F.count("*").cast("bigint").alias("n_checked"),
        )

    orphans = (
        orders.join(
            cust.select("c_custkey"),
            orders["o_custkey"] == F.col("c_custkey"),
            "left_anti",
        )
        .agg(F.count("*").cast("bigint").alias("n_violations"))
        .crossJoin(
            orders.agg(F.count("*").cast("bigint").alias("n_checked"))
        )
        .select(
            F.lit("orders_orphan_custkey").alias("check_name"),
            "n_violations",
            "n_checked",
        )
    )
    dup_pk = orders.agg(
        F.lit("orders_duplicate_pk").alias("check_name"),
        (F.count("*") - F.countDistinct("o_orderkey"))
        .cast("bigint")
        .alias("n_violations"),
        F.count("*").cast("bigint").alias("n_checked"),
    )
    report = (
        check(cust, "customer_acctbal_negative", F.col("c_acctbal") < 0)
        .unionAll(
            check(
                docs,
                "document_text_empty",
                F.col("text").isNull() | (F.col("text") == ""),
            )
        )
        .unionAll(
            check(
                li,
                "lineitem_discount_range",
                (F.col("l_discount") < 0) | (F.col("l_discount") > 0.1),
            )
        )
        .unionAll(dup_pk)
        .unionAll(orphans)
    )
    return report.orderBy("check_name")


# --------------------------------------------------------------------------
# x118: LINEAR INTERPOLATION GAP FILL — reconstruct a daily series from
# sparse observations (every 3rd day kept, deterministically), the
# standard time-series repair before modeling. Bracketing observations
# come from IGNORE NULLS window fills in BOTH directions (one sort per
# direction over the per-type spine — tiny relative to the event scan);
# the interpolation weight is exact integer day arithmetic and the
# value math is the same double expression on both engines, ROUND4.
# Edges clamp to the nearest observation. Scale: the spine is
# |types|×|days| rows — window state per partition is one row; the
# heavy side (raw events → daily sums) is a single map-side-combinable
# aggregate in DECIMAL.
@query(
    "x118_linear_interpolation",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d,
        SUM(CAST(value AS DECIMAL(18,6))) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)),
    bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM daily),
    spine AS (
      SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE)
        AS d
      FROM bounds),
    grid AS (
      SELECT t.event_type, s.d
      FROM spine s CROSS JOIN (SELECT DISTINCT event_type FROM daily) t),
    obs AS (
      SELECT g.event_type, g.d,
        CASE WHEN day(g.d) % 3 = 0 THEN dl.v END AS v_obs
      FROM grid g LEFT JOIN daily dl
        ON g.event_type = dl.event_type AND g.d = dl.d),
    br AS (
      SELECT event_type, d, v_obs,
        last_value(v_obs IGNORE NULLS) OVER w_prev AS v_prev,
        last_value(CASE WHEN v_obs IS NOT NULL THEN d END IGNORE NULLS)
          OVER w_prev AS d_prev,
        first_value(v_obs IGNORE NULLS) OVER w_next AS v_next,
        first_value(CASE WHEN v_obs IS NOT NULL THEN d END IGNORE NULLS)
          OVER w_next AS d_next
      FROM obs
      WINDOW w_prev AS (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             w_next AS (PARTITION BY event_type ORDER BY d
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT event_type, CAST(d AS VARCHAR) AS day,
      {_R4.format(
          "CASE"
          " WHEN v_obs IS NOT NULL THEN CAST(v_obs AS DOUBLE)"
          " WHEN v_prev IS NULL THEN CAST(v_next AS DOUBLE)"
          " WHEN v_next IS NULL THEN CAST(v_prev AS DOUBLE)"
          " ELSE CAST(v_prev AS DOUBLE)"
          " + (CAST(v_next AS DOUBLE) - CAST(v_prev AS DOUBLE))"
          " * (CAST(date_diff('day', d_prev, d) AS DOUBLE)"
          "    / CAST(date_diff('day', d_prev, d_next) AS DOUBLE))"
          " END"
      )} AS value,
      CAST(v_obs IS NULL AS BOOLEAN) AS interpolated
    FROM br
    ORDER BY event_type, day
    """,
)
def x118_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec

    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.sum(dec("value")).alias("v"))
    bounds = daily.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    types = daily.select("event_type").distinct()
    grid = spine.crossJoin(F.broadcast(types))
    obs = grid.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        "d",
        F.when(F.dayofmonth("d") % 3 == 0, F.col("v")).alias("v_obs"),
    )
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    d_obs = F.when(F.col("v_obs").isNotNull(), F.col("d"))
    br = obs.select(
        "event_type",
        "d",
        "v_obs",
        F.last("v_obs", ignorenulls=True).over(w_prev).alias("v_prev"),
        F.last(d_obs, ignorenulls=True).over(w_prev).alias("d_prev"),
        F.first("v_obs", ignorenulls=True).over(w_next).alias("v_next"),
        F.first(d_obs, ignorenulls=True).over(w_next).alias("d_next"),
    )
    frac = F.datediff("d", "d_prev").cast("double") / F.datediff(
        "d_next", "d_prev"
    ).cast("double")
    value = (
        F.when(F.col("v_obs").isNotNull(), F.col("v_obs").cast("double"))
        .when(F.col("v_prev").isNull(), F.col("v_next").cast("double"))
        .when(F.col("v_next").isNull(), F.col("v_prev").cast("double"))
        .otherwise(
            F.col("v_prev").cast("double")
            + (F.col("v_next").cast("double") - F.col("v_prev").cast("double"))
            * frac
        )
    )
    return br.select(
        "event_type",
        F.col("d").cast("string").alias("day"),
        round4(value).alias("value"),
        F.col("v_obs").isNull().alias("interpolated"),
    ).orderBy("event_type", "day")


# --------------------------------------------------------------------------
# x119: MP4 (ISO BMFF) DECODE END TO END — x105's workload through the
# OTHER mainstream container: documents become 3-frame MJPEG MP4s
# (operators/mp4.py muxes ftyp/mdat/moov with real stsd/stts/stsc/
# stsz/stco sample tables), the engine probes the container metadata
# WITHOUT decoding (the scan-time inventory pass a video lake runs to
# route payloads), then demuxes via the full sample-table walk and
# decodes every frame through the real JPEG path. Flat-block exactness
# (x104) keeps every decoded pixel a closed-form function of the text
# column, so whole-video statistics AND the probed metadata are
# SQL-oracle-checkable. Inter-coded tracks (avc1/hev1) refuse by
# fourcc — the codec boundary, not the container, is the env limit.
@query(
    "x119_decode_mp4_stats",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 96), 96, '.') AS s FROM documents)
    SELECT doc_id, 'jpeg' AS codec, CAST(3 AS INT) AS n_samples,
      CAST(120 AS INT) AS duration_ms,
      CAST(3 AS INT) AS n_frames,
      CAST(64 AS INT) AS width, CAST(32 AS INT) AS height,
      CAST(192 * list_sum(list_transform(range(1, 97),
           i -> ascii(substr(s, i, 1)))) AS BIGINT) AS pixel_sum,
      CAST(ascii(substr(s, 65, 1)) AS INT) AS last_top_left
    FROM body ORDER BY doc_id
    """,
)
def x119_decode_mp4_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import video

    docs = table(spark, sf_dir, "documents")
    mp4s = video.encode_mjpeg_payloads(
        docs, n_frames=3, blocks_w=8, blocks_h=4, container="mp4"
    )
    probe = video.probe_video_metadata(mp4s).select(
        "doc_id", "codec", "n_samples", "duration_ms"
    )
    stats = video.decode_video_stats(mp4s).select(
        "doc_id", "n_frames", "width", "height", "pixel_sum", "last_top_left"
    )
    return probe.join(stats, "doc_id").orderBy("doc_id")


# --------------------------------------------------------------------------
# x120: SEQUENCE MINING over journey strings — each user's time-ordered
# event types concatenate into one string (Spark: sort_array(collect_
# list(struct)) so concatenation order is shuffle-independent; DuckDB:
# string_agg ORDER BY), then funnel occurrences are counted with pure
# substring arithmetic ((len - len(replace))/len(pattern)) — no regex
# engine in the hot path, so both engines agree byte-for-byte. This is
# the MATCH_RECOGNIZE-lite complement of x58's window-funnel: string-
# encoded sequences support arbitrary contiguous patterns at the cost
# of one groupBy. Scale: one shuffle to assemble journeys (bounded by
# events-per-user), then scan-local string math.
_X120_PAT = "view>click>purchase"


@query(
    "x120_journey_pattern_count",
    oracle=f"""
    WITH j AS (
      SELECT user_id,
        string_agg(event_type, '>' ORDER BY ts, event_id) AS journey
      FROM events GROUP BY user_id)
    SELECT user_id,
      CAST((length(journey) - length(replace(journey, '{_X120_PAT}', '')))
           / {len(_X120_PAT)} AS BIGINT) AS n_funnels
    FROM j
    WHERE length(journey) - length(replace(journey, '{_X120_PAT}', '')) > 0
    ORDER BY n_funnels DESC, user_id LIMIT 15
    """,
)
def x120_journey_pattern_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    j = (
        ev.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct("ts", "event_id", "event_type")
                        )
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("journey")
        )
    )
    occ = (
        F.length("journey")
        - F.length(F.replace(F.col("journey"), F.lit(_X120_PAT)))
    ) / len(_X120_PAT)
    return (
        j.select("user_id", occ.cast("bigint").alias("n_funnels"))
        .where(F.col("n_funnels") > 0)
        .orderBy(F.col("n_funnels").desc(), "user_id")
        .limit(15)
    )


# --------------------------------------------------------------------------
# x121: BENFORD'S LAW AUDIT — the classic forensic screen on financial
# columns: the leading-digit distribution of order totals against the
# ln(1+1/d)/ln(10) expectation, with per-digit chi-square
# contributions. The leading digit comes from string math on the
# integer part (engine-stable); expectations and contributions are the
# same double expressions quantized to ROUND4 after a guard-digit
# qdec6 quantization of the Benford probability (parity.py). One
# scan, one 9-row aggregate — audit cost is scan-bound at any scale.
@query(
    "x121_benford_digit_audit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS digit
      FROM orders WHERE o_totalprice >= 1),
    cnt AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs FROM d
      GROUP BY digit),
    tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS n FROM cnt)
    SELECT digit, n_obs,
      {_R4.format(
          "CAST(ROUND(CAST(ln(1.0 + 1.0 / digit) / ln(10.0) AS DECIMAL(38,9)), 6)"
          " AS DOUBLE) * tot.n"
      )} AS expected,
      {_R4.format(
          "(CAST(n_obs AS DOUBLE)"
          " - CAST(ROUND(CAST(ln(1.0 + 1.0 / digit) / ln(10.0) AS DECIMAL(38,9)), 6)"
          "   AS DOUBLE) * tot.n)"
          " * (CAST(n_obs AS DOUBLE)"
          " - CAST(ROUND(CAST(ln(1.0 + 1.0 / digit) / ln(10.0) AS DECIMAL(38,9)), 6)"
          "   AS DOUBLE) * tot.n)"
          " / (CAST(ROUND(CAST(ln(1.0 + 1.0 / digit) / ln(10.0) AS DECIMAL(38,9)), 6)"
          "    AS DOUBLE) * tot.n)"
      )} AS chi2_term
    FROM cnt CROSS JOIN tot
    ORDER BY digit
    """,
)
def x121_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    d = orders.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    cnt = d.groupBy("digit").agg(F.count("*").cast("bigint").alias("n_obs"))
    tot = cnt.agg(F.sum("n_obs").cast("bigint").alias("n"))
    from video_streamer_spark.functions.parity import qdec6

    p_q = qdec6(
        F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    ).cast("double")
    expected = p_q * F.col("n")
    dev = F.col("n_obs").cast("double") - expected
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_obs",
            round4(expected).alias("expected"),
            round4(dev * dev / expected).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# --------------------------------------------------------------------------
# x122: GROUP BY ALL / ORDER BY ALL — the analyst-ergonomics syntax
# both engines now share; the SAME SQL text runs on Spark and DuckDB,
# pinning that Spark's inference of grouping columns (every non-
# aggregate select item) matches the standard semantics. Decimal cents
# keep the aggregate exact.
_X122_SQL = """
    SELECT l_returnflag, l_linestatus,
      CAST(COUNT(*) AS BIGINT) AS n_items,
      CAST(SUM(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
           AS BIGINT) AS sum_cents
    FROM lineitem
    GROUP BY ALL
    ORDER BY ALL
"""


@query("x122_group_by_all", oracle=_X122_SQL)
def x122_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_X122_SQL)


# --------------------------------------------------------------------------
# x123: NULL-SAFE JOIN SEMANTICS — Spark's <=> against DuckDB's IS NOT
# DISTINCT FROM: a nullable bucket key (NULLIF) joined null-safely to
# its own distinct dim, so the NULL-key rows MATCH the NULL dim row
# instead of silently dropping (the classic plain-equi-join bug this
# operator exists to avoid). Output ordered NULLS FIRST — the ordering
# semantics both engines must agree on for the hash check to pass.
# Scale: the dim is ≤6 rows (broadcast); null-safe equality compiles
# to the same hash-join path as = (null hashes to a bucket).
@query(
    "x123_null_safe_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey, NULLIF(c_nationkey % 5, 0) AS k,
        CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer),
    dim AS (SELECT DISTINCT k FROM c)
    SELECT dim.k,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(c.cents) AS BIGINT) AS sum_cents
    FROM c JOIN dim ON c.k IS NOT DISTINCT FROM dim.k
    GROUP BY dim.k
    ORDER BY dim.k NULLS FIRST
    """,
)
def x123_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = table(spark, sf_dir, "customer")
    c = cust.select(
        "c_custkey",
        F.nullif(F.col("c_nationkey") % 5, F.lit(0)).alias("k"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    dim = c.select("k").distinct()
    return (
        c.join(F.broadcast(dim.withColumnRenamed("k", "dk")), F.col("k").eqNullSafe(F.col("dk")))
        .groupBy(F.col("dk").alias("k"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy(F.col("k").asc_nulls_first())
    )


# --------------------------------------------------------------------------
# x124: AUDIO WINDOW FEATURES — the framing step every audio featurizer
# starts with: decoded PCM split into fixed 16-sample windows, per
# window the energy (Σ sample², exact int64) and threshold crossings
# (sign changes around mid-scale). WAVs are the x74 text-byte clips, so
# the oracle recomputes every window from first principles in SQL: the
# k-th sample is ascii(c_{2k+1}) + 256·ascii(c_{2k+2}). Integer-exact
# end to end; the per-clip windowing never leaves the executor.
@query(
    "x124_audio_window_features",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 128), 128, '.') AS s
      FROM documents),
    samp AS (
      SELECT doc_id,
        list_transform(range(64),
          i -> ascii(substr(s, 2*i + 1, 1))
               + 256 * ascii(substr(s, 2*i + 2, 1))) AS v
      FROM body),
    win AS (
      SELECT doc_id, CAST(w AS INT) AS win_idx, v
      FROM samp, (SELECT unnest(range(4)) AS w))
    SELECT doc_id, win_idx,
      CAST(list_sum(list_transform(range(16),
           i -> CAST(v[16*win_idx + i + 1] AS BIGINT)
                * v[16*win_idx + i + 1])) AS BIGINT) AS energy,
      CAST(list_sum(list_transform(range(15),
           i -> CASE WHEN (v[16*win_idx + i + 1] >= 16384)
                       <> (v[16*win_idx + i + 2] >= 16384)
                     THEN 1 ELSE 0 END)) AS INT) AS crossings
    FROM win
    ORDER BY doc_id, win_idx
    """,
)
def x124_audio_window_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import multimodal

    docs = table(spark, sf_dir, "documents")
    wavs = multimodal.encode_wav_payloads(docs, n_bytes=128)
    return multimodal.audio_window_features(wavs, win=16).orderBy(
        "doc_id", "win_idx"
    )


# --------------------------------------------------------------------------
# x125: NATIVE SESSION WINDOWS in batch — F.session_window, the
# gap-merge API Spark shares between batch and streaming (x15's
# streaming twin), against an independent islands formulation in SQL
# (lag → new-session flag at gap >= 30 min → running sum). Session
# identity is pinned by exact epoch-microsecond integers, so the hash
# check proves the native operator's merge semantics (new session iff
# gap >= threshold) match the hand-built islands exactly. Scale: one
# shuffle on user_id either way; session_window's merge is sort-local.
_X125_GAP_US = 1_800_000_000


@query(
    "x125_session_window_native",
    oracle=f"""
    WITH lagged AS (
      SELECT user_id, ts,
        LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
          AS prev_ts
      FROM events),
    flagged AS (
      SELECT user_id, ts,
        CASE WHEN prev_ts IS NULL
                  OR epoch_us(ts) - epoch_us(prev_ts) >= {_X125_GAP_US}
             THEN 1 ELSE 0 END AS is_new
      FROM lagged),
    sess AS (
      SELECT user_id, ts,
        SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS sid
      FROM flagged)
    SELECT user_id,
      CAST(MIN(epoch_us(ts)) AS BIGINT) AS start_us,
      CAST(MAX(epoch_us(ts)) AS BIGINT) AS end_us,
      CAST(COUNT(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    ORDER BY user_id, start_us
    """,
)
def x125_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "user_id", F.session_window("ts", "1800 seconds").alias("sw")
        )
        .agg(
            F.unix_micros(F.min("ts")).alias("start_us"),
            F.unix_micros(F.max("ts")).alias("end_us"),
            F.count("*").cast("bigint").alias("n_events"),
        )
        .select("user_id", "start_us", "end_us", "n_events")
        .orderBy("user_id", "start_us")
    )


# --------------------------------------------------------------------------
# x126: SPATIAL NEAREST-NEIGHBOR ASSIGNMENT — every customer routes to
# its nearest warehouse on a planar integer-centidegree grid
# (coordinates derived deterministically from keys; squared euclidean
# distance in exact BIGINT, so cross-engine parity is bit-level — the
# metric is a pluggable expression, production swaps haversine into
# the same plan). Broadcast the warehouse dim, codegen the distance,
# WindowGroupLimit argmin per customer, aggregate per warehouse. At
# 100 TB with a data-sized right side, the same query rides grid-cell
# blocking (join on cell id + neighbor cells — the spatial analog of
# the LSH bucket join) instead of the broadcast.
@query(
    "x126_spatial_nearest_warehouse",
    oracle="""
    WITH cust AS (
      SELECT c_custkey,
        (c_custkey * 37) % 17000 - 8500 AS lat,
        (c_custkey * 91) % 36000 - 18000 AS lon
      FROM customer),
    wh AS (
      SELECT s_suppkey,
        (s_suppkey * 53) % 17000 - 8500 AS lat,
        (s_suppkey * 71) % 36000 - 18000 AS lon
      FROM supplier),
    scored AS (
      SELECT c.c_custkey, w.s_suppkey,
        (c.lat - w.lat) * (c.lat - w.lat)
          + (c.lon - w.lon) * (c.lon - w.lon) AS dist2
      FROM cust c CROSS JOIN wh w),
    best AS (
      SELECT c_custkey, s_suppkey, dist2,
        ROW_NUMBER() OVER (PARTITION BY c_custkey
                           ORDER BY dist2, s_suppkey) AS rn
      FROM scored)
    SELECT s_suppkey AS warehouse,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(MIN(dist2) AS BIGINT) AS min_dist2,
      CAST(SUM(dist2) AS BIGINT) AS sum_dist2
    FROM best WHERE rn = 1
    GROUP BY s_suppkey ORDER BY warehouse
    """,
)
def x126_spatial_nearest_warehouse(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    cust = table(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 17000 - 8500).alias("clat"),
        ((F.col("c_custkey") * 91) % 36000 - 18000).alias("clon"),
    )
    wh = table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") * 53) % 17000 - 8500).alias("wlat"),
        ((F.col("s_suppkey") * 71) % 36000 - 18000).alias("wlon"),
    )
    dlat = F.col("clat") - F.col("wlat")
    dlon = F.col("clon") - F.col("wlon")
    scored = cust.crossJoin(F.broadcast(wh)).select(
        "c_custkey", "s_suppkey", (dlat * dlat + dlon * dlon).alias("dist2")
    )
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    best = scored.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") == 1
    )
    return (
        best.groupBy(F.col("s_suppkey").alias("warehouse"))
        .agg(
            F.count("*").cast("bigint").alias("n_customers"),
            F.min("dist2").cast("bigint").alias("min_dist2"),
            F.sum("dist2").cast("bigint").alias("sum_dist2"),
        )
        .orderBy("warehouse")
    )


# --------------------------------------------------------------------------
# x127: MAP HIGHER-ORDER FUNCTIONS — the map-typed column surface
# (map_from_arrays, transform_values, map_filter, explode of a map):
# per-doc token-count maps built as pure row-local expressions, values
# reweighted by key length, low-weight entries filtered INSIDE the map,
# then exploded back to rows. The ORACLE never builds a map — it
# recomputes the surviving (doc, token, weight) rows from the token
# relation directly, so agreement pins the map semantics (key
# uniqueness, value transformation, entry filtering), not a
# re-implementation. Scale: everything before the final sort is
# row-local codegen — zero shuffles besides the output order.
@query(
    "x127_map_functions",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                                        x -> x <> '')) AS token
      FROM documents),
    cnt AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY doc_id, token)
    SELECT doc_id, token,
      CAST(c * length(token) AS BIGINT) AS weight
    FROM cnt
    WHERE c * length(token) >= 40
    ORDER BY doc_id, token
    """,
)
def x127_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import tokens_col

    docs = table(spark, sf_dir, "documents")
    t = tokens_col("text")
    uniq = F.array_distinct(t)
    counts = F.transform(
        uniq, lambda x: F.size(F.filter(t, lambda y: y == x)).cast("bigint")
    )
    m = F.map_from_arrays(uniq, counts)
    weighted = F.map_filter(
        F.transform_values(m, lambda k, v: v * F.length(k)),
        lambda k, v: v >= 40,
    )
    return (
        docs.select("doc_id", F.explode(weighted).alias("token", "weight"))
        .orderBy("doc_id", "token")
    )


# --------------------------------------------------------------------------
# x128: UNION BY NAME — schema-aligned set union (the schema-evolution
# union: columns match by NAME, not position, and columns missing on
# one side null-fill). Two differently-shaped projections of orders —
# one keyed by priority, one by status with an extra column — combine
# via unionByName(allowMissingColumns=True); DuckDB runs its native
# UNION ALL BY NAME. Exact bigint cents; agreement pins the name
# alignment + null-fill semantics. Scale: union is a zero-shuffle plan
# node; only the final rollup exchanges.
@query(
    "x128_union_by_name",
    oracle="""
    WITH u AS (
      SELECT o_orderpriority AS grp,
        CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus = 'F'
      UNION ALL BY NAME
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        o_orderstatus AS grp, o_orderkey AS okey
      FROM orders WHERE o_orderstatus <> 'F')
    SELECT grp,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(COUNT(okey) AS BIGINT) AS n_with_key,
      CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM u GROUP BY grp ORDER BY grp
    """,
)
def x128_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
    a = orders.where(F.col("o_orderstatus") == "F").select(
        F.col("o_orderpriority").alias("grp"), cents.alias("cents")
    )
    b = orders.where(F.col("o_orderstatus") != "F").select(
        cents.alias("cents"),
        F.col("o_orderstatus").alias("grp"),
        F.col("o_orderkey").alias("okey"),
    )
    u = a.unionByName(b, allowMissingColumns=True)
    return (
        u.groupBy("grp")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            F.count("okey").cast("bigint").alias("n_with_key"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# x129: DECODE QUARANTINE REPORT — the ingest-reliability loop: a feed
# where every 10th video is deliberately truncated runs through
# decode_video_stats(skip_corrupt=True), corrupt payloads isolate into
# the error column instead of killing the stage, and the report rolls
# up good/bad counts and the decoded pixel volume. The oracle knows
# exactly which doc_ids were corrupted (closed form), so hash parity
# proves per-row isolation — no healthy row lost, no corrupt row
# silently decoded. Same philosophy as x101's try_parse_json, applied
# to the binary decode path.
@query(
    "x129_decode_quarantine_report",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 96), 96, '.') AS s
      FROM documents),
    per_doc AS (
      SELECT doc_id,
        CASE WHEN doc_id % 10 = 0 THEN NULL
             ELSE 192 * list_sum(list_transform(range(1, 97),
                  i -> ascii(substr(s, i, 1)))) END AS pixel_sum,
        CAST(doc_id % 10 = 0 AS BOOLEAN) AS corrupt
      FROM body)
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_videos,
      CAST(COUNT(*) FILTER (WHERE NOT corrupt) AS BIGINT) AS n_decoded,
      CAST(COUNT(*) FILTER (WHERE corrupt) AS BIGINT) AS n_quarantined,
      CAST(SUM(pixel_sum) AS BIGINT) AS total_pixel_sum
    FROM per_doc
    """,
)
def x129_decode_quarantine_report(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators import video

    docs = table(spark, sf_dir, "documents")
    vids = video.encode_mjpeg_payloads(
        docs, n_frames=3, blocks_w=8, blocks_h=4
    )
    # deterministic corruption: every 10th payload truncated to 40
    # bytes (a torn write — the RIFF header survives, the movi list
    # does not)
    feed = vids.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 10 == 0,
            F.substring(F.col("payload"), 1, 40),
        )
        .otherwise(F.col("payload"))
        .alias("payload"),
    )
    stats = video.decode_video_stats(feed, skip_corrupt=True)
    return stats.agg(
        F.count("*").cast("bigint").alias("n_videos"),
        F.count_if(F.col("error").isNull()).cast("bigint").alias("n_decoded"),
        F.count_if(F.col("error").isNotNull())
        .cast("bigint")
        .alias("n_quarantined"),
        F.sum("pixel_sum").cast("bigint").alias("total_pixel_sum"),
    )


# --------------------------------------------------------------------------
# x130: TIME-INTERVAL RANGE FRAMES — trailing one-hour sums per user
# with RANGE BETWEEN INTERVAL ... PRECEDING (the event-time frame; x40
# covers numeric RANGE). Peers (equal timestamps) share frames by
# RANGE semantics on both engines; sums are DECIMAL-exact. One shuffle
# on user_id; frame evaluation is sort-local with a sliding two-pointer
# — linear per partition at any scale.
@query(
    "x130_time_range_frame",
    oracle="""
    SELECT event_id,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        AS DOUBLE) AS hour_sum
    FROM events WHERE user_id < 10
    ORDER BY event_id
    """,
)
def x130_time_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(F.col("user_id") < 10)
    ev.createOrReplaceTempView("x130_events")
    return spark.sql("""
    SELECT event_id,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
        PARTITION BY user_id ORDER BY ts
        RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
        AS DOUBLE) AS hour_sum
    FROM x130_events
    ORDER BY event_id
    """)


# --------------------------------------------------------------------------
# x131: CUSTOM-COMPARATOR ARRAY SORT — array_sort with a lambda
# comparator (length DESC, then lexicographic ASC), the Spark-side
# spelling of "sort by computed key"; the ORACLE reaches the same
# order through an independent mechanism — DuckDB sorts (-(length), w)
# key structs and projects back — so agreement pins the comparator
# semantics, not its implementation. Row-local codegen; no shuffle
# except output order.
@query(
    "x131_array_custom_sort",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
        list_distinct(list_filter(string_split(text, ' '), x -> x <> ''))
          AS t
      FROM documents),
    sorted_t AS (
      SELECT doc_id,
        list_transform(
          list_sort(list_transform(t,
            w -> struct_pack(neg_len := -length(w), w := w))),
          s -> s.w) AS s
      FROM toks)
    SELECT doc_id,
      array_to_string(s[1:5], '|') AS top5_longest
    FROM sorted_t ORDER BY doc_id
    """,
)
def x131_array_custom_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    cmp_sql = (
        "array_sort(array_distinct({t}), (l, r) -> CASE"
        " WHEN length(l) > length(r) THEN -1"
        " WHEN length(l) < length(r) THEN 1"
        " WHEN l < r THEN -1 WHEN l > r THEN 1 ELSE 0 END)"
    )
    return docs.select(
        "doc_id",
        F.array_join(
            F.slice(
                F.expr(
                    cmp_sql.format(t="filter(split(text, ' '), x -> x != '')")
                ),
                1,
                5,
            ),
            "|",
        ).alias("top5_longest"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x132: PII SCRUB PASS — the redaction step every public-corpus
# curation pipeline runs before training. Synthetic emails are planted
# deterministically (every 7th doc gets "contact-<id>@example.com"
# appended), then scrubbed with a conservative character-class regex
# (no alternation/lookaround, so Java regex and RE2 agree exactly);
# the report counts redactions and byte deltas. The oracle plants the
# same emails and computes the scrub in closed form. Scan-local string
# work — scales with bytes, no shuffle besides the 1-row report.
@query(
    "x132_pii_scrub",
    oracle="""
    WITH feed AS (
      SELECT doc_id,
        CASE WHEN doc_id % 7 = 0
             THEN text || ' contact-' || CAST(doc_id AS VARCHAR)
                  || '@example.com'
             ELSE text END AS t,
        CAST(doc_id % 7 = 0 AS BOOLEAN) AS planted
      FROM documents)
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE planted) AS BIGINT) AS n_redacted,
      CAST(SUM(CASE WHEN planted
           THEN length(t) - length('contact-')
                - length(CAST(doc_id AS VARCHAR)) - length('@example.com')
                + length('[EMAIL]')
           ELSE length(t) END) AS BIGINT) AS total_scrubbed_chars
    FROM feed
    """,
)
def x132_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    feed = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact-"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("t"),
    )
    scrubbed = feed.select(
        "doc_id",
        F.regexp_replace(
            F.col("t"), r"[a-z0-9.\-]+@[a-z0-9.\-]+", "[EMAIL]"
        ).alias("clean"),
        (
            F.length("t")
            - F.length(
                F.regexp_replace(F.col("t"), r"[a-z0-9.\-]+@[a-z0-9.\-]+", "")
            )
        ).alias("removed_chars"),
    )
    return scrubbed.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.count_if(F.col("removed_chars") > 0)
        .cast("bigint")
        .alias("n_redacted"),
        F.sum(F.length("clean")).cast("bigint").alias("total_scrubbed_chars"),
    )


# --------------------------------------------------------------------------
# x133: RFM SEGMENTATION — the classic customer scoring: recency
# (latest order date), frequency (order count), monetary (cents sum)
# per customer, each quartiled with ntile(4) under a DETERMINISTIC
# total order (metric, then custkey — ties cannot flip buckets), then
# a 3-digit segment code rolled up to segment sizes. Three window
# passes over customer-grain rows (tiny relative to the order scan)
# + one aggregate. The one data-sized operation is the per-customer
# rollup — map-side combinable.
@query(
    "x133_rfm_segmentation",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey AS c,
        MAX(o_orderdate) AS last_order,
        CAST(COUNT(*) AS BIGINT) AS freq,
        CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey),
    scored AS (
      SELECT c,
        ntile(4) OVER (ORDER BY last_order, c) AS r,
        ntile(4) OVER (ORDER BY freq, c) AS f,
        ntile(4) OVER (ORDER BY cents, c) AS m
      FROM per_cust)
    SELECT CAST(r * 100 + f * 10 + m AS INT) AS segment,
      CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM scored GROUP BY segment ORDER BY segment
    """,
)
def x133_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    per_cust = orders.groupBy(F.col("o_custkey").alias("c")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").cast("bigint").alias("freq"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint"))
        .cast("bigint")
        .alias("cents"),
    )
    scored = per_cust.select(
        F.ntile(4).over(Window.orderBy("last_order", "c")).alias("r"),
        F.ntile(4).over(Window.orderBy("freq", "c")).alias("f"),
        F.ntile(4).over(Window.orderBy("cents", "c")).alias("m"),
    )
    return (
        scored.select(
            (F.col("r") * 100 + F.col("f") * 10 + F.col("m"))
            .cast("int")
            .alias("segment")
        )
        .groupBy("segment")
        .agg(F.count("*").cast("bigint").alias("n_customers"))
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# x134: CONVERSION LATENCY — for every purchase, the time since the
# user's most recent PRIOR view (same-table as-of via a running max
# over the event-time order — one window, no join), then exact latency
# percentiles per outcome. The funnel-timing metric every growth team
# reports; x28's as-of join handles the two-table form, this is the
# self-referential form. One shuffle on user_id + a tiny quantile agg.
@query(
    "x134_conversion_latency",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_type,
        MAX(CASE WHEN event_type = 'view' THEN ts END)
          OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          AS last_view
      FROM events),
    lat AS (
      SELECT CAST(epoch_us(ts) - epoch_us(last_view) AS BIGINT) AS us
      FROM seq
      WHERE event_type = 'purchase' AND last_view IS NOT NULL)
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_conversions,
      CAST(ROUND(CAST(quantile_cont(us, 0.5) AS DECIMAL(38,9)), 0)
           AS BIGINT) AS p50_us,
      CAST(ROUND(CAST(quantile_cont(us, 0.9) AS DECIMAL(38,9)), 0)
           AS BIGINT) AS p90_us,
      CAST(MAX(us) AS BIGINT) AS max_us
    FROM lat
    """,
)
def x134_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.max(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).over(w).alias("last_view"),
    )
    lat = seq.where(
        (F.col("event_type") == "purchase") & F.col("last_view").isNotNull()
    ).select(
        (
            F.unix_micros("ts") - F.unix_micros("last_view")
        ).cast("bigint").alias("us")
    )
    q = F.percentile("us", F.array(F.lit(0.5), F.lit(0.9)))
    return lat.agg(
        F.count("*").cast("bigint").alias("n_conversions"),
        q.alias("qs"),
        F.max("us").cast("bigint").alias("max_us"),
    ).select(
        "n_conversions",
        F.round(F.col("qs")[0].cast("decimal(38,9)"), 0)
        .cast("bigint")
        .alias("p50_us"),
        F.round(F.col("qs")[1].cast("decimal(38,9)"), 0)
        .cast("bigint")
        .alias("p90_us"),
        "max_us",
    )


# --------------------------------------------------------------------------
# x135: SALTED TWO-STAGE AGGREGATION — the hot-key defense made
# explicit: stage 1 aggregates on (key, salt) so a single heavy key
# spreads over 16 reducers, stage 2 combines the partials per key.
# The oracle is the PLAIN single-stage aggregate, so hash parity
# proves salting is semantics-free (the algebraic requirement: the
# aggregate must decompose — count/sum do, and the decimal sums keep
# the recombination exact). bench_skew.py measures the wall-clock win
# on planted skew; this query pins the correctness contract in the
# oracle suite. Events' 5 event types ARE a worst-case key space: every
# key is heavy.
@query(
    "x135_salted_aggregation",
    oracle="""
    SELECT event_type,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def x135_salted_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import dec

    ev = table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("salt", F.pmod(F.col("event_id"), F.lit(16)))
        .groupBy("event_type", "salt")
        .agg(
            F.count("*").cast("bigint").alias("pn"),
            F.sum(dec("value")).alias("pt"),
        )
    )
    return (
        partial.groupBy("event_type")
        .agg(
            F.sum("pn").cast("bigint").alias("n_events"),
            F.sum("pt").cast("double").alias("total"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# x136: JOIN-CARDINALITY ESTIMATION by hash sampling — the planner-
# style estimate a warehouse computes before committing to a join
# strategy: sample the fact side at 1/8 with the deterministic id-hash
# predicate (x46's operator — pushes to the scan, shuffles nothing),
# join the sample, scale counts by 8. The estimate column sits next to
# the exact count so the relative error is part of the verified
# result. At 100 TB only the sampled plan runs — the exact side here
# exists because the oracle can afford it at test scale.
@query(
    "x136_join_cardinality_estimate",
    oracle="""
    WITH sampled AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000 < 1250),
    est AS (
      SELECT n.n_name, CAST(COUNT(*) * 8 AS BIGINT) AS est_orders
      FROM sampled s
      JOIN customer c ON s.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name),
    exact AS (
      SELECT n.n_name, CAST(COUNT(*) AS BIGINT) AS exact_orders
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name)
    SELECT exact.n_name,
      COALESCE(est.est_orders, 0) AS est_orders,
      exact.exact_orders
    FROM exact LEFT JOIN est ON exact.n_name = est.n_name
    ORDER BY exact.n_name
    """,
)
def x136_join_cardinality_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators import sampling

    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    sampled = sampling.hash_sample(orders, rate=0.125, id_col="o_orderkey")
    est = (
        sampled.join(cust, sampled["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg((F.count("*") * 8).cast("bigint").alias("est_orders"))
    )
    exact = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(F.count("*").cast("bigint").alias("exact_orders"))
    )
    return (
        exact.join(est, "n_name", "left")
        .select(
            "n_name",
            F.coalesce("est_orders", F.lit(0)).cast("bigint").alias(
                "est_orders"
            ),
            "exact_orders",
        )
        .orderBy("n_name")
    )


# --------------------------------------------------------------------------
# x137: CUMULATIVE DISTINCT COUNT — distinct users seen up to each day
# (the "cumulative reach" curve; COUNT(DISTINCT) OVER a running frame
# is unsupported in both engines, so it must be restructured). The
# engine computes it the scalable way: each user contributes ONLY at
# their first-seen day (one groupBy min), daily first-timer counts
# then cumulative-sum — two small shuffles, no set materialization.
# The ORACLE brute-forces the definition (correlated COUNT DISTINCT
# per day), an independent formulation. Day identity is a date string.
@query(
    "x137_cumulative_distinct_users",
    oracle="""
    WITH days AS (
      SELECT DISTINCT CAST(CAST(ts AS DATE) AS VARCHAR) AS day FROM events)
    SELECT day,
      (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events
       WHERE CAST(CAST(ts AS DATE) AS VARCHAR) <= day) AS reach
    FROM days ORDER BY day
    """,
)
def x137_cumulative_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    daily_new = first_seen.groupBy(
        F.col("first_day").cast("string").alias("day")
    ).agg(F.count("*").alias("n_new"))
    # the spine must be every ACTIVE day (a day with no first-timers
    # still appears, carrying the running total)
    days = ev.select(
        F.col("ts").cast("date").cast("string").alias("day")
    ).distinct()
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        days.join(daily_new, "day", "left")
        .select("day", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select("day", F.sum("n_new").over(w).cast("bigint").alias("reach"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# x138: WEIGHTED MEDIAN per group — the 50% point of the QUANTITY-
# weighted price distribution per return flag (what "median price paid"
# actually means when rows carry volumes). No engine has a weighted
# median built-in; both sides compute the definition — sort by value,
# take the first row where the running weight reaches half the total —
# but through different machinery (Spark: one window + one argmin-
# struct aggregate; DuckDB: a correlated threshold subquery). Integer
# cents and integer weights keep the running sums exact. One shuffle
# per group for the sort — the same cost envelope as exact percentiles
# (x87).
@query(
    "x138_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag AS flag,
        CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
        CAST(l_quantity AS BIGINT) AS qty
      FROM lineitem),
    tot AS (SELECT flag, CAST(SUM(qty) AS BIGINT) AS total FROM w
            GROUP BY flag),
    run AS (
      SELECT flag, cents, qty,
        SUM(qty) OVER (PARTITION BY flag ORDER BY cents, qty
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS cum
      FROM w)
    SELECT r.flag,
      CAST(MIN(r.cents) AS BIGINT) AS weighted_median_cents,
      t.total AS total_weight
    FROM run r JOIN tot t ON r.flag = t.flag
    WHERE r.cum * 2 >= t.total
    GROUP BY r.flag, t.total
    ORDER BY r.flag
    """,
)
def x138_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    w = li.select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5)
        .cast("bigint")
        .alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    tot = w.groupBy("flag").agg(F.sum("qty").cast("bigint").alias("total"))
    win = (
        Window.partitionBy("flag")
        .orderBy("cents", "qty")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    run = w.select("flag", "cents", "qty", F.sum("qty").over(win).alias("cum"))
    return (
        run.join(F.broadcast(tot), "flag")
        .where(F.col("cum") * 2 >= F.col("total"))
        .groupBy("flag", "total")
        .agg(F.min("cents").cast("bigint").alias("weighted_median_cents"))
        .select(
            "flag",
            "weighted_median_cents",
            F.col("total").alias("total_weight"),
        )
        .orderBy("flag")
    )


# --------------------------------------------------------------------------
# x139: TOP-N + OTHER ROLLUP — the reporting staple: per region, the
# top-3 part types by revenue keep their identity, everything else
# collapses into an 'OTHER' bucket whose total still reconciles to the
# grand total (the invariant dashboards depend on). One aggregate to
# part-type grain, one ranking window over that (small) grain, one
# re-aggregate — the fact scan is touched once.
@query(
    "x139_topn_plus_other",
    oracle="""
    WITH rev AS (
      SELECT r.r_name, p.p_type,
        CAST(SUM(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
      FROM lineitem l
      JOIN part p ON l.l_partkey = p.p_partkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, p.p_type),
    ranked AS (
      SELECT r_name, p_type, cents,
        ROW_NUMBER() OVER (PARTITION BY r_name
                           ORDER BY cents DESC, p_type) AS rn
      FROM rev)
    SELECT r_name,
      CASE WHEN rn <= 3 THEN p_type ELSE 'OTHER' END AS bucket,
      CAST(SUM(cents) AS BIGINT) AS revenue_cents,
      CAST(COUNT(*) AS BIGINT) AS n_types
    FROM ranked
    GROUP BY r_name, CASE WHEN rn <= 3 THEN p_type ELSE 'OTHER' END
    ORDER BY r_name, revenue_cents DESC, bucket
    """,
)
def x139_topn_plus_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    part = table(spark, sf_dir, "part")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    rev = (
        li.join(part, li["l_partkey"] == part["p_partkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("r_name", "p_type")
        .agg(
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("r_name").orderBy(F.col("cents").desc(), "p_type")
    ranked = rev.withColumn("rn", F.row_number().over(w))
    bucket = F.when(F.col("rn") <= 3, F.col("p_type")).otherwise(
        F.lit("OTHER")
    )
    return (
        ranked.groupBy("r_name", bucket.alias("bucket"))
        .agg(
            F.sum("cents").cast("bigint").alias("revenue_cents"),
            F.count("*").cast("bigint").alias("n_types"),
        )
        .orderBy("r_name", F.col("revenue_cents").desc(), "bucket")
    )


# --------------------------------------------------------------------------
# x140: SOURCE NOVELTY ATTRIBUTION — how much of each ingest source is
# actually NEW: a doc is novel iff it is the corpus-first copy of its
# text (first = lowest doc_id, the dedup keeper rule from x01). The
# per-source novelty rate is the metric that prices data sources in a
# curation pipeline (a source that only re-crawls what you have is
# worthless). One hash-groupBy for first-copy ids + one broadcast-able
# semi-join back — exactly the exact-dedup cost envelope.
@query(
    "x140_source_novelty",
    oracle="""
    WITH firsts AS (
      SELECT MIN(doc_id) AS keeper FROM documents GROUP BY md5(text))
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT keeper FROM firsts))
           AS BIGINT) AS n_novel,
      CAST(COUNT(*) FILTER (WHERE doc_id NOT IN
           (SELECT keeper FROM firsts)) AS BIGINT) AS n_duplicate
    FROM documents
    GROUP BY source ORDER BY source
    """,
)
def x140_source_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    firsts = docs.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("keeper")
    ).select("keeper")
    flagged = docs.join(
        firsts, docs["doc_id"] == firsts["keeper"], "left"
    ).select("source", F.col("keeper").isNotNull().alias("novel"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.count_if("novel").cast("bigint").alias("n_novel"),
            F.count_if(~F.col("novel")).cast("bigint").alias("n_duplicate"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x141: SHARE-OF-PARENT — each nation's revenue as a fraction of its
# region (the % -of-parent column every hierarchy report carries).
# One aggregate at child grain, the parent totals as a WINDOW SUM over
# the child aggregate (no second scan, no self-join), exact cents for
# the totals and ROUND4 for the ratio. The window runs over 25 rows —
# free at any input scale.
@query(
    "x141_share_of_parent",
    oracle=f"""
    WITH nat AS (
      SELECT r.r_name, n.n_name,
        CAST(SUM(CAST(floor(o.o_totalprice * 100 + 0.5) AS BIGINT))
             AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name, n.n_name)
    SELECT r_name, n_name, cents,
      {_R4.format(
          "CAST(cents AS DOUBLE)"
          " / CAST(SUM(cents) OVER (PARTITION BY r_name) AS DOUBLE)"
      )} AS share
    FROM nat ORDER BY r_name, n_name
    """,
)
def x141_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    nat = (
        orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(
            F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")
            )
            .cast("bigint")
            .alias("cents")
        )
    )
    w = Window.partitionBy("r_name")
    return nat.select(
        "r_name",
        "n_name",
        "cents",
        round4(
            F.col("cents").cast("double")
            / F.sum("cents").over(w).cast("double")
        ).alias("share"),
    ).orderBy("r_name", "n_name")
