"""Round-7 extension queries (x200–x206): verbatim-span dedup, exact
distributed covariance, changepoint detection, spectral analysis on the
WAV decode path, incremental join-view maintenance, Neyman sampling
allocation, and quantile normalization — each scale-shaped (blocked /
partial-aggregated / broadcast, never all-pairs) and DuckDB-oracle
checked under the same exact-integer parity discipline as the rest of
the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from video_streamer_spark import scratch
from video_streamer_spark.catalog import table
from video_streamer_spark.functions.caching import pooled
from video_streamer_spark.queries import query


# x200 — VERBATIM SPAN DEDUP: the exact-substring near-dup detector
# (deduplicating-training-data style): word-8-gram fingerprints joined
# through an inverted index, then maximal shared spans recovered per doc
# pair by the gaps-islands trick on matching-position diagonals. Scale:
# the join key is an md5 of the gram (32-byte shuffle keys, same as
# exact dedup); grams with document frequency > 5 are dropped first —
# the boilerplate guard that keeps inverted-index fan-out bounded by
# df_max² per gram instead of corpus²; per-pair island windows touch
# only that pair's matches.
@query(
    "x200_verbatim_span_dedup",
    oracle="""
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    grams AS (
      SELECT doc_id, CAST(pos AS BIGINT) AS pos,
        md5(array_to_string(arr[pos:pos+7], ' ')) AS g
      FROM (SELECT doc_id, arr,
              unnest(range(1, greatest(len(arr) - 6, 1))) AS pos
            FROM arrs) p),
    rare AS (
      SELECT g
      FROM (SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g) x
      WHERE df BETWEEN 2 AND 5),
    matches AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        a.pos AS pa, b.pos AS pb
      FROM grams a JOIN rare r ON a.g = r.g JOIN grams b ON a.g = b.g
      WHERE a.doc_id < b.doc_id),
    islands AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa,
        pa - ROW_NUMBER() OVER (
          PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS isl
      FROM matches),
    spans AS (
      SELECT doc_a, doc_b, MAX(pa) - MIN(pa) + 8 AS span_tokens
      FROM islands GROUP BY doc_a, doc_b, diag, isl)
    SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS n_spans,
      CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens,
      CAST(SUM(span_tokens) AS BIGINT) AS shared_tokens
    FROM spans GROUP BY doc_a, doc_b
    HAVING MAX(span_tokens) >= 12
    """,
)
def x200_verbatim_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    # slice(seq(1, max(n,1)), 1, max(n,0)): positions 1..n with
    # a SAFE empty array when n <= 0 — sequence(1, 0) would
    # yield the DESCENDING [1, 0] and slice(arr, 0, 8) throws,
    # so a ≤7-token document must never reach the transform.
    # xxhash64 over the joined gram, not md5: codegen'd, and
    # the join/df-shuffle keys shrink 32-char strings → 8-byte
    # longs. The ORACLE keeps md5 — neither engine exposes g,
    # and equal grams hash equal within each engine, so the
    # pair sets agree exactly (up to 64-bit collisions, ~1e-7
    # at sf0.1 gram counts). All-string projections: one gateway
    # round-trip per select instead of one per Column object (r14).
    grams = (
        docs.selectExpr("doc_id", "split(text, ' ') AS arr")
        .selectExpr(
            "doc_id",
            "explode(transform("
            "slice(sequence(1, greatest(size(arr) - 7, 1)), "
            "1, greatest(size(arr) - 7, 0)), "
            "p -> struct(CAST(p AS BIGINT) AS pos, "
            "xxhash64(array_join(slice(arr, p, 8), ' ')) AS g))) AS s",
        )
        .select("doc_id", "s.pos", "s.g")
    )
    # df fused into the gram exchange (round-11, closes the r10
    # verdict's one perf-weak row): instead of a separate
    # groupBy(g).countDistinct(doc_id) branch JOINED back against
    # grams (the round-9 shape: rare-set semi-filter, 8 exchanges
    # AQE-off, benched 2.2-2.9x DuckDB at sf0.1), compute df as two
    # window passes over the ONE shuffle of grams by g:
    #   dense_rank over (g ORDER BY doc_id)  ->  per-row distinct rank
    #   max(dense_rank) over (g)             ->  df, exact countDistinct
    # Both windows share the hash(g) exchange and the (g, doc_id)
    # sort, the df BETWEEN filter runs inline, and the pair self-join
    # below needs NO further exchange: the filtered stream is already
    # hash-partitioned AND sorted on g, so SMJ's requirements are met
    # for free (AQE may still elect broadcast when the filtered side
    # is small — also fine, and the gram exchange is reused either
    # way). Measured sf0.1: 2.0-2.8s -> ~1.2s, 1.6x DuckDB, under the
    # 2x bar; exchanges 8 -> 3 AQE-off. WindowExec buffers one gram
    # group at a time through a spillable sorter, so a degenerate
    # high-frequency gram spills instead of OOMing the aggregation
    # buffer — the 100 TB-safe shape for this side-channel df.
    # no .drop() layer: the bucket groupBy below references only
    # (g, doc_id, pos), so column pruning removes dr/df from the
    # physical plan either way — the drop only cost one more eager
    # analysis pass per construction (r14). SQL-string OVER clauses
    # replace the Window-spec/Column builders (same two stacked
    # Window operators, a dozen fewer round-trips each).
    tagged = (
        grams.selectExpr(
            "doc_id",
            "pos",
            "g",
            "dense_rank() OVER (PARTITION BY g ORDER BY doc_id) AS dr",
        )
        .selectExpr(
            "doc_id", "pos", "g", "dr", "max(dr) OVER (PARTITION BY g) AS df"
        )
        .where("df BETWEEN 2 AND 5")
    )
    # Bucket-grouped pair expansion, not a self-join (r14, the
    # x02/x03 rewrite applied here): tagged leaves the window pipeline
    # already hash-partitioned by g, so groupBy(g) plans NO new
    # exchange — the surviving occurrences (df BETWEEN 2 AND 5, so at
    # most 5 docs per gram) collect into one small sorted array per
    # gram and in-bucket cross-doc pairs stream out of two Generates.
    # The previous self-join ran the whole Sort+Window+Filter pipeline
    # TWICE (ReusedExchange shares only the gram exchange; the
    # broadcast side re-sorted and re-windowed the full gram stream,
    # plus a broadcast-build job per run). Degenerate-gram safety is
    # unchanged: the df filter runs in the spillable window BEFORE any
    # collect, so boilerplate grams never reach an array. Pair
    # semantics are identical — one row per (doc, pos), sorted
    # (doc_id, pos) expansion emits each cross-doc (doc_a < doc_b)
    # position pair exactly once, same as the a.g = b.g join.
    # diag stays a MATERIALIZED column before the window — an
    # expression partition key (pa - pb inline in the OVER clause)
    # plans an internal projection whose attribute the downstream
    # groupBy cannot match, costing an extra Exchange (measured 5->6).
    matches = (
        tagged.groupBy("g")
        .agg(
            F.expr("sort_array(collect_list(struct(doc_id, pos)))").alias(
                "ms"
            )
        )
        .selectExpr(
            "ms", "posexplode(slice(ms, 1, size(ms) - 1)) AS (i, a)"
        )
        .selectExpr(
            "a.doc_id AS doc_a",
            "a.pos AS pa",
            "explode(slice(ms, i + 2, size(ms) - i - 1)) AS b",
        )
        .where("doc_a < b.doc_id")
        .selectExpr(
            "doc_a", "b.doc_id AS doc_b", "pa", "pa - b.pos AS diag"
        )
    )
    islands = matches.selectExpr(
        "*",
        "pa - row_number() OVER "
        "(PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS isl",
    )
    spans = islands.groupBy("doc_a", "doc_b", "diag", "isl").agg(
        F.expr("max(pa) - min(pa) + 8 AS span_tokens")
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_spans"),
            F.expr("CAST(max(span_tokens) AS BIGINT) AS max_span_tokens"),
            F.expr("CAST(sum(span_tokens) AS BIGINT) AS shared_tokens"),
        )
        .where("max_span_tokens >= 12")
    )


# x201 — EXACT DISTRIBUTED COVARIANCE over the embedding column: the
# PCA/whitening precursor. The d×d Gram accumulates as per-Arrow-batch
# int64 partials (operators/embedstats.gram_partials — X.T@X per batch,
# d(d+1)/2 rows leave each executor, nothing shuffles with n); means
# come from a plain posexplode agg. Quantized-integer arithmetic start
# to finish (the x95 recipe), so any batch composition is bit-equal to
# the oracle's per-row product sums.
@query(
    "x201_embedding_covariance",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
      FROM embeddings, range(1, 65) t(i)),
    sums AS (SELECT dim, SUM(xq) AS sx FROM dims GROUP BY dim),
    pairs AS (
      SELECT a.dim AS i, b.dim AS j, COUNT(*) AS n,
        SUM(a.xq * b.xq) AS sxy
      FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.dim <= b.dim
      GROUP BY a.dim, b.dim)
    SELECT p.i, p.j, CAST(p.n AS BIGINT) AS n_vectors,
      CAST(CAST(floor((CAST(p.sxy AS DOUBLE) / 1000000000000.0 / p.n
        - (CAST(si.sx AS DOUBLE) / 1000000.0 / p.n)
          * (CAST(sj.sx AS DOUBLE) / 1000000.0 / p.n))
        * 1000000.0) AS BIGINT) AS DOUBLE) / 1000000.0 AS covariance
    FROM pairs p
    JOIN sums si ON si.dim = p.i
    JOIN sums sj ON sj.dim = p.j
    """,
)
def x201_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.embedstats import gram_partials

    emb = table(spark, sf_dir, "embeddings")
    gram = (
        gram_partials(emb, 64)
        .groupBy("i", "j")
        .agg(
            F.sum("n_part").cast("bigint").alias("n"),
            F.sum("sxy_part").cast("bigint").alias("sxy"),
        )
    )
    dims = emb.select(
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        )
    ).select(
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.floor(F.col("x") * 1000000.0).cast("bigint").alias("xq"),
    )
    sums = dims.groupBy("dim").agg(F.sum("xq").alias("sx"))
    si = sums.select(F.col("dim").alias("i"), F.col("sx").alias("sx_i"))
    sj = sums.select(F.col("dim").alias("j"), F.col("sx").alias("sx_j"))
    joined = gram.join(F.broadcast(si), "i").join(F.broadcast(sj), "j")
    mean_i = F.col("sx_i").cast("double") / 1e6 / F.col("n")
    mean_j = F.col("sx_j").cast("double") / 1e6 / F.col("n")
    cov_micro = F.floor(
        (F.col("sxy").cast("double") / 1e12 / F.col("n") - mean_i * mean_j)
        * 1e6
    ).cast("bigint")
    return joined.select(
        "i",
        "j",
        F.col("n").alias("n_vectors"),
        (cov_micro.cast("double") / 1e6).alias("covariance"),
    )


# x202 — CUSUM CHANGEPOINT per event_type: the classic mean-shift
# detector over the daily count series. Scaled-integer CUSUM
# (n_days·count − total, exact BIGINT running sum) dodges the rational
# mean, so both engines agree bit-for-bit; the flagged day is the
# |CUSUM| peak (ties → earliest). Scale: one (type, day) pre-agg — the
# series per type is days-sized, so the window is trivially cheap.
@query(
    "x202_cusum_changepoint",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY event_type, day),
    stats AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        SUM(c) AS total
      FROM daily GROUP BY event_type),
    cusums AS (
      SELECT d.event_type, d.day, s.n_days,
        SUM(s.n_days * d.c - s.total) OVER (
          PARTITION BY d.event_type ORDER BY d.day
          ROWS UNBOUNDED PRECEDING) AS cusum_scaled
      FROM daily d JOIN stats s ON d.event_type = s.event_type),
    ranked AS (
      SELECT event_type, day, n_days, cusum_scaled,
        ROW_NUMBER() OVER (
          PARTITION BY event_type
          ORDER BY ABS(cusum_scaled) DESC, day ASC) AS rn
      FROM cusums)
    SELECT event_type, CAST(day AS VARCHAR) AS change_day,
      CAST(cusum_scaled AS BIGINT) AS cusum_scaled, n_days
    FROM ranked WHERE rn = 1
    """,
)
def x202_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count("*").cast("bigint").alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum("c").alias("total"),
    )
    cw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusums = daily.join(F.broadcast(stats), "event_type").withColumn(
        "cusum_scaled",
        F.sum(F.col("n_days") * F.col("c") - F.col("total")).over(cw),
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.col("day").asc()
    )
    return (
        cusums.withColumn("rn", F.row_number().over(rw))
        .where("rn = 1")
        .select(
            "event_type",
            F.col("day").cast("string").alias("change_day"),
            F.col("cusum_scaled").cast("bigint").alias("cusum_scaled"),
            "n_days",
        )
    )


# x203 — DOMINANT FREQUENCY through the real WAV decode path: planted
# on-bin tones (operators/audiofreq) synthesized executor-side, RIFF-
# encoded, chunk-walk decoded, rFFT'd; the argmax bin must equal the
# planted bin for every frame — a transcendental DSP transform with an
# exact SQL oracle (the x197/x199 planted-evidence style, audio
# modality). Samples never leave their executor.
@query(
    "x203_dominant_frequency",
    oracle="""
    SELECT event_id AS frame_id, CAST(256 AS BIGINT) AS n_samples,
      CAST(5 + (event_id * 13) % 100 AS BIGINT) AS dominant_bin
    FROM events WHERE event_id % 23 = 0
    """,
)
def x203_dominant_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.audiofreq import (
        dominant_bins,
        tone_frames,
    )

    ids = (
        table(spark, sf_dir, "events")
        .select(F.col("event_id").alias("frame_id"))
        .where(F.col("frame_id") % 23 == 0)
    )
    return dominant_bins(tone_frames(ids))


# x204 — INCREMENTAL JOIN-VIEW MAINTENANCE: orders ⋈ customer rolled up
# per market segment, maintained from streamed order deltas against the
# broadcast dim (streaming/incremental.incremental_join_rollup — the
# Δfact ⋈ dim form of IVM on the journal-epoch discipline, so replay
# idempotence and crash-healing carry over). The oracle is the view's
# defining query recomputed from scratch: maintained == recomputed for
# ANY batch composition.
@query(
    "x204_incremental_join_view",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(floor(CAST(o_totalprice AS DOUBLE) * 1000000.0)
        AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def x204_incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.streaming.incremental import (
        incremental_join_rollup,
    )

    return incremental_join_rollup(spark, sf_dir)


# x205 — NEYMAN ALLOCATION: variance-optimal stratified sample design
# (n_h ∝ N_h·S_h) over document strata — the principled version of
# x47's per-language cap. Stratum std via exact integer moments; the
# per-stratum weight is quantized to integer micros BEFORE the global
# normalization so the total is an exact BIGINT sum (double summation
# order never enters). sqrt is IEEE-correctly-rounded — bit-identical
# across engines.
@query(
    "x205_neyman_allocation",
    oracle="""
    WITH feats AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        SUM(n_chars) AS sx, SUM(n_chars * n_chars) AS sxx
      FROM documents GROUP BY source),
    sd AS (
      SELECT source, n_docs,
        sqrt(CAST(n_docs * sxx - sx * sx AS DOUBLE)
             / (n_docs * (n_docs - 1))) AS s
      FROM feats WHERE n_docs > 1),
    wq AS (
      SELECT source, n_docs, s,
        CAST(floor(n_docs * s * 1000000.0) AS BIGINT) AS w_micro
      FROM sd),
    tot AS (SELECT SUM(w_micro) AS w_total FROM wq)
    SELECT source, n_docs,
      CAST(CAST(floor(s * 1000000.0) AS BIGINT) AS DOUBLE) / 1000000.0
        AS stddev_chars,
      CAST(floor(1000.0 * w_micro / w_total + 0.5) AS BIGINT) AS n_alloc
    FROM wq, tot
    """,
)
def x205_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    feats = docs.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").alias("sx"),
        F.sum(F.col("n_chars") * F.col("n_chars")).alias("sxx"),
    )
    sd = feats.where("n_docs > 1").withColumn(
        "s",
        F.sqrt(
            (F.col("n_docs") * F.col("sxx") - F.col("sx") * F.col("sx"))
            .cast("double")
            / (F.col("n_docs") * (F.col("n_docs") - 1))
        ),
    )
    wq = sd.withColumn(
        "w_micro",
        F.floor(F.col("n_docs") * F.col("s") * 1000000.0).cast("bigint"),
    )
    tot = wq.agg(F.sum("w_micro").alias("w_total"))
    return wq.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        (
            F.floor(F.col("s") * 1000000.0).cast("bigint").cast("double")
            / 1e6
        ).alias("stddev_chars"),
        F.floor(
            1000.0 * F.col("w_micro") / F.col("w_total") + 0.5
        )
        .cast("bigint")
        .alias("n_alloc"),
    )


# x206 — QUANTILE NORMALIZATION of embedding dims: every dimension's
# empirical distribution is mapped onto the cross-dim average profile
# (rank → mean-of-values-at-rank), the standard batch-effect remover in
# feature prep. Exact: ranks over quantized values with vec_id
# tie-break, profile mean is a BIGINT sum divided by the (power-of-two)
# dim count. Scale: one rank window per dim (d independent partitions);
# at 100 TB swap ntile ranks for approx-quantile bins — the plan keeps
# the same two-shuffle shape. Output limited to dims 1..4 (the
# normalization itself uses ALL dims).
@query(
    "x206_quantile_normalization",
    oracle="""
    WITH dims AS (
      SELECT vec_id, CAST(i AS INT) AS dim,
        CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS xq
      FROM embeddings, range(1, 65) t(i)),
    ranked AS (
      SELECT vec_id, dim, xq,
        ROW_NUMBER() OVER (PARTITION BY dim ORDER BY xq, vec_id) AS r
      FROM dims),
    profile AS (
      SELECT r,
        CAST(floor(CAST(SUM(xq) AS DOUBLE) / 64.0) AS BIGINT) AS prof_micro
      FROM ranked GROUP BY r)
    SELECT k.vec_id, k.dim,
      CAST(p.prof_micro AS DOUBLE) / 1000000.0 AS qnorm
    FROM ranked k JOIN profile p ON k.r = p.r
    WHERE k.dim <= 4
    """,
)
def x206_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    dims = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "dim0", "x"
        ),
    ).select(
        "vec_id",
        (F.col("dim0") + 1).cast("int").alias("dim"),
        F.floor(F.col("x") * 1000000.0).cast("bigint").alias("xq"),
    )
    rw = Window.partitionBy("dim").orderBy("xq", "vec_id")
    ranked = dims.withColumn("r", F.row_number().over(rw))
    profile = ranked.groupBy("r").agg(
        F.floor(F.sum("xq").cast("double") / 64.0)
        .cast("bigint")
        .alias("prof_micro")
    )
    return (
        ranked.where("dim <= 4")
        .join(profile, "r")
        .select(
            "vec_id",
            "dim",
            (F.col("prof_micro").cast("double") / 1e6).alias("qnorm"),
        )
    )


# x207 — DATA-SKIPPING / LAYOUT ADVISOR: simulates parquet row-group
# zone maps (min/max per group) under the CURRENT physical order
# (insertion order = event_id) vs a value-sorted rewrite, and reports
# what fraction of groups three range predicates could skip. This is
# the measurement behind every clustering decision (x100's Z-order,
# Delta OPTIMIZE ZORDER BY): at 100 TB the difference between 2 % and
# 100 % of row groups scanned IS the query latency. One pass per
# layout; groups are fixed 500-row windows so both engines agree
# exactly. The sorted-layout simulation uses a GLOBAL row_number (a
# total order is what "sorted layout" means) — at scale you'd simulate
# with range-partitioned approximate boundaries (x87/x96's quantile
# machinery) instead of one exact total order; the advisory output is
# identical to first order. The rewrite this advises is IMPLEMENTED:
# operators/table_format.optimize_table performs the value-sorted
# rewrite on the versioned table and x212 drives the resulting
# per-file zone-map pruning under the oracle.
@query(
    "x207_pruning_advisor",
    oracle="""
    WITH cur AS (
      SELECT CAST(floor(event_id / 500) AS BIGINT) AS rg, value
      FROM events),
    srt AS (
      SELECT CAST(floor(
        (ROW_NUMBER() OVER (ORDER BY value, event_id) - 1) / 500
      ) AS BIGINT) AS rg, value FROM events),
    zones AS (
      SELECT 'current' AS layout, rg, MIN(value) AS lo, MAX(value) AS hi
      FROM cur GROUP BY rg
      UNION ALL
      SELECT 'sorted' AS layout, rg, MIN(value) AS lo, MAX(value) AS hi
      FROM srt GROUP BY rg),
    preds AS (
      SELECT * FROM (VALUES
        ('narrow', 100.0, 110.0),
        ('medium', 100.0, 200.0),
        ('wide', 50.0, 400.0)) p(pred, p_lo, p_hi))
    SELECT layout, pred,
      CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(SUM(CASE WHEN hi >= p_lo AND lo <= p_hi THEN 1 ELSE 0 END)
        AS BIGINT) AS n_scanned
    FROM zones, preds
    GROUP BY layout, pred
    """,
)
def x207_pruning_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = table(spark, sf_dir, "events").select("event_id", "value")
    cur = events.select(
        F.floor(F.col("event_id") / 500).cast("bigint").alias("rg"), "value"
    )
    sw = Window.orderBy("value", "event_id")
    srt = events.select(
        F.floor((F.row_number().over(sw) - 1) / 500)
        .cast("bigint")
        .alias("rg"),
        "value",
    )
    zones = (
        cur.groupBy("rg")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .withColumn("layout", F.lit("current"))
        .unionByName(
            srt.groupBy("rg")
            .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
            .withColumn("layout", F.lit("sorted"))
        )
    )
    preds = spark.createDataFrame(
        [("narrow", 100.0, 110.0), ("medium", 100.0, 200.0),
         ("wide", 50.0, 400.0)],
        "pred string, p_lo double, p_hi double",
    )
    return (
        zones.crossJoin(F.broadcast(preds))
        .groupBy("layout", "pred")
        .agg(
            F.count("*").cast("bigint").alias("n_groups"),
            F.sum(
                F.when(
                    (F.col("hi") >= F.col("p_lo"))
                    & (F.col("lo") <= F.col("p_hi")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_scanned"),
        )
    )


# x208 — B-CUBED CLUSTERING EVALUATION: item-weighted precision/recall
# of a cheap clustering (40-char prefix fingerprint) against exact-text
# ground-truth groups — the standard dedup-quality metric, per source.
# Each (cluster, group) cell contributes |C∩G|²/|C| (precision) and
# |C∩G|²/|G| (recall), quantized to integer micros per cell so the
# cross-cell sum is exact BIGINT (double summation order never enters).
# Scale: two hash aggs + one join on cell keys — no pairwise work.
@query(
    "x208_bcubed_cluster_eval",
    oracle="""
    WITH items AS (
      SELECT doc_id, source,
        md5(substr(text, 1, 40)) AS c_id, md5(text) AS g_id
      FROM documents),
    csize AS (SELECT c_id, COUNT(*) AS n_c FROM items GROUP BY c_id),
    gsize AS (SELECT g_id, COUNT(*) AS n_g FROM items GROUP BY g_id),
    cells AS (
      SELECT source, i.c_id, i.g_id, COUNT(*) AS n_cg
      FROM items i GROUP BY source, i.c_id, i.g_id),
    terms AS (
      SELECT source, n_cg,
        CAST(floor(1000000.0 * n_cg * n_cg / n_c) AS BIGINT) AS p_micro,
        CAST(floor(1000000.0 * n_cg * n_cg / n_g) AS BIGINT) AS r_micro
      FROM cells JOIN csize USING (c_id) JOIN gsize USING (g_id))
    SELECT source, CAST(SUM(n_cg) AS BIGINT) AS n_docs,
      CAST(SUM(p_micro) AS DOUBLE) / SUM(n_cg) / 1000000.0
        AS bcubed_precision,
      CAST(SUM(r_micro) AS DOUBLE) / SUM(n_cg) / 1000000.0
        AS bcubed_recall
    FROM terms GROUP BY source
    """,
)
def x208_bcubed_cluster_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    items = docs.select(
        "doc_id",
        "source",
        F.md5(F.substring("text", 1, 40)).alias("c_id"),
        F.md5("text").alias("g_id"),
    )
    csize = items.groupBy("c_id").agg(F.count("*").alias("n_c"))
    gsize = items.groupBy("g_id").agg(F.count("*").alias("n_g"))
    cells = items.groupBy("source", "c_id", "g_id").agg(
        F.count("*").alias("n_cg")
    )
    terms = (
        cells.join(csize, "c_id")
        .join(gsize, "g_id")
        .select(
            "source",
            "n_cg",
            F.floor(1000000.0 * F.col("n_cg") * F.col("n_cg") / F.col("n_c"))
            .cast("bigint")
            .alias("p_micro"),
            F.floor(1000000.0 * F.col("n_cg") * F.col("n_cg") / F.col("n_g"))
            .cast("bigint")
            .alias("r_micro"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum("n_cg").cast("bigint").alias("n_docs"),
        (
            F.sum("p_micro").cast("double") / F.sum("n_cg") / 1000000.0
        ).alias("bcubed_precision"),
        (
            F.sum("r_micro").cast("double") / F.sum("n_cg") / 1000000.0
        ).alias("bcubed_recall"),
    )


# x209 — INCREMENTAL DEDUP AGAINST A CORPUS INDEX: the streaming-ingest
# form of MinHash-LSH dedup — an incoming batch (doc_id % 10 = 0) is
# banded and joined against the EXISTING corpus's band table (the
# persisted index; here rebuilt from the 90 % partition), so only
# new×old candidates materialize — never new×new or old×old. This is
# the asymmetric join every ingestion pipeline runs before admitting a
# document; at scale the old side IS the stored band index
# (cell-partitioned like the IVF index) and the probe prunes to
# touched buckets.
@query(
    "x209_incremental_dedup_probe",
    oracle=None,  # assembled below — shares x02's minhash CTE
)
def x209_incremental_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    bands = dedup.minhash_bands(dedup.minhash_signatures(docs)).transform(
        pooled("x209-band-index")
    )
    new = (
        bands.where(F.col("doc_id") % 10 == 0)
        .withColumnRenamed("doc_id", "new_id")
        .withColumnRenamed("band_val", "bv")
        .withColumnRenamed("band_idx", "bi")
    )
    old = bands.where(F.col("doc_id") % 10 != 0).withColumnRenamed(
        "doc_id", "old_id"
    )
    return (
        new.join(
            old,
            (new.bi == old.band_idx) & (new.bv == old.band_val),
        )
        .groupBy("new_id", "old_id")
        .agg(F.count("*").cast("bigint").alias("n_shared_bands"))
    )


def _register_x209_oracle() -> None:
    from video_streamer_spark.queries import ORACLES
    from video_streamer_spark.queries.curation import _minhash_cte

    ORACLES["x209_incremental_dedup_probe"] = f"""
    WITH {_minhash_cte()}
    SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS new_id,
           CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS old_id,
           n_shared_bands
    FROM mh_pairs
    WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
    """


_register_x209_oracle()


# x210 — ACID SNAPSHOT MERGE: the manifest-versioned table format
# (operators/table_format.py) driven end-to-end — create, two MERGE
# commits (upsert/delete/insert mix), then read the committed snapshot.
# Every commit is atomic across ALL touched buckets (the manifest link
# is the commit point), so the oracle can state the final table in
# closed form; unit tests separately cover crash-before-commit,
# optimistic concurrency, time travel and vacuum
# (tests/test_table_format.py).
@query(
    "x210_acid_snapshot_merge",
    oracle="""
    WITH fin AS (
      SELECT o_orderkey, o_orderpriority,
        CASE WHEN o_orderkey % 16 = 8 THEN o_totalprice * 2.0
             WHEN o_orderkey % 4 = 1 THEN o_totalprice + 1000.0
             ELSE o_totalprice END AS price
      FROM orders
      WHERE (o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0)
         OR o_orderkey % 4 = 1)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 1000000.0) AS BIGINT)) AS DOUBLE)
        / 1000000.0 AS total_price
    FROM fin GROUP BY o_orderpriority
    """,
)
def x210_acid_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
        read_table,
    )

    path = scratch.run_dir(spark, sf_dir, "acid")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority"
    )
    base = orders.where("o_orderkey % 4 = 0")
    create_table(base, path, ["o_orderkey"], n_buckets=8)
    # commit 2: delete %16=0, double-price %16=8, insert the %4=1 keys
    cs1 = (
        orders.where("o_orderkey % 4 IN (0, 1)")
        .withColumn(
            "__op",
            F.when(F.col("o_orderkey") % 16 == 0, F.lit("D"))
            .when(F.col("o_orderkey") % 4 == 1, F.lit("I"))
            .otherwise(F.lit("U")),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 16 == 8,
                F.col("o_totalprice") * 2.0,
            ).otherwise(F.col("o_totalprice")),
        )
    )
    merge_table(spark, path, cs1)
    # commit 3: bump every inserted key's price
    cs2 = (
        orders.where("o_orderkey % 4 = 1")
        .withColumn("__op", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    merge_table(spark, path, cs2)
    return (
        read_table(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (
                F.sum(
                    F.floor(F.col("o_totalprice") * 1000000.0).cast(
                        "bigint"
                    )
                ).cast("double")
                / 1000000.0
            ).alias("total_price"),
        )
    )


# x211 — CHANGE DATA FEED: the row-level delta between two committed
# snapshots of the versioned table (table_format.table_changes). The
# diff reads ONLY buckets some commit in between actually rewrote
# (manifest-level pruning: identical data-dir paths are skipped without
# listing — at 100 TB the diff costs the churn, not the table), and a
# row fingerprint drops keys a bucket rewrite carried over unchanged —
# including cs1's no-op updates (%16 IN (4,12) rows are U-merged with
# identical values and must NOT appear in the feed). The net v1→v3
# delta is closed-form: %16=0 deleted (pre-image), %16=8 updated
# (doubled), %4=1 inserted then bumped (+1000, post-image).
@query(
    "x211_table_change_feed",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_custkey,
                      CAST(o_totalprice AS DOUBLE) AS price
               FROM orders)
    SELECT o_orderkey, o_custkey, price AS o_totalprice,
           'delete' AS _change_type
    FROM o WHERE o_orderkey % 16 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, price * 2.0 AS o_totalprice,
           'update_postimage' AS _change_type
    FROM o WHERE o_orderkey % 16 = 8
    UNION ALL
    SELECT o_orderkey, o_custkey, price + 1000.0 AS o_totalprice,
           'insert' AS _change_type
    FROM o WHERE o_orderkey % 4 = 1
    """,
)
def x211_table_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
        table_changes,
    )

    path = scratch.run_dir(spark, sf_dir, "cdf")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    create_table(
        orders.where("o_orderkey % 4 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    # commit 2: delete %16=0, double %16=8, no-op-update %16 in (4,12),
    # insert the %4=1 keys
    cs1 = (
        orders.where("o_orderkey % 4 IN (0, 1)")
        .withColumn(
            "__op",
            F.when(F.col("o_orderkey") % 16 == 0, F.lit("D"))
            .when(F.col("o_orderkey") % 4 == 1, F.lit("I"))
            .otherwise(F.lit("U")),
        )
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 16 == 8,
                F.col("o_totalprice") * 2.0,
            ).otherwise(F.col("o_totalprice")),
        )
    )
    merge_table(spark, path, cs1)
    # commit 3: bump every inserted key — the feed must show the NET
    # insert with the final value, not an insert + an update
    cs2 = (
        orders.where("o_orderkey % 4 = 1")
        .withColumn("__op", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    merge_table(spark, path, cs2)
    return table_changes(spark, path, 1, 3)


# x212 — ZONE-MAP PRUNED RANGE READ after OPTIMIZE: the versioned
# table is rewritten value-sorted on o_totalprice (optimize_table, a
# logically-no-op commit the change feed provably ignores), then a
# range predicate is answered through read_table_where, which consults
# the manifest's per-FILE min/max and opens only intersecting files —
# pruning above the engine (skipped buckets are never even listed; the
# inputFiles reduction is pinned in tests/test_table_format.py). The
# oracle states the same range aggregate over the raw rows, so a wrong
# skip (a pruned file that actually contained a matching row) is a
# hash mismatch, not a silent speedup.
@query(
    "x212_optimized_pruned_range_read",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM orders
    WHERE o_totalprice >= 50000.0 AND o_totalprice <= 80000.0
    GROUP BY o_orderpriority
    """,
)
def x212_optimized_pruned_range_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        optimize_table,
        read_table_where,
    )

    path = scratch.run_dir(spark, sf_dir, "zonemap")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    create_table(orders, path, ["o_orderkey"], n_buckets=8)
    optimize_table(spark, path, "o_totalprice", files_per_bucket=4)
    return (
        read_table_where(
            spark, path, "o_totalprice", lo=50000.0, hi=80000.0
        )
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (
                F.sum(
                    F.floor(F.col("o_totalprice") * 100.0).cast("bigint")
                ).cast("double")
                / 100.0
            ).alias("total_price"),
        )
    )
