"""Corpus-curation extension queries x142–x146: the published
LLM-training-data passes that sit between raw crawl and tokenizer —
benchmark decontamination by n-gram overlap (GPT-3 appendix C / Llama),
MassiveText repetition filters (Gopher), domain-mixture rebalancing
(DoReMi-style static rates), SemDeDup cluster-blocked semantic dedup,
and quality-aware canonical selection for exact-dup clusters.

The reference engine's analog is its per-frame curation loop
(gst-detection-tf.py: decode → threshold → keep); these are the same
keep/drop decisions at corpus scale, each expressed as one Catalyst plan
with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark import scratch
from video_streamer_spark.catalog import table
from video_streamer_spark.functions.caching import pooled
from video_streamer_spark.queries import query
from video_streamer_spark.queries.curation import (
    _R4,
    _minhash_cte,
    _sql_cos,
    _STOPWORDS_SQL,
)

# Tokenization CTE shared with curation.py's oracles (must match
# operators/dedup.tokens_col: split on single space, drop empties).
_TOKS = """
  toks AS (
    SELECT doc_id, source, lang, n_chars,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents)
"""


def _gram_cte(k: int, name: str = "g") -> str:
    """k-token n-grams, one row per position — DuckDB twin of
    operators/dedup.shingles_col(text, k) (list slices are 1-based and
    end-inclusive, so toks[i:i+k-1] is k tokens)."""
    return f"""
  {name} AS (
    SELECT doc_id, source, gram FROM (
      SELECT doc_id, source,
        unnest(list_transform(range(1, greatest(len(toks) - {k - 2}, 1)),
                              i -> array_to_string(toks[i:i+{k - 1}], ' '))) AS gram
      FROM toks WHERE len(toks) >= {k}))
"""


# --------------------------------------------------------------------------
# x142: BENCHMARK DECONTAMINATION BY N-GRAM OVERLAP — the standard
# leakage pass (GPT-3 appendix C; Llama 2): a training doc is
# contaminated iff it shares any 4-token n-gram with the held-out
# eval set (here: doc_id % 23 == 0, a deterministic stand-in for the
# benchmark table). Eval n-gram hashes BROADCAST (eval sets are small
# by construction); the train side probes them in-scan — no shuffle of
# train n-grams survives the stage.
@query(
    "x142_ngram_decontamination",
    oracle=f"""
    WITH {_TOKS},
    {_gram_cte(4)},
    h AS (SELECT doc_id, source, md5(gram) AS gh FROM g),
    ev AS (SELECT DISTINCT gh FROM h WHERE doc_id % 23 = 0),
    hits AS (
      SELECT DISTINCT doc_id FROM h
      WHERE doc_id % 23 <> 0 AND gh IN (SELECT gh FROM ev))
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_train,
      CAST(COUNT(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM hits))
           AS BIGINT) AS n_contaminated
    FROM documents
    WHERE doc_id % 23 <> 0
    GROUP BY source ORDER BY source
    """,
)
def x142_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import ngram_decontaminate

    docs = table(spark, sf_dir, "documents")
    flagged = ngram_decontaminate(
        docs, is_eval=F.col("doc_id") % 23 == 0, shingle_k=4
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_train"),
            F.count_if("contaminated").cast("bigint").alias("n_contaminated"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x143: GOPHER REPETITION FILTERS — per-document top-2-gram coverage and
# duplicate-3-gram fraction (MassiveText quality rules, token-based),
# with the keep cut at top2_frac ≤ 0.2. Per-doc metrics only see the
# doc's own grams, so the shuffle key (doc_id, gram) spreads with the
# corpus — embarrassingly parallel at any scale.
@query(
    "x143_repetition_filter",
    oracle=f"""
    WITH {_TOKS},
    base AS (SELECT doc_id, len(toks) AS n_tokens FROM toks),
    g2 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(toks), 1)),
                              i -> array_to_string(toks[i:i+1], ' '))) AS g
      FROM toks WHERE len(toks) >= 2),
    c2 AS (SELECT doc_id, g, COUNT(*) AS n FROM g2 GROUP BY 1, 2),
    t2 AS (SELECT doc_id, MAX(n) AS top2_count FROM c2 GROUP BY 1),
    g3 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                              i -> array_to_string(toks[i:i+2], ' '))) AS g
      FROM toks WHERE len(toks) >= 3),
    c3 AS (SELECT doc_id, g, COUNT(*) AS n FROM g3 GROUP BY 1, 2),
    t3 AS (
      SELECT doc_id,
        SUM(CASE WHEN n >= 2 THEN n ELSE 0 END) AS dup3,
        SUM(n) AS tot3
      FROM c3 GROUP BY 1)
    SELECT b.doc_id,
      CAST(b.n_tokens AS BIGINT) AS n_tokens,
      CAST(COALESCE(t2.top2_count, 0) AS BIGINT) AS top2_count,
      {_R4.format(
          "COALESCE(2.0 * t2.top2_count / b.n_tokens, 0.0)"
      )} AS top2_frac,
      {_R4.format(
          "COALESCE(CAST(t3.dup3 AS DOUBLE) / CAST(t3.tot3 AS DOUBLE), 0.0)"
      )} AS dup3_frac,
      CAST(COALESCE(2.0 * t2.top2_count / b.n_tokens, 0.0) <= 0.2
           AS BOOLEAN) AS keep
    FROM base b
    LEFT JOIN t2 USING (doc_id)
    LEFT JOIN t3 USING (doc_id)
    ORDER BY doc_id
    """,
)
def x143_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import repetition_signals

    docs = table(spark, sf_dir, "documents")
    return repetition_signals(docs, top2_max_frac=0.2).orderBy("doc_id")


# --------------------------------------------------------------------------
# x144: DOMAIN-MIXTURE REBALANCING — uniform per-source token targets
# under a 50% global budget, applied as deterministic md5-bucket
# acceptance (the static resolution of a DoReMi-style reweighting: any
# target mixture reduces to per-domain rates + reproducible sampling).
# The rate table is dimension-sized (one row per source) and
# broadcasts; the keep predicate is row-local.
@query(
    "x144_mixture_rebalance",
    oracle=f"""
    WITH {_TOKS},
    sized AS (SELECT doc_id, source, len(toks) AS toks FROM toks),
    totals AS (
      SELECT source, COUNT(*) AS n_docs, SUM(toks) AS tokens_total
      FROM sized GROUP BY source),
    priced AS (
      SELECT source, n_docs, tokens_total,
        least(1.0,
          CAST(CAST(floor(
            floor(CAST(SUM(tokens_total) OVER () AS DOUBLE) * 0.5)
            / COUNT(*) OVER ()) AS BIGINT) AS DOUBLE)
          / CAST(tokens_total AS DOUBLE)) AS rate
      FROM totals),
    kept AS (
      SELECT s.source, COUNT(*) AS n_kept, SUM(s.toks) AS tokens_kept
      FROM sized s JOIN priced p USING (source)
      WHERE CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000
            < CAST(floor(p.rate * 10000.0) AS BIGINT)
      GROUP BY s.source)
    SELECT p.source,
      CAST(p.n_docs AS BIGINT) AS n_docs,
      CAST(p.tokens_total AS BIGINT) AS tokens_total,
      {_R4.format("p.rate")} AS accept_rate,
      CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
      CAST(COALESCE(k.tokens_kept, 0) AS BIGINT) AS tokens_kept
    FROM priced p LEFT JOIN kept k USING (source)
    ORDER BY source
    """,
)
def x144_mixture_rebalance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.sampling import mixture_rebalance

    docs = table(spark, sf_dir, "documents")
    return mixture_rebalance(docs, group_col="source", budget_frac=0.5).orderBy(
        "source"
    )


# --------------------------------------------------------------------------
# x145: SEMANTIC DEDUP, CLUSTER-BLOCKED (SemDeDup) — within each
# embedding cluster (the testdata's label column), drop every vector
# with a lower-id cluster-mate at cosine ≥ 0.35 (threshold per x05's
# rationale: the corpus' max planted cosine is ≈0.51). The cluster is
# the blocking key, so cost is Σ|cell|², never |N|².
@query(
    "x145_semantic_dedup",
    oracle=f"""
    WITH drops AS (
      SELECT DISTINCT b.label, b.vec_id
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_sql_cos('a.embedding', 'b.embedding')} >= 0.35)
    SELECT e.label,
      CAST(COUNT(*) AS BIGINT) AS n_vecs,
      CAST(COUNT(d.vec_id) AS BIGINT) AS n_dropped,
      CAST(COUNT(*) - COUNT(d.vec_id) AS BIGINT) AS n_kept
    FROM embeddings e
    LEFT JOIN drops d ON e.label = d.label AND e.vec_id = d.vec_id
    GROUP BY e.label ORDER BY e.label
    """,
)
def x145_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.similarity import (
        semantic_dedup_by_cluster,
    )

    emb = table(spark, sf_dir, "embeddings")
    return semantic_dedup_by_cluster(
        emb, cluster_col="label", threshold=0.35
    ).orderBy("label")


# --------------------------------------------------------------------------
# x146: CANONICAL SELECTION — exact-dup clusters keep their BEST copy
# (highest n_chars, ties to lowest doc_id) instead of x01's first-id
# rule; the keeper decision that matters when mirrors truncate. Same
# cost envelope as exact dedup: one shuffle on md5(text).
@query(
    "x146_canonical_selection",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, lang, n_chars,
        ROW_NUMBER() OVER (PARTITION BY md5(text)
                           ORDER BY n_chars DESC, doc_id ASC) AS rn,
        COUNT(*) OVER (PARTITION BY md5(text)) AS group_size
      FROM documents)
    SELECT doc_id, source, lang,
      CAST(n_chars AS BIGINT) AS n_chars,
      CAST(group_size AS BIGINT) AS group_size
    FROM ranked WHERE rn = 1 ORDER BY doc_id
    """,
)
def x146_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import canonical_selection

    docs = table(spark, sf_dir, "documents")
    return canonical_selection(docs).select(
        "doc_id",
        "source",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "group_size",
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x148: CROSS-SOURCE OVERLAP — pairwise shingle containment between
# ingest sources (|A∩B|/|A| and /|B|): the report that prices a feed's
# redundancy BEFORE paying for full dedup. Inverted-index join on the
# shingle; per-shingle fan-out is bounded by n_sources², a dimension
# count.
@query(
    "x148_source_overlap",
    oracle=f"""
    WITH {_TOKS},
    sh AS (
      SELECT DISTINCT source, shingle FROM (
        SELECT source,
          unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(toks) >= 3)),
    sizes AS (SELECT source, COUNT(*) AS set_size FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2)
    SELECT source_a, source_b, CAST(n_inter AS BIGINT) AS n_inter,
      {_R4.format(
          "CAST(n_inter AS DOUBLE) / CAST(sa.set_size AS DOUBLE)"
      )} AS containment_a,
      {_R4.format(
          "CAST(n_inter AS DOUBLE) / CAST(sb.set_size AS DOUBLE)"
      )} AS containment_b
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
)
def x148_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.dedup import source_overlap

    docs = table(spark, sf_dir, "documents")
    return (
        source_overlap(docs, group_col="source", shingle_k=3)
        .select(
            "source_a",
            "source_b",
            "n_inter",
            round4("containment_a_raw").alias("containment_a"),
            round4("containment_b_raw").alias("containment_b"),
        )
        .orderBy("source_a", "source_b")
    )


# --------------------------------------------------------------------------
# x149: HARD-NEGATIVE MINING — for each anchor vector (a deterministic
# sample), the 3 most-similar vectors with a DIFFERENT label: the
# high-similarity wrong-class pairs contrastive training wants.
# Anchors broadcast; the corpus is scanned once (query-sharded form).
@query(
    "x149_hard_negatives",
    oracle=f"""
    WITH scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        {_R4.format(_sql_cos('c.embedding', 'q.embedding'))} AS sim
      FROM embeddings q JOIN embeddings c ON c.label <> q.label
      WHERE q.vec_id % 50 = 0),
    ranked AS (
      SELECT query_id, vec_id, sim,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY sim DESC, vec_id) AS rn
      FROM scored)
    SELECT query_id, vec_id, sim, CAST(rn AS INT) AS rank
    FROM ranked WHERE rn <= 3
    ORDER BY query_id, rank
    """,
)
def x149_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.similarity import hard_negative_topk

    emb = table(spark, sf_dir, "embeddings")
    return hard_negative_topk(
        emb, anchor_pred=F.col("vec_id") % 50 == 0, k=3
    ).orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# x150: BPE PAIR STATISTICS — corpus-wide adjacent-character-pair
# frequencies, the statistic byte-pair-encoding maximizes on its first
# merge (Sennrich et al. 2016). Token-weighted (every occurrence
# counts), pure codegen explode + hash agg with map-side combine; the
# top-20 is a TakeOrdered, not a global sort.
@query(
    "x150_bpe_pair_counts",
    oracle=f"""
    WITH {_TOKS},
    tok AS (SELECT unnest(toks) AS t FROM toks),
    pairs AS (
      SELECT substr(t, CAST(i AS INT), 2) AS pair
      FROM (SELECT t, unnest(range(1, length(t))) AS i FROM tok)),
    counted AS (SELECT pair, COUNT(*) AS n FROM pairs GROUP BY pair)
    SELECT pair, CAST(n AS BIGINT) AS n FROM counted
    ORDER BY n DESC, pair LIMIT 20
    """,
)
def x150_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.catalog import scatter
    from video_streamer_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    t = F.col("t")
    pairs = F.when(
        F.length(t) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.length(t) - 1),
            lambda i: F.substring(t, i, 2),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        scatter(docs)
        .select(F.explode(tokens_col("text")).alias("t"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


# --------------------------------------------------------------------------
# x147: CURATION PIPELINE v3 — the four corpus passes composed the way a
# training run ships them, with a per-source FUNNEL report: raw → train
# split → exact-dedup keepers → repetition filter → benchmark
# decontamination → mixture-rebalanced acceptance. Every stage is the
# already-verified operator (x01/x143/x142/x144 rules, identical
# constants); the per-doc flag frame is built once (persisted — it feeds
# both the pricing aggregate and the final acceptance scan, the same
# two-consumer shape x142's gram table has).
@query(
    "x147_curation_pipeline_v3",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, md5(text) AS th,
        len(list_filter(string_split(text, ' '), x -> x <> '')) AS toks_n,
        (doc_id % 23 <> 0) AS is_train
      FROM documents),
    keep1 AS (
      SELECT doc_id,
        (ROW_NUMBER() OVER (PARTITION BY th ORDER BY doc_id) = 1) AS is_keeper
      FROM base),
    toksd AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    g2 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(toks), 1)),
                              i -> array_to_string(toks[i:i+1], ' '))) AS g
      FROM toksd WHERE len(toks) >= 2),
    c2 AS (SELECT doc_id, g, COUNT(*) AS n FROM g2 GROUP BY 1, 2),
    t2 AS (SELECT doc_id, MAX(n) AS top2_count FROM c2 GROUP BY 1),
    g4 AS (
      SELECT doc_id,
        md5(unnest(list_transform(range(1, greatest(len(toks) - 2, 1)),
                              i -> array_to_string(toks[i:i+3], ' ')))) AS gh
      FROM toksd WHERE len(toks) >= 4),
    ev AS (SELECT DISTINCT gh FROM g4 WHERE doc_id % 23 = 0),
    hits AS (
      SELECT DISTINCT doc_id FROM g4
      WHERE doc_id % 23 <> 0 AND gh IN (SELECT gh FROM ev)),
    flags AS (
      SELECT b.doc_id, b.source, b.toks_n, b.is_train, k.is_keeper,
        (COALESCE(2.0 * t2.top2_count / b.toks_n, 0.0) <= 0.2) AS rep_ok,
        (b.doc_id IN (SELECT doc_id FROM hits)) AS contaminated
      FROM base b
      JOIN keep1 k USING (doc_id)
      LEFT JOIN t2 USING (doc_id)),
    flagged AS (
      SELECT *,
        (is_train AND is_keeper AND rep_ok AND NOT contaminated) AS clean
      FROM flags),
    funnel AS (
      SELECT source,
        COUNT(*) AS n_raw,
        COUNT(*) FILTER (WHERE is_train) AS n_train,
        COUNT(*) FILTER (WHERE is_train AND is_keeper) AS n_keeper,
        COUNT(*) FILTER (WHERE is_train AND is_keeper AND rep_ok) AS n_rep_ok,
        COUNT(*) FILTER (WHERE clean) AS n_clean,
        SUM(CASE WHEN clean THEN toks_n ELSE 0 END) AS clean_tokens
      FROM flagged GROUP BY source),
    priced AS (
      SELECT *,
        CASE WHEN clean_tokens > 0 THEN least(1.0,
          CAST(CAST(floor(
            floor(CAST(SUM(clean_tokens) OVER () AS DOUBLE) * 0.5)
            / COUNT(*) OVER ()) AS BIGINT) AS DOUBLE)
          / CAST(clean_tokens AS DOUBLE)) ELSE 0.0 END AS rate
      FROM funnel),
    kept AS (
      SELECT f.source, COUNT(*) AS n_final, SUM(f.toks_n) AS tokens_final
      FROM flagged f JOIN priced p USING (source)
      WHERE f.clean
        AND CAST(('0x' || substr(md5(CAST(f.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000
            < CAST(floor(p.rate * 10000.0) AS BIGINT)
      GROUP BY f.source)
    SELECT p.source,
      CAST(p.n_raw AS BIGINT) AS n_raw,
      CAST(p.n_train AS BIGINT) AS n_train,
      CAST(p.n_keeper AS BIGINT) AS n_keeper,
      CAST(p.n_rep_ok AS BIGINT) AS n_rep_ok,
      CAST(p.n_clean AS BIGINT) AS n_clean,
      {_R4.format("p.rate")} AS accept_rate,
      CAST(COALESCE(k.n_final, 0) AS BIGINT) AS n_final,
      CAST(COALESCE(k.tokens_final, 0) AS BIGINT) AS tokens_final
    FROM priced p LEFT JOIN kept k USING (source)
    ORDER BY source
    """,
)
def x147_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.dedup import (
        ngram_decontaminate,
        tokens_col,
    )
    from video_streamer_spark.operators.sampling import (
        SAMPLE_BUCKETS,
        _hash_bucket,
    )
    from video_streamer_spark.operators.text import repetition_signals

    docs = table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % 23 == 0

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    base = docs.select(
        "doc_id",
        "source",
        F.size(tokens_col("text")).cast("bigint").alias("toks_n"),
        (F.row_number().over(w) == 1).alias("is_keeper"),
        (~is_eval).alias("is_train"),
    )
    rep = repetition_signals(docs).select("doc_id", F.col("keep").alias("rep_ok"))
    decon = ngram_decontaminate(docs, is_eval=is_eval, shingle_k=4).select(
        "doc_id", "contaminated"
    )
    flagged = (
        base.join(rep, "doc_id")
        .join(decon, "doc_id", "left")
        .withColumn("contaminated", F.coalesce("contaminated", F.lit(False)))
        .withColumn(
            "clean",
            F.col("is_train")
            & F.col("is_keeper")
            & F.col("rep_ok")
            & ~F.col("contaminated"),
        )
        .transform(pooled("x147-flagged"))
    )
    funnel = flagged.groupBy("source").agg(
        F.count("*").alias("n_raw"),
        F.count_if("is_train").alias("n_train"),
        F.count_if(F.col("is_train") & F.col("is_keeper")).alias("n_keeper"),
        F.count_if(
            F.col("is_train") & F.col("is_keeper") & F.col("rep_ok")
        ).alias("n_rep_ok"),
        F.count_if("clean").alias("n_clean"),
        F.sum(F.when(F.col("clean"), F.col("toks_n")).otherwise(0)).alias(
            "clean_tokens"
        ),
    )
    wall = Window.partitionBy()
    priced = funnel.withColumn(
        "rate",
        F.when(
            F.col("clean_tokens") > 0,
            F.least(
                F.lit(1.0),
                F.floor(
                    F.floor(
                        F.sum("clean_tokens").over(wall).cast("double")
                        * F.lit(0.5)
                    )
                    / F.count("*").over(wall)
                )
                .cast("bigint")
                .cast("double")
                / F.col("clean_tokens").cast("double"),
            ),
        ).otherwise(F.lit(0.0)),
    )
    cutoff = F.floor(F.col("rate") * F.lit(float(SAMPLE_BUCKETS))).cast("bigint")
    kept = (
        flagged.where("clean")
        .join(F.broadcast(priced.select("source", "rate")), "source")
        .where(_hash_bucket("doc_id") < cutoff)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_final"),
            F.sum("toks_n").alias("tokens_final"),
        )
    )
    return (
        priced.join(kept, "source", "left")
        .select(
            "source",
            F.col("n_raw").cast("bigint").alias("n_raw"),
            F.col("n_train").cast("bigint").alias("n_train"),
            F.col("n_keeper").cast("bigint").alias("n_keeper"),
            F.col("n_rep_ok").cast("bigint").alias("n_rep_ok"),
            F.col("n_clean").cast("bigint").alias("n_clean"),
            round4("rate").alias("accept_rate"),
            F.coalesce(F.col("n_final"), F.lit(0)).cast("bigint").alias("n_final"),
            F.coalesce(F.col("tokens_final"), F.lit(0))
            .cast("bigint")
            .alias("tokens_final"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# x151: PRODUCT QUANTIZATION ENCODE — each 64-d embedding compressed to
# 4 centroid ids (16-d subspaces, 8-centroid codebook from the x112
# hash-pivot convention) + total quantization error: the compression
# that makes billion-scale ANN fit in memory. Codebook broadcasts;
# corpus scanned once; ONE groupBy(vec_id) with map-side partial min.
def _pq_sub_dist_sql(m: int, sub: int = 16) -> str:
    lo, hi = m * sub + 1, (m + 1) * sub
    dot = "list_dot_product(ev[{lo}:{hi}], {o}[{lo}:{hi}])"
    aa = dot.format(lo=lo, hi=hi, o="ev")
    ab = dot.format(lo=lo, hi=hi, o="cv")
    bb = f"list_dot_product(cv[{lo}:{hi}], cv[{lo}:{hi}])"
    return f"CAST(floor(({aa} + {bb} - 2*{ab}) * 1000000000.0) AS BIGINT)"


@query(
    "x151_pq_encode",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 8),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    scored AS (
      SELECT ev.vec_id, cb.c,
        {", ".join(f"{_pq_sub_dist_sql(m)} AS qd_{m}" for m in range(4))}
      FROM ev CROSS JOIN cb),
    mins AS (
      SELECT vec_id,
        {", ".join(
            "MIN({'d': qd_%d, 'c': c}) AS b%d" % (m, m) for m in range(4)
        )}
      FROM scored GROUP BY vec_id)
    SELECT vec_id,
      {", ".join(f"CAST(b{m}.c AS INT) AS code_{m}" for m in range(4))},
      {_R4.format(
          "CAST(b0.d + b1.d + b2.d + b3.d AS DOUBLE) / 1000000000.0"
      )} AS qerr
    FROM mins
    """,
)
def x151_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.similarity import pq_encode

    emb = table(spark, sf_dir, "embeddings")
    enc = pq_encode(emb, codebook_pred=F.col("vec_id") < 8)
    return enc.select(
        "vec_id",
        *[f"code_{m}" for m in range(4)],
        round4("qerr_raw").alias("qerr"),
    )


# --------------------------------------------------------------------------
# x152: PQ ADC TOP-K — nearest neighbors of vec 0 scored from PQ CODES
# alone via a (8 centroids × 4 subspaces) lookup table: the query path
# of a compressed billion-scale index. LUT broadcasts; one
# groupBy(vec_id) re-sum; top-5 = TakeOrderedAndProject. Integer
# nanounit distances end to end — ranking can't flip on float render.
@query(
    "x152_pq_adc_topk",
    oracle=f"""
    WITH cb AS (
      SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 8),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    scored AS (
      SELECT ev.vec_id, cb.c,
        {", ".join(f"{_pq_sub_dist_sql(m)} AS qd_{m}" for m in range(4))}
      FROM ev CROSS JOIN cb),
    mins AS (
      SELECT vec_id,
        {", ".join(
            "MIN({'d': qd_%d, 'c': c}) AS b%d" % (m, m) for m in range(4)
        )}
      FROM scored GROUP BY vec_id),
    lut AS (
      SELECT cb.c,
        {", ".join(f"{_pq_sub_dist_sql(m)} AS qd_{m}" for m in range(4))}
      FROM (SELECT CAST(embedding AS DOUBLE[]) AS ev
            FROM embeddings WHERE vec_id = 0) q CROSS JOIN cb),
    dist AS (
      SELECT m.vec_id,
        l0.qd_0 + l1.qd_1 + l2.qd_2 + l3.qd_3 AS qdist
      FROM mins m
      JOIN lut l0 ON l0.c = m.b0.c
      JOIN lut l1 ON l1.c = m.b1.c
      JOIN lut l2 ON l2.c = m.b2.c
      JOIN lut l3 ON l3.c = m.b3.c),
    ranked AS (
      SELECT vec_id, qdist,
        CAST(ROW_NUMBER() OVER (ORDER BY qdist, vec_id) AS INT) AS rank
      FROM dist)
    SELECT vec_id,
      {_R4.format("CAST(qdist AS DOUBLE) / 1000000000.0")} AS adist,
      rank
    FROM ranked WHERE rank <= 5
    """,
)
def x152_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.similarity import pq_adc_topk

    emb = table(spark, sf_dir, "embeddings")
    top = pq_adc_topk(
        emb,
        query_pred=F.col("vec_id") == 0,
        codebook_pred=F.col("vec_id") < 8,
        k=5,
    )
    return top.select("vec_id", round4("adist_raw").alias("adist"), "rank")


# --------------------------------------------------------------------------
# x153: BPE TOKENIZER TRAINING — three real merge iterations over the
# corpus vocabulary (count adjacent symbol pairs weighted by word
# frequency → take the max → fold-merge everywhere, left-to-right
# non-overlapping), returning the merge table that IS the tokenizer.
# State is vocab-sized, never corpus-sized; each round is one pair agg
# + a 1-row TakeOrdered. The oracle unrolls the same three rounds with
# list_reduce folds — merge sequences must agree exactly.
def _bpe_round_sql(i: int) -> str:
    prev, p, b, nxt = f"s{i-1}", f"p{i}", f"b{i}", f"s{i}"
    return f"""
    {p} AS (
      SELECT p.l AS l, p.r AS r, CAST(SUM(wc) AS BIGINT) AS n FROM (
        SELECT wc, unnest(list_transform(range(1, len(syms)),
          j -> {{'l': syms[j], 'r': syms[j+1]}})) AS p
        FROM {prev} WHERE len(syms) >= 2) GROUP BY 1, 2),
    {b} AS (SELECT l, r, l || r AS m, n FROM {p} ORDER BY n DESC, l, r LIMIT 1),
    {nxt} AS (
      SELECT wc, list_reduce(list_transform(syms, s -> [s]),
        (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = {b}.l AND x[1] = {b}.r
                    THEN list_concat(acc[1:len(acc)-1], [{b}.m])
                    ELSE list_concat(acc, x) END) AS syms
      FROM {prev} CROSS JOIN {b})"""


@query(
    "x153_bpe_train_merges",
    oracle=f"""
    WITH {_TOKS},
    tokn AS (SELECT unnest(toks) AS t FROM toks),
    words AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS wc
              FROM tokn GROUP BY t),
    s0 AS (SELECT wc, string_split(w, '') AS syms FROM words),
    {",".join(_bpe_round_sql(i) for i in (1, 2, 3))}
    SELECT 1 AS merge_rank, l, r, m AS merged, n FROM b1
    UNION ALL SELECT 2, l, r, m, n FROM b2
    UNION ALL SELECT 3, l, r, m, n FROM b3
    """,
)
def x153_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import bpe_train_merges

    return bpe_train_merges(table(spark, sf_dir, "documents"), n_merges=3)


# --------------------------------------------------------------------------
# x154: BPE SEGMENTATION REPORT — apply the x153-trained merges and
# report corpus compression: word occurrences, symbols before (chars)
# and after, ratio. Aggregated from the frequency-weighted vocab table
# (vocab-sized input, exact BIGINT sums).
@query(
    "x154_bpe_segment_stats",
    oracle=f"""
    WITH {_TOKS},
    tokn AS (SELECT unnest(toks) AS t FROM toks),
    words AS (SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS wc
              FROM tokn GROUP BY t),
    s0 AS (SELECT wc, string_split(w, '') AS syms FROM words),
    {",".join(_bpe_round_sql(i) for i in (1, 2, 3))}
    SELECT CAST(SUM(wc) AS BIGINT) AS n_words,
      CAST(SUM(wc * list_sum(list_transform(syms, s -> strlen(s))))
           AS BIGINT) AS syms_before,
      CAST(SUM(wc * len(syms)) AS BIGINT) AS syms_after,
      {_R4.format(
          "CAST(SUM(wc * len(syms)) AS DOUBLE)"
          " / CAST(SUM(wc * list_sum(list_transform(syms, s -> strlen(s))))"
          " AS DOUBLE)"
      )} AS ratio
    FROM s3
    """,
)
def x154_bpe_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.text import bpe_segment_stats

    stats = bpe_segment_stats(table(spark, sf_dir, "documents"), n_merges=3)
    return stats.select(
        "n_words", "syms_before", "syms_after",
        round4("ratio_raw").alias("ratio"),
    )


# --------------------------------------------------------------------------
# x155: MATERIALIZED IVF INDEX — build the cell-partitioned parquet
# index, then answer a query batch by scanning ONLY the probed cell=
# partitions (static partition pruning, asserted in test_plans). Same
# quantizer/probe/score math as x32's in-memory IVF, so the oracle is
# the identical SQL on the raw table.
@query(
    "x155_ivf_index_search",
    oracle=f"""
    WITH piv AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_dot_product(p.cvec, p.cvec) - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p) WHERE rn = 1),
    probe AS (
      SELECT query_id, cent_id FROM (
        SELECT e.vec_id AS query_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_dot_product(p.cvec, p.cvec) - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p WHERE e.vec_id < 5) WHERE rn <= 4),
    scored AS (
      SELECT pr.query_id, a.vec_id,
        CAST(ROUND(CAST((list_dot_product(CAST(ce.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[])) / (sqrt(list_dot_product(CAST(ce.embedding AS DOUBLE[]), CAST(ce.embedding AS DOUBLE[]))) * sqrt(list_dot_product(CAST(qe.embedding AS DOUBLE[]), CAST(qe.embedding AS DOUBLE[]))))) AS DECIMAL(38,12)), 4) AS DOUBLE) AS sim
      FROM probe pr
      JOIN assign a ON a.cent_id = pr.cent_id AND a.vec_id <> pr.query_id
      JOIN embeddings qe ON qe.vec_id = pr.query_id
      JOIN embeddings ce ON ce.vec_id = a.vec_id),
    ranked AS (
      SELECT query_id, vec_id, sim,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, sim, rank FROM ranked WHERE rank <= 3
    """,
)
def x155_ivf_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
    )

    emb = table(spark, sf_dir, "embeddings")
    path = scratch.run_dir(spark, sf_dir, "ivf-index")
    ivf_index_build(emb, path, n_cells=16)
    return ivf_index_search(
        emb, path, emb.where(F.col("vec_id") < 5), k=3, n_cells=16, n_probe=4
    )


# --------------------------------------------------------------------------
# x156: SUBMODULAR COVERAGE SELECTION — three lazy-greedy rounds of
# facility-location selection over 3-token shingle coverage (the
# 1-1/e-approximate diversity buy of modern corpus curation): each
# round one anti-join + count + 1-row TakeOrdered. Oracle unrolls the
# same rounds; selection sequence and covered totals must agree.
def _cov_round_sql(i: int) -> str:
    excl = " AND ".join(
        f"doc_id NOT IN (SELECT doc_id FROM b{j})" for j in range(1, i)
    )
    not_cov = f"AND gh NOT IN (SELECT gh FROM c{i-1})" if i > 1 else ""
    where = f"WHERE {excl} {not_cov}" if i > 1 else ""
    cprev = (
        f"SELECT gh FROM c{i-1} UNION " if i > 1 else ""
    )
    return f"""
    g{i} AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS gain FROM sh
      {where} GROUP BY doc_id),
    b{i} AS (SELECT doc_id, gain FROM g{i} ORDER BY gain DESC, doc_id LIMIT 1),
    c{i} AS ({cprev}SELECT DISTINCT gh FROM sh
      WHERE doc_id IN (SELECT doc_id FROM b{i}))"""


@query(
    "x156_coverage_selection",
    oracle=f"""
    WITH {_TOKS},
    sh AS (
      SELECT DISTINCT doc_id, md5(g) AS gh FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> array_to_string(toks[i:i+2], ' '))) AS g
        FROM toks WHERE len(toks) >= 3)),
    {",".join(_cov_round_sql(i) for i in (1, 2, 3))}
    SELECT 1 AS sel_rank, doc_id, gain,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c1) AS covered_total FROM b1
    UNION ALL SELECT 2, doc_id, gain,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c2) FROM b2
    UNION ALL SELECT 3, doc_id, gain,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM c3) FROM b3
    """,
)
def x156_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import greedy_coverage_selection

    return greedy_coverage_selection(
        table(spark, sf_dir, "documents"), n_select=3, shingle_k=3
    )


# --------------------------------------------------------------------------
# x157: RECORD LINKAGE — customer↔supplier entity-resolution candidates:
# nation-blocked equi-join (pair fan-out bounded by block size, never a
# cross product), Fellegi–Sunter-style additive weights on name-suffix
# edit distance + balance bucket, threshold, top-3 per customer.
@query(
    "x157_record_linkage",
    oracle="""
    WITH scored AS (
      SELECT c.c_custkey, s.s_suppkey,
        CAST((CASE levenshtein(right(c.c_name, 6), right(s.s_name, 6))
              WHEN 0 THEN 4 WHEN 1 THEN 2 WHEN 2 THEN 1 ELSE -1 END)
           + (CASE WHEN floor(c.c_acctbal / 1000.0)
                        = floor(s.s_acctbal / 1000.0)
                   THEN 2 ELSE -1 END) AS INT) AS score
      FROM customer c JOIN supplier s ON c.c_nationkey = s.s_nationkey),
    kept AS (SELECT * FROM scored WHERE score >= 2),
    ranked AS (
      SELECT c_custkey, s_suppkey, score,
        CAST(ROW_NUMBER() OVER (PARTITION BY c_custkey
          ORDER BY score DESC, s_suppkey) AS INT) AS rank
      FROM kept)
    SELECT c_custkey, s_suppkey, score, rank FROM ranked WHERE rank <= 3
    """,
)
def x157_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.linkage import link_records

    c = table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal",
        F.col("c_nationkey").alias("nationkey"),
    )
    s = table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal",
        F.col("s_nationkey").alias("nationkey"),
    )
    return link_records(
        c, s, block_col="nationkey",
        left_id="c_custkey", right_id="s_suppkey",
        name_cols=("c_name", "s_name"), bal_cols=("c_acctbal", "s_acctbal"),
        min_score=2, k=3,
    )


# --------------------------------------------------------------------------
# x158: MMR DIVERSIFIED RERANK — relevance recall (top-20 pool) then
# three λ=1/2 maximal-marginal-relevance rounds: argmax of
# (rel − max-sim-to-selected)/2 in BIGINT micros with id tiebreaks.
# The rerank a retrieval stack runs after ANN so near-duplicates don't
# crowd the context window. Oracle unrolls the identical rounds.
_MMR_COS_PP = (
    "list_dot_product(p.ev, s.ev) / "
    "(sqrt(list_dot_product(p.ev, p.ev)) * sqrt(list_dot_product(s.ev, s.ev)))"
)


@query(
    "x158_mmr_rerank",
    oracle=f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev,
        {_R4.format(_sql_cos('e.embedding', 'q.qe'))} AS rel
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT 20),
    b1 AS (
      SELECT vec_id, rel, 0.0 AS div,
        CAST(floor((rel * 0.5 - 0.0 * 0.5) * 1000000.0) AS BIGINT)
          AS mmr_micros
      FROM pool
      ORDER BY mmr_micros DESC, vec_id LIMIT 1),
    d2 AS (
      SELECT p.vec_id, p.rel, MAX({_R4.format(_MMR_COS_PP)}) AS div
      FROM pool p JOIN pool s ON s.vec_id IN (SELECT vec_id FROM b1)
      WHERE p.vec_id NOT IN (SELECT vec_id FROM b1) GROUP BY 1, 2),
    b2 AS (
      SELECT vec_id, rel, div,
        CAST(floor((rel * 0.5 - div * 0.5) * 1000000.0) AS BIGINT)
          AS mmr_micros
      FROM d2 ORDER BY mmr_micros DESC, vec_id LIMIT 1),
    d3 AS (
      SELECT p.vec_id, p.rel, MAX({_R4.format(_MMR_COS_PP)}) AS div
      FROM pool p JOIN pool s
        ON s.vec_id IN (SELECT vec_id FROM b1 UNION SELECT vec_id FROM b2)
      WHERE p.vec_id NOT IN
        (SELECT vec_id FROM b1 UNION SELECT vec_id FROM b2)
      GROUP BY 1, 2),
    b3 AS (
      SELECT vec_id, rel, div,
        CAST(floor((rel * 0.5 - div * 0.5) * 1000000.0) AS BIGINT)
          AS mmr_micros
      FROM d3 ORDER BY mmr_micros DESC, vec_id LIMIT 1)
    SELECT 1 AS sel_rank, vec_id, rel, div, mmr_micros FROM b1
    UNION ALL SELECT 2, vec_id, rel, div, mmr_micros FROM b2
    UNION ALL SELECT 3, vec_id, rel, div, mmr_micros FROM b3
    """,
)
def x158_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.similarity import mmr_rerank

    emb = table(spark, sf_dir, "embeddings")
    return mmr_rerank(emb, query_pred=F.col("vec_id") == 0, k=3, pool=20)


# --------------------------------------------------------------------------
# x159: COMPRESSED IVF+PQ INDEX — the FAISS IVFPQ layout end to end:
# vectors stored as cell + 4 PQ codes (no raw floats), searched by a
# partition-pruned scan of the probed cells with LUT-only ADC scoring.
# Oracle composes the x155 assignment/probe CTEs with the x151/x152
# code/LUT CTEs on the raw table; integer nanounit distances.
@query(
    "x159_ivfpq_index_search",
    oracle=f"""
    WITH piv AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_dot_product(p.cvec, p.cvec)
                     - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p) WHERE rn = 1),
    probe AS (
      SELECT cent_id FROM (
        SELECT p.cent_id,
          ROW_NUMBER() OVER (
            ORDER BY list_dot_product(p.cvec, p.cvec)
                     - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p WHERE e.vec_id = 0) WHERE rn <= 4),
    cb AS (
      SELECT vec_id AS c, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings WHERE vec_id < 8),
    ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
    scored AS (
      SELECT ev.vec_id, cb.c,
        {", ".join(f"{_pq_sub_dist_sql(m)} AS qd_{m}" for m in range(4))}
      FROM ev CROSS JOIN cb),
    mins AS (
      SELECT vec_id,
        {", ".join(
            "MIN({'d': qd_%d, 'c': c}) AS b%d" % (m, m) for m in range(4)
        )}
      FROM scored GROUP BY vec_id),
    lut AS (
      SELECT cb.c,
        {", ".join(f"{_pq_sub_dist_sql(m)} AS qd_{m}" for m in range(4))}
      FROM (SELECT CAST(embedding AS DOUBLE[]) AS ev
            FROM embeddings WHERE vec_id = 0) q CROSS JOIN cb),
    dist AS (
      SELECT m.vec_id,
        l0.qd_0 + l1.qd_1 + l2.qd_2 + l3.qd_3 AS qdist
      FROM mins m
      JOIN assign a ON a.vec_id = m.vec_id
        AND a.cent_id IN (SELECT cent_id FROM probe)
      JOIN lut l0 ON l0.c = m.b0.c
      JOIN lut l1 ON l1.c = m.b1.c
      JOIN lut l2 ON l2.c = m.b2.c
      JOIN lut l3 ON l3.c = m.b3.c),
    ranked AS (
      SELECT vec_id, qdist,
        CAST(ROW_NUMBER() OVER (ORDER BY qdist, vec_id) AS INT) AS rank
      FROM dist)
    SELECT vec_id,
      {_R4.format("CAST(qdist AS DOUBLE) / 1000000000.0")} AS adist,
      rank
    FROM ranked WHERE rank <= 5
    """,
)
def x159_ivfpq_index_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.similarity import (
        ivfpq_index_build,
        ivfpq_index_search,
    )

    emb = table(spark, sf_dir, "embeddings")
    path = scratch.run_dir(spark, sf_dir, "ivfpq-index")
    cbp = F.col("vec_id") < 8
    ivfpq_index_build(emb, path, codebook_pred=cbp, n_cells=16)
    top = ivfpq_index_search(
        emb, path, emb.where(F.col("vec_id") == 0),
        codebook_pred=cbp, k=5, n_cells=16, n_probe=4,
    )
    return top.select("vec_id", round4("adist_raw").alias("adist"), "rank")


# --------------------------------------------------------------------------
# x160: ANN RECALL EVALUATION — recall@5 of the IVF probe (x32 params)
# against the brute-force ground truth, per query: the measurement loop
# every ANN deployment runs before trusting an index ("measure, don't
# guess" as a first-class operator). Both rankings and their
# intersection are computed engine-side; the oracle recomputes the
# identical pair of rankings in SQL.
@query(
    "x160_ann_recall_eval",
    oracle=f"""
    WITH piv AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_dot_product(p.cvec, p.cvec)
                     - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p) WHERE rn = 1),
    probe AS (
      SELECT query_id, cent_id FROM (
        SELECT e.vec_id AS query_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_dot_product(p.cvec, p.cvec)
                     - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p WHERE e.vec_id < 10) WHERE rn <= 4),
    approx AS (
      SELECT query_id, vec_id FROM (
        SELECT pr.query_id, a.vec_id,
          ROW_NUMBER() OVER (PARTITION BY pr.query_id
            ORDER BY {_sql_cos('ce.embedding', 'qe.embedding')} DESC,
                     a.vec_id) AS rank
        FROM probe pr
        JOIN assign a ON a.cent_id = pr.cent_id AND a.vec_id <> pr.query_id
        JOIN embeddings qe ON qe.vec_id = pr.query_id
        JOIN embeddings ce ON ce.vec_id = a.vec_id) WHERE rank <= 5),
    exact AS (
      SELECT query_id, vec_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id
            ORDER BY {_sql_cos('e.embedding', 'q.embedding')} DESC,
                     e.vec_id) AS rank
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 10) WHERE rank <= 5)
    SELECT x.query_id,
      CAST(COUNT(a.vec_id) AS INT) AS n_hit,
      {_R4.format("CAST(COUNT(a.vec_id) AS DOUBLE) / 5.0")} AS recall
    FROM exact x
    LEFT JOIN approx a
      ON a.query_id = x.query_id AND a.vec_id = x.vec_id
    GROUP BY x.query_id
    """,
)
def x160_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators import similarity

    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    approx = similarity.ivf_topk_pivots(
        emb, q, k=5, n_cells=16, n_probe=4
    ).select("query_id", "vec_id")
    exact = similarity.brute_topk(emb, q, k=5, exclude_self=True).select(
        "query_id", "vec_id"
    )
    return (
        exact.join(
            approx.withColumn("__hit", F.lit(1)),
            ["query_id", "vec_id"],
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.count("__hit").cast("int").alias("n_hit"),
            round4(F.count("__hit").cast("double") / 5.0).alias("recall"),
        )
    )


# --------------------------------------------------------------------------
# x161: QUALITY DRIFT MONITORING (PSI) — population stability index of
# each source's quality-score distribution against the corpus-wide
# one: Σ (p−q)·ln(p/q) over 5 score buckets, Laplace-smoothed on the
# full source×bucket grid so empty buckets contribute finitely.
# Per-bucket terms ride the guard-digit qdec6 quantizer (parity.py) so
# the cross-engine sum is exact and the ln cast window is minimal; the
# psi output itself is DOUBLE (rule 4). The monitoring pass a feed
# pipeline runs to catch a source going off-distribution.
@query(
    "x161_psi_quality_drift",
    oracle=f"""
    WITH {_TOKS},
    feats AS (
      SELECT source,
        CAST(len(toks) AS DOUBLE) AS n_tokens,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_filter(toks, t -> list_contains(
            {_STOPWORDS_SQL}, t))) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        ELSE 0.0 END AS stop_ratio
      FROM toks),
    q AS (
      SELECT source,
        CAST(least(floor((least(n_tokens, 200.0) / 200.0 * 0.5
          + least(stop_ratio * 10.0, 1.0) * 0.5) * 5.0), 4) AS INT) AS b
      FROM feats),
    grid AS (
      SELECT s.source, g.b
      FROM (SELECT DISTINCT source FROM q) s
      CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4]) AS b) g),
    sc AS (SELECT source, b, COUNT(*) AS c FROM q GROUP BY 1, 2),
    filled AS (
      SELECT grid.source, grid.b, COALESCE(sc.c, 0) AS c
      FROM grid LEFT JOIN sc ON sc.source = grid.source AND sc.b = grid.b),
    stot AS (SELECT source, SUM(c) AS n FROM filled GROUP BY source),
    gcnt AS (SELECT b, SUM(c) AS c FROM filled GROUP BY b),
    gtot AS (SELECT SUM(c) AS n FROM gcnt),
    terms AS (
      SELECT f.source,
        CAST(ROUND(CAST(
          ((CAST(f.c + 1 AS DOUBLE) / CAST(stot.n + 5 AS DOUBLE))
            - (CAST(g.c + 1 AS DOUBLE) / CAST(gtot.n + 5 AS DOUBLE)))
          * ln((CAST(f.c + 1 AS DOUBLE) / CAST(stot.n + 5 AS DOUBLE))
             / (CAST(g.c + 1 AS DOUBLE) / CAST(gtot.n + 5 AS DOUBLE)))
          AS DECIMAL(38,9)), 6) AS DECIMAL(18,6)) AS term
      FROM filled f
      JOIN stot ON stot.source = f.source
      JOIN gcnt g ON g.b = f.b
      CROSS JOIN gtot)
    SELECT source, CAST(SUM(term) AS DOUBLE) AS psi
    FROM terms GROUP BY source
    """,
)
def x161_psi_quality_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import quality_score_col

    docs = table(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.least(F.floor(quality_score_col() * 5.0), F.lit(4))
        .cast("int")
        .alias("b"),
    )
    grid = (
        scored.select("source")
        .distinct()
        # one slice: the 5-row bucket spine is broadcast into the cross
        # join, and a defaultParallelism-slice Range costs a 32-task
        # broadcast-build job (r15 job audit, same class as labels())
        .crossJoin(
            spark.range(0, 5, 1, 1).select(F.col("id").cast("int").alias("b"))
        )
    )
    sc = scored.groupBy("source", "b").agg(F.count("*").alias("c"))
    filled = grid.join(sc, ["source", "b"], "left").withColumn(
        "c", F.coalesce("c", F.lit(0))
    )
    stot = filled.groupBy("source").agg(F.sum("c").alias("n_src"))
    gcnt = filled.groupBy("b").agg(F.sum("c").alias("gc"))
    gtot = filled.agg(F.sum("c").alias("n_all"))
    p = (F.col("c") + 1).cast("double") / (F.col("n_src") + 5).cast("double")
    q = (F.col("gc") + 1).cast("double") / (F.col("n_all") + 5).cast("double")
    from video_streamer_spark.functions.parity import qdec6

    terms = (
        filled.join(F.broadcast(stot), "source")
        .join(F.broadcast(gcnt), "b")
        .crossJoin(F.broadcast(gtot))
        .select(
            "source",
            qdec6((p - q) * F.log(p / q)).alias("term"),
        )
    )
    return terms.groupBy("source").agg(
        F.sum("term").cast("double").alias("psi")
    )


# --------------------------------------------------------------------------
# x162: CONTAINMENT DEDUP — documents appearing VERBATIM inside other
# documents (quoted/superset duplicates that near-dup misses: a short
# doc inside a long one has low Jaccard). Rarest-shingle blocking
# (candidate-exact for token-aligned containment, fan-out bounded by
# df(rarest)), codegen substring verify.
@query(
    "x162_containment_dedup",
    oracle=f"""
    WITH {_TOKS},
    sh AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> array_to_string(toks[i:i+2], ' '))) AS g
        FROM toks WHERE len(toks) >= 3)),
    dfq AS (SELECT g, COUNT(*) AS df FROM sh GROUP BY g),
    rarest AS (
      SELECT doc_id, g FROM (
        SELECT sh.doc_id, sh.g,
          ROW_NUMBER() OVER (PARTITION BY sh.doc_id
                             ORDER BY dfq.df, sh.g) AS rn
        FROM sh JOIN dfq ON dfq.g = sh.g) WHERE rn = 1),
    cand AS (
      SELECT r.doc_id AS doc_a, s.doc_id AS doc_b
      FROM rarest r JOIN sh s ON s.g = r.g AND s.doc_id <> r.doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c
      JOIN documents da ON da.doc_id = c.doc_a
      JOIN documents db ON db.doc_id = c.doc_b
      WHERE (length(da.text) < length(db.text)
             OR (length(da.text) = length(db.text) AND c.doc_a < c.doc_b))
        AND strpos(db.text, da.text) > 0)
    SELECT doc_a, doc_b FROM verified
    """,
)
def x162_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import containment_pairs

    return containment_pairs(table(spark, sf_dir, "documents"), shingle_k=3)


# --------------------------------------------------------------------------
# x163: CONTRASTIVE TRIPLET ASSEMBLY — the training-pair export a
# contrastive run consumes: per anchor (deterministic sample), the
# most-similar SAME-label vector as positive and the most-similar
# DIFFERENT-label vector as hard negative, with both similarities.
# Two broadcast-anchor corpus scans (the x149 shape), one join.
@query(
    "x163_contrastive_triplets",
    oracle=f"""
    WITH pos AS (
      SELECT query_id, vec_id AS pos_id, sim AS pos_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
          {_R4.format(_sql_cos('c.embedding', 'q.embedding'))} AS sim,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            {_R4.format(_sql_cos('c.embedding', 'q.embedding'))} DESC,
            c.vec_id) AS rn
        FROM embeddings q JOIN embeddings c
          ON c.label = q.label AND c.vec_id <> q.vec_id
        WHERE q.vec_id % 50 = 0) WHERE rn = 1),
    neg AS (
      SELECT query_id, vec_id AS neg_id, sim AS neg_sim FROM (
        SELECT q.vec_id AS query_id, c.vec_id,
          {_R4.format(_sql_cos('c.embedding', 'q.embedding'))} AS sim,
          ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
            {_R4.format(_sql_cos('c.embedding', 'q.embedding'))} DESC,
            c.vec_id) AS rn
        FROM embeddings q JOIN embeddings c
          ON c.label <> q.label
        WHERE q.vec_id % 50 = 0) WHERE rn = 1)
    SELECT p.query_id AS anchor_id, p.pos_id, p.pos_sim,
           n.neg_id, n.neg_sim
    FROM pos p JOIN neg n ON n.query_id = p.query_id
    """,
)
def x163_contrastive_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.similarity import hard_negative_topk

    emb = table(spark, sf_dir, "embeddings")
    pred = F.col("vec_id") % 50 == 0
    pos = hard_negative_topk(emb, pred, k=1, same_label=True).select(
        F.col("query_id").alias("anchor_id"),
        F.col("vec_id").alias("pos_id"),
        F.col("sim").alias("pos_sim"),
    )
    neg = hard_negative_topk(emb, pred, k=1, same_label=False).select(
        F.col("query_id").alias("anchor_id"),
        F.col("vec_id").alias("neg_id"),
        F.col("sim").alias("neg_sim"),
    )
    return pos.join(neg, "anchor_id")


# --------------------------------------------------------------------------
# x164: INDEX UPSERT THEN SEARCH — the vector-DB write path end to end:
# build the IVF index, upsert a delta batch (vecs 0-9 get reversed
# embeddings — cell moves included — plus one brand-new vector), then
# search; only touched cell= partitions rewrite (unit-tested). The
# oracle runs the x155 pipeline over the delta-APPLIED logical table
# with the quantizer pinned from the BASE corpus, exactly as the
# operator pins it.
@query(
    "x164_index_upsert_search",
    oracle=f"""
    WITH delta AS (
      SELECT vec_id, list_reverse(embedding) AS embedding
      FROM embeddings WHERE vec_id < 10
      UNION ALL
      SELECT vec_id + 10000 AS vec_id, embedding
      FROM embeddings WHERE vec_id = 20),
    emb2 AS (
      SELECT e.vec_id, e.embedding FROM embeddings e
      WHERE e.vec_id NOT IN (SELECT vec_id FROM delta)
      UNION ALL SELECT vec_id, embedding FROM delta),
    piv AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_dot_product(p.cvec, p.cvec)
                     - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            p.cvec), p.cent_id) AS rn
        FROM emb2 e CROSS JOIN piv p) WHERE rn = 1),
    probe AS (
      SELECT cent_id FROM (
        SELECT p.cent_id,
          ROW_NUMBER() OVER (
            ORDER BY list_dot_product(p.cvec, p.cvec)
                     - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p WHERE e.vec_id = 42) WHERE rn <= 4),
    scored AS (
      SELECT a.vec_id,
        {_R4.format(_sql_cos('ce.embedding', 'qe.embedding'))} AS sim
      FROM assign a
      JOIN emb2 ce ON ce.vec_id = a.vec_id
      JOIN embeddings qe ON qe.vec_id = 42
      WHERE a.cent_id IN (SELECT cent_id FROM probe) AND a.vec_id <> 42),
    ranked AS (
      SELECT vec_id, sim,
        CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= 5
    """,
)
def x164_index_upsert_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
        ivf_index_upsert,
    )

    emb = table(spark, sf_dir, "embeddings")
    path = scratch.run_dir(spark, sf_dir, "ivf-upsert")
    ivf_index_build(emb, path, n_cells=16)
    delta = (
        emb.where(F.col("vec_id") < 10)
        .select("vec_id", F.reverse("embedding").alias("embedding"), "label")
        .unionByName(
            emb.where(F.col("vec_id") == 20).select(
                (F.col("vec_id") + 10000).alias("vec_id"),
                "embedding",
                "label",
            )
        )
    )
    ivf_index_upsert(emb, path, delta, n_cells=16)
    return ivf_index_search(
        emb, path, emb.where(F.col("vec_id") == 42), k=5, n_cells=16, n_probe=4
    ).select("vec_id", "sim", "rank")


# --------------------------------------------------------------------------
# x165: RAKE KEYWORD EXTRACTION — corpus keyword vocabulary via Rapid
# Automatic Keyword Extraction: stopword-delimited phrase runs (a
# codegen fold Spark-side; prefix-count run ids in the oracle), word
# degree/frequency scores, phrase = Σ word scores in exact
# DECIMAL(18,6), top-15 TakeOrdered.
@query(
    "x165_rake_keywords",
    oracle=f"""
    WITH {_TOKS},
    pos AS (
      SELECT doc_id, unnest(toks) AS t,
             unnest(range(1, len(toks) + 1)) AS i
      FROM toks),
    marked AS (
      SELECT doc_id, i, t,
        CASE WHEN list_contains({_STOPWORDS_SQL}, t) THEN 1 ELSE 0 END AS s
      FROM pos),
    runs AS (
      SELECT doc_id, i, t, s,
        SUM(s) OVER (PARTITION BY doc_id ORDER BY i) AS run_id
      FROM marked),
    phr AS (
      SELECT doc_id, run_id, string_agg(t, ' ' ORDER BY i) AS phrase
      FROM runs WHERE s = 0 GROUP BY doc_id, run_id),
    pw AS (
      SELECT unnest(string_split(phrase, ' ')) AS w,
             len(string_split(phrase, ' ')) AS plen
      FROM phr),
    stats AS (SELECT w, COUNT(*) AS freq, SUM(plen) AS degree
              FROM pw GROUP BY w),
    ws AS (
      SELECT w, CAST(CAST(degree AS DOUBLE) / CAST(freq AS DOUBLE)
                     AS DECIMAL(18,6)) AS ws
      FROM stats),
    per_phrase AS (
      SELECT phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM phr GROUP BY phrase),
    pword AS (
      SELECT phrase, n_occ, unnest(string_split(phrase, ' ')) AS w
      FROM per_phrase)
    SELECT p.phrase, p.n_occ,
      CAST(SUM(ws.ws) AS DOUBLE) AS score
    FROM pword p JOIN ws ON ws.w = p.w
    GROUP BY p.phrase, p.n_occ
    ORDER BY score DESC, p.phrase LIMIT 15
    """,
)
def x165_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import rake_keywords

    # Final DOUBLE cast of the exact DECIMAL phrase score: parity.py
    # rule 4 — DECIMAL never reaches the hashed output.
    return rake_keywords(table(spark, sf_dir, "documents"), top_n=15).select(
        "phrase", "n_occ", F.col("score").cast("double").alias("score")
    )


# --------------------------------------------------------------------------
# x166: WINNOWING FINGERPRINTS — the MOSS selection (window-min over
# k-gram hashes, leftmost tie): any shared run of ≥ w+k-1 tokens is
# GUARANTEED a shared fingerprint at ~2/(w+1) storage density. Per-doc
# report of selections and distinct fingerprints; argmin computed by
# the identical two-pass window+join in both engines.
@query(
    "x166_winnowing_fingerprints",
    oracle=f"""
    WITH {_TOKS},
    gr AS (
      SELECT doc_id,
        unnest(range(0, len(toks) - 1)) AS i,
        unnest(list_transform(range(1, len(toks)),
          x -> CAST(('0x' || substr(md5(array_to_string(toks[x:x+1], ' ')),
                     1, 14)) AS BIGINT))) AS h
      FROM toks WHERE len(toks) >= 2),
    starts AS (
      SELECT doc_id, i AS j,
        MIN(h) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin,
        COUNT(*) OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wlen
      FROM gr),
    st AS (SELECT doc_id, j, wmin FROM starts WHERE wlen = 4),
    per_win AS (
      SELECT s.doc_id, s.j, MIN(g.i) AS pos, s.wmin AS fp
      FROM st s JOIN gr g
        ON g.doc_id = s.doc_id AND g.h = s.wmin
       AND g.i >= s.j AND g.i < s.j + 4
      GROUP BY s.doc_id, s.j, s.wmin),
    sel AS (SELECT DISTINCT doc_id, pos, fp FROM per_win)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sel,
      CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fp
    FROM sel GROUP BY doc_id
    """,
)
def x166_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import winnowing_fingerprints

    sel = winnowing_fingerprints(
        table(spark, sf_dir, "documents"), window=4, shingle_k=2
    )
    return sel.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sel"),
        F.countDistinct("fp").cast("bigint").alias("n_fp"),
    )


# --------------------------------------------------------------------------
# x167: ZIPF FIT — least-squares fit of ln(freq) on ln(rank) over the
# top-100 tokens: the corpus-statistics sanity report (natural text
# slopes ≈ −1; synthetic/boilerplate corpora drift). The x107
# regression recipe on micro-quantized lns: BIGINT ln-microunits,
# DECIMAL(38,0) exact sums, double math only at the end.
_ZNUM = ("(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
         " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))")
_ZDXX = ("(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
         " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))")
_ZDYY = ("(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
         " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))")


@query(
    "x167_zipf_fit",
    oracle=f"""
    WITH {_TOKS},
    tok AS (SELECT unnest(toks) AS t FROM toks),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, t) AS rank
      FROM freq ORDER BY c DESC, t LIMIT 100),
    pts AS (
      SELECT CAST(ROUND(CAST(ln(CAST(rank AS DOUBLE)) AS DECIMAL(38,9)), 6)
                  * 1000000 AS DECIMAL(38,0)) AS x,
             CAST(ROUND(CAST(ln(CAST(c AS DOUBLE)) AS DECIMAL(38,9)), 6)
                  * 1000000 AS DECIMAL(38,0)) AS y
      FROM ranked),
    sums AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        SUM(x) AS sx, SUM(y) AS sy,
        SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM pts)
    SELECT CAST(n AS BIGINT) AS n_points,
      {_R4.format(f"({_ZNUM}) / ({_ZDXX})")} AS slope,
      {_R4.format(
          f"((CAST(sy AS DOUBLE) - (({_ZNUM}) / ({_ZDXX}))"
          f" * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 1000000.0"
      )} AS intercept_ln,
      {_R4.format(
          f"(({_ZNUM}) / (sqrt({_ZDXX}) * sqrt({_ZDYY})))"
          f" * (({_ZNUM}) / (sqrt({_ZDXX}) * sqrt({_ZDYY})))"
      )} AS r2
    FROM sums
    """,
)
def x167_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.text import tokens_col

    docs = table(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens_col("text")).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(100)
    )
    w = Window.orderBy(F.col("c").desc(), "t")
    def ln_micro(c):
        # guard-digit ln micro-units (r5 ADVICE): capture at 1e-9, round
        # to 1e-6, scale — exact decimal arithmetic after the one cast
        return (
            F.round(c.cast("decimal(38,9)"), 6) * 1000000
        ).cast("decimal(38,0)")

    pts = freq.select(
        ln_micro(F.log(F.row_number().over(w).cast("double"))).alias("x"),
        ln_micro(F.log(F.col("c").cast("double"))).alias("y"),
    )
    s = pts.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = (F.col("n").cast("double"), F.col("sx").cast("double"),
                 F.col("sy").cast("double"))
    sxy, sxx, syy = (F.col("sxy").cast("double"), F.col("sxx").cast("double"),
                     F.col("syy").cast("double"))
    num = n * sxy - sx * sy
    dxx = n * sxx - sx * sx
    dyy = n * syy - sy * sy
    slope = num / dxx
    return s.select(
        F.col("n").cast("bigint").alias("n_points"),
        round4(slope).alias("slope"),
        round4(((sy - slope * sx) / n) / 1e6).alias("intercept_ln"),
        round4((num / (F.sqrt(dxx) * F.sqrt(dyy)))
               * (num / (F.sqrt(dxx) * F.sqrt(dyy)))).alias("r2"),
    )


# --------------------------------------------------------------------------
# x168: LEAKAGE-SAFE SPLIT — train/val/test assignment by NEAR-DUP
# CLUSTER, not by document: hash-splitting doc ids leaks near-identical
# pairs across the eval boundary, so the split key is the connected
# component of the minhash candidate graph (x45 machinery), singletons
# keyed by their own id. The n_spanning column PROVES the invariant
# in-band (clusters touching >1 split — must be 0).
@query(
    "x168_leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte()},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM mh_pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    comp AS (SELECT src AS doc_id, MIN(dst) AS min_reach FROM reach GROUP BY src),
    assigned AS (
      SELECT d.doc_id,
        CAST(COALESCE(LEAST(c.doc_id, c.min_reach), d.doc_id) AS BIGINT)
          AS comp_id
      FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
    split AS (
      SELECT doc_id, comp_id,
        CASE WHEN CAST(('0x' || substr(md5(CAST(comp_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 < 8000 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(comp_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 10000 < 9000 THEN 'val'
             ELSE 'test' END AS split
      FROM assigned),
    spanning AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT comp_id FROM split GROUP BY comp_id
        HAVING COUNT(DISTINCT split) > 1))
    SELECT s.split,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(COUNT(DISTINCT s.comp_id) AS BIGINT) AS n_clusters,
      (SELECT n FROM spanning) AS n_spanning
    FROM split s GROUP BY s.split
    """,
)
def x168_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import dedup
    from video_streamer_spark.operators.sampling import hash_split

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs)
    comps = dedup.connected_components(pairs)
    assigned = (
        docs.select("doc_id")
        .join(comps, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id"))
            .cast("bigint")
            .alias("comp_id"),
        )
    )
    split = hash_split(
        assigned,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        id_col="comp_id",
    ).transform(pooled("x168-split"))
    spanning = (
        split.groupBy("comp_id")
        .agg(F.countDistinct("split").alias("ns"))
        .where(F.col("ns") > 1)
        .agg(F.count("*").cast("bigint").alias("n_spanning"))
    )
    return (
        split.groupBy("split")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.countDistinct("comp_id").cast("bigint").alias("n_clusters"),
        )
        .crossJoin(F.broadcast(spanning))
    )


# --------------------------------------------------------------------------
# x169: DEDUP IMPACT REPORT — what each dedup family would remove,
# measured independently on the same corpus: exact (non-first copy per
# md5), near-dup (non-canonical members of minhash-graph clusters),
# containment (docs appearing verbatim inside another). Docs AND token
# counts — the executive summary that prices a dedup pass before
# committing to it.
@query(
    "x169_dedup_impact_report",
    oracle=f"""
    WITH RECURSIVE {_minhash_cte()},
    tk AS (
      SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
             AS BIGINT) AS n_tok
      FROM documents),
    exact_drop AS (
      SELECT doc_id FROM (
        SELECT doc_id, ROW_NUMBER() OVER (PARTITION BY md5(text)
                                          ORDER BY doc_id) AS rn
        FROM documents) WHERE rn > 1),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
    comp AS (SELECT src AS doc_id, MIN(dst) AS mr FROM reach GROUP BY src),
    near_drop AS (
      SELECT doc_id FROM comp WHERE LEAST(doc_id, mr) <> doc_id),
    sh2 AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id, unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> array_to_string(toks[i:i+2], ' '))) AS g
        FROM toks WHERE len(toks) >= 3)),
    dfq AS (SELECT g, COUNT(*) AS df FROM sh2 GROUP BY g),
    rarest AS (
      SELECT doc_id, g FROM (
        SELECT sh2.doc_id, sh2.g,
          ROW_NUMBER() OVER (PARTITION BY sh2.doc_id
                             ORDER BY dfq.df, sh2.g) AS rn
        FROM sh2 JOIN dfq ON dfq.g = sh2.g) WHERE rn = 1),
    contain_drop AS (
      SELECT DISTINCT r.doc_id
      FROM rarest r
      JOIN sh2 s ON s.g = r.g AND s.doc_id <> r.doc_id
      JOIN documents da ON da.doc_id = r.doc_id
      JOIN documents db ON db.doc_id = s.doc_id
      WHERE (length(da.text) < length(db.text)
             OR (length(da.text) = length(db.text) AND r.doc_id < s.doc_id))
        AND strpos(db.text, da.text) > 0)
    SELECT 'exact' AS method,
      CAST(COUNT(*) AS BIGINT) AS n_docs_dropped,
      CAST(COALESCE(SUM(tk.n_tok), 0) AS BIGINT) AS n_tokens_dropped
    FROM exact_drop d JOIN tk ON tk.doc_id = d.doc_id
    UNION ALL
    SELECT 'near_dup', CAST(COUNT(*) AS BIGINT),
      CAST(COALESCE(SUM(tk.n_tok), 0) AS BIGINT)
    FROM near_drop d JOIN tk ON tk.doc_id = d.doc_id
    UNION ALL
    SELECT 'containment', CAST(COUNT(*) AS BIGINT),
      CAST(COALESCE(SUM(tk.n_tok), 0) AS BIGINT)
    FROM contain_drop d JOIN tk ON tk.doc_id = d.doc_id
    """,
)
def x169_dedup_impact_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", F.size(dedup.tokens_col("text")).cast("bigint").alias("n_tok")
    ).transform(pooled("x169-tokens"))

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    exact_drop = (
        docs.select("doc_id", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") > 1)
        .select("doc_id")
    )
    comps = dedup.connected_components(dedup.minhash_candidate_pairs(docs))
    near_drop = comps.where(F.col("comp") != F.col("node")).select(
        F.col("node").alias("doc_id")
    )
    contain_drop = (
        dedup.containment_pairs(docs, shingle_k=3)
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )

    def report(name: str, dropped: DataFrame) -> DataFrame:
        return (
            dropped.join(tk, "doc_id")
            .agg(
                F.count("*").cast("bigint").alias("n_docs_dropped"),
                F.coalesce(F.sum("n_tok"), F.lit(0))
                .cast("bigint")
                .alias("n_tokens_dropped"),
            )
            .select(F.lit(name).alias("method"), "n_docs_dropped",
                    "n_tokens_dropped")
        )

    return (
        report("exact", exact_drop)
        .unionByName(report("near_dup", near_drop))
        .unionByName(report("containment", contain_drop))
    )


# --------------------------------------------------------------------------
# x170: BIGRAM LM SCORING — per-document mean log-probability under an
# interpolated bigram model trained on the corpus itself (0.75·MLE
# bigram + 0.25·Laplace unigram): the perplexity-style quality signal
# CCNet/Gopher-class filters rank documents by. Count tables are
# vocab-sized broadcasts; per-term lns are DECIMAL(18,6)-quantized so
# document sums are exact across engines.
@query(
    "x170_bigram_lm_score",
    oracle=f"""
    WITH {_TOKS},
    uni AS (
      SELECT t, COUNT(*) AS c FROM (SELECT unnest(toks) AS t FROM toks)
      GROUP BY t),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM uni),
    bi AS (
      SELECT p.w1, p.w2, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
          i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
        FROM toks WHERE len(toks) >= 2)
      GROUP BY p.w1, p.w2),
    terms AS (
      SELECT d.doc_id,
        CAST(ROUND(CAST(
          ln(0.75 * (CAST(COALESCE(b.c, 0) AS DOUBLE)
                        / CAST(u1.c AS DOUBLE))
              + 0.25 * ((CAST(u2.c AS DOUBLE) + 1.0)
                        / (CAST(tot.n AS DOUBLE) + CAST(tot.v AS DOUBLE))))
             AS DECIMAL(38,9)), 6) AS DECIMAL(18,6)) AS term
      FROM (
        SELECT doc_id,
          unnest(list_transform(range(1, len(toks)),
            i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
        FROM toks WHERE len(toks) >= 2) d(doc_id, p)
      JOIN uni u1 ON u1.t = d.p.w1
      JOIN uni u2 ON u2.t = d.p.w2
      LEFT JOIN bi b ON b.w1 = d.p.w1 AND b.w2 = d.p.w2
      CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
      CAST(SUM(term) AS DOUBLE) AS logprob_sum
    FROM terms GROUP BY doc_id
    """,
)
def x170_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import qdec6
    from video_streamer_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_col("text").alias("t"))
    pairs = toks.where(F.size("t") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1),"
                " i -> struct(t[i-1] AS w1, t[i] AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    uni = (
        toks.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    tot = uni.agg(
        F.sum("c").alias("n"), F.count("*").alias("v")
    )
    bi = pairs.groupBy("w1", "w2").agg(F.count("*").alias("cb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    terms = (
        pairs.join(F.broadcast(bi), ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            qdec6(
                F.log(
                    0.75
                    * (
                        F.coalesce(F.col("cb"), F.lit(0)).cast("double")
                        / F.col("c1").cast("double")
                    )
                    + 0.25
                    * (
                        (F.col("c2").cast("double") + 1.0)
                        / (
                            F.col("n").cast("double")
                            + F.col("v").cast("double")
                        )
                    )
                )
            ).alias("term"),
        )
    )
    return terms.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.sum("term").cast("double").alias("logprob_sum"),
    )


# --------------------------------------------------------------------------
# x171: DOCUMENT STITCHING — suffix/prefix overlap pairs: doc A's last
# 3 tokens equal doc B's first 3 (A≠B), the candidate that B continues
# A — the reconstruction signal for documents split by crawl/shard
# boundaries. One equi-join on the 3-token boundary gram (fan-out
# bounded by boundary-gram frequency); no similarity scan.
@query(
    "x171_doc_stitching",
    oracle=f"""
    WITH {_TOKS},
    ends AS (
      SELECT doc_id,
        array_to_string(toks[1:3], ' ') AS head_g,
        array_to_string(toks[len(toks)-2:len(toks)], ' ') AS tail_g
      FROM toks WHERE len(toks) >= 3)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      a.tail_g AS overlap_gram
    FROM ends a JOIN ends b
      ON a.tail_g = b.head_g AND a.doc_id <> b.doc_id
    """,
)
def x171_doc_stitching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    ends = (
        docs.select("doc_id", tokens_col("text").alias("t"))
        .where(F.size("t") >= 3)
        .select(
            "doc_id",
            F.concat_ws(" ", F.slice("t", 1, 3)).alias("head_g"),
            F.concat_ws(" ", F.slice("t", -3, 3)).alias("tail_g"),
        )
    )
    a = ends.select(F.col("doc_id").alias("doc_a"), F.col("tail_g"))
    b = ends.select(F.col("doc_id").alias("doc_b"), F.col("head_g"))
    return (
        a.join(b, a.tail_g == b.head_g)
        .where(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b", F.col("tail_g").alias("overlap_gram"))
    )


# --------------------------------------------------------------------------
# x172: BOILERPLATE N-GRAM DETECTION — shingles present in >5% of all
# documents are corpus boilerplate (the C4-style common-gram signal);
# per source, the mean fraction of gram occurrences that are
# boilerplate — a feed whose number spikes is shipping templated text.
# Doc-frequency table is vocab-sized and broadcasts; per-doc fractions
# are DECIMAL(18,6)-quantized before the exact sum.
@query(
    "x172_boilerplate_ngrams",
    oracle=f"""
    WITH {_TOKS},
    grams AS (
      SELECT doc_id, source,
        unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
          i -> array_to_string(toks[i:i+2], ' '))) AS g
      FROM toks WHERE len(toks) >= 3),
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    dfq AS (SELECT g, COUNT(DISTINCT doc_id) AS df FROM grams GROUP BY g),
    bp AS (
      SELECT g FROM dfq CROSS JOIN nd
      WHERE CAST(df AS DOUBLE) / CAST(n_docs AS DOUBLE) > 0.05),
    per_doc AS (
      SELECT gr.doc_id, gr.source,
        CAST(CAST(COUNT(bp.g) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS DECIMAL(18,6)) AS frac
      FROM grams gr LEFT JOIN bp ON bp.g = gr.g
      GROUP BY gr.doc_id, gr.source)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      {_R4.format(
          "CAST(SUM(frac) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
      )} AS mean_boilerplate_frac
    FROM per_doc GROUP BY source
    """,
)
def x172_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.dedup import shingles_col

    docs = table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        "source",
        F.explode(shingles_col("text", 3)).alias("g"),
    )
    # table stat from the parquet footer (zero Spark jobs at plan
    # construction — the x05 catalog-statistics convention; handles
    # multi-file table dirs too)
    from video_streamer_spark.catalog import parquet_row_count

    n_docs = parquet_row_count(sf_dir, "documents")
    dfq = grams.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    bp = dfq.where(
        F.col("df").cast("double") / F.lit(float(n_docs)) > 0.05
    ).select("g", F.lit(1).alias("is_bp"))
    per_doc = (
        grams.join(F.broadcast(bp), "g", "left")
        .groupBy("doc_id", "source")
        .agg(
            (
                F.count("is_bp").cast("double")
                / F.count("*").cast("double")
            )
            .cast("decimal(18,6)")
            .alias("frac")
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        round4(
            F.sum("frac").cast("double") / F.count("*").cast("double")
        ).alias("mean_boilerplate_frac"),
    )


# --------------------------------------------------------------------------
# x173: TEMPERATURE MIXTURE SAMPLING — per-source acceptance rates from
# the α-temperature rule (share_i ∝ tokens_i^α, α=0.3 — the mT5/XLM-R
# low-resource up-weighting) under a 50%-of-corpus token budget.
# pow() outputs are DECIMAL(18,6)-quantized before ANY arithmetic that
# feeds an integer cutoff, so the acceptance predicate (md5 bucket <
# floor(rate·10⁴)) is engine-exact. Acceptance stays a pure row-local
# hash predicate — x144's machinery, different allocation rule.
@query(
    "x173_temperature_mixture",
    oracle=f"""
    WITH {_TOKS},
    pertok AS (
      SELECT doc_id, source,
        CAST(len(toks) AS BIGINT) AS n_tok
      FROM toks),
    src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(n_tok) AS BIGINT) AS toks
      FROM pertok GROUP BY source),
    w AS (
      SELECT source, n_docs, toks,
        CAST(pow(CAST(toks AS DOUBLE), 0.3) AS DECIMAL(18,6)) AS wt
      FROM src),
    tot AS (SELECT SUM(wt) AS sw, SUM(toks) AS all_toks FROM w),
    rates AS (
      SELECT w.source, w.n_docs, w.toks,
        CAST(least(1.0,
          CAST(CAST(floor(
            (CAST(w.wt AS DOUBLE) / CAST(tot.sw AS DOUBLE))
            * floor(0.5 * CAST(tot.all_toks AS DOUBLE))) AS BIGINT) AS DOUBLE)
          / CAST(w.toks AS DOUBLE)) AS DECIMAL(18,6)) AS rate
      FROM w CROSS JOIN tot),
    accepted AS (
      SELECT p.source,
        CAST(COUNT(*) AS BIGINT) AS n_acc,
        CAST(SUM(p.n_tok) AS BIGINT) AS toks_acc
      FROM pertok p JOIN rates r ON r.source = p.source
      WHERE CAST(('0x' || substr(md5(CAST(p.doc_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 10000
            < CAST(floor(r.rate * 10000.0) AS BIGINT)
      GROUP BY p.source)
    SELECT r.source,
      r.n_docs, r.toks,
      CAST(r.rate AS DOUBLE) AS accept_rate,
      CAST(COALESCE(a.n_acc, 0) AS BIGINT) AS n_accepted,
      CAST(COALESCE(a.toks_acc, 0) AS BIGINT) AS tokens_accepted
    FROM rates r LEFT JOIN accepted a ON a.source = r.source
    """,
)
def x173_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col
    from video_streamer_spark.operators.sampling import _hash_bucket

    docs = table(spark, sf_dir, "documents")
    pertok = docs.select(
        "doc_id", "source", F.size(tokens_col("text")).cast("bigint").alias("n_tok")
    )
    src = pertok.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("toks"),
    )
    w = src.select(
        "source", "n_docs", "toks",
        F.pow(F.col("toks").cast("double"), 0.3)
        .cast("decimal(18,6)")
        .alias("wt"),
    )
    tot = w.agg(
        F.sum("wt").alias("sw"), F.sum("toks").alias("all_toks")
    )
    rates = w.crossJoin(F.broadcast(tot)).select(
        "source", "n_docs", "toks",
        F.least(
            F.lit(1.0),
            F.floor(
                (F.col("wt").cast("double") / F.col("sw").cast("double"))
                * F.floor(0.5 * F.col("all_toks").cast("double"))
            )
            .cast("bigint")
            .cast("double")
            / F.col("toks").cast("double"),
        )
        .cast("decimal(18,6)")
        .alias("rate"),
    )
    cutoff = F.floor(F.col("rate").cast("double") * 10000.0).cast("bigint")
    accepted = (
        pertok.join(F.broadcast(rates.select("source", "rate")), "source")
        .where(_hash_bucket("doc_id") < cutoff)
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_acc"),
            F.sum("n_tok").cast("bigint").alias("toks_acc"),
        )
    )
    return (
        rates.join(accepted, "source", "left")
        .select(
            "source", "n_docs", "toks",
            F.col("rate").cast("double").alias("accept_rate"),
            F.coalesce("n_acc", F.lit(0)).cast("bigint").alias("n_accepted"),
            F.coalesce("toks_acc", F.lit(0))
            .cast("bigint")
            .alias("tokens_accepted"),
        )
    )


# --------------------------------------------------------------------------
# x174: K-ANONYMITY AUDIT — re-identification risk over the
# quasi-identifier tuple (nation, market segment, balance bucket):
# how many QI groups have fewer than k=5 members and how many records
# they expose. The privacy gate a dataset passes before release;
# complements x132's PII scrub (content) with structure-level risk.
@query(
    "x174_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_b
      FROM customer),
    grp AS (
      SELECT nat, seg, bal_b, COUNT(*) AS sz
      FROM qi GROUP BY nat, seg, bal_b)
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_groups,
      CAST(COUNT(*) FILTER (WHERE sz < 5) AS BIGINT) AS n_violating,
      CAST(COALESCE(SUM(sz) FILTER (WHERE sz < 5), 0) AS BIGINT)
        AS n_records_at_risk,
      CAST(MIN(sz) AS BIGINT) AS min_group_size
    FROM grp
    """,
)
def x174_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    grp = c.groupBy(
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("bal_b"),
    ).agg(F.count("*").alias("sz"))
    return grp.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count_if(F.col("sz") < 5).cast("bigint").alias("n_violating"),
        F.coalesce(F.sum(F.when(F.col("sz") < 5, F.col("sz"))), F.lit(0))
        .cast("bigint")
        .alias("n_records_at_risk"),
        F.min("sz").cast("bigint").alias("min_group_size"),
    )


# --------------------------------------------------------------------------
# x175: OOV / GIBBERISH RATIO — fraction of each document's tokens
# outside the corpus's top-20 vocabulary: the out-of-vocabulary signal
# a gibberish/garbled-encoding filter thresholds on. Vocabulary is a
# TakeOrdered broadcast; per-doc fractions DECIMAL-quantized before
# exact summing; per-source mean + count of flagged (frac > 0.5) docs.
@query(
    "x175_oov_ratio",
    oracle=f"""
    WITH {_TOKS},
    tok AS (SELECT doc_id, source, unnest(toks) AS t FROM toks),
    vocab AS (
      SELECT t FROM (
        SELECT t, COUNT(*) AS c FROM tok GROUP BY t
        ORDER BY c DESC, t LIMIT 20)),
    per_doc AS (
      SELECT doc_id, source,
        CAST(CAST(COUNT(*) FILTER (WHERE t NOT IN (SELECT t FROM vocab))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS DECIMAL(18,6)) AS oov
      FROM tok GROUP BY doc_id, source)
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      {_R4.format(
          "CAST(SUM(oov) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)"
      )} AS mean_oov,
      CAST(COUNT(*) FILTER (WHERE oov > 0.5) AS BIGINT) AS n_flagged
    FROM per_doc GROUP BY source
    """,
)
def x175_oov_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens_col("text")).alias("t")
    )
    vocab = (
        tok.groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "t")
        .limit(20)
        .select("t", F.lit(1).alias("in_v"))
    )
    per_doc = (
        tok.join(F.broadcast(vocab), "t", "left")
        .groupBy("doc_id", "source")
        .agg(
            (
                F.count_if(F.col("in_v").isNull()).cast("double")
                / F.count("*").cast("double")
            )
            .cast("decimal(18,6)")
            .alias("oov")
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        round4(
            F.sum("oov").cast("double") / F.count("*").cast("double")
        ).alias("mean_oov"),
        F.count_if(F.col("oov") > 0.5).cast("bigint").alias("n_flagged"),
    )


# --------------------------------------------------------------------------
# x176: GENERALIZATION STEP — the k-anonymity repair loop: re-bucket
# the quasi-identifier one lattice step coarser (balance 1000→2000
# bands) and report how many violating groups the generalization fixes
# and how many records remain at risk. x174 finds the risk; this query
# prices the cheapest fix.
@query(
    "x176_generalization_step",
    oracle="""
    WITH fine AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
        CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b,
        COUNT(*) AS sz
      FROM customer GROUP BY 1, 2, 3),
    coarse AS (
      SELECT c_nationkey AS nat, c_mktsegment AS seg,
        CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS b,
        COUNT(*) AS sz
      FROM customer GROUP BY 1, 2, 3)
    SELECT
      CAST((SELECT COUNT(*) FROM fine WHERE sz < 5) AS BIGINT)
        AS fine_violating,
      CAST((SELECT COALESCE(SUM(sz), 0) FROM fine WHERE sz < 5) AS BIGINT)
        AS fine_at_risk,
      CAST((SELECT COUNT(*) FROM coarse WHERE sz < 5) AS BIGINT)
        AS coarse_violating,
      CAST((SELECT COALESCE(SUM(sz), 0) FROM coarse WHERE sz < 5) AS BIGINT)
        AS coarse_at_risk
    """,
)
def x176_generalization_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")

    def risk(width: float):
        grp = c.groupBy(
            "c_nationkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / width).cast("bigint").alias("b"),
        ).agg(F.count("*").alias("sz"))
        return grp.agg(
            F.count_if(F.col("sz") < 5).cast("bigint").alias("violating"),
            F.coalesce(F.sum(F.when(F.col("sz") < 5, F.col("sz"))), F.lit(0))
            .cast("bigint")
            .alias("at_risk"),
        )

    fine = risk(1000.0).select(
        F.col("violating").alias("fine_violating"),
        F.col("at_risk").alias("fine_at_risk"),
    )
    coarse = risk(2000.0).select(
        F.col("violating").alias("coarse_violating"),
        F.col("at_risk").alias("coarse_at_risk"),
    )
    return fine.crossJoin(coarse)


# --------------------------------------------------------------------------
# x177: EMBEDDING DIMENSION HEALTH — per-dimension mean/variance/range
# over the corpus plus dead-dimension flags (variance below 1e-4): the
# monitoring report that catches a collapsed encoder or a truncated
# export before it poisons retrieval. Values quantized to BIGINT
# micros (x107 recipe) so sums are exact; variance from the
# sum/sum-of-squares identity in double at the end.
@query(
    "x177_embedding_dim_health",
    oracle=f"""
    WITH vals AS (
      SELECT
        unnest(range(0, len(embedding))) AS dim,
        unnest(list_transform(CAST(embedding AS DOUBLE[]),
          v -> CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))) AS q
      FROM embeddings),
    sums AS (
      SELECT dim,
        CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        SUM(CAST(q AS DECIMAL(38,0))) AS s,
        SUM(CAST(q AS DECIMAL(38,0)) * CAST(q AS DECIMAL(38,0))) AS ss,
        MIN(q) AS mn, MAX(q) AS mx
      FROM vals GROUP BY dim)
    SELECT CAST(dim AS INT) AS dim,
      {_R4.format("CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 1000000.0")}
        AS mean_v,
      {_R4.format(
          "(CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)"
          " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
          " * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))"
          " / 1000000.0 / 1000000.0"
      )} AS var_v,
      {_R4.format("CAST(mx - mn AS DOUBLE) / 1000000.0")} AS range_v,
      CAST((CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
            * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
           / 1000000.0 / 1000000.0 < 0.0001 AS BOOLEAN) AS is_dead
    FROM sums
    """,
)
def x177_embedding_dim_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    emb = table(spark, sf_dir, "embeddings")
    vals = emb.select(
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") * 1e6 + 0.5).cast("bigint"),
            )
        ).alias("dim", "q")
    )
    sums = vals.groupBy("dim").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(F.col("q").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("q").cast("decimal(38,0)") * F.col("q").cast("decimal(38,0)")
        ).alias("ss"),
        F.min("q").alias("mn"),
        F.max("q").alias("mx"),
    )
    n, s, ss = (F.col("n").cast("double"), F.col("s").cast("double"),
                F.col("ss").cast("double"))
    var_v = (ss / n - (s / n) * (s / n)) / 1e6 / 1e6
    return sums.select(
        F.col("dim").cast("int").alias("dim"),
        round4(s / n / 1e6).alias("mean_v"),
        round4(var_v).alias("var_v"),
        round4((F.col("mx") - F.col("mn")).cast("double") / 1e6).alias(
            "range_v"
        ),
        (var_v < 0.0001).alias("is_dead"),
    )


# --------------------------------------------------------------------------
# x178: CORPUS HEALTH DASHBOARD — the one-look KPI table a data lead
# checks every morning: corpus size, vocabulary, exact-dup rate, mean
# quality, length stats — six metrics, one plan (single scan feeds
# every aggregate; the per-doc frame is computed once). All values as
# R4 doubles in (metric, value) rows.
@query(
    "x178_corpus_health_dashboard",
    oracle=f"""
    WITH {_TOKS},
    per_doc AS (
      SELECT t.doc_id, md5(d.text) AS th,
        CAST(len(toks) AS DOUBLE) AS n_tok,
        CASE WHEN len(toks) > 0 THEN
          least(CAST(len(toks) AS DOUBLE), 200.0) / 200.0 * 0.5
          + least((CAST(len(list_filter(toks, x -> list_contains(
              {_STOPWORDS_SQL}, x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) * 10.0, 1.0) * 0.5
        ELSE 0.0 END AS q
      FROM toks t JOIN documents d ON d.doc_id = t.doc_id),
    vocab AS (
      SELECT COUNT(DISTINCT t) AS v FROM (
        SELECT unnest(toks) AS t FROM toks)),
    agg AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
        CAST(SUM(n_tok) AS DOUBLE) AS n_tokens,
        CAST(COUNT(DISTINCT th) AS DOUBLE) AS n_distinct,
        SUM(q) AS sum_q
      FROM per_doc)
    SELECT 'n_docs' AS metric, {_R4.format("n_docs")} AS value FROM agg
    UNION ALL SELECT 'n_tokens', {_R4.format("n_tokens")} FROM agg
    UNION ALL SELECT 'vocab_size',
      {_R4.format("CAST(v AS DOUBLE)")} FROM vocab
    UNION ALL SELECT 'exact_dup_rate',
      {_R4.format("1.0 - n_distinct / n_docs")} FROM agg
    UNION ALL SELECT 'mean_quality',
      {_R4.format("sum_q / n_docs")} FROM agg
    UNION ALL SELECT 'mean_tokens_per_doc',
      {_R4.format("n_tokens / n_docs")} FROM agg
    """,
)
def x178_corpus_health_dashboard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.dedup import tokens_col
    from video_streamer_spark.operators.text import quality_score_col

    docs = table(spark, sf_dir, "documents")
    per_doc = docs.select(
        F.md5("text").alias("th"),
        F.size(tokens_col("text")).cast("double").alias("n_tok"),
        quality_score_col().alias("q"),
        tokens_col("text").alias("toks"),
    ).transform(pooled("x178-per-doc"))
    agg = per_doc.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.countDistinct("th").cast("double").alias("n_distinct"),
        F.sum("q").alias("sum_q"),
    )
    vocab = (
        per_doc.select(F.explode("toks").alias("t"))
        .agg(F.countDistinct("t").cast("double").alias("v"))
    )
    row = agg.crossJoin(F.broadcast(vocab))

    def metric(name: str, col: F.Column) -> DataFrame:
        return row.select(
            F.lit(name).alias("metric"), round4(col).alias("value")
        )

    return (
        metric("n_docs", F.col("n_docs"))
        .unionByName(metric("n_tokens", F.col("n_tokens")))
        .unionByName(metric("vocab_size", F.col("v")))
        .unionByName(
            metric("exact_dup_rate", 1.0 - F.col("n_distinct") / F.col("n_docs"))
        )
        .unionByName(metric("mean_quality", F.col("sum_q") / F.col("n_docs")))
        .unionByName(
            metric("mean_tokens_per_doc", F.col("n_tokens") / F.col("n_docs"))
        )
    )


# --------------------------------------------------------------------------
# x179: DIMENSION CORRELATION — Pearson correlation between embedding
# dimension pairs, top-10 most correlated: the redundancy analysis
# that motivates PQ subspace layout and whitening. Micros-quantized
# values, exact decimal sums (x107 recipe), one equi-join on vec_id
# (i<j pairs; at 100 TB the same sums come from a mapInPandas
# per-batch outer-product accumulation — documented, not needed at
# these widths).
@query(
    "x179_dim_correlation_topk",
    oracle=f"""
    WITH vals AS (
      SELECT vec_id,
        unnest(range(0, len(embedding))) AS i,
        unnest(list_transform(CAST(embedding AS DOUBLE[]),
          v -> CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))) AS q
      FROM embeddings),
    pairs AS (
      SELECT a.i AS i, b.i AS j,
        CAST(a.q AS DECIMAL(38,0)) AS qa, CAST(b.q AS DECIMAL(38,0)) AS qb
      FROM vals a JOIN vals b ON a.vec_id = b.vec_id AND a.i < b.i),
    sums AS (
      SELECT i, j, CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
        SUM(qa) AS sa, SUM(qb) AS sb, SUM(qa * qb) AS sab,
        SUM(qa * qa) AS saa, SUM(qb * qb) AS sbb
      FROM pairs GROUP BY i, j)
    SELECT CAST(i AS INT) AS i, CAST(j AS INT) AS j,
      {_R4.format(
          "(CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)"
          " - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))"
          " / (sqrt(CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)"
          "        - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))"
          "    * sqrt(CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)"
          "          - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))"
      )} AS corr
    FROM sums
    ORDER BY corr DESC, i, j LIMIT 10
    """,
)
def x179_dim_correlation_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    emb = table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "vec_id",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") * 1e6 + 0.5).cast("bigint"),
            )
        ).alias("i", "q"),
    )
    a = vals.select("vec_id", F.col("i"), F.col("q").cast("decimal(38,0)").alias("qa"))
    b = vals.select(
        "vec_id", F.col("i").alias("j"), F.col("q").cast("decimal(38,0)").alias("qb")
    )
    sums = (
        a.join(b, "vec_id")
        .where(F.col("i") < F.col("j"))
        .groupBy("i", "j")
        .agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("qa").alias("sa"),
            F.sum("qb").alias("sb"),
            F.sum(F.col("qa") * F.col("qb")).alias("sab"),
            F.sum(F.col("qa") * F.col("qa")).alias("saa"),
            F.sum(F.col("qb") * F.col("qb")).alias("sbb"),
        )
    )
    n, sa, sb = (F.col("n").cast("double"), F.col("sa").cast("double"),
                 F.col("sb").cast("double"))
    sab, saa, sbb = (F.col("sab").cast("double"), F.col("saa").cast("double"),
                     F.col("sbb").cast("double"))
    corr = (n * sab - sa * sb) / (
        F.sqrt(n * saa - sa * sa) * F.sqrt(n * sbb - sb * sb)
    )
    return (
        sums.select(
            F.col("i").cast("int").alias("i"),
            F.col("j").cast("int").alias("j"),
            round4(corr).alias("corr"),
        )
        .orderBy(F.col("corr").desc(), "i", "j")
        .limit(10)
    )


# --------------------------------------------------------------------------
# x180: CLASS SEPARATION — cosine similarity between per-label centroid
# vectors (label pairs a<b): high inter-class centroid similarity means
# the embedding space isn't separating classes — the report that pairs
# with x177 (dims) and x179 (correlations). Centroid means are
# re-quantized to BIGINT micros so the cross-centroid dot products are
# exact integer sums in both engines.
@query(
    "x180_class_separation",
    oracle=f"""
    WITH vals AS (
      SELECT label,
        unnest(range(0, len(embedding))) AS dim,
        unnest(list_transform(CAST(embedding AS DOUBLE[]),
          v -> CAST(floor(v * 1000000.0 + 0.5) AS BIGINT))) AS q
      FROM embeddings),
    cent AS (
      SELECT label, dim,
        CAST(floor(CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) + 0.5)
             AS DECIMAL(38,0)) AS m
      FROM vals GROUP BY label, dim),
    dots AS (
      SELECT a.label AS label_a, b.label AS label_b,
        SUM(a.m * b.m) AS sab,
        SUM(a.m * a.m) AS saa,
        SUM(b.m * b.m) AS sbb
      FROM cent a JOIN cent b ON a.dim = b.dim AND a.label < b.label
      GROUP BY a.label, b.label)
    SELECT CAST(label_a AS INT) AS label_a, CAST(label_b AS INT) AS label_b,
      {_R4.format(
          "CAST(sab AS DOUBLE)"
          " / (sqrt(CAST(saa AS DOUBLE)) * sqrt(CAST(sbb AS DOUBLE)))"
      )} AS centroid_cos
    FROM dots
    """,
)
def x180_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    emb = table(spark, sf_dir, "embeddings")
    vals = emb.select(
        "label",
        F.posexplode(
            F.transform(
                F.col("embedding"),
                lambda v: F.floor(v.cast("double") * 1e6 + 0.5).cast("bigint"),
            )
        ).alias("dim", "q"),
    )
    cent = vals.groupBy("label", "dim").agg(
        F.floor(
            F.sum("q").cast("double") / F.count("*").cast("double") + 0.5
        )
        .cast("decimal(38,0)")
        .alias("m")
    )
    a = cent.select(
        F.col("label").alias("label_a"), "dim", F.col("m").alias("ma")
    )
    b = cent.select(
        F.col("label").alias("label_b"), "dim", F.col("m").alias("mb")
    )
    dots = (
        a.join(b, "dim")
        .where(F.col("label_a") < F.col("label_b"))
        .groupBy("label_a", "label_b")
        .agg(
            F.sum(F.col("ma") * F.col("mb")).alias("sab"),
            F.sum(F.col("ma") * F.col("ma")).alias("saa"),
            F.sum(F.col("mb") * F.col("mb")).alias("sbb"),
        )
    )
    return dots.select(
        F.col("label_a").cast("int").alias("label_a"),
        F.col("label_b").cast("int").alias("label_b"),
        round4(
            F.col("sab").cast("double")
            / (
                F.sqrt(F.col("saa").cast("double"))
                * F.sqrt(F.col("sbb").cast("double"))
            )
        ).alias("centroid_cos"),
    )


# --------------------------------------------------------------------------
# x181: HYBRID RETRIEVAL (RRF) — reciprocal-rank fusion of a DENSE
# ranking (cosine vs query vector 0) and a SPARSE lexical ranking
# (distinct-token overlap with query document 0; BM25 proper is x108)
# over the embedding-aligned candidates: rrf = 1/(60+r_dense) +
# 1/(60+r_sparse), the hybrid-search standard (Cormack et al. 2009).
# Each reciprocal is DECIMAL(18,6)-quantized before the exact sum, so
# the fused ranking cannot drift between engines.
@query(
    "x181_hybrid_rrf",
    oracle=f"""
    WITH cand AS (
      SELECT e.vec_id AS id, e.embedding FROM embeddings e
      WHERE e.vec_id <> 0),
    dense AS (
      SELECT id,
        ROW_NUMBER() OVER (ORDER BY
          {_R4.format(_sql_cos('cand.embedding', 'q.embedding'))} DESC, id)
          AS rd
      FROM cand CROSS JOIN (SELECT embedding FROM embeddings
                            WHERE vec_id = 0) q),
    qtok AS (
      SELECT DISTINCT unnest(list_filter(string_split(text, ' '),
                                         x -> x <> '')) AS t
      FROM documents WHERE doc_id = 0),
    dtok AS (
      SELECT d.doc_id AS id, COUNT(DISTINCT tk.t) AS ov
      FROM documents d,
           unnest(list_filter(string_split(d.text, ' '), x -> x <> ''))
             AS u(t)
      JOIN qtok tk ON tk.t = u.t
      WHERE d.doc_id <> 0 AND d.doc_id IN (SELECT id FROM cand)
      GROUP BY d.doc_id),
    sparse AS (
      SELECT c.id,
        ROW_NUMBER() OVER (ORDER BY COALESCE(d.ov, 0) DESC, c.id) AS rs
      FROM cand c LEFT JOIN dtok d ON d.id = c.id),
    fused AS (
      SELECT de.id,
        CAST(CAST(1.0 / (60.0 + de.rd) AS DECIMAL(18,6))
           + CAST(1.0 / (60.0 + sp.rs) AS DECIMAL(18,6))
           AS DECIMAL(18,6)) AS rrf,
        CAST(de.rd AS INT) AS r_dense, CAST(sp.rs AS INT) AS r_sparse
      FROM dense de JOIN sparse sp ON sp.id = de.id)
    SELECT id, r_dense, r_sparse, CAST(rrf AS DOUBLE) AS rrf
    FROM fused ORDER BY rrf DESC, id LIMIT 10
    """,
)
def x181_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.dedup import tokens_col
    from video_streamer_spark.functions.arrays import cosine_similarity

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    q = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_emb")
    )
    cand = emb.where(F.col("vec_id") != 0).select(
        F.col("vec_id").alias("id"), "embedding"
    )
    dense = cand.crossJoin(F.broadcast(q)).select(
        "id",
        F.row_number()
        .over(
            Window.orderBy(
                round4(cosine_similarity("embedding", "q_emb")).desc(),
                F.col("id"),
            )
        )
        .alias("rd"),
    )
    qtok = (
        docs.where(F.col("doc_id") == 0)
        .select(F.explode(tokens_col("text")).alias("t"))
        .distinct()
    )
    dtok = (
        docs.join(cand.select(F.col("id").alias("doc_id")), "doc_id")
        .select("doc_id", F.explode(tokens_col("text")).alias("t"))
        .distinct()
        .join(F.broadcast(qtok), "t")
        .groupBy("doc_id")
        .agg(F.count("*").alias("ov"))
    )
    sparse = (
        cand.select(F.col("id"))
        .join(dtok.withColumnRenamed("doc_id", "id"), "id", "left")
        .select(
            "id",
            F.row_number()
            .over(
                Window.orderBy(
                    F.coalesce("ov", F.lit(0)).desc(), F.col("id")
                )
            )
            .alias("rs"),
        )
    )
    fused = dense.join(sparse, "id").select(
        "id",
        F.col("rd").cast("int").alias("r_dense"),
        F.col("rs").cast("int").alias("r_sparse"),
        (
            (1.0 / (60.0 + F.col("rd"))).cast("decimal(18,6)")
            + (1.0 / (60.0 + F.col("rs"))).cast("decimal(18,6)")
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("rrf"),
    )
    return fused.orderBy(F.col("rrf").desc(), "id").limit(10)


# --------------------------------------------------------------------------
# x182: DEDUP CANDIDATE EVALUATION — precision/recall of the MinHash-
# LSH candidate pairs (x02 scheme) against the exact n-gram-Jaccard
# ≥0.6 ground truth (x04 scheme): the measurement that justifies the
# banding parameters before a production dedup run — x160's "measure,
# don't guess" applied to dedup instead of ANN.
@query(
    "x182_lsh_recall_eval",
    oracle=f"""
    WITH {_minhash_cte()},
    shj AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
          unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
            i -> array_to_string(toks[i:i+2], ' '))) AS shingle
        FROM toks WHERE len(toks) >= 3)),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM shj GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM shj a JOIN shj b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2),
    truth AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE)
            / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.6),
    cand AS (SELECT doc_a, doc_b FROM mh_pairs),
    hits AS (
      SELECT c.doc_a FROM cand c
      JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
    SELECT
      CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
      CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
      CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
      {_R4.format(
          "CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)"
          " / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)"
      )} AS precision,
      {_R4.format(
          "CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)"
          " / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE)"
      )} AS recall
    """,
)
def x182_lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators import dedup

    docs = table(spark, sf_dir, "documents")
    cand = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    truth = dedup.ngram_jaccard_pairs(docs, threshold=0.6).select(
        "doc_a", "doc_b"
    )
    hits = cand.join(truth, ["doc_a", "doc_b"])
    nc = cand.agg(F.count("*").cast("bigint").alias("n_candidates"))
    nt = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    nh = hits.agg(F.count("*").cast("bigint").alias("n_hits"))
    row = nc.crossJoin(F.broadcast(nt)).crossJoin(F.broadcast(nh))
    return row.select(
        "n_candidates",
        "n_truth",
        "n_hits",
        round4(
            F.col("n_hits").cast("double") / F.col("n_candidates").cast("double")
        ).alias("precision"),
        round4(
            F.col("n_hits").cast("double") / F.col("n_truth").cast("double")
        ).alias("recall"),
    )


# --------------------------------------------------------------------------
# x183: SIMILARITY PROFILE — percentiles of pairwise cosine over a
# deterministic 20% VECTOR sample (sample-then-pair: the quadratic
# stays on the sample, never the corpus): the compactness report that
# says whether an embedding space has collapsed (p50 creeping toward
# 1) — the fourth embedding-health view next to x177/x179/x180.
@query(
    "x183_similarity_profile",
    oracle=f"""
    WITH samp AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE CAST(('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))
                 AS BIGINT) % 5 = 0),
    sims AS (
      SELECT {_R4.format(_sql_cos('a.embedding', 'b.embedding'))} AS sim
      FROM samp a JOIN samp b ON a.vec_id < b.vec_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
      {_R4.format("quantile_cont(sim, 0.1)")} AS p10,
      {_R4.format("quantile_cont(sim, 0.5)")} AS p50,
      {_R4.format("quantile_cont(sim, 0.9)")} AS p90,
      {_R4.format("MAX(sim)")} AS max_sim
    FROM sims
    """,
)
def x183_similarity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.arrays import cosine_similarity
    from video_streamer_spark.functions.parity import round4

    emb = table(spark, sf_dir, "embeddings")
    samp = emb.where(
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("vec_id").cast("string")), 1, 8),
                16,
                10,
            ).cast("bigint"),
            F.lit(5),
        )
        == 0
    ).select("vec_id", "embedding")
    a = samp.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("ea"))
    b = samp.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("eb"))
    sims = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(round4(cosine_similarity("ea", "eb")).alias("sim"))
    )
    return sims.agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        round4(F.percentile("sim", F.lit(0.1))).alias("p10"),
        round4(F.percentile("sim", F.lit(0.5))).alias("p50"),
        round4(F.percentile("sim", F.lit(0.9))).alias("p90"),
        round4(F.max("sim")).alias("max_sim"),
    )


# --------------------------------------------------------------------------
# x184: SCENE-CHANGE DETECTION — the reference's video domain on the
# relational engine: frames (x43's payload convention) ordered by id,
# per-frame byte-sum intensity, a LAG window over the sequence, and a
# boundary wherever the absolute delta exceeds the threshold — the
# shot-segmentation primitive of every video-analytics pipeline
# (reference decodebin→analyze chain, run.sh:53).
@query(
    "x184_scene_changes",
    oracle="""
    WITH frames AS (
      SELECT doc_id AS frame_id,
        CAST(list_sum(list_transform(
          string_split(rpad(substr(text, 1, 96), 96, '.'), ''),
          c -> ascii(c))) AS BIGINT) AS intensity
      FROM documents),
    seq AS (
      SELECT frame_id, intensity,
        LAG(intensity) OVER (ORDER BY frame_id) AS prev_i
      FROM frames)
    SELECT frame_id, intensity,
      CAST(intensity - prev_i AS BIGINT) AS delta
    FROM seq
    WHERE prev_i IS NOT NULL AND abs(intensity - prev_i) > 500
    """,
)
def x184_scene_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = table(spark, sf_dir, "documents")
    body = F.rpad(F.substring("text", 1, 96), 96, ".")
    intensity = F.aggregate(
        F.split(body, ""),
        F.lit(0).cast("bigint"),
        lambda acc, c: acc
        + F.when(F.length(c) > 0, F.ascii(c)).otherwise(0).cast("bigint"),
    )
    frames = docs.select(
        F.col("doc_id").alias("frame_id"), intensity.alias("intensity")
    )
    w = Window.orderBy("frame_id")
    seq = frames.select(
        "frame_id", "intensity", F.lag("intensity").over(w).alias("prev_i")
    )
    return seq.where(
        F.col("prev_i").isNotNull()
        & (F.abs(F.col("intensity") - F.col("prev_i")) > 500)
    ).select(
        "frame_id",
        "intensity",
        (F.col("intensity") - F.col("prev_i")).cast("bigint").alias("delta"),
    )


# --------------------------------------------------------------------------
# x185: TRACK SEGMENTS — object persistence across the frame sequence:
# consecutive frames carrying the same (deterministic, x43-convention)
# label form a track; per label, how many tracks, the longest, and the
# mean length — the tracking-continuity report of a video pipeline,
# via the gaps-and-islands trick (x90) on the frame order.
@query(
    "x185_track_segments",
    oracle=f"""
    WITH frames AS (
      SELECT doc_id AS frame_id,
        CAST(CAST(list_sum(list_transform(
          string_split(rpad(substr(text, 1, 96), 96, '.'), ''),
          c -> ascii(c))) AS BIGINT) % 80 + 1 AS INT) AS label_id
      FROM documents),
    runs AS (
      SELECT frame_id, label_id,
        ROW_NUMBER() OVER (ORDER BY frame_id)
        - ROW_NUMBER() OVER (PARTITION BY label_id ORDER BY frame_id)
          AS grp
      FROM frames),
    tracks AS (
      SELECT label_id, grp, COUNT(*) AS len
      FROM runs GROUP BY label_id, grp)
    SELECT label_id,
      CAST(COUNT(*) AS BIGINT) AS n_tracks,
      CAST(MAX(len) AS BIGINT) AS longest,
      {_R4.format("CAST(SUM(len) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")}
        AS mean_len
    FROM tracks GROUP BY label_id
    """,
)
def x185_track_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.functions.parity import round4

    docs = table(spark, sf_dir, "documents")
    body = F.rpad(F.substring("text", 1, 96), 96, ".")
    byte_sum = F.aggregate(
        F.split(body, ""),
        F.lit(0).cast("bigint"),
        lambda acc, c: acc
        + F.when(F.length(c) > 0, F.ascii(c)).otherwise(0).cast("bigint"),
    )
    frames = docs.select(
        F.col("doc_id").alias("frame_id"),
        (byte_sum % 80 + 1).cast("int").alias("label_id"),
    )
    w_all = Window.orderBy("frame_id")
    w_lab = Window.partitionBy("label_id").orderBy("frame_id")
    runs = frames.select(
        "frame_id",
        "label_id",
        (F.row_number().over(w_all) - F.row_number().over(w_lab)).alias("grp"),
    )
    tracks = runs.groupBy("label_id", "grp").agg(F.count("*").alias("len"))
    return tracks.groupBy("label_id").agg(
        F.count("*").cast("bigint").alias("n_tracks"),
        F.max("len").cast("bigint").alias("longest"),
        round4(
            F.sum("len").cast("double") / F.count("*").cast("double")
        ).alias("mean_len"),
    )


# --------------------------------------------------------------------------
# x186: PEAK DETECTION — local maxima of the hourly event-count series
# per event type (count strictly above both neighbors): the alerting
# primitive over the q14 rollup, one LAG/LEAD window on the bucketed
# aggregate (group-local, never a self-join).
@query(
    "x186_event_peaks",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2),
    seq AS (
      SELECT event_type, h, n,
        LAG(n) OVER (PARTITION BY event_type ORDER BY h) AS prev_n,
        LEAD(n) OVER (PARTITION BY event_type ORDER BY h) AS next_n
      FROM hourly)
    SELECT event_type,
      strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_start, n
    FROM seq
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND n > prev_n AND n > next_n
    """,
)
def x186_event_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.functions.parity import ts_str

    e = table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count("*").cast("bigint").alias("n"))
    w = Window.partitionBy("event_type").orderBy("h")
    seq = hourly.select(
        "event_type", "h", "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
    )
    return seq.where(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
    ).select("event_type", ts_str("h").alias("hour_start"), "n")


# --------------------------------------------------------------------------
# x187: ANOMALOUS USERS — per-user event rates z-scored against the
# population (exact integer sums; σ from the sum/sum-of-squares
# identity in double at the end): users above 2σ with their counts —
# the abuse/bot screen over the events table.
@query(
    "x187_anomalous_users",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id),
    pop AS (
      SELECT CAST(COUNT(*) AS DECIMAL(38,0)) AS m,
        SUM(CAST(n AS DECIMAL(38,0))) AS s,
        SUM(CAST(n AS DECIMAL(38,0)) * CAST(n AS DECIMAL(38,0))) AS ss
      FROM per_user)
    SELECT u.user_id, u.n,
      {_R4.format(
          "(CAST(u.n AS DOUBLE) - CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE))"
          " / sqrt(CAST(p.ss AS DOUBLE) / CAST(p.m AS DOUBLE)"
          "        - (CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE))"
          "        * (CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE)))"
      )} AS z
    FROM per_user u CROSS JOIN pop p
    WHERE (CAST(u.n AS DOUBLE) - CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE))
          / sqrt(CAST(p.ss AS DOUBLE) / CAST(p.m AS DOUBLE)
                 - (CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE))
                 * (CAST(p.s AS DOUBLE) / CAST(p.m AS DOUBLE))) > 2.0
    """,
)
def x187_anomalous_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    e = table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n")
    )
    pop = per_user.agg(
        F.count("*").cast("decimal(38,0)").alias("m"),
        F.sum(F.col("n").cast("decimal(38,0)")).alias("s"),
        F.sum(
            F.col("n").cast("decimal(38,0)") * F.col("n").cast("decimal(38,0)")
        ).alias("ss"),
    )
    m, s, ss = (F.col("m").cast("double"), F.col("s").cast("double"),
                F.col("ss").cast("double"))
    mean = s / m
    sd = F.sqrt(ss / m - mean * mean)
    z = (F.col("n").cast("double") - mean) / sd
    return (
        per_user.crossJoin(F.broadcast(pop))
        .where(z > 2.0)
        .select("user_id", "n", round4(z).alias("z"))
    )


# --------------------------------------------------------------------------
# x188: VOCABULARY GROWTH — Heaps-law companion to x167's Zipf fit:
# docs in ingestion order (doc_id) split into 10 deciles; per decile,
# how many distinct tokens appear for the FIRST time (min-decile per
# token, then a count — one agg each, no window over the corpus). A
# flattening curve says the feed has stopped contributing novelty.
@query(
    "x188_vocab_growth",
    oracle=f"""
    WITH {_TOKS},
    nd AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    tok AS (
      SELECT CAST(least(floor(doc_id * 10 / n), 9) AS INT) AS decile,
        unnest(toks) AS t
      FROM toks CROSS JOIN nd),
    first_seen AS (
      SELECT t, MIN(decile) AS d0 FROM tok GROUP BY t),
    new_per AS (
      SELECT d0 AS decile, CAST(COUNT(*) AS BIGINT) AS new_tokens
      FROM first_seen GROUP BY d0),
    occ AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_occurrences
      FROM tok GROUP BY decile)
    SELECT o.decile, o.n_occurrences,
      CAST(COALESCE(n.new_tokens, 0) AS BIGINT) AS new_tokens
    FROM occ o LEFT JOIN new_per n ON n.decile = o.decile
    """,
)
def x188_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    # max(doc_id)+1 as a ONE-ROW broadcast subplan, exactly like the
    # oracle's `nd` CTE — no construction-time collect (round-7
    # VERDICT, What's wrong 3: the old driver-side scalar ran a full
    # column scan before the plan even existed, violating the repo's
    # zero-jobs-at-construction discipline)
    nd = docs.agg((F.max("doc_id") + 1).alias("__nd"))
    tok = docs.crossJoin(F.broadcast(nd)).select(
        F.least(F.floor(F.col("doc_id") * 10 / F.col("__nd")), F.lit(9))
        .cast("int")
        .alias("decile"),
        F.explode(tokens_col("text")).alias("t"),
    )
    first_seen = tok.groupBy("t").agg(F.min("decile").alias("d0"))
    new_per = first_seen.groupBy(F.col("d0").alias("decile")).agg(
        F.count("*").cast("bigint").alias("new_tokens")
    )
    occ = tok.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_occurrences")
    )
    return occ.join(F.broadcast(new_per), "decile", "left").select(
        "decile",
        "n_occurrences",
        F.coalesce("new_tokens", F.lit(0)).cast("bigint").alias("new_tokens"),
    )


# --------------------------------------------------------------------------
# x189: SEQUENCE GAP AUDIT — lost-data detection over a surrogate-key
# space: expected vs present key counts and the 5 widest missing
# ranges, from islands over the sorted key sequence (LAG deltas — one
# window, no generated key table). The ingestion-completeness check a
# pipeline runs after every backfill.
@query(
    "x189_sequence_gap_audit",
    oracle="""
    WITH keys AS (SELECT DISTINCT o_orderkey AS k FROM orders),
    stats AS (
      SELECT MIN(k) AS lo, MAX(k) AS hi,
        CAST(COUNT(*) AS BIGINT) AS present
      FROM keys),
    gaps AS (
      SELECT prev_k + 1 AS gap_start, k - 1 AS gap_end, k - prev_k - 1 AS width
      FROM (SELECT k, LAG(k) OVER (ORDER BY k) AS prev_k FROM keys)
      WHERE prev_k IS NOT NULL AND k - prev_k > 1),
    top5 AS (
      SELECT gap_start, gap_end, CAST(width AS BIGINT) AS width
      FROM gaps ORDER BY width DESC, gap_start LIMIT 5)
    SELECT s.lo, s.hi, s.present,
      CAST(s.hi - s.lo + 1 - s.present AS BIGINT) AS missing,
      t.gap_start, t.gap_end, t.width
    FROM stats s CROSS JOIN top5 t
    """,
)
def x189_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    keys = o.select(F.col("o_orderkey").alias("k")).distinct()
    stats = keys.agg(
        F.min("k").alias("lo"),
        F.max("k").alias("hi"),
        F.count("*").cast("bigint").alias("present"),
    )
    w = Window.orderBy("k")
    gaps = (
        keys.select("k", F.lag("k").over(w).alias("prev_k"))
        .where(F.col("prev_k").isNotNull() & (F.col("k") - F.col("prev_k") > 1))
        .select(
            (F.col("prev_k") + 1).alias("gap_start"),
            (F.col("k") - 1).alias("gap_end"),
            (F.col("k") - F.col("prev_k") - 1).cast("bigint").alias("width"),
        )
    )
    top5 = gaps.orderBy(F.col("width").desc(), "gap_start").limit(5)
    return stats.crossJoin(F.broadcast(top5)).select(
        "lo", "hi", "present",
        (F.col("hi") - F.col("lo") + 1 - F.col("present"))
        .cast("bigint")
        .alias("missing"),
        "gap_start", "gap_end", "width",
    )


# --------------------------------------------------------------------------
# x190: RAG CONTEXT ASSEMBLY — the retrieval stack composed end to end:
# dense recall pool → λ=1/2 MMR diversification (x158's exact rounds)
# → greedy packing of the selections into a 256-token context budget
# (running token sum over selection order). The query a retrieval
# service answers per request, with every stage one already-verified
# operator.
@query(
    "x190_rag_context_assembly",
    oracle=f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0),
    pool AS (
      SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS ev,
        {_R4.format(_sql_cos('e.embedding', 'q.qe'))} AS rel
      FROM embeddings e, q WHERE e.vec_id <> 0
      ORDER BY rel DESC, e.vec_id LIMIT 20),
    b1 AS (
      SELECT vec_id, rel, 0.0 AS div,
        CAST(floor((rel * 0.5 - 0.0 * 0.5) * 1000000.0) AS BIGINT)
          AS mmr_micros
      FROM pool ORDER BY mmr_micros DESC, vec_id LIMIT 1),
    d2 AS (
      SELECT p.vec_id, p.rel, MAX({_R4.format(_MMR_COS_PP)}) AS div
      FROM pool p JOIN pool s ON s.vec_id IN (SELECT vec_id FROM b1)
      WHERE p.vec_id NOT IN (SELECT vec_id FROM b1) GROUP BY 1, 2),
    b2 AS (
      SELECT vec_id, rel, div,
        CAST(floor((rel * 0.5 - div * 0.5) * 1000000.0) AS BIGINT)
          AS mmr_micros
      FROM d2 ORDER BY mmr_micros DESC, vec_id LIMIT 1),
    d3 AS (
      SELECT p.vec_id, p.rel, MAX({_R4.format(_MMR_COS_PP)}) AS div
      FROM pool p JOIN pool s
        ON s.vec_id IN (SELECT vec_id FROM b1 UNION SELECT vec_id FROM b2)
      WHERE p.vec_id NOT IN
        (SELECT vec_id FROM b1 UNION SELECT vec_id FROM b2)
      GROUP BY 1, 2),
    b3 AS (
      SELECT vec_id, rel, div,
        CAST(floor((rel * 0.5 - div * 0.5) * 1000000.0) AS BIGINT)
          AS mmr_micros
      FROM d3 ORDER BY mmr_micros DESC, vec_id LIMIT 1),
    sel AS (
      SELECT 1 AS sel_rank, vec_id FROM b1
      UNION ALL SELECT 2, vec_id FROM b2
      UNION ALL SELECT 3, vec_id FROM b3),
    toks AS (
      SELECT s.sel_rank, s.vec_id,
        CAST(len(list_filter(string_split(d.text, ' '), x -> x <> ''))
             AS BIGINT) AS n_tokens
      FROM sel s JOIN documents d ON d.doc_id = s.vec_id),
    packed AS (
      SELECT sel_rank, vec_id, n_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY sel_rank
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_tokens
      FROM toks)
    SELECT sel_rank, vec_id, n_tokens, cum_tokens,
      CAST(cum_tokens <= 256 AS BOOLEAN) AS fits
    FROM packed
    """,
)
def x190_rag_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.operators.dedup import tokens_col
    from video_streamer_spark.operators.similarity import mmr_rerank

    emb = table(spark, sf_dir, "embeddings")
    docs = table(spark, sf_dir, "documents")
    sel = mmr_rerank(emb, F.col("vec_id") == 0, k=3, pool=20).select(
        "sel_rank", "vec_id"
    )
    toks = sel.join(
        docs.select(
            F.col("doc_id").alias("vec_id"),
            F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
        ),
        "vec_id",
    )
    w = Window.orderBy("sel_rank").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return toks.select(
        "sel_rank",
        "vec_id",
        "n_tokens",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
    ).withColumn("fits", F.col("cum_tokens") <= 256)


# --------------------------------------------------------------------------
# x191: FILTER OVERLAP MATRIX — of the documents each curation filter
# would drop (exact-dup copy, low quality, repetition, boilerplate),
# the single and pairwise drop counts: the redundancy analysis that
# says which filters actually earn their runtime. One per-doc flag
# frame, ten aggregate rows (4 singles + 6 pairs).
@query(
    "x191_filter_overlap_matrix",
    oracle=f"""
    WITH {_TOKS},
    nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    rn AS (
      SELECT doc_id,
        ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
      FROM documents),
    qual AS (
      SELECT doc_id,
        CASE WHEN len(toks) > 0 THEN
          least(CAST(len(toks) AS DOUBLE), 200.0) / 200.0 * 0.5
          + least((CAST(len(list_filter(toks, x -> list_contains(
              {_STOPWORDS_SQL}, x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) * 10.0, 1.0) * 0.5
        ELSE 0.0 END AS q,
        len(toks) AS n_tok
      FROM toks),
    g2 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(toks), 1)),
                              i -> array_to_string(toks[i:i+1], ' '))) AS g
      FROM toks WHERE len(toks) >= 2),
    t2 AS (
      SELECT doc_id, MAX(n) AS top2 FROM (
        SELECT doc_id, g, COUNT(*) AS n FROM g2 GROUP BY 1, 2) GROUP BY 1),
    g3 AS (
      SELECT doc_id,
        unnest(list_transform(range(1, greatest(len(toks) - 1, 1)),
                              i -> array_to_string(toks[i:i+2], ' '))) AS g
      FROM toks WHERE len(toks) >= 3),
    dfq AS (
      SELECT g, COUNT(DISTINCT doc_id) AS df FROM g3 GROUP BY g),
    bpf AS (
      SELECT g3.doc_id,
        CAST(COUNT(CASE WHEN CAST(dfq.df AS DOUBLE)
                             / (SELECT n_docs FROM nd) > 0.05
                        THEN 1 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) AS frac
      FROM g3 JOIN dfq ON dfq.g = g3.g GROUP BY g3.doc_id),
    flags AS (
      SELECT d.doc_id,
        (rn.rn > 1) AS f_exact,
        (qual.q < 0.5) AS f_quality,
        (COALESCE(2.0 * t2.top2 / qual.n_tok, 0.0) > 0.2) AS f_rep,
        (COALESCE(bpf.frac, 0.0) > 0.1) AS f_bp
      FROM documents d
      JOIN rn ON rn.doc_id = d.doc_id
      JOIN qual ON qual.doc_id = d.doc_id
      LEFT JOIN t2 ON t2.doc_id = d.doc_id
      LEFT JOIN bpf ON bpf.doc_id = d.doc_id)
    SELECT 'exact' AS filter_a, 'exact' AS filter_b,
      CAST(COUNT(*) FILTER (WHERE f_exact) AS BIGINT) AS n_docs FROM flags
    UNION ALL SELECT 'quality', 'quality',
      CAST(COUNT(*) FILTER (WHERE f_quality) AS BIGINT) FROM flags
    UNION ALL SELECT 'rep', 'rep',
      CAST(COUNT(*) FILTER (WHERE f_rep) AS BIGINT) FROM flags
    UNION ALL SELECT 'bp', 'bp',
      CAST(COUNT(*) FILTER (WHERE f_bp) AS BIGINT) FROM flags
    UNION ALL SELECT 'exact', 'quality',
      CAST(COUNT(*) FILTER (WHERE f_exact AND f_quality) AS BIGINT) FROM flags
    UNION ALL SELECT 'exact', 'rep',
      CAST(COUNT(*) FILTER (WHERE f_exact AND f_rep) AS BIGINT) FROM flags
    UNION ALL SELECT 'exact', 'bp',
      CAST(COUNT(*) FILTER (WHERE f_exact AND f_bp) AS BIGINT) FROM flags
    UNION ALL SELECT 'quality', 'rep',
      CAST(COUNT(*) FILTER (WHERE f_quality AND f_rep) AS BIGINT) FROM flags
    UNION ALL SELECT 'quality', 'bp',
      CAST(COUNT(*) FILTER (WHERE f_quality AND f_bp) AS BIGINT) FROM flags
    UNION ALL SELECT 'rep', 'bp',
      CAST(COUNT(*) FILTER (WHERE f_rep AND f_bp) AS BIGINT) FROM flags
    """,
)
def x191_filter_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.catalog import parquet_row_count, scatter
    from video_streamer_spark.operators.dedup import shingles_col, tokens_col
    from video_streamer_spark.operators.text import quality_score_col

    # scatter before the CPU-heavy per-row work (guide §2.5, the same
    # rule the dedup family applies): a single-split documents scan
    # otherwise serializes BOTH shingle pipelines onto one core —
    # measured 3.4 s (2-shingles) + 4.8 s (3-shingles+df) single-task
    # at sf0.1; no-op at >= parallelism splits
    docs = scatter(table(spark, sf_dir, "documents"))
    n_docs = parquet_row_count(sf_dir, "documents")

    w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
    base = docs.select(
        "doc_id",
        (F.row_number().over(w) > 1).alias("f_exact"),
        (quality_score_col() < 0.5).alias("f_quality"),
        F.size(tokens_col("text")).alias("n_tok"),
    )
    t2 = (
        docs.select("doc_id", F.explode(shingles_col("text", 2)).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("n"))
        .groupBy("doc_id")
        .agg(F.max("n").alias("top2"))
    )
    g3 = docs.select("doc_id", F.explode(shingles_col("text", 3)).alias("g"))
    dfq = g3.groupBy("g").agg(F.countDistinct("doc_id").alias("df"))
    bpf = (
        g3.join(F.broadcast(dfq), "g")
        .groupBy("doc_id")
        .agg(
            (
                F.count_if(
                    F.col("df").cast("double") / F.lit(float(n_docs)) > 0.05
                ).cast("double")
                / F.count("*").cast("double")
            ).alias("frac")
        )
    )
    flags = (
        base.join(t2, "doc_id", "left")
        .join(bpf, "doc_id", "left")
        .select(
            "f_exact",
            "f_quality",
            (
                F.coalesce(
                    2.0 * F.col("top2") / F.col("n_tok"), F.lit(0.0)
                )
                > 0.2
            ).alias("f_rep"),
            (F.coalesce("frac", F.lit(0.0)) > 0.1).alias("f_bp"),
        )
    )

    # ONE aggregate over flags computes all 10 matrix cells, then
    # stack() pivots them to the declared (filter_a, filter_b, n_docs)
    # rows (r15): the previous shape unioned 10 separate agg branches —
    # 10 jobs re-reading a persisted flags table, ~119 plan exchanges.
    # One pass needs no persist at all; the result rows are identical
    # (oracle-verified).
    names = ["exact", "quality", "rep", "bp"]
    fa = {n: F.col(f"f_{n}") for n in names}
    cells = [(n, n, fa[n]) for n in names] + [
        (a, b, fa[a] & fa[b])
        for i, a in enumerate(names)
        for b in names[i + 1:]
    ]
    one = flags.agg(
        *[
            F.count_if(c).cast("bigint").alias(f"c{i}")
            for i, (_, _, c) in enumerate(cells)
        ]
    )
    stacked = ", ".join(
        f"'{a}', '{b}', c{i}" for i, (a, b, _) in enumerate(cells)
    )
    return one.selectExpr(
        f"stack({len(cells)}, {stacked}) AS (filter_a, filter_b, n_docs)"
    )


# --------------------------------------------------------------------------
# x192: COMPOSITE CURATION SCORE — quality, bigram-LM mean logprob, and
# (negated) boilerplate fraction each normalized to a percent_rank over
# the corpus (ties broken by doc_id — deterministic), averaged into
# one score; top-20 docs. Percentile normalization is how production
# curation mixes signals with incommensurable scales.
@query(
    "x192_composite_score_topk",
    oracle=f"""
    WITH {_TOKS},
    qual AS (
      SELECT doc_id,
        CASE WHEN len(toks) > 0 THEN
          least(CAST(len(toks) AS DOUBLE), 200.0) / 200.0 * 0.5
          + least((CAST(len(list_filter(toks, x -> list_contains(
              {_STOPWORDS_SQL}, x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE)) * 10.0, 1.0) * 0.5
        ELSE 0.0 END AS q
      FROM toks),
    uni AS (
      SELECT t, COUNT(*) AS c FROM (SELECT unnest(toks) AS t FROM toks)
      GROUP BY t),
    tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM uni),
    bi AS (
      SELECT p.w1, p.w2, COUNT(*) AS c FROM (
        SELECT unnest(list_transform(range(1, len(toks)),
          i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
        FROM toks WHERE len(toks) >= 2)
      GROUP BY p.w1, p.w2),
    lm AS (
      SELECT d.doc_id,
        CAST(CAST(SUM(CAST(ROUND(CAST(
          ln(0.75 * (CAST(COALESCE(b.c, 0) AS DOUBLE)
                        / CAST(u1.c AS DOUBLE))
              + 0.25 * ((CAST(u2.c AS DOUBLE) + 1.0)
                        / (CAST(tot.n AS DOUBLE) + CAST(tot.v AS DOUBLE))))
             AS DECIMAL(38,9)), 6) AS DECIMAL(18,6))) AS DECIMAL(18,6))
          AS DOUBLE) / COUNT(*) AS lp
      FROM (
        SELECT doc_id,
          unnest(list_transform(range(1, len(toks)),
            i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS p
        FROM toks WHERE len(toks) >= 2) d(doc_id, p)
      JOIN uni u1 ON u1.t = d.p.w1
      JOIN uni u2 ON u2.t = d.p.w2
      LEFT JOIN bi b ON b.w1 = d.p.w1 AND b.w2 = d.p.w2
      CROSS JOIN tot
      GROUP BY d.doc_id),
    joined AS (
      SELECT q.doc_id, q.q, CAST(COALESCE(lm.lp, -99) AS DOUBLE) AS lp
      FROM qual q LEFT JOIN lm ON lm.doc_id = q.doc_id),
    ranked AS (
      SELECT doc_id,
        PERCENT_RANK() OVER (ORDER BY q, doc_id) AS pr_q,
        PERCENT_RANK() OVER (ORDER BY lp, doc_id) AS pr_lp
      FROM joined)
    SELECT doc_id,
      {_R4.format("(pr_q + pr_lp) / 2.0")} AS composite
    FROM ranked
    ORDER BY composite DESC, doc_id LIMIT 20
    """,
)
def x192_composite_score_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.text import quality_score_col
    from video_streamer_spark.queries import QUERIES

    docs = table(spark, sf_dir, "documents")
    qual = docs.select("doc_id", quality_score_col().alias("q"))
    lm = (
        QUERIES["x170_bigram_lm_score"](spark, sf_dir)
        .select(
            "doc_id",
            (F.col("logprob_sum") / F.col("n_terms")).cast("double").alias("lp"),
        )
    )
    joined = qual.join(lm, "doc_id", "left").select(
        "doc_id", "q", F.coalesce("lp", F.lit(-99.0)).alias("lp")
    )
    ranked = joined.select(
        "doc_id",
        F.percent_rank().over(Window.orderBy("q", "doc_id")).alias("pr_q"),
        F.percent_rank().over(Window.orderBy("lp", "doc_id")).alias("pr_lp"),
    )
    return (
        ranked.select(
            "doc_id",
            round4((F.col("pr_q") + F.col("pr_lp")) / 2.0).alias("composite"),
        )
        .orderBy(F.col("composite").desc(), "doc_id")
        .limit(20)
    )


# --------------------------------------------------------------------------
# x193: SOURCE PARETO SEGMENTATION — sources ordered by token volume,
# cut into head (cumulative share ≤ 50%), torso (≤ 90%), and tail: the
# segmentation a mixing plan treats differently (cap the head, keep
# the torso, up-sample the tail). One vocab-sized window cumsum;
# shares computed from exact BIGINT token sums.
@query(
    "x193_source_pareto_segments",
    oracle=f"""
    WITH {_TOKS},
    src AS (
      SELECT source, CAST(SUM(len(toks)) AS BIGINT) AS toks
      FROM toks GROUP BY source),
    tot AS (SELECT CAST(SUM(toks) AS BIGINT) AS n FROM src),
    cum AS (
      SELECT source, toks,
        CAST(SUM(toks) OVER (ORDER BY toks DESC, source
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          AS cum_toks
      FROM src)
    SELECT c.source, c.toks,
      {_R4.format("CAST(c.cum_toks AS DOUBLE) / CAST(t.n AS DOUBLE)")}
        AS cum_share,
      CASE WHEN CAST(c.cum_toks AS DOUBLE) / CAST(t.n AS DOUBLE) <= 0.5
           THEN 'head'
           WHEN CAST(c.cum_toks AS DOUBLE) / CAST(t.n AS DOUBLE) <= 0.9
           THEN 'torso' ELSE 'tail' END AS segment
    FROM cum c CROSS JOIN tot t
    """,
)
def x193_source_pareto_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.dedup import tokens_col

    docs = table(spark, sf_dir, "documents")
    src = docs.select(
        "source", F.size(tokens_col("text")).alias("nt")
    ).groupBy("source").agg(F.sum("nt").cast("bigint").alias("toks"))
    tot = src.agg(F.sum("toks").cast("bigint").alias("n"))
    w = Window.orderBy(F.col("toks").desc(), "source").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = src.select(
        "source", "toks", F.sum("toks").over(w).cast("bigint").alias("cum_toks")
    )
    share = F.col("cum_toks").cast("double") / F.col("n").cast("double")
    return cum.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        round4(share).alias("cum_share"),
        F.when(share <= 0.5, "head")
        .when(share <= 0.9, "torso")
        .otherwise("tail")
        .alias("segment"),
    )


# --------------------------------------------------------------------------
# x194: IVF CELL BALANCE — size distribution of the index's cells and
# the imbalance factor (max/mean): the skew monitor for the vector
# index — a hot cell is a hot partition is a slow probe. One groupBy
# over the deterministic assignment (x155 quantizer).
@query(
    "x194_ivf_cell_balance",
    oracle=f"""
    WITH piv AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY list_dot_product(p.cvec, p.cvec)
                     - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                            p.cvec), p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p) WHERE rn = 1),
    cells AS (
      SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS sz
      FROM assign GROUP BY cent_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
      CAST(MIN(sz) AS BIGINT) AS min_sz,
      CAST(MAX(sz) AS BIGINT) AS max_sz,
      {_R4.format(
          "CAST(MAX(sz) AS DOUBLE)"
          " / (CAST(SUM(sz) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))"
      )} AS imbalance
    FROM cells
    """,
)
def x194_ivf_cell_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.operators.similarity import assign_cells

    emb = table(spark, sf_dir, "embeddings")
    cells = (
        assign_cells(emb, n_cells=16)
        .groupBy("cell")
        .agg(F.count("*").cast("bigint").alias("sz"))
    )
    return cells.agg(
        F.count("*").cast("bigint").alias("n_cells"),
        F.min("sz").cast("bigint").alias("min_sz"),
        F.max("sz").cast("bigint").alias("max_sz"),
        round4(
            F.max("sz").cast("double")
            / (F.sum("sz").cast("double") / F.count("*").cast("double"))
        ).alias("imbalance"),
    )


# --------------------------------------------------------------------------
# x195: CHARACTER-ENTROPY QUALITY SIGNAL — per-document Shannon entropy
# over the character distribution, the classic cheap screen for
# low-information text (boilerplate, repeated padding, binary spill):
# natural prose sits near 4–4.5 nats of char entropy; near-zero means a
# handful of characters dominate. Complements x10's length/punct ratios
# and x143's repetition filters (those look at tokens/lines; this is the
# distribution itself). H = ln(n) − (Σ_c k_c·ln k_c)/n computed from the
# integer character counts, so ln() only ever sees integers (the
# x92/x107 recipe): each ln is qdec6 guard-digit quantized, the weighted
# sum is exact DECIMAL, and the final value is a round6 DOUBLE on both
# engines (parity rules 1/2/4). Reference analog: the per-frame
# quality gates in the curation loop (gst-detection-tf.py threshold
# keep/drop) applied to text at corpus scale.
#
# 100 TB shape: explode to (doc, char) rows → ONE partial-aggregable
# shuffle keyed (doc_id, ch) (≤ ~100 distinct chars per doc survive the
# map-side combine), then a doc-keyed combine. No UDF, no collect; both
# aggregations are codegen hash aggs.
_X195_ORACLE = f"""
    WITH chars AS (
      SELECT doc_id, substr(text, CAST(i.i AS INT), 1) AS ch
      FROM documents
      CROSS JOIN unnest(generate_series(1, length(text))) AS i(i)
      WHERE length(text) >= 1),
    counts AS (
      SELECT doc_id, ch, COUNT(*) AS k FROM chars GROUP BY doc_id, ch),
    per_doc AS (
      SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_chars_tot,
             SUM(k * {{q_ln_k}}) AS s
      FROM counts GROUP BY doc_id)
    SELECT doc_id, n_chars_tot,
      {{r6_h}} AS char_entropy
    FROM per_doc
"""


def _x195_oracle() -> str:
    from video_streamer_spark.functions.parity import sql_qdec6, sql_round6

    q_ln_k = sql_qdec6("ln(CAST(k AS DOUBLE))")
    q_ln_n = sql_qdec6("ln(CAST(n_chars_tot AS DOUBLE))")
    r6_h = sql_round6(
        f"CAST({q_ln_n} AS DOUBLE)"
        " - CAST(s AS DOUBLE) / CAST(n_chars_tot AS DOUBLE)"
    )
    return _X195_ORACLE.format(q_ln_k=q_ln_k, r6_h=r6_h)


@query("x195_char_entropy_quality", oracle=_x195_oracle())
def x195_char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import qdec6, round6

    docs = table(spark, sf_dir, "documents")
    # the length >= 1 guard is semantic, not cosmetic: Spark's
    # sequence(1, 0) yields [1, 0] (descending default step), so an
    # EMPTY document would emit two phantom ''-char rows and a bogus
    # (n_chars_tot=2, entropy=0) row that DuckDB's generate_series(1, 0)
    # (empty) never produces — found by review, guarded symmetrically
    chars = (
        docs.where(F.length("text") >= 1)
        .select(
            "doc_id",
            F.explode(F.expr("sequence(1, length(text))")).alias("i"),
            "text",
        )
        .select("doc_id", F.expr("substring(text, i, 1)").alias("ch"))
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("k"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("k").cast("bigint").alias("n_chars_tot"),
        F.sum(F.col("k") * qdec6(F.log(F.col("k").cast("double")))).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_chars_tot",
        round6(
            qdec6(F.log(F.col("n_chars_tot").cast("double"))).cast("double")
            - F.col("s").cast("double") / F.col("n_chars_tot").cast("double")
        ).alias("char_entropy"),
    )
