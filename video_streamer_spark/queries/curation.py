"""Curation queries: declared Q16–Q18 plus the LLM-data-pipeline
extension suite (dedup / similarity / text-analysis / multimodal), every
SQL-expressible one with a DuckDB oracle.

Oracle-parity notes:
- hashes are md5 hex strings (identical in both engines);
- token/shingle construction uses the same split-filter-slice recipe on
  both sides (operators/dedup.py ↔ the _TOKS/_SH CTE fragments here);
- similarity ranks on ROUNDED cosine (ties broken by id) so top-k
  selection can't flip on 1e-16 float noise.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark.catalog import table
from video_streamer_spark.operators import dedup, multimodal, similarity, text
from video_streamer_spark.queries import query

# ---- shared DuckDB CTE fragments (must match operators/) ---------------

_TOKS_CTE = """
  toks AS (
    SELECT doc_id, lang,
           list_filter(string_split(text, ' '), x -> x <> '') AS toks
    FROM documents)
"""

_SH_CTE = (
    _TOKS_CTE
    + """,
  sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
      SELECT doc_id,
        unnest(list_transform(
          range(1, greatest(len(toks) - 1, 1)),
          i -> array_to_string(toks[i:i+2], ' '))) AS shingle
      FROM toks WHERE len(toks) >= 3))
"""
)

_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in text.EN_STOPWORDS) + "]"


def _sql_cos(a: str, b: str) -> str:
    """Cosine over DOUBLE[] casts — mirrors functions/arrays.py exactly."""
    return (
        f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[])) / "
        f"(sqrt(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[]))) * "
        f"sqrt(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
    )


_R4 = "CAST(ROUND(CAST(({}) AS DECIMAL(38,12)), 4) AS DOUBLE)"
_R2 = "CAST(ROUND(CAST(({}) AS DECIMAL(38,9)), 2) AS DOUBLE)"


# ==========================================================================
# Declared queries
# ==========================================================================


@query(
    "q16_exact_dedup_stats",
    oracle="""
    SELECT lang, COUNT(*) AS n_docs,
      COUNT(DISTINCT text) AS n_distinct,
      COUNT(*) - COUNT(DISTINCT text) AS n_dupes
    FROM documents GROUP BY lang
    """,
)
def q16_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_stats(table(spark, sf_dir, "documents"))


@query(
    "q17_top_tokens",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT unnest(toks) AS token FROM toks)
    SELECT token, COUNT(*) AS cnt FROM tok
    GROUP BY token ORDER BY cnt DESC, token LIMIT 10
    """,
)
def q17_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.top_tokens(table(spark, sf_dir, "documents"), k=10)


@query(
    "q18_cosine_topk",
    oracle=f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, {_R4.format(_sql_cos('e.embedding', 'q.embedding'))} AS sim
      FROM embeddings e, q),
    ranked AS (
      SELECT vec_id, sim,
        CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= 5
    """,
)
def q18_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.brute_topk(
        emb, emb.where(F.col("vec_id") == 0), k=5, exclude_self=False
    ).select("vec_id", "sim", "rank")


# ==========================================================================
# Extension suite: deduplication
# ==========================================================================


@query(
    "x01_dedup_keep_first",
    oracle="""
    SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_doc_id,
      COUNT(*) AS group_size
    FROM documents GROUP BY md5(text) ORDER BY text_hash
    """,
)
def x01_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_keep_first(
        table(spark, sf_dir, "documents")
    ).orderBy("text_hash")


def _minhash_cte() -> str:
    # must match operators/dedup.minhash_signatures: 56-bit integer
    # slices of sha256(seed || shingle), 4 independent slices per hash.
    # Ends with the mh_pairs CTE so both x02 and x45 build on it.
    n, rows = dedup.NUM_MINHASH, dedup.MINHASH_BAND_ROWS
    mins = ",\n      ".join(
        f"MIN(CAST(('0x' || substr(sha256('{s // 4}:' || shingle),"
        f" {1 + (s % 4) * 14}, 14)) AS BIGINT)) AS mh_{s}"
        for s in range(n)
    )
    band_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_idx, "
        + " || '|' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        + " AS band_val FROM sigs"
        for b in range(n // rows)
    )
    return f"""{_SH_CTE},
    sigs AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
    bands AS ({band_selects}),
    mh_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM bands a
      JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)"""


@query(
    "x02_dedup_minhash_pairs",
    oracle=f"""
    WITH {_minhash_cte()}
    SELECT doc_a, doc_b, n_shared_bands FROM mh_pairs
    """,
)
def x02_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_candidate_pairs(table(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# x45: duplicate-CLUSTER resolution — connected components over the
# minhash candidate graph, the step that turns pairs into "keep one per
# cluster" decisions. Spark side is iterative min-label propagation
# (operators/dedup.connected_components); the oracle computes the same
# fixpoint via a recursive transitive-closure CTE, so the component ids
# (min doc id per component) must agree exactly.
@query(
    "x45_dedup_components",
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
    comp AS (SELECT src AS doc_id, MIN(dst) AS min_reach FROM reach GROUP BY src)
    SELECT d.doc_id,
      CAST(COALESCE(LEAST(c.doc_id, c.min_reach), d.doc_id) AS BIGINT)
        AS component_id
    FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
)
def x45_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs)
    comps = dedup.connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(comps, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("comp"), F.col("doc_id"))
            .cast("bigint")
            .alias("component_id"),
        )
        .orderBy("doc_id")
    )


@query(
    "x03_dedup_simhash_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents),
    tok AS (SELECT doc_id, unnest(toks) AS token FROM toks),
    hashed AS (SELECT doc_id, substr(md5(token), 1, 8) AS h8 FROM tok),
    perchar AS (
      SELECT doc_id, p,
        strpos('0123456789abcdef', substr(h8, p + 1, 1)) - 1 AS digit
      FROM hashed, (SELECT unnest([0,1,2,3,4,5,6,7]) AS p) pp),
    perbit AS (
      SELECT doc_id, p * 4 + b AS bitpos, ((digit >> b) & 1) * 2 - 1 AS vote
      FROM perchar, (SELECT unnest([0,1,2,3]) AS b) bb),
    votes AS (SELECT doc_id, bitpos, SUM(vote) AS v FROM perbit GROUP BY 1, 2),
    fp AS (
      SELECT doc_id,
        CAST(SUM(CASE WHEN v >= 0 THEN (CAST(1 AS BIGINT) << bitpos)
                      ELSE 0 END) AS BIGINT) AS simhash
      FROM votes GROUP BY doc_id)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def x03_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_near_pairs(
        table(spark, sf_dir, "documents"), max_hamming=3
    )


@query(
    "x04_dedup_ngram_jaccard",
    oracle=f"""
    WITH {_SH_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      {_R4.format("CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE)")} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / CAST(sa.set_size + sb.set_size - n_inter AS DOUBLE) >= 0.6
    ORDER BY doc_a, doc_b
    """,
)
def x04_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    return (
        dedup.ngram_jaccard_pairs(
            table(spark, sf_dir, "documents"), threshold=0.6
        )
        .select("doc_a", "doc_b", round4("jaccard_raw").alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# threshold 0.35: the driver corpus has no planted near-identical
# embeddings (max pairwise cosine ≈ 0.51), so a production-style 0.95
# cut would make this a 0-row no-op; 0.35 keeps the semantics and
# produces a verifiable result set
@query(
    "x05_embedding_near_pairs",
    oracle=f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
      {_R4.format(_sql_cos('a.embedding', 'b.embedding'))} AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE {_sql_cos('a.embedding', 'b.embedding')} >= 0.35
    """,
)
def x05_embed_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    # row count from the parquet footer(s) (pure metadata, zero Spark
    # jobs) stands in for the table statistics a 100 TB catalog would
    # supply; handles the bench mirror's multi-file layout too
    from video_streamer_spark.catalog import parquet_row_count

    n_rows = parquet_row_count(sf_dir, "embeddings")
    return similarity.embedding_near_pairs(
        table(spark, sf_dir, "embeddings"), threshold=0.35, n_rows=n_rows
    )


# ==========================================================================
# Extension suite: similarity search
# ==========================================================================


@query(
    "x06_ann_topk_multi",
    oracle=f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id,
        {_R4.format(_sql_cos('e.embedding', 'q.q_emb'))} AS sim
      FROM embeddings e, q WHERE e.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, vec_id, sim,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, sim, rank FROM ranked
    WHERE rank <= 3
    """,
)
def x06_ann_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.brute_topk(
        emb, emb.where(F.col("vec_id") < 10), k=3, exclude_self=True
    )


# x07 is approximate w.r.t. a full scan but DETERMINISTIC in (data, seed):
# the oracle re-derives the bucket assignment from the same seeded plane
# literals (similarity.lsh_plane_rows), re-scores candidates with the same
# rounded cosine, and must therefore reproduce the result bit-for-bit.
# fold_exact=True pins the Spark-side bucket dots to sequential fold order
# (= DuckDB list_dot_product), so a sign test near 0 cannot disagree.
def _lsh_planes_values(dim: int, n_planes: int, n_tables: int) -> str:
    return ",\n      ".join(
        f"({t}, {i}, CAST([{', '.join(repr(float(x)) for x in plane)}] AS DOUBLE[]))"
        for t, i, plane in similarity.lsh_plane_rows(dim, n_planes, n_tables)
    )


@query(
    "x07_ann_lsh_topk",
    oracle=f"""
    WITH planes(table_id, plane_idx, plane) AS (VALUES
      {_lsh_planes_values(64, 4, 8)}),
    buckets AS (
      SELECT e.vec_id, p.table_id,
        CAST(SUM(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), p.plane) >= 0
                 THEN 1 << p.plane_idx ELSE 0 END) AS INT) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, p.table_id),
    cand AS (
      SELECT DISTINCT q.vec_id AS query_id, c.vec_id
      FROM buckets q JOIN buckets c
        ON q.table_id = c.table_id AND q.bucket = c.bucket
      WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id),
    scored AS (
      SELECT cand.query_id, cand.vec_id,
        {_R4.format(_sql_cos('ce.embedding', 'qe.embedding'))} AS sim
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ce ON ce.vec_id = cand.vec_id),
    ranked AS (
      SELECT query_id, vec_id, sim,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, sim, rank FROM ranked
    WHERE rank <= 3
    """,
)
def x07_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    return similarity.lsh_topk(
        emb, emb.where(F.col("vec_id") < 10), dim=64, k=3, n_planes=4,
        fold_exact=True,
    )


# ==========================================================================
# Extension suite: text analysis
# ==========================================================================


@query(
    "x08_token_stats",
    oracle=f"""
    WITH {_TOKS_CTE},
    per_doc AS (SELECT doc_id, lang, len(toks) AS n_tokens FROM toks),
    tok AS (SELECT lang, unnest(toks) AS token FROM toks),
    dt AS (SELECT lang, COUNT(DISTINCT token) AS n_distinct_tokens
           FROM tok GROUP BY lang)
    SELECT p.lang, COUNT(*) AS n_docs,
      CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      {_R2.format('AVG(CAST(n_tokens AS DOUBLE))')} AS avg_tokens,
      MIN(dt.n_distinct_tokens) AS n_distinct_tokens
    FROM per_doc p JOIN dt ON p.lang = dt.lang
    GROUP BY p.lang ORDER BY p.lang
    """,
)
def x08_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.token_stats_per_lang(table(spark, sf_dir, "documents"))


@query(
    "x09_lang_id",
    oracle=f"""
    WITH {_TOKS_CTE},
    scored AS (
      SELECT lang,
        CASE WHEN len(toks) > 0 AND
          CAST(len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE) > {text.LANG_ID_THRESHOLD}
          THEN 'en' ELSE 'other' END AS pred_lang
      FROM toks)
    SELECT lang, pred_lang, COUNT(*) AS n_docs
    FROM scored GROUP BY lang, pred_lang ORDER BY lang, pred_lang
    """,
)
def x09_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(table(spark, sf_dir, "documents"))


@query(
    "x10_quality_scores",
    oracle=f"""
    WITH {_TOKS_CTE},
    feats AS (
      SELECT doc_id,
        CAST(len(toks) AS INT) AS n_tokens,
        CASE WHEN len(toks) > 0 THEN
          CAST(list_sum(list_transform(toks, t -> strlen(t))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS avg_tok_len_raw,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE) ELSE 0.0 END AS stop_ratio_raw
      FROM toks)
    SELECT doc_id, n_tokens,
      {_R2.format('avg_tok_len_raw')} AS avg_token_len,
      {_R4.format('stop_ratio_raw')} AS stopword_ratio,
      {_R4.format(
          'least(CAST(n_tokens AS DOUBLE), 200.0) / 200.0 * 0.5'
          ' + least(stop_ratio_raw * 10.0, 1.0) * 0.5'
      )} AS quality_score
    FROM feats
    """,
)
def x10_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_scores(table(spark, sf_dir, "documents"))


@query(
    "x11_fingerprint_dupes",
    oracle="""
    WITH fp AS (
      SELECT doc_id,
        md5(regexp_replace(lower(trim(text)), ' +', ' ', 'g')) AS fingerprint
      FROM documents)
    SELECT fingerprint, COUNT(*) AS n_docs, MIN(doc_id) AS first_doc_id
    FROM fp GROUP BY fingerprint HAVING COUNT(*) > 1
    ORDER BY fingerprint
    """,
)
def x11_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprints(table(spark, sf_dir, "documents"))


# ==========================================================================
# Extension suite: multimodal binary columns
# ==========================================================================


@query(
    "x12_payload_stats",
    oracle="""
    SELECT doc_id,
      CAST(strlen(text) AS BIGINT) AS n_bytes,
      CAST(list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS BIGINT)
        AS byte_sum,
      CAST(strlen(text) % 640 AS INT) AS width,
      CAST(strlen(text) // 640 AS INT) AS height
    FROM documents
    """,
)
def x12_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    payloads = multimodal.documents_as_payloads(docs)
    return multimodal.payload_stats(payloads)


# --------------------------------------------------------------------------
# x31: frame-sampling + resize + payload stats — the multimodal
# preprocessing chain (reference O8 resize, gst-detection-tf.py:356) on
# every 5th payload; sampling is a pushed-down predicate, resize is
# codegen'd binary built-ins, stats run in mapInPandas.
@query(
    "x31_sampled_resize_stats",
    oracle="""
    SELECT doc_id,
      CAST(768 AS BIGINT) AS n_bytes,
      CAST(list_sum(list_transform(
        string_split(substr(text, 1, 768), ''), c -> ascii(c))) AS BIGINT)
        AS byte_sum,
      CAST(32 AS INT) AS width,
      CAST(24 AS INT) AS height
    FROM documents
    WHERE doc_id % 5 = 0
    """,
)
def x31_sampled_resize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    payloads = multimodal.documents_as_payloads(docs)
    sampled = multimodal.sample_every_n(payloads, 5)
    resized = multimodal.resize_payloads(sampled, width=32, height=24)
    return multimodal.payload_stats(resized).selectExpr(
        "doc_id",
        "n_bytes",
        "byte_sum",
        "CAST(32 AS INT) AS width",
        "CAST(24 AS INT) AS height",
    )


# --------------------------------------------------------------------------
# x32: IVF approximate top-k (coarse-quantizer ANN). The registered query
# uses the hash-sampled PIVOT quantizer (similarity.ivf_topk_pivots):
# centroids are the n_cells rows with smallest (md5(id), id), assignment
# is argmin of the routing score <c,c> - 2<e,c> with sequential-fold dots,
# so the oracle below re-derives the identical cells, probes, and ranking.
# (KMeans is not cross-engine reproducible, so the oracle could not
# re-derive its cells.)
_IVF_ROUTE = (
    "list_dot_product(p.cvec, p.cvec)"
    " - 2 * list_dot_product(CAST(e.embedding AS DOUBLE[]), p.cvec)"
)


@query(
    "x32_ivf_topk",
    oracle=f"""
    WITH piv AS (
      SELECT vec_id AS cent_id, CAST(embedding AS DOUBLE[]) AS cvec
      FROM embeddings ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
      LIMIT 16),
    assign AS (
      SELECT vec_id, cent_id FROM (
        SELECT e.vec_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY {_IVF_ROUTE}, p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p) WHERE rn = 1),
    probe AS (
      SELECT query_id, cent_id FROM (
        SELECT e.vec_id AS query_id, p.cent_id,
          ROW_NUMBER() OVER (PARTITION BY e.vec_id
            ORDER BY {_IVF_ROUTE}, p.cent_id) AS rn
        FROM embeddings e CROSS JOIN piv p WHERE e.vec_id < 10) WHERE rn <= 4),
    scored AS (
      SELECT pr.query_id, a.vec_id,
        {_R4.format(_sql_cos('ce.embedding', 'qe.embedding'))} AS sim
      FROM probe pr
      JOIN assign a ON a.cent_id = pr.cent_id AND a.vec_id <> pr.query_id
      JOIN embeddings qe ON qe.vec_id = pr.query_id
      JOIN embeddings ce ON ce.vec_id = a.vec_id),
    ranked AS (
      SELECT query_id, vec_id, sim,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY sim DESC, vec_id) AS INT) AS rank
      FROM scored)
    SELECT query_id, vec_id, sim, rank FROM ranked
    WHERE rank <= 5 ORDER BY query_id, rank
    """,
)
def x32_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    return similarity.ivf_topk_pivots(emb, q, k=5, n_cells=16, n_probe=4)


# --------------------------------------------------------------------------
# x43: the reference pipeline replayed over REAL container decode —
# filesrc→decodebin→infer→rollup (reference run.sh:43-55) becomes
# encode-P6→decode_frame (pure-numpy PPM header parse + tensor view,
# operators/multimodal.py)→deterministic per-frame label/score→broadcast
# label join→rollup. Width/height come from the container header, not
# metadata; no NotImplementedError branch is reachable on this path.
# The oracle recomputes everything downstream of the decode from the text
# column (frames are '.'-padded first-96-char rasters, ASCII corpus).
@query(
    "x43_decode_infer_replay",
    oracle=f"""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 96), 96, '.') AS s FROM documents),
    det AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(string_split(s, ''), c -> ascii(c)))
             AS BIGINT) AS byte_sum
      FROM body),
    lab AS (
      SELECT doc_id, byte_sum,
        CAST(byte_sum % 80 + 1 AS INT) AS label_id
      FROM det
      WHERE CAST(byte_sum AS DOUBLE) / 24480.0 >= 0.35)
    SELECT label_id,
      'label_' || CAST(label_id AS VARCHAR) AS label_name,
      CAST(COUNT(*) AS BIGINT) AS n_frames,
      CAST(SUM(byte_sum) AS BIGINT) AS sum_bytes,
      {_R4.format('CAST(SUM(byte_sum) AS DOUBLE) / (COUNT(*) * 24480.0)')}
        AS avg_score
    FROM lab GROUP BY label_id ORDER BY label_id
    """,
)
def x43_decode_infer_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4
    from video_streamer_spark.sources.labels import labels

    docs = table(spark, sf_dir, "documents")
    frames = multimodal.encode_ppm_payloads(docs, width=8, height=4)
    decoded = multimodal.decode_ppm_frames(frames)
    det = decoded.withColumn(
        "label_id", (F.pmod(F.col("byte_sum"), F.lit(80)) + 1).cast("int")
    ).where(F.col("byte_sum") / F.lit(24480.0) >= 0.35)
    return (
        det.join(F.broadcast(labels(spark)), "label_id")
        .groupBy("label_id", "label_name")
        .agg(
            F.count("*").cast("bigint").alias("n_frames"),
            F.sum("byte_sum").cast("bigint").alias("sum_bytes"),
        )
        .withColumn(
            "avg_score",
            round4(F.col("sum_bytes") / (F.col("n_frames") * F.lit(24480.0))),
        )
        .orderBy("label_id")
    )


# --------------------------------------------------------------------------
# x85: the first COMPRESSED container format through the O2 decode path —
# encode documents as genuine zlib-deflated PNGs (CRC-correct chunks,
# filter type cycling 0→4 by row so every unfilter branch runs on every
# frame), then decode via the real PNG parser (dimensions from IHDR,
# IDAT inflate, per-scanline unfilter). PNG rasters are top-down RGB, so
# unlike x55/BMP the oracle maps channel k to byte k and decoded row 0
# to the FIRST stored row — the two queries together pin that the
# format-specific layout handling lives in the decoders, not the stats.
# Compression is bit-exactly lossless, which is why a SQL oracle can
# recompute decoded-pixel stats from the text column at all.
# Reference anchor: run.sh:53 (decodebin handles compressed containers).
@query(
    "x85_decode_png_infer",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 96), 96, '.') AS s FROM documents)
    SELECT doc_id, CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
      CAST(list_sum(list_transform(range(32), i -> ascii(substr(s, 3*i+1, 1))))
           AS BIGINT) AS r_sum,
      CAST(list_sum(list_transform(range(32), i -> ascii(substr(s, 3*i+2, 1))))
           AS BIGINT) AS g_sum,
      CAST(list_sum(list_transform(range(32), i -> ascii(substr(s, 3*i+3, 1))))
           AS BIGINT) AS b_sum,
      CAST(list_sum(list_transform(range(24), i -> ascii(substr(s, 1+i, 1))))
           AS BIGINT) AS top_row_sum,
      CAST(ascii(substr(s, 1, 1)) AS INT) AS top_left_r
    FROM body ORDER BY doc_id
    """,
)
def x85_decode_png_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    frames = multimodal.encode_png_payloads(docs, width=8, height=4)
    return multimodal.decode_frames_detail(frames).orderBy("doc_id")


# --------------------------------------------------------------------------
# x55: second REAL container format through the O2 decode path — encode
# documents as genuine 24-bpp bottom-up BMPs (valid FILEHEADER+INFOHEADER,
# raster = first-96-char '.'-padded text), decode via the BMP parser
# (pixel offset/dims/bpp read from the HEADER; rows flipped; BGR→RGB
# swapped). The oracle recomputes every output from the text column:
# channel sums pin the BGR swap (stored byte k of each pixel maps to
# channel 2-k), top_row_sum/top_left_r pin the bottom-up flip (decoded
# row 0 = stored LAST row = chars 73..96 at 8×4). Reference anchor:
# run.sh:53 (decodebin handles arbitrary containers).
@query(
    "x55_decode_bmp_infer",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 96), 96, '.') AS s FROM documents)
    SELECT doc_id, CAST(8 AS INT) AS width, CAST(4 AS INT) AS height,
      CAST(list_sum(list_transform(range(32), i -> ascii(substr(s, 3*i+3, 1))))
           AS BIGINT) AS r_sum,
      CAST(list_sum(list_transform(range(32), i -> ascii(substr(s, 3*i+2, 1))))
           AS BIGINT) AS g_sum,
      CAST(list_sum(list_transform(range(32), i -> ascii(substr(s, 3*i+1, 1))))
           AS BIGINT) AS b_sum,
      CAST(list_sum(list_transform(range(24), i -> ascii(substr(s, 73+i, 1))))
           AS BIGINT) AS top_row_sum,
      CAST(ascii(substr(s, 75, 1)) AS INT) AS top_left_r
    FROM body ORDER BY doc_id
    """,
)
def x55_decode_bmp_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    frames = multimodal.encode_bmp_payloads(docs, width=8, height=4)
    return multimodal.decode_frames_detail(frames).orderBy("doc_id")


# --------------------------------------------------------------------------
# x44: O20 annotate/render, value-checked. One deterministic box per
# frame over a zeroed 16×12 RGB raster, so the annotated byte sum is a
# closed-form function of the box perimeter and the label color — the
# oracle recomputes it without pixel access; the pixel-exact drawing
# itself is asserted in tests/test_sources_and_ops.py on a crafted frame.
@query(
    "x44_annotate_render",
    oracle="""
    SELECT doc_id AS frame_id,
      CAST(1 AS INT) AS n_boxes,
      CAST((2 * (4 + doc_id % 4) + 2 * (3 + doc_id % 3) - 4) *
           ((((doc_id % 80 + 1) * 37) % 256)
          + (((doc_id % 80 + 1) * 59) % 256)
          + (((doc_id % 80 + 1) * 83) % 256)) AS BIGINT) AS out_byte_sum
    FROM documents ORDER BY frame_id
    """,
)
def x44_annotate_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import detections

    width, height = 16, 12
    docs = table(spark, sf_dir, "documents")
    frames = docs.select(
        F.col("doc_id").alias("frame_id"),
        F.lit(bytes(width * height * 3)).alias("payload"),
    )
    d = F.col("frame_id")
    det = frames.select(
        "frame_id",
        (d % 5).cast("int").alias("x_min"),
        (d % 3).cast("int").alias("y_min"),
        (d % 5 + 3 + d % 4).cast("int").alias("x_max"),
        (d % 3 + 2 + d % 3).cast("int").alias("y_max"),
        (d % 80 + 1).cast("int").alias("label_id"),
    )
    return (
        detections.annotate_frames(frames, det, width=width, height=height)
        .select("frame_id", "n_boxes", "out_byte_sum")
        .orderBy("frame_id")
    )


# --------------------------------------------------------------------------
# x46/x47: deterministic sampling — rate sampling as a pushed-down
# predicate and per-group quotas via hash-ranked windows. Both selections
# are pure functions of the ids, so the oracles recompute them exactly.
@query(
    "x46_hash_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < 1500
    ORDER BY doc_id
    """,
)
def x46_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import sampling

    return (
        sampling.hash_sample(table(spark, sf_dir, "documents"), rate=0.15)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@query(
    "x47_stratified_language_cap",
    oracle="""
    SELECT doc_id, lang, sample_rank FROM (
      SELECT doc_id, lang,
        CAST(ROW_NUMBER() OVER (
          PARTITION BY lang
          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sample_rank
      FROM documents)
    WHERE sample_rank <= 25
    ORDER BY lang, sample_rank
    """,
)
def x47_stratified_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import sampling

    return (
        sampling.stratified_cap(
            table(spark, sf_dir, "documents"), ["lang"], n_per_group=25
        )
        .select("doc_id", "lang", "sample_rank")
        .orderBy("lang", "sample_rank")
    )


# --------------------------------------------------------------------------
# x60: WEIGHTED deterministic sampling — inclusion probability scales
# with document length (longer documents kept more often, the standard
# importance-weighting move in a training mix). Weight = min(n_chars,
# 2000)/2000; still a pure pushed-down predicate (per-row cutoff vs the
# id-hash bucket), zero shuffles. The oracle mirrors the exact double
# arithmetic (same expression shape → same IEEE rounding).
@query(
    "x60_weighted_sample",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000
        < CAST(floor((least(n_chars, 2000) / 2000.0) * 10000.0) AS BIGINT)
    ORDER BY doc_id
    """,
)
def x60_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import sampling

    docs = table(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars"), F.lit(2000)) / F.lit(2000.0)
    return (
        sampling.weighted_hash_sample(docs, weight)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x51: the END-TO-END curation pass a training-data pipeline actually
# ships, as ONE Catalyst plan: exact-dedup survivors → quality scoring →
# threshold filter → deterministic hash sample. Composition is the
# point — each stage is an already-verified operator, and fusing them
# lets Catalyst prune columns across stages and run the sample predicate
# before anything downstream of it.
@query(
    "x51_curation_pipeline",
    oracle=f"""
    WITH keep AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_doc_id
      FROM documents GROUP BY 1),
    surv AS (
      SELECT d.doc_id, d.lang, d.text FROM documents d
      JOIN keep k ON md5(d.text) = k.h AND d.doc_id = k.keep_doc_id),
    toks AS (
      SELECT doc_id, lang,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM surv),
    feats AS (
      SELECT doc_id, lang, len(toks) AS n_tokens,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t)))
               AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        ELSE 0.0 END AS stop_ratio
      FROM toks),
    scored AS (
      SELECT doc_id, lang, CAST(n_tokens AS INT) AS n_tokens,
        {_R4.format(
            'least(CAST(n_tokens AS DOUBLE), 200.0) / 200.0 * 0.5'
            ' + least(stop_ratio * 10.0, 1.0) * 0.5'
        )} AS quality_score
      FROM feats)
    SELECT doc_id, lang, n_tokens, quality_score FROM scored
    WHERE quality_score >= 0.5
      AND CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 < 5000
    ORDER BY doc_id
    """,
)
def x51_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import sampling

    docs = table(spark, sf_dir, "documents")
    keep = dedup.exact_dedup_keep_first(docs)
    surv = docs.join(
        keep,
        (F.md5("text") == F.col("text_hash"))
        & (F.col("doc_id") == F.col("keep_doc_id")),
    ).select("doc_id", "lang", "text")
    scored = text.quality_scores(surv).join(
        surv.select("doc_id", "lang"), "doc_id"
    )
    kept = sampling.hash_sample(
        scored.where(F.col("quality_score") >= 0.5), rate=0.5
    )
    return kept.select(
        "doc_id", "lang", "n_tokens", "quality_score"
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x37: TF-IDF — the capability-matrix "tf-idf via joins/aggs" row. Output
# ordered by (doc_id, token), NOT by score: 1-ulp ln() differences
# between engines must not be able to flip result order.
@query(
    "x37_tfidf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    tf AS (SELECT doc_id, token, COUNT(*) AS n_tok FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, SUM(n_tok) AS doc_tokens FROM tf GROUP BY 1),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents)
    SELECT tf.doc_id, tf.token,
      CAST(ROUND(CAST(
        (CAST(n_tok AS DOUBLE) / CAST(doc_tokens AS DOUBLE))
        * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE))
      AS DECIMAL(38,12)), 4) AS DOUBLE) AS tfidf
    FROM tf JOIN dl USING (doc_id) JOIN df USING (token) CROSS JOIN n
    WHERE tf.doc_id < 20
    ORDER BY tf.doc_id, tf.token
    """,
)
def x37_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    d = table(spark, sf_dir, "documents")
    return (
        text.tf_idf(d)
        .where(F.col("doc_id") < 20)
        .select("doc_id", "token", round4("tfidf_raw").alias("tfidf"))
        .orderBy("doc_id", "token")
    )


# --------------------------------------------------------------------------
# x41: BPE-ish regex token counts — the subword-pretoken counting an LLM
# data pipeline uses (GPT-2 split pattern, RE2∩Java subset)
@query(
    "x41_bpe_token_counts",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id,
        regexp_extract_all(text,
          '{text.BPE_SPLIT_PATTERN.replace("'", "''")}') AS t
      FROM documents)
    SELECT doc_id,
      CAST(len(t) AS INT) AS n_bpe_tokens,
      CAST(len(list_distinct(t)) AS INT) AS n_distinct,
      CAST(list_sum(list_transform(t, x -> strlen(x))) AS BIGINT) AS total_chars
    FROM toks
    ORDER BY doc_id
    """,
)
def x41_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    t = text.bpe_tokens_col("text")
    return d.select(
        "doc_id",
        F.size(t).cast("int").alias("n_bpe_tokens"),
        F.size(F.array_distinct(t)).cast("int").alias("n_distinct"),
        F.aggregate(
            t, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x).cast("bigint")
        ).alias("total_chars"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x42: rolling-hash (Rabin–Karp) fingerprint — min window hash +
# distinct-window count, byte-identical integer arithmetic both engines
@query(
    "x42_rolling_hash_fingerprint",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
        list_transform(
          range(1, strlen(text) - {text.ROLLING_WINDOW} + 2),
          i -> {' + '.join(
            f"CAST(ascii(substr(text, i + {j}, 1)) AS BIGINT)"
            f" * CAST({text.ROLLING_BASE ** (text.ROLLING_WINDOW - 1 - j)} AS BIGINT)"
            for j in range(text.ROLLING_WINDOW)
          )}
        ) AS hashes
      FROM documents
      WHERE strlen(text) >= {text.ROLLING_WINDOW})
    SELECT doc_id,
      CAST(list_min(hashes) AS BIGINT) AS min_hash,
      CAST(len(list_distinct(hashes)) AS INT) AS n_distinct_windows
    FROM h
    ORDER BY doc_id
    """,
)
def x42_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.rolling_hash_fingerprints(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x61: embedding CENTROIDS per label — the vector-aggregation primitive
# behind k-means E-steps, class prototypes, and dedup-cluster medoids.
# posexplode → groupBy(label, dim): Spark's partial aggregation means the
# shuffle carries only n_partitions × n_labels × dim partial rows, never
# the exploded fact volume — the right shape at 100 TB. Cross-row float
# sums are order-dependent in double, so each element is first quantized
# to an exact 1e-6 integer grid with floor() (no tie semantics to
# disagree on), summed exactly as BIGINT, and divided back out — both
# engines compute bit-identical centroids with zero decimal-cast risk.
@query(
    "x61_embedding_centroids",
    oracle=f"""
    WITH ex AS (
      SELECT label,
        unnest(range(len(embedding))) AS pos,
        unnest(embedding) AS val
      FROM embeddings)
    SELECT label, CAST(pos AS INT) AS pos,
      CAST(COUNT(*) AS BIGINT) AS n_vecs,
      {_R4.format(
          "CAST(SUM(CAST(floor(CAST(val AS DOUBLE) * 1000000.0) AS BIGINT))"
          " AS DOUBLE) / 1000000.0 / COUNT(*)"
      )} AS centroid
    FROM ex GROUP BY label, pos ORDER BY label, pos
    """,
)
def x61_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    e = table(spark, sf_dir, "embeddings")
    ex = e.select(
        "label", F.posexplode("embedding").alias("pos", "val")
    )
    q = F.floor(F.col("val").cast("double") * 1_000_000.0).cast("bigint")
    return (
        ex.groupBy("label", F.col("pos").cast("int").alias("pos"))
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            F.sum(q).alias("s"),
        )
        .select(
            "label",
            "pos",
            "n_vecs",
            round4(
                F.col("s").cast("double") / 1_000_000.0 / F.col("n_vecs")
            ).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# x62: corpus-LM quality scoring — mean unigram log-probability per
# document, the classic cheap fluency/quality signal in training-data
# filtering. Two aggregations over one token explode (vocab counts,
# then per-doc mean surprisal via a vocab join); the vocab relation is
# tiny relative to the corpus, so at scale the join broadcasts and the
# only heavy shuffle is the vocab count itself. Each token's log-prob is
# guard-digit-quantized to DECIMAL(18,6) (parity.py qdec6) before the
# cross-row sum, so per-doc means are engine-stable.
@query(
    "x62_unigram_logprob",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT doc_id, unnest(toks) AS token FROM toks
            WHERE len(toks) > 0),
    vocab AS (SELECT token, COUNT(*) AS freq FROM tok GROUP BY token),
    tot AS (SELECT SUM(freq) AS total FROM vocab),
    scored AS (
      SELECT t.doc_id,
        CAST(ROUND(CAST(
          ln(CAST(v.freq AS DOUBLE) / CAST(tot.total AS DOUBLE))
          AS DECIMAL(38,9)), 6) AS DECIMAL(18,6)) AS lp
      FROM tok t JOIN vocab v ON t.token = v.token CROSS JOIN tot)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      {_R4.format("CAST(SUM(lp) AS DOUBLE) / COUNT(*)")} AS avg_logprob
    FROM scored GROUP BY doc_id ORDER BY doc_id
    """,
)
def x62_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import qdec6, round4
    from video_streamer_spark.operators.text import token_explode

    docs = table(spark, sf_dir, "documents")
    tok = token_explode(docs)
    vocab = tok.groupBy("token").agg(F.count("*").alias("freq"))
    total = vocab.agg(F.sum("freq").alias("total"))
    scored = (
        tok.join(F.broadcast(vocab), "token")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            qdec6(
                F.log(
                    F.col("freq").cast("double")
                    / F.col("total").cast("double")
                )
            ).alias("lp"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            round4(F.sum("lp").cast("double") / F.count("*")).alias(
                "avg_logprob"
            ),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x63: document CHUNKING — fixed-size token windows with overlap
# (size 50, stride 40), the unit-of-training-example splitter every LLM
# data pipeline runs before tokenizer packing. Pure codegen: token
# split → sequence of chunk starts → posexplode → slice + array_join.
# No UDF, no shuffle except the final ordering; at 100 TB this runs at
# scan speed and the output is ~n_tokens/stride rows per doc.
@query(
    "x63_chunk_documents",
    oracle=f"""
    WITH {_TOKS_CTE},
    c AS (
      SELECT doc_id, toks,
        unnest(range(CAST((len(toks) - 1) // 40 AS BIGINT) + 1)) AS chunk_id
      FROM toks WHERE len(toks) > 0)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
      CAST(len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50))
           AS INT) AS n_tokens,
      array_to_string(
        list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50), ' ')
        AS chunk_text
    FROM c ORDER BY doc_id, chunk_id
    """,
)
def x63_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.chunk_documents(
        table(spark, sf_dir, "documents"), size=50, stride=40
    ).orderBy("doc_id", "chunk_id")


# --------------------------------------------------------------------------
# x65: FUZZY dedup by edit distance — the fourth near-dup family member
# next to minhash/simhash/jaccard: levenshtein ≤ 8 on 64-char prefixes,
# blocked by (lang, 32-char length bucket) with the q20-style adjacent-
# bucket probe so no all-pairs compare exists and per-key shuffle groups
# stay block-bounded at any corpus size. Pure codegen (built-in
# levenshtein), oracle mirrors the block + threshold exactly.
@query(
    "x65_fuzzy_dedup_levenshtein",
    oracle="""
    WITH base AS (
      SELECT doc_id, lang, substr(text, 1, 64) AS pfx,
        CAST(length(text) // 32 AS BIGINT) AS fb
      FROM documents)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
      CAST(levenshtein(a.pfx, b.pfx) AS INT) AS prefix_dist
    FROM base a JOIN base b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND b.fb BETWEEN a.fb - 1 AND a.fb + 1
    WHERE levenshtein(a.pfx, b.pfx) <= 8
    ORDER BY doc_a, doc_b
    """,
)
def x65_fuzzy_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.fuzzy_pairs_levenshtein(
        table(spark, sf_dir, "documents")
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# x67: COUNT-MIN SKETCH over the token stream — the mergeable
# frequency-sketch companion to x53's HLL rollup. The sketch is built
# declaratively (d=4 hash rows × w=256 buckets; bucket = md5-derived,
# so BOTH engines reproduce it bit-exactly and even the ESTIMATES
# hash-match — stronger than the x24-style contract flag): one shuffle
# with map-side partials reduces the corpus to d×w cells, which is the
# whole point at 100 TB — cells merge across partitions/days by
# addition, and a frequency probe joins d rows instead of re-scanning
# the corpus. CMS guarantee (est ≥ exact) emitted as a checked column.
@query(
    "x67_count_min_sketch_topk",
    oracle=f"""
    WITH {_TOKS_CTE},
    tok AS (SELECT unnest(toks) AS token FROM toks),
    exact AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok
      GROUP BY token ORDER BY exact_cnt DESC, token LIMIT 10),
    rows_ AS (SELECT unnest([0, 1, 2, 3]) AS ri),
    cells AS (
      SELECT ri,
        CAST(('0x' || substr(md5(CAST(ri AS VARCHAR) || ':' || token), 1, 8))
             AS BIGINT) % 256 AS bucket,
        CAST(COUNT(*) AS BIGINT) AS cell_cnt
      FROM tok CROSS JOIN rows_ GROUP BY 1, 2),
    probes AS (
      SELECT e.token, e.exact_cnt, r.ri,
        CAST(('0x' || substr(md5(CAST(r.ri AS VARCHAR) || ':' || e.token),
                             1, 8)) AS BIGINT) % 256 AS bucket
      FROM exact e CROSS JOIN rows_ r),
    est AS (
      SELECT p.token, p.exact_cnt, MIN(c.cell_cnt) AS est_cnt
      FROM probes p JOIN cells c ON p.ri = c.ri AND p.bucket = c.bucket
      GROUP BY p.token, p.exact_cnt)
    SELECT token, exact_cnt, est_cnt, est_cnt >= exact_cnt AS sound
    FROM est ORDER BY exact_cnt DESC, token
    """,
)
def x67_count_min_sketch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import token_explode

    d_rows, width = 4, 256
    docs = table(spark, sf_dir, "documents")
    tok = token_explode(docs).select("token")

    def bucket(ri_col: F.Column, token_col: F.Column) -> F.Column:
        h = F.md5(F.concat(ri_col.cast("string"), F.lit(":"), token_col))
        return F.pmod(
            F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(width)
        )

    ri = F.explode(F.array(*[F.lit(i) for i in range(d_rows)])).alias("ri")
    cells = (
        tok.select("token", ri)
        .select("ri", bucket(F.col("ri"), F.col("token")).alias("bucket"))
        .groupBy("ri", "bucket")
        .agg(F.count("*").cast("bigint").alias("cell_cnt"))
    )
    exact = (
        tok.groupBy("token")
        .agg(F.count("*").cast("bigint").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), F.col("token"))
        .limit(10)
    )
    probes = exact.select(
        "token", "exact_cnt", ri
    ).withColumn("bucket", bucket(F.col("ri"), F.col("token")))
    return (
        probes.join(F.broadcast(cells), ["ri", "bucket"])
        .groupBy("token", "exact_cnt")
        .agg(F.min("cell_cnt").alias("est_cnt"))
        .select(
            "token",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") >= F.col("exact_cnt")).alias("sound"),
        )
        .orderBy(F.col("exact_cnt").desc(), "token")
    )


# --------------------------------------------------------------------------
# x68: SEQUENCE PACKING — assign x63's chunks to fixed token-budget bins
# (2048 tokens) in deterministic (doc_id, chunk_id) order: bin id =
# floor(exclusive-running-token-sum / budget), the standard contiguous
# greedy packer that turns variable-length chunks into near-full
# training sequences. One global ordering window (at 100 TB you pack
# per-shard instead — partitionBy(shard) on the same expression — so
# the window never needs a global sort; the semantics per shard are
# identical). Output: per-bin chunk count and fill level.
@query(
    "x68_pack_chunks",
    oracle=f"""
    WITH {_TOKS_CTE},
    c AS (
      SELECT doc_id, toks,
        unnest(range(CAST((len(toks) - 1) // 40 AS BIGINT) + 1)) AS chunk_id
      FROM toks WHERE len(toks) > 0),
    chunks AS (
      SELECT doc_id, chunk_id,
        CAST(len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50))
             AS BIGINT) AS n_tokens
      FROM c),
    packed AS (
      SELECT doc_id, chunk_id, n_tokens,
        CAST(COALESCE(SUM(n_tokens) OVER (
          ORDER BY doc_id, chunk_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 2048
          AS BIGINT) AS bin_id
      FROM chunks)
    SELECT bin_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
    FROM packed GROUP BY bin_id ORDER BY bin_id
    """,
)
def x68_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from video_streamer_spark.operators.dedup import tokens_col

    size, stride, budget = 50, 40, 2048
    docs = table(spark, sf_dir, "documents")
    toks = tokens_col("text")
    n = F.size(toks)
    chunks = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.posexplode(
            F.sequence(
                F.lit(0), F.floor((n - 1) / F.lit(stride)).cast("int")
            )
        ).alias("chunk_id", "_i"),
    ).where(F.size(F.col("toks")) > 0).select(
        "doc_id",
        F.col("chunk_id").cast("bigint").alias("chunk_id"),
        F.size(
            F.slice(F.col("toks"), F.col("chunk_id") * stride + 1, size)
        ).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.orderBy("doc_id", "chunk_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = chunks.withColumn(
        "bin_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / F.lit(budget)
        ).cast("bigint"),
    )
    return (
        packed.groupBy("bin_id")
        .agg(
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        )
        .orderBy("bin_id")
    )


# --------------------------------------------------------------------------
# x71: MinHash Jaccard ESTIMATION vs exact — for every LSH candidate
# pair, the matching-minhash fraction (the unbiased Jaccard estimator
# the sketch exists to provide) next to the true shingle-set Jaccard.
# The exact side is CANDIDATE-BOUNDED: the small pair list drives the
# shingle joins (pairs → doc_a shingles → doc_b match), so the exact
# verification cost scales with candidates, never with corpus².
# n_eq/8 is dyadic-exact; exact Jaccard follows x04's recipe.
@query(
    "x71_minhash_jaccard_estimate",
    oracle=f"""
    WITH {_minhash_cte()},
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_inter
      FROM mh_pairs p
      JOIN sh a ON a.doc_id = p.doc_a
      JOIN sh b ON b.doc_id = p.doc_b AND b.shingle = a.shingle
      GROUP BY p.doc_a, p.doc_b),
    est AS (
      SELECT p.doc_a, p.doc_b,
        ({" + ".join(f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END"
                     for i in range(8))}) AS n_eq
      FROM mh_pairs p
      JOIN sigs a ON a.doc_id = p.doc_a
      JOIN sigs b ON b.doc_id = p.doc_b)
    SELECT e.doc_a AS doc_a, e.doc_b AS doc_b, CAST(e.n_eq AS INT) AS n_eq,
      CAST(e.n_eq AS DOUBLE) / 8.0 AS est_jaccard,
      {_R4.format(
        "CAST(i.n_inter AS DOUBLE) / "
        "CAST(sa.set_size + sb.set_size - i.n_inter AS DOUBLE)")}
        AS exact_jaccard
    FROM est e
    JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sizes sa ON sa.doc_id = e.doc_a
    JOIN sizes sb ON sb.doc_id = e.doc_b
    ORDER BY e.doc_a, e.doc_b
    """,
)
def x71_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.parity import round4

    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    sigs = dedup.minhash_signatures(docs)
    n_eq = sum(
        F.when(F.col(f"a.mh_{i}") == F.col(f"b.mh_{i}"), 1).otherwise(0)
        for i in range(8)
    )
    est = (
        pairs.join(sigs.alias("a"), F.col("doc_a") == F.col("a.doc_id"))
        .join(sigs.alias("b"), F.col("doc_b") == F.col("b.doc_id"))
        .select("doc_a", "doc_b", n_eq.cast("int").alias("n_eq"))
    )
    sh = docs.select(
        "doc_id", F.explode(dedup.shingles_col("text")).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("set_size"))
    inter = (
        pairs.join(
            sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        est.join(inter, ["doc_a", "doc_b"])
        .join(
            sizes.select(F.col("doc_id").alias("doc_a"),
                         F.col("set_size").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"),
                         F.col("set_size").alias("size_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            "n_eq",
            (F.col("n_eq").cast("double") / F.lit(8.0)).alias("est_jaccard"),
            round4(
                F.col("n_inter").cast("double")
                / (F.col("size_a") + F.col("size_b") - F.col("n_inter")).cast(
                    "double"
                )
            ).alias("exact_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# x72: deterministic TRAIN/VAL/TEST split — contiguous id-hash bucket
# ranges (80/10/10) so every row lands in exactly one split, assignment
# is identical at any parallelism/scale, and reruns reproduce the same
# corpus (sampling.hash_split; pure predicate, no shuffle). Rolled up
# per (split, lang) so the driver row also witnesses that the split is
# roughly stratified without a stratification pass.
@query(
    "x72_train_val_test_split",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
          % 10000 AS bucket
      FROM documents),
    s AS (
      SELECT lang,
        CASE WHEN bucket < 8000 THEN 'train'
             WHEN bucket < 9000 THEN 'val'
             ELSE 'test' END AS split
      FROM b)
    SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s GROUP BY split, lang ORDER BY split, lang
    """,
)
def x72_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import sampling

    docs = table(spark, sf_dir, "documents")
    split = sampling.hash_split(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    return (
        split.groupBy("split", "lang")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# x73: benchmark DECONTAMINATION — flag corpus documents containing any
# phrase from a (small, broadcast) benchmark-phrase dimension via exact
# substring match. The phrase dim derives deterministically from the
# corpus itself (30-char excerpts of every 100th document) so the query
# runs on driver data alone; in production the dim is the eval-set
# n-gram list and the same broadcast-scan shape holds: one corpus pass,
# phrases on the broadcast side, no shuffle before the rollup.
@query(
    "x73_decontaminate_phrases",
    oracle="""
    WITH phrases AS (
      SELECT doc_id AS phrase_src, substr(text, 11, 30) AS phrase
      FROM documents WHERE doc_id % 100 = 7 AND length(text) >= 40)
    SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM documents d JOIN phrases p
      ON instr(d.text, p.phrase) > 0
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def x73_decontaminate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    phrases = docs.where(
        (F.col("doc_id") % 100 == 7) & (F.length("text") >= 40)
    ).select(
        F.col("doc_id").alias("phrase_src"),
        F.substring("text", 11, 30).alias("phrase"),
    )
    return (
        docs.join(
            F.broadcast(phrases), F.instr(F.col("text"), F.col("phrase")) > 0
        )
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# x74: AUDIO decode — documents encoded as REAL mono 16-bit PCM WAV
# files (valid RIFF chunk layout including a LIST chunk before data, so
# fixed-offset readers would fail; ours walks chunks), decoded by the
# pure-python WAV parser and reduced per clip. PCM bytes are the first
# 128 chars as little-endian int16 pairs: sample i = c(2i+1) + 256·
# c(2i+2), always positive for ASCII — the oracle recomputes frame
# count, sample sum, and peak from the text column. Third modality
# (image PPM/BMP → audio WAV) through the same binary-column plumbing.
@query(
    "x74_decode_wav_stats",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 128), 128, '.') AS s
      FROM documents),
    samp AS (
      SELECT doc_id,
        list_transform(range(64),
          i -> ascii(substr(s, 2*i + 1, 1))
               + 256 * ascii(substr(s, 2*i + 2, 1))) AS samples
      FROM body)
    SELECT doc_id, CAST(8000 AS INT) AS sample_rate,
      CAST(1 AS INT) AS n_channels,
      CAST(64 AS BIGINT) AS n_frames,
      CAST(list_sum(samples) AS BIGINT) AS sample_sum,
      CAST(list_max(samples) AS INT) AS peak
    FROM samp ORDER BY doc_id
    """,
)
def x74_decode_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    wavs = multimodal.encode_wav_payloads(docs, n_bytes=128, sample_rate=8000)
    return multimodal.decode_wav_stats(wavs).orderBy("doc_id")


def _pagerank_oracle(n_iter: int = 5) -> str:
    """Unrolled power-iteration CTEs mirroring dedup.pagerank_iterations
    exactly (double division → DECIMAL(18,9) terms → exact decimal sum
    and damped update, per iteration)."""
    parts = [f"WITH {_minhash_cte()}",
             """edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM mh_pairs
      UNION ALL SELECT doc_b, doc_a FROM mh_pairs),
    deg AS (SELECT src, COUNT(*) AS out_deg FROM edges GROUP BY src),
    allnodes AS (SELECT doc_id AS node FROM documents),
    r0 AS (SELECT node, CAST(1.0 AS DECIMAL(18,9)) AS rank FROM allnodes)"""]
    for k in range(n_iter):
        parts.append(f"""g{k} AS (
      SELECT e.dst AS node,
        SUM(CAST(CAST(r.rank AS DOUBLE) / d.out_deg AS DECIMAL(18,9))) AS s
      FROM edges e
      JOIN r{k} r ON e.src = r.node
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst),
    r{k + 1} AS (
      SELECT n.node,
        CAST(CAST(0.15 AS DECIMAL(6,4))
             + CAST(0.85 AS DECIMAL(6,4))
               * COALESCE(g.s, CAST(0 AS DECIMAL(18,9)))
             AS DECIMAL(18,9)) AS rank
      FROM allnodes n LEFT JOIN g{k} g ON g.node = n.node)""")
    body = ",\n    ".join(parts)
    return f"""{body}
    SELECT node AS doc_id, CAST(rank AS DOUBLE) AS rank
    FROM r{n_iter} ORDER BY doc_id"""


# --------------------------------------------------------------------------
# x75: PAGERANK over the duplicate-candidate graph — 5 power iterations
# ranking documents by centrality in the near-dup neighborhood (the
# "which copy is canonical" signal next to x45's components). Iterative-
# algorithm coverage beyond label propagation: each round is one
# join+agg, the constant iteration count keeps it a single Catalyst
# plan, and the oracle replays the identical arithmetic as unrolled
# CTEs — full value oracle, not a rows-only check.
@query("x75_pagerank_dedup_graph", oracle=_pagerank_oracle(5))
def x75_pagerank_dedup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    pairs = dedup.minhash_candidate_pairs(docs).select("doc_a", "doc_b")
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    nodes = docs.select(F.col("doc_id").alias("node"))
    ranks = dedup.pagerank_iterations(nodes, edges, n_iter=5)
    return ranks.select(
        F.col("node").alias("doc_id"),
        F.col("rank").cast("double").alias("rank"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# x78: FULL curation pipeline v2 — the complete LLM training-data pass
# as ONE Catalyst plan: exact-dedup survivors → quality threshold →
# benchmark DECONTAMINATION (anti-join on the broadcast phrase dim) →
# deterministic train/val/test SPLIT → CHUNKING → per-(split, lang)
# rollup. Every stage is an independently-oracle-verified operator
# (x01/x10/x73/x72/x63); fusing them lets Catalyst prune columns across
# stages and keeps zero materialization boundaries between them — the
# plan a 100 TB curation job would actually submit.
@query(
    "x78_curation_pipeline_v2",
    oracle=f"""
    WITH keep AS (
      SELECT md5(text) AS h, MIN(doc_id) AS keep_doc_id
      FROM documents GROUP BY 1),
    surv AS (
      SELECT d.doc_id, d.lang, d.text FROM documents d
      JOIN keep k ON md5(d.text) = k.h AND d.doc_id = k.keep_doc_id),
    toks0 AS (
      SELECT doc_id, lang, text,
        list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM surv),
    feats AS (
      SELECT doc_id, lang, text, toks, len(toks) AS n_tokens,
        CASE WHEN len(toks) > 0 THEN
          CAST(len(list_filter(toks, t -> list_contains({_STOPWORDS_SQL}, t)))
               AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        ELSE 0.0 END AS stop_ratio
      FROM toks0),
    qual AS (
      SELECT doc_id, lang, text, toks FROM feats
      WHERE {_R4.format(
          'least(CAST(n_tokens AS DOUBLE), 200.0) / 200.0 * 0.5'
          ' + least(stop_ratio * 10.0, 1.0) * 0.5'
      )} >= 0.5),
    phrases AS (
      SELECT substr(text, 11, 30) AS phrase
      FROM documents WHERE doc_id % 100 = 7 AND length(text) >= 40),
    clean AS (
      SELECT q.* FROM qual q
      WHERE NOT EXISTS (
        SELECT 1 FROM phrases p WHERE instr(q.text, p.phrase) > 0)),
    split AS (
      SELECT doc_id, lang, toks,
        CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10000 < 8000 THEN 'train'
             WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) % 10000 < 9000 THEN 'val'
             ELSE 'test' END AS split
      FROM clean),
    chunks AS (
      SELECT doc_id, lang, split,
        unnest(range(CAST((len(toks) - 1) // 40 AS BIGINT) + 1)) AS chunk_id,
        toks
      FROM split WHERE len(toks) > 0)
    SELECT split, lang,
      CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
      CAST(COUNT(*) AS BIGINT) AS n_chunks,
      CAST(SUM(len(list_slice(toks, chunk_id * 40 + 1, chunk_id * 40 + 50)))
           AS BIGINT) AS sum_chunk_tokens
    FROM chunks GROUP BY split, lang ORDER BY split, lang
    """,
)
def x78_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import sampling

    docs = table(spark, sf_dir, "documents")
    keep = dedup.exact_dedup_keep_first(docs)
    surv = docs.join(
        keep,
        (F.md5("text") == F.col("text_hash"))
        & (F.col("doc_id") == F.col("keep_doc_id")),
    ).select("doc_id", "lang", "text")
    qual = (
        text.quality_scores(surv)
        .where(F.col("quality_score") >= 0.5)
        .join(surv, "doc_id")
        .select("doc_id", "lang", "text")
    )
    phrases = docs.where(
        (F.col("doc_id") % 100 == 7) & (F.length("text") >= 40)
    ).select(F.substring("text", 11, 30).alias("phrase"))
    clean = qual.join(
        F.broadcast(phrases),
        F.instr(F.col("text"), F.col("phrase")) > 0,
        "left_anti",
    )
    split = sampling.hash_split(
        clean, {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    chunks = text.chunk_documents(split.select("doc_id", "text")).join(
        split.select("doc_id", "lang", "split"), "doc_id"
    )
    return (
        chunks.groupBy("split", "lang")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_chunks"),
            F.sum("n_tokens").cast("bigint").alias("sum_chunk_tokens"),
        )
        .orderBy("split", "lang")
    )


# --------------------------------------------------------------------------
# x79: HIERARCHY TRAVERSAL by POINTER JUMPING — depth of every node in a
# synthetic binary hierarchy (node i's parent is i//2, root 1). The
# Spark side runs ancestor DOUBLING: each round joins the pointer table
# to itself so the known-ancestor distance doubles — O(log depth)
# rounds, the distributed substitute for per-row recursion (a recursive
# CTE walks one edge per round; at 100 TB the log-round form is the
# difference between 4 shuffles and 40). The root's self-loop with
# distance 0 absorbs overshoot. The ORACLE is the closed form — depth =
# len(bin(i)) - 1 — a fully independent derivation, so agreement checks
# the algorithm, not a re-implementation of it.
@query(
    "x79_hierarchy_depth_pointer_jump",
    oracle="""
    SELECT doc_id AS node,
      CAST(length(bin(doc_id)) - 1 AS INT) AS depth
    FROM documents WHERE doc_id >= 1
    ORDER BY node
    """,
)
def x79_hierarchy_depth_pointer_jump(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents").where(F.col("doc_id") >= 1)
    ptr = docs.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("doc_id") == 1, F.lit(1))
        .otherwise((F.col("doc_id") / 2).cast("bigint"))
        .cast("bigint")
        .alias("anc"),
        F.when(F.col("doc_id") == 1, F.lit(0)).otherwise(F.lit(1)).alias("d"),
    )
    # 5 doubling rounds reach depth 2^5 = 32, i.e. any doc_id < 2^32 —
    # far beyond every SF; rounds = ceil(log2(max_depth)) in general.
    # Recomputation truncated per round (per-round persist pools,
    # VERDICT r14 item 7): the self-join otherwise DOUBLES the work
    # every round — 2^5 recomputations of the base scan at execution.
    # Each round's physical plan now joins two reads of the previous
    # round's one cached materialization; plans stay LAZY so
    # construction runs zero jobs (a localCheckpoint variant was
    # measured and rejected: toRdd under AQE materializes every stage
    # at construction — 13 jobs during plan building).
    from video_streamer_spark.functions.caching import (
        bounded_persist,
        evict_pools,
    )

    evict_pools("x79-")
    for it in range(5):
        ptr = bounded_persist(ptr, f"x79-r{it}")
        other = ptr.select(
            F.col("node").alias("j_node"),
            F.col("anc").alias("j_anc"),
            F.col("d").alias("j_d"),
        )
        ptr = ptr.join(other, ptr["anc"] == other["j_node"]).select(
            "node",
            F.col("j_anc").alias("anc"),
            (F.col("d") + F.col("j_d")).alias("d"),
        )
    return ptr.select(
        "node", F.col("d").cast("int").alias("depth")
    ).orderBy("node")


# x236 — SEMANTIC DEDUP (SemDeDup-style, cluster-blocked): the
# embedding-space near-dup pass production pipelines run where exact /
# minhash dedup can't see paraphrases. Vectors are assigned to their
# nearest PIVOT (pivots = the deterministic vec_id % 127 == 0 slice, so
# both engines rebuild the identical "clustering" — a seeded k-means
# would put an untestable RNG inside the oracle), and only WITHIN a
# cluster are pairs scored; a vector is a semantic duplicate if some
# LOWER-id cluster-mate has rounded cosine ≥ 0.35 (the min-id-anchor
# rule: deterministic, order-free, and the keep-set is exactly the
# non-flagged rows). Plan shape: K pivots broadcast to every vector
# (one scan, no shuffle for assignment — argmax via max(struct)), then
# the quadratic work is cluster-bounded (the IVF-blocking story: at
# 100 TB the cluster key is the fan-out dial, and the self-join
# shuffles on pivot_id instead of exploding corpus²). Rounding rides
# functions/parity.round4 on BOTH the assignment argmax and the dup
# threshold so 1e-16 float noise can't flip a cluster or a verdict.
@query(
    "x236_semantic_dedup",
    oracle=f"""
    WITH piv AS (
      SELECT vec_id AS pivot_id, embedding AS p_emb
      FROM embeddings WHERE vec_id % 127 = 0),
    assigned AS (
      SELECT e.vec_id, e.embedding,
        (SELECT p.pivot_id FROM piv p
         ORDER BY {_R4.format(_sql_cos('e.embedding', 'p.p_emb'))} DESC,
                  p.pivot_id
         LIMIT 1) AS pivot_id
      FROM embeddings e),
    dups AS (
      SELECT b.vec_id, b.pivot_id,
        CAST(COUNT(*) AS BIGINT) AS n_lower_neighbors,
        MAX({_R4.format(_sql_cos('a.embedding', 'b.embedding'))}) AS max_sim
      FROM assigned a JOIN assigned b
        ON a.pivot_id = b.pivot_id AND a.vec_id < b.vec_id
      WHERE {_R4.format(_sql_cos('a.embedding', 'b.embedding'))} >= 0.35
      GROUP BY b.vec_id, b.pivot_id)
    SELECT vec_id, pivot_id, n_lower_neighbors, max_sim FROM dups
    """,
)
def x236_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.functions.arrays import cosine_similarity
    from video_streamer_spark.functions.parity import round4

    emb = table(spark, sf_dir, "embeddings")
    piv = emb.where(F.col("vec_id") % 127 == 0).select(
        F.col("vec_id").alias("pivot_id"), F.col("embedding").alias("p_emb")
    )
    # assignment: K pivots broadcast against every vector; argmax by
    # (rounded sim DESC, pivot_id ASC) via max(struct(sim, -pivot)).
    # The argmax exchange carries only (vec_id, sim, pivot) — slim
    # rows, K per vector — and the embedding joins back afterwards on
    # vec_id (one co-partitioned join) instead of riding the exchange
    # K times over.
    scored = emb.crossJoin(F.broadcast(piv)).select(
        "vec_id",
        "pivot_id",
        round4(cosine_similarity("embedding", "p_emb")).alias("sim"),
    )
    assigned = (
        scored.groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("sim"), (-F.col("pivot_id")).alias("np")))
            .alias("best")
        )
        .select("vec_id", (-F.col("best.np")).alias("pivot_id"))
        .join(emb.select("vec_id", "embedding"), "vec_id")
    )
    # the self-join consumes the assignment TWICE — persisted, or both
    # sides re-run the K-pivot scoring and the argmax exchange
    from video_streamer_spark.functions.caching import bounded_persist

    assigned = bounded_persist(assigned, "semdedup-assigned")
    a = assigned.select(
        F.col("pivot_id"),
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("emb_a"),
    )
    b = assigned.select(
        F.col("pivot_id"),
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("emb_b"),
    )
    pairs = a.join(b, "pivot_id").where(F.col("id_a") < F.col("vec_id"))
    sims = pairs.select(
        "vec_id",
        "pivot_id",
        round4(cosine_similarity("emb_a", "emb_b")).alias("sim"),
    ).where(F.col("sim") >= 0.35)
    return sims.groupBy("vec_id", "pivot_id").agg(
        F.count("*").cast("bigint").alias("n_lower_neighbors"),
        F.max("sim").alias("max_sim"),
    )
