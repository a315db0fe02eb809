"""Late extension queries (x213+, rounds 7-10): perceptual image-hash
near-dup over decoded pixels; the versioned table's bloom skipping,
tombstone reads, prebuilt zone-map/Z-order reads; the LSH near-pair
scale path under its own oracle; PII scrubbing with byte-exact
redaction parity; the salted skew join, maintenance loop, conflict
rebase, and the change-feed-maintained incremental aggregate view
(x222–x224) each certified semantically invisible/exact by their
oracles — all scale-shaped and DuckDB-oracle checked under the same
exact-integer parity discipline as the rest of the registry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from video_streamer_spark import scratch
from video_streamer_spark.catalog import table
from video_streamer_spark.queries import query
from video_streamer_spark.queries.curation import _R4, _sql_cos


# x213 — IMAGE dHASH NEAR-DUP: the multimodal twin of SimHash dedup.
# Documents are encoded as REAL zlib-deflated PNGs (the compressed-
# container decode path, CRC-checked chunks, per-row filter cycling),
# decoded back to pixel tensors by the pure-numpy PNG parser, and
# difference-hashed over integer luma (r+g+b; bit k = luma[y,x] >
# luma[y,x+1], k = y*7+x at 8x4). Near pairs (hamming <= 3) come from
# pigeonhole banding — 4 bands of 7 bits, so candidate generation is an
# equi-join on (band_id, band_value), never all-pairs; the oracle
# recomputes the hash arithmetically from the text column (PNG decode
# is bit-exactly lossless) and verifies with an all-pairs xor at
# sf0.01 scale. Scale: 8-byte hashes, banded join, bit_count filter on
# bucket collisions only (operators/imagehash.py docstring).
@query(
    "x213_image_dhash_pairs",
    oracle="""
    WITH body AS (
      SELECT doc_id, rpad(substr(text, 1, 96), 96, '.') AS s FROM documents),
    lum AS (
      SELECT doc_id,
        list_transform(range(32), i ->
          ascii(substr(s, 3*i+1, 1)) + ascii(substr(s, 3*i+2, 1))
          + ascii(substr(s, 3*i+3, 1))) AS l
      FROM body),
    h AS (
      SELECT doc_id,
        CAST(list_sum(list_transform(range(28), k ->
          CASE WHEN l[(k // 7) * 8 + (k % 7) + 1]
                  > l[(k // 7) * 8 + (k % 7) + 2]
               THEN 1 << k ELSE 0 END)) AS BIGINT) AS dhash
      FROM lum)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      CAST(bit_count(xor(a.dhash, b.dhash)) AS INT) AS hamming
    FROM h a JOIN h b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= 3
    ORDER BY doc_a, doc_b
    """,
)
def x213_image_dhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators import imagehash, multimodal

    docs = table(spark, sf_dir, "documents")
    frames = multimodal.encode_png_payloads(docs, width=8, height=4)
    hashes = imagehash.dhash_frames(frames, width=8, height=4)
    return imagehash.dhash_near_pairs(hashes, bits=28, max_hamming=3).orderBy(
        "doc_a", "doc_b"
    )


# x214 — BLOOM-PRUNED EQUALITY LOOKUP: data skipping on an UNCLUSTERED
# non-key column of the versioned table, where zone maps are useless
# (o_custkey is hash-scattered by the o_orderkey bucketing, so every
# bucket's [min, max] spans the whole custkey domain). create_table
# declares bloom_cols=["o_custkey"]; each commit maintains a per-bucket
# bloom (xxhash64 double-hashed, Kirsch-Mitzenmacher, no false
# negatives), and read_table_where with lo == hi consults it before
# listing a bucket dir. The probe set mixes present custkeys with an
# absent one, so a wrong skip (false negative) surfaces as a hash
# mismatch against the oracle, which states the same equality filter
# over the raw rows. Scale: the bloom map is manifest metadata
# (buckets x 1 KiB), built by per-task partial blooms OR-folded — the
# probe never scans a bucket the value cannot be in.
@query(
    "x214_bloom_pruned_lookup",
    oracle="""
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM orders
    WHERE o_custkey IN (2, 5, 424242)
    GROUP BY o_custkey
    """,
)
def x214_bloom_pruned_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        read_table_where,
    )

    path = scratch.run_dir(spark, sf_dir, "bloom")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    create_table(
        orders, path, ["o_orderkey"], n_buckets=8, bloom_cols=["o_custkey"]
    )
    parts = [
        read_table_where(spark, path, "o_custkey", lo=v, hi=v)
        for v in (2, 5, 424242)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.groupBy("o_custkey").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0).cast("bigint")
            ).cast("double")
            / 100.0
        ).alias("total_price"),
    )


# x215 — MERGE-ON-READ DELETE (tombstones): the versioned table's
# O(keys) delete path under the oracle. create → delete_keys (a
# tombstone commit: no bucket rewrite, manifest lists grow by one ref)
# → snapshot aggregate; a reader that failed to anti-join the
# tombstones (or wrongly dropped a surviving row) hash-mismatches the
# oracle, which states the same aggregate over the raw rows minus the
# deleted key set. A follow-up merge exercises the partial FOLD (the
# touched bucket rewrites effectively and clears its debt) inside the
# same measured plan. Scale: the delete writes only the key rows —
# Delta deletion-vector / Iceberg delete-file economics, not a
# whole-bucket rewrite per retention pass.
@query(
    "x215_tombstone_delete_read",
    oracle="""
    WITH eff AS (
      SELECT o_orderkey, o_custkey,
        CASE WHEN o_orderkey = 32 THEN -1.0 ELSE o_totalprice END
          AS o_totalprice
      FROM orders
      WHERE o_orderkey % 32 >= 4 OR o_orderkey = 32)
    SELECT CAST(o_orderkey % 8 AS BIGINT) AS key_class,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM eff GROUP BY key_class
    """,
)
def x215_tombstone_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_table,
        read_table,
    )

    path = scratch.run_dir(spark, sf_dir, "tomb")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    create_table(orders, path, ["o_orderkey"], n_buckets=8)
    delete_keys(
        spark,
        path,
        orders.where(F.col("o_orderkey") % 32 < 4).select("o_orderkey"),
    )
    # fold path: re-insert one deleted key with a sentinel price — its
    # bucket rewrites effectively (tombstones folded), the rest stay
    # merge-on-read; both shapes flow into one aggregate
    merge_table(
        spark,
        path,
        spark.createDataFrame(
            [(32, 1, -1.0)], "o_orderkey bigint, o_custkey bigint, o_totalprice double"
        ),
    )
    return read_table(spark, path).groupBy(
        (F.col("o_orderkey") % 8).cast("bigint").alias("key_class")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0).cast("bigint")
            ).cast("double")
            / 100.0
        ).alias("total_price"),
    )


# x216 — ZONE-MAP RANGE READ OVER A PRE-BUILT OPTIMIZED TABLE: the
# steady-state read a warehouse actually pays. The table (orders keyed
# by o_orderkey, 8 buckets, OPTIMIZE value-sorted on o_totalprice with
# per-file zone maps) is built ONCE per session; the measured plan is
# read_table_where's manifest-level file pruning + the pushed residual
# filter + a hash aggregate. A reader that prunes a file it shouldn't
# (stale zone map) or misses the residual filter hash-mismatches the
# oracle, which states the same range aggregate over the raw rows.
# Scale: pruning cost is manifest-sized (file_stats walk), read cost is
# |qualifying files|, never |table| — the property the bench row now
# re-measures every round so manifest-walk overhead can't drift
# silently.
@query(
    "x216_zonemap_range_read",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM orders
    WHERE o_totalprice BETWEEN 50000.0 AND 80000.0
    GROUP BY o_orderpriority
    """,
)
def x216_zonemap_range_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        optimize_table,
        read_table_where,
    )

    def build(path: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        create_table(orders, path, ["o_orderkey"], n_buckets=8)
        optimize_table(spark, path, "o_totalprice", files_per_bucket=4)

    path = scratch.built_dir(spark, sf_dir, "zonemap-orders", build)
    return (
        read_table_where(
            spark, path, "o_totalprice", lo=50000.0, hi=80000.0
        )
        .groupBy("o_orderpriority")
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_rows"),
            F.expr(
                "CAST(SUM(CAST(FLOOR(o_totalprice * 100.0D) AS BIGINT))"
                " AS DOUBLE) / 100.0D AS total_price"
            ),
        )
    )


# x217 — TOMBSTONED SNAPSHOT READ OVER A PRE-BUILT TABLE: the
# merge-on-read price. The table carries delete_keys tombstones for
# every 7th order key (spread across ALL buckets — every bucket's read
# pays the anti-join), and the measured plan is snapshot read + the
# size-gated broadcast anti-join + a hash aggregate. This is the read
# shape whose plan regressed to nine Exchanges once in round 7 before
# review caught it — the bench row makes that class of regression a
# measured number instead of a plan-audit catch.
@query(
    "x217_tombstone_snapshot_read",
    oracle="""
    SELECT CAST(o_orderkey % 8 AS BIGINT) AS key_class,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM orders
    WHERE o_orderkey % 7 <> 0
    GROUP BY key_class
    """,
)
def x217_tombstone_snapshot_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        read_table,
    )

    def build(path: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        # hash distribution (one file per bucket): the measured READ
        # otherwise pays (input tasks × buckets) per-file opens — 96
        # files for a 150k-row table — which benchmarks the loader's
        # write amplification, not the merge-on-read price (guide §6)
        create_table(
            orders, path, ["o_orderkey"], n_buckets=8, distribution="hash"
        )
        delete_keys(
            spark,
            path,
            orders.where(F.col("o_orderkey") % 7 == 0).select("o_orderkey"),
        )

    path = scratch.built_dir(spark, sf_dir, "tombstone-orders", build)
    # string expressions (r14 phase 6): this block was ~145 gateway
    # round-trips of Column builders; the D suffixes keep the literals
    # DOUBLE (bare 100.0 parses as DECIMAL) so the tree is unchanged
    # (plan byte-identity + result hash checked)
    return (
        read_table(spark, path)
        .groupBy(F.expr("CAST(o_orderkey % 8 AS BIGINT) AS key_class"))
        .agg(
            F.expr("CAST(count(*) AS BIGINT) AS n_rows"),
            F.expr(
                "CAST(sum(CAST(FLOOR(o_totalprice * 100.0D) AS BIGINT))"
                " AS DOUBLE) / 100.0D AS total_price"
            ),
        )
    )


# x218 — LSH-BLOCKED NEAR-PAIRS, ORACLE-VERIFIED END TO END: the
# sub-quadratic path embedding_near_pairs' max_exact_rows guard routes
# to (round-7 VERDICT item 4c) finally earns the same driver evidence
# as the exact path it replaces at scale. Candidates are pairs sharing
# any (table_id, bucket) across 8 independent 4-plane sign-hash
# tables; every candidate is re-scored with the exact cosine and cut
# at 0.35 (the corpus' meaningful band — max pairwise cosine is ~0.51,
# same rationale as x05) — precision 1.0 by construction, recall
# governed by the table count. The DuckDB side re-derives the SAME buckets from the
# literal plane rows (lsh_plane_rows: repr() round-trips each float
# bit-exactly) with the SAME left-fold dot order (fold_exact=True on
# the Spark side), so the candidate sets — not just the survivors —
# are provably identical. Scale: shuffle is rows x n_tables bucket
# rows; compare work is sum of squared bucket sizes, never n².
def _x218_oracle() -> str:
    from video_streamer_spark.operators.similarity import lsh_plane_rows

    rows = ",\n      ".join(
        f"({t}, {i}, [{', '.join(repr(float(x)) for x in plane)}])"
        for t, i, plane in lsh_plane_rows(dim=64, n_planes=4, n_tables=8)
    )
    r4 = "CAST(ROUND(CAST(({}) AS DECIMAL(38,12)), 4) AS DOUBLE)"
    cos = (
        "list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[])) / "
        "(sqrt(list_dot_product(CAST(ea.embedding AS DOUBLE[]),"
        " CAST(ea.embedding AS DOUBLE[]))) * "
        "sqrt(list_dot_product(CAST(eb.embedding AS DOUBLE[]),"
        " CAST(eb.embedding AS DOUBLE[]))))"
    )
    return f"""
    WITH planes(table_id, plane_idx, pvec) AS (VALUES
      {rows}),
    buck AS (
      SELECT e.vec_id, p.table_id,
        CAST(SUM(CASE WHEN list_dot_product(
            CAST(e.embedding AS DOUBLE[]), CAST(p.pvec AS DOUBLE[])) >= 0
          THEN 1 << p.plane_idx ELSE 0 END) AS INT) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, p.table_id),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM buck a JOIN buck b
        ON a.table_id = b.table_id AND a.bucket = b.bucket
        AND a.vec_id < b.vec_id),
    scored AS (
      SELECT c.vec_a, c.vec_b, {r4.format(cos)} AS sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b)
    SELECT vec_a, vec_b, sim FROM scored WHERE sim >= 0.35
    """


@query("x218_lsh_near_pairs", oracle=_x218_oracle())
def x218_lsh_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.similarity import (
        embedding_near_pairs_lsh,
    )

    emb = table(spark, sf_dir, "embeddings")
    return embedding_near_pairs_lsh(
        emb,
        dim=64,
        threshold=0.35,
        n_planes=4,
        n_tables=8,
        fold_exact=True,
    )


# x219 — 2-D PREDICATE READ AFTER Z-ORDER OPTIMIZE: the multi-column
# data-skipping story (round-7 VERDICT item 8). optimize_table
# zorder_by=(o_custkey, o_totalprice) rewrites each bucket's files to
# tile the Morton curve of the two range-normalized columns, so EVERY
# file carries a tight zone-map box in BOTH dimensions — a range
# predicate on either column prunes files (the physical assertion
# lives in tests/test_table_format.py::test_zorder_optimize_*), where
# a value-sort would serve only its one sort column. The query states
# BOTH ranges as a conjunctive where= — read_table_where skips every
# file either predicate provably misses, so the scan opens only files
# whose z-curve box intersects the query RECTANGLE; the oracle states
# the same 2-D aggregate over the raw rows, so a wrong skip on either
# dimension hash-mismatches.
@query(
    "x219_zorder_2d_read",
    oracle="""
    SELECT CAST(o_custkey % 16 AS BIGINT) AS cust_class,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM orders
    WHERE o_custkey BETWEEN 10 AND 400
      AND o_totalprice BETWEEN 20000.0 AND 120000.0
    GROUP BY cust_class
    """,
)
def x219_zorder_2d_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        optimize_table,
        read_table_where,
    )

    def build(path: str) -> None:
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        )
        create_table(orders, path, ["o_orderkey"], n_buckets=4)
        optimize_table(
            spark,
            path,
            zorder_by=("o_custkey", "o_totalprice"),
            files_per_bucket=8,
        )

    path = scratch.built_dir(spark, sf_dir, "zorder-orders", build)
    return (
        read_table_where(
            spark,
            path,
            where=[
                ("o_custkey", 10, 400),
                ("o_totalprice", 20000.0, 120000.0),
            ],
        )
        .groupBy(
            (F.col("o_custkey") % 16).cast("bigint").alias("cust_class")
        )
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


# x220 — PII SCRUB AUDIT: the redaction pass every training-data
# pipeline runs before anything ships. The corpus carries no PII by
# construction, so each doc gets a DETERMINISTIC synthetic contact
# line derived from doc_id (same construction stated in both engines —
# the point under test is the regex machinery, not the generator):
# every 3rd doc an email, every 5th a phone (3-3-4, the shape
# PII_PATTERNS['phone'] requires — r8 shipped a 3-4-4 seed that never
# matched, so the <PHONE> path was silently unexercised; ADVICE r9),
# every 7th an IPv4. Counts come from regexp_count ON THE
# PROGRESSIVELY-REDACTED text and the redacted text from sequential
# regexp_replace in a FIXED order (operators/text.PII_ORDER), so each
# n_<kind> equals the number of <KIND> tokens in the output; the
# byte-exact hash compare of `redacted` pins that the same pattern
# means the same thing in Java regex (Spark codegen) and RE2 (DuckDB)
# — the cross-engine subset discipline PII_PATTERNS documents. Scale:
# pure codegen expressions, runs at scan speed, no shuffle until the
# final order-insensitive hash.
@query(
    "x220_pii_scrub_audit",
    oracle="""
    WITH seeded AS (
      SELECT doc_id,
        concat(
          substr(text, 1, 40),
          CASE WHEN doc_id % 3 = 0
            THEN concat(' mail user', CAST(doc_id AS VARCHAR), '@example.com')
            ELSE '' END,
          CASE WHEN doc_id % 5 = 0
            THEN concat(' call 555-', lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0'), '-',
                        lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
            ELSE '' END,
          CASE WHEN doc_id % 7 = 0
            THEN concat(' host 10.0.', CAST(doc_id % 256 AS VARCHAR), '.7')
            ELSE '' END
        ) AS text
      FROM documents),
    s1 AS (
      SELECT doc_id, text,
        regexp_replace(text,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
          '<EMAIL>', 'g') AS t1
      FROM seeded),
    s2 AS (
      SELECT doc_id, text, t1,
        regexp_replace(t1, '\\d{3}[-.]\\d{3}[-.]\\d{4}',
          '<PHONE>', 'g') AS t2
      FROM s1)
    SELECT doc_id,
      CAST(len(regexp_extract_all(text,
        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_email,
      CAST(len(regexp_extract_all(t1,
        '\\d{3}[-.]\\d{3}[-.]\\d{4}')) AS INT) AS n_phone,
      CAST(len(regexp_extract_all(t2,
        '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS INT) AS n_ipv4,
      regexp_replace(t2,
        '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IPV4>', 'g') AS redacted
    FROM s2
    """,
)
def x220_pii_scrub_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import pii_scrub

    docs = table(spark, sf_dir, "documents")
    seeded = docs.select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 40),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" mail user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-"),
                    F.lpad(
                        (F.col("doc_id") % 10000).cast("string"), 4, "0"
                    ),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".7"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return pii_scrub(seeded).select(
        "doc_id", "n_email", "n_phone", "n_ipv4", "redacted"
    )


# x221 — SALTED SKEW JOIN UNDER THE ORACLE: operators/skew.salted_join
# finally earns a driver row (x135 covers salted AGGREGATION; the join
# half had only the bench_skew harness). 150 users own 10k events —
# the hot-key shape where a plain shuffle join serializes a key onto
# one task; the salted form spreads each key over n_salts tasks by
# replicating the (small) customer build side once per salt. The
# oracle states the PLAIN join + aggregate, so the driver's hash check
# certifies the salted plan is semantically invisible — the property
# that makes it safe to reach for at 100 TB when AQE can't re-plan
# (streaming joins, broadcast-ineligible build sides).
@query(
    "x221_salted_skew_join",
    oracle="""
    SELECT c.c_nationkey AS nation,
      CAST(COUNT(*) AS BIGINT) AS n_events,
      CAST(SUM(CAST(floor(e.value * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_value
    FROM events e
    JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY nation
    """,
)
def x221_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.skew import salted_join

    events = table(spark, sf_dir, "events").select(
        F.col("user_id").cast("bigint").alias("user_id"), "value"
    )
    cust = table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    joined = salted_join(events, cust, ["user_id"], n_salts=8)
    return joined.groupBy(
        F.col("c_nationkey").alias("nation")
    ).agg(
        F.count("*").cast("bigint").alias("n_events"),
        (
            F.sum(F.floor(F.col("value") * 100.0).cast("bigint")).cast(
                "double"
            )
            / 100.0
        ).alias("total_value"),
    )


# x222 — MAINTAIN_TABLE CERTIFIED SEMANTICALLY INVISIBLE: the advisor
# loop (analyze_table → maintain_table, round-9) under the oracle, the
# same certification shape x221 gave the salted join. The query builds
# a versioned table, deliberately dirties it (four 1-row merges
# fragment the buckets; a key-class delete builds tombstone debt), runs
# maintain_table — which must CHOOSE to act (the query raises if the
# advisor saw nothing, so the row can never pass vacuously) — and
# returns the post-maintenance snapshot aggregate. The oracle states
# the same aggregate over the raw rows + the construction's inserts
# minus its deletes, so the driver's hash check certifies that
# advisor-recommended compaction/folding changed NOTHING a query can
# observe. Scale: maintenance is the 100 TB story — OPTIMIZE sized off
# measured bucket bytes against a 128 MiB file target, rebucket
# bounded to one step, all layout-only commits.
@query(
    "x222_maintain_invariance",
    oracle="""
    WITH ins AS (
      SELECT -(1 + i) AS o_orderkey, 100.0 + CAST(i AS DOUBLE)
        AS o_totalprice
      FROM range(4) t(i)),
    eff AS (
      SELECT o_orderkey, o_totalprice FROM orders
      WHERE o_orderkey % 16 <> 1
      UNION ALL SELECT * FROM ins)
    SELECT CAST(o_orderkey % 8 AS BIGINT) AS key_class,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM eff GROUP BY key_class
    """,
)
def x222_maintain_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        maintain_table,
        merge_table,
        read_table,
    )

    path = scratch.run_dir(spark, sf_dir, "maint")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    create_table(orders, path, ["o_orderkey"], n_buckets=8)
    for i in range(4):  # fragment: four 1-row commits
        merge_table(
            spark,
            path,
            spark.createDataFrame(
                # NEGATIVE keys: TPC-H orderkeys are positive at every
                # scale factor, so the synthetic inserts can never
                # collide with a real row (at sf>=1.7 a 10M+i key
                # would — review r9). Both engines use C-style
                # remainder, so key_class = -1 groups identically.
                [(-(1 + i), 100.0 + i)],
                "o_orderkey bigint, o_totalprice double",
            ),
        )
    # four separate tombstone commits (union = o_orderkey % 16 == 1, so
    # the oracle stays one predicate): each adds one ref to every
    # bucket, reaching analyze_table's debt threshold (>= half the
    # 8-ref fold cap) so the advisor must recommend a fold
    for j in (1, 17, 33, 49):
        delete_keys(
            spark,
            path,
            orders.where(F.col("o_orderkey") % 64 == j).select(
                "o_orderkey"
            ),
        )
    res = maintain_table(spark, path)
    if not res["actions"]:
        raise RuntimeError(
            "maintain_table saw nothing to do on a deliberately dirty "
            f"table — the certification would be vacuous: {res}"
        )
    return read_table(spark, path).groupBy(
        (F.col("o_orderkey") % 8).cast("bigint").alias("key_class")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0).cast("bigint")
            ).cast("double")
            / 100.0
        ).alias("total_price"),
    )


# x223 — CONFLICT REBASE CERTIFIED SEMANTICALLY EXACT: the round-9
# commit-protocol feature under the oracle (the x221/x222 pattern).
# The query builds a versioned table routed through a FaultyLogStore,
# commits one merge normally, then arms a STALE LISTING so the second
# merge reads the pre-winner version as its base — a deterministic
# version race. The two changesets route to provably different buckets
# (asserted at construction from the same hash the router uses), so
# the loser must land by REBASING its already-written manifest delta
# onto the winner instead of re-running the merge: the query raises
# unless the race actually fired, the rebase landed at version 3, and
# exactly one data dir exists per commit. The oracle states the plain
# union of base + both changesets over raw rows, so the driver's hash
# check certifies a rebased commit is indistinguishable from a clean
# one. Scale: this is the 1000-writer story — disjoint work lands in
# parallel, paying one manifest round instead of a full re-merge.
@query(
    "x223_rebase_invariance",
    oracle="""
    WITH eff AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 8 = 3
      UNION ALL SELECT CAST(-1 AS BIGINT), CAST(11.0 AS DOUBLE)
      UNION ALL SELECT CAST(-2 AS BIGINT), CAST(22.0 AS DOUBLE))
    SELECT CAST(o_orderkey % 4 AS BIGINT) AS key_class,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(o_totalprice * 100.0) AS BIGINT)) AS DOUBLE)
        / 100.0 AS total_price
    FROM eff GROUP BY key_class
    """,
)
def x223_rebase_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from video_streamer_spark.operators.log_store import (
        FaultyLogStore,
        HardLinkLogStore,
        register_log_store,
        unregister_log_store,
    )
    from video_streamer_spark.operators.merge import BUCKET_COL, _bucketed
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
        read_table,
    )

    path = scratch.run_dir(spark, sf_dir, "rebase")
    # keys -1 and -2 route to different 8-bucket homes today; assert it
    # from the router itself so a future hash change fails loudly
    # instead of silently testing the non-rebase path
    routed = {
        r["k"]: r[BUCKET_COL]
        for r in _bucketed(
            spark.createDataFrame([(-1,), (-2,)], "k bigint"), ["k"], 8
        ).collect()
    }
    if routed[-1] == routed[-2]:
        raise RuntimeError(
            "keys -1/-2 now share a bucket; pick disjoint keys or the "
            f"race below stops exercising the rebase: {routed}"
        )
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    store = FaultyLogStore(HardLinkLogStore())
    register_log_store(path, store)
    try:
        create_table(
            orders.where(F.col("o_orderkey") % 8 == 3),
            path,
            ["o_orderkey"],
            n_buckets=8,
        )
        merge_table(  # the winner
            spark,
            path,
            spark.createDataFrame(
                [(-1, 11.0)], "o_orderkey bigint, o_totalprice double"
            ),
        )
        n_dirs = len(os.listdir(os.path.join(path, "data")))
        store.arm("stale_list")  # the loser reads v1 as current
        v = merge_table(
            spark,
            path,
            spark.createDataFrame(
                [(-2, 22.0)], "o_orderkey bigint, o_totalprice double"
            ),
        )
        if v != 3 or not any(k == "stale_list" for k, _ in store.fired):
            raise RuntimeError(
                f"the race never fired (v={v}, fired={store.fired}) — "
                "the rebase certification would be vacuous"
            )
        if len(os.listdir(os.path.join(path, "data"))) != n_dirs + 1:
            raise RuntimeError(
                "the rebased commit wrote more than one data dir — the "
                "merge re-ran instead of rebasing"
            )
        out = read_table(spark, path)
    finally:
        unregister_log_store(path)
    return out.groupBy(
        (F.col("o_orderkey") % 4).cast("bigint").alias("key_class")
    ).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0).cast("bigint")
            ).cast("double")
            / 100.0
        ).alias("total_price"),
    )


# x224 — CDF-DRIVEN INCREMENTAL AGGREGATE VIEW: the loop between the
# versioned table (x210–x219) and incremental view maintenance (x204)
# closed through the change feed itself. A per-priority revenue
# aggregate is materialized against snapshot v1, two merge commits
# mutate the table (the x211 scenario: deletes, doubled updates,
# inserts later bumped), and the view is brought current WITHOUT
# re-reading the table: table_changes(v1, v3, include_preimages=True)
# emits the Delta-style four-type feed, and the maintained view is
# base + sum(signed contribution) — +1/+cents for insert and
# update_postimage, -1/-cents for delete and update_preimage. The
# oracle computes the FINAL state closed-form from the raw rows, so
# any defect in the feed (a missed pre-image, a no-op update leaking
# through, a carried-over row classified as a change) lands as a
# value mismatch, not a plausible-looking view. Contributions are
# quantized to integer cents per row BEFORE summing, so base + delta
# is bit-equal to recompute regardless of accumulation order. Scale:
# the delta reads only buckets some commit actually rewrote
# (manifest-level pruning) — at 100 TB the view refresh costs the
# churn, not the table, which is the entire point of maintaining a
# view incrementally.
@query(
    "x224_cdf_incremental_agg",
    oracle="""
    WITH o AS (SELECT o_orderkey, o_orderpriority,
                      CAST(o_totalprice AS DOUBLE) AS price FROM orders),
    final AS (
      SELECT o_orderpriority,
        CASE WHEN o_orderkey % 16 = 8 THEN price * 2.0 ELSE price END
          AS price
      FROM o WHERE o_orderkey % 4 = 0 AND o_orderkey % 16 <> 0
      UNION ALL
      SELECT o_orderpriority, price + 1000.0 AS price
      FROM o WHERE o_orderkey % 4 = 1)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total_price
    FROM final GROUP BY o_orderpriority
    """,
)
def x224_cdf_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_table,
        read_table,
        table_changes,
    )

    path = scratch.run_dir(spark, sf_dir, "ivm")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("o_totalprice"),
    )
    create_table(
        orders.where("o_orderkey % 4 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    # commit 2: delete %16=0, double %16=8, no-op-update the rest of
    # %4=0 (must contribute NOTHING to the delta), insert %4=1
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
    # commit 3: bump every inserted key — the view must net base+1000.
    # NOTE: this only exercises pre-image subtraction because the feed
    # below is read as TWO windows (1→2, 2→3): an endpoint diff
    # table_changes(1, 3) would collapse insert-then-update into a
    # single 'insert' at the final value and never emit the pre-image
    # (the r10 advisor's catch).
    cs2 = (
        orders.where("o_orderkey % 4 = 1")
        .withColumn("__op", F.lit("U"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0)
    )
    merge_table(spark, path, cs2)

    cents = F.floor(F.col("o_totalprice") * 100.0).cast("bigint")
    base = (
        read_table(spark, path, version=1)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.sum(cents).alias("cents"),
        )
    )
    from video_streamer_spark.sources.cdf_source import signed_contribution

    # two per-commit windows, not one endpoint diff: the signed fold
    # is linear, so summing both windows equals the 1→3 diff — but the
    # 2→3 window emits commit 2's insert values as update_preimage
    # rows, pinning the subtraction path the endpoint diff never hits
    feed = table_changes(spark, path, 1, 2, include_preimages=True).unionByName(
        table_changes(spark, path, 2, 3, include_preimages=True)
    )
    sign = signed_contribution()
    delta = feed.groupBy("o_orderpriority").agg(
        F.sum(sign).alias("dn"),
        F.sum(sign * cents).alias("dcents"),
    )
    return (
        base.join(delta, "o_orderpriority", "full_outer")
        .select(
            "o_orderpriority",
            (
                F.coalesce(F.col("n"), F.lit(0))
                + F.coalesce(F.col("dn"), F.lit(0))
            )
            .cast("bigint")
            .alias("n_rows"),
            (
                (
                    F.coalesce(F.col("cents"), F.lit(0))
                    + F.coalesce(F.col("dcents"), F.lit(0))
                ).cast("double")
                / 100.0
            ).alias("total_price"),
        )
        .where(F.col("n_rows") > 0)
    )


# x225 — MIN/MAX VIEW BY RECOMPUTE-DIRTY-GROUPS: the complementary IVM
# operator to x224's signed fold, for aggregates with NO inverse (the
# r10 verdict's capability gap). A per-priority (n_rows, min, max)
# price view is maintained across three commits — the middle one
# DELETES each group's argmax row, the exact mutation signed
# arithmetic cannot absorb: a folded view would keep the dead maximum
# forever, silently. Instead each pass marks the feed's touched group
# keys dirty and re-aggregates ONLY those groups against the current
# snapshot (zone-map-enveloped read + broadcast semi-join); clean
# groups keep their materialized values, and a pass runs after EVERY
# commit so the incremental path (not one final recompute) is what the
# oracle checks. The third commit MOVES keys between groups, so the
# old group's freshness rides entirely on the feed's update_preimage
# rows dirtying it. The oracle computes the final state closed-form
# from the raw rows (same argmax tiebreak), so a stale extremum, a
# missed pre-image, or an undeleted emptied group lands as a value
# mismatch. Scale: refresh cost is (churned groups' data) + one
# churn-sized broadcast — never a corpus-wide re-aggregate.
@query(
    "x225_minmax_dirty_groups",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 4 = 0),
    dropped AS (
      SELECT o_orderkey FROM (
        SELECT o_orderkey, ROW_NUMBER() OVER (
          PARTITION BY o_orderpriority
          ORDER BY price DESC, o_orderkey) AS rn FROM base)
      WHERE rn = 1),
    final AS (
      SELECT CASE WHEN o_orderkey % 16 = 4 THEN '9-MOVED'
                  ELSE o_orderpriority END AS o_orderpriority,
             price
      FROM base
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM dropped))
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(price) AS min_price, MAX(price) AS max_price
    FROM final GROUP BY o_orderpriority
    """,
)
def x225_minmax_dirty_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_table,
        read_table,
    )
    from video_streamer_spark.streaming.agg_view import (
        create_minmax_view,
        run_minmax_view_pass,
    )

    root = scratch.run_dir(spark, sf_dir, "minmax")
    src, view, ckpt = f"{root}/src", f"{root}/view", f"{root}/ckpt"

    base = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    ).where("o_orderkey % 4 = 0")
    create_table(base, src, ["o_orderkey"], n_buckets=8)
    create_minmax_view(view, ["o_orderpriority"], ["price"], base, n_buckets=8)

    def one_pass() -> None:
        run_minmax_view_pass(
            spark, src, view, ["o_orderpriority"], ["price"], ckpt
        )

    one_pass()  # v1: every group dirty, initial materialization

    # commit 2: delete each group's argmax row (price DESC, key ASC
    # tiebreak — mirrored in the oracle) — the extremum delete a
    # signed fold cannot absorb
    rn = F.row_number().over(
        Window.partitionBy("o_orderpriority").orderBy(
            F.col("price").desc(), F.col("o_orderkey")
        )
    )
    argmax = (
        base.withColumn("rn", rn).where("rn = 1").select("o_orderkey")
    )
    delete_keys(spark, src, argmax)
    one_pass()

    # commit 3: move surviving %16=4 keys to a brand-new group — the
    # OLD groups' refresh rides on the feed's update_preimage rows
    movers = (
        read_table(spark, src)
        .where("o_orderkey % 16 = 4")
        .withColumn("o_orderpriority", F.lit("9-MOVED"))
        .withColumn("__op", F.lit("U"))
    )
    merge_table(spark, src, movers)
    one_pass()

    return read_table(spark, view).select(
        "o_orderpriority",
        "n_rows",
        F.col("min_price").alias("min_price"),
        F.col("max_price").alias("max_price"),
    )


# x226 — CONDITIONAL MERGE (MERGE INTO): the Delta-style three-clause
# upsert compiled onto the changeset protocol. The reference's sink is
# add-only (gst-detection-tf.py:339-344 pushes detections into VDMS,
# never corrects them); a training-data pipeline at 100 TB needs the
# correction surface — label fixes, late-arriving dedup verdicts,
# retention deletes — priced as churn. merge_into classifies the
# source against ONE pinned snapshot by reading ONLY the buckets the
# source keys route to (read_table_for_keys — a k-key classification
# against a 100 TB table touches at most k buckets), applies SQL
# clause expressions over s./t. row aliases, and lands everything in
# one atomic commit; a concurrent disjoint winner rebases, an
# overlapping one re-raises. The oracle computes the final state
# closed-form (the delete / update / conditioned-insert arithmetic
# restated in SQL), so a mis-classified row, a clause applied to the
# wrong side, or a lost carried column is a value mismatch.
@query(
    "x226_merge_into_clauses",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 4 = 0),
    kept AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 8 = 0 THEN price * 2.0
                  ELSE price END AS price
      FROM base WHERE o_orderkey % 16 <> 4),
    ins AS (
      SELECT o_orderpriority,
             CAST(o_totalprice AS DOUBLE) + 5000.0 AS price
      FROM orders WHERE o_orderkey % 8 = 1),
    final AS (SELECT * FROM kept UNION ALL SELECT * FROM ins)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total_price
    FROM final GROUP BY o_orderpriority
    """,
)
def x226_merge_into_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_into,
        read_table,
    )

    path = scratch.run_dir(spark, sf_dir, "mergeinto")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table(
        orders.where("o_orderkey % 4 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    # one source, three clauses: matched %16=4 rows delete; matched
    # %8=0 rows double additively (t.price + s.price with s == base
    # value); everything else matched carries over untouched; the
    # unmatched side (%4 in 1,2,3) inserts only %8=1 at price+5000
    src = orders.where("o_orderkey % 4 IN (0, 1)").withColumn(
        "price",
        F.when(
            F.col("o_orderkey") % 4 == 1, F.col("price") + 5000.0
        ).otherwise(F.col("price")),
    )
    merge_into(
        spark,
        path,
        src,
        when_matched_update={"price": "t.price + s.price"},
        when_matched_update_condition="s.o_orderkey % 8 = 0",
        when_matched_delete_condition="s.o_orderkey % 16 = 4",
        when_not_matched_insert="all",
        when_not_matched_insert_condition="s.o_orderkey % 8 = 1",
    )
    cents = F.floor(F.col("price") * 100.0).cast("bigint")
    return (
        read_table(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        )
    )


# x227 — SHALLOW CLONE + COPY-ON-WRITE DIVERGENCE: the zero-copy
# branch (Delta's SHALLOW CLONE) certified by aggregating BOTH tables
# after they diverge. The clone's v1 is one manifest write whose data
# refs point absolutely into the source layout; a merge on the clone
# localizes only its touched buckets, and a delete on the SOURCE after
# the clone cannot reach it (the clone's refs pin immutable dirs the
# source's new manifests merely stop referencing). The result unions
# per-priority aggregates of the diverged tables under a `side` tag,
# and the oracle restates both sides closed-form from the raw rows —
# a clone that leaked a source mutation, a COW that dropped a carried
# bucket, or an absolute ref resolved against the wrong root each land
# as a value mismatch on one specific side. Scale: cloning a 100 TB
# table costs one manifest write; the branch pays only for what it
# changes.
@query(
    "x227_clone_divergence",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 4 = 0),
    src_final AS (
      SELECT o_orderpriority, price FROM base WHERE o_orderkey % 16 <> 8),
    clone_final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 16 = 0 THEN price * 2.0
                  ELSE price END AS price
      FROM base
      UNION ALL
      SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) + 2000.0
      FROM orders WHERE o_orderkey % 4 = 1),
    tagged AS (
      SELECT 'source' AS side, * FROM src_final
      UNION ALL
      SELECT 'clone' AS side, * FROM clone_final)
    SELECT side, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total_price
    FROM tagged GROUP BY side, o_orderpriority
    """,
)
def x227_clone_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        clone_table,
        create_table,
        delete_keys,
        merge_table,
        read_table,
    )

    root = scratch.run_dir(spark, sf_dir, "clone")
    src, dst = f"{root}/src", f"{root}/clone"

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    base = orders.where("o_orderkey % 4 = 0")
    create_table(base, src, ["o_orderkey"], n_buckets=8)
    clone_table(src, dst)

    # diverge the CLONE: double %16=0 prices, insert the %4=1 keys
    merge_table(
        spark,
        dst,
        base.where("o_orderkey % 16 = 0")
        .withColumn("price", F.col("price") * 2.0)
        .withColumn("__op", F.lit("U"))
        .unionByName(
            orders.where("o_orderkey % 4 = 1")
            .withColumn("price", F.col("price") + 2000.0)
            .withColumn("__op", F.lit("I"))
        ),
    )
    # diverge the SOURCE after the clone: delete %16=8 — the clone's
    # pinned refs must not see it
    delete_keys(
        spark, src, base.where("o_orderkey % 16 = 8").select("o_orderkey")
    )

    cents = F.floor(F.col("price") * 100.0).cast("bigint")

    def agg(p: str, side: str) -> DataFrame:
        return (
            read_table(spark, p)
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").cast("bigint").alias("n_rows"),
                (F.sum(cents).cast("double") / 100.0).alias("total_price"),
            )
            .select(
                F.lit(side).alias("side"),
                "o_orderpriority",
                "n_rows",
                "total_price",
            )
        )

    return agg(src, "source").unionByName(agg(dst, "clone"))


# x228 — RESTORE THEN DIVERGE: time travel made actionable (Delta's
# RESTORE TO VERSION) and certified by the final state. A bad-commit
# story in four commits: create → a "bad" doubling update → a "bad"
# delete → restore_table back to v1 — a metadata-only commit that
# repoints at v1's immutable dirs (no data moves, the bad commits stay
# in history for audit) — then a legitimate post-restore update lands
# on top. The oracle states the final table closed-form from the raw
# rows as if the bad commits never happened plus the post-restore
# update; a restore that leaked either bad commit (a doubled price, a
# missing %16=8 row) or lost the follow-up mutation is a value
# mismatch. The feed across a restore is diffed by CONTENT, including
# deleted keys COMING BACK (pinned in tests — the one shape the
# append-only tombstone shortcut cannot express). Scale: restoring a
# 100 TB table is one manifest write.
@query(
    "x228_restore_divergence",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 4 = 0),
    final AS (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey % 8 = 4 THEN price + 1000.0
                  ELSE price END AS price
      FROM base)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total_price
    FROM final GROUP BY o_orderpriority
    """,
)
def x228_restore_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_table,
        read_table,
        restore_table,
    )

    path = scratch.run_dir(spark, sf_dir, "restore")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    base = orders.where("o_orderkey % 4 = 0")
    create_table(base, path, ["o_orderkey"], n_buckets=8)  # v1
    # two "bad" commits the restore must fully revert
    merge_table(
        spark,
        path,
        base.where("o_orderkey % 16 = 0")
        .withColumn("price", F.col("price") * 2.0)
        .withColumn("__op", F.lit("U")),
    )  # v2
    delete_keys(
        spark, path, base.where("o_orderkey % 16 = 8").select("o_orderkey")
    )  # v3
    restore_table(path, 1)  # v4 == v1 content
    # legitimate post-restore work lands on the restored base
    merge_table(
        spark,
        path,
        base.where("o_orderkey % 8 = 4")
        .withColumn("price", F.col("price") + 1000.0)
        .withColumn("__op", F.lit("U")),
    )  # v5
    cents = F.floor(F.col("price") * 100.0).cast("bigint")
    return (
        read_table(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        )
    )


# x229 — TRAINING-SEQUENCE PACKING: the LLM-pipeline "sample packing"
# step (fill fixed-capacity training sequences with whole documents so
# batch tokens aren't wasted on padding). Greedy first-fit over each
# lang stream in doc_id order — order-defined, hence sequential PER
# STREAM and parallel ACROSS streams (one grouped-map Arrow task per
# stream; production uses a (source, shard) stream key so no task
# exceeds a shard). The oracle re-derives the identical assignment
# with a recursive CTE walking each stream row-by-row — the strongest
# available check for an order-defined algorithm: any divergence in
# the overflow rule, the ordering, or a lost document shifts every
# later sequence id and lands as a value mismatch. Token counts use
# the corpus-wide tokenizer contract (split on single space, drop
# empties — the same rule as operators/dedup.tokens_col).
@query(
    "x229_sequence_packing",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, lang,
        CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
          AS BIGINT) AS n
      FROM documents),
    ord AS (
      SELECT lang, doc_id, n,
        ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM toks),
    packed AS (
      SELECT lang, rn, n, CAST(0 AS BIGINT) AS seq_id, n AS fill
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.lang, o.rn, o.n,
        CASE WHEN p.fill > 0 AND p.fill + o.n > 512
             THEN p.seq_id + 1 ELSE p.seq_id END,
        CASE WHEN p.fill > 0 AND p.fill + o.n > 512
             THEN o.n ELSE p.fill + o.n END
      FROM packed p JOIN ord o ON o.lang = p.lang AND o.rn = p.rn + 1)
    SELECT lang, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n) AS BIGINT) AS seq_tokens
    FROM packed GROUP BY lang, seq_id
    """,
)
def x229_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col
    from video_streamer_spark.operators.grouped import pack_sequences

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(docs, capacity=512, stream_col="lang")
    return (
        packed.groupBy("stream", "seq_id")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
        )
        .select(
            F.col("stream").alias("lang"), "seq_id", "n_docs", "seq_tokens"
        )
    )


# x230 — SNAPSHOT SYNC: make the table exactly equal an arbitrary
# source frame in one atomic commit (the CDC mirror job; Delta's WHEN
# NOT MATCHED BY SOURCE THEN DELETE). Classification is one full
# key+fingerprint scan BY DEFINITION (absence is a table-wide
# property), but the COMMIT is churn-priced: both sides fingerprint
# (md5 over the full row) and only genuinely-different rows enter the
# changeset — carried-identical rows never rewrite their buckets, an
# unchanged re-sync commits nothing, and pure-delete buckets tombstone
# instead of rewriting. The wipe guard (max_delete_fraction) refuses
# the truncated-extract catastrophe. The oracle states the final
# mirror closed-form; a leaked carried row, a missed delete, or a
# fingerprint collision on a changed row is a value mismatch.
@query(
    "x230_snapshot_sync",
    oracle="""
    WITH src AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderkey % 16 = 8
                  THEN CAST(o_totalprice AS DOUBLE) * 2.0
                  WHEN o_orderkey % 4 = 1
                  THEN CAST(o_totalprice AS DOUBLE) + 3000.0
                  ELSE CAST(o_totalprice AS DOUBLE) END AS price
      FROM orders
      WHERE o_orderkey % 4 IN (0, 1) AND o_orderkey % 16 <> 0)
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total_price
    FROM src GROUP BY o_orderpriority
    """,
)
def x230_snapshot_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        read_table,
        sync_table,
    )

    path = scratch.run_dir(spark, sf_dir, "sync")

    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table(
        orders.where("o_orderkey % 4 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    # the mirror: drop %16=0, double %16=8, keep the rest of %4=0
    # byte-identical (must NOT rewrite), add %4=1 at price+3000
    src = (
        orders.where("o_orderkey % 4 IN (0, 1) AND o_orderkey % 16 <> 0")
        .withColumn(
            "price",
            F.when(F.col("o_orderkey") % 16 == 8, F.col("price") * 2.0)
            .when(F.col("o_orderkey") % 4 == 1, F.col("price") + 3000.0)
            .otherwise(F.col("price")),
        )
    )
    sync_table(spark, path, src)
    cents = F.floor(F.col("price") * 100.0).cast("bigint")
    return (
        read_table(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            (F.sum(cents).cast("double") / 100.0).alias("total_price"),
        )
    )


# x231 — TOKEN-WINDOW CHUNKING: split each document into overlapping
# token windows (size 32, stride 16) — the RAG/embedding-prep step
# between cleaning and encoding. Entirely built-in expressions
# (split → sequence of start offsets → slice per window), so it runs
# at scan speed inside whole-stage codegen with ZERO shuffles before
# the final presentation aggregate — the 100 TB shape is "explode in
# place, never move". Every document yields at least one (possibly
# short) window, windows step by stride until the last full window's
# start, and each window is certified by md5 over its joined tokens —
# the oracle re-derives every window with DuckDB list slicing, so an
# off-by-one in start offsets, slice length, or the tail rule is a
# hash mismatch on specific rows, not a plausible count.
@query(
    "x231_token_window_chunks",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    starts AS (
      SELECT doc_id, t,
             unnest(range(1, greatest(len(t) - 32 + 1, 1) + 1, 16))
               AS s
      FROM toks),
    chunks AS (
      SELECT doc_id,
             CAST((s - 1) / 16 AS BIGINT) AS chunk_idx,
             t[s : s + 31] AS w
      FROM starts)
    SELECT doc_id, chunk_idx,
           CAST(len(w) AS BIGINT) AS n_tokens,
           md5(array_to_string(w, ' ')) AS chunk_md5
    FROM chunks
    """,
)
def x231_token_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col

    W, S = 32, 16
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", tokens_col("text").alias("t")
    )
    starts = docs.select(
        "doc_id",
        "t",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.size("t") - F.lit(W - 1), F.lit(1)),
                F.lit(S),
            )
        ).alias("s"),
    )
    return starts.select(
        "doc_id",
        ((F.col("s") - 1) / S).cast("bigint").alias("chunk_idx"),
        F.size(F.slice("t", F.col("s"), W)).cast("bigint").alias("n_tokens"),
        F.md5(F.array_join(F.slice("t", F.col("s"), W), " ")).alias(
            "chunk_md5"
        ),
    )


# x232 — SQL-STATEMENT SURFACE (round-11 VERDICT item 3): the
# management statements a table user actually types — MERGE INTO,
# SELECT … VERSION AS OF, RESTORE TABLE … TO VERSION, DESCRIBE
# HISTORY — driven through operators/table_sql.py's grammar-limited
# translator onto the existing operators, end-to-end in one driver
# row. The translator parses only the statement SKELETON (loud
# TableSqlError outside the grammar); Spark SQL parses every clause
# condition and SET/VALUES expression, so the MERGE below exercises
# real expression translation, not string matching. The oracle
# restates the whole session closed-form: the v1/v2 snapshot
# aggregates (same arithmetic as x226's clause oracle), the
# after-RESTORE state (== v1, proving the restore repointed rather
# than re-merged), and the history classification as literals — a
# mistranslated clause, a version pin read against the wrong
# snapshot, or a misclassified history row each land as a value
# mismatch. Scale: DESCRIBE/RESTORE are metadata-priced, the MERGE is
# churn-priced, and VERSION AS OF is a plain manifest-pinned scan —
# every statement here is safe against a 100 TB production table.
# Reference contrast: gst-detection-tf.py has no query surface at all;
# its pipeline is reconfigured by editing Python.
@query(
    "x232_table_sql_statements",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 4 = 0),
    v2 AS (
      SELECT CASE WHEN o_orderkey % 8 = 0 THEN price * 2.0
                  ELSE price END AS price
      FROM base WHERE o_orderkey % 16 <> 4
      UNION ALL
      SELECT CAST(o_totalprice AS DOUBLE) + 5000.0
      FROM orders WHERE o_orderkey % 8 = 1)
    SELECT 'v1' AS tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total,
      CAST(NULL AS VARCHAR) AS op
    FROM base
    UNION ALL
    SELECT 'v2', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0,
      CAST(NULL AS VARCHAR)
    FROM v2
    UNION ALL
    SELECT 'cur', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0,
      CAST(NULL AS VARCHAR)
    FROM base
    UNION ALL
    SELECT 'hist', CAST(h.v AS BIGINT), CAST(NULL AS DOUBLE), h.op
    FROM (VALUES (1, 'create'), (2, 'merge'), (3, 'restore'))
      AS h(v, op)
    """,
)
def x232_table_sql_statements(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "tablesql")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    create_table(
        orders.where("o_orderkey % 4 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    T = {"dets": path}
    S = {"chg": orders.where("o_orderkey % 4 IN (0, 1)")}
    table_sql(
        spark,
        """
        MERGE INTO dets AS t USING chg AS s ON s.o_orderkey = t.o_orderkey
        WHEN MATCHED AND s.o_orderkey % 16 = 4 THEN DELETE
        WHEN MATCHED AND s.o_orderkey % 8 = 0 THEN
          UPDATE SET price = t.price + s.price
        WHEN NOT MATCHED AND s.o_orderkey % 8 = 1 THEN
          INSERT (o_orderkey, price) VALUES (s.o_orderkey, s.price + 5000.0)
        """,
        T,
        sources=S,
    )
    table_sql(spark, "RESTORE TABLE dets TO VERSION AS OF 1", T)

    def agg(tag: str, suffix: str) -> DataFrame:
        return table_sql(
            spark,
            f"""
            SELECT '{tag}' AS tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS DOUBLE)
                / 100.0 AS total,
              CAST(NULL AS STRING) AS op
            FROM dets{suffix}
            """,
            T,
        )
    hist = (
        table_sql(spark, "DESCRIBE HISTORY dets", T)
        .select(
            F.lit("hist").alias("tag"),
            F.col("version").cast("bigint").alias("n_rows"),
            F.lit(None).cast("double").alias("total"),
            F.col("op"),
        )
    )
    return (
        agg("v1", " VERSION AS OF 1")
        .unionByName(agg("v2", " VERSION AS OF 2"))
        .unionByName(agg("cur", ""))
        .unionByName(hist)
    )


# x233 — END-TO-END STREAMING CURATION PIPELINE (round-11 VERDICT item
# 7): the round's pieces composed into the deployment shape a real
# curation loop runs — a file-source FRAME STREAM (3 micro-batches,
# maxFilesPerTrigger=1) flows through the mapInPandas inference
# operator (O12) INSIDE the stream, each epoch MERGE-INTO-inserts its
# detections into a versioned table under a per-epoch idempotency key
# (exactly-once end state under replay), a label-correction MERGE and
# a retention DELETE then mutate the table, and a min/max aggregate
# view maintains itself from the change feed alone (two incremental
# passes over one checkpoint: the second window carries the relabel's
# update_preimage rows — the dirty-old-group path — and the extremum
# deletes no signed fold could absorb). Every piece is proven alone
# (x13/x94/x224–x226); this row certifies the COMPOSITION, value-exact:
# the oracle re-derives the stub model, the relabel arithmetic, the
# retention filter, and the final per-label (n_rows, min, max)
# closed-form from raw documents — a lost epoch, a replayed double
# insert, a stale view group, or a feed row misclassified anywhere in
# the chain lands as a value mismatch. Scale: the stream is
# churn-priced end to end (each epoch touches only its routed buckets;
# each view pass reads only dirty groups), which is the 100 TB shape.
# Reference contrast: this is gst-detection-tf.py's whole pipeline
# role (source → infer → store, lines 288-400) plus the correction
# and serving surfaces the reference's add-only VDMS sink lacks.
@query(
    "x233_streaming_curation_pipeline",
    oracle="""
    WITH pay AS (
      SELECT doc_id AS frame_id,
        CAST(list_sum(list_transform(string_split(text, ''),
                                     c -> ascii(c))) AS BIGINT) AS s
      FROM documents),
    boxes AS (
      SELECT frame_id,
        CAST(1 + ((s + i*31) % 80) AS INT) AS label_id,
        ((s*13 + i*41) % 100) / 100.0 AS score
      FROM pay, (SELECT unnest([0,1,2]) AS i) ii
      WHERE i < (s % 3) + 1),
    final AS (
      SELECT CASE WHEN label_id % 20 = 0 THEN label_id + 1
                  ELSE label_id END AS label_id,
             score
      FROM boxes WHERE score > 0.2)
    SELECT CAST(label_id AS INT) AS label_id,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           MIN(score) AS min_score, MAX(score) AS max_score
    FROM final GROUP BY label_id
    """,
)
def x233_streaming_curation_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.inference import (
        DETECTION_SCHEMA,
        infer_detections,
    )
    from video_streamer_spark.operators.multimodal import (
        documents_as_payloads,
    )
    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_into,
        read_table,
    )
    from video_streamer_spark.streaming.agg_view import (
        create_minmax_view,
        run_minmax_view_pass,
    )
    from video_streamer_spark.streaming.drain import drain_or_raise
    from video_streamer_spark.streaming.pipeline import stream_dir

    root = scratch.run_dir(spark, sf_dir, "curation")
    frames_dir = f"{root}/frames"
    det, view, ckpt = f"{root}/det", f"{root}/view", f"{root}/ckpt"

    # frames arrive as 3 files == 3 micro-batches (deterministic split
    # by id; a rate source would make the row set time-dependent)
    frames = documents_as_payloads(
        table(spark, sf_dir, "documents")
    ).withColumnRenamed("doc_id", "frame_id")
    for i in range(3):
        frames.where(F.col("frame_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(frames_dir)

    # empty versioned table up front so EVERY epoch takes the same
    # idempotent merge path (no special-cased first commit)
    template = spark.createDataFrame([], DETECTION_SCHEMA)
    create_table(template, det, ["frame_id", "box_idx"], n_buckets=8)
    create_minmax_view(view, ["label_id"], ["score"], template, n_buckets=4)

    stream = stream_dir(
        spark, frames_dir, frames.schema, max_files_per_trigger=1
    )
    detections = infer_detections(stream)  # O12 inside the stream

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        merge_into(
            batch_df.sparkSession,
            det,
            batch_df,
            when_not_matched_insert="all",
            idempotency_key=f"{ckpt}:ins:{epoch_id}",
        )

    q = (
        detections.writeStream.foreachBatch(sink)
        .option("checkpointLocation", f"{ckpt}/ingest")
        .trigger(availableNow=True)
        .start()
    )
    drain_or_raise(q, 300, "x233_ingest")

    def one_pass() -> None:
        run_minmax_view_pass(
            spark, det, view, ["label_id"], ["score"], f"{ckpt}/view"
        )

    one_pass()  # materialize from the insert commits

    # label correction: MERGE moves every %20==0 label to its successor
    # (group-moving update — the preimage-dirty path in the next pass)
    movers = read_table(spark, det).where("label_id % 20 = 0").select(
        "frame_id", "box_idx"
    )
    merge_into(
        spark,
        det,
        movers,
        when_matched_update={"label_id": "t.label_id + 1"},
    )
    # retention: drop low-score detections — extremum deletes the view
    # can only absorb by recomputing the dirty groups
    delete_keys(
        spark,
        det,
        read_table(spark, det).where("score <= 0.2").select(
            "frame_id", "box_idx"
        ),
    )
    one_pass()  # incremental window: relabel + deletes only

    return read_table(spark, view).select(
        F.col("label_id").cast("int").alias("label_id"),
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("min_score").alias("min_score"),
        F.col("max_score").alias("max_score"),
    )


# x234 — DML + TIME-TRAVEL STATEMENTS (round 12, extending x232): the
# remaining statements a table user types — UPDATE … SET … WHERE,
# DELETE FROM … WHERE, OPTIMIZE … SORT BY, and TIMESTAMP AS OF reads
# (manifests now carry retry-stable ``committed_at`` stamps; the
# resolver picks the latest version at-or-before the timestamp, Delta's
# rule) — driven through operators/table_sql.py. UPDATE compiles to a
# pinned-snapshot 'U' changeset carrying the FULL bucket read set
# (sync_table's serializable posture: the WHERE scan classified every
# bucket); DELETE compiles to merge-on-read tombstones; OPTIMIZE is in
# the chain to prove layout maintenance is invisible through the
# statement surface too. The oracle restates all three states
# closed-form; the TIMESTAMP AS OF row resolving to the wrong version
# (off-by-one in the stamp rule, a copied-manifest timestamp
# inherited) would land as a value mismatch on the 'upd' tag. Scale:
# UPDATE is churn-priced (only matched buckets rewrite), DELETE is
# metadata+keys, timestamp resolution is one manifest read per
# retained version.
@query(
    "x234_dml_time_travel_statements",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 3 = 0),
    upd AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 9 = 0 THEN price * 2.0
                  ELSE price END AS price
      FROM base),
    final AS (SELECT * FROM upd WHERE o_orderkey % 6 <> 3)
    SELECT 'v1' AS tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total
    FROM base
    UNION ALL
    SELECT 'upd', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
    FROM upd
    UNION ALL
    SELECT 'cur', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
    FROM final
    """,
)
def x234_dml_time_travel_statements(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import time as _time

    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "dmlsql")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    create_table(
        orders.where("o_orderkey % 3 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    T = {"tt": path}
    table_sql(
        spark, "UPDATE tt SET price = price * 2.0 WHERE o_orderkey % 9 = 0", T
    )
    t_after_update = _time.time()
    _time.sleep(0.02)  # the next commit must stamp strictly later
    table_sql(spark, "DELETE FROM tt WHERE o_orderkey % 6 = 3", T)
    table_sql(spark, "OPTIMIZE tt SORT BY price", T)  # invisible

    def agg(tag: str, suffix: str) -> DataFrame:
        return table_sql(
            spark,
            f"""
            SELECT '{tag}' AS tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS DOUBLE)
                / 100.0 AS total
            FROM tt{suffix}
            """,
            T,
        )

    return (
        agg("v1", " VERSION AS OF 1")
        .unionByName(agg("upd", f" TIMESTAMP AS OF '{t_after_update}'"))
        .unionByName(agg("cur", ""))
    )


# x235 — BENCHMARK CONTAMINATION CHECK: the eval-leakage scan every
# serious training-data pipeline runs before a model sees the corpus
# (deduplicating-training-data / GPT-3 appendix-C style): flag corpus
# documents sharing any word-8-gram with a held-out benchmark set.
# The benchmark here is the deterministic doc_id % 50 == 0 slice (≈2%)
# so both engines rebuild the identical split. Plan: grams built once
# (same codegen'd xxhash64 construction as x200), the benchmark's
# DISTINCT gram set is BROADCAST to the corpus-gram side (eval suites
# are KB–MB scale against a 100 TB corpus — the defining asymmetry of
# this operator; no shuffle of the corpus on the gram key at all), and
# the per-doc tally rides one exchange on doc_id. A dropped distinct
# (double-counting a repeated gram), a semi-join instead of the
# left-join tally (losing the denominator), or a hash mismatch in the
# gram construction all land as value mismatches.
@query(
    "x235_benchmark_contamination",
    oracle="""
    WITH arrs AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
    grams AS (
      SELECT doc_id, md5(array_to_string(arr[pos:pos+7], ' ')) AS g
      FROM (SELECT doc_id, arr,
              unnest(range(1, greatest(len(arr) - 6, 1))) AS pos
            FROM arrs) p),
    bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 50 = 0),
    corpus AS (
      SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 50 <> 0),
    per AS (
      SELECT c.doc_id, COUNT(*) AS n_grams,
        SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM corpus c LEFT JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id)
    SELECT doc_id, CAST(n_hit AS BIGINT) AS n_hit_grams,
      CAST(n_grams AS BIGINT) AS n_grams,
      CAST(n_hit AS DOUBLE) / n_grams AS contamination_rate
    FROM per WHERE n_hit > 0
    """,
)
def x235_benchmark_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    arrs = docs.select("doc_id", F.split("text", " ").alias("arr"))
    grams = arrs.select(
        "doc_id",
        F.explode(
            # same safe-empty construction as x200 (≤7-token docs emit
            # no grams); xxhash64 gram keys, md5 in the oracle — g is
            # never exposed, only membership, so the engines agree
            F.expr(
                "transform(slice(sequence(1, greatest(size(arr) - 7, 1)), "
                "1, greatest(size(arr) - 7, 0)), "
                "p -> xxhash64(array_join(slice(arr, p, 8), ' ')))"
            )
        ).alias("g"),
    )
    bench_g = (
        grams.where(F.col("doc_id") % 50 == 0).select("g").distinct()
    )
    corpus = (
        grams.where(F.col("doc_id") % 50 != 0)
        .select("doc_id", "g")
        .distinct()
    )
    per = (
        corpus.join(
            F.broadcast(bench_g.withColumn("__hit", F.lit(1))),
            "g",
            "left",
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_grams"),
            F.coalesce(F.sum("__hit"), F.lit(0))
            .cast("bigint")
            .alias("n_hit_grams"),
        )
    )
    return per.where(F.col("n_hit_grams") > 0).select(
        "doc_id",
        "n_hit_grams",
        "n_grams",
        (
            F.col("n_hit_grams").cast("double") / F.col("n_grams")
        ).alias("contamination_rate"),
    )


# x237 — CHECK CONSTRAINTS (ALTER TABLE … ADD/DROP CONSTRAINT): the
# write-time data-quality gate Delta ships and a curation pipeline
# leans on (schema evolution's sibling: evolution changes what columns
# MEAN, constraints pin what values are LEGAL). Lifecycle under the
# statement surface: add CHECK (validated over existing rows with one
# bounded scan), a VIOLATING statement-UPDATE raises executor-side and
# publishes NOTHING (the query swallows the exception — if enforcement
# ever silently let it through, the oracle's final state would
# mismatch on the poisoned rows, so the driver row IS the assertion),
# a passing UPDATE lands, DROP CONSTRAINT re-opens the gate and the
# formerly-refused write lands. The oracle restates the surviving
# mutation sequence closed-form. Scale: enforcement rides the
# changeset write job itself (zero extra passes); the add-time
# validation is one scan, priced like any full read.
@query(
    "x237_check_constraints",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 5 = 0),
    final AS (
      SELECT o_orderkey,
        CASE WHEN o_orderkey % 25 = 0 THEN -5.0
             WHEN o_orderkey % 10 = 0 THEN price + 1000.0
             ELSE price END AS price
      FROM base)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total,
      CAST(SUM(CASE WHEN price < 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_negative
    FROM final
    """,
)
def x237_check_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "checks")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    create_table(
        orders.where("o_orderkey % 5 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    T = {"tt": path}
    table_sql(
        spark, "ALTER TABLE tt ADD CONSTRAINT price_pos CHECK (price >= 0)", T
    )
    try:
        table_sql(
            spark, "UPDATE tt SET price = -1.0 WHERE o_orderkey % 25 = 0", T
        )
    except Exception:
        pass  # enforcement: refused, nothing published (oracle-proved)
    table_sql(
        spark,
        "UPDATE tt SET price = price + 1000.0 WHERE o_orderkey % 10 = 0",
        T,
    )
    table_sql(spark, "ALTER TABLE tt DROP CONSTRAINT price_pos", T)
    table_sql(
        spark, "UPDATE tt SET price = -5.0 WHERE o_orderkey % 25 = 0", T
    )
    return table_sql(
        spark,
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS DOUBLE)
            / 100.0 AS total,
          CAST(SUM(IF(price < 0, 1, 0)) AS BIGINT) AS n_negative
        FROM tt
        """,
        T,
    )


# x238 — SHARDED SEQUENCE PACKING: x229's greedy packing under the
# PRODUCTION stream keying (round-11 VERDICT item 8's variant as its
# own driver row): the composite (lang, doc_id % 8) key splits each
# language across 8 shards so no single grouped-map Arrow task packs
# more than a shard — the parallelism dial the operator docstring
# promises at 100 TB (one skewed source stops being one task). The
# composite key is concat_ws-encoded with the unit separator; the
# oracle reproduces the encoding verbatim (chr(31)) and re-derives the
# identical greedy assignment per composite stream with a recursive
# CTE, so a wrong shard split, a broken encoding, or a non-greedy
# assignment all land as value mismatches.
@query(
    "x238_sequence_packing_sharded",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
        lang || chr(31) || CAST(doc_id % 8 AS VARCHAR) AS stream,
        CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
          AS BIGINT) AS n
      FROM documents),
    ord AS (
      SELECT stream, doc_id, n,
        ROW_NUMBER() OVER (PARTITION BY stream ORDER BY doc_id) AS rn
      FROM toks),
    packed AS (
      SELECT stream, rn, n, CAST(0 AS BIGINT) AS seq_id, n AS fill
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.stream, o.rn, o.n,
        CASE WHEN p.fill > 0 AND p.fill + o.n > 512
             THEN p.seq_id + 1 ELSE p.seq_id END,
        CASE WHEN p.fill > 0 AND p.fill + o.n > 512
             THEN o.n ELSE p.fill + o.n END
      FROM packed p JOIN ord o ON o.stream = p.stream AND o.rn = p.rn + 1)
    SELECT stream, seq_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n) AS BIGINT) AS seq_tokens
    FROM packed GROUP BY stream, seq_id
    """,
)
def x238_sequence_packing_sharded(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.dedup import tokens_col
    from video_streamer_spark.operators.grouped import pack_sequences

    docs = table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        (F.col("doc_id") % 8).cast("int").alias("shard"),
        F.size(tokens_col("text")).cast("bigint").alias("n_tokens"),
    )
    packed = pack_sequences(docs, capacity=512, stream_col=("lang", "shard"))
    return packed.groupBy("stream", "seq_id").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("seq_tokens"),
    )


# x239 — INSERT INTO + CASE WHEN STATEMENTS (round-12 VERDICT item 3):
# the two statement-surface gaps closed and proven in one lifecycle.
# INSERT INTO lands NEW rows atomically from both body forms (a SELECT
# over a temp view, positional column binding; a literal VALUES list)
# and refuses existing keys — this format's key is the row identity,
# so SQL append semantics cannot duplicate it (the refusal is
# exercised in tests; here the oracle proves the surviving state).
# CASE WHEN is legal inside UPDATE SET, MERGE SET, and MERGE VALUES
# expressions because the clause splitter is quote/paren/CASE-aware
# (_scan_keywords) — only top-level WHEN/THEN tokens shape the
# statement. The oracle re-derives every branch closed-form with the
# SAME per-row floating-op order, so a mis-split clause, a wrong CASE
# branch, or an insert bound to the wrong column lands as a value
# mismatch. Scale: INSERT is churn-priced (key-routed buckets only,
# not-exists check rides the same point-lookup pruning as MERGE).
@query(
    "x239_insert_case_statements",
    oracle="""
    WITH g0 AS (
      SELECT o_orderkey AS k,
        CAST(o_totalprice AS DOUBLE) + 1000.0 AS p1
      FROM orders WHERE o_orderkey % 6 = 0),
    g0f AS (
      SELECT k,
        CASE WHEN k % 12 = 0 THEN
          CASE WHEN p1 > 100000.0 THEN p1 - 3.0 ELSE p1 + 7.0 END
        ELSE p1 END AS price
      FROM g0),
    g1 AS (
      SELECT o_orderkey AS k,
        CAST(o_totalprice AS DOUBLE) + 100.0 AS price
      FROM orders WHERE o_orderkey % 6 = 1),
    g2 AS (
      SELECT o_orderkey AS k,
        CASE WHEN o_orderkey % 12 = 2
             THEN CAST(o_totalprice AS DOUBLE) + 10.0
             ELSE CAST(o_totalprice AS DOUBLE) + 20.0 END AS price
      FROM orders WHERE o_orderkey % 6 = 2),
    lits AS (
      SELECT * FROM (VALUES (CAST(-1 AS BIGINT), 11.5),
                            (CAST(-2 AS BIGINT), 22.5)) v(k, price)),
    allr AS (
      SELECT * FROM g0f UNION ALL SELECT * FROM g1
      UNION ALL SELECT * FROM g2 UNION ALL SELECT * FROM lits)
    SELECT CASE WHEN k < 0 THEN 'lit'
                ELSE CAST(k % 6 AS VARCHAR) END AS grp,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total
    FROM allr GROUP BY 1
    """,
)
def x239_insert_case_statements(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "inssql")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    create_table(
        orders.where("o_orderkey % 6 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    T = {"tt": path}
    orders.createOrReplaceTempView("x239_raw")
    # INSERT via SELECT body (positional binding) and via VALUES
    table_sql(
        spark,
        "INSERT INTO tt (o_orderkey, price) "
        "SELECT o_orderkey, price + 100.0 FROM x239_raw "
        "WHERE o_orderkey % 6 = 1",
        T,
    )
    table_sql(spark, "INSERT INTO tt VALUES (-1, 11.5), (-2, 22.5)", T)
    # CASE WHEN inside a statement-UPDATE SET expression
    table_sql(
        spark,
        "UPDATE tt SET price = CASE WHEN o_orderkey % 2 = 0 "
        "THEN price + 1000.0 ELSE price END WHERE o_orderkey >= 0",
        T,
    )
    # CASE WHEN inside MERGE SET and VALUES expressions
    table_sql(
        spark,
        """
        MERGE INTO tt AS t USING chg AS s ON s.o_orderkey = t.o_orderkey
        WHEN MATCHED AND s.o_orderkey % 12 = 0 THEN UPDATE SET
          price = CASE WHEN t.price > 100000.0 THEN t.price - 3.0
                       ELSE t.price + 7.0 END
        WHEN NOT MATCHED THEN INSERT (o_orderkey, price) VALUES
          (s.o_orderkey, CASE WHEN s.o_orderkey % 12 = 2
                              THEN s.price + 10.0
                              ELSE s.price + 20.0 END)
        """,
        T,
        sources={"chg": orders.where("o_orderkey % 6 IN (0, 2)")},
    )
    return table_sql(
        spark,
        """
        SELECT CASE WHEN o_orderkey < 0 THEN 'lit'
                    ELSE CAST(o_orderkey % 6 AS STRING) END AS grp,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS DOUBLE)
            / 100.0 AS total
        FROM tt GROUP BY CASE WHEN o_orderkey < 0 THEN 'lit'
                              ELSE CAST(o_orderkey % 6 AS STRING) END
        """,
        T,
    )


# x240 — DECLARED NOT NULL (round-12 VERDICT item 6): the third
# integrity leg beside key-null refusal (implicit, _bucketed) and
# CHECK constraints (x237). ALTER COLUMN … SET NOT NULL validates
# existing rows with one bounded scan, then every later write is
# guarded executor-side at the same _constraint_guard chokepoint the
# CHECKs ride — a violating INSERT or UPDATE raises and publishes
# NOTHING (the query swallows the refusals; if enforcement ever let
# one through, the oracle's n_nulls/total would mismatch). DROP NOT
# NULL re-opens the gate and the formerly-refused insert lands as a
# real NULL. Scale: enforcement is zero extra passes; declaration is
# metadata-only after its one validation scan.
@query(
    "x240_not_null_statements",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 5 = 0),
    upd AS (
      SELECT k, CASE WHEN k % 10 = 0 AND k > 0 THEN price + 500.0
                     ELSE price END AS price
      FROM base),
    allr AS (
      SELECT * FROM upd
      UNION ALL SELECT CAST(-8 AS BIGINT), 42.0
      UNION ALL SELECT CAST(-7 AS BIGINT), CAST(NULL AS DOUBLE))
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(COALESCE(price, 0.0) * 100.0) AS BIGINT))
        AS DOUBLE) / 100.0 AS total,
      CAST(SUM(CASE WHEN price IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_nulls
    FROM allr
    """,
)
def x240_not_null_statements(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "notnull")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    create_table(
        orders.where("o_orderkey % 5 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    T = {"tt": path}
    table_sql(spark, "ALTER TABLE tt ALTER COLUMN price SET NOT NULL", T)
    try:  # narrow insert null-backfills price -> refused, nothing lands
        table_sql(spark, "INSERT INTO tt (o_orderkey) VALUES (-7)", T)
    except Exception:
        pass
    table_sql(spark, "INSERT INTO tt VALUES (-8, 42.0)", T)
    try:  # explicit NULL through UPDATE -> refused at the write job
        table_sql(
            spark,
            "UPDATE tt SET price = NULL "
            "WHERE o_orderkey % 10 = 0 AND o_orderkey > 0",
            T,
        )
    except Exception:
        pass
    table_sql(
        spark,
        "UPDATE tt SET price = price + 500.0 "
        "WHERE o_orderkey % 10 = 0 AND o_orderkey > 0",
        T,
    )
    table_sql(spark, "ALTER TABLE tt ALTER COLUMN price DROP NOT NULL", T)
    table_sql(spark, "INSERT INTO tt (o_orderkey) VALUES (-7)", T)
    return table_sql(
        spark,
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(FLOOR(COALESCE(price, 0.0) * 100.0) AS BIGINT))
            AS DOUBLE) / 100.0 AS total,
          CAST(SUM(IF(price IS NULL, 1, 0)) AS BIGINT) AS n_nulls
        FROM tt
        """,
        T,
    )


# x241 — SHOW CREATE TABLE (round-12 VERDICT item 7): the format is
# self-describing from SQL — one metadata-priced statement surfaces
# columns (DDL types), key ordinals, NOT NULL declarations, CHECK
# constraints, field-id column-mapping entries, retired logical names,
# and layout properties. The lifecycle below exercises every element
# class: schema evolution with a drop + re-add (minting the
# deterministic fresh physical name w__fid4 — create reserves 3
# identity names, so the re-add takes field id 4), a CHECK constraint,
# and a NOT NULL declaration; the oracle restates the expected
# introspection rows as literals, so a lost mapping entry, a dropped
# constraint, or a wrong version/ordinal lands as a value mismatch.
@query(
    "x241_show_create_table",
    oracle="""
    SELECT * FROM (VALUES
      ('column', 'o_orderkey', 'bigint'),
      ('column', 'price', 'double'),
      ('column', 'w', 'bigint'),
      ('key', 'o_orderkey', '0'),
      ('not_null', 'price', ''),
      ('constraint', 'price_pos', 'price >= 0'),
      ('column_mapping', 'w', 'w__fid4'),
      ('retired_column', 'w', ''),
      ('property', 'n_buckets', '8'),
      ('property', 'version', '6')
    ) v(element, name, value)
    """,
)
def x241_show_create_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "showddl")
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").cast("double").alias("price")
    )
    create_table(
        orders.where("o_orderkey % 7 = 0"), path, ["o_orderkey"], n_buckets=8
    )
    T = {"tt": path}
    table_sql(spark, "ALTER TABLE tt ADD COLUMN w bigint", T)   # v2
    table_sql(spark, "ALTER TABLE tt DROP COLUMN w", T)         # v3
    table_sql(spark, "ALTER TABLE tt ADD COLUMN w bigint", T)   # v4: fid4
    table_sql(
        spark,
        "ALTER TABLE tt ADD CONSTRAINT price_pos CHECK (price >= 0)",
        T,
    )                                                           # v5
    table_sql(spark, "ALTER TABLE tt ALTER COLUMN price SET NOT NULL", T)
    return table_sql(spark, "SHOW CREATE TABLE tt", T)          # v6


# x242 — BATCH SNAPSHOT DATASOURCE (round-12 VERDICT item 2): the
# catalog-compatibility surface — spark.read.format("table_snapshot")
# .option("path", t).option("version"/"timestamp", …) serves a pinned
# snapshot to PLAIN spark.read / spark.sql with no registry dict. The
# lifecycle builds a table, mutates it (update + new key), deletes a
# key (merge-on-read tombstone), then reads v1 BY VERSION, v1 BY
# TIMESTAMP (captured between the commits), and the CURRENT snapshot —
# each through the DataSource, aggregated and unioned. The oracle
# restates both states closed-form, so a tombstone leaking through the
# DataSource's anti-join, a version pin served from the wrong
# manifest, or a timestamp resolved to the wrong commit lands as a
# value mismatch. Scale: one InputPartition per bucket (row work
# task-side, Arrow batches across the Python boundary); the optimized
# path (read_table: native scan, zone-map/bloom pruning) stays the
# fast spelling — this row certifies the compatibility spelling.
@query(
    "x242_snapshot_datasource_read",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 9 = 0),
    cur AS (
      SELECT k, CASE WHEN k % 18 = 0 THEN price + 111.0
                     ELSE price END AS price
      FROM base WHERE k % 27 <> 9
      UNION ALL SELECT CAST(-3 AS BIGINT), 77.0)
    SELECT 'v1' AS tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total
    FROM base
    UNION ALL
    SELECT 'ts', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
    FROM base
    UNION ALL
    SELECT 'cur', CAST(COUNT(*) AS BIGINT),
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
    FROM cur
    """,
)
def x242_snapshot_datasource_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import time

    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_into,
    )
    from video_streamer_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    path = scratch.run_dir(spark, sf_dir, "snapds")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table(
        orders.where("k % 9 = 0"), path, ["k"], n_buckets=8
    )  # v1
    t_mid = time.time()
    time.sleep(0.05)  # commit stamps are second-scale floats
    chg = orders.where("k % 9 = 0 AND k % 18 = 0").select(
        "k", (F.col("price") + 111.0).alias("price")
    ).unionByName(
        spark.createDataFrame([(-3, 77.0)], "k bigint, price double")
    )
    merge_into(
        spark, path, chg, when_matched_update="all"
    )  # v2: updates + one insert
    delete_keys(
        spark,
        path,
        orders.where("k % 27 = 9").select("k"),
    )  # v3: merge-on-read tombstones on the k % 27 = 9 stripe
    register_snapshot_source(spark)

    def snap(tag: str, **opts) -> DataFrame:
        r = spark.read.format("table_snapshot").option("path", path)
        for k, v in opts.items():
            r = r.option(k, str(v))
        return r.load().agg(
            F.lit(tag).alias("tag"),
            F.count("*").cast("bigint").alias("n_rows"),
            (
                F.sum(F.floor(F.col("price") * 100.0).cast("bigint"))
                .cast("double") / 100.0
            ).alias("total"),
        ).select("tag", "n_rows", "total")

    return (
        snap("v1", version=1)
        .unionByName(snap("ts", timestamp=t_mid))
        .unionByName(snap("cur"))
    )


# x243 — SKEW-BOUNDED INTERVAL JOIN VARIANT (round-12 VERDICT item 5):
# the q20 family's fallback plan under its own oracle. The (user,
# 5-min-bucket) exploded equi-join caps every join-key group at
# events-per-bucket instead of events-per-user — the plan the AUTO
# router (operators/intervals.py) selects when a sampled probe finds a
# user past the one-task sort budget (routing + bit-equality with the
# window plan pinned by tests/test_intervals.py; this row pins the
# join variant's VALUES against the same theta-join oracle as q20, so
# the two plans' driver evidence brackets the router's both outcomes).
@query(
    "x243_interval_join_variant",
    oracle="""
    SELECT e1.event_type, COUNT(*) AS n_pairs
    FROM events e1 JOIN events e2
      ON e1.user_id = e2.user_id
     AND e2.ts BETWEEN e1.ts AND e1.ts + INTERVAL 5 MINUTE
     AND e1.event_id <> e2.event_id
    GROUP BY e1.event_type
    """,
)
def x243_interval_join_variant(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.intervals import (
        interval_pair_counts,
    )

    e = table(spark, sf_dir, "events")
    return interval_pair_counts(e, interval_sec=300, mode="join")


# x244 — BIGRAM LM PERPLEXITY SCREEN (CCNet-style): per-document mean
# negative log-likelihood under an add-one-smoothed bigram model
# trained on the corpus itself — the canonical quality gate an LLM
# data pipeline applies before training (high-NLL docs are boilerplate
# / binary spill / wrong-language; CCNet's KenLM filter in the
# engine's own vocabulary). ln() only ever sees integers (counts +
# smoothing constants), so the x195 parity recipe holds: qdec6
# guard-digit quantization per term, exact DECIMAL per-doc sums,
# round6 DOUBLE mean — value-exact across engines. Scale: bigram
# construction is codegen (zip_with over two array slices), count
# tables are partial-aggregable shuffles, scoring is two equi-joins
# (AQE splits the stop-bigram skew), vocab is one aggregated broadcast
# row. Complements x195 (char entropy), x09/x10 (heuristic quality),
# x143 (repetition): this is the distributional model screen.
def _x244_oracle() -> str:
    from video_streamer_spark.functions.parity import (
        sql_qdec6,
        sql_round6,
    )

    lp_num = sql_qdec6("ln(CAST(c2.c + 1 AS DOUBLE))")
    lp_den = sql_qdec6("ln(CAST(c1.c + v.v AS DOUBLE))")
    nll = sql_round6(
        "(CAST(SUM(lp_den) AS DOUBLE) - CAST(SUM(lp_num) AS DOUBLE))"
        " / CAST(COUNT(*) AS DOUBLE)"
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS t
      FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS w FROM toks),
    c1 AS (SELECT w, COUNT(*) AS c FROM tok GROUP BY w),
    v AS (SELECT COUNT(DISTINCT w) AS v FROM tok),
    bi AS (
      SELECT doc_id,
        t[CAST(g.i AS INT)] AS w1,
        t[CAST(g.i AS INT)] || ' ' || t[CAST(g.i AS INT) + 1] AS bg
      FROM toks, unnest(generate_series(1, len(t) - 1)) AS g(i)
      WHERE len(t) >= 2),
    c2 AS (SELECT bg, COUNT(*) AS c FROM bi GROUP BY bg),
    terms AS (
      SELECT b.doc_id,
        {lp_num} AS lp_num,
        {lp_den} AS lp_den
      FROM bi b JOIN c2 ON b.bg = c2.bg
      JOIN c1 ON b.w1 = c1.w CROSS JOIN v)
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
      {nll} AS nll
    FROM terms GROUP BY doc_id
    """


@query("x244_bigram_lm_nll", oracle=_x244_oracle())
def x244_bigram_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.text import bigram_lm_nll

    return bigram_lm_nll(table(spark, sf_dir, "documents"))


# x245 — TYPE WIDENING (schema evolution leg 3, Iceberg's type
# promotion / Delta's type widening): ALTER COLUMN … TYPE widens a
# non-key column losslessly as a METADATA-ONLY commit — old narrow
# parquet files read exactly under the widened schema (Spark's scan
# upcasts natively; no rewrite at any table size), later writes land
# values past the old type's range, and time travel keeps each
# version's own schema. The lifecycle: create with an int metric,
# widen to bigint via the statement surface, merge a value past 2^31,
# then aggregate the final state alongside the pre-widen snapshot. The
# oracle restates both states closed-form; a lossy upcast, a
# mis-scoped widening, or a pre-widen read through the wrong schema
# lands as a value mismatch. Refusals (key/bloom columns — xxhash64 is
# type-sensitive; narrowing; lossy pairs) are pinned by
# tests/test_table_format.py::test_widen_column_type_lifecycle.
@query(
    "x245_type_widening",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k,
        CAST(o_orderkey % 1000000 AS BIGINT) AS metric
      FROM orders WHERE o_orderkey % 11 = 0),
    cur AS (
      SELECT k, CASE WHEN k % 22 = 0
                     THEN metric + 1099511627776 ELSE metric END AS metric
      FROM base)
    SELECT 'v1' AS tag, CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(metric) AS BIGINT) AS total
    FROM base
    UNION ALL
    SELECT 'cur', CAST(COUNT(*) AS BIGINT), CAST(SUM(metric) AS BIGINT)
    FROM cur
    """,
)
def x245_type_widening(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import (
        create_table,
        merge_into,
        read_table,
    )
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "widen")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        (F.col("o_orderkey") % 1000000).cast("int").alias("metric"),
    )
    create_table(
        orders.where("k % 11 = 0"), path, ["k"], n_buckets=8
    )  # v1: metric is INT
    T = {"tt": path}
    table_sql(spark, "ALTER TABLE tt ALTER COLUMN metric TYPE bigint", T)
    chg = orders.where("k % 22 = 0").select(
        "k",
        (F.col("metric").cast("bigint") + F.lit(1 << 40)).alias("metric"),
    )
    merge_into(spark, path, chg, when_matched_update="all",
               when_not_matched_insert=None)

    def agg(tag: str, version: int | None) -> DataFrame:
        return read_table(spark, path, version=version).agg(
            F.lit(tag).alias("tag"),
            F.count("*").cast("bigint").alias("n_rows"),
            F.sum(F.col("metric").cast("bigint")).cast("bigint").alias(
                "total"
            ),
        ).select("tag", "n_rows", "total")

    return agg("v1", 1).unionByName(agg("cur", None))


# x246 — THREE-FAMILY MERGE (Delta 2.4's WHEN NOT MATCHED BY SOURCE):
# one statement exercises all three clause families — matched update,
# not-matched-by-target insert, and the by-source delete + update that
# a sync job types to retire rows its extract stopped covering. The
# by-source classification is table-priced by nature (absence is a
# full anti-join) and the commit's read set widens to every bucket
# (serializable — a concurrent writer anywhere conflicts); the WRITE
# stays churn-priced. The oracle re-derives the surviving state
# closed-form per k % 42 stripe, so a mis-classified row in any family
# (matched row hitting a by-source clause, unmatched row inserted by a
# matched-only statement, wrong DELETE-before-UPDATE order) lands as a
# value mismatch.
@query(
    "x246_merge_by_source",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS p
      FROM orders WHERE o_orderkey % 7 = 0),
    ins AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) + 1.0 AS p
      FROM orders WHERE o_orderkey % 7 = 3),
    cur AS (
      SELECT k, CASE WHEN k % 14 = 0 THEN p + p
                     WHEN k % 21 = 14 THEN 0.0 - p
                     ELSE p END AS p
      FROM base WHERE NOT (k % 14 <> 0 AND k % 21 = 7)
      UNION ALL SELECT k, p FROM ins)
    SELECT CAST(k % 42 AS BIGINT) AS grp,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(p * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total
    FROM cur GROUP BY 1
    """,
)
def x246_merge_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark.operators.table_format import create_table
    from video_streamer_spark.operators.table_sql import table_sql

    path = scratch.run_dir(spark, sf_dir, "bysource")
    orders = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    create_table(
        orders.where("k % 7 = 0"), path, ["k"], n_buckets=8
    )
    T = {"tt": path}
    table_sql(
        spark,
        """
        MERGE INTO tt AS t USING chg AS s ON s.k = t.k
        WHEN MATCHED THEN UPDATE SET price = t.price + s.price
        WHEN NOT MATCHED BY TARGET THEN
          INSERT (k, price) VALUES (s.k, s.price + 1.0)
        WHEN NOT MATCHED BY SOURCE AND t.k % 21 = 7 THEN DELETE
        WHEN NOT MATCHED BY SOURCE AND t.k % 21 = 14 THEN
          UPDATE SET price = 0.0 - t.price
        """,
        T,
        sources={
            "chg": orders.where("k % 14 = 0 OR k % 7 = 3")
        },
    )
    return table_sql(
        spark,
        """
        SELECT CAST(k % 42 AS BIGINT) AS grp,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS DOUBLE)
            / 100.0 AS total
        FROM tt GROUP BY CAST(k % 42 AS BIGINT)
        """,
        T,
    )


# x247 — NESTED COLUMNS THROUGH THE CATALOG SURFACE (round-13 VERDICT
# item 2): an embeddings table — array<float>, the LLM pipeline's core
# datatype — lives in the versioned table format and is served to
# PLAIN spark.read through the table_snapshot DataSource, then queried
# with the q18 cosine-top-k. The lifecycle exercises every nested-type
# seam the r13 sources refused: create with an array payload,
# merge_into rewriting arrays (to_json fingerprints classify nested
# change), merge-on-read tombstones over a nested bucket (the Arrow
# keep-mask path — no pandas round-trip, so NaN payloads and list
# cells survive exactly), and the DataSource's recursive Arrow schema.
# The update REVERSES the stripe's vectors (cosine is scale-invariant,
# so a doubled vector would be invisible to the ranking — reversal
# shifts sims, making a missed update land as a value mismatch; a
# leaked tombstone surfaces as an extra ranked row). Scale: one
# InputPartition per bucket, Arrow batches across the boundary, and
# the ranking itself is the q18 broadcast-cross-join plan — corpus
# scan times a 1-row broadcast query side.
@query(
    "x247_snapshot_nested_embeddings",
    oracle=f"""
    WITH cur AS (
      SELECT vec_id,
        CASE WHEN vec_id % 17 = 5 THEN list_reverse(embedding)
             ELSE embedding END AS embedding
      FROM embeddings WHERE vec_id % 17 <> 3),
    q AS (SELECT embedding FROM cur WHERE vec_id = 0),
    scored AS (
      SELECT c.vec_id,
        {_R4.format(_sql_cos('c.embedding', 'q.embedding'))} AS sim
      FROM cur c, q),
    ranked AS (
      SELECT vec_id, sim,
        CAST(ROW_NUMBER() OVER (ORDER BY sim DESC, vec_id) AS INT)
          AS rank
      FROM scored)
    SELECT vec_id, sim, rank FROM ranked WHERE rank <= 50
    """,
)
def x247_snapshot_nested_embeddings(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from video_streamer_spark.operators.similarity import brute_topk
    from video_streamer_spark.operators.table_format import (
        create_table,
        delete_keys,
        merge_into,
    )
    from video_streamer_spark.sources.snapshot_source import (
        register_snapshot_source,
    )

    path = scratch.run_dir(spark, sf_dir, "nestsnap")
    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    create_table(emb, path, ["vec_id"], n_buckets=8)          # v1
    delete_keys(                                              # v2
        spark, path, emb.where("vec_id % 17 = 3").select("vec_id")
    )
    merge_into(                                               # v3
        spark,
        path,
        emb.where("vec_id % 17 = 5").select(
            "vec_id", F.reverse("embedding").alias("embedding"), "label"
        ),
        when_matched_update="all",
        when_not_matched_insert=None,
    )
    register_snapshot_source(spark)
    snap = (
        spark.read.format("table_snapshot").option("path", path).load()
    )
    return brute_topk(
        snap,
        snap.where(F.col("vec_id") == 0),
        k=50,
        exclude_self=False,
    ).select("vec_id", "sim", "rank")


# x248 — SESSION CATALOG STATEMENTS (round-13 VERDICT item 3): the
# register-once name→path catalog (video_streamer_spark.vss_catalog)
# removes the last registry-dict ergonomic from the statement surface.
# Every statement below runs with NO tables= argument — names resolve
# from the catalog (explicit dicts remain per-name overrides, pinned
# by tests/test_table_sql.py). The sequence also certifies two r14
# surfaces under driver evidence: MERGE USING a REGISTERED TABLE as
# the source (its current snapshot — the table-to-table sync
# spelling), and free-form MERGE aliases (`AS M … AS A`, mixed-case
# dotted references normalized to the operator's t/s; r13 VERDICT
# item 5). The oracle restates the final state closed-form per k%3
# class, so a statement resolving the wrong path, an alias rewrite
# touching a literal, or a MERGE reading a stale source snapshot
# lands as a value mismatch. Scale: catalog resolution is driver-side
# dict lookup; every statement stays metadata- or churn-priced.
@query(
    "x248_catalog_statements",
    oracle="""
    WITH src AS (
      SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price
      FROM orders WHERE o_orderkey % 13 = 0),
    fin AS (
      SELECT k, CASE WHEN k % 39 = 0 THEN price + 1000.0
                     WHEN k % 26 = 0 THEN price + 5.0
                     ELSE price END AS price
      FROM src)
    SELECT CAST(k % 3 AS BIGINT) AS grp,
      CAST(COUNT(*) AS BIGINT) AS n_rows,
      CAST(SUM(CAST(floor(price * 100.0) AS BIGINT)) AS DOUBLE) / 100.0
        AS total
    FROM fin GROUP BY 1
    """,
)
def x248_catalog_statements(spark: SparkSession, sf_dir: str) -> DataFrame:
    from video_streamer_spark import vss_catalog
    from video_streamer_spark.operators.table_sql import table_sql

    main = scratch.run_dir(spark, sf_dir, "catmain")
    adj = scratch.run_dir(spark, sf_dir, "catadj")
    table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.col("o_totalprice").cast("double").alias("price"),
    ).where("k % 13 = 0").createOrReplaceTempView("x248_src")
    vss_catalog.register("x248_main", main)
    vss_catalog.register("x248_adj", adj)
    try:
        table_sql(
            spark,
            "CREATE TABLE x248_main KEY (k) BUCKETS 8 "
            "AS SELECT k, price FROM x248_src",
        )
        table_sql(
            spark,
            "UPDATE x248_main SET price = price + 5.0 WHERE k % 26 = 0",
        )
        table_sql(
            spark,
            "CREATE TABLE x248_adj KEY (k) AS "
            "SELECT k, price + 1000.0 AS price FROM x248_src "
            "WHERE k % 39 = 0",
        )
        # registered table as MERGE source + free aliases (M / A)
        table_sql(
            spark,
            "MERGE INTO x248_main AS M USING x248_adj AS A "
            "ON A.k = M.k "
            "WHEN MATCHED THEN UPDATE SET price = A.price",
        )
        return table_sql(
            spark,
            """
            SELECT CAST(k % 3 AS BIGINT) AS grp,
              CAST(COUNT(*) AS BIGINT) AS n_rows,
              CAST(SUM(CAST(FLOOR(price * 100.0) AS BIGINT)) AS DOUBLE)
                / 100.0 AS total
            FROM x248_main GROUP BY CAST(k % 3 AS BIGINT)
            """,
        )
    finally:
        vss_catalog.unregister("x248_main")
        vss_catalog.unregister("x248_adj")
