"""Unit tests: approx-distinct error bound, LSH recall, map/array ops,
decoders, table operators — the coverage rows that don't fit the
SQL-oracle harness.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from tests.conftest import SF_SMOKE, SF_ORACLE
from video_streamer_spark.catalog import table
from video_streamer_spark.queries import QUERIES


def test_approx_count_distinct_error_bound(spark):
    e = table(spark, SF_ORACLE, "events")
    rows = (
        e.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        rel_err = abs(r["approx_users"] - r["exact_users"]) / max(r["exact_users"], 1)
        assert rel_err < 0.05, (r["event_type"], r["approx_users"], r["exact_users"])
    # and the registered query's bound flag is all-true (the hashed contract)
    q = QUERIES["x24_approx_distinct"](spark, SF_ORACLE).collect()
    assert all(r["within_bound"] for r in q)


def test_lsh_topk_recall_vs_brute_force(spark):
    """Property test for the approximate path: bucketed top-k must recall
    a reasonable fraction of the exact top-k (4 planes → 16 buckets over
    500 vectors keeps buckets populated)."""
    from video_streamer_spark.operators.similarity import brute_topk, lsh_topk

    emb = table(spark, SF_ORACLE, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_topk(emb, q, k=3).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in lsh_topk(emb, q, dim=64, k=3, n_planes=4, n_tables=8).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random corpus: single-table recall ≈ (1-θ/π)^4 ≈ 0.16 for these
    # neighbor angles; 8 tables lift it to ≈ 1-(1-p)^8 ≈ 0.75
    assert recall >= 0.5, f"LSH recall collapsed: {recall}"


def test_map_functions(spark):
    """map_from_arrays / map_keys / map_values / element_at (capability
    row 'array/map scalar fns')."""
    docs = table(spark, SF_SMOKE, "documents")
    m = docs.select(
        "doc_id",
        F.map_from_arrays(
            F.array(F.lit("lang"), F.lit("source")),
            F.array(F.col("lang"), F.col("source")),
        ).alias("meta"),
    )
    out = m.select(
        "doc_id",
        F.map_keys("meta").alias("ks"),
        F.element_at("meta", F.lit("lang")).alias("lang_back"),
    )
    row = out.orderBy("doc_id").first()
    assert row["ks"] == ["lang", "source"]
    assert row["lang_back"] is not None


def test_dedup_keep_first_survivors_consistent(spark):
    """exact_dedup survivors: every duplicate group keeps exactly its min
    doc_id and group sizes sum to the corpus size."""
    from video_streamer_spark.operators.dedup import exact_dedup_keep_first

    docs = table(spark, SF_ORACLE, "documents")
    groups = exact_dedup_keep_first(docs)
    assert groups.agg(F.sum("group_size")).first()[0] == docs.count()
    joined = groups.join(
        docs.select(F.md5("text").alias("text_hash"), "doc_id"), "text_hash"
    )
    bad = joined.groupBy("text_hash", "keep_doc_id").agg(
        F.min("doc_id").alias("true_min")
    ).where(F.col("keep_doc_id") != F.col("true_min"))
    assert bad.count() == 0


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before left ts, same-ts rows
    match, tolerance nulls stale matches, unmatched lefts survive with
    nulls, equal-ts right rows resolve to the greatest payload."""
    from video_streamer_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100.0), (2, "u", 205.0), (3, "v", 50.0), (4, "w", 10.0)],
        "id int, k string, t double",
    ).select("id", "k", F.timestamp_seconds("t").alias("ts"))
    right = spark.createDataFrame(
        [("u", 90.0, 10), ("u", 100.0, 11), ("u", 100.0, 12), ("u", 201.0, 13),
         ("v", 49.0, 20)],
        "k string, t double, val int",
    ).select("k", F.timestamp_seconds("t").alias("ts"), "val")

    out = {
        r["id"]: r["val_asof"]
        for r in asof_join(left, right, on=["k"], right_cols=["val"]).collect()
    }
    # id=1: ties at ts=100 → equal-ts match allowed, greatest payload (12)
    # id=2: latest at-or-before 205 is 201 → 13
    # id=3: 49 <= 50 → 20;  id=4: key w has no right rows → null
    assert out == {1: 12, 2: 13, 3: 20, 4: None}

    tol = {
        r["id"]: r["val_asof"]
        for r in asof_join(
            left, right, on=["k"], right_cols=["val"], tolerance_seconds=0.5
        ).collect()
    }
    # only the exact-ts match at id=1 survives a 0.5 s tolerance
    assert tol == {1: 12, 2: None, 3: None, 4: None}


def test_ivf_topk_pivots_recall_vs_brute_force(spark):
    """The deterministic pivot quantizer (x32's oracle-checked path) must
    keep useful recall too — sampled pivots are coarser than KMeans
    centroids but the cells still cover the space."""
    from video_streamer_spark.operators.similarity import brute_topk, ivf_topk_pivots

    emb = table(spark, SF_ORACLE, "embeddings")
    q = emb.where(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["vec_id"]) for r in brute_topk(emb, q, k=3).collect()}
    approx = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk_pivots(emb, q, k=3, n_cells=16, n_probe=6).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"pivot-IVF recall collapsed: {recall}"


def test_embedding_near_pairs_block_invariance(spark):
    """The blocked all-pairs result SET must be identical for any block
    size (1 block vs many) — partitioning is a physical choice, not a
    semantic one. Row order is not part of the contract: the block
    layout decides which task emits a pair, so compare sorted rows."""
    from video_streamer_spark.operators.similarity import embedding_near_pairs

    emb = table(spark, SF_ORACLE, "embeddings")
    one = sorted(
        tuple(r)
        for r in embedding_near_pairs(emb, threshold=0.35, block_rows=4096).collect()
    )
    many = sorted(
        tuple(r)
        for r in embedding_near_pairs(emb, threshold=0.35, block_rows=100).collect()
    )
    assert one == many
    assert len(one) > 0


def test_embedding_near_pairs_infers_its_eval_type(spark):
    """The blocked scorer's type hints are complete, so applyInPandas
    infers the grouped-map eval type instead of warning on every call."""
    import warnings

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        QUERIES["x05_embedding_near_pairs"](spark, SF_SMOKE)
    hints = [w for w in caught if "Cannot infer the eval type" in str(w.message)]
    assert not hints, [str(w.message) for w in hints]


def test_resize_payloads_shape(spark):
    """Resize: every output payload is exactly width*height bytes,
    truncated or zero-padded."""
    from video_streamer_spark.operators.multimodal import (
        documents_as_payloads,
        resize_payloads,
    )

    docs = table(spark, SF_SMOKE, "documents")
    out = resize_payloads(documents_as_payloads(docs), width=8, height=4)
    lens = out.select(F.length("payload").alias("n")).distinct().collect()
    assert [r["n"] for r in lens] == [32]


def test_salted_join_equals_direct(spark):
    """Salted join (left salted, right replicated) must produce exactly
    the rows of the direct equi-join."""
    from video_streamer_spark.operators.skew import salted_join

    o = table(spark, SF_ORACLE, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, SF_ORACLE, "customer").select("c_custkey", "c_nationkey")
    direct = sorted(
        tuple(r)
        for r in o.join(c, o.o_custkey == c.c_custkey).select(
            "o_orderkey", "c_nationkey"
        ).collect()
    )
    salted = sorted(
        tuple(r)
        for r in salted_join(
            o.withColumnRenamed("o_custkey", "k"),
            c.withColumnRenamed("c_custkey", "k"),
            ["k"],
            n_salts=8,
        ).select("o_orderkey", "c_nationkey").collect()
    )
    assert salted == direct


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property test: asof_join ≡ pandas merge_asof(direction='backward')
    on randomized key/timestamp layouts, including duplicate left
    timestamps and unmatched keys. Right-side ts are unique per key (the
    operator's documented tiebreak is max-payload; merge_asof takes the
    last row, so uniqueness makes both well-defined)."""
    import numpy as np
    import pandas as pd

    from video_streamer_spark.operators.temporal import asof_join

    rng = np.random.default_rng(7)
    for trial in range(3):
        n_l, n_r = 40, 30
        lpdf = pd.DataFrame(
            {
                "id": np.arange(n_l),
                "k": rng.integers(0, 4, n_l).astype("int64"),
                "t": rng.integers(0, 500, n_l).astype("int64"),
            }
        )
        rpdf = (
            pd.DataFrame(
                {
                    "k": rng.integers(0, 5, n_r).astype("int64"),
                    "t": rng.integers(0, 500, n_r).astype("int64"),
                    "val": np.arange(n_r).astype("int64"),
                }
            )
            .drop_duplicates(["k", "t"])
            .reset_index(drop=True)
        )
        expect = pd.merge_asof(
            lpdf.assign(ts=pd.to_datetime(lpdf["t"], unit="s")).sort_values(
                ["t", "id"]
            ),
            rpdf.assign(ts=pd.to_datetime(rpdf["t"], unit="s")).sort_values("t")[
                ["k", "ts", "val"]
            ],
            on="ts",
            by="k",
            direction="backward",
        )
        want = {
            int(r.id): (None if pd.isna(r.val) else int(r.val))
            for r in expect.itertuples()
        }

        left = spark.createDataFrame(
            lpdf.assign(ts=pd.to_datetime(lpdf["t"], unit="s"))[
                ["id", "k", "ts"]
            ]
        )
        right = spark.createDataFrame(
            rpdf.assign(ts=pd.to_datetime(rpdf["t"], unit="s"))[
                ["k", "ts", "val"]
            ]
        )
        got = {
            r["id"]: r["val_asof"]
            for r in asof_join(left, right, on=["k"], right_cols=["val"]).collect()
        }
        assert got == want, f"trial {trial}"


def test_minhash_catches_planted_duplicates(spark):
    """Recall floor (SURVEY §5.2 property check): plant exact copies of
    50 docs under new ids — each planted pair has an identical signature
    and MUST surface as a candidate with ALL bands shared."""
    from video_streamer_spark.operators.dedup import (
        MINHASH_BAND_ROWS,
        NUM_MINHASH,
        minhash_candidate_pairs,
    )

    docs = table(spark, SF_ORACLE, "documents").select("doc_id", "text")
    offset = 1_000_000
    copies = docs.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + offset).alias("doc_id"), "text"
    )
    planted = docs.unionByName(copies)
    n_bands = NUM_MINHASH // MINHASH_BAND_ROWS
    cands = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in minhash_candidate_pairs(planted).collect()
    }
    for i in range(50):
        assert cands.get((i, i + offset)) == n_bands, f"planted dup {i} missed"


def test_embedding_near_pairs_lsh_recall(spark):
    """LSH-blocked near-pair mining: precision must be exact (every
    emitted pair really clears the threshold per the exact operator) and
    recall against the exact all-pairs result must stay useful."""
    from video_streamer_spark.operators.similarity import (
        embedding_near_pairs,
        embedding_near_pairs_lsh,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    exact = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in embedding_near_pairs(emb, threshold=0.35).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"]): r["sim"]
        for r in embedding_near_pairs_lsh(emb, dim=64, threshold=0.35).collect()
    }
    assert set(approx) <= set(exact), "false positives: precision broken"
    for p, s in approx.items():
        assert abs(s - exact[p]) < 1e-6
    recall = len(approx) / len(exact)
    assert recall >= 0.4, f"LSH near-pair recall collapsed: {recall}"


def test_bench_headline_names_are_registered():
    """Driver contract guard: every bench.py HEADLINE name must exist in
    the query registry (a rename would make the recorded BENCH fail)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    missing = [n for n in bench.HEADLINE if n not in QUERIES]
    assert not missing, missing


def test_entry_contract_shape():
    """__spark_entry__ exposes exactly the driver's three callables and
    every oracle key is a registered query."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "spark_entry",
        os.path.join(os.path.dirname(__file__), "..", "__spark_entry__.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    qs, os_ = mod.queries(), mod.oracle_sql()
    assert callable(mod.entry)
    assert set(os_) <= set(qs)
    assert all(isinstance(v, str) and v.strip() for v in os_.values())


def test_documents_corpus_is_ascii():
    """The x12/x31/x42 oracles equate DuckDB strlen()/ascii() (chars /
    codepoints) with Spark byte-wise ops over encode(text) — valid only
    while the documents corpus is pure ASCII (1 char == 1 byte). Enforce
    that assumption here so a future non-ASCII corpus fails loudly in
    pytest instead of as a silent driver hash mismatch."""
    import duckdb

    for sf in ("sf0.001", "sf0.01", "sf0.1"):
        n = duckdb.sql(
            f"SELECT COUNT(*) FROM '/root/testdata/{sf}/documents.parquet' "
            "WHERE octet_length(encode(text)) <> strlen(text)"
        ).fetchone()[0]
        assert n == 0, f"{n} non-ASCII documents at {sf}"


def test_decode_ppm_real_parser():
    """O2 decode is real for uncompressed frames: a crafted P6 PPM with a
    header comment round-trips to the exact (h, w, 3) tensor; compressed
    magics refuse loudly; opaque bytes fall back to the raw view."""
    import numpy as np
    import pytest as _pytest

    from video_streamer_spark.operators.multimodal import decode_frame

    rng = np.random.default_rng(7)
    pixels = rng.integers(0, 256, size=(4, 8, 3), dtype=np.uint8)
    payload = b"P6\n# a comment\n8 4\n255\n" + pixels.tobytes()
    out = decode_frame(payload)
    assert out.shape == (4, 8, 3)
    assert np.array_equal(out, pixels)

    # JPEG magic now routes to the REAL decoder (round 5), which rejects
    # a garbage body as malformed rather than refusing the format
    with _pytest.raises(ValueError):
        decode_frame(b"\xff\xd8\xff\xe0 jpeg-ish")
    # video containers still refuse honestly
    with _pytest.raises(NotImplementedError):
        decode_frame(b"RIFF\x00\x00\x00\x00AVI LIST")
    raw = decode_frame(b"opaque bytes")
    assert raw.ndim == 1 and raw.size == len(b"opaque bytes")


def test_decode_bmp_real_parser():
    """O2 decode, second container: a crafted bottom-up 24-bpp BMP with
    row padding round-trips to the exact RGB tensor (flip + BGR swap +
    pad strip all exercised); a top-down (negative-height) DIB decodes
    without the flip; non-24-bpp refuses loudly."""
    import numpy as np
    import pytest as _pytest

    from video_streamer_spark.operators.multimodal import (
        decode_bmp,
        decode_frame,
    )

    rng = np.random.default_rng(11)
    w, h = 3, 2  # stride 9 → pads to 12: exercises the pad-strip path
    rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    stride = (w * 3 + 3) // 4 * 4

    def build(height_field: int, rows_top_down: np.ndarray) -> bytes:
        raster = b""
        for row in rows_top_down:
            bgr = row[:, ::-1].tobytes()
            raster += bgr + bytes(stride - len(bgr))
        header = (
            b"BM" + (54 + len(raster)).to_bytes(4, "little")
            + bytes(4) + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + height_field.to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + bytes(4) + len(raster).to_bytes(4, "little")
            + bytes(16)
        )
        return header + raster

    # bottom-up: file stores rows last-first
    assert np.array_equal(decode_bmp(build(h, rgb[::-1])), rgb)
    # top-down (negative height): file stores rows first-first
    assert np.array_equal(decode_bmp(build(-h, rgb)), rgb)
    # dispatch reaches the BMP branch
    assert np.array_equal(decode_frame(build(h, rgb[::-1])), rgb)
    # 32-bpp refuses
    bad = bytearray(build(h, rgb[::-1]))
    bad[28:30] = (32).to_bytes(2, "little")
    with _pytest.raises(NotImplementedError):
        decode_bmp(bytes(bad))


def test_x43_decode_pipeline_runs(spark):
    """The decode→infer→rollup replay produces rows at smoke scale and the
    decoded dimensions come from the container header."""
    from video_streamer_spark.catalog import table
    from video_streamer_spark.operators import multimodal

    docs = table(spark, SF_SMOKE, "documents").limit(20)
    decoded = multimodal.decode_ppm_frames(
        multimodal.encode_ppm_payloads(docs, width=8, height=4)
    )
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(r["width"] == 8 and r["height"] == 4 for r in rows)
    assert all(
        r["byte_sum"] == r["r_sum"] + r["g_sum"] + r["b_sum"] for r in rows
    )


def test_q20_bucketed_join_bounds_hot_user_and_matches_plain(spark):
    """Skew guard for the range self-join: with one user owning most
    events, the (user, 5-min bucket) key must (a) produce exactly the
    same pairs as the plain user-keyed theta join and (b) cap the
    largest join-key group at the events-per-bucket level instead of the
    user's full history — the property that keeps one hot user from
    pinning a single shuffle partition at 100 TB."""
    rows = []
    # hot user: 4000 events, one every 30 s (≈ 33 h span)
    for i in range(4000):
        rows.append((i, "hot", float(30 * i), "view"))
    # background users
    for i in range(200):
        rows.append((10_000 + i, f"u{i % 20}", float(97 * i), "click"))
    e = spark.createDataFrame(
        rows, "event_id long, user_id string, t double, event_type string"
    ).select(
        "event_id", "user_id", F.timestamp_seconds("t").alias("ts"), "event_type"
    )

    plain = (
        e.alias("a")
        .join(
            e.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts"))
            & (F.col("b.ts") <= F.col("a.ts") + F.expr("INTERVAL 5 MINUTES"))
            & (F.col("a.event_id") != F.col("b.event_id")),
        )
        .count()
    )

    bucket_us = 300 * 1_000_000
    e1 = e.select(
        F.col("event_id").alias("id1"), F.col("user_id").alias("u1"),
        F.col("ts").alias("ts1"),
    ).withColumn(
        "jb1",
        F.explode(F.array(
            F.expr(f"unix_micros(ts1) div {bucket_us}"),
            F.expr(f"unix_micros(ts1) div {bucket_us}") + 1,
        )),
    )
    e2 = e.select(
        F.col("event_id").alias("id2"), F.col("user_id").alias("u2"),
        F.col("ts").alias("ts2"),
    ).withColumn("jb2", F.expr(f"unix_micros(ts2) div {bucket_us}"))
    bucketed = e1.join(
        e2,
        (F.col("u1") == F.col("u2"))
        & (F.col("jb1") == F.col("jb2"))
        & (F.col("ts2") >= F.col("ts1"))
        & (F.col("ts2") <= F.col("ts1") + F.expr("INTERVAL 5 MINUTES"))
        & (F.col("id1") != F.col("id2")),
    ).count()

    assert bucketed == plain

    per_user = e.groupBy("user_id").count().agg(F.max("count")).first()[0]
    per_key = (
        e2.groupBy("u2", "jb2").count().agg(F.max("count")).first()[0]
    )
    assert per_user == 4000
    # 5-min bucket at 30 s cadence = 10 events; the hot key shrinks 400x
    assert per_key <= 12, per_key


def test_annotate_frames_pixel_exact(spark):
    """O20 render: the drawn perimeter is pixel-exact on a crafted frame —
    border cells take the label color, interior and exterior untouched,
    boxes clamp at frame edges."""
    import numpy as np

    from video_streamer_spark.operators.detections import annotate_frames

    w, h = 8, 6
    frames = spark.createDataFrame(
        [(1, bytes(w * h * 3)), (2, bytes(w * h * 3))],
        "frame_id long, payload binary",
    )
    det = spark.createDataFrame(
        # frame 1: interior box; frame 2: box overflowing the right edge
        [(1, 2, 1, 5, 4, 3), (2, 6, 0, 99, 2, 1)],
        "frame_id long, x_min int, y_min int, x_max int, y_max int, label_id int",
    )
    out = {
        r["frame_id"]: r
        for r in annotate_frames(frames, det, width=w, height=h).collect()
    }

    a = np.frombuffer(bytes(out[1]["payload"]), dtype=np.uint8).reshape(h, w, 3)
    color = np.array([(3 * 37) % 256, (3 * 59) % 256, (3 * 83) % 256], np.uint8)
    expect = np.zeros((h, w, 3), np.uint8)
    expect[1, 2:6] = color
    expect[4, 2:6] = color
    expect[1:5, 2] = color
    expect[1:5, 5] = color
    assert np.array_equal(a, expect)
    assert out[1]["out_byte_sum"] == int(expect.sum(dtype=np.int64))

    b = np.frombuffer(bytes(out[2]["payload"]), dtype=np.uint8).reshape(h, w, 3)
    c2 = np.array([(1 * 37) % 256, (1 * 59) % 256, (1 * 83) % 256], np.uint8)
    exp2 = np.zeros((h, w, 3), np.uint8)
    exp2[0, 6:8] = c2
    exp2[2, 6:8] = c2
    exp2[0:3, 6] = c2
    exp2[0:3, 7] = c2  # clamped right edge
    assert np.array_equal(b, exp2)


def test_connected_components_crafted_graph(spark):
    """Min-label propagation on a known graph: a 4-chain, a triangle, and
    an isolated pair must resolve to their min-id components, and the
    fixpoint must be independent of edge orientation."""
    from video_streamer_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 1-2-3-4 (mixed orientation), triangle 10-11-12, pair 20-21
        [(2, 1), (2, 3), (4, 3), (10, 11), (12, 10), (11, 12), (21, 20)],
        "doc_a long, doc_b long",
    )
    got = {
        r["node"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_hash_sampling_properties(spark):
    """hash_sample: deterministic across calls, monotone in rate, and
    within a loose binomial band; stratified_cap: exact quota per group,
    selection stable."""
    from video_streamer_spark.operators import sampling

    docs = table(spark, SF_ORACLE, "documents")
    n = docs.count()
    s15 = sampling.hash_sample(docs, 0.15)
    ids_a = sorted(r["doc_id"] for r in s15.select("doc_id").collect())
    ids_b = sorted(r["doc_id"] for r in sampling.hash_sample(docs, 0.15).select("doc_id").collect())
    assert ids_a == ids_b, "sampling must be deterministic"
    assert 0.10 * n <= len(ids_a) <= 0.20 * n, (len(ids_a), n)
    ids_30 = {r["doc_id"] for r in sampling.hash_sample(docs, 0.30).select("doc_id").collect()}
    assert set(ids_a) <= ids_30, "rate increase must only add rows"

    capped = sampling.stratified_cap(docs, ["lang"], n_per_group=25)
    per_group = {
        r["lang"]: r["cnt"]
        for r in capped.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    full = {
        r["lang"]: r["cnt"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    for lang, cnt in per_group.items():
        assert cnt == min(25, full[lang]), (lang, cnt, full[lang])


def test_x49_matches_native_stat_functions(spark):
    """The decimal-moment formulation in x49 must agree with Spark's
    native stddev_samp/corr to float precision — proving it computes the
    standard statistics, with the decimal path used only for
    cross-engine hash determinism."""
    li = table(spark, SF_ORACLE, "lineitem")
    native = {
        r["l_returnflag"]: (r["sd"], r["c"])
        for r in li.groupBy("l_returnflag")
        .agg(
            F.stddev_samp("l_quantity").alias("sd"),
            F.corr("l_quantity", "l_extendedprice").alias("c"),
        )
        .collect()
    }
    ours = {
        r["l_returnflag"]: (r["stddev_qty"], r["corr_qty_price"])
        for r in QUERIES["x49_stat_aggregates"](spark, SF_ORACLE).collect()
    }
    assert set(native) == set(ours)
    for k in native:
        assert abs(native[k][0] - ours[k][0]) < 1e-4
        assert abs(native[k][1] - ours[k][1]) < 1e-4


def test_sql_string_surface_matches_dataframe_api(spark):
    """A reference user could switch and keep writing ANSI SQL: after
    register_views, spark.sql must produce the same results as the
    DataFrame-API queries (same engine, two front doors)."""
    from video_streamer_spark.catalog import register_views

    register_views(spark, SF_ORACLE)
    got = spark.sql(
        """
        SELECT r.r_name, COUNT(*) AS n_customers
        FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name
        """
    )
    want = QUERIES["q03_multijoin_region_counts"](spark, SF_ORACLE)
    assert sorted(tuple(r) for r in got.collect()) == sorted(
        tuple(r) for r in want.collect()
    )


def test_orc_round_trip(spark, tmp_path):
    """ORC is the second columnar format Spark ships natively — the
    sources row should not be parquet-only."""
    docs = table(spark, SF_SMOKE, "documents").select("doc_id", "lang", "n_chars")
    out = str(tmp_path / "orc")
    docs.write.mode("overwrite").orc(out)
    back = spark.read.orc(out)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))
    # predicate pushdown reaches the ORC scan too
    from video_streamer_spark.plans import plan_report

    text = plan_report(back.where(F.col("doc_id") > 100)).text
    assert "PushedFilters: [IsNotNull(doc_id), GreaterThan(doc_id,100)]" in text, text


def test_run_merge_upsert_sink_streaming(spark, tmp_path):
    """Streaming CDC-apply through the table format's MERGE sink
    (``table_format.run_acid_merge_sink``): two micro-batches of changes
    merge into the keyed table with upsert/delete semantics holding
    across epochs."""
    from video_streamer_spark.operators import table_format as tf

    path = str(tmp_path / "t")
    src = tmp_path / "changes"
    src.mkdir()
    tf.create_table(
        spark.range(10).select(
            F.col("id").alias("key"), F.lit("base").alias("val")
        ),
        path,
        ["key"],
        n_buckets=4,
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    def change_file(name: str, rows: list[tuple]) -> None:
        keys, ops, vals = zip(*rows)
        pq.write_table(
            pa.table(
                {
                    "key": pa.array(keys, pa.int64()),
                    "__op": pa.array(ops, pa.string()),
                    "val": pa.array(vals, pa.string()),
                    "seq": pa.array([0] * len(keys), pa.int64()),
                }
            ),
            str(src / name),
        )

    change_file("f1.parquet", [(3, "U", "updated"), (42, "I", "inserted")])
    change_file("f2.parquet", [(42, "D", None), (4, "U", "later")])
    # FileStreamSource orders a listing by modification time, with
    # UNSPECIFIED tie-breaking when both files land in the same
    # timestamp tick; distinct mtimes make the intended order (f1's
    # insert of 42 before f2's delete) deterministic under both mtime-
    # and path-ordering.
    import os
    import time as _time

    now = _time.time()
    os.utime(src / "f1.parquet", (now - 10, now - 10))
    os.utime(src / "f2.parquet", (now - 5, now - 5))

    stream = (
        spark.readStream.schema("key long, __op string, val string, seq long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    tf.run_acid_merge_sink(
        stream, path, ["key"], "seq", str(tmp_path / "ckpt")
    )
    got = {r["key"]: r["val"] for r in tf.read_table(spark, path).collect()}
    assert got[3] == "updated" and got[4] == "later"
    # 42 was inserted (f1, older mtime) then deleted (f2, newer)
    assert 42 not in got
    assert len(got) == 10
    assert tf.current_version(path) == 3  # one commit per epoch


def test_decode_bmp_property_round_trip():
    """Hypothesis property: ANY uncompressed 24-bpp BMP (random dims,
    random pixels, both row orders, pad or pad-free strides) round-trips
    through decode_bmp to the exact RGB tensor."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from video_streamer_spark.operators.multimodal import decode_bmp

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 6),
        bottom_up=st.booleans(),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, bottom_up, seed):
        rng = np.random.default_rng(seed)
        rgb = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        stride = (w * 3 + 3) // 4 * 4
        rows = rgb[::-1] if bottom_up else rgb
        raster = b"".join(
            r[:, ::-1].tobytes() + bytes(stride - w * 3) for r in rows
        )
        header = (
            b"BM" + (54 + len(raster)).to_bytes(4, "little")
            + bytes(4) + (54).to_bytes(4, "little")
            + (40).to_bytes(4, "little")
            + w.to_bytes(4, "little", signed=True)
            + (h if bottom_up else -h).to_bytes(4, "little", signed=True)
            + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
            + bytes(4) + len(raster).to_bytes(4, "little") + bytes(16)
        )
        assert np.array_equal(decode_bmp(header + raster), rgb)

    check()


def test_events_ts_normalization_all_parquet_flavors(spark, tmp_path):
    """Round-3 regression guard: catalog._events must yield a session-
    zoned TIMESTAMP for EVERY layout the testdata generator has shipped —
    TIMESTAMP(NANOS) stored as int64, timestamp[us] with no timezone
    (read as TIMESTAMP_NTZ), and tz-aware timestamp[us] — with identical
    instants (truncation, not rounding, for nanos)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from video_streamer_spark.catalog import _events

    base_us = 1_600_000_000_123_456  # 2020-09-13 12:26:40.123456 UTC
    variants = {
        "nanos": pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([base_us * 1000 + 789], pa.timestamp("ns")),
            }
        ),
        "ntz_us": pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([base_us], pa.timestamp("us")),
            }
        ),
        "ltz_us": pa.table(
            {
                "event_id": pa.array([1], pa.int64()),
                "ts": pa.array([base_us], pa.timestamp("us", tz="UTC")),
            }
        ),
    }
    for name, t in variants.items():
        d = tmp_path / name
        d.mkdir()
        pq.write_table(t, str(d / "events.parquet"))
        df = _events(spark, str(d))
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        got = df.select(F.expr("unix_micros(ts)").alias("us")).first()["us"]
        assert got == base_us, (name, got)  # nanos truncate to micros


def test_decode_wav_real_parser():
    """WAV decode walks chunks: a crafted stereo 16-bit PCM file with a
    LIST chunk before data round-trips to the exact sample tensor;
    non-PCM format codes refuse; decode_frame names the audio path."""
    import numpy as np
    import pytest as _pytest

    from video_streamer_spark.operators.multimodal import (
        decode_frame,
        decode_wav,
    )

    rng = np.random.default_rng(3)
    frames = rng.integers(-32768, 32767, size=(10, 2), dtype=np.int16)
    data = frames.tobytes()
    fmt = (
        (1).to_bytes(2, "little") + (2).to_bytes(2, "little")
        + (44100).to_bytes(4, "little") + (44100 * 4).to_bytes(4, "little")
        + (4).to_bytes(2, "little") + (16).to_bytes(2, "little")
    )
    odd_chunk = b"junk" + (3).to_bytes(4, "little") + b"abc\x00"  # padded
    payload = (
        b"RIFF" + (0).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + odd_chunk
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    w = decode_wav(payload)
    assert w["sample_rate"] == 44100 and w["n_channels"] == 2
    assert np.array_equal(w["samples"], frames)

    bad = bytearray(payload)
    i = payload.index(b"fmt ") + 8
    bad[i : i + 2] = (3).to_bytes(2, "little")  # IEEE float format
    with _pytest.raises(NotImplementedError):
        decode_wav(bytes(bad))
    with _pytest.raises(NotImplementedError, match="decode_wav"):
        decode_frame(payload)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Ingestion robustness: parquet files written at different schema
    generations (a column added later) read back as one relation with
    mergeSchema — old rows surface NULL for the new column, and the scan
    still prunes to requested columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "t"
    d.mkdir()
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64())}), str(d / "old.parquet")
    )
    pq.write_table(
        pa.table(
            {
                "id": pa.array([3], pa.int64()),
                "lang": pa.array(["en"], pa.string()),
            }
        ),
        str(d / "new.parquet"),
    )
    df = spark.read.option("mergeSchema", "true").parquet(str(d))
    assert set(df.columns) == {"id", "lang"}
    rows = {r["id"]: r["lang"] for r in df.collect()}
    assert rows == {1: None, 2: None, 3: "en"}


def test_incremental_rollup_maintenance_via_merge(spark, tmp_path):
    """Materialized-rollup refresh without a full recompute: a daily
    aggregate table is maintained by recomputing ONLY the days a late
    batch touches and MERGEing those rows back into the versioned table
    (``table_format.merge_table``) — the end state must equal a
    from-scratch rollup over base ∪ late. At 100 TB this is the
    difference between re-aggregating the fact table and re-aggregating
    two days of it."""
    from video_streamer_spark.operators import table_format as tf

    path = str(tmp_path / "rollup")
    base = spark.createDataFrame(
        [("2024-01-01", 10.0), ("2024-01-01", 5.0), ("2024-01-02", 7.0),
         ("2024-01-03", 1.0)],
        "day string, v double",
    )
    rollup = base.groupBy("day").agg(
        F.count("*").alias("n"), F.sum("v").alias("s")
    )
    tf.create_table(rollup, path, ["day"], n_buckets=4)

    late = spark.createDataFrame(
        [("2024-01-02", 3.0), ("2024-01-04", 9.0)], "day string, v double"
    )
    # recompute only the touched days from base ∪ late, ship as upserts
    touched = [r["day"] for r in late.select("day").distinct().collect()]
    fresh = (
        base.unionByName(late)
        .where(F.col("day").isin(touched))
        .groupBy("day")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .withColumn("__op", F.lit("U"))
    )
    tf.merge_table(spark, path, fresh)

    got = {
        r["day"]: (r["n"], r["s"])
        for r in tf.read_table(spark, path).collect()
    }
    want = {
        r["day"]: (r["n"], r["s"])
        for r in base.unionByName(late)
        .groupBy("day")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want


def test_compact_changeset_seq_lww_and_no_seq_assert(spark):
    """CDC in-batch compaction (ADVICE r4): with a sequence column the
    per-key winner is the HIGHEST seq (deterministic last-write-wins);
    without one, a batch carrying multiple ops for a key must raise
    instead of silently keeping an arbitrary row."""
    from video_streamer_spark.operators import merge as M

    batch = spark.createDataFrame(
        [
            (1, "U", "first", 10),
            (1, "D", None, 20),
            (1, "U", "last", 30),
            (2, "U", "only", 5),
        ],
        "key long, __op string, val string, seq long",
    )
    got = {
        r["key"]: (r["__op"], r["val"])
        for r in M.compact_changeset(batch, ["key"], "seq").collect()
    }
    assert got == {1: ("U", "last"), 2: ("U", "only")}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="multiple ops"):
        M.compact_changeset(batch.drop("seq"), ["key"], None)
    # single-op-per-key batches pass through untouched
    clean = batch.where(F.col("seq").isin(30, 5)).drop("seq")
    assert M.compact_changeset(clean, ["key"], None).count() == 2


def test_wav_riff_size_exact(spark):
    """ADVICE r4: the RIFF size field must equal len(file) - 8 exactly —
    strict consumers reject an overstated size."""
    from video_streamer_spark.operators.multimodal import encode_wav_payloads

    docs = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    payload = bytes(encode_wav_payloads(docs, n_bytes=176).first()["payload"])
    declared = int.from_bytes(payload[4:8], "little")
    assert declared == len(payload) - 8


def test_encode_payload_sizes_survive_non_ascii(spark):
    """ADVICE r4: payload slicing happens on BYTES post-UTF-8-encode, so
    multi-byte characters can't inflate the payload past the size the
    container header declares."""
    from video_streamer_spark.operators.multimodal import (
        decode_frame,
        decode_wav,
        encode_bmp_payloads,
        encode_ppm_payloads,
        encode_wav_payloads,
    )

    docs = spark.createDataFrame(
        [(1, "héllo wörld ünïcode " * 20), (2, "日本語テキスト" * 10)],
        "doc_id long, text string",
    )
    w, h = 8, 4
    for p in encode_ppm_payloads(docs, w, h).collect():
        a = decode_frame(bytes(p["payload"]))
        assert a.shape == (h, w, 3)
    for p in encode_bmp_payloads(docs, w, h).collect():
        buf = bytes(p["payload"])
        assert len(buf) == 54 + w * h * 3
        assert int.from_bytes(buf[2:6], "little") == len(buf)
        assert decode_frame(buf).shape == (h, w, 3)
    for p in encode_wav_payloads(docs, n_bytes=64).collect():
        buf = bytes(p["payload"])
        assert int.from_bytes(buf[4:8], "little") == len(buf) - 8
        assert decode_wav(buf)["samples"].shape[0] == 32


def test_hash_split_awkward_fractions(spark):
    """ADVICE r4: fraction sets whose cumulative boundaries don't round
    cleanly in float (0.3 → 2999.999…) must still cut at the exact
    bucket (3000), matching an integer-boundary recomputation."""
    import hashlib

    from video_streamer_spark.operators.sampling import SAMPLE_BUCKETS, hash_split

    df = spark.range(2000).select(F.col("id").alias("doc_id"))
    got = {
        r["doc_id"]: r["split"]
        for r in hash_split(
            df, {"a": 0.3, "b": 0.3, "c": 0.4}, id_col="doc_id"
        ).collect()
    }

    def bucket(i: int) -> int:
        return int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % SAMPLE_BUCKETS

    for i in range(2000):
        b = bucket(i)
        want = "a" if b < 3000 else ("b" if b < 6000 else "c")
        assert got[i] == want, (i, b, got[i], want)


def _make_png(pix, color_type, filters):
    """Hand-built PNG (independent of the shipped encoder) so the decoder
    is tested against the spec, not against its own inverse."""
    import zlib

    import numpy as np

    from video_streamer_spark.operators.multimodal import _PNG_SIG

    h, w = pix.shape[:2]
    nch = {0: 1, 2: 3, 6: 4}[color_type]
    flat = pix.reshape(h, w * nch).astype(np.int64)

    def chunk(t, d):
        return (
            len(d).to_bytes(4, "big") + t + d
            + (zlib.crc32(t + d) & 0xFFFFFFFF).to_bytes(4, "big")
        )

    lines, prior = [], np.zeros(w * nch, np.int64)
    for y in range(h):
        cur, f = flat[y], filters[y % len(filters)]
        left = np.concatenate([np.zeros(nch, np.int64), cur[:-nch]])
        pleft = np.concatenate([np.zeros(nch, np.int64), prior[:-nch]])
        if f == 0:
            enc = cur
        elif f == 1:
            enc = (cur - left) & 0xFF
        elif f == 2:
            enc = (cur - prior) & 0xFF
        elif f == 3:
            enc = (cur - (left + prior) // 2) & 0xFF
        else:
            p = left + prior - pleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prior), np.abs(p - pleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, pleft)
            )
            enc = (cur - pred) & 0xFF
        lines.append(bytes([f]) + enc.astype(np.uint8).tobytes())
        prior = cur
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes(
        [8, color_type, 0, 0, 0]
    )
    return (
        _PNG_SIG + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + chunk(b"IEND", b"")
    )


def test_decode_png_property_round_trip():
    """Hypothesis property: ANY non-interlaced 8-bit gray/RGB/RGBA PNG
    (random dims, random pixels, every filter type) round-trips through
    decode_png to the exact pixel tensor, with gray broadcast and alpha
    dropped to the uniform (h, w, 3) contract."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from video_streamer_spark.operators.multimodal import decode_frame

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 12),
        h=st.integers(1, 10),
        color_type=st.sampled_from([0, 2, 6]),
        filt=st.sampled_from([[0], [1], [2], [3], [4], [0, 1, 2, 3, 4], [4, 3, 2]]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, color_type, filt, seed):
        nch = {0: 1, 2: 3, 6: 4}[color_type]
        pix = np.random.RandomState(seed).randint(
            0, 256, (h, w, nch)
        ).astype(np.uint8)
        got = decode_frame(_make_png(pix, color_type, filt))
        assert got.shape == (h, w, 3)
        if color_type == 2:
            want = pix
        elif color_type == 0:
            want = np.repeat(pix, 3, axis=2)
        else:
            want = pix[:, :, :3]
        assert (got == want).all()

    check()


def test_decode_png_rejects_corruption_and_unsupported():
    import numpy as np
    import pytest as _pytest

    from video_streamer_spark.operators.multimodal import decode_png

    pix = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    png = _make_png(pix, 2, [4])
    bad = bytearray(png)
    bad[40] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(bad))
    # 16-bit depth is honestly refused, not mis-decoded
    deep = bytearray(png)
    ihdr_off = 8 + 8
    deep[ihdr_off + 8] = 16
    import zlib as _z

    crc = _z.crc32(bytes(deep[ihdr_off - 4 : ihdr_off + 13])) & 0xFFFFFFFF
    deep[ihdr_off + 13 : ihdr_off + 17] = crc.to_bytes(4, "big")
    with _pytest.raises(NotImplementedError, match="16"):
        decode_png(bytes(deep))


def test_encode_png_payloads_real_files(spark):
    """The shipped PNG encoder produces spec-valid files: correct CRCs,
    cycling filters, and a bit-exact lossless round trip of the text
    bytes through deflate."""
    from video_streamer_spark.operators.multimodal import (
        decode_frame,
        encode_png_payloads,
    )

    docs = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog. " * 4),
         (2, "short"), (3, "")],
        "doc_id long, text string",
    )
    w, h = 8, 4
    for r in encode_png_payloads(docs, w, h).collect():
        buf = bytes(r["payload"])
        assert buf[:8] == b"\x89PNG\r\n\x1a\n"
        a = decode_frame(buf)
        assert a.shape == (h, w, 3)
    one = encode_png_payloads(docs.where("doc_id = 1"), w, h).first()
    text = "The quick brown fox jumps over the lazy dog. " * 4
    want = text.encode()[: w * h * 3].ljust(w * h * 3, b".")
    assert decode_frame(bytes(one["payload"])).tobytes() == want


def test_bloom_filter_prunes_without_false_negatives(spark):
    """x86's bloom must admit EVERY true key (no false negatives — that
    would silently drop join rows) while pruning most non-matching fact
    rows (otherwise it's dead weight)."""
    from video_streamer_spark.queries.analytics import bloom_build, bloom_prune

    keys = spark.range(0, 2000, 40).select(F.col("id").alias("k"))  # 50 keys
    facts = spark.range(20000).select((F.col("id") % 2000).alias("fk"))
    bloom = bloom_build(keys, "k")
    pruned = bloom_prune(facts, bloom, "fk")
    true_rows = facts.join(keys, facts["fk"] == keys["k"], "left_semi")
    n_true, n_pruned, n_all = true_rows.count(), pruned.count(), facts.count()
    # every true match survives the bloom
    assert true_rows.join(pruned, "fk", "left_anti").count() == 0
    assert n_pruned >= n_true
    # 50/1024-bit bloom with k=3: false-positive rate ~0.3%; be generous
    assert n_pruned < n_true + 0.2 * (n_all - n_true), (
        f"bloom barely prunes: {n_pruned}/{n_all} survived, {n_true} true"
    )


def test_diff_snapshots_round_trip(spark):
    """diff_snapshots is apply_changeset's exact inverse: applying the
    computed changeset to the old snapshot reproduces the new one, and
    the changeset is minimal (identical rows emit nothing)."""
    from video_streamer_spark.operators import merge as M

    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30), (4, "d", 40)],
        "k long, s string, v long",
    )
    new = spark.createDataFrame(
        [(1, "a", 10), (2, "B", 20), (4, "d", 41), (5, "e", 50)],
        "k long, s string, v long",
    )
    diff = M.diff_snapshots(old, new, ["k"])
    got = {r["k"]: r["__op"] for r in diff.collect()}
    assert got == {2: "U", 3: "D", 4: "U", 5: "I"}  # 1 unchanged -> absent
    applied = M.apply_changeset(old, diff, ["k"])
    assert sorted(map(tuple, applied.collect())) == sorted(
        map(tuple, new.collect())
    )
    # diff of identical snapshots is empty
    assert M.diff_snapshots(new, new, ["k"]).count() == 0


def test_zorder_layout_prunes_both_dims(spark, tmp_path):
    """The physical claim behind x100: a z-ordered layout
    (``optimize_table(zorder_by=...)``, built on ``layout.zorder_value``)
    gives every file a tight min/max bounding box in BOTH dimensions, so
    filters on EITHER column can skip most files — while a single-column
    sort only prunes its own column."""
    import pyarrow.parquet as pq

    from video_streamer_spark.operators.table_format import (
        create_table,
        optimize_table,
        read_table,
    )

    n, files = 4096, 16
    df = spark.range(n).select(
        F.col("id").alias("k"),
        ((F.col("id") % 64 * 16 + F.col("id") % 16) % 1024)
        .cast("bigint")
        .alias("x"),
        ((F.col("id") * 37) % 1024).cast("bigint").alias("y"),
    )
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    # one bucket: every file tiles the same curve / sort range
    for path in (zpath, spath):
        create_table(df, path, ["k"], n_buckets=1)
    optimize_table(spark, zpath, zorder_by=("x", "y"), files_per_bucket=files)
    # comparison layout: sorted by x only
    optimize_table(spark, spath, sort_by="x", files_per_bucket=files)

    def spans(path):
        sx, sy = [], []
        for f in read_table(spark, path).inputFiles():
            t = pq.read_table(f.removeprefix("file://"))
            xs, ys = t.column("x").to_pylist(), t.column("y").to_pylist()
            if xs:
                sx.append(max(xs) - min(xs))
                sy.append(max(ys) - min(ys))
        assert len(sx) > 1
        return sum(sx) / len(sx) / 1024.0, sum(sy) / len(sy) / 1024.0

    zx, zy = spans(zpath)
    px, py = spans(spath)
    # z-order: BOTH dims tight (16 files over a 2-D curve -> ~1/4 span each)
    assert zx < 0.6 and zy < 0.6, (zx, zy)
    # x-sort: x tight but y spans nearly everything
    assert px < 0.3 and py > 0.8, (px, py)


def test_versioned_snapshots_time_travel(spark, tmp_path):
    """Snapshot versioning on the versioned table
    (operators/table_format.py): every commit is a readable version
    (time travel), a crashed write whose manifest never landed is
    never served, and vacuum keeps the newest committed versions while
    sweeping the crashed write's data."""
    import os

    import pytest as _pytest

    from video_streamer_spark.operators import table_format as tf

    def rows(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("key"), (F.col("id") * 10).alias("val")
        )

    def upserts(lo, hi):
        return rows(lo, hi).withColumn("__op", F.lit("I"))

    path = str(tmp_path / "t")
    v1 = tf.create_table(rows(0, 10), path, ["key"], n_buckets=4)
    v2 = tf.merge_table(spark, path, upserts(10, 20))
    assert (v1, v2) == (1, 2)
    assert tf.current_version(path) == 2
    assert tf.read_table(spark, path).count() == 20
    assert tf.read_table(spark, path, 1).count() == 10

    # crashed write: a commit's data landed but no manifest names it
    orphan = os.path.join(path, "data", "commit-crashed")
    rows(0, 99).write.parquet(os.path.join(orphan, "pb=0"))
    assert tf.current_version(path) == 2  # orphan invisible
    assert tf.read_table(spark, path).count() == 20
    with _pytest.raises(FileNotFoundError):
        tf.read_table(spark, path, 3)

    v3 = tf.merge_table(spark, path, upserts(20, 40))
    assert v3 == 3
    # even with a LATER commit over it, the orphan stays unread — the
    # manifest log, not the data directory, decides what exists
    assert tf.read_table(spark, path).count() == 40
    tf.vacuum(path, keep_last=2, min_age_sec=0)
    assert tf.history(path) == [2, 3]
    assert not os.path.exists(orphan)
    assert tf.read_table(spark, path, 2).count() == 20
    assert tf.read_table(spark, path).count() == 40
    with _pytest.raises(tf.VersionVacuumedError):
        tf.read_table(spark, path, 1)  # vacuumed


def test_run_merge_upsert_sink_with_seq(spark, tmp_path):
    """Streaming CDC-apply with per-key HISTORY in one batch: the
    MERGE sink's seq-ordered compaction must apply the highest-sequence
    op per key, deterministically."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from video_streamer_spark.operators import table_format as tf

    path = str(tmp_path / "t")
    src = tmp_path / "changes"
    src.mkdir()
    tf.create_table(
        spark.range(5).select(
            F.col("id").alias("key"), F.lit("base").alias("val")
        ),
        path,
        ["key"],
        n_buckets=4,
    )
    # one batch, key 1 has three ops: U(seq1) -> D(seq2) -> U(seq3 wins)
    pq.write_table(
        pa.table(
            {
                "key": pa.array([1, 1, 1, 2], pa.int64()),
                "__op": pa.array(["U", "D", "U", "D"], pa.string()),
                "val": pa.array(["first", None, "final", None], pa.string()),
                "seq": pa.array([1, 2, 3, 1], pa.int64()),
            }
        ),
        str(src / "f1.parquet"),
    )
    stream = spark.readStream.schema(
        "key long, __op string, val string, seq long"
    ).parquet(str(src))
    tf.run_acid_merge_sink(
        stream, path, ["key"], "seq", str(tmp_path / "ckpt")
    )
    got = {r["key"]: r["val"] for r in tf.read_table(spark, path).collect()}
    assert got[1] == "final"  # highest seq won, not an arbitrary row
    assert 2 not in got
    assert len(got) == 4


def test_jpeg_flat_blocks_bit_exact():
    """x104's exactness contract: flat 8x8 blocks under unit quant
    tables survive DCT -> quant -> Huffman -> decode bit for bit."""
    import numpy as np

    from video_streamer_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    rng = np.random.RandomState(11)
    blocks = rng.randint(0, 256, (4, 8)).astype(np.uint8)
    img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
    out = decode_jpeg(encode_jpeg_gray(img, quant=1))
    assert out.shape == (32, 64, 3)
    assert (out[:, :, 0] == img).all()
    assert (out[:, :, 0] == out[:, :, 1]).all()
    assert (out[:, :, 0] == out[:, :, 2]).all()


def test_jpeg_round_trip_within_quant_bound():
    """Hypothesis property: ANY grayscale image (random dims including
    non-multiples of 8, random pixels) round-trips within a small bound
    at quant=1 and within the quantization error envelope at quant=8.
    This drives the full general path: AC coefficients, zigzag, ZRL/EOB
    runs, byte stuffing, edge-replicate padding."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from video_streamer_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        w=st.integers(1, 40),
        h=st.integers(1, 32),
        quant=st.sampled_from([1, 4, 8]),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, quant, seed):
        img = np.random.RandomState(seed).randint(0, 256, (h, w)).astype(
            np.uint8
        )
        dec = decode_jpeg(encode_jpeg_gray(img, quant=quant))
        assert dec.shape == (h, w, 3)
        err = np.abs(dec[:, :, 0].astype(int) - img.astype(int)).max()
        # worst-case IDCT error ~ quant * 8/2 + rounding slack
        assert err <= quant * 5 + 1, (w, h, quant, err)

    check()


def test_jpeg_color_444_mcu():
    """3-component 4:4:4 path: a hand-built one-MCU color JPEG with
    flat Y/Cb/Cr planes decodes to exactly the BT.601 conversion of
    those values (flat blocks stay exact per component; the RGB mapping
    is the decoder's own formula, recomputed here independently)."""
    import numpy as np

    from video_streamer_spark.operators import jpeg as J

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    y_v, cb_v, cr_v = 120, 90, 180
    q = np.ones(64, dtype=np.uint8)
    dqt = seg(0xDB, bytes([0x00]) + q.tobytes())
    sof = seg(
        0xC0,
        bytes([8]) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
        + bytes([3, 1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(J._STD_DC_LUM[0][1:]) + bytes(J._STD_DC_LUM[1])
        + bytes([0x10]) + bytes(J._STD_AC_LUM[0][1:]) + bytes(J._STD_AC_LUM[1]),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    w = J._BitWriter()
    dc_enc = J._huffman_encoder(*J._STD_DC_LUM)
    ac_enc = J._huffman_encoder(*J._STD_AC_LUM)
    for val in (y_v, cb_v, cr_v):
        dc = (val - 128) * 8  # flat block DC under orthonormal DCT
        # DC prediction is PER COMPONENT (T.81 F.1.1.5.1): first block
        # of each component predicts from 0, so diff == dc here
        size, code = J._magnitude(dc)
        length, hcode = dc_enc[size]
        w.write(hcode, length)
        w.write(code, size)
        length, hcode = ac_enc[0x00]  # EOB
        w.write(hcode, length)
    w.flush()
    jp = b"\xff\xd8" + dqt + sof + dht + sos + bytes(w.out) + b"\xff\xd9"
    out = J.decode_jpeg(jp)
    assert out.shape == (8, 8, 3)
    r = np.clip(round(y_v + 1.402 * (cr_v - 128)), 0, 255)
    g = np.clip(round(y_v - 0.344136 * (cb_v - 128) - 0.714136 * (cr_v - 128)), 0, 255)
    b = np.clip(round(y_v + 1.772 * (cb_v - 128)), 0, 255)
    assert (out == np.array([r, g, b], dtype=np.uint8)).all(), (
        out[0, 0], (r, g, b)
    )


def test_jpeg_refuses_unsupported_variants():
    import numpy as np
    import pytest as _pytest

    from video_streamer_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )

    img = np.zeros((8, 8), dtype=np.uint8)
    jp = bytearray(encode_jpeg_gray(img, quant=1))
    # flip SOF0 -> SOF2 (progressive)
    i = jp.index(b"\xff\xc0")
    jp[i + 1] = 0xC2
    with _pytest.raises(NotImplementedError, match="non-baseline"):
        decode_jpeg(bytes(jp))
    with _pytest.raises(ValueError, match="SOI"):
        decode_jpeg(b"not a jpeg")


def test_avi_mux_demux_decode_round_trip():
    """x105's container contract: mux -> demux is bit-exact on the
    frame payloads, decode_video stacks the per-frame JPEG decodes, and
    the demuxer is a real chunk walker (JUNK/idx1-tolerant, word
    alignment honored), not a fixed-offset reader."""
    import numpy as np

    from video_streamer_spark.operators.jpeg import encode_jpeg_gray
    from video_streamer_spark.operators.video import (
        decode_video,
        demux_avi_frames,
        mux_mjpeg_avi,
    )

    rng = np.random.RandomState(9)
    imgs, frames = [], []
    for _ in range(4):
        blocks = rng.randint(0, 256, (2, 3)).astype(np.uint8)
        img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
        imgs.append(img)
        frames.append(encode_jpeg_gray(img, quant=1))
    avi = mux_mjpeg_avi(frames, 24, 16)
    assert demux_avi_frames(avi) == frames
    v = decode_video(avi)
    assert v.shape == (4, 16, 24, 3)
    for k in range(4):
        assert (v[k, :, :, 0] == imgs[k]).all()

    # odd-sized frame payloads force the RIFF word-alignment pad path
    odd = [f + b"x" if len(f) % 2 == 0 else f for f in frames]
    assert demux_avi_frames(mux_mjpeg_avi(odd, 24, 16)) == odd

    # foreign chunks between frames must be skipped, not misread
    import re

    body_avi = bytearray(mux_mjpeg_avi(frames[:2], 24, 16))
    junk = b"JUNK" + (4).to_bytes(4, "little") + b"pad!"
    i = bytes(body_avi).index(b"movi") + 4
    with_junk = bytes(body_avi[: i]) + junk + bytes(body_avi[i:])
    # fix the RIFF and movi LIST sizes after the splice
    with_junk = bytearray(with_junk)
    riff_size = len(with_junk) - 8
    with_junk[4:8] = riff_size.to_bytes(4, "little")
    movi_list_at = bytes(with_junk).index(b"LIST" + b"\x00\x00\x00\x00"[:0])
    # locate the movi LIST header (the LIST whose kind is movi)
    m = re.search(rb"LIST....movi", bytes(with_junk), re.DOTALL)
    sz = int.from_bytes(with_junk[m.start() + 4 : m.start() + 8], "little")
    with_junk[m.start() + 4 : m.start() + 8] = (sz + len(junk)).to_bytes(
        4, "little"
    )
    assert demux_avi_frames(bytes(with_junk)) == frames[:2]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not an AVI"):
        demux_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")


def test_jpeg_420_subsampled_mcu():
    """4:2:0 path: a hand-built one-MCU 16x16 JPEG (Y sampled 2x2 —
    four luma blocks — plus one Cb and one Cr block) decodes with the
    right MCU data-unit order, per-component DC prediction, and 2x2
    chroma upsample: each 8x8 quadrant carries its own flat Y value
    under constant chroma."""
    import numpy as np

    from video_streamer_spark.operators import jpeg as J

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    y_quads = [60, 100, 160, 220]  # (0,0) (0,1) (1,0) (1,1)
    cb_v, cr_v = 110, 150
    q = np.ones(64, dtype=np.uint8)
    dqt = seg(0xDB, bytes([0x00]) + q.tobytes())
    sof = seg(
        0xC0,
        bytes([8]) + (16).to_bytes(2, "big") + (16).to_bytes(2, "big")
        + bytes([3, 1, 0x22, 0, 2, 0x11, 0, 3, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(J._STD_DC_LUM[0][1:]) + bytes(J._STD_DC_LUM[1])
        + bytes([0x10]) + bytes(J._STD_AC_LUM[0][1:]) + bytes(J._STD_AC_LUM[1]),
    )
    sos = seg(0xDA, bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0]))
    w = J._BitWriter()
    dc_enc = J._huffman_encoder(*J._STD_DC_LUM)
    ac_enc = J._huffman_encoder(*J._STD_AC_LUM)

    def put_block(val, pred):
        dc = (val - 128) * 8
        size, code = J._magnitude(dc - pred)
        length, hcode = dc_enc[size]
        w.write(hcode, length)
        w.write(code, size)
        length, hcode = ac_enc[0x00]
        w.write(hcode, length)
        return dc

    pred_y = 0
    for val in y_quads:  # four Y data units, chained DC prediction
        pred_y = put_block(val, pred_y)
    put_block(cb_v, 0)
    put_block(cr_v, 0)
    w.flush()
    jp = b"\xff\xd8" + dqt + sof + dht + sos + bytes(w.out) + b"\xff\xd9"
    out = J.decode_jpeg(jp)
    assert out.shape == (16, 16, 3)

    def rgb(y):
        r = np.clip(round(y + 1.402 * (cr_v - 128)), 0, 255)
        g = np.clip(
            round(y - 0.344136 * (cb_v - 128) - 0.714136 * (cr_v - 128)),
            0, 255,
        )
        b = np.clip(round(y + 1.772 * (cb_v - 128)), 0, 255)
        return np.array([r, g, b], dtype=np.uint8)

    quads = {(0, 0): y_quads[0], (0, 1): y_quads[1],
             (1, 0): y_quads[2], (1, 1): y_quads[3]}
    for (qy, qx), yv in quads.items():
        block = out[qy * 8 : qy * 8 + 8, qx * 8 : qx * 8 + 8]
        assert (block == rgb(yv)).all(), (qy, qx, block[0, 0], rgb(yv))


def test_jpeg_restart_markers():
    """DRI/RSTn: a hand-built two-MCU grayscale JPEG with restart
    interval 1 — pad bits to the byte boundary, RST0 between MCUs, DC
    predictor reset — decodes both blocks exactly."""
    import numpy as np

    from video_streamer_spark.operators import jpeg as J

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    v1, v2 = 77, 200
    q = np.ones(64, dtype=np.uint8)
    dqt = seg(0xDB, bytes([0x00]) + q.tobytes())
    sof = seg(
        0xC0,
        bytes([8]) + (8).to_bytes(2, "big") + (16).to_bytes(2, "big")
        + bytes([1, 1, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00]) + bytes(J._STD_DC_LUM[0][1:]) + bytes(J._STD_DC_LUM[1])
        + bytes([0x10]) + bytes(J._STD_AC_LUM[0][1:]) + bytes(J._STD_AC_LUM[1]),
    )
    dri = seg(0xDD, (1).to_bytes(2, "big"))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dc_enc = J._huffman_encoder(*J._STD_DC_LUM)
    ac_enc = J._huffman_encoder(*J._STD_AC_LUM)

    def block_bits(val):
        w = J._BitWriter()
        dc = (val - 128) * 8  # predictor is 0 at segment start
        size, code = J._magnitude(dc)
        length, hcode = dc_enc[size]
        w.write(hcode, length)
        w.write(code, size)
        length, hcode = ac_enc[0x00]
        w.write(hcode, length)
        w.flush()
        return bytes(w.out)

    scan = block_bits(v1) + b"\xff\xd0" + block_bits(v2)
    jp = b"\xff\xd8" + dqt + sof + dht + dri + sos + scan + b"\xff\xd9"
    out = J.decode_jpeg(jp)
    assert out.shape == (8, 16, 3)
    assert (out[:, :8, 0] == v1).all()
    assert (out[:, 8:, 0] == v2).all()


def test_mp4_mux_demux_decode_round_trip():
    """x119's container contract: the ISO BMFF mux -> demux walk is
    bit-exact on sample payloads, the sample-table path (stsd/stsz/
    stsc/stco) locates every frame, and the decoded tensor matches the
    per-frame JPEG decode."""
    import numpy as np

    from video_streamer_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_gray,
    )
    from video_streamer_spark.operators.mp4 import (
        demux_mp4_frames,
        mux_mjpeg_mp4,
        probe_mp4,
    )
    from video_streamer_spark.operators.video import decode_video

    rng = np.random.default_rng(7)
    frames = [
        encode_jpeg_gray(
            np.repeat(
                np.repeat(
                    rng.integers(0, 255, (2, 3)).astype(np.uint8), 8, axis=0
                ),
                8,
                axis=1,
            ),
            quant=1,
        )
        for _ in range(4)
    ]
    payload = mux_mjpeg_mp4(frames, 24, 16, fps=25)
    assert demux_mp4_frames(payload) == frames
    v = decode_video(payload)
    assert v.shape == (4, 16, 24, 3)
    for k, f in enumerate(frames):
        assert (v[k] == decode_jpeg(f)).all()
    meta = probe_mp4(payload)
    assert meta == {
        "codec": "jpeg", "width": 24, "height": 16,
        "n_samples": 4, "duration_ms": 160,
    }


def test_mp4_demux_tolerates_extra_boxes_and_co64():
    """The box walker must locate samples regardless of free/skip boxes
    and must honor 64-bit co64 chunk offsets."""
    import struct

    import numpy as np

    from video_streamer_spark.operators.jpeg import encode_jpeg_gray
    from video_streamer_spark.operators.mp4 import (
        demux_mp4_frames,
        mux_mjpeg_mp4,
    )

    img = np.full((8, 8), 128, dtype=np.uint8)
    frames = [encode_jpeg_gray(img, quant=1) for _ in range(2)]
    payload = mux_mjpeg_mp4(frames, 8, 8)

    # insert a free box between ftyp and mdat, fixing up stco offsets
    ftyp_len = struct.unpack_from(">I", payload, 0)[0]
    free = struct.pack(">I", 16) + b"free" + bytes(8)
    shifted = bytearray(payload[:ftyp_len] + free + payload[ftyp_len:])
    # patch stco entries (+16) — scan for the stco box
    i = bytes(shifted).find(b"stco")
    n = struct.unpack_from(">I", shifted, i + 8)[0]
    for k in range(n):
        off = struct.unpack_from(">I", shifted, i + 12 + 4 * k)[0]
        struct.pack_into(">I", shifted, i + 12 + 4 * k, off + 16)
    assert demux_mp4_frames(bytes(shifted)) == frames

    # co64 variant: rewrite the stco box as co64 with 64-bit offsets
    i = payload.find(b"stco")
    box_start = i - 4
    size = struct.unpack_from(">I", payload, box_start)[0]
    n = struct.unpack_from(">I", payload, i + 8)[0]
    offs = [
        struct.unpack_from(">I", payload, i + 12 + 4 * k)[0]
        for k in range(n)
    ]
    co64_body = struct.pack(">B3sI", 0, b"\x00\x00\x00", n) + b"".join(
        struct.pack(">Q", o) for o in offs
    )
    co64 = struct.pack(">I", len(co64_body) + 8) + b"co64" + co64_body
    grown = len(co64) - size
    out = bytearray(payload[:box_start] + co64 + payload[box_start + size:])
    # grow every enclosing container box (moov/trak/mdia/minf/stbl)
    for fourcc in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        j = bytes(out).find(fourcc)
        struct.pack_into(
            ">I", out, j - 4, struct.unpack_from(">I", out, j - 4)[0] + grown
        )
    assert demux_mp4_frames(bytes(out)) == frames


def test_mp4_codec_formats_refuse_by_name():
    """Inter-coded sample entries must refuse with the codec named —
    the env boundary is the codec library, not the container."""
    import numpy as np
    import pytest

    from video_streamer_spark.operators.jpeg import encode_jpeg_gray
    from video_streamer_spark.operators.mp4 import (
        demux_mp4_frames,
        mux_mjpeg_mp4,
    )

    img = np.full((8, 8), 10, dtype=np.uint8)
    payload = mux_mjpeg_mp4([encode_jpeg_gray(img, quant=1)], 8, 8)
    for codec in (b"avc1", b"hev1"):
        bad = payload.replace(b"jpeg", codec, 1)
        with pytest.raises(NotImplementedError, match=codec.decode()):
            demux_mp4_frames(bad)


def test_fmp4_fragmented_mux_demux_round_trip():
    """Fragmented MP4 (the DASH/HLS segment shape): init segment with
    EMPTY sample tables + per-fragment moof/mdat; the demuxer must
    locate samples via tfhd (default-base-is-moof) + trun
    (data_offset + per-sample sizes), and the probe must count samples
    from the trun headers."""
    import numpy as np

    from video_streamer_spark.operators.jpeg import encode_jpeg_gray
    from video_streamer_spark.operators.mp4 import (
        demux_mp4_frames,
        mux_mjpeg_fmp4,
        probe_mp4,
    )
    from video_streamer_spark.operators.video import decode_video

    rng = np.random.default_rng(11)
    frames = [
        encode_jpeg_gray(
            np.repeat(
                np.repeat(
                    rng.integers(0, 255, (2, 2)).astype(np.uint8), 8, axis=0
                ),
                8,
                axis=1,
            ),
            quant=1,
        )
        for _ in range(5)  # 3 fragments: 2 + 2 + 1 samples
    ]
    payload = mux_mjpeg_fmp4(frames, 16, 16, fps=25, frames_per_fragment=2)
    assert demux_mp4_frames(payload) == frames
    assert decode_video(payload).shape == (5, 16, 16, 3)
    meta = probe_mp4(payload)
    assert meta["n_samples"] == 5
    assert meta["codec"] == "jpeg"
    assert meta["duration_ms"] == 200


def test_decode_video_stats_quarantines_corrupt_payloads(spark):
    """skip_corrupt=True must isolate bad payloads per ROW: valid
    videos decode normally, truncated/garbage/codec-only payloads land
    in the error column with null stats, and the task never dies."""
    import numpy as np

    from video_streamer_spark.operators.jpeg import encode_jpeg_gray
    from video_streamer_spark.operators.mp4 import mux_mjpeg_mp4
    from video_streamer_spark.operators.video import (
        decode_video_stats,
        mux_mjpeg_avi,
    )

    img = np.full((8, 8), 100, dtype=np.uint8)
    jpg = encode_jpeg_gray(img, quant=1)
    good_avi = mux_mjpeg_avi([jpg], 8, 8)
    good_mp4 = mux_mjpeg_mp4([jpg], 8, 8)
    rows = [
        (1, bytearray(good_avi)),
        (2, bytearray(good_mp4)),
        (3, bytearray(good_avi[: len(good_avi) // 2])),  # truncated
        (4, bytearray(b"not a container at all")),
        (5, bytearray(good_mp4.replace(b"jpeg", b"avc1", 1))),  # codec-only
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = {
        r["doc_id"]: r
        for r in decode_video_stats(df, skip_corrupt=True).collect()
    }
    assert len(out) == 5
    assert out[1]["error"] is None and out[1]["pixel_sum"] == 100 * 64 * 3
    assert out[2]["error"] is None and out[2]["n_frames"] == 1
    assert out[3]["error"] and out[3]["pixel_sum"] is None
    assert "container" in out[4]["error"]
    assert "avc1" in out[5]["error"] and "codec" in out[5]["error"]

    # strict mode still fails loudly on the same input
    import pytest

    with pytest.raises(Exception):
        decode_video_stats(df).collect()


# --------------------------------------------------------------------------
# round-5b corpus-curation operators (x142-x146 backing functions)


def test_ngram_decontaminate_edges(spark):
    from pyspark.sql import functions as F

    from video_streamer_spark.operators.dedup import ngram_decontaminate

    rows = [
        (0, "alpha beta gamma delta epsilon"),   # eval
        (1, "alpha beta gamma delta epsilon"),   # train, identical -> hit
        (2, "zeta eta theta iota kappa"),        # train, disjoint -> clean
        (3, "alpha beta gamma"),                 # train, < k tokens -> clean
        (4, "x alpha beta gamma delta y"),       # train, shares a 4-gram
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["contaminated"]
        for r in ngram_decontaminate(
            docs, is_eval=F.col("doc_id") == 0, shingle_k=4
        ).collect()
    }
    assert out == {1: True, 2: False, 3: False, 4: True}

    # empty eval set: every train row is clean
    clean = ngram_decontaminate(
        docs, is_eval=F.lit(False), shingle_k=4
    ).collect()
    assert len(clean) == 5 and not any(r["contaminated"] for r in clean)


def test_canonical_selection_tie_breaks(spark):
    from video_streamer_spark.operators.dedup import canonical_selection

    rows = [
        (10, "same text", 9),
        (11, "same text", 12),   # longest -> keeper
        (12, "same text", 12),   # same length, higher id -> loses
        (20, "unique", 6),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, n_chars long")
    out = {r["doc_id"]: r for r in canonical_selection(docs).collect()}
    assert set(out) == {11, 20}
    assert out[11]["group_size"] == 3
    assert out[20]["group_size"] == 1


def test_mixture_rebalance_rates(spark):
    from pyspark.sql import functions as F

    from video_streamer_spark.operators.sampling import mixture_rebalance

    # 'big' holds 9x the tokens of 'small'; under a 50% budget with
    # uniform targets, 'small' is below target (rate 1.0, keeps all),
    # 'big' is capped.
    rows = [(i, "big" if i < 90 else "small", "w " * 10) for i in range(100)]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in mixture_rebalance(docs, budget_frac=0.5).collect()}
    assert out["small"]["accept_rate"] == 1.0
    assert out["small"]["n_kept"] == out["small"]["n_docs"]
    assert 0.0 < out["big"]["accept_rate"] < 1.0
    assert out["big"]["n_kept"] < out["big"]["n_docs"]
    # budget respected in expectation: big's target is ~1/2 of half the
    # corpus; the hash sample keeps within a loose band of it
    assert out["big"]["tokens_kept"] <= out["big"]["tokens_total"]


def test_repetition_signals_crafted(spark):
    from video_streamer_spark.operators.text import repetition_signals

    rows = [
        (1, "a a a a"),                    # top 2-gram 'a a' x3, all 3-grams dup
        (2, "a b c d e f g h i j k"),      # no repetition, long enough that
                                           # 2/n_tokens clears the 0.2 cut
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_signals(docs).collect()}
    assert out[1]["top2_count"] == 3
    assert out[1]["top2_frac"] == 1.5  # 2*3/4
    assert out[1]["dup3_frac"] == 1.0
    assert not out[1]["keep"]
    assert out[2]["top2_count"] == 1
    assert out[2]["dup3_frac"] == 0.0
    assert out[2]["keep"]


def test_semantic_dedup_by_cluster_blocks(spark):
    from video_streamer_spark.operators.similarity import (
        semantic_dedup_by_cluster,
    )

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [1.0, 0.0], 0),   # identical to 1, same cluster -> dropped
        (3, [0.0, 1.0], 0),   # orthogonal -> kept
        (4, [1.0, 0.0], 1),   # identical to 1 but OTHER cluster -> kept
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {
        r["label"]: r
        for r in semantic_dedup_by_cluster(
            emb, cluster_col="label", threshold=0.95
        ).collect()
    }
    assert out[0]["n_vecs"] == 3 and out[0]["n_dropped"] == 1
    assert out[1]["n_vecs"] == 1 and out[1]["n_dropped"] == 0


def test_bpe_merge_rule_non_overlapping_and_tiebreak(spark):
    """BPE fold-merge must be left-to-right NON-overlapping ('aaaa' with
    pair (a,a) -> [aa, aa], not three overlapping merges) and ties must
    break (count desc, left asc, right asc)."""
    from video_streamer_spark.operators.text import bpe_train_merges

    docs = spark.createDataFrame(
        [(1, "aaaa ab")], "doc_id bigint, text string"
    )
    out = {r.merge_rank: r for r in bpe_train_merges(docs, n_merges=2).collect()}
    # round 1: (a,a) appears 3x in 'aaaa' (overlap-counted), (a,b) 1x
    assert (out[1].l, out[1].r, out[1].n) == ("a", "a", 3)
    # after merging: 'aaaa' -> [aa, aa]; 'ab' -> [a, b]
    # round 2 pairs: (aa,aa)=1 and (a,b)=1 -> tie, 'a' < 'aa' wins
    assert (out[2].l, out[2].r, out[2].n) == ("a", "b", 1)


def test_greedy_round_budget_refuses_loudly(spark):
    """r13 VERDICT item 7: each greedy round is one driver-blocking
    Spark job, so a k=10⁴ caller must get a loud refusal BEFORE any
    job runs — not a 10⁴-job driver loop. max_rounds overrides the
    budget explicitly."""
    import pytest

    from video_streamer_spark.operators.text import (
        MAX_GREEDY_ROUNDS,
        bpe_train_merges,
        greedy_coverage_selection,
    )

    docs = spark.createDataFrame(
        [(1, "a b c")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="driver-blocking"):
        bpe_train_merges(docs, n_merges=MAX_GREEDY_ROUNDS + 1)
    with pytest.raises(ValueError, match="driver-blocking"):
        greedy_coverage_selection(docs, n_select=10_000)
    # explicit override owns the cost (degenerate corpus ends round 1)
    assert (
        bpe_train_merges(
            docs, n_merges=MAX_GREEDY_ROUNDS + 1,
            max_rounds=MAX_GREEDY_ROUNDS + 1,
        ).count()
        == 0
    )


def test_iterative_model_ops_survive_degenerate_inputs(spark):
    """BPE, coverage selection, and MMR must return well-formed (possibly
    short) results when the corpus can't sustain every round — no
    crashes, no phantom rows."""
    import pyspark.sql.functions as SF

    from video_streamer_spark.operators.similarity import mmr_rerank
    from video_streamer_spark.operators.text import (
        bpe_train_merges,
        greedy_coverage_selection,
    )

    # single-char vocabulary: zero mergeable pairs -> empty merge table
    tiny = spark.createDataFrame([(1, "a b a")], "doc_id bigint, text string")
    assert bpe_train_merges(tiny, n_merges=2).count() == 0

    # fewer docs with shingles than selection rounds -> truncated output
    short = spark.createDataFrame(
        [(1, "one two three four"), (2, "x")], "doc_id bigint, text string"
    )
    sel = greedy_coverage_selection(short, n_select=3).collect()
    assert [r.sel_rank for r in sel] == [1]
    assert sel[0].doc_id == 1

    # pool smaller than k -> as many rounds as candidates
    vecs = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(3)],
        "vec_id bigint, embedding array<float>",
    )
    mmr = mmr_rerank(vecs, SF.col("vec_id") == 0, k=5, pool=20).collect()
    assert [r.sel_rank for r in mmr] == [1, 2]


def test_containment_pairs_contract(spark):
    """containment_pairs finds token-aligned verbatim containment, orients
    identical twins doc_a < doc_b, and (documented recall bound) does
    NOT claim non-token-aligned substrings."""
    from video_streamer_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "prefix words the quick brown fox jumps and more"),
            (3, "identical twin text here"),
            (4, "identical twin text here"),
            # contains doc 1's text mid-token ("Xthe quick...jumpsY"):
            # raw substring yes, token-aligned no -> found anyway? no:
            # shingles of doc 1 ARE present as shingles of doc 5? doc 5
            # tokens: [Xthe, quick, brown, fox, jumpsY] -> 'the quick brown'
            # is NOT one of its shingles -> no candidate, documented miss
            (5, "Xthe quick brown fox jumpsY"),
        ],
        "doc_id bigint, text string",
    )
    got = sorted(
        (r.doc_a, r.doc_b)
        for r in containment_pairs(docs, shingle_k=3).collect()
    )
    assert got == [(1, 2), (3, 4)], got


def test_ivf_index_upsert_touches_only_affected_cells(spark, tmp_path):
    """Vector upsert must rewrite ONLY the touched cell= partitions
    (others' files untouched on disk), apply last-write-wins per
    vec_id including cell MOVES (old home emptied or rewritten), and
    leave search results equal to a fresh rebuild of the same logical
    table."""
    import os

    import pyspark.sql.functions as SF

    from tests.conftest import SF_ORACLE
    from video_streamer_spark.catalog import table
    from video_streamer_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
        ivf_index_upsert,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    path = str(tmp_path / "idx")
    ivf_index_build(emb, path, n_cells=16)

    # delta: vectors 0-9 get REVERSED embeddings (deterministic, likely
    # to move cells), vector 10000 is brand new
    delta = emb.where(SF.col("vec_id") < 10).select(
        "vec_id", SF.reverse("embedding").alias("embedding"), "label"
    ).unionByName(
        emb.where(SF.col("vec_id") == 20).select(
            (SF.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
        )
    )

    before = {}
    for d in os.listdir(path):
        if d.startswith("cell="):
            full = os.path.join(path, d)
            before[d] = sorted(os.listdir(full))

    touched = ivf_index_upsert(emb, path, delta, n_cells=16)

    for d, files in before.items():
        cell = int(d.split("=")[1])
        if cell not in touched and os.path.exists(os.path.join(path, d)):
            assert sorted(os.listdir(os.path.join(path, d))) == files, d

    # logical table after upsert == base minus delta ids plus delta
    logical = emb.join(
        delta.select("vec_id"), "vec_id", "left_anti"
    ).unionByName(delta)
    rebuild = str(tmp_path / "idx2")
    ivf_index_build(logical, rebuild, n_cells=16)
    q = emb.where(SF.col("vec_id").isin(11, 12, 13))
    got = sorted(
        tuple(r)
        for r in ivf_index_search(emb, path, q, k=3, n_cells=16).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_index_search(emb, rebuild, q, k=3, n_cells=16).collect()
    )
    assert got == want
    # no duplicate vec_ids anywhere in the index
    idx = spark.read.parquet(path)
    assert idx.count() == idx.select("vec_id").distinct().count()


def test_ivf_index_upsert_crash_recovery(spark, tmp_path):
    """A crash mid-swap must not lose surviving non-delta rows: simulate
    dying between the two swap renames (cell=c renamed to cell=c.old,
    staged copy not yet moved in) plus a leftover staging dir, then
    re-apply the SAME delta and require the index to equal a fresh
    rebuild of the logical table (r5 ADVICE: the old dynamic-overwrite
    path lost the cell's survivors permanently here)."""
    import os
    import shutil

    import pyspark.sql.functions as SF

    from tests.conftest import SF_ORACLE
    from video_streamer_spark.catalog import table
    from video_streamer_spark.operators.similarity import (
        ivf_index_build,
        ivf_index_search,
        ivf_index_upsert,
    )

    emb = table(spark, SF_ORACLE, "embeddings")
    path = str(tmp_path / "idx")
    ivf_index_build(emb, path, n_cells=16)

    delta = emb.where(SF.col("vec_id") < 10).select(
        "vec_id", SF.reverse("embedding").alias("embedding"), "label"
    )

    # simulate the torn state: pick a touched cell, leave only its .old
    # backup plus a stale half-written staging dir
    victim = next(
        d for d in sorted(os.listdir(path)) if d.startswith("cell=")
    )
    os.rename(os.path.join(path, victim), os.path.join(path, victim + ".old"))
    staging = path.rstrip("/") + ".upsert-tmp"
    os.makedirs(os.path.join(staging, victim))
    with open(os.path.join(staging, victim, "part-garbage.parquet"), "w") as f:
        f.write("torn write")

    ivf_index_upsert(emb, path, delta, n_cells=16)

    assert not os.path.exists(staging)
    assert not any(d.endswith(".old") for d in os.listdir(path))

    logical = emb.join(
        delta.select("vec_id"), "vec_id", "left_anti"
    ).unionByName(delta)
    rebuild = str(tmp_path / "idx2")
    ivf_index_build(logical, rebuild, n_cells=16)
    q = emb.where(SF.col("vec_id").isin(11, 12, 13))
    got = sorted(
        tuple(r)
        for r in ivf_index_search(emb, path, q, k=3, n_cells=16).collect()
    )
    want = sorted(
        tuple(r)
        for r in ivf_index_search(emb, rebuild, q, k=3, n_cells=16).collect()
    )
    assert got == want
    idx = spark.read.parquet(path)
    assert idx.count() == idx.select("vec_id").distinct().count()
    shutil.rmtree(rebuild, ignore_errors=True)


def test_concurrent_queries_are_thread_safe(spark):
    """An engine serves parallel clients: eight different queries
    submitted from eight threads against one SparkSession must all
    return their (independently recomputed) single-thread results."""
    import concurrent.futures as cf

    from tests.conftest import SF_ORACLE

    names = [
        "q01_scan_filter", "q03_multijoin_region_counts",
        "q13_distinct_users_per_type", "q16_exact_dedup_stats",
        "x10_quality_scores", "x24_approx_distinct",
        "x41_bpe_token_counts", "x83_string_agg_nations",
    ]
    want = {
        n: sorted(map(tuple, QUERIES[n](spark, SF_ORACLE).collect()))
        for n in names
    }

    def run(n):
        return n, sorted(map(tuple, QUERIES[n](spark, SF_ORACLE).collect()))

    with cf.ThreadPoolExecutor(max_workers=8) as ex:
        got = dict(ex.map(run, names))
    assert got == want


def test_winnowing_guarantee_shared_run_shares_fingerprint(spark):
    """The winnowing theorem: two documents sharing a token run of at
    least w + k - 1 (= 5 here) MUST share a selected fingerprint."""
    from video_streamer_spark.operators.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon"  # 5-token shared run
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three four five six"),
            (2, f"seven eight nine ten {shared} eleven"),
        ],
        "doc_id bigint, text string",
    )
    sel = winnowing_fingerprints(docs, window=4, shingle_k=2).collect()
    fps = {1: set(), 2: set()}
    for r in sel:
        fps[r.doc_id].add(r.fp)
    assert fps[1] & fps[2], sel


def test_asof_join_quotes_awkward_column_names(spark):
    """asof_join interpolates caller column names into SQL strings; they
    ride in backticks so dashes/keywords survive (review regression)."""
    from video_streamer_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b")], ["k", "ts", "select"]
    )
    right = spark.createDataFrame(
        [(1, 5.0, "early"), (1, 15.0, "late")], ["k", "ts", "my-col"]
    )
    got = {
        (r["k"], r["ts"], r["my-col_asof"])
        for r in asof_join(left, right, on=["k"], right_cols=["my-col"]).collect()
    }
    assert got == {(1, 10.0, "early"), (1, 20.0, "late")}


def test_x195_entropy_ignores_empty_documents(spark, tmp_path):
    """Spark's sequence(1, 0) yields [1, 0] (descending default step):
    without the length guard an empty document would emit two phantom
    ''-char rows and a bogus rollup row DuckDB never produces. Both
    engines must drop empty docs entirely."""
    import duckdb

    from video_streamer_spark.queries import ORACLES, QUERIES

    docs = spark.createDataFrame(
        [(1, "aab", "en", "s", 3), (2, "", "en", "s", 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    got = {
        tuple(r)
        for r in QUERIES["x195_char_entropy_quality"](spark, sf).collect()
    }
    assert {r[0] for r in got} == {1}, "empty doc must produce no row"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    want = {tuple(r) for r in con.execute(
        ORACLES["x195_char_entropy_quality"]).fetchall()}
    assert got == want


def test_motion_estimation_survives_perturbation(spark):
    """Block matching must recover the planted shift even when frame 2
    is not an exact copy (one corrupted block): SAD at the true shift
    becomes nonzero but stays the minimum."""
    import numpy as np
    import pandas as pd

    from video_streamer_spark.operators import video
    from video_streamer_spark.operators.jpeg import encode_jpeg_gray

    n, bw, bh = 32, 8, 4
    vals = (8 * np.arange(n, dtype=np.int64) + 3).astype(np.uint8)
    blocks = vals.reshape(bh, bw)
    f1 = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
    shifted = np.roll(blocks, (1, -2), axis=(0, 1))
    shifted = shifted.copy()
    shifted[0, 0] = (int(shifted[0, 0]) + 40) % 251  # corrupt one block
    f2 = np.repeat(np.repeat(shifted, 8, axis=0), 8, axis=1)
    payload = video.mux_mjpeg_avi(
        [encode_jpeg_gray(f1, quant=1), encode_jpeg_gray(f2, quant=1)],
        bw * 8,
        bh * 8,
    )
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [7], "payload": [payload]})
    )
    r = video.estimate_global_motion(df).collect()[0]
    assert (r["mv_dx_blocks"], r["mv_dy_blocks"]) == (-2, 1)
    assert r["sad_min"] > 0


def test_pii_patterns_match_their_seeds():
    """Every PII_PATTERNS entry must match the shape x220 seeds for it
    (r8 shipped a 3-4-4 phone seed against a 3-3-4 pattern, so the
    <PHONE> path was silently green-but-unexercised — ADVICE r9). The
    patterns live in the Java∩RE2 subset, where Python `re` agrees."""
    import re

    from video_streamer_spark.operators.text import PII_PATTERNS

    seeds = {
        "email": "user123@example.com",      # doc_id % 3 seed
        "phone": "555-042-0042",             # doc_id % 5 seed (3-3-4)
        "ipv4": "10.0.42.7",                 # doc_id % 7 seed
    }
    assert set(seeds) == set(PII_PATTERNS)
    for kind, seed in seeds.items():
        m = re.search(PII_PATTERNS[kind], seed)
        assert m is not None, f"{kind} pattern must match its seed {seed!r}"
        assert m.group(0) == seed, (
            f"{kind} pattern must consume the whole seed, "
            f"got {m.group(0)!r} from {seed!r}"
        )


def test_pii_scrub_counts_match_redactions(spark):
    """n_<kind> counts are staged on the progressively-redacted text,
    so each count equals the number of <KIND> tokens actually emitted:
    a phone-shaped digit run INSIDE an email is redacted as part of
    the email and must not inflate n_phone (ADVICE r9)."""
    import pandas as pd

    from video_streamer_spark.operators.text import pii_scrub

    rows = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                "a@b.co then 555-123-4567 at 1.2.3.4",
                # phone-shaped run inside the email local part:
                # counted on raw text, but the email redaction
                # swallows it — staged n_phone must be 0.
                "reach 999-555-1234@mail.example.com ok",
                # ipv4-shaped run inside the email domain.
                "u@1.2.3.4.com trailing",
            ],
        }
    )
    got = {
        r["doc_id"]: r
        for r in pii_scrub(spark.createDataFrame(rows)).collect()
    }
    r1 = got[1]
    assert (r1["n_email"], r1["n_phone"], r1["n_ipv4"]) == (1, 1, 1)
    assert r1["redacted"] == "<EMAIL> then <PHONE> at <IPV4>"
    r2 = got[2]
    assert (r2["n_email"], r2["n_phone"], r2["n_ipv4"]) == (1, 0, 0)
    assert r2["redacted"] == "reach <EMAIL> ok"
    r3 = got[3]
    assert (r3["n_email"], r3["n_ipv4"]) == (1, 0)
    assert r3["redacted"] == "<EMAIL> trailing"


def test_lifecycle_scratch_is_bounded_to_one_run(spark):
    """Lifecycle queries build a fresh table, index or journal per
    invocation; a long-lived session must not keep every historical
    copy. Two consecutive invocations must leave exactly ONE run dir in
    the query's (app, sf) slot, and a stale app dir under the scratch
    root must be swept."""
    import os
    import time

    from tests.conftest import SF_SMOKE
    from video_streamer_spark import scratch
    from video_streamer_spark.queries import QUERIES

    for name, kind in (
        ("x214_bloom_pruned_lookup", "bloom"),
        ("x215_tombstone_delete_read", "tomb"),
        ("x210_acid_snapshot_merge", "acid"),
        ("x211_table_change_feed", "cdf"),
        ("x212_optimized_pruned_range_read", "zonemap"),
        ("x196_incremental_rollup", "incr"),
        ("x204_incremental_join_view", "incr-join"),
    ):
        # plant a dead session's app dir, aged past the staleness horizon
        stale = os.path.join(scratch.root(), "dead-app")
        os.makedirs(os.path.join(stale, f"{kind}-slot"), exist_ok=True)
        old = time.time() - 2 * scratch.STALE_SECS
        os.utime(stale, (old, old))
        for _ in range(2):
            QUERIES[name](spark, SF_SMOKE).count()
        assert not os.path.exists(stale), f"{name}: stale app dir not swept"
        runs = sorted(os.listdir(scratch.slot(spark, SF_SMOKE, kind)))
        assert len(runs) == 1, f"{name}: leaked run dirs {runs}"


def test_prebuilt_table_cleans_staging_on_failed_build(spark):
    """A build(stage) that raises must not leak its .building-* staging
    dir — a leaked half-built table wastes disk and confuses the next
    reader of the slot listing — and must leave the slot unbuilt."""
    import glob
    import os

    import pytest

    from tests.conftest import SF_SMOKE
    from video_streamer_spark import scratch

    def bad_build(stage: str) -> None:
        os.makedirs(stage)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError, match="boom"):
        scratch.built_dir(spark, SF_SMOKE, "failkind-test", bad_build)
    path = scratch.slot(spark, SF_SMOKE, "failkind-test")
    leaked = glob.glob(f"{path}.building-*")
    assert not leaked, f"staging dirs leaked: {leaked}"
    assert not os.path.exists(path)


def test_lsh_bucket_cache_bounded_to_one(spark):
    """embedding_near_pairs_lsh persists its bucket table for the two
    join sides; repeated calls in a long-lived session must EVICT the
    previous call's cache instead of accumulating storage (ADVICE r9):
    at most one LSH bucket table is cached after any number of calls."""
    import pandas as pd

    from video_streamer_spark.operators import similarity

    rows = pd.DataFrame(
        {
            "vec_id": range(40),
            "embedding": [
                [float((i * 7 + j) % 5) for j in range(8)] for i in range(40)
            ],
        }
    )
    from video_streamer_spark.functions import caching

    evicted = []
    for r in range(3):
        # a DIFFERENT input per call: identical inputs share one
        # canonicalized cache entry anyway — accumulation (the ADVICE
        # leak) only happens across distinct plans
        df = spark.createDataFrame(rows.assign(vec_id=rows.vec_id + 100 * r))
        if "lsh-buckets" in caching._POOLS:
            evicted.append(caching._POOLS["lsh-buckets"])
        similarity.embedding_near_pairs_lsh(
            df, dim=8, threshold=0.9, n_planes=3, n_tables=2
        ).count()
    live = caching._POOLS["lsh-buckets"]
    assert live.storageLevel.useMemory or live.storageLevel.useDisk
    for old in evicted:  # every prior call's table was unpersisted
        lvl = old.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), (
            "a previous LSH bucket table is still cached — eviction broken"
        )


def test_iterative_pools_shrink_with_fewer_rounds(spark):
    """Per-round pools are named ``<site>-r<i>``: a pagerank run with
    fewer rounds than the previous one must not leave the previous
    run's higher rounds cached (5 rounds persist r0..r3; a following
    2-round run needs only r0)."""
    from video_streamer_spark.functions import caching
    from video_streamer_spark.operators.dedup import pagerank_iterations

    nodes = spark.range(1, 7).select(F.col("id").alias("node"))
    edges = nodes.select(
        F.col("node").alias("src"), (F.col("node") % 6 + 1).alias("dst")
    )
    pagerank_iterations(nodes, edges, n_iter=5).count()
    stale = [caching._POOLS[f"pagerank-r{i}"] for i in (2, 3)]
    pagerank_iterations(nodes, edges, n_iter=2).count()
    rounds = sorted(p for p in caching._POOLS if p.startswith("pagerank-r"))
    assert rounds == ["pagerank-r0"], rounds
    for df in stale:
        lvl = df.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), "stale round still cached"


def test_session_cache_footprint_is_bounded_across_repeats(spark):
    """The round-9 persist audit: every operator that persists a
    mid-plan table now routes through a session-bounded pool (or
    retires its iteration caches), so REPEATED invocations — the bench
    loop, the driver's 50-query sample — must not grow executor
    storage. Before the fix each call of each site leaked one cached
    table."""
    from tests.conftest import SF_SMOKE
    from video_streamer_spark.queries import QUERIES

    names = [
        "x02_dedup_minhash_pairs",      # pooled band table
        "x165_rake_keywords",           # pooled phrase table
        "x166_winnowing_fingerprints",  # pooled gram table
        "x153_bpe_train_merges",        # iterative retire + pooled final
        "x156_coverage_selection",      # fully-internal unpersist
    ]
    jsc = spark.sparkContext._jsc.sc()

    def n_cached() -> int:
        return len(jsc.getRDDStorageInfo())

    for name in names:  # warm: fills each site's pool once
        QUERIES[name](spark, SF_SMOKE).count()
    base = n_cached()
    for _ in range(2):
        for name in names:
            QUERIES[name](spark, SF_SMOKE).count()
    after = n_cached()
    assert after <= base, (
        f"cached tables grew {base} -> {after} across repeats — a "
        "persist site escaped the bounded pool"
    )


def test_brute_topk_guards_query_side(spark):
    """brute_topk broadcasts its whole query side — above
    max_query_rows it must refuse with a pointer to the ANN paths
    (the max_exact_rows precedent), and max_query_rows=None opts into
    the cost explicitly."""
    import pytest as _pytest

    from video_streamer_spark.operators.similarity import brute_topk

    vecs = spark.range(0, 50).selectExpr(
        "id AS vec_id",
        "transform(sequence(1, 4), i -> cast((id + 1) * i AS double)) AS embedding",
    )
    with _pytest.raises(ValueError, match="max_query_rows"):
        brute_topk(vecs, vecs, k=3, max_query_rows=10)
    # under the guard and with the explicit opt-out it still works
    assert brute_topk(vecs, vecs.limit(5), k=3).count() == 15
    assert (
        brute_topk(vecs, vecs.limit(12), k=1, max_query_rows=None).count()
        == 12
    )


def test_pack_sequences_matches_local_greedy(spark):
    """pack_sequences: every stream's assignment equals the local
    greedy reference (order-defined semantics survive the grouped-map
    hop), no sequence exceeds capacity unless it holds exactly one
    oversize document, ids are dense per stream, and no document is
    lost or duplicated."""
    from video_streamer_spark.operators.grouped import pack_sequences

    cap = 100
    rows = []
    # three streams incl. an oversize doc (180 > cap) and a boundary
    # exact-fill (60 + 40 == cap stays; +1 overflows)
    sizes = {
        "a": [60, 40, 1, 99, 2],
        "b": [180, 10, 95, 10],
        "c": [7],
    }
    i = 0
    for s, ns in sizes.items():
        for n in ns:
            rows.append((i, s, n))
            i += 1
    docs = spark.createDataFrame(rows, "doc_id bigint, lang string, n_tokens bigint")
    got = {
        (r["stream"], r["doc_id"]): r["seq_id"]
        for r in pack_sequences(docs, capacity=cap).collect()
    }

    def local(ns):
        out, seq, fill = [], 0, 0
        for n in ns:
            if fill > 0 and fill + n > cap:
                seq, fill = seq + 1, 0
            fill += n
            out.append(seq)
        return out

    i = 0
    for s, ns in sizes.items():
        want = local(ns)
        for j, n in enumerate(ns):
            assert got[(s, i)] == want[j], (s, i, n)
            i += 1
    # capacity invariant: oversize docs sit alone
    from collections import defaultdict

    fills = defaultdict(list)
    i = 0
    for s, ns in sizes.items():
        for n in ns:
            fills[(s, got[(s, i)])].append(n)
            i += 1
    for (s, q), ns in fills.items():
        assert sum(ns) <= cap or len(ns) == 1, (s, q, ns)


def test_pack_sequences_custom_columns_and_composite_stream(spark):
    """ADVICE r11: pack_sequences must honor non-default id/token
    column names (the output schema follows the caller's names), and
    the production (source, shard) keying — a SEQUENCE of stream
    columns — packs each composite stream independently, encoding the
    key parts with the unit separator (NULL part → NUL sentinel)."""
    from video_streamer_spark.operators.grouped import (
        _STREAM_NULL,
        _STREAM_SEP,
        pack_sequences,
    )

    docs = spark.createDataFrame(
        [
            ("cc", 0, 10, 6),
            ("cc", 0, 11, 5),  # 6+5 > 8 -> new sequence
            ("cc", 1, 12, 6),  # different shard: its own stream
            ("web", 0, 13, 6),
            (None, 0, 14, 3),  # NULL source still packs (own stream)
        ],
        "source string, shard int, my_id bigint, toks bigint",
    )
    got = {
        (r["stream"], r["my_id"]): r["seq_id"]
        for r in pack_sequences(
            docs, 8, stream_col=("source", "shard"),
            id_col="my_id", tokens_col="toks",
        ).collect()
    }
    sep, nul = _STREAM_SEP, _STREAM_NULL
    assert got == {
        (f"cc{sep}0", 10): 0,
        (f"cc{sep}0", 11): 1,
        (f"cc{sep}1", 12): 0,
        (f"web{sep}0", 13): 0,
        (f"{nul}{sep}0", 14): 0,
    }
    # single-string stream_col with custom names still works
    one = pack_sequences(
        docs.where("source = 'cc'"), 8, stream_col="source",
        id_col="my_id", tokens_col="toks",
    )
    assert [f.name for f in one.schema.fields] == [
        "stream", "my_id", "toks", "seq_id",
    ]
    # all three cc docs in ONE stream now (no shard split): 6 | 5 | 6
    assert {r["seq_id"] for r in one.collect()} == {0, 1, 2}


def test_pack_sequences_composite_key_bounds_task_size(spark):
    """The (source, shard) keying is the 100 TB parallelism dial: with
    a HEAVILY skewed source (one source holding almost all docs), the
    composite key splits it across shards so no single grouped-map
    task sees more than one shard's docs — group count scales with
    shards, and every group's packing still matches the local greedy
    reference."""
    from video_streamer_spark.operators.grouped import pack_sequences

    n_shards = 16
    rows = [
        ("big", i % n_shards, i, 1 + (i % 5)) for i in range(800)
    ] + [("tiny", 0, 10_000, 2)]
    docs = spark.createDataFrame(
        rows, "source string, shard int, doc_id bigint, n_tokens bigint"
    )
    out = pack_sequences(
        docs, 7, stream_col=("source", "shard")
    ).collect()
    streams = {}
    for r in out:
        streams.setdefault(r["stream"], []).append(
            (r["doc_id"], r["n_tokens"], r["seq_id"])
        )
    assert len(streams) == n_shards + 1  # skew split into shard groups
    assert max(len(v) for v in streams.values()) == 800 // n_shards
    for docs_in in streams.values():
        docs_in.sort()
        seq, fill = 0, 0
        for _, n, got_seq in docs_in:
            if fill > 0 and fill + n > 7:
                seq, fill = seq + 1, 0
            fill += n
            assert got_seq == seq


def test_bigram_lm_nll_hand_computed(spark):
    """CCNet-style bigram NLL on a crafted corpus where every count is
    hand-checkable: tokens = [a b a b] + [a c] + [solo] — the model
    trains on ALL tokens (the 1-token doc contributes vocabulary), so
    V = 4, c1(a) = 3, c1(b) = 2, c1(c) = 1; scored bigrams: 'a b'x2,
    'b a'x1, 'a c'x1. Doc 1 terms: ln(3+4)-ln(2+1), ln(2+4)-ln(1+1),
    ln(3+4)-ln(2+1); doc 2: ln(3+4)-ln(1+1); doc 3 scores nothing."""
    import math

    from video_streamer_spark.operators.text import bigram_lm_nll

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c"), (3, "solo")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll"])
        for r in bigram_lm_nll(docs).collect()
    }
    # doc 3 has one token -> no bigram -> absent
    assert set(got) == {1, 2}

    def q6(x):  # the qdec6 quantization: round-half-up at 6 dp
        return math.floor(x * 1e6 + 0.5) / 1e6

    d1 = (
        (q6(math.log(7)) - q6(math.log(3)))
        + (q6(math.log(6)) - q6(math.log(2)))
        + (q6(math.log(7)) - q6(math.log(3)))
    ) / 3
    d2 = q6(math.log(7)) - q6(math.log(2))
    assert got[1][0] == 3 and abs(got[1][1] - d1) < 1e-6
    assert got[2][0] == 1 and abs(got[2][1] - d2) < 1e-6
