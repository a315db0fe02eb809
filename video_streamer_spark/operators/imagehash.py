"""Perceptual image hashing over DECODED pixels: difference-hash
(dHash) computation plus banded near-duplicate pair search.

This closes the one multimodal/dedup combination the text-side
near-dup family (MinHash/SimHash/n-gram Jaccard) does not cover:
finding *images* that look alike, computed from the real decoded
raster (any container the O2 decode dispatcher handles — PPM, BMP,
PNG, JPEG), not from payload bytes. Reference anchor: the pipeline's
decode→tensor path (`gst-detection-tf.py` gst_buf_to_ndarray;
run.sh:53 decodebin) produces exactly the pixel tensor this hash
consumes — dHash is the standard cheap perceptual fingerprint used to
deduplicate image corpora before training.

dHash definition used here (integer-exact, so a SQL oracle can
recompute it from the synthetic-raster generator): per pixel luma =
r+g+b (unweighted integer sum — monotone in brightness, no float
weights to round); bit k = 1 iff luma[y, x] > luma[y, x+1] with
k = y*(w-1) + x, packed LSB-first into a 64-bit integer. For the
classic 9×8 screenshot pipeline you'd first resize; here the frames
are already thumbnail-sized and the resize operator
(`multimodal.resize_payloads`) composes upstream when they are not.

Scale shape (100 TB): hashing is one `mapInPandas` pass (frames never
leave the executor, output is 8 bytes/row); the near-pair search is
pigeonhole-banded exactly like SimHash (`operators/dedup.py`):
``n_bands > max_hamming`` guarantees two hashes within the radius
agree on at least one full band, so candidate generation is an
equi-join on (band_id, band_value) — never an all-pairs compare — and
the final `bit_count(xor)` filter runs only on bucket collisions.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from video_streamer_spark.operators import jpeg as _jpeg_dep
from video_streamer_spark.operators import multimodal as _mm

DHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("dhash", LongType(), False),
    ]
)


def dhash_frames(
    frames: DataFrame,
    width: int,
    height: int,
    id_col: str = "doc_id",
    bin_col: str = "payload",
) -> DataFrame:
    """(id, payload) -> (doc_id, dhash): decode each frame through the
    real container decoders and compute the horizontal difference hash
    over integer luma (r+g+b). The geometry is DECLARED, not inferred:
    the bit layout is width-dependent, and tasks only ever see their
    own partition, so a per-task "first frame wins" inference would let
    mixed-size corpora silently produce incomparable hashes. A frame
    whose decoded size differs from the declaration raises — resize
    upstream (``multimodal.resize_payloads``) before hashing."""
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_mm)
    ship_module(_jpeg_dep)

    geom = (height, width)

    @on_worker
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, hashes = [], []
            for doc_id, b in zip(pdf[id_col], pdf[bin_col]):
                a = _mm.decode_frame(b)
                if a.ndim != 3:
                    raise ValueError(f"expected HxWx3 frame, got {a.shape}")
                if geom != (a.shape[0], a.shape[1]):
                    raise ValueError(
                        f"frame geometry {a.shape[1]}x{a.shape[0]} does not "
                        f"match declared {width}x{height}: resize upstream "
                        "before hashing"
                    )
                luma = a.sum(axis=2, dtype=np.int64)  # (h, w) in [0, 765]
                bits = (luma[:, :-1] > luma[:, 1:]).ravel()  # k = y*(w-1)+x
                if bits.size > 63:
                    raise ValueError(
                        f"{bits.size} bits do not fit a signed 64-bit hash"
                    )
                h = int(np.sum(bits * (1 << np.arange(bits.size, dtype=np.int64))))
                ids.append(int(doc_id))
                hashes.append(h)
            yield pd.DataFrame({"doc_id": ids, "dhash": hashes})

    return frames.select(id_col, bin_col).mapInPandas(compute, DHASH_SCHEMA)


def dhash_near_pairs(
    hashes: DataFrame,
    bits: int,
    max_hamming: int = 3,
    n_bands: int | None = None,
    id_col: str = "doc_id",
    hash_col: str = "dhash",
) -> DataFrame:
    """All pairs with hamming(dhash_a, dhash_b) <= max_hamming, found
    via pigeonhole banding — EXACT, not approximate: with
    ``n_bands > max_hamming`` contiguous bands, any pair within the
    radius leaves at least one band untouched, so the (band_id,
    band_value) equi-join generates every qualifying pair and the
    ``bit_count(xor)`` predicate discards the rest. Output:
    (doc_a, doc_b, hamming), doc_a < doc_b, one row per pair."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} "
            "for the pigeonhole guarantee"
        )
    band_bits = -(-bits // n_bands)  # ceil; the last band may be short
    mask = (1 << band_bits) - 1
    h = F.col(hash_col)
    bands = hashes.select(
        F.col(id_col).alias("doc_id"),
        h.alias("dhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright(h, b * band_bits).bitwiseAND(F.lit(mask))
                    for b in range(n_bands)
                ]
            )
        ).alias("band_id", "band_val"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_val") == F.col("b.band_val"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.dhash").alias("ha"),
            F.col("b.dhash").alias("hb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return cand.select(
        "doc_a",
        "doc_b",
        F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        .cast("int")
        .alias("hamming"),
    ).where(F.col("hamming") <= max_hamming)
