"""VIDEO container handling: MJPEG demux + per-frame decode for BOTH
mainstream containers — RIFF/AVI (this module) and ISO BMFF/MP4
(operators/mp4.py) — the reference pipeline's actual shape (filesrc !
decodebin ! per-frame inference, run.sh:53) executed end to end with
ZERO codec libraries: containers are pure chunk/box walking and Motion
JPEG frames are baseline JPEGs (operators/jpeg.py decodes them for
real). Inter-coded codecs (H.264/H.265) refuse honestly by fourcc —
those need a codec library — but the CONTAINER path (demux, sample
tables, frame iteration, per-frame decode, per-video reduction) is the
same machinery a cv2/PyAV swap-in would ride.

Spark shape: one video file = one row (binary payload); demux+decode
runs inside Arrow-batched mapInPandas, frames never leave the executor
— at 100 TB the unit of parallelism is the video, and per-frame work
scales out with partitions exactly like the reference scales with
pipeline instances (benchmark.sh's STREAMS sweep).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from video_streamer_spark.operators import jpeg as _jpeg_dep
from video_streamer_spark.operators import mp4 as _mp4_dep


def mux_mjpeg_avi(
    frames: list[bytes], width: int, height: int, fps: int = 25
) -> bytes:
    """Build a minimal, spec-shaped MJPEG AVI: RIFF('AVI ') with a
    LIST(hdrl) carrying avih + one video stream (strh 'vids'/'MJPG' +
    strf BITMAPINFOHEADER), and a LIST(movi) of '00dc' chunks each
    holding one complete baseline JPEG."""

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""  # RIFF word alignment
        return fourcc + len(body).to_bytes(4, "little") + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    n = len(frames)
    max_bytes = max((len(f) for f in frames), default=0)
    avih = chunk(
        b"avih",
        (1_000_000 // fps).to_bytes(4, "little")  # microsec per frame
        + (max_bytes * fps).to_bytes(4, "little")  # max bytes/sec
        + (0).to_bytes(4, "little")
        + (0x10).to_bytes(4, "little")  # AVIF_HASINDEX off: none written
        + n.to_bytes(4, "little")       # total frames
        + (0).to_bytes(4, "little")
        + (1).to_bytes(4, "little")     # one stream
        + max_bytes.to_bytes(4, "little")
        + width.to_bytes(4, "little")
        + height.to_bytes(4, "little")
        + bytes(16),
    )
    strh = chunk(
        b"strh",
        b"vids" + b"MJPG"
        + bytes(12)
        + (1).to_bytes(4, "little")     # scale
        + fps.to_bytes(4, "little")     # rate (fps = rate/scale)
        + (0).to_bytes(4, "little")
        + n.to_bytes(4, "little")       # length in frames
        + max_bytes.to_bytes(4, "little")
        + (0xFFFFFFFF).to_bytes(4, "little")  # quality: default
        + (0).to_bytes(4, "little")
        + bytes(8),
    )
    strf = chunk(
        b"strf",
        (40).to_bytes(4, "little")
        + width.to_bytes(4, "little", signed=True)
        + height.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little")
        + (24).to_bytes(2, "little")
        + b"MJPG"
        + (width * height * 3).to_bytes(4, "little")
        + bytes(16),
    )
    hdrl = lst(b"hdrl", avih + lst(b"strl", strh + strf))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + len(riff_body).to_bytes(4, "little") + riff_body


def demux_avi_frames(payload: bytes) -> list[bytes]:
    """Walk the RIFF tree and return the video frame payloads (##dc /
    ##db chunks inside LIST movi), in stream order. Tolerant of extra
    chunks/JUNK/idx1 — everything is located via the chunk walk, no
    fixed offsets."""
    buf = bytes(payload)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")

    frames: list[bytes] = []

    def walk(start: int, end: int) -> None:
        pos = start
        while pos + 8 <= end:
            fourcc = buf[pos : pos + 4]
            size = int.from_bytes(buf[pos + 4 : pos + 8], "little")
            body_start = pos + 8
            if fourcc == b"LIST":
                kind = buf[body_start : body_start + 4]
                if kind in (b"movi", b"hdrl", b"strl", b"rec "):
                    walk(body_start + 4, body_start + size)
            elif len(fourcc) == 4 and fourcc[2:4] in (b"dc", b"db"):
                frames.append(buf[body_start : body_start + size])
            pos = body_start + size + (size % 2)  # word alignment

    walk(12, 8 + int.from_bytes(buf[4:8], "little"))
    return frames


def demux_frames(payload: bytes) -> list[bytes]:
    """Container dispatch on magic: RIFF/AVI (little-endian chunk walk)
    or ISO BMFF/MP4 (big-endian box walk + sample tables) — the two
    containers the reference's decodebin autoplugs for MJPEG content."""
    buf = bytes(payload)
    if buf[:4] == b"RIFF":
        return demux_avi_frames(buf)
    if len(buf) >= 12 and buf[4:8] == b"ftyp":
        return _mp4_dep.demux_mp4_frames(buf)
    raise ValueError("unknown video container (expected RIFF/AVI or MP4)")


def decode_video(payload: bytes) -> np.ndarray:
    """Full video decode: demux (AVI or MP4) + per-frame JPEG decode to
    one (n_frames, h, w, 3) uint8 tensor (all frames must share dims —
    true for any single-video-stream container)."""
    frames = [_jpeg_dep.decode_jpeg(f) for f in demux_frames(payload)]
    if not frames:
        raise ValueError("video contains no frames")
    return np.stack(frames)


VIDEO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("pixel_sum", LongType()),
        StructField("first_frame_sum", LongType()),
        StructField("last_top_left", IntegerType()),
    ]
)

VIDEO_STATS_QUARANTINE_SCHEMA = StructType(
    list(VIDEO_STATS_SCHEMA.fields) + [StructField("error", StringType())]
)


def decode_video_stats(
    videos: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    skip_corrupt: bool = False,
) -> DataFrame:
    """Arrow-batched demux + per-frame decode + per-video reductions —
    the engine's analog of the reference's whole pipeline (decode →
    per-frame compute → aggregate at EOS, gst-detection-tf.py:442-453
    + 427-433).

    ``skip_corrupt=True`` switches to QUARANTINE semantics: a payload
    that fails to demux/decode yields one row with null stats and the
    failure message in an ``error`` column instead of failing the task
    — at 100 TB corrupt files are routine and must isolate per row,
    never kill the stage (the same philosophy as try_parse_json /
    PERMISSIVE-mode corrupt records, x101). Decode errors surface as
    typed refusals (NotImplementedError for codec-library formats,
    ValueError for malformed bytes), both quarantined."""
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_jpeg_dep)
    ship_module(_mp4_dep)

    stat_cols = (
        "n_frames", "width", "height", "pixel_sum",
        "first_frame_sum", "last_top_left",
    )

    @on_worker
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("doc_id", *stat_cols)}
            if skip_corrupt:
                rows["error"] = []
            for doc_id, b in zip(pdf[id_col], pdf[bin_col]):
                try:
                    v = decode_video(b)
                except Exception as exc:  # noqa: BLE001 - quarantine path
                    if not skip_corrupt:
                        raise
                    rows["doc_id"].append(int(doc_id))
                    for k in stat_cols:
                        rows[k].append(None)
                    rows["error"].append(
                        f"{type(exc).__name__}: {exc}"[:500]
                    )
                    continue
                rows["doc_id"].append(int(doc_id))
                rows["n_frames"].append(int(v.shape[0]))
                rows["height"].append(int(v.shape[1]))
                rows["width"].append(int(v.shape[2]))
                rows["pixel_sum"].append(int(v.sum(dtype=np.int64)))
                rows["first_frame_sum"].append(int(v[0].sum(dtype=np.int64)))
                rows["last_top_left"].append(int(v[-1, 0, 0, 0]))
                if skip_corrupt:
                    rows["error"].append(None)
            yield pd.DataFrame(rows)

    schema = (
        VIDEO_STATS_QUARANTINE_SCHEMA if skip_corrupt else VIDEO_STATS_SCHEMA
    )
    return videos.select(id_col, bin_col).mapInPandas(compute, schema)


def encode_mjpeg_payloads(
    docs: DataFrame,
    n_frames: int = 3,
    blocks_w: int = 8,
    blocks_h: int = 4,
    container: str = "avi",
) -> DataFrame:
    """Documents → REAL MJPEG AVI videos: frame k's raster is the flat
    8×8-block JPEG of text bytes [k·n, (k+1)·n) ('.'-padded), so every
    decoded pixel of every frame is a closed-form function of the text
    column and the SQL oracle can recompute whole-VIDEO statistics.
    Arrow-batched pandas UDF (DCT/Huffman/RIFF need Python)."""
    import sys

    from pyspark.sql.functions import pandas_udf

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_jpeg_dep)
    ship_module(_mp4_dep)
    encode_gray = _jpeg_dep.encode_jpeg_gray
    mux = mux_mjpeg_avi if container == "avi" else _mp4_dep.mux_mjpeg_mp4

    n = blocks_w * blocks_h
    total = n * n_frames
    w_px, h_px = blocks_w * 8, blocks_h * 8

    @pandas_udf("binary")
    @on_worker
    def to_avi(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            vals = (t or "").encode("utf-8")[:total].ljust(total, b".")
            frames = []
            for k in range(n_frames):
                blocks = np.frombuffer(
                    vals[k * n : (k + 1) * n], dtype=np.uint8
                ).reshape(blocks_h, blocks_w)
                img = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
                frames.append(encode_gray(img, quant=1))
            out.append(mux(frames, w_px, h_px))
        return pd.Series(out)

    return docs.select("doc_id", to_avi(F.col("text")).alias("payload"))


PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("codec", StringType()),
        StructField("probe_width", IntegerType()),
        StructField("probe_height", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)


def probe_video_metadata(
    videos: DataFrame, id_col: str = "doc_id", bin_col: str = "payload"
) -> DataFrame:
    """Container-metadata pass WITHOUT decoding (MP4 sample tables):
    codec fourcc, dimensions, sample count, duration — the scan-time
    inventory a 100 TB video lake runs before routing payloads to
    decode, reading only box headers instead of sample bytes."""
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_mp4_dep)

    @on_worker
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in (
                "doc_id", "codec", "probe_width", "probe_height",
                "n_samples", "duration_ms",
            )}
            for doc_id, b in zip(pdf[id_col], pdf[bin_col]):
                meta = _mp4_dep.probe_mp4(b)
                rows["doc_id"].append(int(doc_id))
                rows["codec"].append(meta["codec"])
                rows["probe_width"].append(meta["width"])
                rows["probe_height"].append(meta["height"])
                rows["n_samples"].append(meta["n_samples"])
                rows["duration_ms"].append(meta["duration_ms"])
            yield pd.DataFrame(rows)

    return videos.select(id_col, bin_col).mapInPandas(compute, PROBE_SCHEMA)


MOTION_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mv_dx_blocks", IntegerType()),
        StructField("mv_dy_blocks", IntegerType()),
        StructField("sad_min", LongType()),
        StructField("n_frames", IntegerType()),
    ]
)


def encode_shifted_pair_payloads(
    docs: DataFrame, blocks_w: int = 8, blocks_h: int = 4
) -> DataFrame:
    """Two-frame MJPEG AVIs with PLANTED global motion: frame 1 is a
    grid of pairwise-distinct flat 8×8 blocks (value ``8·i + doc_id%8``
    for block index i — distinct by construction, so no other shift can
    tie), frame 2 is frame 1 cyclically shifted by
    ``(dy, dx) = ((doc_id//5)%3 − 1, doc_id%5 − 2)`` blocks. Because
    the planted shift is closed-form in doc_id and block values are
    distinct, exhaustive block matching must recover exactly (dx, dy)
    with SAD 0 — the oracle contract for x197."""
    import sys

    from pyspark.sql.functions import pandas_udf

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_jpeg_dep)
    ship_module(_mp4_dep)
    encode_gray = _jpeg_dep.encode_jpeg_gray
    n = blocks_w * blocks_h
    w_px, h_px = blocks_w * 8, blocks_h * 8

    @pandas_udf("binary")
    @on_worker
    def to_avi(ids: pd.Series) -> pd.Series:
        out = []
        for d in ids:
            d = int(d)
            vals = (8 * np.arange(n, dtype=np.int64) + d % 8).astype(np.uint8)
            blocks = vals.reshape(blocks_h, blocks_w)
            dy, dx = (d // 5) % 3 - 1, d % 5 - 2
            f1 = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
            f2 = np.repeat(
                np.repeat(np.roll(blocks, (dy, dx), axis=(0, 1)), 8, axis=0),
                8,
                axis=1,
            )
            out.append(
                mux_mjpeg_avi(
                    [encode_gray(f1, quant=1), encode_gray(f2, quant=1)],
                    w_px,
                    h_px,
                )
            )
        return pd.Series(out)

    return docs.select("doc_id", to_avi(F.col("doc_id")).alias("payload"))


def block_match(
    f1: np.ndarray,
    f2: np.ndarray,
    search_dy: int,
    search_dx: int,
    block: int = 8,
) -> tuple[int, int, int]:
    """Exhaustive cyclic block matching: (sad_min, dx, dy) minimizing
    SAD(f2, roll(f1, (dy·block, dx·block))) over the search window,
    ties broken in scan order (dy asc, dx asc). Pure function shared by
    both estimators and property-tested directly
    (tests/test_properties.py)."""
    a = f1.astype(np.int64)
    b = f2.astype(np.int64)
    best = None
    for dy in range(-search_dy, search_dy + 1):
        for dx in range(-search_dx, search_dx + 1):
            sad = int(
                np.abs(b - np.roll(a, (dy * block, dx * block), axis=(0, 1))).sum()
            )
            if best is None or sad < best[0]:
                best = (sad, dx, dy)
    return best


def estimate_global_motion(
    videos: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    search_dx: int = 2,
    search_dy: int = 1,
    block: int = 8,
) -> DataFrame:
    """Global motion between the first two frames of each video by
    exhaustive block-granular matching: for every candidate shift
    (dy, dx) in the search window, SAD between frame 2 and frame 1
    cyclically shifted by (dy·block, dx·block) pixels; the argmin (scan
    order dy asc, dx asc on ties) is the motion vector. This is the
    first estimation stage of any encoder/tracker — done on the REAL
    decoded pixels (demux → JPEG decode), not metadata, unlike the
    x184/x185 metadata-level trackers.

    Spark shape: one video = one row through Arrow-batched mapInPandas;
    the search is O(window · pixels) per video and frames never leave
    the executor — scale-out is by video exactly like decode_video_stats.
    """
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_jpeg_dep)
    ship_module(_mp4_dep)

    @on_worker
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id", "mv_dx_blocks", "mv_dy_blocks",
                    "sad_min", "n_frames",
                )
            }
            for doc_id, b in zip(pdf[id_col], pdf[bin_col]):
                v = decode_video(b)
                best = block_match(
                    v[0], v[1], search_dy, search_dx, block
                )
                rows["doc_id"].append(int(doc_id))
                rows["mv_dx_blocks"].append(int(best[1]))
                rows["mv_dy_blocks"].append(int(best[2]))
                rows["sad_min"].append(int(best[0]))
                rows["n_frames"].append(int(v.shape[0]))
            yield pd.DataFrame(rows)

    return videos.select(id_col, bin_col).mapInPandas(compute, MOTION_SCHEMA)


MOTION_FIELD_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("region", StringType()),
        StructField("mv_dx_blocks", IntegerType()),
        StructField("mv_dy_blocks", IntegerType()),
        StructField("sad_min", LongType()),
    ]
)


def encode_split_motion_payloads(
    docs: DataFrame, blocks_w: int = 8, blocks_h: int = 4
) -> DataFrame:
    """Two-frame AVIs with TWO independent planted motions: the left
    and right halves of the block grid each carry their own cyclic
    shift — left ``(dy, dx) = ((doc_id//3)%3 − 1, doc_id%3 − 1)``,
    right ``(dy, dx) = ((doc_id//7)%3 − 1, doc_id%7%3 − 1)`` — shifts
    wrap WITHIN each half, so each half is an independent recovery
    problem. Block values are pairwise distinct across the WHOLE frame
    (``8·i + doc_id%8``), so neither half's argmin can alias the other's
    content. The x198 oracle is the closed-form plant per region."""
    import sys

    from pyspark.sql.functions import pandas_udf

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_jpeg_dep)
    ship_module(_mp4_dep)
    encode_gray = _jpeg_dep.encode_jpeg_gray
    n = blocks_w * blocks_h
    half = blocks_w // 2
    w_px, h_px = blocks_w * 8, blocks_h * 8

    @pandas_udf("binary")
    @on_worker
    def to_avi(ids: pd.Series) -> pd.Series:
        out = []
        for d in ids:
            d = int(d)
            vals = (8 * np.arange(n, dtype=np.int64) + d % 8).astype(np.uint8)
            blocks = vals.reshape(blocks_h, blocks_w)
            left, right = blocks[:, :half], blocks[:, half:]
            l_dy, l_dx = (d // 3) % 3 - 1, d % 3 - 1
            r_dy, r_dx = (d // 7) % 3 - 1, d % 7 % 3 - 1
            shifted = np.hstack(
                [
                    np.roll(left, (l_dy, l_dx), axis=(0, 1)),
                    np.roll(right, (r_dy, r_dx), axis=(0, 1)),
                ]
            )
            f1 = np.repeat(np.repeat(blocks, 8, axis=0), 8, axis=1)
            f2 = np.repeat(np.repeat(shifted, 8, axis=0), 8, axis=1)
            out.append(
                mux_mjpeg_avi(
                    [encode_gray(f1, quant=1), encode_gray(f2, quant=1)],
                    w_px,
                    h_px,
                )
            )
        return pd.Series(out)

    return docs.select("doc_id", to_avi(F.col("doc_id")).alias("payload"))


def estimate_motion_field(
    videos: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    search: int = 1,
    block: int = 8,
) -> DataFrame:
    """Per-REGION motion between the first two frames: the frame is
    split into left/right halves and each half gets its own exhaustive
    cyclic block-matching argmin — the minimal motion FIELD (what a
    tracker/encoder consumes; x197 is the global special case). One row
    per (video, region); same mapInPandas scale shape as
    estimate_global_motion."""
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])
    ship_module(_jpeg_dep)
    ship_module(_mp4_dep)

    @on_worker
    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {
                k: []
                for k in (
                    "doc_id", "region", "mv_dx_blocks",
                    "mv_dy_blocks", "sad_min",
                )
            }
            for doc_id, b in zip(pdf[id_col], pdf[bin_col]):
                v = decode_video(b)
                w = v.shape[2]
                for region, sl in (
                    ("left", slice(0, w // 2)),
                    ("right", slice(w // 2, w)),
                ):
                    best = block_match(
                        v[0][:, sl], v[1][:, sl], search, search, block
                    )
                    rows["doc_id"].append(int(doc_id))
                    rows["region"].append(region)
                    rows["mv_dx_blocks"].append(int(best[1]))
                    rows["mv_dy_blocks"].append(int(best[2]))
                    rows["sad_min"].append(int(best[0]))
            yield pd.DataFrame(rows)

    return videos.select(id_col, bin_col).mapInPandas(
        compute, MOTION_FIELD_SCHEMA
    )
