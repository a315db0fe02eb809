"""Spectral analysis on the real WAV decode path — a planted-tone DFT
twin of ``npmodel``'s planted-rectangle conv detector (round-7): the
dominant-frequency estimator must recover a PLANTED sine's bin exactly
through synthesize → RIFF-encode → chunk-walk decode → rFFT → argmax,
which makes a genuinely transcendental DSP transform SQL-oracle
checkable (the oracle rebuilds the planted bin, not the spectrum).

Why exact recovery is guaranteed: the tone sits ON an FFT bin (integer
cycles per N-sample window), so its energy concentrates in one bin;
int16 quantization adds at most 0.5 LSB of broadband noise (~120 dB
below a 12000-amplitude tone per bin) — the argmax cannot move.

Scale shape: synthesis and analysis are both Arrow-batched mapInPandas
over ids; no sample array ever leaves its executor, mirroring the
decode operators in ``multimodal.py``."""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StructField,
    StructType,
)

N_SAMPLES = 256
SAMPLE_RATE = 8000
AMPLITUDE = 12000


def planted_bin(frame_id: int) -> int:
    """FFT bin (cycles per window) of the planted tone — must match
    the x203 oracle SQL. Range 5..104 of 128."""
    return 5 + (int(frame_id) * 13) % 100


def synth_tone_wav(frame_id: int) -> bytes:
    """A mono 16-bit PCM RIFF/WAVE of one pure tone at ``planted_bin``
    cycles per ``N_SAMPLES`` window (so the tone is exactly on-bin)."""
    k = planted_bin(frame_id)
    n = np.arange(N_SAMPLES)
    pcm = np.round(
        AMPLITUDE * np.sin(2.0 * np.pi * k * n / N_SAMPLES)
    ).astype("<i2")
    data = pcm.tobytes()
    fmt = (
        (1).to_bytes(2, "little")  # PCM
        + (1).to_bytes(2, "little")  # mono
        + SAMPLE_RATE.to_bytes(4, "little")
        + (SAMPLE_RATE * 2).to_bytes(4, "little")  # byte rate
        + (2).to_bytes(2, "little")  # block align
        + (16).to_bytes(2, "little")  # bits
    )
    body = (
        b"WAVEfmt "
        + len(fmt).to_bytes(4, "little")
        + fmt
        + b"data"
        + len(data).to_bytes(4, "little")
        + data
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def tone_frames(ids: DataFrame, id_col: str = "frame_id") -> DataFrame:
    """ids → (frame_id, payload): planted-tone WAVs synthesized on the
    executors, Arrow-batched."""
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module

    ship_module(sys.modules[__name__])

    schema = StructType(
        [
            StructField("frame_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )

    @on_worker
    def render(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            fids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "frame_id": fids,
                    "payload": [synth_tone_wav(f) for f in fids],
                }
            )

    return ids.select(id_col).mapInPandas(render, schema)


def dominant_bins(
    frames: DataFrame, id_col: str = "frame_id", bin_col: str = "payload"
) -> DataFrame:
    """(frame_id, payload) → (frame_id, n_samples, dominant_bin): real
    chunk-walk WAV decode (``multimodal.decode_wav``) then rFFT and
    argmax over non-DC bins."""
    import sys

    from video_streamer_spark.functions.shipping import on_worker, ship_module
    from video_streamer_spark.operators import multimodal

    ship_module(sys.modules[__name__])
    ship_module(multimodal)
    # captured HERE (driver side) so the closure ships the function by
    # value — a worker-side re-import would need the package on the
    # worker's sys.path, which an external driver does not have
    decode_wav = multimodal.decode_wav

    schema = StructType(
        [
            StructField("frame_id", LongType()),
            StructField("n_samples", LongType()),
            StructField("dominant_bin", LongType()),
        ]
    )

    @on_worker
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "frame_id": [],
                "n_samples": [],
                "dominant_bin": [],
            }
            for fid, payload in zip(pdf[id_col], pdf[bin_col]):
                wav = decode_wav(bytes(payload))
                mono = wav["samples"][:, 0].astype(np.float64)
                spec = np.abs(np.fft.rfft(mono))
                out["frame_id"].append(int(fid))
                out["n_samples"].append(len(mono))
                out["dominant_bin"].append(int(spec[1:].argmax()) + 1)
            yield pd.DataFrame(out)

    return frames.select(id_col, bin_col).mapInPandas(run, schema)
