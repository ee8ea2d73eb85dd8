"""Minimal WAV (RIFF / PCM s16le) container codec.

The multimodal audio route (`ops/multimodal.py`) consumes raw PCM
payloads; real crawl audio arrives in containers. WAV/PCM16 is fully
parseable with stdlib struct — so unlike the stubbed mp4/webm seams,
this one is real end-to-end. Same error contract as the image codecs:
ValueError on malformed input, never any other exception.
"""

from __future__ import annotations

import struct

import numpy as np

from ragflow_ocr_spark.kernels.pngcodec import codec_errors, riff_chunks

WAV_MAGIC = b"RIFF"
# untrusted-payload ceiling (~128 MB of samples ≈ 70 min mono @16 kHz)
MAX_DECODE_SAMPLES = 1 << 26


def encode_wav(pcm: np.ndarray, sample_rate: int = 16000) -> bytes:
    """int16 mono samples → WAV bytes."""
    body = pcm.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


@codec_errors
def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (int16 samples shaped (n,) mono or (n, ch), rate).

    Supports PCM16 (format 1), any channel count, ignores unknown
    chunks (LIST/fact/...)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a WAV")
    sample_rate = None
    n_channels = None
    body = None
    for tag, b, e in riff_chunks(data, 12, len(data)):
        if tag == b"fmt ":
            if e - b < 16:
                raise ValueError("short fmt chunk")
            audio_fmt, n_channels, sample_rate, _, _, bits = struct.unpack_from(
                "<HHIIHH", data, b
            )
            if audio_fmt != 1 or bits != 16:
                raise ValueError(
                    f"unsupported WAV (format={audio_fmt}, bits={bits})"
                )
        elif tag == b"data":
            body = data[b:e]
    if sample_rate is None or body is None or not n_channels:
        raise ValueError("WAV missing fmt/data")
    n = len(body) // 2
    if n == 0 or n > MAX_DECODE_SAMPLES:
        raise ValueError("bad WAV sample count")
    pcm = np.frombuffer(body[: n * 2], dtype="<i2")
    if n_channels > 1:
        usable = (n // n_channels) * n_channels
        pcm = pcm[:usable].reshape(-1, n_channels)
    return pcm, sample_rate
