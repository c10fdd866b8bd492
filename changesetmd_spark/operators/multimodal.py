"""Multimodal column plumbing — decode / feature-extract / resize /
frame-ops over opaque binary columns via Arrow-batched
``mapInPandas`` (task brief: "make the Spark-side plumbing — schema,
partitioning, UDF signature, batch shape — real and tested").

One decoder per payload kind, dispatching on the blob's magic bytes:

- ``decode_blob`` (images): the FKIM fake codec from synth.py (header +
  raw/quantized pixels, bit-exact, it gates the oracles), then
  uncompressed 24-bit BMP;
- ``decode_audio_blob`` (audio): the FKAU fake container, then 16-bit
  PCM WAV.

Compressed formats (JPEG, PNG, MP3, MP4) are not decoded. A new
format is a new magic-byte branch in this module: the operators decode
in Python workers that import the module afresh, so a codec registered
at runtime on the driver would never reach them.
A blob no branch claims, or whose payload does not match its header,
raises ValueError; the operators re-raise it prefixed with the row's
key.

Scale notes: rows carry MB-scale payloads → the session caps Arrow
batches (session.py maxRecordsPerBatch); operators never collect, and
feature outputs are slim columns so downstream joins don't reshuffle
pixels.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..synth import AUDIO_MAGIC, FMT_NAMES, MAGIC

HEADER_LEN = 9  # 4 magic + 1 fmt + 2 w + 2 h
AUDIO_HEADER_LEN = 12  # 4 magic + 4 sample_rate + 4 n_samples


def _bmp_decode(b: bytes) -> tuple[str, int, int, np.ndarray]:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER+): rows are 4-byte
    aligned, stored bottom-up (top-down iff height < 0), BGR order."""
    data_off = int.from_bytes(b[10:14], "little")
    hdr_size = int.from_bytes(b[14:18], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if hdr_size < 40 or bpp != 24 or comp != 0 or w <= 0 or h == 0:
        raise ValueError(f"unsupported BMP variant (hdr={hdr_size}, bpp={bpp}, comp={comp})")
    top_down, h = h < 0, abs(h)
    stride = (w * 3 + 3) & ~3
    px = np.frombuffer(b, dtype=np.uint8, offset=data_off, count=stride * h)
    rows = px.reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    rgb = rows[:, :, ::-1]  # BGR → RGB
    return "bmp", w, h, np.ascontiguousarray(rgb).reshape(-1)


def _wav_decode(b: bytes) -> tuple[int, int, np.ndarray]:
    """Canonical RIFF/WAVE chunk walk: PCM (format tag 1), 16-bit;
    multi-channel blobs return channel 0 (the mono contract)."""
    pos, fmt_body, data_body = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        sz = int.from_bytes(b[pos + 4:pos + 8], "little")
        body = b[pos + 8:pos + 8 + sz]
        if cid == b"fmt ":
            fmt_body = body
        elif cid == b"data":
            data_body = body
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if fmt_body is None or data_body is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt = int.from_bytes(fmt_body[0:2], "little")
    n_ch = int.from_bytes(fmt_body[2:4], "little")
    sr = int.from_bytes(fmt_body[4:8], "little")
    bits = int.from_bytes(fmt_body[14:16], "little")
    if audio_fmt != 1 or bits != 16 or n_ch < 1 or sr <= 0:
        raise ValueError(
            f"unsupported WAV variant (fmt={audio_fmt}, bits={bits}, ch={n_ch}, sr={sr})"
        )
    samples = np.frombuffer(data_body, dtype="<i2")
    mono = np.ascontiguousarray(samples[::n_ch]).astype(np.int16)
    return sr, len(mono), mono


def decode_blob(blob: bytes) -> tuple[str, int, int, np.ndarray]:
    """(fmt, w, h, pixels uint8): FKIM fake codec, else 24-bit BMP. An
    FKIM payload may stack several w×h×3 frames (video); it must hold
    a whole number of them."""
    if blob[:4] == MAGIC:
        fmt = FMT_NAMES.get(blob[4]) if len(blob) >= HEADER_LEN else None
        if fmt is None:
            raise ValueError(f"FKIM header of {len(blob)} bytes names no known format")
        w = int.from_bytes(blob[5:7], "big")
        h = int.from_bytes(blob[7:9], "big")
        px = np.frombuffer(blob, dtype=np.uint8, offset=HEADER_LEN)
        if w * h == 0 or len(px) == 0 or len(px) % (w * h * 3):
            raise ValueError(f"FKIM {w}x{h} payload of {len(px)} bytes is not whole frames")
        return fmt, w, h, px
    if blob[:2] == b"BM":
        return _bmp_decode(blob)
    raise ValueError(
        f"unknown image container (magic {blob[:4]!r}): expected FKIM or 24-bit BMP"
    )


def decode_audio_blob(blob: bytes) -> tuple[int, int, np.ndarray]:
    """(sample_rate, n_samples, int16 samples): FKAU fake container,
    else 16-bit PCM WAV. An FKAU payload must hold exactly n_samples."""
    if blob[:4] == AUDIO_MAGIC:
        sr = int.from_bytes(blob[4:8], "big")
        n = int.from_bytes(blob[8:12], "big")
        size = len(blob) - AUDIO_HEADER_LEN
        if sr <= 0 or size != 2 * n:
            raise ValueError(f"FKAU payload of {size} bytes at sr={sr} is not {n} 16-bit samples")
        pcm = np.frombuffer(blob, dtype=">i2", offset=AUDIO_HEADER_LEN).astype(np.int16)
        return sr, n, pcm
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        return _wav_decode(blob)
    raise ValueError(
        f"unknown audio container (magic {blob[:4]!r}): expected FKAU or RIFF/WAVE"
    )


def _decode_row(key, blob, decode: Callable) -> tuple:
    """``decode(blob)``, with a decode error prefixed by the row's key."""
    try:
        return decode(bytes(blob))
    except ValueError as e:
        raise ValueError(f"{key}: {e}") from e


def _decoded_groups(keys, blobs, decode: Callable) -> Iterator[tuple[tuple, np.ndarray, np.ndarray]]:
    """Decode every row of one Arrow batch and stack the rows that
    decode to the same header and sample count: yields (header, row
    indices, (n, L) matrix) per group, header being everything
    ``decode`` returns but the samples. Turns per-row Python into a
    handful of vectorized numpy ops per batch."""
    groups: dict[tuple, list] = {}
    for i, (key, blob) in enumerate(zip(keys, blobs)):
        *header, samples = _decode_row(key, blob, decode)
        groups.setdefault((*header, len(samples)), []).append((i, samples))
    for (*header, _), rows in groups.items():
        yield tuple(header), np.array([i for i, _ in rows]), np.stack([s for _, s in rows])


DECODE_STATS_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("fmt", StringType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
        StructField("pixel_sum", LongType(), False),
        StructField("pixel_min", IntegerType(), False),
        StructField("pixel_max", IntegerType(), False),
    ]
)


def decode_stats(images: DataFrame) -> DataFrame:
    """Decode every blob, emit integer pixel statistics. The canonical
    decode-path verification: stats are exactly reproducible from
    phash by the closed-form pixel rule, so a SQL oracle can check the
    full encode→store→decode roundtrip without touching bytes.

    Vectorization: rows are grouped by shape within each Arrow batch
    and decoded as one stacked (n, w·h·3) uint8 matrix — sum/min/max
    are single numpy reductions, no per-image Python in the hot loop."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            fmt_out = np.empty(n, dtype=object)
            w_out = np.zeros(n, dtype=np.int32)
            h_out = np.zeros(n, dtype=np.int32)
            s_out = np.zeros(n, dtype=np.int64)
            mn_out = np.zeros(n, dtype=np.int32)
            mx_out = np.zeros(n, dtype=np.int32)
            for (fmt, w, h), ix, m in _decoded_groups(pdf["image_id"], pdf["bytes"], decode_blob):
                fmt_out[ix] = fmt
                w_out[ix], h_out[ix] = w, h
                s_out[ix] = m.sum(axis=1, dtype=np.int64)
                mn_out[ix] = m.min(axis=1)
                mx_out[ix] = m.max(axis=1)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"].to_numpy(),
                    "fmt": fmt_out,
                    "w": w_out,
                    "h": h_out,
                    "pixel_sum": s_out,
                    "pixel_min": mn_out,
                    "pixel_max": mx_out,
                }
            )

    return images.select("image_id", "bytes").mapInPandas(run, DECODE_STATS_SCHEMA)


RESIZE_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
    ]
)


def resize(images: DataFrame, out_w: int, out_h: int) -> DataFrame:
    """Nearest-neighbor resize, re-encoded lossless. Vectorized per
    batch (numpy indexing, no per-pixel Python)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, blobs, ws, hs = [], [], [], []
            for image_id, blob in zip(pdf["image_id"], pdf["bytes"]):
                fmt, w, h, px = _decode_row(image_id, blob, decode_blob)
                img = px.reshape(h, w, 3)
                yi = (np.arange(out_h) * h // out_h).astype(np.int64)
                xi = (np.arange(out_w) * w // out_w).astype(np.int64)
                small = img[yi][:, xi]
                header = bytes(MAGIC) + bytes([0]) + out_w.to_bytes(2, "big") + out_h.to_bytes(2, "big")
                ids.append(image_id)
                blobs.append(header + small.tobytes())
                ws.append(out_w)
                hs.append(out_h)
            yield pd.DataFrame({"image_id": ids, "bytes": blobs, "w": ws, "h": hs})

    return images.select("image_id", "bytes").mapInPandas(run, RESIZE_SCHEMA)


EMBED_DIM = 64        # matches operators.similarity.DIM → ANN-ready
EMBED_FOLD = 1024     # pixel index folds mod this into the projection
EMBED_SCALE = 32768.0  # 2^15: exact in doubles; keeps the quantized
                       # int64 ANN arithmetic overflow-free (ANSI mode)

EMBED_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("embedding", ArrayType(DoubleType(), False), False),
    ]
)


def embed_sign(j: int, k: int) -> int:
    """Deterministic ±1 projection-matrix entry (md5-seeded, same
    construction as similarity.plane_sign) — baked as literals into
    the oracle SQL so both engines share the matrix by construction."""
    import hashlib

    h = hashlib.md5(f"emb{j},px{k}".encode()).digest()
    return 1 if h[0] % 2 == 0 else -1


def _embed_matrix() -> np.ndarray:
    return np.array(
        [[embed_sign(j, k) for j in range(EMBED_DIM)] for k in range(EMBED_FOLD)],
        dtype=np.int64,
    )  # (EMBED_FOLD, EMBED_DIM)


def feature_embed(images: DataFrame) -> DataFrame:
    """Visual-embedding extraction: decode → fixed random-projection
    (±1 signs, md5-seeded) of the pixel vector into EMBED_DIM ints —
    the deterministic, dependency-free stand-in for a vision model; a
    real pipeline swaps the matmul for an ONNX/torch forward pass in
    this exact mapInPandas shape. Output feeds the ANN family directly
    (similarity._prep quantizes integer-valued doubles exactly), so
    decode → embed → ANN is a real end-to-end path.

    e_j = (Σ_k sign(j, k mod EMBED_FOLD) · px[k]) / 2^15 — the sum is
    exact int64, the 2^15 scale is exact in doubles (so e_j·2^15 is a
    lossless round-trip for oracles) and keeps downstream quantized
    int64 dot products overflow-free under ANSI mode. One (n, L) @
    (L, DIM) matmul per shape group of an Arrow batch, payload never
    leaves the stage (output is EMBED_DIM doubles per row)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        M = _embed_matrix()
        for pdf in batches:
            out = np.empty((len(pdf), EMBED_DIM), dtype=np.float64)
            for _, ix, m in _decoded_groups(pdf["image_id"], pdf["bytes"], decode_blob):
                # float64 matmul: int64@int64 bypasses BLAS (slow C
                # loops). Pixels ≤255 × ±1 signs over L≤~10^4 terms
                # stay integer-exact in float64 (≪ 2^53), so BLAS is
                # free speed with bit-identical output.
                proj = M[np.arange(m.shape[1]) % EMBED_FOLD].astype(np.float64)  # (L, DIM)
                out[ix] = (m.astype(np.float64) @ proj) / EMBED_SCALE
            yield pd.DataFrame({"image_id": pdf["image_id"].to_numpy(), "embedding": list(out)})

    return images.select("image_id", "bytes").mapInPandas(run, EMBED_SCHEMA)


AUDIO_STATS_SCHEMA = StructType(
    [
        StructField("audio_id", StringType(), False),
        StructField("sample_rate", IntegerType(), False),
        StructField("n_samples", LongType(), False),
        StructField("duration_ms", LongType(), False),
        StructField("energy", LongType(), False),       # Σ s², exact int
        StructField("peak", IntegerType(), False),      # max |s|
        StructField("zero_crossings", LongType(), False),
    ]
)


def audio_stats(audio: DataFrame) -> DataFrame:
    """Audio-column analog of decode_stats: decode every PCM blob and
    emit integer waveform features (duration, energy Σs², peak,
    zero-crossing count) — all exactly reproducible from phash, so
    tests verify the full encode→store→decode path in closed form.
    Same-shape rows stack into one (n, L) matrix per Arrow batch;
    reductions are single numpy ops, never per-sample Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            sr_o = np.zeros(n, dtype=np.int32)
            ns_o = np.zeros(n, dtype=np.int64)
            dur_o = np.zeros(n, dtype=np.int64)
            en_o = np.zeros(n, dtype=np.int64)
            pk_o = np.zeros(n, dtype=np.int32)
            zc_o = np.zeros(n, dtype=np.int64)
            groups = _decoded_groups(pdf["audio_id"], pdf["bytes"], decode_audio_blob)
            for (sr, ns), ix, pcm in groups:
                m = pcm.astype(np.int64)
                sr_o[ix] = sr
                ns_o[ix] = ns
                dur_o[ix] = ns * 1000 // sr
                en_o[ix] = (m * m).sum(axis=1)
                pk_o[ix] = np.abs(m).max(axis=1, initial=0)
                sign = m >= 0
                zc_o[ix] = (sign[:, 1:] != sign[:, :-1]).sum(axis=1)
            yield pd.DataFrame(
                {
                    "audio_id": pdf["audio_id"].to_numpy(),
                    "sample_rate": sr_o,
                    "n_samples": ns_o,
                    "duration_ms": dur_o,
                    "energy": en_o,
                    "peak": pk_o,
                    "zero_crossings": zc_o,
                }
            )

    return audio.select("audio_id", "bytes").mapInPandas(run, AUDIO_STATS_SCHEMA)


def psnr_db(a: np.ndarray, b: np.ndarray) -> float:
    """PSNR between two uint8 pixel arrays (∞ → 999.0 sentinel)."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0:
        return 999.0
    return 10.0 * np.log10(255.0 * 255.0 / mse)


FRAME_SAMPLE_SCHEMA = StructType(
    [
        StructField("image_id", StringType(), False),
        StructField("frame_idx", IntegerType(), False),
        StructField("bytes", BinaryType(), False),
        StructField("w", IntegerType(), False),
        StructField("h", IntegerType(), False),
    ]
)


def frame_sample(videos: DataFrame, every_nth: int = 2) -> DataFrame:
    """Frame sampling for video-shaped payloads (task brief): a 'video'
    here is a fake-codec blob whose pixel payload stacks F frames of
    w×h×3 (F = len(payload)/(w·h·3)); real containers (mp4/webm) would
    slot a demuxer into this exact mapInPandas shape. Emits one
    re-encoded lossless frame row per sampled index — a 1:N unnest in
    Arrow batches, never per-pixel Python."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, blobs, ws, hs = [], [], [], [], []
            for image_id, blob in zip(pdf["image_id"], pdf["bytes"]):
                fmt, w, h, px = _decode_row(image_id, blob, decode_blob)
                frame_sz = w * h * 3
                header = bytes(MAGIC) + bytes([0]) + w.to_bytes(2, "big") + h.to_bytes(2, "big")
                for fi in range(0, len(px) // frame_sz, every_nth):
                    frame = px[fi * frame_sz:(fi + 1) * frame_sz]
                    ids.append(image_id)
                    idxs.append(fi)
                    blobs.append(header + frame.tobytes())
                    ws.append(w)
                    hs.append(h)
            yield pd.DataFrame(
                {"image_id": ids, "frame_idx": idxs, "bytes": blobs, "w": ws, "h": hs}
            )

    return videos.select("image_id", "bytes").mapInPandas(run, FRAME_SAMPLE_SCHEMA)
