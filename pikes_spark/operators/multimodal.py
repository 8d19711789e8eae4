"""Multimodal column plumbing: opaque binary payloads + typed metadata,
decode / feature-extract / frame-sample as mapInPandas stages.

Round 2: the IMAGE and AUDIO decode steps are REAL stdlib codecs —
images are actual PNG files (filter-0 subset, written and parsed with
struct+zlib) and audio is actual PCM WAV (written and parsed with the
stdlib ``wave`` module), so the features are computed from decoded
pixels/samples, not byte hashes. Only VIDEO remains a documented
deterministic stub (no stdlib container codec exists); swap
``_fake_video_decode`` for pyav at deployment. The Spark-side
plumbing — schema, Arrow batching, per-media partitioning — is the
deployment shape either way.
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
import zlib
from typing import Iterator, List, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

MEDIA_SCHEMA = ("media_id bigint, kind string, payload binary, "
                "width int, height int, duration_ms int")

FEATURES_SCHEMA = ("media_id bigint, kind string, n_bytes int, "
                   "sha256 string, feat array<float>, frames int")

_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


# ---------------------------------------------------------------------------
# real stdlib codecs (PNG filter-0 subset, PCM WAV)
# ---------------------------------------------------------------------------

def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (struct.pack(">I", len(data)) + tag + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))


def encode_png(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> real RGB8 PNG bytes (filter type 0)."""
    h, w, _ = pixels.shape
    raw = b"".join(b"\x00" + pixels[y].tobytes() for y in range(h))
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b""))


def decode_png(payload: bytes) -> np.ndarray:
    """Parse the filter-0 RGB8 PNG subset written by encode_png
    (real chunk walk + CRC-checked IHDR/IDAT + zlib inflate)."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG")
    pos = 8
    width = height = None
    idat = b""
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4: pos + 8]
        data = payload[pos + 8: pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if crc != (zlib.crc32(tag + data) & 0xFFFFFFFF):
            raise ValueError("PNG chunk CRC mismatch")
        if tag == b"IHDR":
            width, height, depth, color = struct.unpack(">IIBB", data[:10])
            if depth != 8 or color != 2:
                raise ValueError("unsupported PNG variant")
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = zlib.decompress(idat)
    stride = width * 3 + 1
    rows = []
    for y in range(height):
        row = raw[y * stride: (y + 1) * stride]
        if row[0] != 0:
            raise ValueError("only filter type 0 supported")
        rows.append(np.frombuffer(row[1:], dtype=np.uint8))
    return np.stack(rows).reshape(height, width, 3)


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 mono samples -> real PCM WAV bytes (stdlib wave)."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.astype("<i2").tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> Tuple[np.ndarray, int]:
    """WAV bytes -> (int16 samples, sample_rate)."""
    with wave.open(io.BytesIO(payload), "rb") as w:
        rate = w.getframerate()
        samples = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    return samples, rate


# ---------------------------------------------------------------------------
# synthetic media table (REAL file bytes, deterministic content)
# ---------------------------------------------------------------------------

def synthetic_media(spark: SparkSession, n: int = 64) -> DataFrame:
    """Deterministic media table whose image/audio payloads are real
    PNG/WAV files (seeded content)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        rng = np.random.default_rng(i)
        duration_ms = (i + 1) * 250
        if kind == "image":
            w, h = 8 + i % 24, 8 + (i * 3) % 24
            payload = encode_png(
                rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8))
        elif kind == "audio":
            t = np.arange(int(16000 * duration_ms / 1000.0))
            tone = (3000 * np.sin(2 * np.pi * (110 + i * 7) * t / 16000)
                    + rng.normal(0, 200, t.shape))
            payload = encode_wav(tone.astype(np.int16))
            w = h = 0
        else:
            payload = hashlib.sha256(f"media{i}".encode()).digest() * (4 + i % 7)
            w, h = 320, 240
        rows.append((i, kind, bytearray(payload), w, h, duration_ms))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# decode -> feature extract
# ---------------------------------------------------------------------------

def _fake_video_decode(payload: bytes) -> np.ndarray:
    """STUB decoder for video only (no stdlib container codec): a real
    implementation calls pyav; deterministic byte-derived 8-dim."""
    h = hashlib.sha256(payload).digest()
    return np.frombuffer(h[:32], dtype=np.uint8).reshape(8, 4).mean(axis=1) / 255.0


def _decode_features(payload: bytes, kind: str) -> np.ndarray:
    if kind == "image":
        px = decode_png(payload).astype(np.float64) / 255.0
        h, w, _ = px.shape
        return np.array([px[..., 0].mean(), px[..., 1].mean(),
                         px[..., 2].mean(), px[..., 0].std(),
                         px[..., 1].std(), px[..., 2].std(),
                         w / 1024.0, h / 1024.0])
    if kind == "audio":
        samples, rate = decode_wav(payload)
        x = samples.astype(np.float64) / 32768.0
        zcr = float(np.mean(np.abs(np.diff(np.signbit(x))))) if len(x) > 1 else 0.0
        return np.array([float(np.sqrt(np.mean(x ** 2))), zcr,
                         float(np.mean(np.abs(x))), float(np.max(np.abs(x))),
                         len(x) / rate / 60.0, rate / 48000.0, 0.0, 0.0])
    return _fake_video_decode(payload)


def extract_features(media: DataFrame, frame_stride_ms: int = 1000) -> DataFrame:
    """decode -> feature-extract -> frame-sample, batched per Arrow
    batch; partition by media_id for even work distribution."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: List[dict] = []
            for r in pdf.itertuples(index=False):
                payload = bytes(r.payload or b"")
                feat = _decode_features(payload, r.kind)
                frames = 1
                if r.kind == "video" and r.duration_ms:
                    frames = max(1, int(r.duration_ms) // frame_stride_ms)
                out.append({
                    "media_id": r.media_id, "kind": r.kind,
                    "n_bytes": len(payload),
                    "sha256": hashlib.sha256(payload).hexdigest(),
                    "feat": [float(x) for x in feat],
                    "frames": frames,
                })
            yield pd.DataFrame(out, columns=["media_id", "kind", "n_bytes",
                                             "sha256", "feat", "frames"])

    return media.repartition("media_id").mapInPandas(gen, FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# image perceptual hash (aHash) near-duplicate pairs
# ---------------------------------------------------------------------------

PHASH_SCHEMA = "media_id bigint, ahash bigint"
_PHASH_BANDS = 4          # 4 x 16-bit bands: complete for hamming <= 3
_PHASH_MAX_HAMMING = 3


def ahash64(px: "np.ndarray") -> int:
    """64-bit average hash: 8x8 grid-sampled integer gray values
    thresholded against their integer mean (v*64 >= total avoids the
    float mean), packed MSB-first. All-integer -> engine/partitioning
    independent."""
    h, w, _ = px.shape
    vals = []
    for r in range(8):
        for c in range(8):
            p = px[r * h // 8, c * w // 8]
            vals.append(int(p[0]) + int(p[1]) + int(p[2]))
    total = sum(vals)
    bits = 0
    for i, v in enumerate(vals):
        if v * 64 >= total:
            bits |= 1 << (63 - i)
    return int(np.int64(np.uint64(bits)))


def _image_corpus(spark: SparkSession) -> DataFrame:
    """The synthetic images plus a deterministically perturbed
    near-duplicate of each (media_id + 1000): a handful of pixel
    tweaks that survive aHash within a small hamming distance."""
    media = synthetic_media(spark).filter(F.col("kind") == "image")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                px = decode_png(bytes(r.payload))
                out.append({"media_id": int(r.media_id),
                            "ahash": ahash64(px)})
                px2 = px.copy()
                px2[0, 0, :] = 255 - px2[0, 0, :]
                px2[-1, -1, 0] ^= 0x1F
                out.append({"media_id": int(r.media_id) + 1000,
                            "ahash": ahash64(px2)})
            yield pd.DataFrame(out, columns=["media_id", "ahash"])

    return media.repartition("media_id").mapInPandas(gen, PHASH_SCHEMA)


def phash_pairs(spark: SparkSession, sf_dir: str = "",
                max_hamming: int = _PHASH_MAX_HAMMING) -> DataFrame:
    """Image near-duplicate pairs by aHash hamming distance <=
    `max_hamming`, found via BANDED blocking (the simhash pigeonhole:
    with 4 disjoint 16-bit bands, any pair within hamming 3 agrees on
    at least one band) — candidates come from equal-band buckets, so
    the join never goes all-pairs; the exact hamming verify
    (bit_count(xor)) runs JVM-side on candidates only.

    sf_dir is unused (the corpus is the deterministic media table);
    kept for the driver signature. Oracle: frozen VALUES, backed by a
    brute-force differential pytest."""
    return hamming_pairs(_image_corpus(spark), "media_id", "ahash",
                         max_hamming)


def hamming_pairs(hashes: DataFrame, id_col: str, hash_col: str,
                  max_hamming: int = _PHASH_MAX_HAMMING) -> DataFrame:
    """Banded near-dup join over any 64-bit fingerprint column: with 4
    disjoint 16-bit bands, pigeonhole guarantees every pair within
    hamming <= 3 shares a band — candidates come from equal-band
    buckets only, never all-pairs; the exact bit_count(xor) verify is
    JVM-side codegen on candidates."""
    hashes = hashes.select(F.col(id_col).alias("_id"),
                           F.col(hash_col).alias("_h")).localCheckpoint()
    bands = hashes.select(
        "_id", "_h",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright("_h", 16 * b).bitwiseAND(F.lit(0xFFFF))
                     .alias("val"))
            for b in range(_PHASH_BANDS)])).alias("bv"))
    l = bands.select(F.col("_id").alias("id1"), F.col("_h").alias("h1"),
                     F.col("bv.band").alias("band"),
                     F.col("bv.val").alias("val"))
    r = bands.select(F.col("_id").alias("id2"), F.col("_h").alias("h2"),
                     F.col("bv.band").alias("band"),
                     F.col("bv.val").alias("val"))
    cand = (l.join(r, ["band", "val"])
            .filter(F.col("id1") < F.col("id2"))
            .select("id1", "id2", "h1", "h2").distinct())
    return (cand.select(
        "id1", "id2",
        F.bit_count(F.expr("h1 ^ h2")).cast("bigint").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id1", "id2"))


# ---------------------------------------------------------------------------
# audio energy fingerprint near-duplicate pairs
# ---------------------------------------------------------------------------

AFP_SCHEMA = "media_id bigint, afp bigint"
_AFP_RATE = 16000
_AFP_BAND_HZ = 1000


def afp64(samples: "np.ndarray") -> int:
    """64-bit SPECTRAL fingerprint: the power spectrum (rfft) is cut
    into 64 equal bands; bit i is set iff band i's energy >= the mean
    band energy (b*64 >= total — no float division at the decision).
    Amplitude-INVARIANT (scaling the clip scales every band and the
    threshold equally) and pitch-discriminative — the properties a
    near-dup fingerprint needs; a time-domain energy envelope is
    degenerate on amplitude-uniform clips (all windows sit at the
    mean, so any perturbation flips half the bits).

    The FFT is float, so this fingerprint is pinned by the
    frozen-VALUES + brute-force-differential protocol (like the zlib
    digest), not by cross-engine SQL."""
    x = samples.astype(np.float64)
    n = len(x)
    spec = np.abs(np.fft.rfft(x)) ** 2
    # 64 bands over 0..1000 Hz (15.6 Hz resolution at 16 kHz) — where
    # the content of speech/music fundamentals lives
    freqs = np.arange(len(spec)) * (_AFP_RATE / n)
    band = np.floor(freqs * 64 / _AFP_BAND_HZ).astype(np.int64)
    mask = band < 64
    bands = np.bincount(band[mask], weights=spec[mask], minlength=64)
    total = float(bands.sum())
    bits = 0
    for i, b in enumerate(bands):
        if float(b) * 64 >= total:
            bits |= 1 << (63 - i)
    return int(np.int64(np.uint64(bits)))


def _audio_corpus(spark: SparkSession) -> DataFrame:
    """Synthetic audio clips plus a deterministically perturbed
    near-duplicate of each (media_id + 1000): a short fade applied to
    one window's worth of samples."""
    media = synthetic_media(spark).filter(F.col("kind") == "audio")

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                samples, _rate = decode_wav(bytes(r.payload))
                out.append({"media_id": int(r.media_id),
                            "afp": afp64(samples)})
                s2 = samples.astype(np.int64).copy()
                s2[: len(s2) // 64] //= 2       # damp the first window
                s2[-(len(s2) // 64):] //= 3     # and the last
                out.append({"media_id": int(r.media_id) + 1000,
                            "afp": afp64(np.clip(s2, -32768, 32767)
                                         .astype(np.int16))})
            yield pd.DataFrame(out, columns=["media_id", "afp"])

    return media.repartition("media_id").mapInPandas(gen, AFP_SCHEMA)


_AFP_MAX_HAMMING = 1  # spectral hashes are near-one-hot: two different
# pitches differ by >= 2 bits, amplitude variants by 0-1


def audio_fp_pairs(spark: SparkSession, sf_dir: str = "",
                   max_hamming: int = _AFP_MAX_HAMMING) -> DataFrame:
    """Audio near-duplicate pairs by fingerprint hamming distance —
    same banded pigeonhole join as phash_pairs (hamming_pairs), same
    frozen-VALUES + brute-force-differential oracle protocol."""
    return hamming_pairs(_audio_corpus(spark), "media_id", "afp",
                         max_hamming)
