"""Deterministic stand-in image codec (numpy + zlib only).

The container has no PIL/OpenCV, so the *codec* is a clearly-marked deterministic
fake — but everything Spark-side is real: `bytes:binary` columns, Arrow-batched
decode inside `mapInPandas`, format sniffing by magic bytes, width/height/format
metadata extraction, and the lossy-roundtrip PSNR≥40dB invariant (BASELINE.json
input_hint). Swapping in a real codec (PIL/libjpeg) changes only this module.

Container format (per image):
    magic[8] | w:uint32le | h:uint32le | zlib(payload)
where payload is the raw RGB uint8 buffer (h*w*3 bytes). "Lossy" formats (JPEG,
WEBP) quantize each channel to even values before compression: max abs error 1
⇒ MSE ≤ 1 ⇒ PSNR = 10·log10(255²/MSE) ≥ 48.13 dB, satisfying the ≥40 dB bound.
GIF encodes fine but is rejected downstream by the format filter, mirroring the
reference's decode-then-reject behavior (crawlingathome.py:106-110).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

# 8-byte magic prefixes. JPEG/PNG/GIF echo the real file signatures so format
# sniffing code looks like real sniffing; WEBP uses the RIFF....WEBP layout.
MAGIC = {
    "JPEG": b"\xff\xd8\xff\xe0CAH!",
    "PNG": b"\x89PNG\r\n\x1a\n",
    "GIF": b"GIF89aCH",
    "WEBP": b"RIFFWEBP",
}
LOSSY = frozenset({"JPEG", "WEBP"})
_HEADER = struct.Struct("<II")


def encode(img: np.ndarray, fmt: str) -> bytes:
    """Encode an (h, w, 3) uint8 array into the fake container format."""
    if fmt not in MAGIC:
        raise ValueError(f"unknown format {fmt!r}")
    h, w = img.shape[0], img.shape[1]
    payload = img.astype(np.uint8)
    if fmt in LOSSY:
        payload = payload & np.uint8(0xFE)  # quantize: max abs error 1 ⇒ PSNR ≥ 48 dB
    return MAGIC[fmt] + _HEADER.pack(w, h) + zlib.compress(payload.tobytes(), 6)


def sniff_format(b: bytes) -> str | None:
    """Detect format from magic bytes; None if unrecognized."""
    if len(b) < 16:
        return None
    head = bytes(b[:8])
    for fmt, magic in MAGIC.items():
        if head == magic:
            return fmt
    return None


def decode(b: bytes) -> tuple[str, int, int, np.ndarray] | None:
    """Decode container bytes → (fmt, w, h, pixels) or None if undecodable.

    Mirrors the reference's decode-validate (crawlingathome.py:102-115): any
    corruption (bad magic, truncated stream, size mismatch) returns None rather
    than raising.
    """
    fmt = sniff_format(b)
    if fmt is None:
        return None
    try:
        w, h = _HEADER.unpack_from(b, 8)
        if w <= 0 or h <= 0 or w * h > 64_000_000:  # decompression-bomb guard
            return None
        raw = zlib.decompress(bytes(b[16:]))
        if len(raw) != h * w * 3:
            return None
        return fmt, w, h, np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3)
    except (zlib.error, struct.error):
        return None


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    """Peak signal-to-noise ratio in dB between two uint8 images."""
    diff = a.astype(np.float64) - b.astype(np.float64)
    mse = float(np.mean(diff * diff))
    if mse == 0.0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


def random_image(rng: np.random.Generator, w: int, h: int) -> np.ndarray:
    """Seeded-noise RGB image — incompressible, so encoded size ≈ 16 + h*w*3."""
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
