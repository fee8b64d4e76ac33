"""Minimal pure-Python PNG codec: gray-8, truecolor-8, RGBA-8, palette-8.

Mirrors the role of cv2.imencode/imdecode in the reference ingest path
(reference easyocr/utils.py:742-746 decodes raw bytes with
``cv2.imdecode``; easyocr/imgproc.py:11-18 loadImage then converts
BGR/RGB/RGBA to grayscale): our media table stores encoded PNG bytes,
and the OCR UDF decodes them to ``np.uint8[H, W]`` inside the Arrow
batch. Color (type-2 RGB) images are converted with the fixed-point
BT.601 luma (77 R + 150 G + 29 B) >> 8 — integer weights summing to
256, so pure grays map to themselves exactly and the conversion is
bit-reproducible across engines.

Encoder always writes filter type 0 (None) scanlines; decoder
implements all five PNG filter reconstructions (bpp-aware, so gray,
palette-index, RGB and RGBA scanlines all reconstruct) so any
conformant non-interlaced 8-bit PNG of those color types round-trips.
RGBA drops alpha like the reference (easyocr/utils.py:758-762);
palette expands PLTE to RGB like cv2.imdecode's IMREAD_COLOR.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def encode_gray(img: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8[H, W] -> PNG bytes (grayscale, bit depth 8, no interlace)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError("encode_gray expects uint8[H, W]")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    # filter byte 0 per scanline
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img
    idat = zlib.compress(raw.tobytes(), compress_level)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_rgb(img: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8[H, W, 3] -> PNG bytes (truecolor, bit depth 8)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 3:
        raise ValueError("encode_rgb expects uint8[H, W, 3]")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = np.empty((h, w * 3 + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img.reshape(h, w * 3)
    idat = zlib.compress(raw.tobytes(), compress_level)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_rgba(img: np.ndarray, compress_level: int = 6) -> bytes:
    """uint8[H, W, 4] -> PNG bytes (truecolor+alpha, bit depth 8)."""
    if img.dtype != np.uint8 or img.ndim != 3 or img.shape[2] != 4:
        raise ValueError("encode_rgba expects uint8[H, W, 4]")
    h, w = img.shape[:2]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0)
    raw = np.empty((h, w * 4 + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = img.reshape(h, w * 4)
    idat = zlib.compress(raw.tobytes(), compress_level)
    return _SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def encode_palette(
    indices: np.ndarray, palette: np.ndarray, compress_level: int = 6
) -> bytes:
    """uint8[H, W] palette indices + uint8[P, 3] palette -> PNG bytes
    (indexed-color, bit depth 8, PLTE chunk)."""
    if indices.dtype != np.uint8 or indices.ndim != 2:
        raise ValueError("encode_palette expects uint8[H, W] indices")
    if palette.dtype != np.uint8 or palette.ndim != 2 or palette.shape[1] != 3:
        raise ValueError("palette must be uint8[P, 3]")
    if indices.max(initial=0) >= len(palette):
        raise ValueError("index out of palette range")
    h, w = indices.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = np.empty((h, w + 1), dtype=np.uint8)
    raw[:, 0] = 0
    raw[:, 1:] = indices
    idat = zlib.compress(raw.tobytes(), compress_level)
    return (
        _SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"PLTE", palette.tobytes())
        + _chunk(b"IDAT", idat)
        + _chunk(b"IEND", b"")
    )


def _unfilter(raw: np.ndarray, h: int, row_bytes: int, bpp: int) -> np.ndarray:
    """Reconstruct filtered scanlines -> uint8[h, row_bytes]. bpp-aware
    (Sub/Average/Paeth reference the pixel bpp bytes to the left)."""
    filters = raw[:, 0]
    if not filters.any():  # filter 0 (None) on every row: the scanlines are the pixels
        return raw[:, 1:].copy()
    out = raw[:, 1:].astype(np.int32)
    prev = np.zeros(row_bytes, dtype=np.int32)
    for y in range(h):
        f = filters[y]
        row = out[y]
        if f == 0:
            pass
        elif f == 1:  # Sub
            for x in range(bpp, row_bytes):
                row[x] = (row[x] + row[x - bpp]) & 0xFF
        elif f == 2:  # Up
            row += prev
            row &= 0xFF
        elif f == 3:  # Average
            for x in range(row_bytes):
                a = row[x - bpp] if x >= bpp else 0
                row[x] = (row[x] + (a + int(prev[x])) // 2) & 0xFF
        elif f == 4:  # Paeth
            for x in range(row_bytes):
                a = row[x - bpp] if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[x] = (row[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad filter {f}")
        prev = row
    return out.astype(np.uint8)


def _bt601(rgb: np.ndarray) -> np.ndarray:
    # uint16 holds every sum: at most 256 * 255 + 128 = 65408
    rgb = rgb.astype(np.uint16)
    gray = (77 * rgb[:, :, 0] + 150 * rgb[:, :, 1] + 29 * rgb[:, :, 2] + 128) >> 8
    return gray.astype(np.uint8)


def decode_image(data: bytes) -> tuple[np.ndarray, int]:
    """PNG bytes -> (uint8[H, W] grayscale, n_channels of the source).

    Gray-8 passes through; RGB-8 converts via fixed-point BT.601
    (weights 77/150/29 sum to 256: pure grays are preserved exactly);
    RGBA-8 drops alpha first, matching the reference's RGBA branch
    (easyocr/utils.py:758-762: img[:, :, :3], no compositing); indexed
    color expands the PLTE palette to RGB (cv2.imdecode's IMREAD_COLOR
    behavior) then converts. n_channels reports the SOURCE format: 1
    gray, 3 truecolor/palette, 4 RGBA. This is the loadImage
    normalization branch (reference easyocr/imgproc.py:11-18 /
    utils.py:732-769) for the formats the engine's media column
    carries."""
    if data[:8] != _SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = ctype = None
    idat = bytearray()
    plte = None
    while pos < len(data):
        (length,) = struct.unpack(">I", data[pos : pos + 4])
        tag = data[pos + 4 : pos + 8]
        payload = data[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            w, h, depth, ctype, _, _, interlace = struct.unpack(">IIBBBBB", payload)
            if depth != 8 or ctype not in (0, 2, 3, 6) or interlace != 0:
                raise ValueError(
                    "only gray-8 / rgb-8 / palette-8 / rgba-8 non-interlaced supported"
                )
        elif tag == b"PLTE":
            plte = np.frombuffer(payload, dtype=np.uint8).reshape(-1, 3)
        elif tag == b"IDAT":
            idat += payload
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("missing IHDR")
    bpp = {0: 1, 2: 3, 3: 1, 6: 4}[ctype]
    raw = np.frombuffer(zlib.decompress(bytes(idat)), dtype=np.uint8)
    raw = raw.reshape(h, w * bpp + 1)
    out = _unfilter(raw, h, w * bpp, bpp)
    if ctype == 0:
        return out, 1
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        rgb = plte[out.reshape(h, w)]
        return _bt601(rgb), 3
    px = out.reshape(h, w, bpp)
    if ctype == 6:
        return _bt601(px[:, :, :3]), 4
    return _bt601(px), 3


def decode_gray(data: bytes) -> np.ndarray:
    """PNG bytes (gray-8 or rgb-8) -> uint8[H, W] grayscale."""
    return decode_image(data)[0]
