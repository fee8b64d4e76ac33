"""Deterministic 5x7 bitmap glyph atlas (the stand-in "model weights").

The reference ships md5-pinned torch weights (easyocr/config.py:11-27)
downloaded at Reader init; the sandbox has no torch and no network, so
the stand-in recognizer's "weights" are this procedurally generated
glyph atlas: one 5x7 binary bitmap per character, derived from the
codepoint via a fixed xorshift32 stream. Properties enforced at build:

- every glyph column has >=1 ink pixel (keeps a glyph 4-connected after
  the detector's horizontal affinity dilation, and keeps character cell
  segmentation by blank columns exact);
- pairwise Hamming distance >= 8 of 35 bits between any two glyphs, so
  nearest-template classification has margin even after integer
  rescaling.

The charset mirrors the reference's CTC label convention: index 0 is
reserved for the CTC blank (reference easyocr/utils.py:276-309,
CTCLabelConverter puts '[blank]' at 0).
"""

from __future__ import annotations

import numpy as np

GLYPH_H = 7
GLYPH_W = 5
# cell = glyph + 1 blank spacing column; lines padded 1px top/bottom
CELL_W = GLYPH_W + 1
CELL_H = GLYPH_H + 1

# Recognizable characters (space is an inter-word separator, not a
# glyph). Mirrors the reference's per-script charset files
# (easyocr/character/en_char.txt: digits + punctuation + 52 letters):
# uppercase, digits, lowercase, and basic punctuation — so case
# semantics, allow/blocklist masking, and mixed-case vocab are
# non-trivially exercised. Each character gets its own procedural
# glyph; case pairs are DIFFERENT glyphs (hamming margin enforced).
CHARSET = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    "abcdefghijklmnopqrstuvwxyz"
    ".,!?-"
)
BLANK_IDX = 0  # CTC blank, as in CTCLabelConverter
# label index of CHARSET[i] is i + 1


def _xorshift32(x: int):
    while True:
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
        x ^= (x << 5) & 0xFFFFFFFF
        yield x


def _glyph_bits(ch: str, salt: int) -> np.ndarray:
    g = _xorshift32((ord(ch) * 2654435761 + salt * 40503 + 0x9E3779B9) & 0xFFFFFFFF)
    bits = []
    while len(bits) < GLYPH_H * GLYPH_W:
        v = next(g)
        for i in range(32):
            bits.append((v >> i) & 1)
    arr = np.array(bits[: GLYPH_H * GLYPH_W], dtype=np.uint8).reshape(GLYPH_H, GLYPH_W)
    # ensure every column AND every row has ink: columns keep cell
    # segmentation exact; rows keep the tight bbox exactly GLYPH_H tall
    # and the component 4-connected under the detector's (H=4, V=1)
    # affinity dilation at any integer render scale
    for c in range(GLYPH_W):
        if arr[:, c].sum() == 0:
            arr[(ord(ch) + c) % GLYPH_H, c] = 1
    for r in range(GLYPH_H):
        if arr[r, :].sum() == 0:
            arr[r, (ord(ch) + r) % GLYPH_W] = 1
    return arr


def _build_atlas(
    salt_base: int = 0, distinct_from: dict[str, np.ndarray] | None = None
) -> dict[str, np.ndarray]:
    # bump salt until the pairwise-distance margin holds (deterministic:
    # same loop, same result, every run). ``distinct_from`` additionally
    # requires every glyph to differ from the other atlas's glyph for
    # the SAME character by >= 8 bits, so per-script model routing is
    # load-bearing: decoding with the wrong script's templates cannot
    # silently coincide.
    for salt in range(1000):
        atlas = {ch: _glyph_bits(ch, salt_base + salt) for ch in CHARSET}
        flat = np.stack([atlas[c].ravel() for c in CHARSET])
        d = (flat[:, None, :] != flat[None, :, :]).sum(axis=2)
        np.fill_diagonal(d, 99)
        if d.min() < 8:
            continue
        if distinct_from is not None:
            cross = min(
                int((atlas[c] != distinct_from[c]).sum()) for c in CHARSET
            )
            if cross < 8:
                continue
        return atlas
    raise RuntimeError("could not build glyph atlas with distance margin")


ATLAS: dict[str, np.ndarray] = _build_atlas()
# second script's "weights": same charset, different glyph shapes — the
# stand-in for the reference's per-script gen1/gen2 model files
# (easyocr/config.py:53+ routes language -> model + charset; here the
# routed thing is which template atlas recognizes the pixels)
ATLAS_CJK: dict[str, np.ndarray] = _build_atlas(salt_base=7919, distinct_from=ATLAS)
# template stack in label order: TEMPLATES[i] is glyph for CHARSET[i]
TEMPLATES: np.ndarray = np.stack([ATLAS[c] for c in CHARSET]).astype(np.float32)
TEMPLATES_CJK: np.ndarray = np.stack([ATLAS_CJK[c] for c in CHARSET]).astype(np.float32)
MODEL_TEMPLATES: dict[str, np.ndarray] = {
    "latin": TEMPLATES,
    "cjk": TEMPLATES_CJK,
}
MODEL_ATLASES: dict[str, dict[str, np.ndarray]] = {
    "latin": ATLAS,
    "cjk": ATLAS_CJK,
}
