"""Alternative detector: projection-profile strategy.

The reference makes the detect stage pluggable — CRAFT or DBNet behind
one interface (`detect_network` param, easyocr/easyocr.py:235-268;
compatibility wrappers easyocr/detection_db.py:15-220). This module is
our second strategy proving the same plug point: instead of score maps
+ connected components it uses classic projection profiles — row-ink
sums split the page into line bands, column-ink sums inside each band
split words — and returns the SAME output contract as detection.detect:
a list of 4-point float boxes in input pixel coords.

Semantically different engine, identical interface and (on clean
renders) identical boxes — asserted in tests/test_reader_features.py.
"""

from __future__ import annotations

import numpy as np

from .detection import glyph_cells, runs


def detect(gray: np.ndarray, min_gap_frac: float = 0.75) -> list[np.ndarray]:
    """gray uint8[H, W] -> 4-point boxes (word grain, reading order).

    min_gap_frac: a within-line blank gap counts as a word separator
    when wider than min_gap_frac * line height (scale-invariant — word
    gaps in natural text are comparable to the line height, while
    inter-character gaps are far smaller).
    """
    g = gray.astype(np.float32)
    lo, hi = g.min(), g.max()
    ink = (hi - g) / max(hi - lo, 1.0) > 0.5
    boxes: list[np.ndarray] = []
    for y0, y1 in zip(*runs(ink.any(axis=1))):
        min_gap = max(2, int(min_gap_frac * (y1 - y0)))
        starts, ends, tops, bottoms = glyph_cells(ink[y0:y1])
        # merge char runs separated by gaps < min_gap into words
        firsts = np.flatnonzero(np.r_[True, starts[1:] - ends[:-1] >= min_gap])
        lasts = np.r_[firsts[1:], len(starts)] - 1
        by0 = y0 + np.minimum.reduceat(tops, firsts)
        by1 = y0 + np.maximum.reduceat(bottoms, firsts)
        for x0, x1, t, b in zip(starts[firsts], ends[lasts], by0, by1):
            boxes.append(
                np.array([[x0, t], [x1, t], [x1, b], [x0, b]], dtype=np.float32)
            )
    return boxes
