"""CRNN-style recognition stage (deterministic template stand-in).

Pipeline per crop, mirroring the reference's recognition contract:

1. optional contrast adjustment — faithful port of the
   contrast_grey / adjust_contrast_grey semantics (reference
   easyocr/recognition.py:16-28): percentile(90/10) contrast measure,
   linear stretch when below target.
2. normalize + trim to ink (the role of NormalizePAD + aspect resize,
   reference easyocr/recognition.py:30-47, utils.py:557-577).
3. "forward pass": per character cell, frame-level class scores against
   the glyph atlas -> a [T, C] probability matrix with column 0 = CTC
   blank. Each glyph emits two identical frames followed by a blank
   frame (as a stride-based CNN over the cell grid would), so the CTC
   collapse-repeats + drop-blank path does real work. The crops of a
   batch are prepared together (``_glyph_windows``: every crop on one
   canvas) and all their n glyph windows (each nearest-resized to
   GLYPH_H x GLYPH_W) are scored at once: one [n, 35] x [35, C] matmul
   per script model, one sharpen + normalise over the [3n, C] frames,
   one greedy CTC pass, then a slice per word chunk — bit-identical to
   scoring and decoding crop by crop, window by window.
4. CTC greedy (default) or prefix beam search decode; confidence =
   custom_mean of non-blank step max-probs (reference
   easyocr/recognition.py:13-14,99-151).
5. Two-pass orchestration a la get_text (reference
   easyocr/recognition.py:186-233): pass 1 plain; if conf <
   contrast_ths(0.1), pass 2 contrast-adjusted; keep the higher-conf
   result. ``get_text`` runs each pass over a whole batch of crops.

Word gaps >= SPACE_GAP base px inside one crop decode as spaces (the
production path keeps words in separate boxes; this covers merged-box
crops from group_text_box's width_ths merging).
"""

from __future__ import annotations

import math
from collections.abc import Callable

import numpy as np

from ..fixtures.fonts import CHARSET, GLYPH_H, GLYPH_W, MODEL_TEMPLATES
from .ctc import ctc_beam_search, custom_mean, greedy_path, word_beam_search
from .detection import canvas_groups, ink_mask, runs

CONTRAST_THS = 0.1  # reference easyocr/easyocr.py:353 default
ADJUST_CONTRAST = 0.5  # reference default target passed to pass 2
SHARPNESS = 40.0  # score -> prob sharpening exponent
SPACE_GAP = 6  # base px gap that reads as a word separator
N_CLASSES = len(CHARSET) + 1


def _percentile(cum: np.ndarray, q: float) -> float:
    """The q-quantile (0..1) of the uint8 values counted by ``cum`` (the
    cumulative histogram), as ``np.percentile``'s default linear method
    computes it: the order statistics at floor and ceil of (n - 1) * q,
    blended by the same float64 expressions (numpy's ``_lerp``). The
    k-th smallest value is the first bin whose cumulative count passes
    k, so no sort is needed."""
    n = int(cum[-1])
    v = (n - 1) * q
    if v >= n - 1:
        return float(np.searchsorted(cum, n - 1, side="right"))
    i = math.floor(v)
    a, b = np.searchsorted(cum, [i, i + 1], side="right").tolist()
    t = v - i
    return b - (b - a) * (1 - t) if t >= 0.5 else a + (b - a) * t


def contrast_grey(img: np.ndarray) -> tuple[float, float, float]:
    """(contrast, high, low) of a uint8 image — reference
    easyocr/recognition.py:16-20, with high and low the 90th and 10th
    percentiles (``_percentile``)."""
    cum = np.cumsum(np.bincount(img.ravel(), minlength=256))
    high, low = _percentile(cum, 0.9), _percentile(cum, 0.1)
    return (high - low) / max(10.0, high + low), high, low


def adjust_contrast_grey(img: np.ndarray, target: float = 0.4) -> np.ndarray:
    """Reference easyocr/recognition.py:22-28 verbatim semantics."""
    contrast, high, low = contrast_grey(img)
    if contrast < target:
        img = img.astype(np.int64)
        ratio = 200.0 / max(10.0, high - low)
        img = (img - low + 25) * ratio
        img = np.clip(img, 0, 255).astype(np.uint8)
    return img


def _nearest_index(n: int, size):
    """Source indices of an n-sample nearest resize of ``size`` samples;
    ``size`` may be an int array column, giving one index row each."""
    return ((np.arange(n) + 0.5) * size / n).astype(np.int64).clip(0, size - 1)


# hoisted constants for the frame scorer (computed once per process,
# one set per script model — the executor-resident "weights"):
# match fraction between binary images a, t of P pixels is
# (P - popcount(a XOR t))/P = (2*a.t - sum(a) - sum(t) + P)/P — one
# matmul against the flattened template stack instead of per-char
# equality scans per window.
_NPIX = GLYPH_H * GLYPH_W


class _ScriptModel:
    def __init__(self, templates: np.ndarray):
        self.tflat_t = np.ascontiguousarray(templates.reshape(len(CHARSET), -1).T)
        self.tsum = self.tflat_t.sum(axis=0)
        self.blank_scores = np.empty(N_CLASSES)
        self.blank_scores[0] = 1.0
        # blank frame scores vs glyph templates: fraction of pixels
        # matching an empty window = the template's own empty fraction
        self.blank_scores[1:] = 1.0 - self.tsum / _NPIX
        raw = self.blank_scores ** SHARPNESS
        self.blank_probs = raw / raw.sum()  # every blank frame's probs


_SCRIPT_MODELS: dict[str, _ScriptModel] = {
    name: _ScriptModel(t) for name, t in MODEL_TEMPLATES.items()
}


def _frames(windows: np.ndarray, model: str) -> np.ndarray:
    """float32[n, GLYPH_H*GLYPH_W] 0/1 glyph windows -> [3n, C] prob
    matrix: per window its score frame twice, then a blank frame.

    Bit-identical to scoring each window on its own: every dot product
    and sum is an integer below 2^24, so float32 summation order cannot
    change a bit, and every later step is the same elementwise op (the
    blank column stays float64, as the per-window scalar path had it).
    Rows are normalised independently, so each window's frame is
    sharpened once and the constant blank frame not at all."""
    m = _SCRIPT_MODELS[model]
    n = len(windows)
    ssum = windows.sum(axis=1)
    scores = np.empty((n, N_CLASSES))
    scores[:, 0] = 1.0 - ssum.astype(np.float64) / _NPIX  # blank likes empty windows
    scores[:, 1:] = (2.0 * (windows @ m.tflat_t) - m.tsum - ssum[:, None] + _NPIX) / _NPIX
    raw = scores ** SHARPNESS
    frames = np.empty((n, 3, N_CLASSES))
    # the score frame twice (real collapse work for CTC), then a blank
    frames[:, 0] = frames[:, 1] = raw / raw.sum(axis=1, keepdims=True)
    frames[:, 2] = m.blank_probs
    return frames.reshape(3 * n, N_CLASSES)


def build_ignore_mask(
    allowlist: str | None = None,
    blocklist: str | None = None,
    charset: str = CHARSET,
) -> np.ndarray | None:
    """Character-constraint mask pushed into decoding (the reference
    zeroes softmax columns of ignored chars and renormalizes,
    easyocr/recognition.py:117-122; the ignore set is charset -
    allowlist, or blocklist — easyocr/easyocr.py:363-368). Returns a
    bool[len(charset) + 1] with True = ignore (never index 0 = blank);
    ``charset`` is the recognition model's (the torch models carry
    their own)."""
    if allowlist is None and blocklist is None:
        return None
    mask = np.zeros(len(charset) + 1, dtype=bool)
    if allowlist is not None:
        for i, ch in enumerate(charset):
            if ch not in allowlist:
                mask[i + 1] = True
    elif blocklist:
        for ch in blocklist:
            if ch in charset:
                mask[charset.index(ch) + 1] = True
    return mask


def apply_ignore(probs: np.ndarray, ignore: np.ndarray | None) -> np.ndarray:
    """[T, C] probabilities with the ignored columns zeroed and each row
    renormalised (rows left all-zero stay zero)."""
    if ignore is None or probs.size == 0:
        return probs
    out = probs.copy()
    out[:, ignore] = 0.0
    s = out.sum(axis=1, keepdims=True)
    s[s == 0] = 1.0
    return out / s


def _canvas_windows(crops: list[np.ndarray]) -> tuple[np.ndarray, ...]:
    """Non-empty uint8 crops -> (windows, owner, word) for the crops
    stacked on one canvas; see ``_glyph_windows``."""
    top = np.concatenate(([0], np.cumsum([c.shape[0] for c in crops])))
    canvas = np.full((top[-1], max(c.shape[1] for c in crops)), 255, dtype=np.uint8)
    for c, y in zip(crops, top.tolist()):
        canvas[y : y + c.shape[0], : c.shape[1]] = c
    ink = ink_mask(canvas)
    # each crop's ink bbox: its first and last ink row, and the first
    # and last ink column of its band
    rows = np.flatnonzero(ink.any(axis=1))
    r0, r1 = np.searchsorted(rows, top[:-1]), np.searchsorted(rows, top[1:]) - 1
    inked = np.flatnonzero(r0 <= r1)
    band, col = np.nonzero(np.logical_or.reduceat(ink, top[:-1], axis=0)[inked])
    c0 = np.searchsorted(band, np.arange(len(inked)))
    c1 = np.searchsorted(band, np.arange(len(inked)), side="right") - 1
    y0, x0 = rows[r0[inked]], col[c0]
    h, w = rows[r1[inked]] + 1 - y0, col[c1] + 1 - x0
    # GLYPH_H base rows: every scale-th ink pixel when the ink height is
    # scale * GLYPH_H, else a nearest resize to round(w * GLYPH_H / h)
    # columns (half-to-even rounding and ``_nearest_index``'s float64
    # formula, per column, so each crop samples the pixels it would alone)
    scale = np.maximum(1, np.round(h / GLYPH_H)).astype(np.int64)
    exact = h == scale * GLYPH_H
    row_at = y0[:, None] + np.where(
        exact[:, None],
        scale[:, None] // 2 + scale[:, None] * np.arange(GLYPH_H),
        _nearest_index(GLYPH_H, h[:, None]),
    )
    width = np.where(
        exact,
        -(-(w - scale // 2) // scale),  # len(range(scale // 2, w, scale))
        np.maximum(1, np.round(w / (h / GLYPH_H))).astype(np.int64),
    )
    own = np.repeat(np.arange(len(inked)), width)
    j = np.arange(len(own)) - np.repeat(np.cumsum(width) - width, width)
    col_at = x0[own] + np.where(
        exact[own],
        scale[own] // 2 + scale[own] * j,
        ((j + 0.5) * w[own] / width[own]).astype(np.int64).clip(0, w[own] - 1),
    )
    base = ink[row_at[own].T, col_at]  # every crop's GLYPH_H rows side by side
    # char segmentation: runs of non-empty base columns, with one blank
    # column after each crop so no run crosses into the next
    flags = np.zeros(len(own) + len(inked), dtype=bool)
    flags[np.arange(len(own)) + own] = base.any(axis=0)
    starts, ends = runs(flags)
    seg = np.searchsorted(np.cumsum(width + 1) - width - 1, starts, side="right") - 1
    starts, ends = starts - seg, ends - seg
    # glyph windows of every segment, nearest-resized to GLYPH_W columns
    idx = starts[:, None] + _nearest_index(GLYPH_W, (ends - starts)[:, None])
    windows = base[:, idx].transpose(1, 0, 2).reshape(len(starts), GLYPH_H * GLYPH_W)
    # word chunks split at wide gaps
    word = np.ones(len(starts), dtype=bool)
    word[1:] = (seg[1:] != seg[:-1]) | (starts[1:] - ends[:-1] >= SPACE_GAP)
    return windows, inked[seg], word


def _glyph_windows(crops: list[np.ndarray]) -> tuple[np.ndarray, ...]:
    """uint8 crops -> (windows, owner, word): one 0/1 row of
    GLYPH_H * GLYPH_W per glyph segment of every crop, in crop order;
    each segment's crop index; and True where a segment starts a word
    (a crop's first segment, or one past a SPACE_GAP gap). A crop
    without ink has no segment.

    Per crop: the ink mask trimmed to its ink bbox, brought to GLYPH_H
    rows (the role of NormalizePAD + aspect resize), split at blank
    columns into glyph segments, each nearest-resized to GLYPH_W
    columns. The crops are packed onto canvases (``canvas_groups``, 255
    pad = no ink), so each step is one array op over many crops."""
    keep = [i for i, c in enumerate(crops) if c.size]
    parts = []
    for group in canvas_groups([crops[i].shape for i in keep]):
        ids = np.array([keep[i] for i in group])
        windows, owner, word = _canvas_windows([crops[i] for i in ids])
        parts.append((windows, ids[owner], word))
    if not parts:
        return np.zeros((0, _NPIX), dtype=bool), np.zeros(0, dtype=np.int64), np.zeros(0, dtype=bool)
    windows, owner, word = (np.concatenate(p) for p in zip(*parts))
    order = np.argsort(owner, kind="stable")
    return windows[order], owner[order], word[order]


def recognize_crops(
    crops: list[np.ndarray],
    decoder: str = "greedy",
    ignore: np.ndarray | None = None,
    model: str = "latin",
) -> list[tuple[str, float]]:
    """uint8[H, W] crops -> (text, confidence) each, in one pass: every
    crop's glyph windows go through one ``_frames`` call, and greedy
    CTC collapses all frames at once. That equals decoding each word
    chunk alone: every window ends in a blank frame, so no repeat
    collapses across a chunk boundary, and a chunk's first frame is
    kept exactly when it is not blank. Beam decoders still run per
    chunk; the confidence always comes from the greedy path."""
    out = [("", 0.0)] * len(crops)
    windows, owner, word = _glyph_windows(crops)
    if not len(owner):
        return out
    probs = apply_ignore(_frames(windows.astype(np.float32), model), ignore)
    at, labels, confs = greedy_path(probs)
    chars = [CHARSET[k - 1] for k in labels.tolist()]
    # frame bounds of every word chunk (3 frames per segment) and the
    # greedy labels inside each
    chunk = np.append(np.flatnonzero(word), len(word))
    bounds = (3 * chunk).tolist()
    cuts = np.searchsorted(at, bounds).tolist()
    crop_chunks = np.searchsorted(owner[chunk[:-1]], np.arange(len(crops) + 1)).tolist()
    for i, (c0, c1) in enumerate(zip(crop_chunks[:-1], crop_chunks[1:])):
        if c0 == c1:
            continue
        words: list[str] = []
        for k in range(c0, c1):
            lo, hi = bounds[k], bounds[k + 1]
            if decoder == "beamsearch":
                text, _ = ctc_beam_search(probs[lo:hi], CHARSET)
            elif decoder == "wordbeamsearch":
                from ..fixtures.corpus import VOCAB  # the stand-in word dict

                text, _ = word_beam_search(probs[lo:hi], CHARSET, VOCAB)
            else:
                text = "".join(chars[cuts[k] : cuts[k + 1]])
            if text:
                words.append(text)
        out[i] = " ".join(words), custom_mean(confs[cuts[c0] : cuts[c1]])
    return out


def get_text(
    crops: list[np.ndarray],
    one_pass: Callable[[list[np.ndarray]], list[tuple[str, float]]],
    contrast_ths: float = CONTRAST_THS,
) -> list[tuple[str, float]]:
    """get_text's two-pass orchestration over a batch of crops
    (reference easyocr/recognition.py:186-233), for any backend's
    ``one_pass`` (crops -> (text, conf) each): retry every
    low-confidence crop contrast-adjusted, all retries in one second
    ``one_pass`` call, and keep the better result. A crop already at
    the target contrast comes back unchanged from
    ``adjust_contrast_grey``; its retry could not win, so it is not
    run."""
    out = one_pass(crops)
    adjusted = {
        i: adjust_contrast_grey(crops[i], ADJUST_CONTRAST)
        for i, (_, conf) in enumerate(out)
        if conf < contrast_ths
    }
    retry = [i for i, adj in adjusted.items() if adj is not crops[i]]
    if retry:
        again = one_pass([adjusted[i] for i in retry])
        for i, (text, conf) in zip(retry, again):
            if conf > out[i][1]:
                out[i] = text, conf
    return out
