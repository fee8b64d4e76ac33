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
   collapse-repeats + drop-blank path does real work. All n glyph
   windows of a crop (each nearest-resized to GLYPH_H x GLYPH_W) are
   scored at once: one [n, 35] x [35, C] matmul per script model, one
   sharpen + normalise over the [3n, C] frames, then a slice per word
   chunk for decoding — bit-identical to scoring window by window.
4. CTC greedy (default) or prefix beam search decode; confidence =
   custom_mean of non-blank step max-probs (reference
   easyocr/recognition.py:13-14,99-151).
5. Two-pass orchestration a la get_text (reference
   easyocr/recognition.py:186-233): pass 1 plain; if conf <
   contrast_ths(0.1), pass 2 contrast-adjusted; keep the higher-conf
   result.

Word gaps >= SPACE_GAP base px inside one crop decode as spaces (the
production path keeps words in separate boxes; this covers merged-box
crops from group_text_box's width_ths merging).
"""

from __future__ import annotations

import numpy as np

from ..fixtures.fonts import CHARSET, GLYPH_H, GLYPH_W, MODEL_TEMPLATES
from .ctc import ctc_beam_search, custom_mean, greedy_collapse, word_beam_search
from .detection import ink_mask, runs

CONTRAST_THS = 0.1  # reference easyocr/easyocr.py:353 default
ADJUST_CONTRAST = 0.5  # reference default target passed to pass 2
SHARPNESS = 40.0  # score -> prob sharpening exponent
SPACE_GAP = 6  # base px gap that reads as a word separator
N_CLASSES = len(CHARSET) + 1


def contrast_grey(img: np.ndarray) -> tuple[float, float, float]:
    """(contrast, high, low) — reference easyocr/recognition.py:16-20."""
    high, low = (float(v) for v in np.percentile(img, (90, 10)))
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


def _nearest_resize(img: np.ndarray, h: int, w: int) -> np.ndarray:
    return img[_nearest_index(h, img.shape[0])][:, _nearest_index(w, img.shape[1])]


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
    allowlist: str | None = None, blocklist: str | None = None
) -> np.ndarray | None:
    """Character-constraint mask pushed into decoding (the reference
    zeroes softmax columns of ignored chars and renormalizes,
    easyocr/recognition.py:117-122; the ignore set is charset -
    allowlist, or blocklist — easyocr/easyocr.py:363-368). Returns a
    bool[N_CLASSES] with True = ignore (never index 0 = blank)."""
    if allowlist is None and blocklist is None:
        return None
    mask = np.zeros(N_CLASSES, dtype=bool)
    if allowlist is not None:
        for i, ch in enumerate(CHARSET):
            if ch not in allowlist:
                mask[i + 1] = True
    elif blocklist:
        for ch in blocklist:
            if ch in CHARSET:
                mask[CHARSET.index(ch) + 1] = True
    return mask


def _apply_ignore(probs: np.ndarray, ignore: np.ndarray | None) -> np.ndarray:
    if ignore is None or probs.size == 0:
        return probs
    out = probs.copy()
    out[:, ignore] = 0.0
    s = out.sum(axis=1, keepdims=True)
    s[s == 0] = 1.0
    return out / s


def recognize_crop(
    crop: np.ndarray,
    adjust: bool = False,
    decoder: str = "greedy",
    ignore: np.ndarray | None = None,
    model: str = "latin",
) -> tuple[str, float]:
    """uint8[H, W] crop -> (text, confidence)."""
    img = adjust_contrast_grey(crop, ADJUST_CONTRAST) if adjust else crop
    binary = ink_mask(img)
    rows = np.flatnonzero(binary.any(axis=1))
    if not len(rows):
        return "", 0.0
    cols = np.flatnonzero(binary.any(axis=0))
    binary = binary[rows[0] : rows[-1] + 1, cols[0] : cols[-1] + 1]
    h = binary.shape[0]
    scale = max(1, round(h / GLYPH_H))
    if h != scale * GLYPH_H:
        base = _nearest_resize(
            binary.astype(np.float32), GLYPH_H, max(1, round(binary.shape[1] / (h / GLYPH_H)))
        ) > 0.5
    else:
        base = binary[scale // 2 :: scale, scale // 2 :: scale]
    # char segmentation: runs of non-empty columns
    starts, ends = runs(base.any(axis=0))
    if not len(starts):
        return "", 0.0
    # glyph windows of every segment, nearest-resized to GLYPH_H x GLYPH_W
    # (base is GLYPH_H rows, so only the columns resample)
    idx = starts[:, None] + _nearest_index(GLYPH_W, (ends - starts)[:, None])
    windows = base[:, idx].transpose(1, 0, 2).reshape(len(starts), -1)
    probs = _apply_ignore(_frames(windows.astype(np.float32), model), ignore)
    # split into word chunks at wide gaps: 3 frames per segment
    breaks = np.flatnonzero(starts[1:] - ends[:-1] >= SPACE_GAP) + 1
    bounds = [0, *(3 * breaks).tolist(), len(probs)]
    words: list[str] = []
    all_confs: list[np.ndarray] = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        chunk = probs[lo:hi]
        labels, confs = greedy_collapse(chunk)
        if decoder == "beamsearch":
            text, _ = ctc_beam_search(chunk, CHARSET)
        elif decoder == "wordbeamsearch":
            from ..fixtures.corpus import VOCAB  # the stand-in word dict

            text, _ = word_beam_search(chunk, CHARSET, VOCAB)
        else:
            text = "".join(CHARSET[i - 1] for i in labels)
        if text:
            words.append(text)
        all_confs.append(confs)
    return " ".join(words), custom_mean(np.concatenate(all_confs))


def recognize_two_pass(
    crop: np.ndarray,
    decoder: str = "greedy",
    contrast_ths: float = CONTRAST_THS,
    ignore: np.ndarray | None = None,
    model: str = "latin",
) -> tuple[str, float]:
    """get_text's two-pass orchestration (reference
    easyocr/recognition.py:186-233): retry low-confidence crops with
    contrast adjustment, keep the better result."""
    text1, conf1 = recognize_crop(
        crop, adjust=False, decoder=decoder, ignore=ignore, model=model
    )
    if conf1 < contrast_ths:
        text2, conf2 = recognize_crop(
            crop, adjust=True, decoder=decoder, ignore=ignore, model=model
        )
        if conf2 > conf1:
            return text2, conf2
    return text1, conf1
