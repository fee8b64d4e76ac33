"""CTC decoding + confidence, mirroring the reference's semantics.

- ``decode_greedy``: vectorized collapse-repeats-then-drop-blank, the
  same algorithm as CTCLabelConverter.decode_greedy (reference
  easyocr/utils.py:327-343: mask ``t[1:] != t[:-1]`` then remove
  ignore/blank indices).
- ``ctc_beam_search``: CTC prefix beam search over a single crop's
  probability matrix (reference easyocr/utils.py:181-270). Per-crop
  sequential by nature; parallelism lives across crops/partitions.
- ``custom_mean``: prod(p)^(2/sqrt(n)) generalized mean (reference
  easyocr/recognition.py:13-14) — NOT the arithmetic mean; the two-pass
  contrast retry selects text by comparing these values, so the formula
  must match.
"""

from __future__ import annotations

import numpy as np

BLANK = 0


def custom_mean(x: np.ndarray) -> float:
    if len(x) == 0:
        return 0.0
    return float(np.prod(x) ** (2.0 / np.sqrt(len(x))))


def greedy_path(probs: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """probs float[T, C] -> (steps, labels, confs) of the labels left
    after collapse-repeats + drop-blank (the decode_greedy core): each
    one's frame index, class and step max-prob."""
    if probs.size == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty, np.empty(0)
    idx = probs.argmax(axis=1)
    # collapse repeats: keep positions where label differs from previous
    keep = np.ones(len(idx), dtype=bool)
    keep[1:] = idx[1:] != idx[:-1]
    steps = np.flatnonzero(keep & (idx != BLANK))
    labels = idx[steps]
    return steps, labels, probs[steps, labels]


def greedy_collapse(probs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """probs float[T, C] -> (nonblank labels, their step max-probs) after
    collapse-repeats + drop-blank."""
    _, labels, confs = greedy_path(probs)
    return labels, confs


def decode_greedy(probs: np.ndarray, charset: str) -> tuple[str, float]:
    """probs: float[T, C] with column 0 = blank. Returns (text, conf)."""
    labels, confs = greedy_collapse(probs)
    text = "".join(charset[i - 1] for i in labels)
    return text, custom_mean(confs)


def word_beam_search(
    probs: np.ndarray,
    charset: str,
    dictionary: list[str],
    beam_width: int = 5,
    max_candidate: int = 20,
) -> tuple[str, float]:
    """Dictionary-constrained decode with the reference's exact
    semantics (decode_wordbeamsearch easyocr/utils.py:352-384 +
    BeamState.wordsearch :88-108): the matrix passed in is already ONE
    space-separated segment — segmentation happens upstream at the
    word gaps (recognize_crops' chunk split plays the role of the
    no-separator branch's argwhere(argmax != space) timestep split) —
    beam-search it, walk the final beam candidates in probability
    order, and snap to the FIRST candidate that is a dictionary word.
    If no candidate is in the dictionary, the top beam wins unchanged
    (the reference returns best_text from candidate 0 — NOT a nearest-
    word snap)."""
    cands = ctc_beam_candidates(probs, charset, beam_width)[:max_candidate]
    if not cands:
        return "", 0.0
    for text, p in cands:
        if text in dictionary:
            return text, p
    return cands[0]


def ctc_beam_search(
    probs: np.ndarray, charset: str, beam_width: int = 5
) -> tuple[str, float]:
    """CTC prefix beam search -> best (text, prob)."""
    cands = ctc_beam_candidates(probs, charset, beam_width)
    return cands[0] if cands else ("", 0.0)


def ctc_beam_candidates(
    probs: np.ndarray, charset: str, beam_width: int = 5
) -> list[tuple[str, float]]:
    """CTC prefix beam search (log-free, probabilities like the
    reference) returning ALL final beams ranked by total probability —
    the candidate list wordsearch walks. State per beam:
    (labeling tuple) -> (p_blank, p_nonblank).
    """
    if probs.size == 0:
        return []
    beams: dict[tuple, tuple[float, float]] = {(): (1.0, 0.0)}
    T, C = probs.shape
    for t in range(T):
        new: dict[tuple, tuple[float, float]] = {}

        def add(lab, pb, pnb):
            opb, opnb = new.get(lab, (0.0, 0.0))
            new[lab] = (opb + pb, opnb + pnb)

        for lab, (pb, pnb) in beams.items():
            ptot = pb + pnb
            # blank extends either state
            add(lab, ptot * probs[t, BLANK], 0.0)
            # repeat last char only from blank-ended paths; same char
            # following non-blank collapses into the same labeling
            if lab:
                add(lab, 0.0, pnb * probs[t, lab[-1]])
            for c in range(1, C):
                p = probs[t, c]
                if p <= 0.0:
                    continue
                if lab and lab[-1] == c:
                    add(lab + (c,), 0.0, pb * p)
                else:
                    add(lab + (c,), 0.0, ptot * p)
        beams = dict(
            sorted(new.items(), key=lambda kv: kv[1][0] + kv[1][1], reverse=True)[
                :beam_width
            ]
        )
    ranked = sorted(beams.items(), key=lambda kv: kv[1][0] + kv[1][1], reverse=True)
    return [
        ("".join(charset[i - 1] for i in lab), float(pb + pnb))
        for lab, (pb, pnb) in ranked
    ]
