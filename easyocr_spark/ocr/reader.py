"""Reader-style facade: detect / recognize / readtext.

API mirror of the reference's Reader (reference easyocr/easyocr.py):

- ``detect(gray)`` -> (horizontal_list, free_list)   (:311-351)
- ``recognize(gray, horizontal_list, free_list)`` -> [(box, text, conf)]
  (:353-438) — crops in reading order (top-to-bottom lines, left-to-
  right words), two-pass contrast retry, greedy/beam/wordbeam decoder
  switch, allowlist/blocklist masking, rotation TTA.
- ``readtext(gray)`` = detect ∘ recognize             (:440-474)
- ``detect_batched`` / ``recognize_batched`` / ``readtext_batched``
  (:538-579): the same over a list of images — one detector canvas pass
  (``detection.detect_batched``) and one recognizer pass
  (``recognition.get_text``) over every crop of the batch. The
  per-image methods are these with a batch of one.
- ``text_projection`` — the projection our span pipeline uses: non-empty
  texts joined by single spaces in reading order, plus their min
  confidence; ``readtext_text`` is its text.

The detect stage is the CRAFT-style score-map detector
(``ocr/detection.py``); the reference's DBNet alternative
(easyocr/easyocr.py:235-268) is not mirrored. Rotation TTA mirrors
make_rotated_img_list + set_result_with_confidence
(easyocr/utils.py:802-835): each crop is additionally decoded at the
listed rotations and the highest-confidence variant wins.

This module is pure numpy and Spark-free so it can be unit-tested
standalone and imported inside Arrow UDF workers (the "weights" — the
glyph atlas — are module-level, loaded once per executor process, the
executor-resident-singleton pattern from SURVEY.md §4.2).
"""

from __future__ import annotations

from itertools import groupby

import numpy as np

from . import detection
from .grouping import group_text_box, min_size_filter
from .paragraph import get_paragraph
from .recognition import build_ignore_mask, get_text

MIN_SIZE = 10


def four_point_transform(gray: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """Perspective-warp a quad crop to an axis-aligned rectangle
    (reference easyocr/utils.py:428-448, cv2-free: inverse bilinear
    sampling on a target grid)."""
    q = np.asarray(quad, dtype=np.float64)
    (tl, tr, br, bl) = q
    w = int(max(np.linalg.norm(br - bl), np.linalg.norm(tr - tl)))
    h = int(max(np.linalg.norm(tr - br), np.linalg.norm(tl - bl)))
    w, h = max(w, 1), max(h, 1)
    us = (np.arange(w) + 0.5) / w
    vs = (np.arange(h) + 0.5) / h
    u, v = np.meshgrid(us, vs)
    top = tl[None, None, :] + u[:, :, None] * (tr - tl)[None, None, :]
    bot = bl[None, None, :] + u[:, :, None] * (br - bl)[None, None, :]
    pts = top + v[:, :, None] * (bot - top)
    xs = pts[:, :, 0].round().astype(np.int64).clip(0, gray.shape[1] - 1)
    ys = pts[:, :, 1].round().astype(np.int64).clip(0, gray.shape[0] - 1)
    return gray[ys, xs]


def merge_to_free(results: list, n_free: int) -> list:
    """Insert free-box results into reading position (the reference's
    output_format='free_merge', easyocr/utils.py:386-426): recognize()
    appends free-quad results after all horizontal ones; this re-inserts
    each free result into the line whose vertical band contains it, at
    its x position, so mixed upright+rotated pages read in true order.

    Line reconstruction mirrors the reference: a new line starts when
    the next result's top-left x does not increase (results arrive
    line-major, left-to-right). Insertion: a free box lands in the last
    line that starts at-or-above its top y (the reference's
    first-line-below minus one), then before the first box to its right."""
    if n_free <= 0 or len(results) <= n_free:
        return results
    free = results[-n_free:]
    horiz = results[:-n_free]
    lines: list[list] = []
    for r in horiz:
        if lines and lines[-1][-1][0][0][0] < r[0][0][0]:
            lines[-1].append(r)
        else:
            lines.append([r])
    for fr in free:
        fx, fy = fr[0][0][0], fr[0][0][1]
        y_pos = len(lines) - 1
        for i in range(1, len(lines)):
            if fy < lines[i][0][0][0][1]:
                y_pos = i - 1
                break
        line = lines[y_pos]
        x_pos = len(line)
        for i, r in enumerate(line):
            if fx < r[0][0][0]:
                x_pos = i
                break
        line.insert(x_pos, fr)
    return [r for line in lines for r in line]


def deshear_crop(gray: np.ndarray, quad: np.ndarray) -> np.ndarray:
    """Pixel-exact unshear for staircase-slanted words (vertical-edged
    parallelogram quads from detection.get_det_boxes): crop the quad's
    axis-aligned bbox, split it into glyph cells, and re-paste each cell
    with its own ink top aligned to a common baseline. Because glyphs
    are upright within the staircase (only their vertical offset
    varies), this reconstructs the unslanted word exactly — unlike a
    generic perspective warp, which would resample (and distort) glyph
    pixels along the slant. The reference handles slanted boxes by
    warping (easyocr/utils.py:428-448 four_point_transform); the exact
    unshear is the stand-in-faithful equivalent for its own staircase
    class.

    Blended branch, for the anti-aliased constant-slope (smooth) class,
    whose cells carry a half-pixel vertical phase rendered as a 2-tap
    gray-edge blend S(y) = (O(y) + O(y-1)) / 2 over the binary cell O:
    cells come from detection.smooth_cells (integer shift, blend phase,
    unblended height); half-phase cells are inverted by the exact greedy
    deconvolution O(y) = [2*S(y) - O(y-1) > 1/2] top-down (binary
    rounding resets the uint8 quantization error each row, so the
    recursion is stable). The result is the byte-exact upright render
    the template recognizer expects — the reference warps such boxes
    approximately; the stand-in's gray-edge contract makes the inverse
    exact."""
    crop, _, _ = detection.quad_window(gray, quad)
    if (crop == detection.SMOOTH_BLEND).any():
        starts, ends, tops, half, heights = detection.smooth_cells(crop)
        fill = 255
    else:
        starts, ends, tops, bottoms = detection.glyph_cells(detection.ink_mask(crop))
        if not len(starts):
            return crop
        half, heights = np.zeros(len(starts), dtype=bool), bottoms - tops
        fill = crop.max()
    out = np.full((heights.max(), crop.shape[1]), fill, dtype=crop.dtype)
    for s, e, t, blended, hh in zip(starts, ends, tops, half, heights):
        if not blended:
            out[:hh, s:e] = crop[t : t + hh, s:e]
            continue
        o_prev = np.zeros(e - s, dtype=np.float64)
        for i in range(hh):
            sv = (255.0 - crop[t + i, s:e].astype(np.float64)) / 255.0
            o_cur = (2.0 * sv - o_prev) > 0.5
            out[i, s:e] = np.where(o_cur, 0, 255)
            o_prev = o_cur.astype(np.float64)
    return out


class StandInReader:
    """Deterministic Reader; constructor args mirror the reference's
    decision-tree outputs (language list -> model/charset routing,
    reference easyocr/easyocr.py:106-167). lang_list routes between the
    two stand-in script atlases (latin vs cjk — routing is load-bearing:
    decoding cjk-rendered media with the latin model fails) and flips
    arabic output to RTL."""

    def __init__(
        self,
        lang_list: list[str] | None = None,
        decoder: str = "greedy",
        allowlist: str | None = None,
        blocklist: str | None = None,
    ):
        self.lang_list = lang_list or ["latin"]
        # Chinese models force the greedy decoder (reference
        # easyocr/easyocr.py:371: model_lang chinese_* overrides the
        # requested decoder) — beam variants are latin-model paths
        if "chinese" in self.lang_list:
            decoder = "greedy"
        self.decoder = decoder
        self.ignore = build_ignore_mask(allowlist, blocklist)
        # language -> recognition model routing (the reference's
        # decision tree maps lang_list to a gen1/gen2 model + charset,
        # easyocr/easyocr.py:106-167 + config.py:53+; the stand-in has
        # two template atlases standing in for two script models)
        self.recog_model = "cjk" if "chinese" in self.lang_list else "latin"

    def detect_batched(
        self,
        grays: list[np.ndarray],
        min_size: int = MIN_SIZE,
        optimal_num_chars: int | None = None,
    ) -> list[tuple[list[list[int]], list[list[list[float]]]]]:
        """Per image (horizontal_list, free_list); the craft detector
        runs once over the whole batch."""
        out = []
        for boxes in detection.detect_batched(grays, optimal_num_chars=optimal_num_chars):
            # with a char-count target the detector's priority order is
            # the answer — grouping must not re-sort it (reference
            # easyocr/easyocr.py:342: sort_output = optimal_num_chars is None)
            horizontal, free = group_text_box(
                boxes, sort_output=optimal_num_chars is None
            )
            out.append(min_size_filter(horizontal, free, min_size))
        return out

    def detect(
        self,
        gray: np.ndarray,
        min_size: int = MIN_SIZE,
        optimal_num_chars: int | None = None,
    ) -> tuple[list[list[int]], list[list[list[float]]]]:
        return self.detect_batched([gray], min_size, optimal_num_chars)[0]

    def _decode_crops(
        self, crops: list[np.ndarray], rotation_info: list[int] | None
    ) -> list[tuple[str, float]]:
        """Two-pass recognition of every crop, then each listed rotation
        of every crop; a rotation wins where its confidence is higher."""
        kwargs = {"decoder": self.decoder, "ignore": self.ignore, "model": self.recog_model}
        best = get_text(crops, **kwargs)
        for rot in rotation_info or []:
            rotated = get_text([np.rot90(c, k=rot // 90) for c in crops], **kwargs)
            best = [r if r[1] > b[1] else b for b, r in zip(best, rotated)]
        return best

    def recognize_batched(
        self,
        grays: list[np.ndarray],
        detections: list[tuple[list[list[int]], list[list[list[float]]]]],
        rotation_info: list[int] | None = None,
        paragraph: bool = False,
        free_merge: bool = False,
    ) -> list:
        """``recognize`` for a batch of images and their detections: the
        crops of every image are recognized together."""
        crops: list[np.ndarray] = []
        boxes: list[tuple[int, list]] = []  # (image index, result box)
        for i, (gray, (horizontal_list, free_list)) in enumerate(zip(grays, detections)):
            h, w = gray.shape
            # horizontal boxes are already in reading order from
            # grouping; the reference's get_image_list re-sorts by top y
            # (easyocr/utils.py:621-622) which is stable-equal here
            for x0, x1, y0, y1 in horizontal_list:
                x0c, y0c = max(0, x0), max(0, y0)
                crop = gray[y0c : min(h, y1), x0c : min(w, x1)]
                if crop.size == 0:
                    continue
                crops.append(crop)
                boxes.append((i, [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]))
            for quad in free_list:
                q = np.asarray(quad)
                if detection.vertical_edged(q):
                    crops.append(deshear_crop(gray, q))
                else:
                    crops.append(four_point_transform(gray, q))
                boxes.append((i, [list(p) for p in quad]))
        results: list[list] = [[] for _ in grays]
        for (i, box), (text, conf) in zip(boxes, self._decode_crops(crops, rotation_info)):
            results[i].append((box, text, conf))
        mode = "rtl" if "arabic" in self.lang_list else "ltr"
        for i, (_, free_list) in enumerate(detections):
            if free_merge:
                results[i] = merge_to_free(results[i], len(free_list))
            if paragraph:
                results[i] = get_paragraph(results[i], mode=mode)
        return results

    def recognize(
        self,
        gray: np.ndarray,
        horizontal_list: list[list[int]],
        free_list: list[list[list[float]]],
        rotation_info: list[int] | None = None,
        paragraph: bool = False,
        free_merge: bool = False,
    ) -> list:
        return self.recognize_batched(
            [gray], [(horizontal_list, free_list)], rotation_info, paragraph, free_merge
        )[0]

    def readtext_batched(
        self,
        grays: list[np.ndarray],
        rotation_info: list[int] | None = None,
        paragraph: bool = False,
        free_merge: bool = False,
    ) -> list:
        """readtext over a batch of images (the reference's
        readtext_batched, easyocr/easyocr.py:538-579): one detector pass
        and one recognizer pass for the whole batch; per image the same
        results as ``readtext``."""
        return self.recognize_batched(
            grays, self.detect_batched(grays), rotation_info, paragraph, free_merge
        )

    def readtext(
        self,
        gray: np.ndarray,
        rotation_info: list[int] | None = None,
        paragraph: bool = False,
        free_merge: bool = False,
    ) -> list:
        return self.readtext_batched([gray], rotation_info, paragraph, free_merge)[0]

    def readtext_text(self, gray: np.ndarray, rtl: bool = False) -> str:
        """Reading-order span text: ``text_projection`` of the
        free-merged readtext results."""
        return text_projection(self.readtext(gray, free_merge=True), rtl)[0]


def text_projection(results: list, rtl: bool = False) -> tuple[str, float]:
    """readtext results -> (span text, min confidence) — the projection
    the span pipeline uses: non-empty texts joined by single spaces in
    result order, with the min over their confidences (0.0 when none).
    ``rtl`` reverses word order within each line (the bidi display
    reordering stand-in, reference easyocr/easyocr.py:414-418 — applied
    when the routed language is Arabic); a new line starts where the box
    top changes. Callers pass free-merged results (``free_merge=True``),
    so free quads sit in reading position among the horizontal boxes (a
    no-op for all-upright or all-slanted pages)."""
    kept = [(b, t, c) for b, t, c in results if t]
    if rtl:
        lines = groupby(kept, key=lambda k: k[0][0][1])
        kept = [k for _, line in lines for k in reversed(list(line))]
    return " ".join(t for _, t, _ in kept), min((c for _, _, c in kept), default=0.0)
