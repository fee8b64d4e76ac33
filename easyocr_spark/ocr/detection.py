"""CRAFT-style detection stage (deterministic numpy stand-in).

Semantics mirrored from the reference:

- score maps at HALF input resolution, one "region" (text) and one
  "link" (affinity) channel — the CRAFT contract (reference
  easyocr/detection.py:51-52, easyocr/craft.py:58-80). Here the forward
  pass is replaced by ink-density pooling + horizontal affinity dilation
  (deterministic; no torch in the sandbox).
- thresholding + clipping + connected components + area/score filters +
  box estimation: the getDetBoxes_core recipe (reference
  easyocr/craft_utils.py:20-85): combined = clip(text_score + link_score,
  0, 1); components with pixel area < 10 dropped; components whose max
  region score < text_threshold dropped; box coords scaled back to input
  pixels by the ratio x 2 rule (reference easyocr/craft_utils.py:245-251).
- ``resize_aspect_ratio`` semantics: cap longest side at
  canvas_size*mag_ratio and pad to a multiple of 32 (reference
  easyocr/imgproc.py:37-65) — the pad-to-32 is what makes width-bucketed
  batching possible at scale.

Batching: ``detect_batched`` stacks many images into one canvas (each
padded as above, separated by a blank row) and runs every stage once
over it — score maps, one run-graph labeling of the mask, and the
per-component stats, glyph cells and boxes as array ops over all the
components of the batch. ``detect``, ``detect_polys`` and
``get_det_boxes`` are the same code with a batch of one.

Divergence (documented): the region map normalizes darkness adaptively
by the image's own min/max, where CRAFT normalizes by ImageNet mean/var
(reference easyocr/imgproc.py:20-26); the stand-in has no learned
contrast invariance, so it buys it with min/max stretch.
"""

from __future__ import annotations

import numpy as np

LOW_TEXT = 0.4  # reference default low_text (easyocr/easyocr.py:311)
LINK_THRESHOLD = 0.4
TEXT_THRESHOLD = 0.7
MIN_AREA = 10  # reference craft_utils.py:35 (size filter)
LINK_RADIUS_H = 4  # half-res horizontal affinity reach (bridges <=8px gaps;
#                    word gaps are >=9 half-res px at the smallest render scale)
LINK_RADIUS_V = 1  # vertical affinity reach (bridges intra-glyph row gaps;
#                    line gaps are >=4 half-res px)
RATIO_NET = 2  # score maps are half resolution, like CRAFT
BATCH_PIXELS = 1 << 20  # pixels of one stacked canvas (canvas_groups)


def _resize(img: np.ndarray, canvas_size: int, mag_ratio: float) -> tuple[np.ndarray, float]:
    """Nearest-neighbor aspect resize capped at canvas_size, unpadded."""
    h, w = img.shape
    target = mag_ratio * max(h, w)
    if target > canvas_size:
        target = canvas_size
    ratio = target / max(h, w)
    if ratio != 1.0:
        ys = (np.arange(int(h * ratio)) / ratio).astype(np.int64).clip(0, h - 1)
        xs = (np.arange(int(w * ratio)) / ratio).astype(np.int64).clip(0, w - 1)
        img = img[ys][:, xs]
    return img, ratio


def _pad32(n: int) -> int:
    return n if n % 32 == 0 else n + (32 - n % 32)


def resize_aspect_ratio(
    img: np.ndarray, canvas_size: int = 2560, mag_ratio: float = 1.0
) -> tuple[np.ndarray, float]:
    """Nearest-neighbor aspect resize capped at canvas_size, padded to a
    multiple of 32. Returns (padded_img, ratio) with ratio = target/orig."""
    img, ratio = _resize(img, canvas_size, mag_ratio)
    th, tw = img.shape
    # pad with the background (lightest) value: the reference pads zeros
    # AFTER mean/var normalization (zero = mean color); our darkness-based
    # maps need the pad to read as "no ink", i.e. the brightest value
    out = np.full((_pad32(th), _pad32(tw)), img.max(), dtype=img.dtype)
    out[:th, :tw] = img
    return out, ratio


def half_res_min(gray: np.ndarray) -> np.ndarray:
    """uint8[H, W] -> uint8[H//2, W//2] minimum of each 2x2 block (a
    trailing odd row/column is dropped): the minimum of each row pair
    (whole contiguous rows), then of each column pair of that. Same
    values as ``reshape(H//2, 2, W//2, 2).min(axis=(1, 3))``, without
    numpy's slow multi-axis reduction."""
    h2, w2 = gray.shape[0] // 2, gray.shape[1] // 2
    g = gray[: 2 * h2, : 2 * w2]
    rows = np.minimum(g[0::2], g[1::2])
    return np.minimum(rows[:, 0::2], rows[:, 1::2])


def _score_maps(gray: np.ndarray, hi, inv) -> tuple[np.ndarray, np.ndarray]:
    """uint8 image or canvas -> (region, link) float32 at half resolution,
    darkness (hi - g) * inv with ``hi`` the image max and ``inv`` =
    1 / (hi - lo): scalars, or float32 [rows, 1] columns on a canvas.

    darkness is monotone-decreasing in g, so the half-res block-MAX of
    darkness equals the darkness of the block-MIN of gray — all
    full-resolution work is the uint8 ``half_res_min`` (strided minima,
    no float pass over the full image) and every float op runs at
    quarter size."""
    g2 = half_res_min(gray)
    region = _darkness(g2, hi, inv)  # adaptive stretch (module doc)
    # affinity: anisotropic dilation (sliding max) of the region map —
    # wide horizontally (links characters within a word), 1px vertically
    # (keeps sparse glyph rows connected without merging lines); done as
    # sliding MIN in the uint8 domain (monotonicity again)
    lk = g2.copy()
    for r in range(1, LINK_RADIUS_H + 1):
        np.minimum(lk[:, r:], g2[:, :-r], out=lk[:, r:])
        np.minimum(lk[:, :-r], g2[:, r:], out=lk[:, :-r])
    tmp = lk.copy()
    for r in range(1, LINK_RADIUS_V + 1):
        np.minimum(lk[r:, :], tmp[:-r, :], out=lk[r:, :])
        np.minimum(lk[:-r, :], tmp[r:, :], out=lk[:-r, :])
    return region, _darkness(lk, hi, inv)


def _darkness(g: np.ndarray, hi, inv) -> np.ndarray:
    """(hi - g) * inv in float32, computed in place."""
    out = g.astype(np.float32)
    np.subtract(hi, out, out=out)
    out *= inv
    return out


def compute_score_maps(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """gray uint8[H, W] -> (region, link) float32 at half resolution,
    stretched by the image's own min/max."""
    lo, hi = int(gray.min()), int(gray.max())
    return _score_maps(gray, hi, 1.0 / max(hi - lo, 1))


def _row_runs(mask: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """bool[H, W] -> (starts, ends) of its row runs of True in raster
    order, as flat keys row * (W + 1) + column (ends exclusive): the
    mask with one False column appended, flattened, through ``runs``."""
    h, w = mask.shape
    padded = np.zeros((h, w + 1), dtype=bool)
    padded[:, :w] = mask
    return runs(padded.ravel())


def _label_runs(
    starts: np.ndarray, ends: np.ndarray, stride: int
) -> tuple[np.ndarray, int, int]:
    """4-connected components of row runs (``_row_runs`` keys with
    ``stride`` > width) -> (label per run, n_labels, hooking rounds).
    Labels are 1-based in raster order of each component's first run.

    The run graph joins each run to the runs one row up that share a
    column: a contiguous index range, found with two searchsorted calls
    over the sorted keys. Components come from parallel min-hooking:
    every round, each edge hooks the larger of its two roots under the
    smaller (one ``np.minimum.at``), then pointer jumping flattens every
    tree to its root, until no edge joins two roots. The root left is
    the component's lowest run index, i.e. its first run."""
    n = len(starts)
    lo = np.searchsorted(ends, starts - stride, side="right")
    cnt = np.maximum(np.searchsorted(starts, ends - stride, side="left") - lo, 0)
    src = np.repeat(np.arange(n), cnt)
    dst = np.arange(len(src)) + np.repeat(lo - np.cumsum(cnt) + cnt, cnt)
    parent = np.arange(n)
    rounds = 0
    while len(src):
        a, b = parent[src], parent[dst]
        cross = a != b
        if not cross.any():
            break
        rounds += 1
        src, dst, a, b = src[cross], dst[cross], a[cross], b[cross]
        np.minimum.at(parent, np.maximum(a, b), np.minimum(a, b))
        while True:
            up = parent[parent]
            if np.array_equal(up, parent):
                break
            parent = up
    roots = parent == np.arange(n)
    return np.cumsum(roots)[parent], int(roots.sum()), rounds


def connected_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connected CC labeling (the role of
    cv2.connectedComponentsWithStats in reference craft_utils.py:30):
    ``_label_runs`` over the mask's row runs, painted back as +label at
    each run start and -label at its end, then one cumulative sum.
    Returns (labels int32[H, W] with 0 = background, n_labels), labels
    in raster order of each component's first pixel."""
    h, w = mask.shape
    starts, ends = _row_runs(mask)
    comp, n, _ = _label_runs(starts, ends, w + 1)
    flat = np.zeros(h * (w + 1), dtype=np.int32)
    flat[starts] = comp
    flat[ends] = -comp
    labels = np.cumsum(flat, dtype=np.int32).reshape(h, w + 1)[:, :w]
    return np.ascontiguousarray(labels), n


INK_DARKNESS = 0.45  # darkness (255 - gray) / 255 above this is ink
SMOOTH_BLEND = 128  # the half-pixel anti-alias gray (render_text_smooth)
# darkness falls as gray rises, so the float32 ink test holds for every
# gray below the first one that fails it
INK_BELOW = int(np.argmin((255.0 - np.arange(256, dtype=np.float32)) / 255.0 > INK_DARKNESS))


def ink_mask(gray: np.ndarray) -> np.ndarray:
    """uint8 gray -> bool ink mask: the binarization the recognizer and
    the staircase unshear share."""
    return gray < INK_BELOW


def runs(flags: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """bool[N] -> (starts, ends) of its runs of True, ends exclusive
    (the edges of the zero-padded flags alternate start, end)."""
    edges = np.flatnonzero(np.diff(np.concatenate(([False], flags, [False]))))
    return edges[0::2], edges[1::2]


def glyph_cells(ink: np.ndarray) -> tuple[np.ndarray, ...]:
    """bool[H, W] ink -> (starts, ends, tops, bottoms), one entry per
    glyph cell: a run of ink columns [start, end) split at blank
    columns, whose ink rows span [top, bottom). Exact at any integer
    render scale: cell boundaries stay even-aligned through the half-res
    pooling. The role of the reference's per-character blob labeling
    (easyocr/craft_utils.py:46-49)."""
    starts, ends = runs(ink.any(axis=0))
    if not len(starts):
        return starts, ends, starts, ends
    # row-any per cell; the blank columns between cells add nothing
    rows = np.logical_or.reduceat(ink, starts, axis=1)
    return starts, ends, rows.argmax(axis=0), len(rows) - rows[::-1].argmax(axis=0)


def smooth_cells(crop: np.ndarray) -> tuple[np.ndarray, ...]:
    """Glyph cells of an anti-aliased (smooth) word crop holding a
    SMOOTH_BLEND pixel -> (starts, ends, tops, half, heights). ``half``
    is the blend phase: the darkest pixel of the cell's first ink row is
    a blend rather than full ink, so the cell's true top is top + 0.5.
    ``heights`` are the unblended ink heights (a blend adds one row)."""
    starts, ends, tops, bottoms = glyph_cells(crop <= 250)
    half = np.minimum.reduceat(crop[tops], starts, axis=1).diagonal() == SMOOTH_BLEND
    return starts, ends, tops, half, bottoms - tops - half


def quad_window(gray: np.ndarray, quad) -> tuple[np.ndarray, int, int]:
    """The quad's axis-aligned bbox clamped to the image -> (crop, x0, y0)."""
    q = np.asarray(quad, dtype=np.float64)
    h, w = gray.shape
    x0 = max(0, int(np.floor(q[:, 0].min())))
    x1 = min(w, int(np.ceil(q[:, 0].max())))
    y0 = max(0, int(np.floor(q[:, 1].min())))
    y1 = min(h, int(np.ceil(q[:, 1].max())))
    return gray[y0:y1, x0:x1], x0, y0


def vertical_edged(quad) -> bool:
    """True for the staircase-slant contract: a parallelogram whose
    left and right edges are vertical."""
    q = np.asarray(quad, dtype=np.float64)
    return abs(q[0][0] - q[3][0]) < 1e-6 and abs(q[1][0] - q[2][0]) < 1e-6


def _word_cells(
    region: np.ndarray,
    link: np.ndarray,
    valid: np.ndarray | None,
    text_threshold: float,
    low_text: float,
    link_threshold: float,
) -> tuple[np.ndarray, ...]:
    """Score maps (one image's, or a canvas of many) -> the glyph cells
    of every kept component: (starts, ends, tops, bottoms) per cell in
    map coords, ends and bottoms exclusive, grouped by component in
    raster order of its first pixel and left to right within it, plus
    ``first``: each component's first cell index, then the cell count.
    ``valid`` masks out canvas pixels that belong to no image.

    getDetBoxes_core as array ops over all components at once:
    threshold both maps and OR them (the clipped sum), label the
    components (``_label_runs``), then per component its pixel area and
    max region score (per-run maxima folded per label) for the two
    filters. The TEXT runs (the reference drops link-only pixels before
    fitting, craft_utils.py:38-44) take the label of the run holding
    them; sorted by (label, column), a segmented union of their column
    spans gives the glyph cells: a cell ends where the next span starts
    past the running max end — the same runs of ink columns, and ink
    rows per run, that ``glyph_cells`` reads off one component's mask."""
    text = region >= low_text
    combined = text | (link >= link_threshold)
    if valid is not None:
        combined &= valid
        text &= valid
    stride = combined.shape[1] + 1
    starts, ends = _row_runs(combined)
    comp, n, _ = _label_runs(starts, ends, stride)
    lengths = ends - starts
    area = np.bincount(comp, weights=lengths, minlength=n + 1)
    maxscore = np.zeros(n + 1, dtype=region.dtype)
    run_max = np.maximum.reduceat(region[combined], np.cumsum(lengths) - lengths)
    np.maximum.at(maxscore, comp, run_max)
    # float64 compare, as the reference's per-component scalar test
    keep = (area >= MIN_AREA) & (maxscore.astype(np.float64) >= text_threshold)
    t_starts, t_ends = _row_runs(text)
    label = comp[np.searchsorted(starts, t_starts, side="right") - 1]
    kept = keep[label]
    t_starts, t_ends, label = t_starts[kept], t_ends[kept], label[kept]
    row = t_starts // stride
    col = t_starts - row * stride
    order = np.argsort(label * stride + col, kind="stable")
    col, end, label, row = col[order], (t_ends - row * stride)[order], label[order], row[order]
    offset = label * stride  # keeps the running max inside one component
    reach = np.maximum.accumulate(end + offset)
    new = np.ones(len(col), dtype=bool)
    new[1:] = col[1:] + offset[1:] > reach[:-1]
    cell = np.flatnonzero(new)
    first = np.flatnonzero(np.diff(label[cell], prepend=0))  # labels start at 1
    return (
        col[cell],
        np.maximum.reduceat(end, cell),
        np.minimum.reduceat(row, cell),
        np.maximum.reduceat(row, cell) + 1,
        np.append(first, len(cell)),
    )


def _det_boxes(
    region: np.ndarray,
    link: np.ndarray,
    valid: np.ndarray | None,
    tops: np.ndarray,
    text_threshold: float = TEXT_THRESHOLD,
    low_text: float = LOW_TEXT,
    link_threshold: float = LINK_THRESHOLD,
    polys: bool = True,
) -> list[tuple[np.ndarray, np.ndarray, list]]:
    """Score maps holding len(tops) images, image i from map row tops[i]
    down -> per image (boxes float32[K, 4, 2], n_chars int[K], polys)
    in that image's half-res coords; polys is a list of K entries
    (None for upright components), or None when ``polys`` is False.
    Boxes and polys follow the rules of ``get_det_boxes``."""
    starts, ends, ctop, cbot, first = _word_cells(
        region, link, valid, text_threshold, low_text, link_threshold
    )
    last, first = first[1:] - 1, first[:-1]
    n_chars = last - first + 1
    image = np.searchsorted(tops, ctop[first], side="right") - 1
    shift = np.repeat(tops[image], n_chars)  # map rows -> image rows
    ctop, cbot = ctop - shift, cbot - shift
    x0, xr = starts[first], ends[last]
    y0, y1 = np.minimum.reduceat(ctop, first), np.maximum.reduceat(cbot, first)
    ta, tb = ctop[first], ctop[last]
    h = cbot[first] - ta
    slanted = ta != tb
    lt, rt = np.where(slanted, ta, y0), np.where(slanted, tb, y0)
    lb, rb = np.where(slanted, ta + h, y1), np.where(slanted, tb + h, y1)
    boxes = np.stack([x0, lt, xr, rt, xr, rb, x0, lb], axis=1)
    boxes = boxes.reshape(-1, 4, 2).astype(np.float32)
    stairs: list = [None] * len(first)
    if polys:
        # a staircase for each component whose cell tops are not all equal
        stepped = np.maximum.reduceat(ctop, first) != y0
        cells = np.repeat(stepped, n_chars)
        outlines = _staircases(
            starts[cells], ends[cells], ctop[cells], cbot[cells], n_chars[stepped]
        )
        for k, outline in zip(np.flatnonzero(stepped).tolist(), outlines):
            stairs[k] = outline.astype(np.float32)
    bounds = np.searchsorted(image, np.arange(len(tops) + 1)).tolist()
    return [
        (boxes[a:b], n_chars[a:b], stairs[a:b] if polys else None)
        for a, b in zip(bounds[:-1], bounds[1:])
    ]


def get_det_boxes(
    region: np.ndarray,
    link: np.ndarray,
    text_threshold: float = TEXT_THRESHOLD,
    low_text: float = LOW_TEXT,
    link_threshold: float = LINK_THRESHOLD,
) -> tuple[list[np.ndarray], list[int], list[np.ndarray | None]]:
    """Score maps -> (boxes, n_chars, polys) in half-res coords, one
    entry each per kept component, following getDetBoxes_core
    (reference easyocr/craft_utils.py:20-85): threshold both maps, clip
    the sum, CC, area filter, max-region-score filter, tight box per
    component over TEXT pixels only (the reference removes the
    link-only area before fitting the rectangle, craft_utils.py:38-44).

    Each component's text pixels are segmented into glyph cells once;
    its box, character count and poly all come from those cells:

    - box: the tight rectangle, clockwise from top-left (reference
      craft_utils.py:79-81); for a SLANTED component (last cell's top
      differs from the first's) the parallelogram [(x0, t_first),
      (x1, t_last), (x1, t_last + h), (x0, t_first + h)], h = the first
      cell's ink height — the role of cv2.minAreaRect
      (craft_utils.py:66-83).
    - n_chars: the cell count.
    - poly: the getPoly_core role (craft_utils.py:87-231) — for a
      component whose cell tops are not all equal, each cell's top-left
      and top-right corners at its own ink top, then the bottoms
      mirrored right-to-left (a closed 4k-point staircase); None for
      upright components (the caller falls back to the box).

    One map is a batch of one for the detector's batch path
    (``_det_boxes``)."""
    (boxes, n_chars, polys), = _det_boxes(
        region, link, None, np.zeros(1, dtype=np.int64),
        text_threshold, low_text, link_threshold,
    )
    return list(boxes), n_chars.tolist(), polys


def _staircases(xl, xr, tops, bottoms, counts) -> list[np.ndarray]:
    """Per-cell column spans and ink extents, consecutive runs of
    ``counts`` cells per outline -> one closed 4k-point outline each:
    every cell's top-left and top-right corners at its own top, then the
    bottoms mirrored right-to-left. All outlines are laid out in one
    array (cell t of a k-cell outline puts its top corners at 2t, 2t + 1
    and its bottom corners at 4k - 1 - 2t, 4k - 2 - 2t) and split."""
    counts = np.asarray(counts, dtype=np.int64)
    outline = np.repeat(np.arange(len(counts)), counts)
    first = (np.cumsum(counts) - counts)[outline]
    t, k, base = np.arange(len(outline)) - first, counts[outline], 4 * first
    pts = np.empty((4 * len(outline), 2), dtype=np.result_type(xl, tops))
    for at, x, y in (
        (base + 2 * t, xl, tops),
        (base + 2 * t + 1, xr, tops),
        (base + 4 * k - 1 - 2 * t, xl, bottoms),
        (base + 4 * k - 2 - 2 * t, xr, bottoms),
    ):
        pts[at, 0], pts[at, 1] = x, y
    return np.split(pts, 4 * np.cumsum(counts))[:-1]


def _smooth_reading(gray: np.ndarray, quad) -> tuple | None:
    """One smooth measurement of a quad's window: None unless the window
    carries blend pixels (gray == SMOOTH_BLEND, unique to the smooth
    render among all corpus inks), else (xl, xr, tops, bottoms) per
    glyph cell in image coords, with the half-pixel blend phase in the
    tops and each bottom = top + the unblended cell height."""
    crop, x0, y0 = quad_window(gray, quad)
    if not (crop == SMOOTH_BLEND).any():
        return None
    starts, ends, tops, half, heights = smooth_cells(crop)
    sub_tops = y0 + tops + 0.5 * half
    return x0 + starts, x0 + ends, sub_tops, sub_tops + heights


def _refine_smooth_quads(
    gray: np.ndarray, boxes: list[np.ndarray]
) -> list[np.ndarray]:
    """Full-resolution ink-weighted refinement for ANTI-ALIASED
    constant-slope (smooth) words — the getPoly_core sub-pixel
    refinement role (reference easyocr/craft_utils.py:87-231) for text
    whose cell tops no longer sit on integer rows.

    The half-res score maps quantize away the gray-edge blend, so each
    vertical-edged slanted quad whose window carries blend pixels is
    re-measured on the full-res image (``_smooth_reading``). Refined
    quad: [[xl, t_first], [xr, t_last], [xr, t_last+h], [xl, t_first+h]]
    with sub-pixel tops and h = the first (never shifted) cell's ink
    height."""
    out: list[np.ndarray] = []
    for q in boxes:
        cells = None
        if q[0][1] != q[1][1] and vertical_edged(q):
            cells = _smooth_reading(gray, q)
        if cells is None or len(cells[0]) < 2:
            out.append(q)
            continue
        xl, xr, tops, bottoms = cells
        h = bottoms[0] - tops[0]
        out.append(
            np.array(
                [[xl[0], tops[0]], [xr[-1], tops[-1]],
                 [xr[-1], tops[-1] + h], [xl[0], tops[0] + h]],
                dtype=np.float64,
            )
        )
    return out


def detect_smooth_polys(gray: np.ndarray) -> list[np.ndarray]:
    """poly=True for the SMOOTH class: one 4L-point SUB-PIXEL outline
    per smooth word in reading order — the getPoly_core refinement at
    the anti-aliased grain. Each glyph cell contributes its top-left /
    top-right corners at the cell's own sub-pixel top, and the return
    path mirrors the bottoms right-to-left (``_smooth_reading``, the
    measurement _refine_smooth_quads uses). Words without blend pixels
    yield no entry (the staircase classes keep their integer
    detect_polys path)."""
    polys: list[np.ndarray] = []
    for q in detect(gray):
        cells = _smooth_reading(gray, q)
        if cells is not None:
            polys += _staircases(*cells, [len(cells[0])])
    return polys


def adjust_result_coordinates(
    boxes: list[np.ndarray], ratio: float, ratio_net: int = RATIO_NET
) -> list[np.ndarray]:
    """Scale half-res box coords back to input pixels (reference
    easyocr/craft_utils.py:245-251: coords * ratio * ratio_net)."""
    inv = ratio_net / ratio
    return [b * inv for b in boxes]


def canvas_groups(shapes: list[tuple[int, int]]) -> list[list[int]]:
    """(h, w) image shapes -> index groups, one per stacked canvas: by
    ascending width (so little of a canvas is width pad), each group as
    long as its canvas — every image plus a 2-row separator, times the
    widest — stays within BATCH_PIXELS. An image over the budget on its
    own gets a canvas of its own. The detector and the recognizer's
    window prep both pack this way."""
    groups: list[list[int]] = []
    rows = 0
    for i in sorted(range(len(shapes)), key=lambda i: shapes[i][1]):
        h, w = shapes[i]
        if groups and (rows + h + 2) * w <= BATCH_PIXELS:
            groups[-1].append(i)
            rows += h + 2
        else:
            groups.append([i])
            rows = h + 2
    return groups


def _canvas(images: list[np.ndarray]) -> tuple[np.ndarray, ...]:
    """Resized gray images -> (canvas, hi, inv, valid, tops): the images
    stacked top to bottom, each padded to a multiple of 32 with its own
    max (``resize_aspect_ratio``'s pad) and followed by two 255 rows.
    A 255 row changes no sliding minimum, so every image's score maps
    come out as if computed alone; hi and inv are each half-res row's
    image max and 1 / (max - min) (float32 columns); ``valid`` marks
    the half-res pixels inside an image's padded area (the separator
    row and the width pad are out, so no component crosses images);
    tops are the images' first half-res rows."""
    shapes = [(_pad32(im.shape[0]), _pad32(im.shape[1])) for im in images]
    ph, pw = np.array(shapes, dtype=np.int64).reshape(-1, 2).T
    starts = np.concatenate(([0], np.cumsum(ph + 2)))
    canvas = np.full((starts[-1], pw.max()), 255, dtype=np.uint8)
    his, invs = [], []
    for im, y, (h, w) in zip(images, starts.tolist(), shapes):
        lo, hi = int(im.min()), int(im.max())
        canvas[y : y + h, :w] = hi
        canvas[y : y + im.shape[0], : im.shape[1]] = im
        his.append(hi)
        invs.append(1.0 / max(hi - lo, 1))
    rows = ph // 2 + 1
    hi_rows = np.repeat(np.array(his, dtype=np.float32), rows)[:, None]
    inv_rows = np.repeat(np.array(invs, dtype=np.float32), rows)[:, None]
    width = np.repeat(pw // 2, rows)
    width[starts[1:] // 2 - 1] = 0
    valid = np.arange(canvas.shape[1] // 2) < width[:, None]
    return canvas, hi_rows, inv_rows, valid, starts[:-1] // 2


def _detect_many(
    grays: list[np.ndarray], canvas_size: int, mag_ratio: float, polys: bool
) -> list[tuple[np.ndarray, np.ndarray, list | None, float]]:
    """Images -> per image (boxes, n_chars, polys, ratio) in half-res
    coords: resize, pack into canvases (``canvas_groups``), then score
    maps and ``_det_boxes`` once per canvas."""
    resized = [_resize(g, canvas_size, mag_ratio) for g in grays]
    out: list = [None] * len(grays)
    shapes = [(_pad32(im.shape[0]), _pad32(im.shape[1])) for im, _ in resized]
    for group in canvas_groups(shapes):
        canvas, hi, inv, valid, tops = _canvas([resized[i][0] for i in group])
        region, link = _score_maps(canvas, hi, inv)
        found = _det_boxes(region, link, valid, tops, polys=polys)
        for i, (boxes, n_chars, stairs) in zip(group, found):
            out[i] = boxes, n_chars, stairs, resized[i][1]
    return out


def detect_batched(
    grays: list[np.ndarray],
    canvas_size: int = 2560,
    mag_ratio: float = 1.0,
    optimal_num_chars: int | None = None,
) -> list[list[np.ndarray]]:
    """Full detect stage over a batch of images: resize -> score maps ->
    boxes -> rescale, one canvas pass per BATCH_PIXELS of images.
    Returns per image a list of 4-point float boxes in input pixel
    coords.

    ``optimal_num_chars`` set -> boxes are PRIORITIZED by how close
    their estimated character count is to the target (reference
    easyocr/detection.py:92-101: sorted(polys, key=|optimal - n|),
    stable), instead of raster order — callers that process a box
    budget first see the most promising boxes."""
    out: list[list[np.ndarray]] = []
    for gray, (boxes, n_chars, _, ratio) in zip(
        grays, _detect_many(grays, canvas_size, mag_ratio, polys=False)
    ):
        boxes = list(boxes * (RATIO_NET / ratio))
        if optimal_num_chars is not None:
            order = np.argsort(np.abs(optimal_num_chars - n_chars), kind="stable")
            boxes = [boxes[i] for i in order]
        out.append(_refine_smooth_quads(gray, boxes))
    return out


def detect(
    gray: np.ndarray,
    canvas_size: int = 2560,
    mag_ratio: float = 1.0,
    optimal_num_chars: int | None = None,
):
    """``detect_batched`` for one image: its list of 4-point float boxes
    in input pixel coords."""
    return detect_batched([gray], canvas_size, mag_ratio, optimal_num_chars)[0]


def detect_polys(
    gray: np.ndarray, canvas_size: int = 2560, mag_ratio: float = 1.0
) -> list[np.ndarray | None]:
    """The poly=True detect path (reference easyocr/detection.py:92 +
    craft_utils.py getPoly_core): one entry per detected component in
    detect()'s order — a 4k-point staircase outline for slanted
    components, None for upright ones (caller falls back to the box)."""
    (_, _, polys, ratio), = _detect_many([gray], canvas_size, mag_ratio, polys=True)
    inv = RATIO_NET / ratio
    return [None if p is None else p * inv for p in polys]
