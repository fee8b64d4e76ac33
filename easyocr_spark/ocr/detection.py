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


def resize_aspect_ratio(
    img: np.ndarray, canvas_size: int = 2560, mag_ratio: float = 1.0
) -> tuple[np.ndarray, float]:
    """Nearest-neighbor aspect resize capped at canvas_size, padded to a
    multiple of 32. Returns (padded_img, ratio) with ratio = target/orig."""
    h, w = img.shape
    target = mag_ratio * max(h, w)
    if target > canvas_size:
        target = canvas_size
    ratio = target / max(h, w)
    th, tw = int(h * ratio), int(w * ratio)
    if ratio != 1.0:
        ys = (np.arange(th) / ratio).astype(np.int64).clip(0, h - 1)
        xs = (np.arange(tw) / ratio).astype(np.int64).clip(0, w - 1)
        img = img[ys][:, xs]
    ph = th if th % 32 == 0 else th + (32 - th % 32)
    pw = tw if tw % 32 == 0 else tw + (32 - tw % 32)
    # pad with the background (lightest) value: the reference pads zeros
    # AFTER mean/var normalization (zero = mean color); our darkness-based
    # maps need the pad to read as "no ink", i.e. the brightest value
    out = np.full((ph, pw), img.max(), dtype=img.dtype)
    out[:th, :tw] = img
    return out, ratio


def half_res_min(gray: np.ndarray) -> np.ndarray:
    """uint8[H, W] -> uint8[H//2, W//2] minimum of each 2x2 block (a
    trailing odd row/column is dropped): three elementwise minima over
    the four stride-2 views. Same values as
    ``reshape(H//2, 2, W//2, 2).min(axis=(1, 3))``, without numpy's slow
    multi-axis reduction."""
    h2, w2 = gray.shape[0] // 2, gray.shape[1] // 2
    g = gray[: 2 * h2, : 2 * w2]
    g2 = np.minimum(g[0::2, 0::2], g[0::2, 1::2])
    np.minimum(g2, g[1::2, 0::2], out=g2)
    np.minimum(g2, g[1::2, 1::2], out=g2)
    return g2


def compute_score_maps(gray: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """gray uint8[H, W] -> (region, link) float32 at half resolution.

    darkness = (hi - g)/(hi - lo) is monotone-decreasing in g, so the
    half-res block-MAX of darkness equals the darkness of the block-MIN
    of gray — all full-resolution work is the uint8 ``half_res_min``
    (strided minima, no float pass over the full image) and every float
    op runs at quarter size."""
    lo, hi = int(gray.min()), int(gray.max())
    g2 = half_res_min(gray)
    inv = 1.0 / max(hi - lo, 1)
    region = (hi - g2.astype(np.float32)) * inv  # adaptive stretch (module doc)
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
    link = (hi - lk.astype(np.float32)) * inv
    return region, link


def connected_components(mask: np.ndarray) -> tuple[np.ndarray, int]:
    """4-connected CC labeling via row-run union-find (the role of
    cv2.connectedComponentsWithStats in reference craft_utils.py:30).
    Returns (labels int32[H, W] with 0 = background, n_labels).

    Run extraction is vectorized over the whole image (one diff +
    nonzero instead of per-row numpy calls); run merging walks the
    previous row's runs with a two-pointer sweep (both run lists are
    x-sorted), so the Python work is O(total runs)."""
    h, w = mask.shape
    labels = np.zeros((h, w), dtype=np.int32)
    padded = np.zeros((h, w + 2), dtype=np.int8)
    padded[:, 1:-1] = mask
    d = np.diff(padded, axis=1)
    sy, sx = np.nonzero(d == 1)  # run starts (row-major order)
    _, ex = np.nonzero(d == -1)  # run ends, aligned with starts
    parent: list[int] = [0]

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    run_rows = sy.tolist()
    run_s = sx.tolist()
    run_e = ex.tolist()
    n_runs = len(run_rows)
    run_labels: list[int] = []
    prev_lo = prev_hi = 0  # previous processed row's run window
    prev_row = -2
    i = 0
    while i < n_runs:
        y = run_rows[i]
        j = i
        while j < n_runs and run_rows[j] == y:
            j += 1
        lo, hi = (prev_lo, prev_hi) if prev_row == y - 1 else (0, 0)
        p = lo
        for idx in range(i, j):
            s, e = run_s[idx], run_e[idx]
            lab = 0
            while p < hi and run_e[p] <= s:
                p += 1
            q = p
            while q < hi and run_s[q] < e:
                pl = find(run_labels[q])
                if lab == 0:
                    lab = pl
                elif lab != pl:
                    ra, rb = find(lab), pl
                    if ra != rb:
                        parent[max(ra, rb)] = min(ra, rb)
                    lab = min(ra, rb)
                q += 1
            if lab == 0:
                parent.append(len(parent))
                lab = len(parent) - 1
            run_labels.append(lab)
            labels[y, s:e] = lab
        prev_lo, prev_hi, prev_row = i, j, y
        i = j

    if len(parent) > 1:
        roots = np.array([find(k) for k in range(len(parent))], dtype=np.int32)
        uniq = np.unique(roots[1:])
        remap = np.zeros(len(parent), dtype=np.int32)
        remap[uniq] = np.arange(1, len(uniq) + 1)
        labels = remap[roots[labels]]
        return labels, len(uniq)
    return labels, 0


INK_DARKNESS = 0.45  # darkness (255 - gray) / 255 above this is ink
SMOOTH_BLEND = 128  # the half-pixel anti-alias gray (render_text_smooth)


def ink_mask(gray: np.ndarray) -> np.ndarray:
    """uint8 gray -> bool ink mask: the binarization the recognizer and
    the staircase unshear share."""
    return (255.0 - gray.astype(np.float32)) / 255.0 > INK_DARKNESS


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
      upright components (the caller falls back to the box)."""
    text_score = region >= low_text
    link_score = link >= link_threshold
    combined = text_score | link_score
    labels, n = connected_components(combined)
    boxes: list[np.ndarray] = []
    n_chars: list[int] = []
    polys: list[np.ndarray | None] = []
    if n == 0:
        return boxes, n_chars, polys
    # vectorized per-component stats (the connectedComponentsWithStats
    # role): area, max region score, tight bbox over TEXT pixels only
    flat = labels.ravel()
    area = np.bincount(flat, minlength=n + 1)
    maxscore = np.zeros(n + 1, dtype=region.dtype)
    np.maximum.at(maxscore, flat, region.ravel())
    text_mask = text_score & (labels > 0)
    ys, xs = np.nonzero(text_mask)
    labs = labels[ys, xs]
    big = 1 << 30
    ix0 = np.full(n + 1, big)
    ix1 = np.full(n + 1, -1)
    iy0 = np.full(n + 1, big)
    iy1 = np.full(n + 1, -1)
    np.minimum.at(ix0, labs, xs)
    np.maximum.at(ix1, labs, xs)
    np.minimum.at(iy0, labs, ys)
    np.maximum.at(iy1, labs, ys)
    for k in range(1, n + 1):
        if area[k] < MIN_AREA or maxscore[k] < text_threshold:
            continue
        if ix1[k] < 0:  # no text pixels in this component
            continue
        x0, x1, y0, y1 = int(ix0[k]), int(ix1[k]), int(iy0[k]), int(iy1[k])
        sub = (
            text_mask[y0 : y1 + 1, x0 : x1 + 1]
            & (labels[y0 : y1 + 1, x0 : x1 + 1] == k)
        )
        starts, ends, tops, bottoms = glyph_cells(sub)
        n_chars.append(len(starts))
        if tops[0] != tops[-1]:
            xr, ya, yb = x0 + ends[-1], y0 + tops[0], y0 + tops[-1]
            h = bottoms[0] - tops[0]
            box = [[x0, ya], [xr, yb], [xr, yb + h], [x0, ya + h]]
        else:
            box = [[x0, y0], [x1 + 1, y0], [x1 + 1, y1 + 1], [x0, y1 + 1]]
        boxes.append(np.array(box, dtype=np.float32))
        if (tops == tops[0]).all():
            polys.append(None)
            continue
        poly = _staircase(x0 + starts, x0 + ends, y0 + tops, y0 + bottoms)
        polys.append(poly.astype(np.float32))
    return boxes, n_chars, polys


def _staircase(xl, xr, tops, bottoms) -> np.ndarray:
    """Per-cell column spans and ink extents -> the closed 4k-point
    outline: each cell's top-left and top-right corners at its own top,
    then the bottoms mirrored right-to-left."""
    xs = np.stack([xl, xr], axis=1).ravel()
    top = np.stack([xs, np.repeat(tops, 2)], axis=1)
    bottom = np.stack([xs, np.repeat(bottoms, 2)], axis=1)
    return np.concatenate([top, bottom[::-1]])


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
        if vertical_edged(q) and q[0][1] != q[1][1]:
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
            polys.append(_staircase(*cells))
    return polys


def adjust_result_coordinates(
    boxes: list[np.ndarray], ratio: float, ratio_net: int = RATIO_NET
) -> list[np.ndarray]:
    """Scale half-res box coords back to input pixels (reference
    easyocr/craft_utils.py:245-251: coords * ratio * ratio_net)."""
    inv = ratio_net / ratio
    return [b * inv for b in boxes]


def detect(
    gray: np.ndarray,
    canvas_size: int = 2560,
    mag_ratio: float = 1.0,
    optimal_num_chars: int | None = None,
):
    """Full detect stage: resize -> score maps -> boxes -> rescale.
    Returns list of 4-point float boxes in input pixel coords.

    ``optimal_num_chars`` set -> boxes are PRIORITIZED by how close
    their estimated character count is to the target (reference
    easyocr/detection.py:92-101: sorted(polys, key=|optimal - n|),
    stable), instead of raster order — callers that process a box
    budget first see the most promising boxes."""
    resized, ratio = resize_aspect_ratio(gray, canvas_size, mag_ratio)
    region, link = compute_score_maps(resized)
    boxes, n_chars, _ = get_det_boxes(region, link)
    if optimal_num_chars is not None:
        order = sorted(range(len(boxes)), key=lambda i: abs(optimal_num_chars - n_chars[i]))
        boxes = [boxes[i] for i in order]
    return _refine_smooth_quads(gray, adjust_result_coordinates(boxes, ratio))


def detect_polys(
    gray: np.ndarray, canvas_size: int = 2560, mag_ratio: float = 1.0
) -> list[np.ndarray | None]:
    """The poly=True detect path (reference easyocr/detection.py:92 +
    craft_utils.py getPoly_core): one entry per detected component in
    detect()'s order — a 4k-point staircase outline for slanted
    components, None for upright ones (caller falls back to the box)."""
    resized, ratio = resize_aspect_ratio(gray, canvas_size, mag_ratio)
    region, link = compute_score_maps(resized)
    _, _, polys = get_det_boxes(region, link)
    inv = RATIO_NET / ratio
    return [None if p is None else p * inv for p in polys]
