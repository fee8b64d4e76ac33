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


def get_det_boxes(
    region: np.ndarray,
    link: np.ndarray,
    text_threshold: float = TEXT_THRESHOLD,
    low_text: float = LOW_TEXT,
    link_threshold: float = LINK_THRESHOLD,
    estimate_num_chars: bool = False,
    with_polys: bool = False,
):
    """Score maps -> list of 4-point boxes (float, half-res coords),
    following getDetBoxes_core (reference easyocr/craft_utils.py:20-85):
    threshold both maps, clip the sum, CC, area filter, max-region-score
    filter, tight box per component over TEXT pixels only (the reference
    removes the link-only area before fitting the rectangle,
    craft_utils.py:38-44)."""
    text_score = region >= low_text
    link_score = link >= link_threshold
    combined = text_score | link_score
    labels, n = connected_components(combined)
    if n == 0:
        return []
    # vectorized per-component stats (the connectedComponentsWithStats
    # role): area, max region score, tight bbox over TEXT pixels only
    flat = labels.ravel()
    area = np.bincount(flat, minlength=n + 1)
    maxscore = np.zeros(n + 1, dtype=region.dtype)
    np.maximum.at(maxscore, flat, region.ravel())
    ys, xs = np.nonzero(text_score & (labels > 0))
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
    text_mask = text_score & (labels > 0)
    boxes: list[np.ndarray] = []
    n_chars: list[int] = []
    polys: list[np.ndarray | None] = []
    for k in range(1, n + 1):
        if area[k] < MIN_AREA:
            continue
        if maxscore[k] < text_threshold:
            continue
        if ix1[k] < 0:  # no text pixels in this component
            continue
        x0, x1, y0, y1 = int(ix0[k]), int(ix1[k]), int(iy0[k]), int(iy1[k])
        sub = (
            text_mask[y0 : y1 + 1, x0 : x1 + 1]
            & (labels[y0 : y1 + 1, x0 : x1 + 1] == k)
        )
        if estimate_num_chars:
            # per-component character-count estimate: glyph-cell runs
            # split at blank columns — the role of the reference's
            # character-blob labeling (easyocr/craft_utils.py:46-49)
            starts, _ = _column_runs(sub)
            n_chars.append(max(1, len(starts)))
        if with_polys:
            starts, ends = _column_runs(sub)
            polys.append(
                _component_poly(sub, starts, ends, x0, y0)
                if len(starts)
                else None
            )
        quad = _slanted_quad(sub, x0, y0)
        if quad is not None:
            boxes.append(quad)
            continue
        # clockwise from top-left, the reference's coordinate contract
        # (easyocr/craft_utils.py:79-81)
        boxes.append(
            np.array(
                [[x0, y0], [x1 + 1, y0], [x1 + 1, y1 + 1], [x0, y1 + 1]],
                dtype=np.float32,
            )
        )
    if estimate_num_chars and with_polys:
        return boxes, n_chars, polys
    if estimate_num_chars:
        return boxes, n_chars
    if with_polys:
        return boxes, polys
    return boxes


def _column_runs(sub: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Runs of non-blank columns in a component window -> (starts, ends)."""
    col_any = sub.any(axis=0)
    padded = np.concatenate(([False], col_any, [False]))
    d = np.diff(padded.astype(np.int8))
    return np.flatnonzero(d == 1), np.flatnonzero(d == -1)


def _slanted_quad_runs(sub, starts, ends, x0, y0):
    if len(starts) < 2:
        return None  # single cell: nothing to measure slant from
    first = sub[:, starts[0] : ends[0]]
    last = sub[:, starts[-1] : ends[-1]]
    fy = np.nonzero(first.any(axis=1))[0]
    ly = np.nonzero(last.any(axis=1))[0]
    t_first, t_last = int(fy[0]), int(ly[0])
    if t_first == t_last:
        return None
    h = int(fy[-1]) - t_first + 1
    xl = float(x0)
    xr = float(x0 + ends[-1])  # exclusive right edge, like x1 + 1
    ya, yb = float(y0 + t_first), float(y0 + t_last)
    return np.array(
        [[xl, ya], [xr, yb], [xr, yb + h], [xl, ya + h]], dtype=np.float32
    )


def _component_poly(sub, starts, ends, x0, y0) -> np.ndarray | None:
    """Polygon tracing a SLANTED component's text region at glyph-cell
    granularity — the role of getPoly_core (reference
    easyocr/craft_utils.py:87-231: poly=True fits a point sequence
    along the text line's local height instead of one quad). For each
    cell: its top-left and top-right corners at the cell's own ink top;
    the return path mirrors the bottoms right-to-left, giving a closed
    4k-point staircase outline. Upright components return None (the
    reference also returns None polys for short/straight boxes and the
    caller falls back to the quad)."""
    if len(starts) < 2:
        return None
    tops = []
    bots = []
    slanted = False
    prev_t = None
    for s, e in zip(starts, ends):
        ys = np.nonzero(sub[:, s:e].any(axis=1))[0]
        t, btm = int(ys[0]), int(ys[-1]) + 1
        if prev_t is not None and t != prev_t:
            slanted = True
        prev_t = t
        tops += [(float(x0 + s), float(y0 + t)), (float(x0 + e), float(y0 + t))]
        bots += [(float(x0 + s), float(y0 + btm)), (float(x0 + e), float(y0 + btm))]
    if not slanted:
        return None
    return np.array(tops + bots[::-1], dtype=np.float32)


def _slanted_quad(sub: np.ndarray, x0: int, y0: int) -> np.ndarray | None:
    """Min-area-style quad for a SLANTED component, or None if the
    component is upright (the role of cv2.minAreaRect in reference
    craft_utils.py:66-83: slanted components get a rotated 4-point box
    instead of the axis-aligned rectangle).

    Slant is measured at glyph-cell granularity: the component's text
    columns split into cell runs at blank columns (exact at any integer
    render scale — cell boundaries stay even-aligned through the
    half-res pooling); if the last cell's top differs from the first
    cell's top, the component is a staircase-slanted word and the quad
    is the parallelogram [(x0, t_first), (x1, t_last),
    (x1, t_last + h), (x0, t_first + h)] with h = the first cell's ink
    height. Upright components (t_last == t_first) return None and keep
    the tight-rectangle path — zero behavior change for them."""
    starts, ends = _column_runs(sub)
    if len(starts) == 0:
        return None
    return _slanted_quad_runs(sub, starts, ends, x0, y0)


SMOOTH_BLEND = 128  # the half-pixel anti-alias gray (render_text_smooth)


def _refine_smooth_quads(
    gray: np.ndarray, boxes: list[np.ndarray]
) -> list[np.ndarray]:
    """Full-resolution ink-weighted refinement for ANTI-ALIASED
    constant-slope (smooth) words — the getPoly_core sub-pixel
    refinement role (reference easyocr/craft_utils.py:87-231) for text
    whose cell tops no longer sit on integer rows.

    The half-res score maps quantize away the gray-edge blend, so each
    vertical-edged slanted quad whose image region carries blend pixels
    (gray == 128, unique to the smooth render among all corpus inks) is
    re-measured on the full-res image: glyph-cell runs from ink
    columns; each cell's top = integer first ink row + the blend PHASE
    read from the gray value (+0.5 when the darkest pixel of that row
    is a blend rather than full ink) — ink-weighted column tops instead
    of exact cell boundaries. Refined quad: [[xl, t_first], [xr,
    t_last], [xr, t_last+h], [xl, t_first+h]] with sub-pixel tops and
    h = the first (unshifted) cell's ink height."""
    h_img, w_img = gray.shape
    out: list[np.ndarray] = []
    for q in boxes:
        qa = np.asarray(q, dtype=np.float64)
        vertical_edged = (
            abs(qa[0][0] - qa[3][0]) < 1e-6 and abs(qa[1][0] - qa[2][0]) < 1e-6
        )
        slanted = qa[0][1] != qa[1][1]
        if not (vertical_edged and slanted):
            out.append(q)
            continue
        x0 = max(0, int(np.floor(qa[:, 0].min())))
        x1 = min(w_img, int(np.ceil(qa[:, 0].max())))
        y0 = max(0, int(np.floor(qa[:, 1].min())))
        y1 = min(h_img, int(np.ceil(qa[:, 1].max())))
        crop = gray[y0:y1, x0:x1]
        if crop.size == 0 or not (crop == SMOOTH_BLEND).any():
            out.append(q)
            continue
        mask = crop <= 250
        starts, ends = _column_runs(mask)
        if len(starts) < 2:
            out.append(q)
            continue

        def sub_top(s: int, e: int) -> tuple[float, np.ndarray]:
            rows = np.nonzero(mask[:, s:e].any(axis=1))[0]
            t = int(rows[0])
            frac = 0.5 if int(crop[t, s:e].min()) == SMOOTH_BLEND else 0.0
            return t + frac, rows

        t_first, rows_f = sub_top(int(starts[0]), int(ends[0]))
        t_last, _ = sub_top(int(starts[-1]), int(ends[-1]))
        hh = float(int(rows_f[-1]) - int(rows_f[0]) + 1)
        xl = float(x0 + starts[0])
        xr = float(x0 + ends[-1])
        ya = y0 + t_first
        yb = y0 + t_last
        out.append(
            np.array(
                [[xl, ya], [xr, yb], [xr, yb + hh], [xl, ya + hh]],
                dtype=np.float64,
            )
        )
    return out


def detect_smooth_polys(gray: np.ndarray) -> list[np.ndarray]:
    """poly=True for the SMOOTH class: one 4L-point SUB-PIXEL outline
    per smooth word in reading order — the getPoly_core refinement at
    the anti-aliased grain. Each glyph cell contributes its top-left /
    top-right corners at the cell's own ink top INCLUDING the half-
    pixel blend phase (read from the gray like _refine_smooth_quads),
    and the return path mirrors the bottoms (top + unblended cell
    height) right-to-left. Words without blend pixels yield no entry
    (the staircase classes keep their integer detect_polys path)."""
    h_img, w_img = gray.shape
    polys: list[np.ndarray] = []
    for q in detect(gray):
        qa = np.asarray(q, dtype=np.float64)
        x0 = max(0, int(np.floor(qa[:, 0].min())))
        x1 = min(w_img, int(np.ceil(qa[:, 0].max())))
        y0 = max(0, int(np.floor(qa[:, 1].min())))
        y1 = min(h_img, int(np.ceil(qa[:, 1].max())))
        crop = gray[y0:y1, x0:x1]
        if crop.size == 0 or not (crop == SMOOTH_BLEND).any():
            continue
        mask = crop <= 250
        starts, ends = _column_runs(mask)
        tops: list[tuple[float, float]] = []
        bots: list[tuple[float, float]] = []
        for s, e in zip(starts, ends):
            rows = np.nonzero(mask[:, s:e].any(axis=1))[0]
            t = int(rows[0])
            half = int(crop[t, s:e].min()) == SMOOTH_BLEND
            t_sub = t + (0.5 if half else 0.0)
            hh = int(rows[-1]) - t + 1 - (1 if half else 0)
            xl, xr = float(x0 + s), float(x0 + e)
            tops += [(xl, y0 + t_sub), (xr, y0 + t_sub)]
            bots += [(xl, y0 + t_sub + hh), (xr, y0 + t_sub + hh)]
        polys.append(np.array(tops + bots[::-1], dtype=np.float64))
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
    if optimal_num_chars is None:
        boxes = get_det_boxes(region, link)
    else:
        boxes, counts = get_det_boxes(region, link, estimate_num_chars=True)
        order = sorted(range(len(boxes)), key=lambda i: abs(optimal_num_chars - counts[i]))
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
    _, polys = get_det_boxes(region, link, with_polys=True)
    inv = RATIO_NET / ratio
    return [None if p is None else p * inv for p in polys]
