import hashlib

import numpy as np
import pytest

from easyocr_spark.fixtures import corpus, png, render
from easyocr_spark.ocr import detection
from easyocr_spark.ocr.grouping import group_text_box, min_size_filter
from easyocr_spark.ocr.reader import StandInReader, four_point_transform
from easyocr_spark.ocr.recognition import (
    adjust_contrast_grey,
    contrast_grey,
    get_text,
    recognize_crops,
)

READER = StandInReader()


def reader_for(ref):
    # route the recognition model the way the pipeline does (lang tag)
    return StandInReader(lang_list=[corpus.media_spec(ref)["lang"]])


@pytest.mark.parametrize(
    "ref", [f"m_{a}_{b}" for a in range(0, 40, 7) for b in (0, 1, 2, 5)]
)
def test_end_to_end_ground_truth(ref):
    img = png.decode_gray(corpus.render_media(ref))
    rtl = corpus.media_spec(ref)["lang"] == "arabic"
    assert reader_for(ref).readtext_text(img, rtl=rtl) == corpus.ground_truth_text(ref)


def test_rtl_reverses_words_within_lines():
    ref = "m_2_1"  # a % 3 == 2 -> arabic routing
    spec = corpus.media_spec(ref)
    assert spec["lang"] == "arabic"
    img = png.decode_gray(corpus.render_media(ref))
    ltr = READER.readtext_text(img, rtl=False)
    rtl = READER.readtext_text(img, rtl=True)
    assert rtl == corpus.ground_truth_text(ref)
    # per-line reversal, not global: multi-word lines change order
    if any(len(line) > 1 for line in spec["lines"]):
        assert ltr != rtl
    # an arabic-routed reader applies its RTL rule, the OCR kernel's, by default
    assert StandInReader(lang_list=["arabic"]).readtext_text(img) == rtl


def test_tiny_image_filtered_by_min_size():
    img = render.render_tiny()
    boxes = detection.detect(img)
    assert len(boxes) == 1  # detected as a component...
    h, f = group_text_box(boxes)
    h2, f2 = min_size_filter(h, f)
    assert h2 == [] and f2 == []  # ...but dropped by the size filter
    assert READER.readtext_text(img) == ""


def test_low_contrast_takes_second_pass():
    img = render.render_text([["HELLO"]], scale=2, low_contrast=True)
    text1, conf1 = recognize_crops([img])[0]
    assert conf1 < 0.1  # pass 1 fails on low contrast
    text2, conf2 = get_text([img], recognize_crops)[0]
    assert text2 == "HELLO" and conf2 > 0.5


def test_retry_skips_crops_the_contrast_adjustment_leaves_unchanged():
    low = render.render_text([["HELLO"]], scale=2, low_contrast=True)
    sharp = render.render_text([["HELLO"]], scale=2)
    passes = []

    def one_pass(crops):  # every crop fails, so every crop is retry-eligible
        passes.append(crops)
        return [("", 0.0)] * len(crops)

    get_text([sharp, low], one_pass)
    assert len(passes) == 2 and len(passes[1]) == 1
    assert passes[1][0].shape == low.shape and not np.array_equal(passes[1][0], low)


@pytest.mark.parametrize("model", ["latin", "cjk"])
def test_frames_match_per_window_reference(model):
    # the batched scorer against the per-window matvec loop it replaced:
    # 0/1 windows make every dot product an exact integer, so the
    # frames must be equal to the bit
    from easyocr_spark.ocr.recognition import _NPIX, _SCRIPT_MODELS, SHARPNESS, _frames

    m = _SCRIPT_MODELS[model]
    rng = np.random.default_rng(7)
    for n in (1, 2, 5, 13):
        windows = (rng.random((n, _NPIX)) < 0.4).astype(np.float32)
        frames = []
        for flat in windows:
            ssum = flat.sum()
            scores = np.empty(len(m.blank_scores))
            scores[0] = 1.0 - ssum / _NPIX
            scores[1:] = (2.0 * (m.tflat_t.T @ flat) - m.tsum - ssum + _NPIX) / _NPIX
            frames += [scores, scores, m.blank_scores]
        raw = np.stack(frames) ** SHARPNESS
        expected = raw / raw.sum(axis=1, keepdims=True)
        assert _frames(windows, model).tobytes() == expected.tobytes()


def test_contrast_adjustment_semantics():
    img = render.render_text([["SPARK"]], scale=2, low_contrast=True)
    c1, _, _ = contrast_grey(img)
    adjusted = adjust_contrast_grey(img)
    c2, _, _ = contrast_grey(adjusted)
    assert c2 > c1


def test_contrast_grey_matches_numpy_percentile():
    # the histogram order statistics + numpy's lerp give np.percentile's
    # 90th/10th to the bit, including 1- and 2-pixel images
    rng = np.random.default_rng(5)
    for _ in range(500):
        h, w = rng.integers(1, 25, size=2)
        lo, hi = sorted(rng.integers(0, 256, size=2))
        img = rng.integers(lo, hi + 1, size=(h, w), dtype=np.uint8)
        high, low = (float(v) for v in np.percentile(img, (90, 10)))
        expected = ((high - low) / max(10.0, high + low), high, low)
        assert [v.hex() for v in contrast_grey(img)] == [v.hex() for v in expected]


def test_ink_mask_is_the_float_darkness_test():
    gray = np.arange(256, dtype=np.uint8).reshape(16, 16)
    darkness = (255.0 - gray.astype(np.float32)) / 255.0
    np.testing.assert_array_equal(detection.ink_mask(gray), darkness > detection.INK_DARKNESS)


def test_word_count_matches_detection():
    for ref in ["m_5_2", "m_11_1", "m_17_4"]:
        spec = corpus.media_spec(ref)
        img = png.decode_gray(corpus.render_media(ref))
        h, f = READER.detect(img)
        n_words = sum(len(line) for line in spec["lines"])
        assert len(h) + len(f) == n_words


def connected_components(mask):
    # the detector's run-graph labeling as a pixel label image:
    # ``_label_runs`` over the mask's row runs, painted back as +label at
    # each run start and -label at its end, then one cumulative sum;
    # labels in raster order of each component's first pixel
    h, w = mask.shape
    starts, ends = detection._row_runs(mask)
    comp, n, _ = detection._label_runs(starts, ends, w + 1)
    flat = np.zeros(h * (w + 1), dtype=np.int32)
    flat[starts] = comp
    flat[ends] = -comp
    labels = np.cumsum(flat, dtype=np.int32).reshape(h, w + 1)[:, :w]
    return labels, n


def test_connected_components_labels():
    mask = np.zeros((6, 10), dtype=bool)
    mask[1:3, 1:4] = True  # component 1
    mask[4:6, 6:9] = True  # component 2
    labels, n = connected_components(mask)
    assert n == 2
    assert labels[1, 1] != labels[4, 7]
    assert (labels[1:3, 1:4] == labels[1, 1]).all()


def test_connected_components_u_shape():
    # U shape: two verticals joined at the bottom — must be ONE component
    mask = np.zeros((5, 7), dtype=bool)
    mask[0:5, 1] = True
    mask[0:5, 5] = True
    mask[4, 1:6] = True
    labels, n = connected_components(mask)
    assert n == 1


def _flood_fill_labels(mask):
    # brute-force 4-connected labeling, labels in raster order of each
    # component's first pixel
    labels = np.zeros(mask.shape, dtype=np.int32)
    n = 0
    for y, x in zip(*np.nonzero(mask)):
        if labels[y, x]:
            continue
        n += 1
        labels[y, x] = n
        stack = [(y, x)]
        while stack:
            cy, cx = stack.pop()
            for ny, nx in ((cy - 1, cx), (cy + 1, cx), (cy, cx - 1), (cy, cx + 1)):
                if (
                    0 <= ny < mask.shape[0] and 0 <= nx < mask.shape[1]
                    and mask[ny, nx] and not labels[ny, nx]
                ):
                    labels[ny, nx] = n
                    stack.append((ny, nx))
    return labels, n


def _serpentine(turns, length):
    # full-length bars joined at alternating ends: one component whose
    # path runs through every bar
    mask = np.zeros((2 * turns + 1, length), dtype=bool)
    mask[0::2] = True
    for i in range(turns):
        mask[2 * i + 1, length - 1 if i % 2 == 0 else 0] = True
    return mask


def test_connected_components_match_flood_fill():
    rng = np.random.default_rng(3)
    diagonal = np.array([[1, 0, 0], [0, 1, 0], [0, 0, 1]], dtype=bool)
    u_shape = np.zeros((5, 7), dtype=bool)
    u_shape[:, 1] = u_shape[:, 5] = u_shape[4, 1:6] = True
    masks = [
        diagonal,  # corner contact only: three components
        u_shape,  # two arms labeled apart until the bottom row joins them
        np.zeros((4, 6), dtype=bool),
        np.zeros((0, 3), dtype=bool),
        np.ones((3, 5), dtype=bool),
        _serpentine(6, 9),
        _serpentine(6, 9).T,
    ]
    for h, w in [(1, 1), (1, 12), (9, 1), (8, 8), (17, 31), (40, 64)]:
        for p in (0.2, 0.45, 0.6):
            masks.append(rng.random((h, w)) < p)
    for mask in masks:
        labels, n = connected_components(mask)
        expected, n_expected = _flood_fill_labels(mask)
        assert n == n_expected, mask.astype(int)
        assert labels.dtype == np.int32
        np.testing.assert_array_equal(labels, expected)
    assert connected_components(diagonal)[1] == 3
    assert connected_components(u_shape)[1] == 1


@pytest.mark.parametrize("mask", [_serpentine(50, 40), _serpentine(50, 40).T])
def test_run_labeling_rounds_stay_few_on_a_serpentine(mask):
    # one component threaded through ~100 (rows) or ~2000 (columns)
    # runs: pointer jumping keeps the hooking rounds to a handful,
    # where label propagation would need one per bar
    starts, ends = detection._row_runs(mask)
    labels, n, rounds = detection._label_runs(starts, ends, mask.shape[1] + 1)
    assert n == 1 and (labels == 1).all()
    assert len(starts) >= 100
    assert rounds <= 4


def test_detector_canvas_stays_within_pixel_budget(monkeypatch):
    # a budget of ~ten small images: the golden refs pack into several
    # canvases, the largest image gets one of its own, and every image
    # detects exactly as it does alone
    budget = 80_000
    monkeypatch.setattr(detection, "BATCH_PIXELS", budget)
    grays = [png.decode_gray(corpus.render_media(r)) for r in GOLDEN_REFS]
    word = render.render_text([["LARGE"]], scale=4)
    big = np.full((320, 320), 255, dtype=np.uint8)
    big[100 : 100 + word.shape[0], 40 : 40 + word.shape[1]] = word
    grays.append(big)  # 320 x 320 + separator > budget on its own
    # ink on the last and on the first row, stacked next to each other
    # (their own width): the separator row must keep them apart
    low, high = (np.full((32, 96), 255, dtype=np.uint8) for _ in range(2))
    low[-4:, 8:80] = high[:4, 8:80] = 0
    grays += [low, high]
    canvases = []
    real_canvas = detection._canvas

    def recording_canvas(images):
        out = real_canvas(images)
        canvases.append((len(images), out[0].size))
        return out

    monkeypatch.setattr(detection, "_canvas", recording_canvas)
    batched = detection.detect_batched(grays)
    assert len(canvases) > 2
    assert all(size <= budget or n == 1 for n, size in canvases)
    assert (1, 322 * 320) in canvases
    assert sum(n for n, _ in canvases) == len(grays)
    for gray, boxes in zip(grays, batched):
        alone = detection.detect(gray)
        assert [b.tobytes() for b in boxes] == [b.tobytes() for b in alone]
    assert len(batched[-3]) == 1
    shapes = [(64, 256), (32, 96), (64, 1024), (2048, 2048), (32, 96)]
    groups = detection.canvas_groups(shapes)
    assert sorted(i for g in groups for i in g) == list(range(len(shapes)))
    assert [3] in groups


@pytest.mark.parametrize(
    "shape", [(14, 16), (15, 17), (16, 15), (1, 1), (1, 7), (2, 3), (3, 2), (31, 64), (97, 130)]
)
def test_half_res_min_matches_block_reshape_min(shape):
    # odd/even sizes with 1-px remainders, and the tiny class's 14x16
    rng = np.random.default_rng(shape[0] * 1000 + shape[1])
    gray = rng.integers(0, 256, size=shape, dtype=np.uint8)
    h2, w2 = shape[0] // 2, shape[1] // 2
    expected = gray[: 2 * h2, : 2 * w2].reshape(h2, 2, w2, 2).min(axis=(1, 3))
    got = detection.half_res_min(gray)
    assert got.dtype == np.uint8
    np.testing.assert_array_equal(got, expected)
    lo, hi = int(gray.min()), int(gray.max())
    region, _ = detection._score_maps(gray, hi, 1.0 / max(hi - lo, 1))
    np.testing.assert_array_equal(
        region, (hi - expected.astype(np.float32)) * (1.0 / max(hi - lo, 1))
    )


def _cells_by_loop(ink):
    # per-column reference: a cell is a run of ink columns; its ink
    # rows span [top, bottom)
    spans, start = [], None
    for x in range(ink.shape[1] + 1):
        inked = x < ink.shape[1] and ink[:, x].any()
        if inked and start is None:
            start = x
        elif not inked and start is not None:
            spans.append((start, x))
            start = None
    cells = []
    for s, e in spans:
        ys = [y for y in range(ink.shape[0]) if ink[y, s:e].any()]
        cells.append((s, e, ys[0], ys[-1] + 1))
    return cells


def test_glyph_cells_match_per_column_loop():
    rng = np.random.default_rng(11)
    masks = [
        np.zeros((4, 7), dtype=bool),  # all blank
        np.zeros((0, 5), dtype=bool),
        np.ones((3, 1), dtype=bool),  # one column
        np.array([[0, 1, 1, 0, 1, 0, 1, 1, 0]], dtype=bool),  # runs one column apart
        np.eye(6, dtype=bool),  # every column its own run, one row each
    ]
    padded = np.zeros((5, 12), dtype=bool)
    padded[1:4, 3:5] = padded[2, 7:9] = True  # leading and trailing blank columns
    masks.append(padded)
    for h, w in [(1, 1), (1, 9), (5, 1), (7, 13), (12, 40), (20, 3)]:
        for p in (0.1, 0.4):
            blank_cols = rng.random(w) < 0.3
            masks.append((rng.random((h, w)) < p) & ~blank_cols)
    for ink in masks:
        got = list(zip(*(a.tolist() for a in detection.glyph_cells(ink))))
        assert got == _cells_by_loop(ink), ink.astype(int)
        starts, ends = detection.runs(ink.any(axis=0))
        assert list(zip(starts.tolist(), ends.tolist())) == [c[:2] for c in got]


def test_smooth_cells_read_blend_phase_and_sub_pixel_tops():
    word, s = "HELLO", 2
    smooth = render.render_text_smooth([[word]], scale=s)
    upright = render.render_text([[word]], scale=s)
    starts, ends, tops, half, heights = detection.smooth_cells(smooth)
    cells = _cells_by_loop(upright <= 250)
    assert len(starts) == len(cells) == len(word)
    for g, (s0, e0, t0, b0) in enumerate(cells):
        drop = render.smooth_drop_quarters(g, s) / 4  # whole or half pixels
        assert (starts[g], ends[g]) == (s0, e0)
        assert half[g] == (drop % 1 == 0.5)
        assert tops[g] + 0.5 * half[g] == t0 + drop
        assert heights[g] == b0 - t0  # the blend's extra row is not counted
    assert half.any() and not half.all()


def test_resize_aspect_ratio_caps_and_pads():
    img = np.full((100, 3000), 255, dtype=np.uint8)
    out, ratio = detection.resize_aspect_ratio(img, canvas_size=2560)
    assert ratio == 2560 / 3000
    assert out.shape[0] % 32 == 0 and out.shape[1] % 32 == 0
    assert out.shape[1] == 2560


def test_group_text_box_lines_and_merging():
    # three boxes: two on one line (close enough to merge), one below
    def quad(x0, x1, y0, y1):
        return np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=np.float32
        )

    polys = [quad(0, 20, 0, 10), quad(22, 40, 0, 10), quad(0, 20, 30, 40)]
    merged, free = group_text_box(polys)
    assert len(free) == 0
    assert len(merged) == 2  # first two merged (gap 2 < 0.5*10), third alone
    assert merged[0][1] >= 40  # merged box spans both


def test_group_text_box_free_quads():
    rot = [[10.0, 0.0], [30.0, 8.0], [28.0, 18.0], [8.0, 10.0]]
    merged, free = group_text_box([np.array(rot)])
    assert merged == [] and len(free) == 1


def test_four_point_transform_identity():
    img = np.arange(100, dtype=np.uint8).reshape(10, 10)
    quad = np.array([[0, 0], [9, 0], [9, 9], [0, 9]], dtype=np.float64)
    out = four_point_transform(img, quad)
    assert out.shape[0] >= 9 and out.shape[1] >= 9


def test_beam_decoder_end_to_end():
    r = StandInReader(decoder="beamsearch")
    ref = "m_9_1"
    img = png.decode_gray(corpus.render_media(ref))
    assert r.readtext_text(img) == corpus.ground_truth_text(ref)


def test_dims_formula_matches_render():
    import duckdb

    con = duckdb.connect()
    refs = [f"m_{a}_{b}" for a in range(0, 30, 4) for b in (0, 1, 3)]
    w_expr, h_expr = corpus.duckdb_dims_exprs("ref")
    sql = f"SELECT ref, {w_expr} AS w, {h_expr} AS h FROM (SELECT UNNEST(?) AS ref)"
    rows = {r: (w, h) for r, w, h in con.execute(sql, [refs]).fetchall()}
    for ref in refs:
        img = png.decode_gray(corpus.render_media(ref))
        assert rows[ref] == (img.shape[1], img.shape[0]), ref


# one ref per (image class, lang): the 9 classes of corpus.media_spec
# (tiny, low_contrast, rgb/rgba/palette color, slanted, curved, smooth,
# plain) x latin/chinese/arabic
GOLDEN_REFS = [
    "m_0_0", "m_13_1", "m_23_0",  # tiny
    "m_0_7", "m_1_6", "m_2_5",  # low_contrast
    "m_0_6", "m_4_7", "m_11_5",  # rgb
    "m_6_5", "m_1_0", "m_2_4",  # rgba
    "m_0_1", "m_1_5", "m_5_6",  # palette
    "m_0_3", "m_4_1", "m_8_5",  # slanted
    "m_0_2", "m_4_0", "m_8_4",  # curved
    "m_6_7", "m_4_5", "m_2_3",  # smooth
    "m_0_4", "m_1_1", "m_2_0",  # plain
]
GOLDEN_MODES = {
    "greedy": ({}, None),
    "beamsearch": ({"decoder": "beamsearch"}, None),
    "wordbeamsearch": ({"decoder": "wordbeamsearch"}, None),
    "allowlist": ({"allowlist": "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"}, None),
    "rotation": ({}, [90, 180]),
}
# sha256 of every readtext (boxes, text, conf.hex()) over GOLDEN_REFS x
# GOLDEN_MODES; any change to a detection or recognition bit moves it
GOLDEN_DIGEST = "3d29ec66497000f44cb98474e5919e265be361b6a45dd8d2b11154cbacda1ee8"


def _image_class(spec: dict) -> str:
    for name in ("tiny", "low_contrast"):
        if spec[name]:
            return name
    if spec["color"]:
        return spec["color_fmt"]
    for name, key in (("slanted", "slant_dy"), ("curved", "curve"), ("smooth", "smooth")):
        if spec[key]:
            return name
    return "plain"


def golden_kernel_digest() -> str:
    h = hashlib.sha256()
    for mode, (kwargs, rotation_info) in GOLDEN_MODES.items():
        for ref in GOLDEN_REFS:
            reader = StandInReader(lang_list=[corpus.media_spec(ref)["lang"]], **kwargs)
            img = png.decode_gray(corpus.render_media(ref))
            for box, text, conf in reader.readtext(img, rotation_info=rotation_info):
                pts = [float(v).hex() for p in box for v in p]
                h.update(repr((mode, ref, pts, text, float(conf).hex())).encode())
    return h.hexdigest()


def test_golden_kernel_digest():
    specs = [corpus.media_spec(r) for r in GOLDEN_REFS]
    assert len({(_image_class(s), s["lang"]) for s in specs}) == len(GOLDEN_REFS) == 27
    # readtext is deterministic and bit-exact: a kernel rewrite must keep
    # every box coordinate, text and confidence bit
    assert golden_kernel_digest() == GOLDEN_DIGEST


# sha256 of every detector output readtext does not reach: the poly
# outlines (staircase and sub-pixel smooth) and the char-count priority
# order, over GOLDEN_REFS
GOLDEN_DETECT_DIGEST = "225b383fa69fdba39336e174836e96dd7f47e1060d9d01ef94d593c0641f95aa"


def golden_detect_digest() -> str:
    def pts(shape) -> list | None:
        return None if shape is None else [float(v).hex() for p in shape for v in p]

    h = hashlib.sha256()
    for ref in GOLDEN_REFS:
        img = png.decode_gray(corpus.render_media(ref))
        outputs = {
            "polys": detection.detect_polys(img),
            "smooth_polys": detection.detect_smooth_polys(img),
            "chars2": detection.detect(img, optimal_num_chars=2),
            "chars6": detection.detect(img, optimal_num_chars=6),
        }
        for name, shapes in outputs.items():
            h.update(repr((name, ref, [pts(s) for s in shapes])).encode())
    return h.hexdigest()


def test_golden_detect_digest():
    assert golden_detect_digest() == GOLDEN_DETECT_DIGEST


def _kernel_rows(frame):
    return [
        (ref, text, float(conf).hex(), int(n))
        for ref, text, conf, n in frame[["media_ref", "text", "conf", "n_boxes"]].itertuples(index=False)
    ]


def test_golden_refs_kernel_batch_parity():
    """The OCR kernel on one Arrow batch mixing every golden ref's lang,
    duplicate refs and a blank image (no component) returns, bit for
    bit, each image's own readtext projection; so does a batch of one."""
    import pandas as pd

    from easyocr_spark.ocr import udfs
    from easyocr_spark.ocr.reader import text_projection

    blank = png.encode_gray(np.full((40, 120), 255, dtype=np.uint8))
    media = {r: (corpus.render_media(r), corpus.media_spec(r)["lang"]) for r in GOLDEN_REFS}
    media["blank"] = (blank, "latin")
    refs = GOLDEN_REFS[::2] + ["blank"] + GOLDEN_REFS[1::2] + GOLDEN_REFS[:4]
    batch = pd.DataFrame(
        {
            "media_ref": [f"{r}#{i}" for i, r in enumerate(refs)],
            "content": [media[r][0] for r in refs],
            "lang": [media[r][1] for r in refs],
        }
    )
    expected = []
    for ref, data, lang in batch.itertuples(index=False):
        results = StandInReader(lang_list=[lang]).readtext(png.decode_gray(data), free_merge=True)
        text, conf = text_projection(results, rtl=lang == "arabic")
        expected.append((ref, text, conf.hex(), len(results)))
    k = refs.index("blank")
    assert expected[k] == (f"blank#{k}", "", (0.0).hex(), 0)
    got = _kernel_rows(pd.concat(list(udfs.ocr_batches(iter([batch])))))
    assert got == expected
    for i in (0, k, len(refs) - 1):
        one = pd.concat(list(udfs.ocr_batches(iter([batch.iloc[i : i + 1]]))))
        assert _kernel_rows(one) == [expected[i]]
