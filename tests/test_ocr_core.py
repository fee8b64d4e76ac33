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
    recognize_crop,
    recognize_two_pass,
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
    text1, conf1 = recognize_crop(img, adjust=False)
    assert conf1 < 0.1  # pass 1 fails on low contrast
    text2, conf2 = recognize_two_pass(img)
    assert text2 == "HELLO" and conf2 > 0.5


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


def test_word_count_matches_detection():
    for ref in ["m_5_2", "m_11_1", "m_17_4"]:
        spec = corpus.media_spec(ref)
        img = png.decode_gray(corpus.render_media(ref))
        h, f = READER.detect(img)
        n_words = sum(len(line) for line in spec["lines"])
        assert len(h) + len(f) == n_words


def test_connected_components_labels():
    mask = np.zeros((6, 10), dtype=bool)
    mask[1:3, 1:4] = True  # component 1
    mask[4:6, 6:9] = True  # component 2
    labels, n = detection.connected_components(mask)
    assert n == 2
    assert labels[1, 1] != labels[4, 7]
    assert (labels[1:3, 1:4] == labels[1, 1]).all()


def test_connected_components_u_shape():
    # U shape: two verticals joined at the bottom — must be ONE component
    mask = np.zeros((5, 7), dtype=bool)
    mask[0:5, 1] = True
    mask[0:5, 5] = True
    mask[4, 1:6] = True
    labels, n = detection.connected_components(mask)
    assert n == 1


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
    region, _ = detection.compute_score_maps(gray)
    np.testing.assert_array_equal(
        region, (hi - expected.astype(np.float32)) * (1.0 / max(hi - lo, 1))
    )


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
