"""Reader API surface parity: decoders, constraints, TTA, paragraph,
and CRAFT's boxes against an independent projection-profile detector."""

import numpy as np

from easyocr_spark.fixtures import corpus, png, render
from easyocr_spark.fixtures.fonts import CHARSET
from easyocr_spark.ocr import detection, detection_projection
from easyocr_spark.ocr.ctc import word_beam_search
from easyocr_spark.ocr.paragraph import get_paragraph
from easyocr_spark.ocr.reader import StandInReader


def test_projection_detector_same_boxes_as_craft():
    for ref in ["m_5_2", "m_11_1", "m_17_4", "m_23_0"]:
        img = png.decode_gray(corpus.render_media(ref))
        a = sorted(b.astype(int).tolist() for b in detection.detect(img))
        p = sorted(b.astype(int).tolist() for b in detection_projection.detect(img))
        assert a == p, ref


def test_allowlist_restricts_output():
    img = render.render_text([["HELLO"]], scale=2)
    # allow only the correct letters: unchanged
    r1 = StandInReader(allowlist="HELO")
    assert r1.readtext_text(img) == "HELLO"
    # E not allowed: decode must avoid 'E' entirely
    r2 = StandInReader(allowlist=CHARSET.replace("E", ""))
    out = r2.readtext_text(img)
    assert "E" not in out


def test_blocklist():
    img = render.render_text([["WORLD"]], scale=2)
    r = StandInReader(blocklist="XYZ")
    assert r.readtext_text(img) == "WORLD"


def test_rotation_tta_recovers_rotated_text():
    img = render.render_text([["SPARK"]], scale=2)
    rotated = np.rot90(img, k=1)  # 90° ccw: unreadable without TTA
    r = StandInReader()
    h, w = rotated.shape
    crop_results = r.recognize(
        rotated, [[0, w, 0, h]], [], rotation_info=[90, 180, 270]
    )
    texts = [t for _, t, _ in crop_results]
    assert "SPARK" in texts


def _frame(ch, p=0.9, second=None, p2=0.0):
    v = np.full(len(CHARSET) + 1, (1 - p - p2) / len(CHARSET))
    v[CHARSET.index(ch) + 1] = p
    if second is not None:
        v[CHARSET.index(second) + 1] = p2
    return v


def _blank():
    v = np.zeros(len(CHARSET) + 1)
    v[0] = 1.0
    return v


def test_word_beam_search_picks_indict_candidate():
    """Reference wordsearch semantics (easyocr/utils.py:88-108): walk
    beam candidates by probability, return the first dictionary member.
    Ambiguous 2nd char (X slightly beats E) -> raw beam top is the
    off-dict 'HXLLO', but 'HELLO' is a beam candidate and in-dict, so
    wordbeam snaps while plain beam does not."""
    seq = [
        _frame("H"), _blank(),
        _frame("X", p=0.5, second="E", p2=0.45), _blank(),
        _frame("L"), _blank(), _frame("L"), _blank(),
        _frame("O"), _blank(),
    ]
    probs = np.stack(seq)
    from easyocr_spark.ocr.ctc import ctc_beam_search

    raw, _ = ctc_beam_search(probs, CHARSET)
    assert raw == "HXLLO"
    text, _ = word_beam_search(probs, CHARSET, ["HELLO", "WORLD"])
    assert text == "HELLO"


def test_word_beam_search_no_dict_candidate_returns_top_beam():
    """Off-dictionary render with no in-dict beam candidate returns the
    raw beam output UNCHANGED (the reference returns best_text, it does
    NOT nearest-word snap)."""
    seq = []
    for ch in "HELO":  # one L dropped; 'HELLO' has prob 0 here
        seq += [_frame(ch), _blank()]
    probs = np.stack(seq)
    text, _ = word_beam_search(probs, CHARSET, ["HELLO", "WORLD"])
    assert text == "HELO"


def test_paragraph_groups_nearby_lines():
    img = render.render_text([["HELLO", "WORLD"], ["SPARK"]], scale=2)
    r = StandInReader()
    out = r.readtext(img, paragraph=True)
    assert len(out) == 1
    box, text = out[0]
    assert text == "HELLO WORLD SPARK"


def test_paragraph_separates_distant_blocks():
    results = [
        ([[0, 0], [50, 0], [50, 10], [0, 10]], "TOP", 0.9),
        ([[0, 500], [50, 500], [50, 510], [0, 510]], "BOTTOM", 0.9),
    ]
    out = get_paragraph(results)
    assert len(out) == 2


def test_allowlist_masks_lowercase_classes():
    """Case semantics are non-trivial: a lowercase render decoded under
    an uppercase-only allowlist must produce a DIFFERENT (all-allowed)
    string than the unmasked decode — masking is load-bearing."""
    img = render.render_text([["hello"]], scale=2)
    plain = StandInReader().readtext_text(img)
    assert plain == "hello"
    masked = StandInReader(
        allowlist="ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    ).readtext_text(img)
    assert masked != "hello"
    assert masked == masked.upper() or all(
        c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 " for c in masked
    )


def test_mixed_case_and_punct_vocab_roundtrip():
    for word in ["Hello", "world", "Coffee!", "summer?", "Moose.", "x42"]:
        img = render.render_text([[word]], scale=2)
        assert StandInReader().readtext_text(img) == word


def test_slanted_class_routes_through_free_quads():
    """Slanted media must detect as FREE quads (rotated-box path) and
    recognize to ground truth via the exact unshear."""
    slanted = [
        f"m_{a}_{b}"
        for a in range(40)
        for b in range(3)
        if corpus.media_spec(f"m_{a}_{b}")["slant_dy"] > 0
    ][:4]
    assert slanted, "slant class must be non-empty"
    for ref in slanted:
        r = StandInReader(lang_list=[corpus.media_spec(ref)["lang"]])
        img = png.decode_gray(corpus.render_media(ref))
        horizontal, free = r.detect(img)
        assert horizontal == []
        assert len(free) == len(corpus.ground_truth_text(ref).split())
        rtl = corpus.media_spec(ref)["lang"] == "arabic"
        assert r.readtext_text(img, rtl=rtl) == corpus.ground_truth_text(ref)


def test_deshear_is_pixel_exact():
    from easyocr_spark.ocr.reader import deshear_crop

    upright = render.render_text([["SPARK"]], scale=2)
    slanted = render.render_text([["SPARK"]], scale=2, slant_dy=2)
    h, w = slanted.shape
    quad = np.array([[0, 0], [w, h], [w, h], [0, 0]], dtype=float)
    out = deshear_crop(slanted, np.array([[0, 0], [w - 1, 0], [w - 1, h - 1], [0, h - 1]], dtype=float))
    # the desheared ink rows must equal the upright render's ink rows
    up_ink = upright < 128
    ys, xs = np.nonzero(up_ink)
    up_tight = up_ink[ys.min():ys.max()+1, xs.min():xs.max()+1]
    out_ink = out < 128
    ys2, xs2 = np.nonzero(out_ink)
    out_tight = out_ink[ys2.min():ys2.max()+1, xs2.min():xs2.max()+1]
    assert np.array_equal(up_tight, out_tight)


def test_merge_to_free_inserts_in_reading_position():
    from easyocr_spark.ocr.reader import merge_to_free

    def res(x, y, text):
        return ([[x, y], [x + 30, y], [x + 30, y + 10], [x, y + 10]], text, 0.9)

    # two lines of horizontal results, one free result belonging in the
    # middle of line 1 (recognize() would have appended it last)
    results = [
        res(0, 0, "A"), res(80, 0, "C"),
        res(0, 50, "D"), res(80, 50, "F"),
        res(40, 0, "B"),   # free result, line 1 middle
        res(40, 50, "E"),  # free result, line 2 middle
    ]
    merged = merge_to_free(results, 2)
    assert [t for _, t, _ in merged] == ["A", "B", "C", "D", "E", "F"]


def test_mixed_upright_and_slanted_reading_order():
    """An image with an upright word and a slanted word on one line:
    free_merge restores true reading order end to end."""
    up = render.render_text([["SPARK"]], scale=2)
    sl = render.render_text([["QUERY"]], scale=2, slant_dy=2)
    h = max(up.shape[0], sl.shape[0])
    canvas = np.full((h, up.shape[1] + sl.shape[1] + 20), 255, dtype=np.uint8)
    canvas[: sl.shape[0], : sl.shape[1]] = sl          # slanted word FIRST
    canvas[: up.shape[0], sl.shape[1] + 20 :] = up     # upright word second
    r = StandInReader()
    assert r.readtext_text(canvas) == "QUERY SPARK"


def test_optimal_num_chars_prioritizes_boxes():
    from easyocr_spark.ocr import detection

    img = render.render_text([["AB"], ["FALCON"]], scale=2)
    default = detection.detect(img)
    assert len(default) == 2
    # prefer 6-char components -> FALCON's (taller line 2) box first
    pri = detection.detect(img, optimal_num_chars=6)
    assert len(pri) == 2
    assert pri[0][0][1] > default[0][0][1]  # line-2 box promoted to front
    # prefer 2-char components -> original order
    pri2 = detection.detect(img, optimal_num_chars=2)
    assert np.allclose(pri2[0], default[0])


def test_per_script_model_routing_is_load_bearing():
    """Chinese-tagged media renders with the cjk atlas; decoding with
    the latin model must FAIL and with the routed model must succeed —
    the language decision tree actually selects the weights."""
    ref = next(
        f"m_{a}_{b}"
        for a in range(20)
        for b in range(3)
        if corpus.media_spec(f"m_{a}_{b}")["model"] == "cjk"
        and not corpus.media_spec(f"m_{a}_{b}")["tiny"]
    )
    img = png.decode_gray(corpus.render_media(ref))
    gt = corpus.ground_truth_text(ref)
    assert StandInReader(lang_list=["chinese"]).readtext_text(img) == gt
    assert StandInReader().readtext_text(img) != gt


def test_detect_polys_staircase_outline():
    from easyocr_spark.ocr.detection import detect_polys

    img = render.render_text([["SPARK"]], scale=2, slant_dy=2)
    polys = [p for p in detect_polys(img) if p is not None]
    assert len(polys) == 1
    poly = polys[0]
    assert poly.shape == (4 * 5, 2)  # 4 points per glyph cell
    # cell tops must strictly descend the staircase: +4px per cell (dy=2, s=2)
    tops = poly[: 2 * 5 : 2, 1]
    assert list(np.diff(tops)) == [4.0] * 4
    # upright render: no polygons
    assert all(p is None for p in detect_polys(render.render_text([["SPARK"]], scale=2)))


def test_chinese_forces_greedy_decoder():
    """Reference easyocr.py:371: chinese models override the requested
    decoder with greedy."""
    r = StandInReader(lang_list=["chinese"], decoder="beamsearch")
    assert r.decoder == "greedy"
    assert StandInReader(decoder="beamsearch").decoder == "beamsearch"


def test_curved_class_end_to_end():
    """Curved (variable-slope staircase) media: recognition is exact
    through the free-quad + deshear path, and the poly outline traces
    each cell's own curve_off drop."""
    from easyocr_spark.fixtures.render import curve_off

    # find a few curved refs
    refs = [
        f"m_{a}_{b}"
        for a in range(40)
        for b in range(3)
        if corpus.media_spec(f"m_{a}_{b}")["curve"]
    ][:4]
    assert refs, "curved class must be populated"
    for ref in refs:
        spec = corpus.media_spec(ref)
        r = StandInReader(lang_list=[spec["lang"]])
        img = png.decode_gray(corpus.render_media(ref))
        assert r.readtext_text(img) == corpus.ground_truth_text(ref), ref
    # poly outline of a curved word follows curve_off per cell
    img = render.render_text([["FALCON"]], scale=2, curve=True)
    (poly,) = detection.detect_polys(img)
    assert poly is not None and len(poly) == 4 * 6
    tops = poly[: 2 * 6 : 2, 1]  # left-top y of each glyph cell
    base = tops[0]
    expect = [base + 2 * curve_off(g) for g in range(6)]  # scale 2
    assert tops.tolist() == expect


def test_smooth_class_end_to_end():
    """Smooth (anti-aliased constant-slope) media: gray-edge blends on a
    half-pixel grid, recovered byte-exact through the full-res
    ink-weighted refinement + deblending deshear."""
    refs = [
        f"m_{a}_{b}"
        for a in range(60)
        for b in range(3)
        if corpus.media_spec(f"m_{a}_{b}")["smooth"]
    ][:5]
    assert refs, "smooth class must be populated"
    for ref in refs:
        spec = corpus.media_spec(ref)
        lang = spec["lang"]
        r = StandInReader(
            lang_list=["chinese"] if spec["model"] == "cjk" else [lang]
        )
        img = png.decode_gray(corpus.render_media(ref))
        # the render really is anti-aliased (the class differentiator)
        assert (img == 128).any(), ref
        got = r.readtext_text(img, rtl=(lang == "arabic"))
        assert got == corpus.ground_truth_text(ref), ref


def test_smooth_refinement_subpixel_quad():
    """The refined quad's last-cell top must carry the HALF-PIXEL phase
    read from the blend gray — information an integer staircase cannot
    express — and the margins must follow group_text_box's float rule."""
    img = render.render_text_smooth([["Jazz"]], 2)
    r = StandInReader()
    horizontal, free = r.detect(img)
    assert horizontal == [] and len(free) == 1
    q = np.asarray(free[0])
    s = 2
    t0, h = 4.0 * s, 7.0 * s
    D = (4 - 1) * (2 * s + 0.5)  # 13.5 — half-pixel phase (odd cell 3)
    m = 0.1 * h
    assert q[0][1] == t0 - m
    assert q[1][1] == t0 + D + (1 if D > h else -1) * m
    assert q[1][1] != int(q[1][1])  # genuinely sub-pixel


def test_smooth_deblend_reconstructs_upright_pixels():
    """deshear_crop must invert the 2-tap gray blend exactly: the
    recovered crop equals the upright render's tight ink rows."""
    from easyocr_spark.ocr.reader import deshear_crop

    word = "SHUFFLE"
    sheared = render.render_text_smooth([[word]], 2)
    upright = render.render_text([[word]], 2)
    r = StandInReader()
    _, free = r.detect(sheared)
    assert len(free) == 1
    crop = deshear_crop(sheared, np.asarray(free[0]))
    # compare against the upright render's tight ink band
    ys, xs = np.nonzero(upright == 0)
    want = upright[ys.min() : ys.max() + 1, xs.min() : xs.max() + 1]
    gys, gxs = np.nonzero(crop == 0)
    got = crop[gys.min() : gys.max() + 1, gxs.min() : gxs.max() + 1]
    assert got.shape == want.shape
    assert (got == want).all()


def test_smooth_poly_subpixel_outline():
    """detect_smooth_polys must trace each cell's own sub-pixel top:
    odd cells carry the +0.5 blend phase, even cells integer tops, and
    bottoms sit exactly one glyph height (7s) below."""
    img = render.render_text_smooth([["FALCON"]], 2)
    (poly,) = detection.detect_smooth_polys(img)
    L, s = 6, 2
    assert poly.shape == (4 * L, 2)
    tops = poly[: 2 * L : 2, 1]           # left-top y of each cell
    expect = [4 * s + g * (2 * s + 0.5) for g in range(L)]
    assert tops.tolist() == expect
    bots = poly[2 * L :, 1][::-1][::2]    # left-bottom y per cell
    assert bots.tolist() == [t + 7 * s for t in expect]
    # staircase (non-smooth) renders produce no smooth polys
    assert detection.detect_smooth_polys(
        render.render_text([["FALCON"]], 2, slant_dy=2)
    ) == []
