"""Interleaved-document corpus spec: the single source of truth.

BASELINE.json input_hint mandates an input table
``documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)``
but the driver's testdata ships a *flat* documents table
``(doc_id bigint, text, lang, source, n_chars)``. This module derives the
interleaved corpus deterministically from the flat table with arithmetic
that is expressible in BOTH Spark SQL and DuckDB SQL, so the driver's
DuckDB oracle can independently reconstruct every intermediate AND the
final OCR output (ground-truth text is a pure function of media_ref).

Edge classes required by FIXTURES.md §1 and how they're encoded
(d = flat doc_id, i = span offset):

- empty spans array .............. d % 13 == 0 (and not skew)
- zero media spans ............... d % 37 == 5
- all media spans ................ d % 37 == 3
- skew docs (50-200 media) ....... d % 97 == 0 and d > 0
- duplicate media_ref ............ (d+i) % 10 == 2 -> shared ref m_{d%50}_0
- out-of-offset-order storage .... array rotated by d % k
- ~30% media fraction ............ (d+i) % 10 < 3

Media image classes (a, b parsed from media_ref = 'm_{a}_{b}'):

- tiny (min_size filter -> '') ... (7a + b) % 23 == 0
- low contrast (2-pass retry) .... (a + b) % 7 == 0
- scale factor ................... 2 + 2*((a+b) % 2)
- lines / words / vocab picks .... arithmetic below (SQL-portable)

Convention: absent values are '' (empty string), not NULL — text spans
carry media_ref='', media spans carry text='' pre-OCR. This keeps the
driver's value-hash comparison engine-agnostic.
"""

from __future__ import annotations

import numpy as np

from .png import encode_gray, encode_rgb
from .render import render_text, render_tiny

# bump when render_media output changes (media_table caches renders per
# scale factor under /tmp; a stale cache would silently pin old pixels)
# v2: color media class; v3: mixed-case/punctuated vocab; v4: slanted
# class; v5: per-script glyph atlases (chinese-tagged media renders with
# the cjk atlas, so language -> model routing is load-bearing);
# v6: color class split into rgb/rgba/palette PNG subtypes;
# v7: curved (variable-slope staircase) class;
# v8: smooth (anti-aliased constant-slope, gray-edge) class
MEDIA_SPEC_VERSION = 8

# staircase slant: glyph g of a slanted word drops g * SLANT_DY base px
SLANT_DY = 2

# RGB ink colors for the color media class, one per a % 3. All three
# convert to dark luma under the decoder's fixed-point BT.601
# ((77R+150G+29B+128)>>8 = 44 / 72 / 26), so binarization — and with it
# every detection/recognition oracle — is identical to black-ink
# renders; only the PNG color type (and the decode path taken) differs.
COLOR_INKS = [(112, 16, 16), (16, 112, 16), (16, 16, 112)]

# 64 words over the full atlas charset (upper, lower, digits, .,!?-),
# lengths 2-8. Mixed-case + punctuated entries make case-sensitive
# recognition, allowlist masking, and the wordbeam dictionary
# non-trivial (the reference's en_char charset is case-sensitive).
# No single quotes (entries are embedded in SQL literals in both
# dialects).
VOCAB = [
    "Hello", "world", "SPARK", "ARROW", "QUERY", "Table", "SHUFFLE", "JOIN",
    "SCAN", "AGG", "OCR", "TEXT", "SPAN", "MEDIA", "DOC", "REF",
    "OFFSET", "KIND", "BATCH", "VECTOR", "COLUMN", "ROW", "GROUP", "SORT",
    "MERGE", "FILTER", "MAP", "REDUCE", "CRAFT", "CRNN", "CTC", "BEAM",
    "GREEDY", "BLANK", "GLYPH", "PIXEL", "IMAGE", "LINE", "WORD", "CHAR",
    "Book", "llama", "Coffee!", "better", "Letter!", "summer?", "Winter.", "x42",
    "A1B2", "Z9", "QQ7", "Jazz", "FIZZ", "buzz!", "Apple", "banana",
    "Cherry", "otter", "EAGLE", "FALCON", "TIGER", "ZEBRA", "Moose.", "goose",
]
assert len(VOCAB) == 64
assert all(2 <= len(w) <= 8 and "'" not in w for w in VOCAB)

LANGS = ["latin", "chinese", "arabic"]


# ---------------------------------------------------------------- media spec
def parse_ref(media_ref: str) -> tuple[int, int]:
    _, a, b = media_ref.split("_")
    return int(a), int(b)


def media_spec(media_ref: str) -> dict:
    a, b = parse_ref(media_ref)
    tiny = (7 * a + b) % 23 == 0
    n_lines = (a + 2 * b) % 2 + 1
    lines = [
        [VOCAB[(a * 31 + b * 17 + line * 13 + j * 7) % 64]
         for j in range((a + 3 * b + line) % 3 + 1)]
        for line in range(n_lines)
    ]
    low_contrast = (a + b) % 7 == 0
    # slanted class: single-line, full-contrast refs where every word
    # renders as a glyph staircase -> the detector must emit rotated
    # quads and recognition must go through the free-box path
    slanted = (
        (not tiny)
        and (not low_contrast)
        and n_lines == 1
        and (a + 5 * b) % 6 == 3
    )
    # curved class (disjoint from slanted by the % 6 residue): the
    # staircase drop follows render.curve_off (slopes alternate 2 and
    # 1 px/glyph) — a NON-LINEAR text line, the getPoly_core territory
    # beyond constant slant. Detection still emits a vertical-edged
    # quad (first-vs-last cell tops) and the poly path traces the true
    # per-cell curve; deshear_crop realigns on actual ink tops, so
    # recognition is pixel-exact here too.
    curved = (
        (not tiny)
        and (not low_contrast)
        and n_lines == 1
        and (a + 5 * b) % 6 == 4
    )
    # smooth class (residue 5 — disjoint from slanted/curved): glyph
    # cell g drops g*(2s + 1/2) SCALED px — constant slope whose odd
    # cells sit at half-pixel phase, rendered with anti-aliased
    # gray-128 edges (render.render_text_smooth). No longer an integer
    # staircase: detection must read the blend gray as a sub-pixel
    # phase (ink-weighted tops) and recognition must invert the blend.
    # Color refs are excluded ((a+b)%5 != 1): tinted ink would break
    # the exact 0/128/255 blend arithmetic the deblend inverts.
    smooth = (
        (not tiny)
        and (not low_contrast)
        and n_lines == 1
        and (a + 5 * b) % 6 == 5
        and (a + b) % 5 != 1
    )
    return {
        "tiny": tiny,
        "low_contrast": low_contrast,
        # color class: tinted-ink PNG (exercises the reformat_input
        # color branches, reference easyocr/utils.py:732-769); disjoint
        # from tiny/low-contrast so those classes stay pure gray. The
        # container rotates through truecolor / truecolor+alpha /
        # indexed (PLTE) per color_fmt — all three decode to the SAME
        # gray pixels, so only the decode path (and reported source
        # channel count) differs between subtypes.
        "color": (not tiny) and (not low_contrast) and (a + b) % 5 == 1,
        "color_fmt": ["rgb", "rgba", "palette"][(a + 2 * b) % 3],
        "slant_dy": SLANT_DY if slanted else 0,
        "curve": curved,
        "smooth": smooth,
        "scale": 2 + 2 * ((a + b) % 2),
        "lines": lines,
        "lang": LANGS[a % 3],
        # per-script recognition model: chinese-tagged media renders
        # with (and must be recognized by) the cjk glyph atlas
        "model": "cjk" if LANGS[a % 3] == "chinese" else "latin",
    }


def ground_truth_text(media_ref: str) -> str:
    """Expected OCR output for a media_ref — reading order, words joined
    by single spaces, lines top-to-bottom (the reference's output order
    guarantee: easyocr/utils.py:482-483, :621-622).

    Arabic-tagged media (a % 3 == 2) reads right-to-left within each
    line — the stand-in for the reference's bidi display reordering
    (easyocr/easyocr.py:414-418), which changes the output string itself
    and is therefore part of span equality."""
    spec = media_spec(media_ref)
    if spec["tiny"]:
        return ""
    rtl = spec["lang"] == "arabic"
    return " ".join(
        w for line in spec["lines"] for w in (reversed(line) if rtl else line)
    )


def render_media(media_ref: str) -> bytes:
    spec = media_spec(media_ref)
    if spec["tiny"]:
        img = render_tiny()
    elif spec["smooth"]:
        from .fonts import MODEL_ATLASES
        from .render import render_text_smooth

        img = render_text_smooth(
            spec["lines"], spec["scale"], atlas=MODEL_ATLASES[spec["model"]]
        )
    else:
        from .fonts import MODEL_ATLASES

        img = render_text(
            spec["lines"],
            spec["scale"],
            spec["low_contrast"],
            slant_dy=spec["slant_dy"],
            curve=spec["curve"],
            atlas=MODEL_ATLASES[spec["model"]],
        )
    if spec["color"]:
        from .png import encode_palette, encode_rgba

        a, _ = parse_ref(media_ref)
        ink = np.array(COLOR_INKS[a % 3], dtype=np.uint8)
        rgb = np.repeat(img[:, :, None], 3, axis=2)
        rgb[img == 0] = ink  # non-low-contrast ink is exactly 0
        fmt = spec["color_fmt"]
        if fmt == "rgba":
            # opaque alpha plane; the decoder drops it like the
            # reference's RGBA branch, so pixels equal the rgb subtype
            rgba = np.concatenate(
                [rgb, np.full(img.shape + (1,), 255, dtype=np.uint8)], axis=2
            )
            return encode_rgba(rgba)
        if fmt == "palette":
            # entry 0 = ink, then one gray entry per distinct paper level
            levels = np.unique(img[img != 0])
            palette = np.concatenate(
                [ink[None, :], np.repeat(levels[:, None], 3, axis=1)]
            ).astype(np.uint8)
            indices = np.zeros(img.shape, dtype=np.uint8)
            for i, g in enumerate(levels, start=1):
                indices[img == g] = i
            return encode_palette(indices, palette)
        return encode_rgb(rgb)
    return encode_gray(img)


def duckdb_channels_expr(ref_col: str) -> str:
    """Expected SOURCE channel count for a media_ref — the oracle for
    the decode-branch query: 4 for the color class's RGBA subtype, 3
    for its truecolor and palette subtypes (palette expands to RGB,
    cv2.imdecode IMREAD_COLOR behavior), 1 otherwise."""
    a = f"TRY_CAST(split_part({ref_col}, '_', 2) AS BIGINT)"
    b = f"TRY_CAST(split_part({ref_col}, '_', 3) AS BIGINT)"
    return (
        f"CASE WHEN (7*({a}) + ({b})) % 23 <> 0 AND ({a} + {b}) % 7 <> 0 "
        f"AND ({a} + {b}) % 5 = 1 "
        f"THEN (CASE WHEN ({a} + 2*({b})) % 3 = 1 THEN 4 ELSE 3 END) "
        f"ELSE 1 END"
    )


# ------------------------------------------------- span derivation (Spark SQL)
# d = flat bigint doc_id; produces the interleaved nested table.
SPARK_INTERLEAVED_SQL = """
WITH base AS (
  SELECT doc_id AS d, text AS doc_text,
         CASE WHEN doc_id % 97 = 0 AND doc_id > 0 THEN 50 + doc_id % 151
              ELSE doc_id % 13 END AS k
  FROM {documents}
)
SELECT concat('doc_', d) AS doc_id,
  transform(
    filter(sequence(0, greatest(k, 1) - 1), j -> j < k),
    j -> named_struct(
      'kind',
        CASE WHEN ((d % 37 = 3) OR (pmod(d + pmod(j + pmod(d, greatest(k,1)), greatest(k,1)), 10) < 3)
                   OR (d % 97 = 0 AND d > 0)) AND d % 37 <> 5
             THEN 'media' ELSE 'text' END,
      'text',
        CASE WHEN ((d % 37 = 3) OR (pmod(d + pmod(j + pmod(d, greatest(k,1)), greatest(k,1)), 10) < 3)
                   OR (d % 97 = 0 AND d > 0)) AND d % 37 <> 5
             THEN ''
             ELSE substring(doc_text,
                            1 + pmod(pmod(j + pmod(d, greatest(k,1)), greatest(k,1)) * 17, 40), 20) END,
      'media_ref',
        CASE WHEN ((d % 37 = 3) OR (pmod(d + pmod(j + pmod(d, greatest(k,1)), greatest(k,1)), 10) < 3)
                   OR (d % 97 = 0 AND d > 0)) AND d % 37 <> 5
             THEN CASE WHEN pmod(d + pmod(j + pmod(d, greatest(k,1)), greatest(k,1)), 10) = 2
                       THEN concat('m_', d % 50, '_0')
                       ELSE concat('m_', d, '_',
                                   pmod(j + pmod(d, greatest(k,1)), greatest(k,1))) END
             ELSE '' END,
      'offset', CAST(pmod(j + pmod(d, greatest(k,1)), greatest(k,1)) AS INT)
    )
  ) AS spans
FROM base
"""

# ------------------------------------------- flat span derivation (DuckDB SQL)
# The oracle never materializes the rotated array — it derives the flat,
# offset-ordered span rows directly (storage order is a Spark-side detail
# that posexplode queries verify separately via the pos formula).
DUCKDB_FLAT_SPANS_SQL = """
WITH base AS (
  SELECT doc_id AS d, text AS doc_text,
         CASE WHEN doc_id % 97 = 0 AND doc_id > 0 THEN 50 + doc_id % 151
              ELSE doc_id % 13 END AS k
  FROM documents
),
s AS (
  SELECT d, doc_text, k, UNNEST(range(k)) AS i FROM base
),
flags AS (
  SELECT d, doc_text, k, CAST(i AS INT) AS i,
         ((d % 37 = 3) OR ((d + i) % 10 < 3) OR (d % 97 = 0 AND d > 0))
           AND d % 37 <> 5 AS is_media
  FROM s
)
SELECT concat('doc_', d) AS doc_id,
       i AS "offset",
       CASE WHEN is_media THEN 'media' ELSE 'text' END AS kind,
       CASE WHEN is_media THEN ''
            ELSE substring(doc_text, CAST(1 + (i*17) % 40 AS INT), 20) END AS text,
       CASE WHEN is_media THEN
              CASE WHEN (d + i) % 10 = 2 THEN concat('m_', d % 50, '_0')
                   ELSE concat('m_', d, '_', i) END
            ELSE '' END AS media_ref,
       -- array storage position our Spark table uses (rotation by d % k)
       CAST((i - (d % k) + k) % k AS INT) AS pos
FROM flags
"""


def _vocab_sql() -> str:
    return "[" + ", ".join(f"'{w}'" for w in VOCAB) + "]"


def duckdb_gt_expr(a: str, b: str) -> str:
    """DuckDB SQL expression computing ground_truth_text() for parsed
    media_ref ints ``a``/``b`` (column/expression strings)."""
    line = f"""list_transform(range(0, (({a}) + 3*({b}) + L) % 3 + 1), j ->
          list_extract({_vocab_sql()},
            CAST((({a})*31 + ({b})*17 + L*13 + j*7) % 64 + 1 AS INT)))"""
    return f"""
    CASE WHEN (7*({a}) + ({b})) % 23 = 0 THEN ''
    ELSE array_to_string(flatten(
      list_transform(range(0, ({a} + 2*({b})) % 2 + 1), L ->
        CASE WHEN ({a}) % 3 = 2 THEN list_reverse({line}) ELSE {line} END)), ' ')
    END"""


def duckdb_gt_from_ref(ref_col: str) -> str:
    a = f"TRY_CAST(split_part({ref_col}, '_', 2) AS BIGINT)"
    b = f"TRY_CAST(split_part({ref_col}, '_', 3) AS BIGINT)"
    return duckdb_gt_expr(a, b)


def spark_gt_expr(a: str, b: str) -> str:
    """Spark SQL expression computing ground_truth_text() for parsed
    media_ref ints ``a``/``b`` — the Spark twin of duckdb_gt_expr, used
    where a QUERY needs the corpus formula (e.g. selecting the
    uppercase-only subset for the allowlist query) without running
    OCR. Same arithmetic, Spark HOF dialect."""
    vocab = "array(" + ", ".join(f"'{w}'" for w in VOCAB) + ")"
    line = (
        f"transform(sequence(0, pmod(({a}) + 3*({b}) + L, 3)), j -> "
        f"element_at({vocab}, "
        f"CAST(pmod(({a})*31 + ({b})*17 + L*13 + j*7, 64) + 1 AS INT)))"
    )
    return f"""
    CASE WHEN pmod(7*({a}) + ({b}), 23) = 0 THEN ''
    ELSE array_join(flatten(
      transform(sequence(0, pmod({a} + 2*({b}), 2)), L ->
        CASE WHEN pmod({a}, 3) = 2 THEN reverse({line}) ELSE {line} END)), ' ')
    END"""


def spark_gt_from_ref(ref_col: str) -> str:
    a = f"CAST(split_part({ref_col}, '_', 2) AS BIGINT)"
    b = f"CAST(split_part({ref_col}, '_', 3) AS BIGINT)"
    return spark_gt_expr(a, b)


def duckdb_word_count_expr(ref_col: str) -> str:
    """Expected number of detected word boxes for a media_ref (0 for the
    tiny class; otherwise total words across lines)."""
    a = f"TRY_CAST(split_part({ref_col}, '_', 2) AS BIGINT)"
    b = f"TRY_CAST(split_part({ref_col}, '_', 3) AS BIGINT)"
    return f"""
    CASE WHEN (7*({a}) + ({b})) % 23 = 0 THEN 0
    ELSE CAST(list_sum(list_transform(range(0, ({a} + 2*({b})) % 2 + 1),
                       L -> (({a}) + 3*({b}) + L) % 3 + 1)) AS INT)
    END"""


def duckdb_slant_pred(a: str, b: str) -> str:
    """SQL predicate (valid in both dialects) for the slanted class —
    mirrors media_spec: non-tiny, full-contrast, single-line,
    (a + 5b) % 6 == 3."""
    return (
        f"((7*({a}) + ({b})) % 23 <> 0 AND (({a}) + ({b})) % 7 <> 0 "
        f"AND (({a}) + 2*({b})) % 2 = 0 AND (({a}) + 5*({b})) % 6 = 3)"
    )


def duckdb_curve_pred(a: str, b: str) -> str:
    """SQL predicate for the curved class — same gate as slanted but
    residue (a + 5b) % 6 == 4 (disjoint by construction)."""
    return (
        f"((7*({a}) + ({b})) % 23 <> 0 AND (({a}) + ({b})) % 7 <> 0 "
        f"AND (({a}) + 2*({b})) % 2 = 0 AND (({a}) + 5*({b})) % 6 = 4)"
    )


def duckdb_smooth_pred(a: str, b: str) -> str:
    """SQL predicate for the SMOOTH (anti-aliased constant-slope)
    class — residue (a + 5b) % 6 == 5, single-line, full-contrast,
    non-color (tinted ink would break the exact gray-edge blend)."""
    return (
        f"((7*({a}) + ({b})) % 23 <> 0 AND (({a}) + ({b})) % 7 <> 0 "
        f"AND (({a}) + 2*({b})) % 2 = 0 AND (({a}) + 5*({b})) % 6 = 5 "
        f"AND (({a}) + ({b})) % 5 <> 1)"
    )


def _duckdb_staircase_geometry_sql(refs_sql: str, pred_fn, drop: str) -> str:
    """Expected FREE-quad corners per staircase-class media_ref in
    reading order, in deci-pixels (x10, rounded): (media_ref, box_idx,
    x0d..y3d). ``pred_fn(a, b)`` selects the class; ``drop`` is the SQL
    drop of the word's LAST glyph in base px as a function of len_j.
    Mirrors the full chain: staircase layout -> half-res cell-top
    quantization (exact: all boundaries even-aligned) -> x2 rescale ->
    group_text_box's free-path margin expansion (q = p + sign(p - ctr)
    * 0.1*h, reference easyocr/utils.py:463-481) with its float
    arithmetic reproduced verbatim (0.1*h is the same IEEE double in
    both engines; outputs are rounded deci-pixels so the comparison is
    integer-exact)."""
    a = "TRY_CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "TRY_CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    v = _vocab_sql()
    return f"""
    WITH refs AS (
      SELECT media_ref, {a} AS a, {b} AS b FROM ({refs_sql})
      WHERE {pred_fn(a, b)}
    ),
    geo AS (
      SELECT media_ref, a, b, (2 + 2*((a + b) % 2)) AS s,
             ((a + 3*b) % 3 + 1) AS n_w
      FROM refs
    ),
    words AS (
      SELECT media_ref, s, CAST(j AS BIGINT) AS box_idx,
             length(list_extract({v},
                 CAST((a*31 + b*17 + j*7) % 64 + 1 AS INT))) AS len_j,
             (6 * length(list_extract({v},
                 CAST((a*31 + b*17 + j*7) % 64 + 1 AS INT))) - 1) AS w_ink,
             CAST(list_sum(list_prepend(0::BIGINT,
               list_transform(range(0, CAST(j AS BIGINT)), k ->
                 6 * length(list_extract({v},
                   CAST((a*31 + b*17 + k*7) % 64 + 1 AS INT))) - 1 + 9)))
               AS BIGINT) AS x_off
      FROM geo, UNNEST(range(n_w)) AS t(j)
    ),
    pre AS (
      SELECT media_ref, box_idx,
             ((4 + x_off) * s)::DOUBLE AS xl,
             ((4 + x_off + w_ink) * s)::DOUBLE AS xr,
             (4 * s)::DOUBLE AS t0,
             (({drop}) * s)::DOUBLE AS dd,
             (7 * s)::DOUBLE AS h,
             0.1 * (7 * s)::DOUBLE AS m,
             CASE WHEN ({drop}) > 7 THEN 1 ELSE -1 END AS sgn
      FROM words
    )
    SELECT media_ref, CAST(box_idx AS INT) AS box_idx,
           CAST(round((xl - m) * 10) AS BIGINT) AS x0d,
           CAST(round((t0 - m) * 10) AS BIGINT) AS y0d,
           CAST(round((xr + m) * 10) AS BIGINT) AS x1d,
           CAST(round((t0 + dd + sgn * m) * 10) AS BIGINT) AS y1d,
           CAST(round((xr + m) * 10) AS BIGINT) AS x2d,
           CAST(round((t0 + dd + h + m) * 10) AS BIGINT) AS y2d,
           CAST(round((xl - m) * 10) AS BIGINT) AS x3d,
           CAST(round((t0 + h - sgn * m) * 10) AS BIGINT) AS y3d
    FROM pre
    """


def duckdb_slanted_geometry_sql(refs_sql: str) -> str:
    return _duckdb_staircase_geometry_sql(
        refs_sql, duckdb_slant_pred, f"(len_j - 1) * {SLANT_DY}"
    )


def duckdb_curved_geometry_sql(refs_sql: str) -> str:
    """Curved-class quads: drop of the last glyph is curve_off(len-1)
    = (len-1) + (len-1)//2 (render.curve_off)."""
    return _duckdb_staircase_geometry_sql(
        refs_sql, duckdb_curve_pred, "(len_j - 1) + len_j // 2"
    )


def duckdb_smooth_geometry_sql(refs_sql: str) -> str:
    """Expected FREE-quad corners per SMOOTH-class media_ref in reading
    order, in QUARTER-pixels (x4, rounded): (media_ref, box_idx,
    x0q..y3q). The smooth drop lives on a half-pixel grid (D(g) =
    g*(2s + 1/2) SCALED px — in quarter-px an exact integer,
    render.smooth_drop_quarters), so quarter-px output keeps the
    comparison integer-exact where deci-px would land on .5 rounding
    ties. Mirrors the full chain: anti-aliased render -> full-res
    ink-weighted refinement (detection._refine_smooth_quads on
    detection.smooth_cells: sub-pixel cell tops from the blend gray) -> group_text_box free-path margin
    expansion with its float arithmetic reproduced verbatim (margins
    are 0.1*h doubles; rounded products never land on .5)."""
    a = "TRY_CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "TRY_CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    v = _vocab_sql()
    return f"""
    WITH refs AS (
      SELECT media_ref, {a} AS a, {b} AS b FROM ({refs_sql})
      WHERE {duckdb_smooth_pred(a, b)}
    ),
    geo AS (
      SELECT media_ref, a, b, (2 + 2*((a + b) % 2)) AS s,
             ((a + 3*b) % 3 + 1) AS n_w
      FROM refs
    ),
    words AS (
      SELECT media_ref, s, CAST(j AS BIGINT) AS box_idx,
             length(list_extract({v},
                 CAST((a*31 + b*17 + j*7) % 64 + 1 AS INT))) AS len_j,
             (6 * length(list_extract({v},
                 CAST((a*31 + b*17 + j*7) % 64 + 1 AS INT))) - 1) AS w_ink,
             CAST(list_sum(list_prepend(0::BIGINT,
               list_transform(range(0, CAST(j AS BIGINT)), k ->
                 6 * length(list_extract({v},
                   CAST((a*31 + b*17 + k*7) % 64 + 1 AS INT))) - 1 + 9)))
               AS BIGINT) AS x_off
      FROM geo, UNNEST(range(n_w)) AS t(j)
    ),
    pre AS (
      SELECT media_ref, box_idx,
             ((4 + x_off) * s)::DOUBLE AS xl,
             ((4 + x_off + w_ink) * s)::DOUBLE AS xr,
             (4 * s)::DOUBLE AS t0,
             -- smooth drop in quarter scaled px: (len-1)*(8s+2), exact
             (((len_j - 1) * (8*s + 2))::DOUBLE / 4) AS dd,
             (7 * s)::DOUBLE AS h,
             0.1 * (7 * s)::DOUBLE AS m,
             CASE WHEN ((len_j - 1) * (8*s + 2)) > 4 * 7 * s
                  THEN 1 ELSE -1 END AS sgn
      FROM words
    )
    SELECT media_ref, CAST(box_idx AS INT) AS box_idx,
           CAST(round((xl - m) * 4) AS BIGINT) AS x0q,
           CAST(round((t0 - m) * 4) AS BIGINT) AS y0q,
           CAST(round((xr + m) * 4) AS BIGINT) AS x1q,
           CAST(round((t0 + dd + sgn * m) * 4) AS BIGINT) AS y1q,
           CAST(round((xr + m) * 4) AS BIGINT) AS x2q,
           CAST(round((t0 + dd + h + m) * 4) AS BIGINT) AS y2q,
           CAST(round((xl - m) * 4) AS BIGINT) AS x3q,
           CAST(round((t0 + h - sgn * m) * 4) AS BIGINT) AS y3q
    FROM pre
    """


def duckdb_image_features_sql(refs_sql: str) -> str:
    """Oracle for the image_features kernel: (media_ref, width, height,
    mean_luma, ink_ratio_milli). Ink pixel counts come from the glyph
    atlases' per-word popcounts (embedded as literals — the 'weights'
    are deterministic, so even pixel statistics are formula-checkable);
    mean = (g_ink*ink + bg*(total-ink)) // total with integer floor
    (exact: float64 mean of a uint8 image cannot round across an
    integer boundary at these image sizes).

    SMOOTH-class refs carry anti-aliased gray-128 blend pixels: each
    vertical ink run of an ODD glyph cell loses one full-ink pixel
    column-wise and gains two gray-128 pixels (the blend is
    darkness-preserving up to the +1 integer-midpoint rounding). The
    per-word odd-cell column-run counts are embedded as literals
    exactly like the popcounts, so the pixel statistics stay
    formula-exact for the blended render too."""
    from .fonts import MODEL_ATLASES

    def word_inks(model: str) -> str:
        atlas = MODEL_ATLASES[model]
        vals = [sum(int(atlas[c].sum()) for c in w) for w in VOCAB]
        return "[" + ", ".join(str(v) for v in vals) + "]"

    def _colruns(glyph) -> int:
        # maximal vertical ink runs summed over the glyph's columns
        total = 0
        for c in range(glyph.shape[1]):
            col = glyph[:, c]
            total += int(((col[1:] > col[:-1]).sum()) + int(col[0] > 0))
        return total

    def word_runs_odd(model: str) -> str:
        atlas = MODEL_ATLASES[model]
        vals = [
            sum(_colruns(atlas[ch]) for g, ch in enumerate(w) if g % 2 == 1)
            for w in VOCAB
        ]
        return "[" + ", ".join(str(v) for v in vals) + "]"

    a = "TRY_CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "TRY_CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    wexpr, hexpr = duckdb_dims_exprs("media_ref")
    # BT.601 gray of the color inks (what decode_gray reports for ink px)
    color_grays = [
        (77 * r + 150 * g + 29 * bl + 128) >> 8 for r, g, bl in COLOR_INKS
    ]
    ink_lists = {m: word_inks(m) for m in ("latin", "cjk")}
    ink_px = f"""
      CASE WHEN (7*({a}) + ({b})) % 23 = 0 THEN 64
      ELSE (2 + 2*(({a} + {b}) % 2)) * (2 + 2*(({a} + {b}) % 2)) *
        CAST(list_sum(flatten(list_transform(range(0, ({a} + 2*({b})) % 2 + 1), L ->
          list_transform(range(0, (({a}) + 3*({b}) + L) % 3 + 1), j ->
            list_extract(CASE WHEN ({a}) % 3 = 1 THEN {ink_lists['cjk']}
                              ELSE {ink_lists['latin']} END,
              CAST((({a})*31 + ({b})*17 + L*13 + j*7) % 64 + 1 AS INT)))))) AS BIGINT)
      END"""
    g_ink = f"""
      CASE WHEN ({a} + {b}) % 7 = 0 AND (7*({a}) + ({b})) % 23 <> 0 THEN 180
           WHEN (7*({a}) + ({b})) % 23 <> 0 AND ({a} + {b}) % 5 = 1 THEN
             CASE WHEN ({a}) % 3 = 0 THEN {color_grays[0]}
                  WHEN ({a}) % 3 = 1 THEN {color_grays[1]}
                  ELSE {color_grays[2]} END
           ELSE 0 END"""
    bg = f"CASE WHEN ({a} + {b}) % 7 = 0 AND (7*({a}) + ({b})) % 23 <> 0 THEN 220 ELSE 255 END"
    runs_lists = {m: word_runs_odd(m) for m in ("latin", "cjk")}
    # blend-run pixel budget: smooth refs only; single line (L = 0),
    # scaled by s once (each base column repeats s times; run count per
    # base column is scale-invariant)
    blend_runs = f"""
      CASE WHEN {duckdb_smooth_pred(a, b)} THEN
        (2 + 2*(({a} + {b}) % 2)) *
        CAST(list_sum(list_transform(range(0, (({a}) + 3*({b})) % 3 + 1), j ->
          list_extract(CASE WHEN ({a}) % 3 = 1 THEN {runs_lists['cjk']}
                            ELSE {runs_lists['latin']} END,
            CAST((({a})*31 + ({b})*17 + j*7) % 64 + 1 AS INT)))) AS BIGINT)
      ELSE 0 END"""
    return f"""
    WITH refs AS (SELECT media_ref FROM ({refs_sql})),
    geo AS (
      SELECT media_ref, CAST({wexpr} AS BIGINT) * CAST({hexpr} AS BIGINT) AS total,
             {ink_px} AS ink, {g_ink} AS g, {bg} AS bg, {blend_runs} AS r,
             {wexpr} AS width, {hexpr} AS height
      FROM refs
    )
    SELECT media_ref, width, height,
           CAST((g * (ink - r) + 128 * 2 * r + bg * (total - ink - r))
                // total AS INT) AS mean_luma,
           CAST((CASE WHEN g < 128 THEN ink - r ELSE 0 END) * 1000 // total
                AS INT) AS ink_ratio_milli
    FROM geo
    """


def _duckdb_staircase_poly_sql(refs_sql: str, pred_fn, cell_drop: str) -> str:
    """Expected getPoly_core-style staircase polygons per media_ref of
    a staircase class: (media_ref, box_idx, pt_idx, x, y) integer
    pixels. ``cell_drop`` is the SQL drop of glyph cell g (g = f // 2)
    in base px. Point order: cell tops left-to-right (two points per
    glyph cell), then cell bottoms right-to-left — a closed 4L-point
    outline for an L-glyph word."""
    a = "TRY_CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "TRY_CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    v = _vocab_sql()
    return f"""
    WITH refs AS (
      SELECT media_ref, {a} AS a, {b} AS b FROM ({refs_sql})
      WHERE {pred_fn(a, b)}
    ),
    geo AS (
      SELECT media_ref, a, b, (2 + 2*((a + b) % 2)) AS s,
             ((a + 3*b) % 3 + 1) AS n_w
      FROM refs
    ),
    words AS (
      SELECT media_ref, s, CAST(j AS BIGINT) AS box_idx,
             length(list_extract({v},
                 CAST((a*31 + b*17 + j*7) % 64 + 1 AS INT))) AS len_j,
             CAST(list_sum(list_prepend(0::BIGINT,
               list_transform(range(0, CAST(j AS BIGINT)), k ->
                 6 * length(list_extract({v},
                   CAST((a*31 + b*17 + k*7) % 64 + 1 AS INT))) - 1 + 9)))
               AS BIGINT) AS x_off
      FROM geo, UNNEST(range(n_w)) AS t(j)
    ),
    pts AS (
      SELECT media_ref, s, box_idx, len_j, x_off, CAST(p AS BIGINT) AS p,
             CASE WHEN p < 2*len_j THEN p ELSE 4*len_j - 1 - p END AS f,
             CASE WHEN p < 2*len_j THEN 0 ELSE 1 END AS is_bot
      FROM words, UNNEST(range(4*len_j)) AS t(p)
    )
    SELECT media_ref, CAST(box_idx AS INT) AS box_idx, CAST(p AS INT) AS pt_idx,
           CAST((4 + x_off + (f // 2) * 6 + (f % 2) * 5) * s AS INT) AS x,
           CAST((4 + ({cell_drop})) * s + is_bot * 7 * s AS INT) AS y
    FROM pts
    """


def duckdb_poly_geometry_sql(refs_sql: str) -> str:
    return _duckdb_staircase_poly_sql(
        refs_sql, duckdb_slant_pred, f"(f // 2) * {SLANT_DY}"
    )


def duckdb_curved_poly_sql(refs_sql: str) -> str:
    """Curved-class polygons: cell g drops curve_off(g) = g+(g+1)//2."""
    return _duckdb_staircase_poly_sql(
        refs_sql, duckdb_curve_pred, "(f // 2) + ((f // 2) + 1) // 2"
    )


def duckdb_smooth_poly_sql(refs_sql: str) -> str:
    """Expected SUB-PIXEL polygon outlines per SMOOTH-class media_ref:
    (media_ref, box_idx, pt_idx, xq, yq) in QUARTER-pixels. Cell g of a
    word tops out at t0 + g*(2s + 1/2) (render.smooth_drop_quarters) —
    exact integers in quarter-px; cells span their 5s ink columns;
    point order = cell tops left-to-right, bottoms (top + 7s)
    right-to-left, matching detection.detect_smooth_polys."""
    a = "TRY_CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "TRY_CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    v = _vocab_sql()
    return f"""
    WITH refs AS (
      SELECT media_ref, {a} AS a, {b} AS b FROM ({refs_sql})
      WHERE {duckdb_smooth_pred(a, b)}
    ),
    geo AS (
      SELECT media_ref, a, b, (2 + 2*((a + b) % 2)) AS s,
             ((a + 3*b) % 3 + 1) AS n_w
      FROM refs
    ),
    words AS (
      SELECT media_ref, s, CAST(j AS BIGINT) AS box_idx,
             length(list_extract({v},
                 CAST((a*31 + b*17 + j*7) % 64 + 1 AS INT))) AS len_j,
             CAST(list_sum(list_prepend(0::BIGINT,
               list_transform(range(0, CAST(j AS BIGINT)), k ->
                 6 * length(list_extract({v},
                   CAST((a*31 + b*17 + k*7) % 64 + 1 AS INT))) - 1 + 9)))
               AS BIGINT) AS x_off
      FROM geo, UNNEST(range(n_w)) AS t(j)
    ),
    pts AS (
      SELECT media_ref, s, box_idx, len_j, x_off, CAST(p AS BIGINT) AS p,
             CASE WHEN p < 2*len_j THEN p ELSE 4*len_j - 1 - p END AS f,
             CASE WHEN p < 2*len_j THEN 0 ELSE 1 END AS is_bot
      FROM words, UNNEST(range(4*len_j)) AS t(p)
    )
    SELECT media_ref, CAST(box_idx AS INT) AS box_idx, CAST(p AS INT) AS pt_idx,
           CAST((4 + x_off + (f // 2) * 6 + (f % 2) * 5) * s * 4 AS BIGINT) AS xq,
           CAST(16 * s + (f // 2) * (8 * s + 2) + is_bot * 28 * s AS BIGINT) AS yq
    FROM pts
    """


def duckdb_box_geometry_sql(refs_sql: str) -> str:
    """Expected detection boxes per non-tiny media_ref, reading order:
    (media_ref, box_idx, x_min, x_max, y_min, y_max).

    Mirrors the full geometry chain: renderer layout (render.py) ->
    half-res score-map quantization (even-aligned, exact) ->
    group_text_box margin expansion with Python int() truncation
    (grouping.py _emit: int(x0 - 1.4) truncates toward zero, so the
    left/top margin is ceil(0.1*h) and the right/bottom margin is
    floor(0.1*h))."""
    a = "TRY_CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "TRY_CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    v = _vocab_sql()
    return f"""
    WITH refs AS (
      SELECT media_ref, {a} AS a, {b} AS b FROM ({refs_sql})
      WHERE (7*{a} + {b}) % 23 <> 0
        AND NOT {duckdb_slant_pred(a, b)}
        AND NOT {duckdb_curve_pred(a, b)}
        AND NOT {duckdb_smooth_pred(a, b)}
    ),
    geo AS (
      SELECT media_ref, a, b,
             (2 + 2*((a + b) % 2)) AS s,
             ((a + 2*b) % 2 + 1) AS n_lines
      FROM refs
    ),
    lines AS (
      SELECT media_ref, a, b, s, CAST(L AS BIGINT) AS L,
             ((a + 3*b + L) % 3 + 1) AS n_w,
             -- words on previous lines (reading-order box index base)
             CAST(list_sum(list_prepend(0::BIGINT,
               list_transform(range(0, CAST(L AS BIGINT)),
                 P -> (a + 3*b + P) % 3 + 1))) AS BIGINT) AS idx_base
      FROM geo, UNNEST(range(n_lines)) AS t(L)
    ),
    words AS (
      SELECT media_ref, s, L, idx_base + j AS box_idx,
             (6 * length(list_extract({v},
                 CAST((a*31 + b*17 + L*13 + j*7) % 64 + 1 AS INT))) - 1) AS w_ink,
             CAST(list_sum(list_prepend(0::BIGINT,
               list_transform(range(0, CAST(j AS BIGINT)), k ->
                 6 * length(list_extract({v},
                   CAST((a*31 + b*17 + L*13 + k*7) % 64 + 1 AS INT))) - 1 + 9)))
               AS BIGINT) AS x_off
      FROM lines, UNNEST(range(n_w)) AS t(j)
    )
    SELECT media_ref,
           CAST(box_idx AS INT) AS box_idx,
           CAST((4 + x_off) * s - ((7*s) // 10 + CASE WHEN (7*s) % 10 > 0
                 THEN 1 ELSE 0 END) AS INT) AS x_min,
           CAST((4 + x_off + w_ink) * s + (7*s) // 10 AS INT) AS x_max,
           CAST((4 + L*11) * s - ((7*s) // 10 + CASE WHEN (7*s) % 10 > 0
                 THEN 1 ELSE 0 END) AS INT) AS y_min,
           CAST((4 + L*11 + 7) * s + (7*s) // 10 AS INT) AS y_max
    FROM words
    """


def duckdb_dims_exprs(ref_col: str) -> tuple[str, str]:
    """(width_expr, height_expr) for a media_ref — mirrors the renderer
    geometry (render.py: MARGIN=4, CELL_W=6, GLYPH_H=7, WORD_GAP=8,
    LINE_GAP=4, tiny=16x14)."""
    a = f"TRY_CAST(split_part({ref_col}, '_', 2) AS BIGINT)"
    b = f"TRY_CAST(split_part({ref_col}, '_', 3) AS BIGINT)"
    scale = f"(2 + 2*(({a} + {b}) % 2))"
    n_lines = f"(({a} + 2*({b})) % 2 + 1)"
    line_w = (
        f"list_max(list_transform(range(0, {n_lines}), L -> "
        f"list_sum(list_transform(range(0, (({a}) + 3*({b}) + L) % 3 + 1), "
        f"j -> 6 * length(list_extract({_vocab_sql()}, "
        f"CAST((({a})*31 + ({b})*17 + L*13 + j*7) % 64 + 1 AS INT))) - 1)) "
        f"+ ((({a}) + 3*({b}) + L) % 3) * 9))"
    )
    width = (
        f"CASE WHEN (7*({a}) + ({b})) % 23 = 0 THEN 16 "
        f"ELSE CAST((8 + {line_w}) * {scale} AS INT) END"
    )
    # slanted refs (single-line) grow by the longest word's staircase
    max_len = (
        f"list_max(list_transform(range(0, (({a}) + 3*({b})) % 3 + 1), "
        f"j -> length(list_extract({_vocab_sql()}, "
        f"CAST((({a})*31 + ({b})*17 + j*7) % 64 + 1 AS INT)))))"
    )
    height = (
        f"CASE WHEN (7*({a}) + ({b})) % 23 = 0 THEN 14 "
        f"WHEN {duckdb_slant_pred(a, b)} "
        f"THEN CAST((8 + 7 + ({max_len} - 1) * {SLANT_DY}) * {scale} AS INT) "
        f"WHEN {duckdb_curve_pred(a, b)} "
        f"THEN CAST((8 + 7 + ({max_len} - 1) + {max_len} // 2) * {scale} AS INT) "
        # smooth: 15s upright + ceil of the longest word's smooth drop,
        # ceil(D(lmax-1)) = 2s*(lmax-1) + lmax//2 scaled px
        f"WHEN {duckdb_smooth_pred(a, b)} "
        f"THEN CAST(15 * {scale} + 2 * {scale} * ({max_len} - 1) "
        f"+ {max_len} // 2 AS INT) "
        f"ELSE CAST((8 + {n_lines} * 7 + ({n_lines} - 1) * 4) * {scale} AS INT) END"
    )
    return width, height
