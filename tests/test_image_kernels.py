"""The image-kernel harness in ocr/udfs.py, driven without Spark: every
kernel's output frame matches its schema string, a kernel runs once per
distinct (bytes, lang) in a partition, and a decode failure names the
media_ref that caused it."""

import numpy as np
import pandas as pd
import pytest

from easyocr_spark.fixtures import corpus, render
from easyocr_spark.fixtures.png import decode_gray, encode_gray
from easyocr_spark.ocr import udfs
from easyocr_spark.ocr.reader import StandInReader

# one plain latin, one slanted latin and one arabic (RTL) image
REFS = ["m_3_0", "m_0_3", "m_2_0"]

KERNELS = {
    "ocr": (udfs.ocr_batches, udfs.OCR_RESULT_SCHEMA),
    "ocr_beamsearch": (udfs.make_ocr_batches("beamsearch"), udfs.OCR_RESULT_SCHEMA),
    "detect": (udfs.detect_batches, udfs.DETECT_RESULT_SCHEMA),
    "detect_free": (udfs.detect_free_batches, udfs.DETECT_FREE_SCHEMA),
    "detect_smooth": (udfs.detect_smooth_batches, udfs.DETECT_SMOOTH_SCHEMA),
    "detect_poly": (udfs.detect_poly_batches, udfs.DETECT_POLY_SCHEMA),
    "detect_smooth_poly": (
        udfs.detect_smooth_poly_batches, udfs.DETECT_SMOOTH_POLY_SCHEMA
    ),
    "paragraph": (udfs.paragraph_batches, udfs.PARAGRAPH_RESULT_SCHEMA),
    "dims": (udfs.dims_batches, udfs.DIMS_RESULT_SCHEMA),
    "channels": (udfs.channels_batches, udfs.CHANNELS_RESULT_SCHEMA),
    "image_features": (udfs.image_features, udfs.IMAGE_META_SCHEMA),
    "resize": (udfs.make_image_resizer(64), udfs.RESIZE_SCHEMA),
}


def _batch(refs: list[str]) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "media_ref": refs,
            "content": [corpus.render_media(r) for r in refs],
            "lang": [corpus.media_spec(r)["lang"] for r in refs],
        }
    )


def test_cases_cover_image_classes_and_schemas():
    specs = [corpus.media_spec(r) for r in REFS]
    assert [s["slant_dy"] > 0 for s in specs] == [False, True, False]
    assert [s["lang"] for s in specs] == ["latin", "latin", "arabic"]
    schemas = {v for k, v in vars(udfs).items() if k.endswith("_SCHEMA")}
    assert schemas == {schema for _, schema in KERNELS.values()}


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_kernel_output_matches_schema(name):
    kernel, schema = KERNELS[name]
    fields = [f.split()[0] for f in schema.split(",")]
    out = pd.concat(list(kernel(iter([_batch(REFS)]))))
    assert list(out.columns) == fields
    assert set(out["media_ref"]) <= set(REFS)
    empty = list(kernel(iter([_batch([])])))
    assert len(empty) == 1 and empty[0].empty
    assert list(empty[0].columns) == fields


def test_decode_failure_names_its_media_ref():
    good = corpus.render_media("m_3_0")
    batch = pd.DataFrame(
        {
            "media_ref": ["m_3_0", "m_empty", "m_truncated"],
            "content": [good, b"", good[: len(good) // 2]],
        }
    )
    with pytest.raises(ValueError, match="media_ref 'm_empty'"):
        list(udfs.dims_batches(iter([batch])))
    with pytest.raises(ValueError, match="media_ref 'm_truncated'"):
        list(udfs.dims_batches(iter([batch.drop(index=1)])))


def test_harness_runs_each_distinct_image_once():
    """One image under three refs, spread over two Arrow batches of one
    partition, is decoded and run once; every ref gets identical rows
    under its own media_ref. The same bytes under another lang run
    again."""
    calls = []

    def features(img, lang):
        calls.append(lang)
        return udfs._features(img, lang)

    kernel = udfs.image_kernel(udfs.IMAGE_META_SCHEMA, features)
    png = corpus.render_media("m_3_0")
    first = pd.DataFrame(
        {"media_ref": ["a", "b"], "content": [png, png], "lang": ["latin"] * 2}
    )
    second = pd.DataFrame(
        {"media_ref": ["c", "d"], "content": [png, png], "lang": ["latin", "arabic"]}
    )
    out = pd.concat(list(kernel(iter([first, second]))))
    assert calls == ["latin", "arabic"]
    assert out["media_ref"].tolist() == ["a", "b", "c", "d"]
    rows = out.drop(columns="media_ref").values.tolist()
    assert rows[0] == rows[1] == rows[2] == rows[3]

    corrupt = pd.DataFrame({"media_ref": ["x", "y"], "content": [png[:40]] * 2})
    with pytest.raises(ValueError, match="media_ref 'x'"):
        list(kernel(iter([corrupt])))


def _mixed_line() -> pd.DataFrame:
    """One image whose line holds a slanted word, then an upright one."""
    up = render.render_text([["SPARK"]], scale=2)
    sl = render.render_text([["QUERY"]], scale=2, slant_dy=2)
    h = max(up.shape[0], sl.shape[0])
    canvas = np.full((h, up.shape[1] + sl.shape[1] + 20), 255, dtype=np.uint8)
    canvas[: sl.shape[0], : sl.shape[1]] = sl
    canvas[: up.shape[0], sl.shape[1] + 20 :] = up
    return pd.DataFrame(
        {"media_ref": ["mixed"], "content": [encode_gray(canvas)], "lang": ["latin"]}
    )


def test_ocr_kernel_text_is_the_readtext_text_projection():
    """The OCR kernel's text is the reader's span-text projection: on a
    line holding a slanted word then an upright one, both read the
    words in page order (free quads merged into reading position)."""
    batch = _mixed_line()
    canvas = decode_gray(batch["content"][0])
    out = pd.concat(list(udfs.ocr_batches(iter([batch]))))
    reader = StandInReader()
    assert reader.readtext_text(canvas) == "QUERY SPARK"
    assert out["text"].tolist() == ["QUERY SPARK"]
    results = reader.readtext(canvas)
    assert len(results) == 2
    assert out[["conf", "n_boxes"]].values.tolist() == [[min(c for _, _, c in results), 2]]


def test_paragraph_kernel_reads_in_page_order():
    """The paragraph kernel groups the free-merged results: the slanted
    word left of the upright one comes first, as in the OCR kernel."""
    out = pd.concat(list(udfs.paragraph_batches(iter([_mixed_line()]))))
    assert out["text"].tolist() == ["QUERY SPARK"]
    reader = StandInReader()
    canvas = decode_gray(_mixed_line()["content"][0])
    paras = reader.readtext(canvas, paragraph=True, free_merge=True)
    assert out["n_paragraphs"].tolist() == [len(paras)]
