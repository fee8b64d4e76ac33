"""Arrow-batched image UDFs — the JVM <-> Python boundary.

Design contract from BASELINE.json input_hint: vectorized pandas/Arrow
UDFs ONLY, zero per-row Python at the Spark boundary. One Arrow batch of
(media_ref, content[, lang]) rows crosses into the Python worker; the
whole decode -> detect -> group -> crop -> recognize -> order -> concat
pipeline runs per image inside the batch (the reference's
readtext_batched unit of work, easyocr/easyocr.py:538-579); one Arrow
batch of typed rows comes back.

Every kernel here is built by ``image_kernel``, the one harness that
owns the batch loop, the bytes -> image decode, the optional lang
column and the output frame. A kernel only supplies a per-image
function yielding its row tuples (media_ref excluded) and the schema
string naming them.

Executor-resident model state: this module, with numpy, pandas,
pyarrow and pyspark, is imported once per executor by the Python
daemon (``easyocr_spark.worker_daemon``) and shared with every worker
it forks. The reader singleton (glyph atlas = stand-in weights) is a
module-level lazy global (``_READERS``, filled by ``get_reader``) in
each reused worker process, kept across batches and tasks — the
load-once-per-Reader pattern of the reference
(easyocr/easyocr.py:214-233) mapped onto Spark's process model. For
real torch weights this is where `--files`-shipped .pth archives would
be deserialized (SURVEY.md §4.2).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterable, Iterator
from functools import partial
from itertools import groupby

import numpy as np
import pandas as pd

from ..fixtures.png import decode_gray, decode_image, encode_gray
from .detection import detect_polys, detect_smooth_polys
from .paragraph import get_paragraph
from .reader import StandInReader

Kernel = Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]

OCR_RESULT_SCHEMA = "media_ref string, text string, conf double, n_boxes int"
DETECT_RESULT_SCHEMA = "media_ref string, n_boxes int, boxes array<int>"
DETECT_FREE_SCHEMA = (
    "media_ref string, box_idx int, x0d long, y0d long, x1d long, y1d long, "
    "x2d long, y2d long, x3d long, y3d long"
)
DETECT_SMOOTH_SCHEMA = (
    "media_ref string, box_idx int, x0q long, y0q long, x1q long, y1q long, "
    "x2q long, y2q long, x3q long, y3q long"
)
DETECT_POLY_SCHEMA = "media_ref string, box_idx int, pt_idx int, x int, y int"
DETECT_SMOOTH_POLY_SCHEMA = (
    "media_ref string, box_idx int, pt_idx int, xq long, yq long"
)
PARAGRAPH_RESULT_SCHEMA = "media_ref string, n_paragraphs int, text string"
DIMS_RESULT_SCHEMA = "media_ref string, width int, height int"
CHANNELS_RESULT_SCHEMA = "media_ref string, channels int, width int, height int"
IMAGE_META_SCHEMA = (
    "media_ref string, width int, height int, mean_luma int, ink_ratio_milli int"
)
RESIZE_SCHEMA = "media_ref string, content binary, width int, height int"

_READERS: dict[tuple, object] = {}


def get_reader(
    decoder: str = "greedy", allowlist: str | None = None, lang: str = ""
) -> object:
    """Executor-resident singleton per (decoder, allowlist, lang)
    config (the reference's one-Reader-per-config pattern,
    easyocr/easyocr.py:214-233). ``lang`` routes the recognition model:
    chinese-tagged media must be decoded with the cjk glyph atlas (the
    reference's language decision tree picks the model file the same
    way, easyocr/easyocr.py:106-167).

    Backend selection (EASYOCR_SPARK_BACKEND=torch) happens here, once
    per worker process: the torch path loads the real CRAFT/CRNN
    weights (ocr/backends/) when torch + .pth files are present, and
    falls back to the deterministic stand-in loudly otherwise — the
    sandbox default and the path the oracles verify."""
    key = (decoder, allowlist, lang)
    if key not in _READERS:
        from .backends import make_torch_reader, resolve_backend

        lang_list = [lang] if lang else None
        if resolve_backend() == "torch":
            _READERS[key] = make_torch_reader(
                decoder=decoder, allowlist=allowlist, lang_list=lang_list
            )
        else:
            _READERS[key] = StandInReader(
                decoder=decoder, allowlist=allowlist, lang_list=lang_list
            )
    return _READERS[key]


def image_kernel(
    schema: str,
    per_image: Callable[[object, str], Iterable[tuple]],
    decode: Callable[[bytes], object] = decode_gray,
) -> Kernel:
    """mapInPandas harness: (media_ref, content[, lang]) -> ``schema``.

    Each image is decoded once with ``decode`` and handed to
    ``per_image(image, lang)`` (lang defaults to ""), which yields zero
    or more row tuples; the harness prepends media_ref and takes the
    column names from ``schema``. A decode failure fails the job with
    the offending media_ref in the message."""
    columns = [field.split()[0] for field in schema.split(",")]

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            langs = pdf["lang"] if "lang" in pdf.columns else [""] * len(pdf)
            rows: list[tuple] = []
            for ref, data, lang in zip(pdf["media_ref"], pdf["content"], langs):
                try:
                    image = decode(bytes(data))
                except (ValueError, struct.error, zlib.error) as e:
                    raise ValueError(f"media_ref {ref!r}: {e}") from e
                rows.extend((ref, *row) for row in per_image(image, str(lang)))
            yield pd.DataFrame(rows, columns=columns)

    return kernel


def make_ocr_batches(decoder: str, allowlist: str | None = None) -> Kernel:
    """OCR kernel -> OCR_RESULT_SCHEMA for any decoder (greedy /
    beamsearch / wordbeamsearch, reference easyocr/utils.py:181-384)
    and optional allowlist-masked recognition (reference
    easyocr/easyocr.py:363-368: allowlist -> ignore set pushed into the
    softmax columns). The lang column routes the recognition model and
    RTL post-processing (Arabic word order within lines — the
    reference's bidi reordering, easyocr/easyocr.py:414-418)."""

    def ocr(img: np.ndarray, lang: str) -> Iterator[tuple]:
        results = get_reader(decoder, allowlist, lang).readtext(img)
        kept = [(b, t, c) for b, t, c in results if t]
        if lang == "arabic":
            # a new line starts where the box top changes
            lines = groupby(kept, key=lambda k: k[0][0][1])
            words = [t for _, line in lines for _, t, _ in reversed(list(line))]
        else:
            words = [t for _, t, _ in kept]
        yield " ".join(words), min((c for _, _, c in kept), default=0.0), len(results)

    return image_kernel(OCR_RESULT_SCHEMA, ocr)


ocr_batches = make_ocr_batches("greedy")


def _detect(img: np.ndarray, lang: str) -> Iterator[tuple]:
    """Detect-only stage (the reference's two-phase detect()/recognize()
    split, easyocr/easyocr.py:311-351): box count + horizontal boxes as
    flat ints [x0,x1,y0,y1,...]."""
    horizontal, free = get_reader().detect(img)
    yield len(horizontal) + len(free), [int(v) for b in horizontal for v in b]


def _free_quads(img: np.ndarray, lang: str, scale: int) -> Iterator[tuple]:
    """Free-list (rotated quad) detection: one row per free quad, its 4
    corners times ``scale`` rounded to int, in reading order (component
    raster order). The grouping margin arithmetic is float; scaled ints
    make the oracle comparison integer-exact. Deci-pixels (x10) for the
    staircase classes; quarter-pixels (x4) for the SMOOTH class, whose
    drop lives on a half-pixel grid where deci-px would land on .5
    rounding ties."""
    _, free = get_reader().detect(img)
    for i, quad in enumerate(free):
        yield (i, *(int(round(c * scale)) for p in quad for c in p))


def _poly(img: np.ndarray, lang: str) -> Iterator[tuple]:
    """poly=True detection (the getPoly_core analogue): one row per
    polygon POINT in integer pixels (the polygon comes straight from the
    detector, before any grouping margin, so coordinates are exact
    ints). Upright components have no polygon and take no box_idx."""
    polys = (p for p in detect_polys(img) if p is not None)
    for box_idx, poly in enumerate(polys):
        for pt_idx, (x, y) in enumerate(poly):
            yield box_idx, pt_idx, int(round(x)), int(round(y))


def _smooth_poly(img: np.ndarray, lang: str) -> Iterator[tuple]:
    """poly=True for the smooth class: one row per SUB-PIXEL polygon
    point in quarter-pixels."""
    for box_idx, poly in enumerate(detect_smooth_polys(img)):
        for pt_idx, (x, y) in enumerate(poly):
            yield box_idx, pt_idx, int(round(x * 4)), int(round(y * 4))


def _paragraph(img: np.ndarray, lang: str) -> Iterator[tuple]:
    """Paragraph-mode OCR (reference paragraph=True path,
    easyocr/easyocr.py:422-423 + utils.py:643-709): grouped paragraphs
    with reading-order concat; RTL mode for arabic-routed media."""
    reader = get_reader(lang=lang)
    horizontal, free = reader.detect(img)
    paras = get_paragraph(
        reader.recognize(img, horizontal, free),
        mode="rtl" if lang == "arabic" else "ltr",
    )
    yield len(paras), " ".join(t for _, t in paras)


def _dims(img: np.ndarray, lang: str) -> Iterator[tuple]:
    """Decode-only stage: opaque bytes in, typed metadata out."""
    yield img.shape[1], img.shape[0]


def _channels(decoded: tuple[np.ndarray, int], lang: str) -> Iterator[tuple]:
    """Source channel count + dims: verifies the color (truecolor PNG ->
    BT.601 gray) ingest branch against the formula oracle — the
    reformat_input normalization matrix (reference
    easyocr/utils.py:732-769)."""
    img, ch = decoded
    yield ch, img.shape[1], img.shape[0]


def _features(img: np.ndarray, lang: str) -> Iterator[tuple]:
    """Image features: dims, mean luminance, ink ratio (per mille)."""
    yield (
        img.shape[1], img.shape[0], int(img.mean()), int((img < 128).mean() * 1000)
    )


detect_batches = image_kernel(DETECT_RESULT_SCHEMA, _detect)
detect_free_batches = image_kernel(DETECT_FREE_SCHEMA, partial(_free_quads, scale=10))
detect_smooth_batches = image_kernel(
    DETECT_SMOOTH_SCHEMA, partial(_free_quads, scale=4)
)
detect_poly_batches = image_kernel(DETECT_POLY_SCHEMA, _poly)
detect_smooth_poly_batches = image_kernel(DETECT_SMOOTH_POLY_SCHEMA, _smooth_poly)
paragraph_batches = image_kernel(PARAGRAPH_RESULT_SCHEMA, _paragraph)
dims_batches = image_kernel(DIMS_RESULT_SCHEMA, _dims)
channels_batches = image_kernel(CHANNELS_RESULT_SCHEMA, _channels, decode=decode_image)
image_features = image_kernel(IMAGE_META_SCHEMA, _features)


def make_image_resizer(max_side: int) -> Kernel:
    """Nearest-neighbor resize kernel capped at max_side (the
    resize_aspect_ratio analogue as a standalone op), re-encoded as a
    gray PNG."""

    def resize(img: np.ndarray, lang: str) -> Iterator[tuple]:
        h, w = img.shape
        if max(h, w) > max_side:
            r = max_side / max(h, w)
            ys = (np.arange(int(h * r)) / r).astype(np.int64).clip(0, h - 1)
            xs = (np.arange(int(w * r)) / r).astype(np.int64).clip(0, w - 1)
            img = img[ys][:, xs]
        yield encode_gray(img), img.shape[1], img.shape[0]

    return image_kernel(RESIZE_SCHEMA, resize)
