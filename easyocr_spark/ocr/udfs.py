"""Arrow-batched image UDFs — the JVM <-> Python boundary.

Design contract from BASELINE.json input_hint: vectorized pandas/Arrow
UDFs ONLY, zero per-row Python at the Spark boundary. One Arrow batch of
(media_ref, content[, lang]) rows crosses into the Python worker; the
decode -> detect -> group -> crop -> recognize -> order -> concat
pipeline runs a batch at a time (the reference's readtext_batched unit
of work, easyocr/easyocr.py:538-579): the batch's new images of one
lang go through one detector canvas pass and one recognizer pass
(``StandInReader.readtext_batched``); one Arrow batch of typed rows
comes back.

Every kernel here is built by ``batch_kernel``, the one harness that
owns the batch loop, the bytes -> image decode, the optional lang
column, the per-partition result cache keyed by image content and the
output frame. A kernel only supplies a per-batch function — images of
one lang in, one list of row tuples (media_ref excluded) per image out
— and the schema string naming the columns; ``image_kernel`` adapts a
per-image function to it.

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

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterable, Iterator
from functools import partial

import numpy as np
import pandas as pd

from ..fixtures.png import decode_gray, decode_image
from .detection import detect_polys, detect_smooth_polys
from .reader import StandInReader, text_projection

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


def batch_kernel(
    schema: str,
    per_batch: Callable[[list, str], list[list[tuple]]],
    decode: Callable[[bytes], object] = decode_gray,
) -> Kernel:
    """mapInPandas harness: (media_ref, content[, lang]) -> ``schema``.

    Per Arrow batch, each image not seen before in the partition is
    decoded once with ``decode``; the new images are grouped by lang
    (default "") and each group goes to one ``per_batch(images, lang)``
    call, which returns one list of row tuples per image. The harness
    prepends media_ref and takes the column names from ``schema``. A
    decode failure fails the job with the offending media_ref in the
    message.

    A kernel's rows are a pure function of (bytes, lang, kernel
    config), so the harness computes them once per distinct
    ``(sha256(bytes), lang)`` and emits the cached rows under every
    ref carrying that key. lang is part of the key because the same
    bytes under another lang route to another recognition model. The
    cache lives as long as the partition's iterator, so it spans Arrow
    batches; ``pipeline.media_images`` hash-partitions on (content,
    lang) so every copy of an image lands in one partition. Memory is
    a 32-byte digest plus the result rows per distinct image."""
    columns = [field.split()[0] for field in schema.split(",")]

    def kernel(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[tuple[bytes, str], list[tuple]] = {}
        for pdf in it:
            langs = pdf["lang"] if "lang" in pdf.columns else [""] * len(pdf)
            keys: list[tuple[bytes, str]] = []
            new: dict[str, dict[tuple[bytes, str], object]] = {}
            for ref, data, lang in zip(pdf["media_ref"], pdf["content"], langs):
                data, lang = bytes(data), str(lang)
                key = (hashlib.sha256(data).digest(), lang)
                keys.append(key)
                if key in cache or key in new.get(lang, ()):
                    continue
                try:
                    new.setdefault(lang, {})[key] = decode(data)
                except (ValueError, struct.error, zlib.error) as e:
                    raise ValueError(f"media_ref {ref!r}: {e}") from e
            for lang, group in new.items():
                cache.update(zip(group, per_batch(list(group.values()), lang)))
            rows = [(ref, *row) for ref, key in zip(pdf["media_ref"], keys) for row in cache[key]]
            yield pd.DataFrame(rows, columns=columns)

    return kernel


def image_kernel(
    schema: str,
    per_image: Callable[[object, str], Iterable[tuple]],
    decode: Callable[[bytes], object] = decode_gray,
) -> Kernel:
    """``batch_kernel`` for a per-image function: ``per_image(image,
    lang)`` yields the image's zero or more row tuples."""
    return batch_kernel(
        schema, lambda images, lang: [list(per_image(im, lang)) for im in images], decode
    )


def make_ocr_batches(decoder: str, allowlist: str | None = None) -> Kernel:
    """OCR kernel -> OCR_RESULT_SCHEMA for any decoder (greedy /
    beamsearch / wordbeamsearch, reference easyocr/utils.py:181-384)
    and optional allowlist-masked recognition (reference
    easyocr/easyocr.py:363-368: allowlist -> ignore set pushed into the
    softmax columns). The lang column routes the recognition model and
    RTL post-processing (Arabic word order within lines — the
    reference's bidi reordering, easyocr/easyocr.py:414-418). Text and
    conf are ``reader.text_projection`` of the free-merged results, the
    projection ``readtext_text`` returns; each lang's new images of a
    batch go through one ``readtext_batched`` call."""

    def ocr(images: list[np.ndarray], lang: str) -> list[list[tuple]]:
        reader = get_reader(decoder, allowlist, lang)
        return [
            [(*text_projection(results, rtl=lang == "arabic"), len(results))]
            for results in reader.readtext_batched(images, free_merge=True)
        ]

    return batch_kernel(OCR_RESULT_SCHEMA, ocr)


ocr_batches = make_ocr_batches("greedy")


def _detect(images: list[np.ndarray], lang: str) -> list[list[tuple]]:
    """Detect-only stage (the reference's two-phase detect()/recognize()
    split, easyocr/easyocr.py:311-351): box count + horizontal boxes as
    flat ints [x0,x1,y0,y1,...]."""
    return [
        [(len(horizontal) + len(free), [int(v) for b in horizontal for v in b])]
        for horizontal, free in get_reader().detect_batched(images)
    ]


def _free_quads(images: list[np.ndarray], lang: str, scale: int) -> list[list[tuple]]:
    """Free-list (rotated quad) detection: one row per free quad, its 4
    corners times ``scale`` rounded to int, in reading order (component
    raster order). The grouping margin arithmetic is float; scaled ints
    make the oracle comparison integer-exact. Deci-pixels (x10) for the
    staircase classes; quarter-pixels (x4) for the SMOOTH class, whose
    drop lives on a half-pixel grid where deci-px would land on .5
    rounding ties."""
    return [
        [(i, *(int(round(c * scale)) for p in quad for c in p)) for i, quad in enumerate(free)]
        for _, free in get_reader().detect_batched(images)
    ]


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


def _paragraph(images: list[np.ndarray], lang: str) -> list[list[tuple]]:
    """Paragraph-mode OCR (reference paragraph=True path,
    easyocr/easyocr.py:422-423 + utils.py:643-709): grouped paragraphs
    of the free-merged results (free quads in reading position first,
    as the OCR kernel reads them), concatenated in reading order; RTL
    mode for arabic-routed media."""
    batch = get_reader(lang=lang).readtext_batched(images, paragraph=True, free_merge=True)
    return [[(len(paras), " ".join(t for _, t in paras))] for paras in batch]


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


detect_batches = batch_kernel(DETECT_RESULT_SCHEMA, _detect)
detect_free_batches = batch_kernel(DETECT_FREE_SCHEMA, partial(_free_quads, scale=10))
detect_smooth_batches = batch_kernel(DETECT_SMOOTH_SCHEMA, partial(_free_quads, scale=4))
detect_poly_batches = image_kernel(DETECT_POLY_SCHEMA, _poly)
detect_smooth_poly_batches = image_kernel(DETECT_SMOOTH_POLY_SCHEMA, _smooth_poly)
paragraph_batches = batch_kernel(PARAGRAPH_RESULT_SCHEMA, _paragraph)
dims_batches = image_kernel(DIMS_RESULT_SCHEMA, _dims)
channels_batches = image_kernel(CHANNELS_RESULT_SCHEMA, _channels, decode=decode_image)
image_features = image_kernel(IMAGE_META_SCHEMA, _features)
