"""Torch-backed Reader: the real CRAFT detector and CRNN recognizers
behind ocr/reader.py's shared ``Reader`` facade.

``TorchReader`` supplies only what differs from the stand-in: the
model routing (lang codes -> gen1 or gen2 recognizer, reference
easyocr/easyocr.py:106-168), the detector's boxes for a batch of grays,
and one recognition call over a list of crops (one net forward per
crop). It keeps the facade's default free-quad crop, the reference's
``four_point_transform``.
Grouping, min-size filtering, crops, the contrast retry, rotation,
free-merge, paragraphs and the RTL rule are the facade's.

Without torch, tests/test_torch_backend.py runs it under the numpy
shim (``np_torch.installed()``) on synthetic checkpoints; real-weight
numerics need torch and the released .pth files.
"""

from __future__ import annotations

import os

import numpy as np

from ..reader import Reader, lang_codes
from ..recognition import build_ignore_mask
from . import load_weights, torch_crnn, torch_resnet, weights_dir
from .torch_craft import TorchCraftDetector

# (lang codes, gen1 model key) in the reference auto-router's EXACT
# priority order (easyocr/easyocr.py:111-168 elif chain: th ... ta,
# bengali, arabic, devanagari, cyrillic) — codes from reference
# easyocr/config.py:34-40 script lists; keys into
# torch_resnet.GEN1_MODELS. The chain order is load-bearing for mixed
# lang_lists: ['bn','ar'] must pick bengali (not arabic) and
# ['ta','hi'] must pick tamil (not devanagari), matching upstream.
GEN1_LANG_ROUTES = (
    (("th",), "thai"),
    (("ta",), "tamil"),
    (("bn", "as", "mni"), "bengali"),
    (("ar", "fa", "ug", "ur"), "arabic"),
    (
        ("hi", "mr", "ne", "bh", "mai", "ang", "bho", "mah", "sck", "new",
         "gom", "sa", "bgc"),
        "devanagari",
    ),
)

# cyrillic comes LAST in the reference chain and routes to the GEN2
# 'cyrillic_g2' model (easyocr/easyocr.py:160-164) — the gen1
# 'cyrillic_g1' exists in the reference config but is never
# auto-selected, so this router mirrors upstream and sends cyrillic to
# the gen2 VGG with the cyrillic_g2 charset (torch_crnn.GEN2_MODELS).
CYRILLIC_LANGS = (
    "ru", "rs_cyrillic", "be", "bg", "uk", "mn", "abq", "ady", "kbd",
    "ava", "dar", "inh", "che", "lbe", "lez", "tab", "tjk",
)


class TorchReader(Reader):
    """lang_list holds reference lang codes or media-table tags
    (``reader.LANG_CODES`` maps the tags). This tree has no torch CJK
    model or charset, so ``chinese`` reads with english gen2."""

    def __init__(
        self,
        lang_list: list[str] | None = None,
        decoder: str = "greedy",
        allowlist: str | None = None,
        blocklist: str | None = None,
        craft_weights: str | None = None,
        crnn_weights: str | None = None,
        quantize: bool = False,
    ):
        # quantize mirrors the reference's CPU default-on dynamic int8
        # (easyocr/detection.py:74-83, recognition.py:168-179) — OFF by
        # default here because it shifts numerics; see
        # backends.maybe_quantize for the parity-pinning note
        super().__init__(lang_list or ["en"])
        self.decoder = decoder
        self.detector = TorchCraftDetector(craft_weights, quantize=quantize)
        # per-script model routing, mirroring the reference's
        # gen2-vs-gen1 choice (easyocr/easyocr.py:111-168) and its
        # script lang-code lists (easyocr/config.py:34-40): thai/tamil/
        # bengali/arabic/devanagari route to the gen1 ResNet family (in
        # the reference elif-chain order), cyrillic to the gen2 VGG
        # with the cyrillic_g2 charset, everything else to english/latin
        # gen2
        codes = lang_codes(self.lang_list)
        gen1_lang = next(
            (lang for langs, lang in GEN1_LANG_ROUTES if any(c in codes for c in langs)),
            None,
        )
        if gen1_lang is not None:
            family, (filename, charset) = torch_resnet, torch_resnet.GEN1_MODELS[gen1_lang]
        else:
            gen2 = "cyrillic" if any(c in codes for c in CYRILLIC_LANGS) else "english"
            family, (filename, charset) = torch_crnn, torch_crnn.GEN2_MODELS[gen2]
        path = crnn_weights or os.path.join(weights_dir(), filename)
        net = load_weights(family.build_model(len(charset) + 1), path, family.remap_key, quantize)
        self.recognizer = torch_crnn.TorchRecognizer(net, charset)
        # allow/blocklist -> ignore mask over the model charset
        self.ignore = build_ignore_mask(allowlist, blocklist, charset)

    def boxes(self, grays: list[np.ndarray], optimal_num_chars: int | None) -> list:
        if optimal_num_chars is not None:
            raise ValueError("the torch detector has no optimal_num_chars")
        return [self.detector.detect(gray) for gray in grays]

    def recognize_pass(self, crops: list[np.ndarray]) -> list[tuple[str, float]]:
        return self.recognizer.recognize(crops, self.decoder, self.ignore)
