"""Real gen2 CRNN recognizer (torch backend).

Implements the generation-2 recognition graph the released
``english_g2.pth`` weights expect (reference easyocr/config.py:145-160
pins file + md5; architecture reference easyocr/model/vgg_model.py:4-35
and model/modules.py:81-130): a 7-conv VGG-style feature extractor with
asymmetric pooling (height collapses 64 -> 1, width becomes the CTC
time axis), adaptive-avg-pool squeeze, two stacked bidirectional LSTMs
(hidden 256), and a linear CTC head. Keys are translated from the
checkpoint's names by remap_key — independent module code, not a
mirror.

The forward's output feeds the engine's EXISTING numpy CTC stack
(ocr/ctc.py greedy/beam/wordbeam + custom_mean confidence), so decoder
behavior, allow/blocklist masking, and the two-pass contrast retry in
ocr/recognition.py are shared between backends — only the [T, C]
probability producer differs.

UNTESTED IN THIS SANDBOX: torch is absent here; tests importorskip.
"""

from __future__ import annotations

import os

import numpy as np

# english_g2 network params (reference easyocr/config.py:145-160)
INPUT_CHANNEL = 1
OUTPUT_CHANNEL = 256
HIDDEN_SIZE = 256
IMG_H = 64  # gen2 models use 64px-high inputs (reference imgH)
# charset: reference easyocr/config.py:151 'english_g2'.characters —
# 96 chars INCLUDING the euro sign after the space (so the CTC head is
# 97 classes and load_state_dict(strict=True) matches the released
# checkpoint exactly); index 0 is the CTC blank per CTCLabelConverter
EN_G2_CHARSET = (
    "0123456789!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ €"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)

# charset: reference easyocr/config.py 'cyrillic_g2'.characters (207
# chars; the model the reference auto-router actually selects for
# cyrillic languages — NOT the gen1 'cyrillic_g1', which exists in the
# reference config but is never auto-chosen). Plain literals are safe
# here (no combining marks, unlike the gen1 arabic charset); the exact
# sequence is byte-matched to the reference config by
# test_gen2_charsets_bytematch_reference_config.
CYRILLIC_G2_CHARSET = (
    "0123456789!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~ €₽"
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
    "АБВГДЕЁЖЗИЙ"
    "КЛМНОПРСТУФ"
    "ХЦЧШЩЪЫЬЭЮЯ"
    "абвгдеёжзий"
    "клмнопрстуф"
    "хцчшщъыьэюя"
    "ЂђЃѓЄєІіЇїЈ"
    "јЉљЊњЋћЌќЎў"
    "ЏџҐґҒғҚқҮүҲ"
    "ҳҶҷӀӏӢӣӨөӮӯ"
)

# gen2 model registry: model key -> (weights filename, charset) —
# reference config.py 'english_g2' / 'cyrillic_g2'. The VGG+BiLSTM+CTC
# graph is SHARED; only the CTC head width (len(charset)+1) differs.
GEN2_MODELS = {
    "english": ("english_g2.pth", EN_G2_CHARSET),
    "cyrillic": ("cyrillic_g2.pth", CYRILLIC_G2_CHARSET),
}


def build_model(num_class: int = len(EN_G2_CHARSET) + 1):
    import torch.nn as nn

    c = [OUTPUT_CHANNEL // 8, OUTPUT_CHANNEL // 4, OUTPUT_CHANNEL // 2, OUTPUT_CHANNEL]

    class BiLSTM(nn.Module):
        def __init__(self, n_in: int, n_hidden: int, n_out: int):
            super().__init__()
            self.rnn = nn.LSTM(n_in, n_hidden, bidirectional=True, batch_first=True)
            self.proj = nn.Linear(n_hidden * 2, n_out)

        def forward(self, x):
            y, _ = self.rnn(x)
            return self.proj(y)

    class CrnnNet(nn.Module):
        def __init__(self):
            super().__init__()
            self.features = nn.Sequential(
                nn.Conv2d(INPUT_CHANNEL, c[0], 3, 1, 1), nn.ReLU(True),
                nn.MaxPool2d(2, 2),
                nn.Conv2d(c[0], c[1], 3, 1, 1), nn.ReLU(True),
                nn.MaxPool2d(2, 2),
                nn.Conv2d(c[1], c[2], 3, 1, 1), nn.ReLU(True),
                nn.Conv2d(c[2], c[2], 3, 1, 1), nn.ReLU(True),
                nn.MaxPool2d((2, 1), (2, 1)),
                nn.Conv2d(c[2], c[3], 3, 1, 1, bias=False),
                nn.BatchNorm2d(c[3]), nn.ReLU(True),
                nn.Conv2d(c[3], c[3], 3, 1, 1, bias=False),
                nn.BatchNorm2d(c[3]), nn.ReLU(True),
                nn.MaxPool2d((2, 1), (2, 1)),
                nn.Conv2d(c[3], c[3], 2, 1, 0), nn.ReLU(True),
            )
            self.pool = nn.AdaptiveAvgPool2d((None, 1))
            self.seq = nn.Sequential(
                BiLSTM(OUTPUT_CHANNEL, HIDDEN_SIZE, HIDDEN_SIZE),
                BiLSTM(HIDDEN_SIZE, HIDDEN_SIZE, HIDDEN_SIZE),
            )
            self.head = nn.Linear(HIDDEN_SIZE, num_class)

        def forward(self, x):
            v = self.features(x)  # [N, C, h', T]
            v = self.pool(v.permute(0, 3, 1, 2)).squeeze(3)  # [N, T, C]
            return self.head(self.seq(v))  # [N, T, num_class]

    return CrnnNet()


def expected_params(num_class: int = len(EN_G2_CHARSET) + 1) -> dict[str, tuple[int, ...]]:
    """Name -> shape of every parameter/buffer of build_model()'s
    module, derived WITHOUT torch from the same layer spec the builder
    uses — see torch_craft.expected_params for the test contract."""
    from .torch_craft import _bn_entry, _conv_entry

    c = [OUTPUT_CHANNEL // 8, OUTPUT_CHANNEL // 4, OUTPUT_CHANNEL // 2, OUTPUT_CHANNEL]
    p: dict[str, tuple[int, ...]] = {}
    _conv_entry(p, "features.0", c[0], INPUT_CHANNEL, 3)
    _conv_entry(p, "features.3", c[1], c[0], 3)
    _conv_entry(p, "features.6", c[2], c[1], 3)
    _conv_entry(p, "features.8", c[2], c[2], 3)
    _conv_entry(p, "features.11", c[3], c[2], 3, bias=False)
    _bn_entry(p, "features.12", c[3])
    _conv_entry(p, "features.14", c[3], c[3], 3, bias=False)
    _bn_entry(p, "features.15", c[3])
    _conv_entry(p, "features.18", c[3], c[3], 2)
    for i, n_in in enumerate((OUTPUT_CHANNEL, HIDDEN_SIZE)):
        for suffix in ("", "_reverse"):
            p[f"seq.{i}.rnn.weight_ih_l0{suffix}"] = (4 * HIDDEN_SIZE, n_in)
            p[f"seq.{i}.rnn.weight_hh_l0{suffix}"] = (4 * HIDDEN_SIZE, HIDDEN_SIZE)
            p[f"seq.{i}.rnn.bias_ih_l0{suffix}"] = (4 * HIDDEN_SIZE,)
            p[f"seq.{i}.rnn.bias_hh_l0{suffix}"] = (4 * HIDDEN_SIZE,)
        p[f"seq.{i}.proj.weight"] = (HIDDEN_SIZE, 2 * HIDDEN_SIZE)
        p[f"seq.{i}.proj.bias"] = (HIDDEN_SIZE,)
    p["head.weight"] = (num_class, HIDDEN_SIZE)
    p["head.bias"] = (num_class,)
    return p


def remap_key(ckpt_key: str) -> str | None:
    """english_g2.pth key -> this module's key."""
    k = ckpt_key
    if k.startswith("module."):
        k = k[len("module."):]
    if k.startswith("FeatureExtraction.ConvNet."):
        return "features." + k[len("FeatureExtraction.ConvNet."):]
    if k.startswith("SequenceModeling."):
        rest = k[len("SequenceModeling."):]  # '<i>.rnn.*' or '<i>.linear.*'
        i, sub = rest.split(".", 1)
        sub = sub.replace("linear.", "proj.", 1) if sub.startswith("linear.") else sub
        return f"seq.{i}.{sub}"
    if k.startswith("Prediction."):
        return "head." + k[len("Prediction."):]
    return None


def load_weights(model, path: str, quantize: bool = False):
    import torch

    from . import maybe_quantize

    ckpt = torch.load(path, map_location="cpu")
    state = {}
    for ck, v in ckpt.items():
        mk = remap_key(ck)
        if mk is None:
            raise KeyError(f"unexpected checkpoint key: {ck}")
        state[mk] = v
    model.load_state_dict(state, strict=True)
    maybe_quantize(model, quantize)
    model.eval()
    return model


def normalize_pad(crop: np.ndarray, target_h: int = IMG_H,
                  max_w: int | None = None) -> np.ndarray:
    """NormalizePAD semantics (reference easyocr/recognition.py:30-47):
    aspect-preserving resize to target height, scale to [-1, 1], pad
    right with the last column ('contrast pad')."""
    h, w = crop.shape
    new_w = max(1, int(round(w * target_h / h)))
    ys = ((np.arange(target_h) + 0.5) * h / target_h).astype(np.int64).clip(0, h - 1)
    xs = ((np.arange(new_w) + 0.5) * w / new_w).astype(np.int64).clip(0, w - 1)
    resized = crop[ys][:, xs].astype(np.float32)
    x = resized / 127.5 - 1.0
    if max_w is not None and new_w < max_w:
        pad = np.repeat(x[:, -1:], max_w - new_w, axis=1)
        x = np.concatenate([x, pad], axis=1)
    return x


class TorchCrnnRecognizer:
    """recognize_probs(crop) -> [T, C] softmax matrix with blank at
    index 0 — the same contract the stand-in's recognition._frames
    produces, so ocr/ctc.py decoders apply unchanged."""

    def __init__(self, weights_path: str | None = None, quantize: bool = False,
                 model: str = "english"):
        from . import weights_dir

        filename, charset = GEN2_MODELS[model]
        path = weights_path or os.path.join(weights_dir(), filename)
        self.model = load_weights(
            build_model(len(charset) + 1), path, quantize=quantize
        )
        self.charset = charset

    def recognize_probs(self, crop: np.ndarray) -> np.ndarray:
        import torch

        x = normalize_pad(crop)[None, None]  # [1, 1, H, W]
        with torch.no_grad():
            logits = self.model(torch.from_numpy(x))[0]  # [T, C]
            probs = torch.softmax(logits, dim=1).numpy()
        return probs

    def recognize(self, crop: np.ndarray, decoder: str = "greedy",
                  ignore: np.ndarray | None = None) -> tuple[str, float]:
        from ..ctc import (
            ctc_beam_search,
            custom_mean,
            decode_greedy,
            greedy_collapse,
        )
        from ..recognition import _apply_ignore

        probs = _apply_ignore(self.recognize_probs(crop), ignore)
        if decoder == "beamsearch":
            text, _ = ctc_beam_search(probs, self.charset)
        else:
            text, _ = decode_greedy(probs, self.charset)
        _, confs = greedy_collapse(probs)
        return text, custom_mean(confs) if confs.size else 0.0
