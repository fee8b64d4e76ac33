"""Real CRAFT text detector (torch backend).

Implements the published CRAFT graph — VGG16-BN backbone sliced at
conv2_2 / conv3_3 / conv4_3 / conv5_3, a dilated fc6/fc7 head, four
U-Net-style up-merge blocks, and a 2-channel (region, affinity) score
head at half input resolution — so the released ``craft_mlt_25k.pth``
weights (reference easyocr/config.py:12-16, md5-pinned) drop in via an
explicit key remap. Structure follows the paper (Baek et al., CVPR'19)
and matches the reference's tensor contract (easyocr/craft.py:30-80:
forward returns NHWC with y[..., 0] = region, y[..., 1] = affinity);
the code here is an independent implementation — modules are built
from config lists and checkpoint keys are translated, not mirrored.

Post-processing intentionally REUSES the engine's numpy pipeline
(ocr/detection.py get_det_boxes, whose boxes detect() keeps, and
adjust_result_coordinates): the thresholds (text 0.7 / low 0.4 /
link 0.4) are the reference defaults and the box recipe is the same
getDetBoxes_core contract, so only the score-map *producer* changes
between backends.

Without torch installed, ``build_model()``, the forward pass and
detect() still run under the numpy shim (``np_torch.installed()``) in
tests/test_torch_backend.py, on seeded or synthetic weights; the tests
that need real torch ``pytest.importorskip('torch')``. The shapes,
slice boundaries and key maps were written against the published
checkpoint layout.
"""

from __future__ import annotations

import os

import numpy as np

from ..detection import adjust_result_coordinates, get_det_boxes

# ImageNet normalization — the reference's normalizeMeanVariance
# (easyocr/imgproc.py:20-26). The stand-in uses adaptive min/max
# stretch instead (documented divergence); the real model was trained
# with this exact normalization so the torch path must use it.
_MEAN = np.array([0.485, 0.456, 0.406], dtype=np.float32)
_VAR = np.array([0.229, 0.224, 0.225], dtype=np.float32)

# VGG16-BN feature config (torchvision cfg 'D'): numbers are conv
# out-channels, 'M' is maxpool. Layer indices in the flattened
# (conv, bn, relu)* sequence match torchvision's vgg16_bn.features,
# which is what the checkpoint's basenet.sliceN.<idx> keys index into.
_VGG_CFG = [64, 64, "M", 128, 128, "M", 256, 256, 256, "M", 512, 512, 512, "M", 512, 512, 512]
# slice boundaries in flattened-layer indices (reference
# easyocr/model/modules.py:39-47): [0,12) conv2_2, [12,19) conv3_3,
# [19,29) conv4_3, [29,39) conv5_3
_SLICES = [(0, 12), (12, 19), (19, 29), (29, 39)]


def build_model():
    """Construct the CRAFT nn.Module. Deferred torch import so the
    module can be imported (for its key-map helpers) without torch."""
    import torch
    import torch.nn as nn
    import torch.nn.functional as TF

    def vgg_layers():
        layers: list[nn.Module] = []
        c_in = 3
        for v in _VGG_CFG:
            if v == "M":
                layers.append(nn.MaxPool2d(2, 2))
            else:
                layers += [
                    nn.Conv2d(c_in, v, 3, padding=1),
                    nn.BatchNorm2d(v),
                    nn.ReLU(inplace=True),
                ]
                c_in = v
        return layers

    class UpMerge(nn.Module):
        """1x1 squeeze + 3x3 conv (each BN+ReLU) over a skip concat —
        the U-branch block ('double conv' in the paper)."""

        def __init__(self, in_ch: int, mid_ch: int, out_ch: int):
            super().__init__()
            self.block = nn.Sequential(
                nn.Conv2d(in_ch + mid_ch, mid_ch, 1),
                nn.BatchNorm2d(mid_ch),
                nn.ReLU(inplace=True),
                nn.Conv2d(mid_ch, out_ch, 3, padding=1),
                nn.BatchNorm2d(out_ch),
                nn.ReLU(inplace=True),
            )

        def forward(self, x):
            return self.block(x)

    class CraftNet(nn.Module):
        def __init__(self):
            super().__init__()
            layers = vgg_layers()
            self.stages = nn.ModuleList(
                nn.Sequential(*layers[a:b]) for a, b in _SLICES
            )
            # fc6 (dilated) / fc7 head replacing VGG's pool5+classifier
            self.neck = nn.Sequential(
                nn.MaxPool2d(3, 1, 1),
                nn.Conv2d(512, 1024, 3, padding=6, dilation=6),
                nn.Conv2d(1024, 1024, 1),
            )
            self.up1 = UpMerge(1024, 512, 256)
            self.up2 = UpMerge(512, 256, 128)
            self.up3 = UpMerge(256, 128, 64)
            self.up4 = UpMerge(128, 64, 32)
            self.head = nn.Sequential(
                nn.Conv2d(32, 32, 3, padding=1), nn.ReLU(inplace=True),
                nn.Conv2d(32, 32, 3, padding=1), nn.ReLU(inplace=True),
                nn.Conv2d(32, 16, 3, padding=1), nn.ReLU(inplace=True),
                nn.Conv2d(16, 16, 1), nn.ReLU(inplace=True),
                nn.Conv2d(16, 2, 1),
            )

        def forward(self, x):
            skips = []
            for stage in self.stages:
                x = stage(x)
                skips.append(x)
            f = self.neck(skips[3])
            y = self.up1(torch.cat([f, skips[3]], dim=1))
            y = TF.interpolate(y, size=skips[2].shape[2:], mode="bilinear",
                               align_corners=False)
            y = self.up2(torch.cat([y, skips[2]], dim=1))
            y = TF.interpolate(y, size=skips[1].shape[2:], mode="bilinear",
                               align_corners=False)
            y = self.up3(torch.cat([y, skips[1]], dim=1))
            y = TF.interpolate(y, size=skips[0].shape[2:], mode="bilinear",
                               align_corners=False)
            y = self.up4(torch.cat([y, skips[0]], dim=1))
            return self.head(y)  # [N, 2, H/2, W/2]: 0=region, 1=affinity

    return CraftNet()


def conv_entry(p: dict, prefix: str, c_out: int, c_in: int, k: int,
               bias: bool = True) -> None:
    """A k x k Conv2d's parameter shapes, added to ``p`` (the
    expected_params of every torch backend use it)."""
    p[f"{prefix}.weight"] = (c_out, c_in, k, k)
    if bias:
        p[f"{prefix}.bias"] = (c_out,)


def bn_entry(p: dict, prefix: str, ch: int) -> None:
    """A BatchNorm2d's parameter and buffer shapes, added to ``p``."""
    p[f"{prefix}.weight"] = (ch,)
    p[f"{prefix}.bias"] = (ch,)
    p[f"{prefix}.running_mean"] = (ch,)
    p[f"{prefix}.running_var"] = (ch,)
    p[f"{prefix}.num_batches_tracked"] = ()


def expected_params() -> dict[str, tuple[int, ...]]:
    """Name -> shape of every parameter/buffer of build_model()'s
    module, derived WITHOUT torch from the same constants the builder
    uses (_VGG_CFG / _SLICES / the literal neck, up and head specs).
    With torch absent, tests prove remap_key() against the recorded
    checkpoint layout (manifests.craft_checkpoint_manifest); with torch
    present, tests also assert this equals model.state_dict() shapes."""
    p: dict[str, tuple[int, ...]] = {}
    flat: list[tuple[str, int, int]] = []
    c_in = 3
    for v in _VGG_CFG:
        if v == "M":
            flat.append(("pool", 0, 0))
        else:
            flat.append(("conv", c_in, v))
            flat.append(("bn", v, v))
            flat.append(("relu", 0, 0))
            c_in = v
    for si, (a, b) in enumerate(_SLICES):
        for idx in range(a, b):
            kind, ci, co = flat[idx]
            pre = f"stages.{si}.{idx - a}"
            if kind == "conv":
                conv_entry(p, pre, co, ci, 3)
            elif kind == "bn":
                bn_entry(p, pre, co)
    conv_entry(p, "neck.1", 1024, 512, 3)
    conv_entry(p, "neck.2", 1024, 1024, 1)
    for i, (cin, cmid, cout) in enumerate(
        [(1024, 512, 256), (512, 256, 128), (256, 128, 64), (128, 64, 32)],
        start=1,
    ):
        conv_entry(p, f"up{i}.block.0", cmid, cin + cmid, 1)
        bn_entry(p, f"up{i}.block.1", cmid)
        conv_entry(p, f"up{i}.block.3", cout, cmid, 3)
        bn_entry(p, f"up{i}.block.4", cout)
    for idx, (ci, co, k) in zip(
        (0, 2, 4, 6, 8),
        [(32, 32, 3), (32, 32, 3), (32, 16, 3), (16, 16, 1), (16, 2, 1)],
    ):
        conv_entry(p, f"head.{idx}", co, ci, k)
    return p


def remap_key(ckpt_key: str) -> str | None:
    """Translate a craft_mlt_25k.pth state_dict key to this module's
    naming. Returns None for keys we don't carry (none expected)."""
    k = ckpt_key
    if k.startswith("module."):
        k = k[len("module."):]
    if k.startswith("basenet.slice"):
        n = int(k[len("basenet.slice")])
        rest = k.split(".", 2)[2]  # '<layer_idx>.<param>'
        if n == 5:
            # slice5 = the fc6/fc7 neck; its indices are local already
            return f"neck.{rest}"
        idx, param = rest.split(".", 1)
        local = int(idx) - _SLICES[n - 1][0]
        return f"stages.{n - 1}.{local}.{param}"
    for i in range(1, 5):
        if k.startswith(f"upconv{i}.conv."):
            return f"up{i}.block." + k[len(f"upconv{i}.conv."):]
    if k.startswith("conv_cls."):
        return "head." + k[len("conv_cls."):]
    return None


def normalize_mean_variance(rgb: np.ndarray) -> np.ndarray:
    """float32 NHW3 in [0,255] -> ImageNet-normalized, like the
    reference's normalizeMeanVariance."""
    x = rgb.astype(np.float32) / 255.0
    return (x - _MEAN) / _VAR


class TorchCraftDetector:
    """detect(gray) -> list of 4-point float boxes in input pixels —
    the same contract as ocr/detection.py detect(), so reader routing
    and grouping are backend-agnostic."""

    def __init__(self, weights_path: str | None = None, canvas_size: int = 2560,
                 mag_ratio: float = 1.0, quantize: bool = False):
        from . import load_weights, weights_dir

        path = weights_path or os.path.join(weights_dir(), "craft_mlt_25k.pth")
        self.model = load_weights(build_model(), path, remap_key, quantize)
        self.canvas_size = canvas_size
        self.mag_ratio = mag_ratio

    def score_maps(self, gray: np.ndarray) -> tuple[np.ndarray, np.ndarray, float]:
        import torch

        from ..detection import resize_aspect_ratio

        resized, ratio = resize_aspect_ratio(gray, self.canvas_size, self.mag_ratio)
        rgb = np.repeat(resized[:, :, None], 3, axis=2)
        x = normalize_mean_variance(rgb).transpose(2, 0, 1)[None]
        with torch.no_grad():
            y = self.model(torch.from_numpy(x))
        region = y[0, 0].numpy()
        link = y[0, 1].numpy()
        return region, link, ratio

    def detect(self, gray: np.ndarray) -> list[np.ndarray]:
        region, link, ratio = self.score_maps(gray)
        boxes, _, _ = get_det_boxes(region, link)
        return adjust_result_coordinates(boxes, ratio)
