"""Pluggable OCR backends.

The engine ships two interchangeable backends behind one Reader
facade (ocr/reader.Reader) and one executor singleton
(ocr/udfs.get_reader). A backend is a Reader subclass that supplies the
detector's boxes for a batch of grays, the crop of a free quad and one
recognition call over a list of crops (the stand-in scores them in one
matmul; the torch nets still run one forward per crop); grouping, crops,
the contrast retry, rotation, free-merge, paragraphs and the RTL rule
are shared.

- ``standin`` (default): the deterministic numpy detector/recognizer
  (ocr/reader.StandInReader) — the only executable path without torch
  and the one the DuckDB oracles verify pixel-for-pixel.
- ``torch`` (torch_reader.TorchReader): the reference's real
  pretrained models — CRAFT detection (reference
  easyocr/detection.py:74-90, easyocr/craft.py:30-80) and the gen2 VGG
  or gen1 ResNet CRNN recognizers (reference
  easyocr/recognition.py:153-184, easyocr/model/vgg_model.py:4-35,
  model/model.py:4-35) — activated only when ``import torch`` succeeds
  AND the md5-pinned weight files are present (reference
  easyocr/config.py:11-27 pins them). On a cluster the .pth files ship
  via ``spark-submit --files`` and land in the working dir of every
  executor; ocr/udfs.get_reader then loads them once per (decoder,
  allowlist, lang) config in each Python worker process. The media
  table's lang tags route through ``reader.LANG_CODES``: ``arabic``
  reads with the gen1 arabic model (``arabic.pth`` must be present, or
  the reader fails when it is built, naming the file); ``latin`` and
  ``chinese`` read with english gen2 — this tree has no torch CJK
  model or charset.

Selection: ``EASYOCR_SPARK_BACKEND=torch`` env var (read once per
worker) or an explicit ``backend=`` argument. Missing torch or missing
weights falls back to ``standin`` loudly (single warning per process),
never silently changes semantics mid-job.
"""

from __future__ import annotations

import os
import warnings

_WARNED = False


def torch_available() -> bool:
    try:
        import torch  # noqa: F401

        return True
    except Exception:
        return False


def weights_dir() -> str:
    """Where the .pth files live. On a cluster, --files drops them in
    the task working dir ('.'); locally ~/.EasyOCR/model mirrors the
    reference's default cache (easyocr/easyocr.py:87)."""
    return os.environ.get(
        "EASYOCR_SPARK_WEIGHTS_DIR",
        os.path.expanduser("~/.EasyOCR/model"),
    )


def resolve_backend(requested: str | None = None) -> str:
    """'torch' only if requested AND importable AND weights exist;
    otherwise 'standin' (with one warning if torch was requested)."""
    global _WARNED
    req = requested or os.environ.get("EASYOCR_SPARK_BACKEND", "standin")
    if req != "torch":
        return "standin"
    ok = torch_available()
    wd = weights_dir()
    have_weights = os.path.exists(os.path.join(wd, "craft_mlt_25k.pth")) and (
        os.path.exists(os.path.join(wd, "english_g2.pth"))
    )
    if ok and have_weights:
        return "torch"
    if not _WARNED:
        warnings.warn(
            "torch backend requested but "
            + ("torch is not importable; " if not ok else "")
            + (f"weights not found under {wd}; " if not have_weights else "")
            + "falling back to the stand-in backend",
            stacklevel=2,
        )
        _WARNED = True
    return "standin"


def maybe_quantize(model, quantize: bool):
    """Dynamic int8 quantization on CPU, mirroring the reference's
    default-on behavior (easyocr/detection.py:74-83,
    easyocr/recognition.py:168-179: quantize_dynamic, qint8, inplace,
    errors swallowed). NUMERICS-AFFECTING: quantized Linear/LSTM
    weights shift probabilities, so oracle-vs-backend comparisons must
    pin quantize on both sides (SURVEY O1). Off by default here —
    enable for reference-default CPU parity or memory-bound executors."""
    if not quantize:
        return model
    import torch

    try:
        torch.quantization.quantize_dynamic(model, dtype=torch.qint8, inplace=True)
    except Exception:
        pass
    return model


def load_weights(model, path: str, remap_key, quantize: bool = False):
    """Load the checkpoint at ``path`` into ``model``: every key goes
    through the model module's ``remap_key`` (an unknown key is a
    KeyError), the load is strict, then optional quantization and eval
    mode. A missing file fails here, naming it."""
    import torch

    state = {}
    for ck, v in torch.load(path, map_location="cpu").items():
        mk = remap_key(ck)
        if mk is None:
            raise KeyError(f"unexpected checkpoint key: {ck}")
        state[mk] = v
    model.load_state_dict(state, strict=True)
    maybe_quantize(model, quantize)
    model.eval()
    return model


def make_torch_reader(**kwargs):
    """Construct the torch-backed Reader (raises ImportError without
    torch — call resolve_backend first)."""
    from .torch_reader import TorchReader

    return TorchReader(**kwargs)
