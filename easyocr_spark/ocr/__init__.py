"""Deterministic numpy OCR core — the stand-in for CRAFT + CRNN.

Stage-for-stage mirror of the reference pipeline semantics
(JaidedAI/EasyOCR, read-only at /root/reference):

  detection.py  — score maps, connected components, box estimation
                  (reference easyocr/detection.py, easyocr/craft_utils.py)
  grouping.py   — line clustering + box merging
                  (reference easyocr/utils.py:450-555 group_text_box)
  recognition.py— crop normalization, two-pass contrast retry, framing
                  (reference easyocr/recognition.py)
  ctc.py        — CTC greedy/beam decode + custom_mean confidence
                  (reference easyocr/utils.py:327-384, recognition.py:13-14)
  reader.py     — the Reader facade both backends share: detect /
                  recognize / readtext (reference
                  easyocr/easyocr.py:311-579); StandInReader plugs the
                  numpy stages in, backends/torch_reader.TorchReader
                  the real CRAFT + CRNN models

The neural forward passes are replaced by deterministic template
arithmetic (sandbox has no torch); every post-processing contract the
reference relies on — reading order, min_size filtering, CTC collapse,
confidence-based two-pass merge — is implemented faithfully and
unit-tested.
"""
