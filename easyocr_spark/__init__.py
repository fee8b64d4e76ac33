"""easyocr_spark — a PySpark-native OCR extraction engine.

A brand-new, Spark-first re-expression of the capabilities of
JaidedAI/EasyOCR (reference read-only at /root/reference): CRAFT-style
text-region detection + CRNN-style CTC recognition, run as batched
pandas/Arrow UDFs over an interleaved text+media document table

    documents(doc_id string,
              spans array<struct<kind string, text string,
                                 media_ref string, offset int>>)

with media spans replaced by recognized text, text spans untouched, and
the per-document span sequence reassembled in offset order (span-sequence
equality on (kind, text, media_ref, order)).

The architecture is idiomatic PySpark — declarative DataFrame plans,
Catalyst-optimized joins/aggregations, Arrow-vectorized UDFs with
executor-resident model state — NOT a translation of the reference's
per-image Python loop.

Because the sandbox ships no torch/cv2/PIL, the neural stages use a
deterministic numpy stand-in model (same interfaces, same post-processing
semantics: score maps -> connected components -> box grouping -> line
clustering -> crop -> CTC greedy/beam decode) as planned in SURVEY.md
§5.2.3. All Spark plumbing — schemas, partitioning, Arrow batching,
AQE skew-join splitting, checkpoint/resume — is real and tested.
"""

__version__ = "0.1.0"
