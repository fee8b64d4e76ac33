"""Correctness oracle: the expected extraction, computed without the
pipeline, and an order-insensitive digest to compare outputs by.

Expected output of a document: its spans sorted by offset, every media
span's text replaced by ``corpus.spark_gt_from_ref`` of its ref (the
ground truth the renderer drew), text spans unchanged. It is one
``transform`` over each document's span array: no explode, join or
aggregation shared with the pipeline under test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from easyocr_spark.fixtures.corpus import spark_gt_from_ref

_EXPECTED_SPANS = f"""
array_sort(transform(spans, s -> named_struct(
  'offset', s.offset,
  'kind', s.kind,
  'text', CASE WHEN s.kind = 'media' THEN {spark_gt_from_ref('s.media_ref')}
               ELSE s.text END,
  'media_ref', s.media_ref)))
"""

# the digest is (count, xor, sum mod a prime) of per-document hashes,
# each independent of row order and partitioning
_MOD = 2147483647


def doc_hash():
    return F.xxhash64("doc_id", "spans").alias("h")


def expected(docs: DataFrame) -> DataFrame:
    """documents(doc_id, spans) -> expected extraction, same shape as
    ``pipeline.extract_documents``."""
    return docs.select("doc_id", F.expr(_EXPECTED_SPANS).alias("spans"))


def digest_cols():
    h = F.col("h")
    return [F.count("*"), F.bit_xor(h), F.sum(F.pmod(h, F.lit(_MOD)))]


def digest_frame(docs: DataFrame) -> DataFrame:
    return docs.select(doc_hash()).agg(*digest_cols())


def as_digest(row) -> list[int]:
    return [int(row[0]), int(row[1] or 0), int(row[2] or 0)]


def digest(docs: DataFrame) -> list[int]:
    return as_digest(digest_frame(docs).first())


def unit_col(n_units: int):
    """``state.checkpoint``'s work-unit assignment of a document."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_units)).cast("int")


def combine(digests: list[list[int]]) -> list[int]:
    count, xor, total = 0, 0, 0
    for c, x, s in digests:
        count, xor, total = count + c, xor ^ x, total + s
    return [count, xor, total]


def mismatched_docs(actual: DataFrame, docs: DataFrame) -> int:
    """Documents whose actual output differs from the expected one,
    missing on either side counted too."""
    a = actual.select("doc_id", doc_hash().alias("ha"))
    e = expected(docs).select("doc_id", doc_hash().alias("he"))
    return (
        a.join(e, "doc_id", "full_outer")
        .filter(~F.col("ha").eqNullSafe(F.col("he")))
        .count()
    )
