"""The flagship extraction pipeline — span algebra + OCR, Spark-first.

Plan shape (SURVEY.md §1.3), all declarative until the single Arrow UDF:

1. posexplode(spans)            narrow; keeps both array position and
                                the logical offset (arrays are stored
                                out of offset order by design)
2. split media / text spans     narrow filters (Catalyst prunes the
                                media join below to kind='media' rows)
3. distinct media_ref           shuffle on media_ref — this is the OCR
                                dedup: duplicate refs (within and across
                                docs) are OCR'd ONCE, then results fan
                                back out. At 10^12 docs this is the
                                single biggest throughput lever for
                                media-dedup-heavy corpora.
4. join media bytes             co-partitioned shuffle hash join on
                                media_ref (broadcast at test scale —
                                Catalyst/AQE decides; neither side is
                                broadcastable at 100 TB)
5. OCR mapInPandas              the one Arrow boundary; repartitioned
                                first so image-count is balanced and the
                                per-partition work is independent of
                                upstream layout (axis-A skew: a doc with
                                10k media spans contributes 10k refs
                                spread uniformly by hash)
6. join results back to spans   media_ref join; dup-ref hot keys are
                                handled by AQE skew join (plus an
                                explicit salted-join operator in
                                skew.py for the pathological case)
7. reassemble                   groupBy(doc_id) + array_sort on
                                struct(offset, ...) — offset-first field
                                order makes array_sort the ORDER BY
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ocr.udfs import OCR_RESULT_SCHEMA, make_ocr_batches

SPAN_COLS = ["doc_id", "offset", "kind", "text", "media_ref"]


def explode_spans(docs: DataFrame, keep_empty: bool = False) -> DataFrame:
    """Nested docs -> flat span rows (doc_id, pos, offset, kind, text,
    media_ref). ``pos`` is the physical array index; ``offset`` the
    logical order — distinct because storage order is rotated.

    keep_empty=True uses posexplode_outer: a doc with an empty span
    array yields one all-null marker row instead of vanishing, so the
    full pipeline can preserve empty documents WITHOUT re-attaching a
    doc_id spine join later (one fewer scan + shuffle in the flagship
    plan)."""
    fn = F.posexplode_outer if keep_empty else F.posexplode
    return docs.select(
        "doc_id", fn("spans").alias("pos", "s")
    ).select(
        "doc_id",
        "pos",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def ocr_media_refs(
    spans: DataFrame,
    media: DataFrame,
    num_partitions: int | None = None,
    decoder: str = "greedy",
    allowlist: str | None = None,
) -> DataFrame:
    """Distinct media refs -> (media_ref, text, conf, n_boxes).

    The repartition before the UDF decouples OCR parallelism from the
    join's output partitioning and spreads image-size skew; AQE may
    coalesce afterwards. num_partitions defaults to
    2 x defaultParallelism — enough wave slack to absorb image-size
    skew, small enough that per-task Python overhead stays negligible
    (measured: 4x was slower than 2x even with worker reuse, but while
    each Python task still paid ~0.2 CPU-s re-reading Spark's archives,
    a cost ``easyocr_spark.worker_daemon`` has since removed; not
    re-measured since).
    """
    spark = spans.sparkSession
    n = num_partitions or spark.sparkContext.defaultParallelism * 2
    refs = (
        spans.filter(F.col("kind") == "media")
        .select("media_ref")
        .distinct()
    )
    with_bytes = refs.join(media, "media_ref", "inner")
    return with_bytes.repartition(n, "media_ref").mapInPandas(
        make_ocr_batches(decoder, allowlist), schema=OCR_RESULT_SCHEMA
    )


def extract_spans(
    docs: DataFrame,
    media: DataFrame,
    decoder: str = "greedy",
    keep_empty: bool = False,
    allowlist: str | None = None,
    results_join: str = "auto",
) -> DataFrame:
    """Flat extracted spans: media text filled in, text spans untouched.
    Output columns: doc_id, offset, kind, text, media_ref.

    Single-pass shape: ONE scan of the exploded spans, left-joined to
    the (small) per-ref OCR results; a CASE picks the OCR text for
    media spans. The earlier split-into-two-branches + union recomputed
    the span derivation twice and doubled the data volume. The join key
    is nulled for text spans so they never shuffle-collide on the ''
    hot key; at test scale AQE broadcasts the results side and the
    spans never shuffle at all.

    ``results_join`` selects the join-back strategy for the at-scale
    case where the per-ref OCR results stop being broadcastable:

    - ``"auto"`` (default): plain left join — Catalyst/AQE picks
      broadcast at test scale, sort-merge/shuffled-hash (plus AQE skew
      splitting) when the results side is big. Exercised under
      ``spark.sql.autoBroadcastJoinThreshold=-1`` by
      tests/test_pipeline_spark.py::test_flagship_join_parity_*.
    - ``"salted"``: explicit salt fan-out via operators/skew.salted_join
      for the pathological tail where single media_refs are hot beyond
      what AQE's skew splitting should handle (one ref referenced by
      millions of spans) — the hot key's rows land on n_salts reducers.
      Same output contract (parity-tested against "auto").
    """
    spans = explode_spans(docs, keep_empty=keep_empty)
    results = ocr_media_refs(spans, media, decoder=decoder, allowlist=allowlist).select(
        F.col("media_ref").alias("r_ref"), F.col("text").alias("ocr_text")
    )
    join_key = F.when(F.col("kind") == "media", F.col("media_ref"))
    if results_join == "salted":
        from .skew import salted_join

        spans_k = spans.withColumn("_jk", join_key)
        results_k = results.select(
            F.col("r_ref").alias("_jk"), "ocr_text"
        )
        joined = salted_join(spans_k, results_k, "_jk", how="left").drop("_jk")
    elif results_join == "auto":
        joined = spans.join(results, join_key == F.col("r_ref"), "left")
    else:
        raise ValueError(f"unknown results_join strategy: {results_join!r}")
    return joined.select(
        "doc_id",
        "offset",
        "kind",
        F.when(F.col("kind") == "media", F.coalesce("ocr_text", F.lit("")))
        .otherwise(F.col("text"))
        .alias("text"),
        "media_ref",
    )


def reassemble(extracted_spans: DataFrame) -> DataFrame:
    """Flat spans -> documents(doc_id, spans array<struct<...>>) with
    spans in offset order (array_sort on offset-first struct).

    Null-offset marker rows (posexplode_outer's empty-doc markers) are
    dropped in-band: collect_list skips nulls, so a CASE inside the agg
    turns an empty doc's marker into an empty spans array — no spine
    join needed to keep empty documents."""
    span_struct = F.when(
        F.col("offset").isNotNull(),
        F.struct("offset", "kind", "text", "media_ref"),
    )
    return extracted_spans.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(span_struct)).alias("spans")
    )


def extract_documents(
    docs: DataFrame,
    media: DataFrame,
    decoder: str = "greedy",
    allowlist: str | None = None,
    results_join: str = "auto",
) -> DataFrame:
    """Full pipeline: nested in, nested out — every media span's text
    replaced by its recognized string, order restored by offset.
    Documents with empty span arrays are preserved in-band by
    posexplode_outer (empty array -> one null marker row that the
    reassembly agg folds into an empty array) — no doc_id spine join,
    one scan of the documents table total."""
    return reassemble(
        extract_spans(
            docs,
            media,
            decoder=decoder,
            keep_empty=True,
            allowlist=allowlist,
            results_join=results_join,
        )
    )


# -------------------------------------------------- main-content filtering
BOILERPLATE_DF = 1  # a text span shared verbatim by >1 doc is chrome (CCNet line-dedup default)


def strip_boilerplate(docs: DataFrame, max_df: int = BOILERPLATE_DF) -> DataFrame:
    """MAIN-CONTENT extraction over the interleaved table: drop TEXT
    spans whose exact content recurs across more than ``max_df``
    distinct documents — the cross-document frequency heuristic that
    identifies navigation/footer/chrome in web extraction (CCNet's
    line-level dedup, applied at span grain; the DOM-structural
    heuristics have no representation in this corpus's data model, so
    frequency IS the boilerplate signal here). Media spans always pass:
    they are the payload the OCR stage extracts.

    Plan: one shuffle counts distinct-doc frequency per text digest,
    then the span scan is re-filtered by an anti-join on the repeated
    digests; linear, no doc-pair join. The exclusion join is left to
    AQE's runtime size check rather than a forced broadcast: on a real
    web corpus boilerplate is the COMMON case — with max_df=1 the
    repeated-digest set is a large fraction of all spans, so a forced
    broadcast hint would bypass the size check and OOM the driver at
    scale. AQE still broadcasts it when the measured set is small (the
    situation in every test corpus); otherwise it picks a shuffle
    anti-join, which is the correct plan at web scale (parity on the
    shuffle path is pytest-enforced under autoBroadcastJoinThreshold=-1).
    Output: the surviving flat spans
    (doc_id, offset, kind, text, media_ref)."""
    spans = explode_spans(docs)
    text_spans = spans.filter(F.col("kind") == "text")
    boiler = (
        text_spans.groupBy(F.md5("text").alias("h"))
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") > max_df)
        .select("h")
    )
    kept_text = text_spans.join(
        boiler, F.md5(text_spans["text"]) == boiler["h"], "left_anti"
    )
    media_spans = spans.filter(F.col("kind") == "media")
    return (
        kept_text.unionByName(media_spans)
        .select("doc_id", "offset", "kind", "text", "media_ref")
    )


def duckdb_strip_boilerplate_sql(flat_spans_sql: str, max_df: int = BOILERPLATE_DF) -> str:
    return f"""
    WITH f AS ({flat_spans_sql}),
    boiler AS (
      SELECT md5(text) AS h FROM f WHERE kind = 'text'
      GROUP BY 1 HAVING count(DISTINCT doc_id) > {max_df}
    )
    SELECT doc_id, "offset", kind, text, media_ref
    FROM f
    WHERE kind = 'media'
       OR (kind = 'text' AND md5(text) NOT IN (SELECT h FROM boiler))
    """
