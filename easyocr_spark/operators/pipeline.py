"""The flagship extraction pipeline — span algebra + OCR, Spark-first.

Plan shape (SURVEY.md §1.3), all declarative until the single Arrow UDF:

0. repartition(doc_id)          ONE hash shuffle of the nested documents
                                (``extract_documents`` only): it replaces
                                the scan's round-robin spread
                                (CollapseRepartition) and is shared by
                                both branches below (ReuseExchange), and
                                its doc_id partitioning is the one the
                                reassembly needs
1. posexplode(spans)            narrow; keeps both array position and
                                the logical offset (arrays are stored
                                out of offset order by design)
2. split media / text spans     narrow filters (Catalyst prunes the
                                media join below to kind='media' rows)
3. distinct media_ref           shuffle on media_ref — every ref is
                                looked up once, however many spans
                                (within and across docs) carry it
4. join media bytes             co-partitioned shuffle hash join on
                                media_ref (broadcast at test scale —
                                Catalyst/AQE decides; neither side is
                                broadcastable at 100 TB)
5. OCR mapInPandas              the one Arrow boundary, hash-partitioned
                                on (content, lang) first: every copy of
                                an image lands in one partition, where
                                the harness runs the kernel once per
                                distinct image and fans its result out
                                to each ref (the OCR dedup — by content,
                                not by ref, with no extra shuffle or
                                join). The repartition also balances
                                image count and makes the per-partition
                                work independent of upstream layout
                                (axis-A skew: a doc with 10k media spans
                                contributes 10k refs spread by hash)
6. join results back to spans   media_ref left join; a broadcast of the
                                per-ref results keeps the spans in their
                                doc_id partitions (step 0). A shuffled
                                join re-partitions the spans on
                                media_ref, and AQE's skew join splits
                                dup-ref hot keys
7. reassemble                   groupBy(doc_id) + array_sort on
                                struct(offset, ...) — offset-first field
                                order makes array_sort the ORDER BY. No
                                Exchange after a broadcast join-back:
                                the spans are still doc_id-partitioned
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


def media_images(
    spans: DataFrame, media: DataFrame, num_partitions: int | None = None
) -> DataFrame:
    """Distinct media refs of ``spans`` joined to their bytes ->
    (media_ref, content, lang), hash-partitioned on (content, lang):
    how an image reaches a kernel. Every ref with the same image lands
    in one partition, so the ``ocr.udfs.image_kernel`` harness runs a
    kernel once per distinct image there. A ref with no bytes row is
    dropped by the inner join.

    The repartition also decouples kernel parallelism from the join's
    output partitioning and spreads image-size skew; AQE may coalesce
    afterwards. num_partitions defaults to 2 x defaultParallelism —
    enough wave slack to absorb image-size skew, small enough that
    per-task Python overhead stays negligible. Re-measured after
    ``easyocr_spark.worker_daemon`` removed the per-task archive
    re-read: on perfbench ocr_dense (4 vCPU, 5 seeds), 2x vs 4x read
    a median 5.50 vs 6.03 cpu_ms_per_doc and 4x won 2 of 5, so 2x
    stays.
    """
    n = num_partitions or spans.sparkSession.sparkContext.defaultParallelism * 2
    refs = spans.filter(F.col("kind") == "media").select("media_ref").distinct()
    return refs.join(media, "media_ref", "inner").repartition(n, "content", "lang")


def ocr_media_refs(
    spans: DataFrame,
    media: DataFrame,
    num_partitions: int | None = None,
    decoder: str = "greedy",
    allowlist: str | None = None,
) -> DataFrame:
    """Distinct media refs -> (media_ref, text, conf, n_boxes), one row
    per ref. OCR runs once per distinct (content, lang) inside each
    content partition of ``media_images``; refs sharing an image get
    identical rows."""
    return media_images(spans, media, num_partitions).mapInPandas(
        make_ocr_batches(decoder, allowlist), schema=OCR_RESULT_SCHEMA
    )


def extract_spans(
    docs: DataFrame,
    media: DataFrame,
    decoder: str = "greedy",
    keep_empty: bool = False,
    allowlist: str | None = None,
) -> DataFrame:
    """Flat extracted spans: media text filled in, text spans untouched.
    Output columns: doc_id, offset, kind, text, media_ref.

    Single-pass shape: ONE scan of the exploded spans, left-joined to
    the (small) per-ref OCR results; a CASE picks the OCR text for
    media spans. The earlier split-into-two-branches + union recomputed
    the span derivation twice and doubled the data volume. The join key
    is nulled for text spans so they never shuffle-collide on the ''
    hot key. When AQE broadcasts the results side (every test scale),
    the join-back adds no shuffle: the spans keep whatever partitioning
    ``docs`` arrives with. When the per-ref results stop being
    broadcastable the join takes a sort-merge/shuffled-hash shape, and
    AQE's skew join splits the partitions of hot media_refs — both
    exercised under ``spark.sql.autoBroadcastJoinThreshold=-1`` by
    tests/test_pipeline_spark.py::test_flagship_join_parity_*.
    """
    spans = explode_spans(docs, keep_empty=keep_empty)
    results = ocr_media_refs(spans, media, decoder=decoder, allowlist=allowlist).select(
        F.col("media_ref").alias("r_ref"), F.col("text").alias("ocr_text")
    )
    join_key = F.when(F.col("kind") == "media", F.col("media_ref"))
    joined = spans.join(results, join_key == F.col("r_ref"), "left")
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
) -> DataFrame:
    """Full pipeline: nested in, nested out — every media span's text
    replaced by its recognized string, order restored by offset.
    Documents with empty span arrays are preserved in-band by
    posexplode_outer (empty array -> one null marker row that the
    reassembly agg folds into an empty array) — no doc_id spine join.

    The documents are hash-partitioned on doc_id (into
    ``spark.sql.shuffle.partitions`` parts) before the explode. That
    one Exchange does three jobs: it replaces a round-robin spread of
    the scan (CollapseRepartition), both the distinct-ref branch and
    the join-back read it (ReuseExchange: both keep doc_id), and after
    a broadcast join-back the reassembly's groupBy(doc_id) needs no
    shuffle of its own. The count is explicit: a column-only
    repartition lets AQE coalesce it, which narrowed the explode.

    Trade-off: with a broadcast join-back (the results side is one row
    per distinct ref) the plan has as many shuffles as before and moves
    less data, since the nested documents are smaller than their
    exploded spans. With a shuffled join-back, on an input too large to
    be spread, the doc_id shuffle is one more document-size shuffle."""
    n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return reassemble(
        extract_spans(
            docs.repartition(n, "doc_id"),
            media,
            decoder=decoder,
            keep_empty=True,
            allowlist=allowlist,
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
