"""Spark-side span-pipeline tests (FIXTURES.md §1 edge classes)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from easyocr_spark.fixtures import corpus
from easyocr_spark.operators import pipeline
from easyocr_spark.operators.skew import salted_join
from easyocr_spark.sources import tables

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return tables.interleaved_documents(spark, SF).cache()


@pytest.fixture(scope="module")
def media(spark):
    return tables.media_table(spark, SF)


def test_edge_classes_present(docs):
    pdf = docs.select(
        "doc_id",
        F.size("spans").alias("n"),
        F.size(F.filter("spans", lambda s: s["kind"] == F.lit("media"))).alias("nm"),
    ).toPandas()
    assert (pdf.n == 0).any(), "empty spans class missing"
    assert ((pdf.n > 0) & (pdf.nm == 0)).any(), "zero-media class missing"
    assert ((pdf.n > 0) & (pdf.nm == pdf.n)).any(), "all-media class missing"
    assert (pdf.nm >= 50).any(), "skew class missing"


def test_storage_order_is_rotated(docs):
    flat = pipeline.explode_spans(docs).filter(F.col("pos") != F.col("offset"))
    assert flat.count() > 0, "spans should be stored out of offset order"


def test_duplicate_media_refs(docs):
    flat = pipeline.explode_spans(docs).filter(F.col("kind") == "media")
    dup = flat.groupBy("media_ref").count().filter(F.col("count") > 1)
    assert dup.count() > 0


def test_extract_media_spans_match_ground_truth(docs, media):
    out = pipeline.extract_spans(docs, media).filter(F.col("kind") == "media")
    pdf = out.toPandas()
    for _, row in pdf.sample(n=min(len(pdf), 80), random_state=1).iterrows():
        assert row["text"] == corpus.ground_truth_text(row["media_ref"]), row[
            "media_ref"
        ]


def test_extract_text_spans_untouched(docs, media):
    before = (
        pipeline.explode_spans(docs)
        .filter(F.col("kind") == "text")
        .select("doc_id", "offset", "text")
    )
    after = pipeline.extract_spans(docs, media).filter(
        F.col("kind") == "text"
    ).select("doc_id", "offset", "text")
    assert before.exceptAll(after).count() == 0
    assert after.exceptAll(before).count() == 0


def test_reassembled_offsets_sorted(docs, media):
    out = pipeline.extract_documents(docs, media)
    bad = out.select(
        F.exists(
            F.zip_with(
                F.col("spans"),
                F.slice(F.col("spans"), 2, F.greatest(F.size("spans") - 1, F.lit(1))),
                lambda a, b: a["offset"] >= b["offset"],
            ),
            lambda x: x,
        ).alias("unsorted")
    ).filter("unsorted")
    assert bad.count() == 0


def test_reassembled_preserves_doc_count(docs, media):
    out = pipeline.extract_documents(docs, media)
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()


def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(
        pd.DataFrame({"k": ["a"] * 50 + ["b"] * 3, "v": range(53)})
    )
    small = spark.createDataFrame(pd.DataFrame({"k": ["a", "b"], "w": [1, 2]}))
    plain = big.join(small, "k").select("k", "v", "w")
    salted = salted_join(big, small, "k", n_salts=4).select("k", "v", "w")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_ocr_dedup_runs_each_ref_once(docs, media, spark):
    spans = pipeline.explode_spans(docs)
    results = pipeline.ocr_media_refs(spans, media)
    n_refs = (
        spans.filter(F.col("kind") == "media").select("media_ref").distinct().count()
    )
    assert results.count() == n_refs
    assert results.select("media_ref").distinct().count() == n_refs


def _doc_strings(df):
    """Canonical per-doc string: doc_id + offset-ordered span tuples —
    nested-array-safe equality across plan shapes."""
    return sorted(
        df.select(
            "doc_id",
            F.to_json(F.col("spans")).alias("j"),
        ).collect()
    )


def _dup_content_input(media):
    """Media spans over every ref plus copies of the same bytes: a
    same-lang copy of each of 12 refs and a lang-swapped copy of 4."""
    some = media.orderBy("media_ref").limit(12)
    copies = some.withColumn("media_ref", F.concat("media_ref", F.lit("_copy")))
    relang = some.limit(4).select(
        F.concat("media_ref", F.lit("_relang")).alias("media_ref"),
        "content",
        F.when(F.col("lang") == "arabic", "latin").otherwise("arabic").alias("lang"),
    )
    dup_media = media.unionByName(copies).unionByName(relang)
    spans = dup_media.select(F.lit("media").alias("kind"), "media_ref")
    return spans, dup_media


def _ocr_rows(spans, media, num_partitions=None):
    return sorted(
        map(
            tuple,
            pipeline.ocr_media_refs(spans, media, num_partitions)
            .select("media_ref", "text", "conf", "n_boxes")
            .collect(),
        )
    )


def test_flagship_join_parity_broadcast_vs_shuffle_vs_salted(docs, media, spark):
    """The 100-TB join path, exercised end-to-end: with broadcast
    disabled (autoBroadcastJoinThreshold=-1) the OCR results join-back
    and the media join take their at-scale shuffle shapes, and the
    explicit salted fallback (operators/skew.salted_join) must all
    produce the exact documents the broadcast plan does.

    On an input where one image sits under several refs, the per-ref
    OCR rows must not depend on layout either: broadcast vs shuffle and
    1 vs 7 content partitions give the same rows, and each same-lang
    copy gets the rows of the ref it copies."""
    base = _doc_strings(pipeline.extract_documents(docs, media))
    dup_spans, dup_media = _dup_content_input(media)
    n_content = dup_media.select("content", "lang").distinct().count()
    assert dup_media.select("content").distinct().count() < n_content < dup_media.count()
    ocr_base = _ocr_rows(dup_spans, dup_media)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        forced_df = pipeline.extract_documents(docs, media)
        plan = forced_df._jdf.queryExecution().executedPlan().toString()
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert "BroadcastHashJoin" not in plan, plan
        forced = _doc_strings(forced_df)
        salted_df = pipeline.extract_documents(docs, media, results_join="salted")
        salted_plan = salted_df._jdf.queryExecution().executedPlan().toString()
        assert "_salt" in salted_plan, salted_plan
        salted = _doc_strings(salted_df)
        ocr_forced = _ocr_rows(dup_spans, dup_media)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert forced == base
    assert salted == base
    assert ocr_forced == ocr_base
    for n in (1, 7):
        assert _ocr_rows(dup_spans, dup_media, n) == ocr_base, n
    by_ref = {r[0]: r[1:] for r in ocr_base}
    assert len(by_ref) == dup_media.count()
    copies = [ref for ref in by_ref if ref.endswith("_copy")]
    assert len(copies) == 12
    for ref in copies:
        assert by_ref[ref] == by_ref[ref[: -len("_copy")]], ref


def test_strip_boilerplate_drops_cross_doc_chrome(spark):
    """Text spans repeated verbatim across >max_df docs are stripped;
    unique text spans and ALL media spans survive with order intact."""
    import pandas as pd

    span = lambda off, kind, text, ref: {"offset": off, "kind": kind, "text": text, "media_ref": ref}
    rows = [
        ("doc_a", [span(0, "text", "SUBSCRIBE NOW", ""), span(1, "text", "real content a", ""), span(2, "media", "", "m_1_0")]),
        ("doc_b", [span(0, "text", "SUBSCRIBE NOW", ""), span(1, "text", "real content b", "")]),
        ("doc_c", [span(0, "text", "SUBSCRIBE NOW", ""), span(1, "media", "", "m_1_0")]),
    ]
    docs = spark.createDataFrame(
        rows, schema="doc_id string, spans array<struct<offset:int,kind:string,text:string,media_ref:string>>"
    )
    out = pipeline.strip_boilerplate(docs, max_df=2).toPandas()
    texts = set(zip(out.doc_id, out.text))
    assert ("doc_a", "SUBSCRIBE NOW") not in texts  # df=3 > 2: stripped
    assert ("doc_a", "real content a") in texts
    assert ("doc_b", "real content b") in texts
    # media spans always pass
    assert len(out[(out.kind == "media")]) == 2
    # max_df=3 keeps everything (7 spans total across the three docs)
    assert pipeline.strip_boilerplate(docs, max_df=3).count() == 7


def test_strip_boilerplate_shuffle_parity(docs, spark):
    """The at-scale path: with broadcast disabled the exclusion
    anti-join must take a shuffle shape (on a web corpus the repeated-
    digest set is NOT broadcastable — boilerplate is the common case)
    and produce exactly the spans the AQE/broadcast plan does."""
    def _key(df):
        return set(map(tuple, df.select(
            "doc_id", "offset", "kind", "text", "media_ref"
        ).toPandas().itertuples(index=False)))

    base = _key(pipeline.strip_boilerplate(docs))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        forced_df = pipeline.strip_boilerplate(docs)
        plan = forced_df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, plan
        forced = _key(forced_df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert forced == base
