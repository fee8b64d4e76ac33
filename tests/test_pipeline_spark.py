"""Spark-side span-pipeline tests (FIXTURES.md §1 edge classes)."""

import pytest
from pyspark.sql import functions as F

from easyocr_spark.fixtures import corpus
from easyocr_spark.operators import pipeline
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


def test_ocr_dedup_runs_each_ref_once(docs, media, spark):
    spans = pipeline.explode_spans(docs)
    results = pipeline.ocr_media_refs(spans, media)
    n_refs = (
        spans.filter(F.col("kind") == "media").select("media_ref").distinct().count()
    )
    assert results.count() == n_refs
    assert results.select("media_ref").distinct().count() == n_refs


def _doc_json(df):
    """Canonical per-doc string: doc_id + offset-ordered span tuples —
    nested-array-safe equality across plan shapes."""
    return df.select("doc_id", F.to_json(F.col("spans")).alias("j"))


def _doc_strings(df):
    return sorted(_doc_json(df).collect())


def _hot_ref_docs(docs, n_docs=100, per_doc=20):
    """The media spans of every doc, plus ``n_docs`` docs that each cite
    one ref ``per_doc`` times: one hot key on the spans side of the
    join-back. Text spans are left out: their null join keys would form
    a heavy partition of their own."""
    media_only = docs.withColumn(
        "spans", F.filter("spans", lambda s: s["kind"] == "media")
    )
    hot_ref = (
        pipeline.explode_spans(docs).filter(F.col("kind") == "media")
        .agg(F.min("media_ref")).first()[0]
    )
    span = lambda i: F.struct(
        F.lit("media").alias("kind"), F.lit("").alias("text"),
        F.lit(hot_ref).alias("media_ref"), i.alias("offset"),
    )
    hot = docs.sparkSession.range(n_docs).select(
        F.concat(F.lit("hot_"), F.col("id").cast("string")).alias("doc_id"),
        F.transform(F.sequence(F.lit(0), F.lit(per_doc - 1)), span)
        .cast(docs.schema["spans"].dataType).alias("spans"),
    )
    return media_only, media_only.unionByName(hot)


# AQE skew-join thresholds scaled down to test size: a partition of the
# join-back is split when it exceeds 3x the median and 4 KB
SKEW_CONF = {
    "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "4k",
    "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "3",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": "4k",
}


# session settings the flagship's documents must not depend on, beside
# the forced shuffle join
LAYOUTS = [
    ("spark.sql.shuffle.partitions", "1"),
    ("spark.sql.shuffle.partitions", "7"),
    ("spark.sql.adaptive.enabled", "false"),
]


def _final_paths(df):
    """Root-to-leaf paths of ``df``'s final adaptive plan (run ``df``
    first), one ``simpleString`` per node; query stages and codegen
    wrappers are stepped through."""
    paths, stack = [], [(df._jdf.queryExecution().executedPlan(), ())]
    while stack:
        p, path = stack.pop()
        name = p.nodeName()
        if name == "AdaptiveSparkPlan":
            stack.append((p.finalPhysicalPlan(), path))
            continue
        if name.endswith("QueryStage"):
            stack.append((p.plan(), path))
            continue
        if not name.startswith(("WholeStageCodegen", "InputAdapter", "ColumnarToRow")):
            path = (*path, p.simpleString(25))
        children = p.children()
        if children.size() == 0:
            paths.append(path)
        stack.extend((children.apply(i), path) for i in range(children.size()))
    return paths


def _collect_join_back(df):
    """``df``'s sorted rows and the join-back node (the left outer join)
    of its final adaptive plan, from one run."""
    rows = sorted(df.collect())
    plan = df._jdf.queryExecution().executedPlan().toString()
    return rows, next(line for line in plan.splitlines() if "LeftOuter" in line)


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


def test_flagship_join_parity_broadcast_vs_shuffle(docs, media, spark):
    """The 100-TB join path, exercised end-to-end: with broadcast
    disabled (autoBroadcastJoinThreshold=-1) the OCR results join-back
    and the media join take their at-scale shuffle shapes and must
    produce the exact documents the broadcast plan does.

    With one media_ref hot, AQE's skew join splits the hot partition of
    the join-back (the final plan reads ``skew=true``; the same input
    without the hot docs does not), and the documents still equal the
    broadcast run's.

    On an input where one image sits under several refs, the per-ref
    OCR rows must not depend on layout either: broadcast vs shuffle and
    1 vs 7 content partitions give the same rows, and each same-lang
    copy gets the rows of the ref it copies.

    The reassembly groups the doc_id partitions ``extract_documents``
    makes, ``spark.sql.shuffle.partitions`` of them, so the documents
    must not depend on that count or on AQE either."""
    base = _doc_strings(pipeline.extract_documents(docs, media))
    dup_spans, dup_media = _dup_content_input(media)
    n_content = dup_media.select("content", "lang").distinct().count()
    assert dup_media.select("content").distinct().count() < n_content < dup_media.count()
    ocr_base = _ocr_rows(dup_spans, dup_media)
    cool_docs, hot_docs = _hot_ref_docs(docs)
    hot_base = _doc_strings(pipeline.extract_documents(hot_docs, media))
    confs = ["spark.sql.autoBroadcastJoinThreshold", *SKEW_CONF]
    old = {k: spark.conf.get(k) for k in confs}
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        forced_df = pipeline.extract_documents(docs, media)
        plan = forced_df._jdf.queryExecution().executedPlan().toString()
        assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), plan
        assert "BroadcastHashJoin" not in plan, plan
        forced = _doc_strings(forced_df)
        ocr_forced = _ocr_rows(dup_spans, dup_media)
        for k, v in SKEW_CONF.items():
            spark.conf.set(k, v)
        _, cool_join = _collect_join_back(
            _doc_json(pipeline.extract_documents(cool_docs, media))
        )
        hot_skewed, hot_join = _collect_join_back(
            _doc_json(pipeline.extract_documents(hot_docs, media))
        )
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    assert forced == base
    assert ocr_forced == ocr_base
    assert "skew=true" not in cool_join, cool_join
    assert "skew=true" in hot_join, hot_join
    assert hot_skewed == hot_base
    for n in (1, 7):
        assert _ocr_rows(dup_spans, dup_media, n) == ocr_base, n
    for k, v in LAYOUTS:
        old = spark.conf.get(k)
        try:
            spark.conf.set(k, v)
            layout = _doc_strings(pipeline.extract_documents(docs, media))
        finally:
            spark.conf.set(k, old)
        assert layout == base, (k, v)
    by_ref = {r[0]: r[1:] for r in ocr_base}
    assert len(by_ref) == dup_media.count()
    copies = [ref for ref in by_ref if ref.endswith("_copy")]
    assert len(copies) == 12
    for ref in copies:
        assert by_ref[ref] == by_ref[ref[: -len("_copy")]], ref


def test_flagship_shuffles_documents_once_on_doc_id(docs, media, spark, tmp_path):
    """On nested documents read through ``tables.read_table`` (a scan
    spread round-robin), the flagship's final plan moves the documents
    once: the doc_id repartition replaces the spread, the distinct-ref
    branch reuses that Exchange, and the reassembly aggregates the
    broadcast join-back's output with no Exchange in between."""
    tables.interleaved_documents(spark, SF).write.parquet(
        str(tmp_path / "documents.parquet")
    )
    nested = tables.read_table(spark, str(tmp_path), "documents")
    assert "RoundRobinPartitioning" in nested._jdf.queryExecution().executedPlan().toString()
    out = _doc_json(pipeline.extract_documents(nested, media))
    assert sorted(out.collect()) == _doc_strings(pipeline.extract_documents(docs, media))
    paths = _final_paths(out)
    scans = [p for p in paths if p[-1].startswith("FileScan parquet [doc_id")]
    assert len(scans) == 1, scans
    scan = scans[0]
    shuffles = [n for n in scan if n.startswith("Exchange ")]
    assert len(shuffles) == 1, scan
    assert shuffles[0].startswith("Exchange hashpartitioning(doc_id"), scan
    reused = [p[-1] for p in paths if p[-1].startswith("ReusedExchange")]
    assert any(r.endswith(shuffles[0]) for r in reused), reused
    join = next(
        i for i, n in enumerate(scan)
        if n.startswith("BroadcastHashJoin") and "LeftOuter" in n
    )
    above = scan[:join]
    assert any(n.startswith("ObjectHashAggregate") for n in above), scan
    assert not any("Exchange" in n or "ShuffleRead" in n for n in above), scan


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
