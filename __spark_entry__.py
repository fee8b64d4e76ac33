"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship: full OCR extraction pipeline at sf0.001
                  (interleaved docs -> media spans OCR'd -> reassembled).
queries()       — one entry per implemented operator (SURVEY.md §2 +
                  the training-data operator suite).
oracle_sql()    — DuckDB twins. The interleaved corpus and the OCR
                  ground truth are deterministic arithmetic functions of
                  the flat documents table / media_ref (see
                  easyocr_spark/fixtures/corpus.py), so even the OCR
                  output is fully SQL-verifiable: the Spark side must
                  recover from rendered pixels exactly what the oracle
                  computes from the formula.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from easyocr_spark.fixtures import corpus
from easyocr_spark.ocr import udfs
from easyocr_spark.operators import (
    bpe,
    cleaning,
    clustering,
    dedup,
    events,
    mixing,
    pii,
    pipeline,
    profiling,
    retrieval,
    sharding,
    similarity,
    sketches,
    web_extract,
)
from easyocr_spark.operators import text_analysis as ta
from easyocr_spark.sources import tables


# --------------------------------------------------------------- helpers
def _ensure_conf(spark: SparkSession) -> None:
    """The driver may hand us a session it built itself; pin the
    runtime-settable confs our oracles assume (UTC so timestamp->epoch
    matches DuckDB's UTC-naive timestamps)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _docs_media(spark: SparkSession, sf_dir: str):
    return (
        tables.interleaved_documents(spark, sf_dir),
        tables.media_table(spark, sf_dir),
    )


def _distinct_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media = _docs_media(spark, sf_dir)
    return pipeline.media_images(pipeline.explode_spans(docs), media)


DUCK_DISTINCT_REFS = f"""
    SELECT DISTINCT media_ref FROM ({corpus.DUCKDB_FLAT_SPANS_SQL})
    WHERE kind = 'media'
"""


# ------------------------------------------------------------ OCR family
def q_interleave_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.interleaved_documents(spark, sf_dir)
    return pipeline.explode_spans(docs)


def q_extract_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media = _docs_media(spark, sf_dir)
    return pipeline.extract_spans(docs, media)


def q_extract_documents_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media = _docs_media(spark, sf_dir)
    out = pipeline.extract_documents(docs, media)
    return out.select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.array_join(F.transform("spans", lambda s: s["text"]), " ").alias(
            "full_text"
        ),
    )


def q_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Main-content extraction: text spans recurring verbatim across
    > BOILERPLATE_DF distinct docs are stripped as chrome (cross-doc
    frequency heuristic, CCNet line-dedup at span grain); media spans
    always pass."""
    docs = tables.interleaved_documents(spark, sf_dir)
    return pipeline.strip_boilerplate(docs)


def q_detect_boxes(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = _distinct_media(spark, sf_dir)
    return refs.mapInPandas(
        udfs.detect_batches, schema=udfs.DETECT_RESULT_SCHEMA
    ).select("media_ref", "n_boxes")


def q_detect_box_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-box detection coordinates in reading order — the boxes are
    verified numerically against the renderer-geometry oracle."""
    refs = _distinct_media(spark, sf_dir)
    det = refs.mapInPandas(udfs.detect_batches, schema=udfs.DETECT_RESULT_SCHEMA)
    # size(boxes), not n_boxes: slanted refs detect free quads only —
    # n_boxes counts them but the flat horizontal-box array is empty
    nonempty = det.filter(F.size("boxes") > 0)
    quads = F.transform(
        F.sequence(F.lit(0), (F.size("boxes") / 4).cast("int") - 1),
        lambda i: F.struct(
            F.element_at("boxes", i * 4 + 1).alias("x_min"),
            F.element_at("boxes", i * 4 + 2).alias("x_max"),
            F.element_at("boxes", i * 4 + 3).alias("y_min"),
            F.element_at("boxes", i * 4 + 4).alias("y_max"),
        ),
    )
    return nonempty.select(
        "media_ref", F.posexplode(quads).alias("box_idx", "q")
    ).select(
        "media_ref",
        "box_idx",
        F.col("q.x_min").alias("x_min"),
        F.col("q.x_max").alias("x_max"),
        F.col("q.y_min").alias("y_min"),
        F.col("q.y_max").alias("y_max"),
    )


def q_detect_slanted_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotated-text detection end-to-end: slanted-class media must come
    out of detect() as FREE quads (rotated 4-point boxes, the
    cv2.minAreaRect role) whose corner coordinates — including the
    free-path margin expansion — match the renderer-geometry oracle in
    deci-pixels."""
    a = "CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    refs = _distinct_media(spark, sf_dir).filter(
        F.expr(corpus.duckdb_slant_pred(a, b))
    )
    return refs.mapInPandas(
        udfs.detect_free_batches, schema=udfs.DETECT_FREE_SCHEMA
    )


def q_detect_curved_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curved-text detection: variable-slope staircase words (the
    getPoly_core territory beyond constant slant) must come out as
    vertical-edged free quads spanning first-to-last cell tops, margins
    included, matching the renderer-geometry oracle in deci-pixels."""
    a = "CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    refs = _distinct_media(spark, sf_dir).filter(
        F.expr(corpus.duckdb_curve_pred(a, b))
    )
    return refs.mapInPandas(
        udfs.detect_free_batches, schema=udfs.DETECT_FREE_SCHEMA
    )


def q_detect_smooth_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-aliased rotated-text detection: smooth-class media (gray-
    edge constant-slope render, no integer staircase) must come out of
    detect() as free quads whose SUB-PIXEL tops — recovered by the
    full-res ink-weighted refinement reading the blend gray as a
    half-pixel phase — match the renderer-geometry oracle in
    quarter-pixels, margins included."""
    a = "CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    refs = _distinct_media(spark, sf_dir).filter(
        F.expr(corpus.duckdb_smooth_pred(a, b))
    )
    return refs.mapInPandas(
        udfs.detect_smooth_batches, schema=udfs.DETECT_SMOOTH_SCHEMA
    )


def q_detect_polygons(spark: SparkSession, sf_dir: str) -> DataFrame:
    """poly=True detection (the getPoly_core analogue): slanted words
    come out as 4L-point staircase outlines tracing each glyph cell's
    own top/bottom — verified point-for-point against the renderer
    geometry."""
    a = "CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    refs = _distinct_media(spark, sf_dir).filter(
        F.expr(corpus.duckdb_slant_pred(a, b))
    )
    return refs.mapInPandas(
        udfs.detect_poly_batches, schema=udfs.DETECT_POLY_SCHEMA
    )


def q_detect_polygons_curved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """poly=True over the curved class: the 4L-point outline must trace
    each glyph cell's own curve_off drop — the per-cell refinement that
    a single quad cannot express (the getPoly_core role on non-linear
    text)."""
    a = "CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    refs = _distinct_media(spark, sf_dir).filter(
        F.expr(corpus.duckdb_curve_pred(a, b))
    )
    return refs.mapInPandas(
        udfs.detect_poly_batches, schema=udfs.DETECT_POLY_SCHEMA
    )


def q_detect_polygons_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """poly=True over the smooth class: the 4L-point outline must carry
    each glyph cell's own SUB-PIXEL top (half-pixel blend phase read
    from the anti-aliased gray) — the getPoly_core refinement at the
    grain an integer staircase cannot express; quarter-pixel exact."""
    a = "CAST(split_part(media_ref, '_', 2) AS BIGINT)"
    b = "CAST(split_part(media_ref, '_', 3) AS BIGINT)"
    refs = _distinct_media(spark, sf_dir).filter(
        F.expr(corpus.duckdb_smooth_pred(a, b))
    )
    return refs.mapInPandas(
        udfs.detect_smooth_poly_batches, schema=udfs.DETECT_SMOOTH_POLY_SCHEMA
    )


def q_ocr_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, media = _docs_media(spark, sf_dir)
    spans = pipeline.explode_spans(docs)
    return pipeline.ocr_media_refs(spans, media).select("media_ref", "text")


def q_media_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = _distinct_media(spark, sf_dir)
    return refs.mapInPandas(udfs.dims_batches, schema=udfs.DIMS_RESULT_SCHEMA)


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image feature extraction as a verified operator: decode ->
    dims + mean luminance + ink ratio, matched against atlas-popcount
    arithmetic (even pixel statistics are formula-checkable)."""
    refs = _distinct_media(spark, sf_dir)
    return refs.mapInPandas(
        udfs.image_features, schema=udfs.IMAGE_META_SCHEMA
    ).select("media_ref", "width", "height", "mean_luma", "ink_ratio_milli")


def q_media_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Color-ingest branch: the color media class is stored as
    truecolor PNG; decode must report 3 source channels (vs 1 for
    gray) while dims — and every downstream OCR oracle — stay
    identical after BT.601 gray conversion."""
    refs = _distinct_media(spark, sf_dir)
    return refs.mapInPandas(
        udfs.channels_batches, schema=udfs.CHANNELS_RESULT_SCHEMA
    )


def q_ocr_results_beamsearch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CTC prefix beam-search decode path — same output contract as the
    greedy path on clean renders (reference easyocr/utils.py:181-270)."""
    refs = _distinct_media(spark, sf_dir)
    return refs.mapInPandas(
        udfs.make_ocr_batches("beamsearch"), schema=udfs.OCR_RESULT_SCHEMA
    ).select("media_ref", "text")


def q_ocr_results_wordbeam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-constrained word-beam decode (reference
    easyocr/utils.py:352-384); the fixture vocabulary is the dict."""
    refs = _distinct_media(spark, sf_dir)
    return refs.mapInPandas(
        udfs.make_ocr_batches("wordbeamsearch"), schema=udfs.OCR_RESULT_SCHEMA
    ).select("media_ref", "text")


UPPER_ALLOW = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"


def q_ocr_results_allowlist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allowlist-masked recognition (reference easyocr/easyocr.py:363-368)
    over the subset of media whose ground truth uses only uppercase +
    digits — selected by the corpus FORMULA (spark_gt_expr), not by OCR
    output. With lowercase/punctuation glyph classes masked out of the
    softmax, recognition must still recover the ground truth exactly."""
    refs = _distinct_media(spark, sf_dir)
    pred = F.expr(corpus.spark_gt_from_ref("media_ref")).rlike("^[A-Z0-9 ]*$")
    return (
        refs.filter(pred)
        .mapInPandas(
            udfs.make_ocr_batches("greedy", allowlist=UPPER_ALLOW),
            schema=udfs.OCR_RESULT_SCHEMA,
        )
        .select("media_ref", "text")
    )


def q_ocr_paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    refs = _distinct_media(spark, sf_dir)
    return refs.mapInPandas(
        udfs.paragraph_batches, schema=udfs.PARAGRAPH_RESULT_SCHEMA
    )


def q_span_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.interleaved_documents(spark, sf_dir)
    spans = pipeline.explode_spans(docs)
    return spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum(F.when(F.col("kind") == "media", 1).otherwise(0)).alias("n_media"),
        F.sum(F.when(F.col("kind") == "text", 1).otherwise(0)).alias("n_text"),
    )


def q_media_ref_usage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tables.interleaved_documents(spark, sf_dir)
    spans = pipeline.explode_spans(docs)
    return (
        spans.filter(F.col("kind") == "media")
        .groupBy("media_ref")
        .agg(F.count("*").alias("n_uses"))
        .filter(F.col("n_uses") > 1)
    )


# ----------------------------------------------------- training-data ops
def _mutated(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.with_mutants(tables.read_table(spark, sf_dir, "documents"))


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dup_groups(_mutated(spark, sf_dir))


def q_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORACLE-ONLY baseline: quadratic by design; the scale path for
    # this contract is dedup_minhash_lsh (verified equal to this)
    return dedup.jaccard_pairs_exhaustive(_mutated(spark, sf_dir))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_lsh_pairs(_mutated(spark, sf_dir))


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs(_mutated(spark, sf_dir))


def q_dedup_simhash128(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash128_pairs(_mutated(spark, sf_dir))


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: iterative connected components over the
    verified pair graph (min-label propagation); oracle = a recursive
    CTE computing min reachable id over the same edges."""
    return dedup.dedup_components(_mutated(spark, sf_dir))


def q_dedup_keeplist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup end product: per-doc keep/drop — canonical (min id)
    member of each near-dup component kept, other members dropped,
    unclustered docs kept (component_id = -1)."""
    return dedup.dedup_keeplist(_mutated(spark, sf_dir))


def q_dup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-by-source duplication-flow matrix (syndication audit):
    near-dup pairs from the scalable MinHash+LSH path, sources
    canonicalized least/greatest, bounded |sources|^2 output; the two
    source-lookup joins run on the tiny verified-pair table."""
    return dedup.dup_source_matrix(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/Llama recipe): per training
    doc, how many of its distinct 10-token grams appear anywhere in
    the deterministic eval split (doc_id % 100 == 7) — integer
    double-poly gram keys, one gram scan, left-semi join, no pair
    join."""
    return dedup.decontaminate(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified near-dup graph (mutant-
    augmented corpus): 5 fixed iterations of integer micro-rank
    updates — one src-keyed shuffle + one map-combining dst agg per
    iteration, edge list from the linear MinHash+LSH path. The
    max-rank member per component is the centrality-based canonical
    (vs dedup_keeplist's min-id)."""
    return dedup.neardup_pagerank(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_snapshot_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup (the monthly-crawl staple): every NEW
    doc (planted near/exact copies + reversed-text novels) against the
    accumulated OLD corpus only — cross-side MinHash band join, exact
    verify on candidates, per-new-doc best match; never old x old."""
    base = tables.read_table(spark, sf_dir, "documents")
    return dedup.snapshot_dedup(base, dedup.snapshot_new(base))


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination (WHERE the leak is, not just which
    doc): maximal token spans of training docs covered by 10-token
    windows that also occur in the eval split — over the
    contamination-augmented corpus (doc_id % 25 == 7 carries a fixed
    16-token benchmark block, so eval docs at % 100 == 7 define it and
    train docs at residues 32/57/82 leak it at known positions; the
    pii_scan synthetic-positive pattern). One positional gram scan,
    bounded eval gram set, left-semi join, gaps-and-islands merge."""
    return dedup.decontaminate_spans(
        dedup.contamination_augment(
            tables.read_table(spark, sf_dir, "documents")
        )
    )


def q_dedup_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional exact-substring dedup (Lee et al. shape): maximal
    per-document spans covered by 10-token windows that occur verbatim
    in >= 2 distinct documents — linear plan, no document pair join."""
    return dedup.duplicate_spans(_mutated(spark, sf_dir))


def q_mask_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the positional dedup (Lee et al. end product): strip every
    token covered by a cross-document duplicate span; per-doc counts +
    cleaned-text md5 — narrow indexed-HOF mask, no token-stream
    explode, spans folded once and joined back left."""
    return dedup.mask_duplicate_spans(_mutated(spark, sf_dir))


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc n-gram novelty (memorization/uniqueness audit): fraction
    of distinct 3-grams with corpus df=1 — shared gram keys, one df
    shuffle, gram-keyed left-semi join-back, never a doc pair join.
    Runs over the mutant-augmented corpus so near-copies genuinely
    depress novelty."""
    return dedup.ngram_novelty(_mutated(spark, sf_dir))


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (Rabin/LBFS cut rule, stateless variant):
    per-doc chunk manifest with content-addressed md5s — zero-shuffle
    split('') + bounded window folds, the storage-dedup primitive."""
    return dedup.cdc_chunks(tables.read_table(spark, sf_dir, "documents"))


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints: rightmost-min of each 4-window of
    char-4-gram poly hashes, selected via an integer (hash, offset)
    encoding that makes plain array_min the rightmost-argmin — narrow
    per-doc projection + one distinct shuffle."""
    return dedup.winnowing_fingerprints(_mutated(spark, sf_dir))


def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index with Zipf-skew discipline: (word, df, total_tf)
    stats for every word, canonical positional postings ONLY for words
    with df <= 32 — head words never materialize a corpus-sized list."""
    return retrieval.inverted_index(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank length percentiles (25/50/75/90/99) per
    language — pure-integer rank rule, one row_number window per lang
    partition."""
    return ta.length_quantiles(tables.read_table(spark, sf_dir, "documents"))


def q_length_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-bucket length quantiles — the constant-memory 100-TB
    variant of the exact operator: one map-combining shuffle to a
    |langs| x |buckets| table, nearest-rank rule on the bucket cumsum;
    answer brackets the exact percentile within bucket width."""
    return ta.length_quantiles_hist(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.lang_id(tables.read_table(spark, sf_dir, "documents"))


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.quality_score(tables.read_table(spark, sf_dir, "documents"))


def q_lm_cross_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-fit character-bigram cross-entropy per document (milli-
    bits): train pass = one bigram-count shuffle collected like a
    codebook; score pass = broadcast model join + integer sums."""
    return ta.lm_cross_entropy(tables.read_table(spark, sf_dir, "documents"))


def q_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level scrub (Raffel et al.): terminal-punctuation /
    min-5-words / javascript line rules + brace / lorem-ipsum page
    rules over the deterministically augmented corpus — one narrow
    zero-shuffle projection; counts and kept-text md5 bit-compared."""
    from easyocr_spark.operators import cleaning

    return cleaning.c4_clean(tables.read_table(spark, sf_dir, "documents"))


def q_unimax_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UniMax per-language allocation: integer water-filling of a
    half-corpus token budget under a 1-epoch cap — one map-combining
    shuffle for the lang token counts, bounded-language driver fold,
    recursive-CTE oracle twin."""
    return mixing.unimax_mix(tables.read_table(spark, sf_dir, "documents"))


def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode normalization scrub (control strip, zero-width removal,
    unicode-space fold, whitespace collapse) over per-class dirtied
    docs — zero-shuffle regex projection, md5-verified output."""
    return cleaning.normalize_text(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher A1.1 rule audit: every published predicate as an integer
    milli-unit column + keep verdict + first failing rule, one narrow
    zero-shuffle projection over the per-class augmented corpus."""
    return cleaning.gopher_rules(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity stratification per language:
    nearest-rank p33/p66 thresholds over the integer LM score,
    value-based bucket assignment — 2-row-per-lang broadcast join."""
    return ta.ccnet_buckets(tables.read_table(spark, sf_dir, "documents"))


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.token_stats(tables.read_table(spark, sf_dir, "documents"))


def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.top_ngrams(tables.read_table(spark, sf_dir, "documents"))


def q_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.doc_frequency(tables.read_table(spark, sf_dir, "documents"))


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.repetition_signals(tables.read_table(spark, sf_dir, "documents"))


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich merge learning): the trained
    merge table. Eager per-iteration pair-count jobs, like kmeans."""
    return bpe.bpe_merges_df(
        spark, tables.read_table(spark, sf_dir, "documents")
    )


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned BPE merges applied back to the vocabulary: per-word
    final segmentation (trains first, then derives lazily)."""
    return bpe.bpe_segment(tables.read_table(spark, sf_dir, "documents"))


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-tokenizer application: per-doc word/BPE-token counts —
    bounded vocab joined (AQE-broadcast) onto the exploded corpus."""
    return bpe.bpe_encode(tables.read_table(spark, sf_dir, "documents"))


def q_char_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SentencePiece character-coverage table (0.9995 cutoff decides
    the tokenizer's base alphabet): one char-stream shuffle, rank and
    cumulative-ppm windows on the bounded alphabet table."""
    return bpe.char_coverage(tables.read_table(spark, sf_dir, "documents"))


def q_train_split_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 split + epoch-shard assignment (the
    reproducible hash-ordered 'global shuffle')."""
    return sharding.train_split_shards(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware group-holdout split (the prevention counterpart
    to shard_leakage): split key = near-dup component id, so clusters
    never straddle train/test; one bounded left join on top of the
    verified component build."""
    return sharding.grouped_split(_mutated(spark, sf_dir))


def q_shard_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit over the pipeline's OWN train/val/test
    boundary (decontaminate audits an external benchmark): per held-out
    split, distinct 10-grams also present in train — over the
    contamination-augmented corpus so planted blocks genuinely span
    splits. One distinct gram table, split column is a shuffle-free
    LCG projection, left-semi on the gram key, two-row output."""
    return sharding.shard_leakage(
        dedup.contamination_augment(
            tables.read_table(spark, sf_dir, "documents")
        )
    )


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.stratified_sample(tables.read_table(spark, sf_dir, "documents"))


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style per-document overlapping token chunks (size 64,
    stride 48): zero-shuffle Generate + slice — every token lands in at
    least one chunk, boundary context preserved by the overlap."""
    return ta.chunk_overlap(tables.read_table(spark, sf_dir, "documents"))


def q_reservoir_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-k deterministic reservoir per lang (smallest-LCG-hash k,
    doc_id tiebreak): fixed-budget eval-set carving; WindowGroupLimit
    turns the rank filter into a map-side partial top-k before the
    shuffle (plan pinned by test)."""
    return ta.reservoir_sample(tables.read_table(spark, sf_dir, "documents"))


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ta.fingerprint(tables.read_table(spark, sf_dir, "documents"))


def q_max_token_run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive repeated-token run per doc (degenerate-
    repetition detector): packed-int64 left fold over token hashes,
    identical bit arithmetic in both engines — zero shuffles."""
    return ta.max_token_run(tables.read_table(spark, sf_dir, "documents"))


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-waste audit of the sequence_pack manifest: per shard,
    sequences / real tokens / capacity / waste ppm — proves the
    concat-and-chunk waste bound (< seq_len per shard). One bounded
    rollup shuffle over the manifest."""
    return ta.packing_efficiency(tables.read_table(spark, sf_dir, "documents"))


def q_curation_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pipeline END PRODUCT: one keep/drop decision per document
    with an auditable first-match reason (eval_holdout > duplicate >
    contaminated > quality bucket > repetitive > ok) — near-dup
    keep-list, decontamination, quality, and repetition composed over
    the mutant-augmented corpus; the oracle composes the SAME
    per-operator oracle SQL."""
    from easyocr_spark.operators import curation

    return curation.curation_manifest(_mutated(spark, sf_dir))


def q_kmeans_inertia(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster inertia of the trained k-means (the Lloyd's
    objective as a k-row elbow/monitoring table): exact HUGEINT/decimal
    sums carried as strings, floor-div means — one rollup shuffle over
    the assignment table."""
    return clustering.kmeans_inertia(
        tables.read_table(spark, sf_dir, "embeddings")
    )


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM-heuristic main-content extraction (Readability/Boilerpipe
    link-density blocks) over deterministically synthesized pages —
    nav/ads/script/footer chrome must drop, the recovered main text
    must equal the original document byte-for-byte (matches_original).
    Narrow zero-shuffle regex/array projection."""
    from easyocr_spark.operators import web_extract

    return web_extract.html_extract(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_layout_reading_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF-style layout parse: reading-order reconstruction from an
    unordered positioned-line set — per-page x-midpoint column split,
    (page, col, y) sort, per-doc bounded sort_array; the rebuilt text
    must equal the original token order (matches_original)."""
    from easyocr_spark.operators import web_extract

    return web_extract.layout_reading_order(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_datacard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(source, reason) datacard: the release-report rollup of the
    curation manifest — doc/token counts and source shares, one
    map-combining shuffle to a |sources| x |reasons| bounded table;
    synthetic near-dup ids attribute to the 'synthetic' source."""
    from easyocr_spark.operators import curation

    return curation.datacard(
        _mutated(spark, sf_dir),
        tables.read_table(spark, sf_dir, "documents"),
    )


def q_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL source/sink round-trip: documents written to JSON-Lines by
    Spark and read back (explicit schema, FAILFAST) must equal the
    parquet table content exactly — the oracle reads the parquet side
    directly and compares md5(text)."""
    from easyocr_spark.sources import jsonl

    return jsonl.jsonl_roundtrip(spark, sf_dir)


def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining per anchor: top-3 cross-label
    cosine neighbors + strongest same-label positive + FaceNet
    semi-hard flag — one broadcast-probe corpus scan, one query-keyed
    shuffle serving both the pos max-window and the rank window."""
    return similarity.hard_negatives(
        tables.read_table(spark, sf_dir, "embeddings")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-5 retrieval for a fixed benchmark query set (Lucene
    +1 idf frozen driver-side in milli-bits, tf-saturation cleared to
    exact decimal(38,0) integers): the ranked-lookup end product of
    the inverted-index family — only query-term postings ever shuffle."""
    return retrieval.bm25_topk(tables.read_table(spark, sf_dir, "documents"))


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc top-3 salient terms by integer tf/df relevance (the
    reciprocal-idf member of the tf-idf family — pure int64 so both
    engines agree exactly); ties break on term."""
    return ta.tfidf_top_terms(tables.read_table(spark, sf_dir, "documents"))


def q_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch with heavy-hitter readout: top-15
    corpus terms with exact count, sketch estimate (min over d=3 rows
    of a 3x16 integer sketch) and the overcount audit column — the
    width is deliberately below the vocabulary size so collisions occur
    and the one-sided error is visible in the oracle diff."""
    return sketches.countmin_heavy_hitters(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership probe of every doc's text against the
    deterministic reference subset (doc_id % 10 < 3): zero-shuffle
    probe against the collected <= m-bit filter, with the exact md5
    semi-join kept as the audit column (false positives allowed, false
    negatives structurally impossible)."""
    return sketches.bloom_membership(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature mixing table per (source, lang) stratum: raw vs
    n^0.5-temperature ppm shares plus the per-doc oversampling boost —
    one map-side-combining shuffle, normalization on the bounded
    stratum table (alpha fixed at 0.5: IEEE sqrt is correctly rounded,
    so both engines agree bit-for-bit; pow would not)."""
    return mixing.corpus_mix(tables.read_table(spark, sf_dir, "documents"))


def q_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style table profile: per-column completeness / exact
    distinctness / padded-lexicographic range in one stack-unpivot scan
    + one map-combining shuffle keyed by column name."""
    return profiling.profile_documents(
        tables.read_table(spark, sf_dir, "documents")
    )


def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR hashed-n-gram importance weights (Xie et al. 2023): per-doc
    integer milli-bit log importance ratio of hashed word uni+bigram
    features under the target (source in src1-3) vs raw distribution,
    plus the deterministic keep rule (weight >= 0). One map-combining
    shuffle to the tf table; the model collect is bounded by the FIXED
    bucket count m=1024 — DSIR's hashing is what keeps the model
    fixed-size at any corpus scale."""
    return mixing.dsir_importance(tables.read_table(spark, sf_dir, "documents"))


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over deterministically augmented documents
    (doc_id % 4 picks email/phone/ipv4 injection; 1/4 stay clean as
    negative controls): per-doc pattern counts plus the md5 of the
    fully redacted text, all JVM-side regex codegen — one narrow
    shuffle-free projection."""
    return pii.pii_scan(tables.read_table(spark, sf_dir, "documents"))


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: the pack manifest
    mapping each document's token ranges into fixed-length training
    sequences, shard-local so packing parallelizes (shard = doc_id %
    n_shards, per-shard cumsum window, boundary docs split across
    adjacent sequences)."""
    return ta.sequence_pack(tables.read_table(spark, sf_dir, "documents"))


# ------------------------------------------------------------- similarity
def q_knn_brute(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(tables.read_table(spark, sf_dir, "embeddings"))


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_topk(tables.read_table(spark, sf_dir, "embeddings"))


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat ANN: deterministic coarse codebook -> inverted lists ->
    nprobe-bounded exact rank (the scale path where per-query cost is
    nprobe/nlist of the corpus)."""
    return similarity.ivf_topk(tables.read_table(spark, sf_dir, "embeddings"))


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: unit-sphere sub-codebooks, 8-byte
    codes, ADC lookup-table scoring, exact-cosine re-rank of the
    shortlist — the compressed-vector retrieval shape (32x smaller
    index than raw float32 at 100 TB)."""
    return similarity.pq_topk(tables.read_table(spark, sf_dir, "embeddings"))


def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding corpus (the IVF codebook
    trainer): broadcast-literal centroids make assignment a zero-shuffle
    map-side projection; the only shuffle per iteration is the k x DIM
    map-side-combining centroid update. Integer-micro L2 keeps every
    assignment and centroid bit-identical to the DuckDB CTE-chain twin."""
    return clustering.kmeans_clusters(
        tables.read_table(spark, sf_dir, "embeddings")
    )


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scoring per label stratum: exact int64
    squared micro-distance to the OWN label's centroid, normalized by
    the stratum mean (is_outlier at >= 2x mean) — fully declarative, no
    collect: two bounded map-combining shuffles + broadcast join-backs."""
    return clustering.embedding_outliers(
        tables.read_table(spark, sf_dir, "embeddings")
    )


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.neardup_pairs(
        similarity.with_planted_dups(tables.read_table(spark, sf_dir, "embeddings"))
    )


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: the trained k-means clusters bucket the within-cluster
    exact-cosine pair scan (n^2/k instead of n^2; k grows with the
    corpus at web scale), with the centroid-proximal member kept per
    pair — the cluster-bucketed alternative to embedding_neardup's
    hyperplane-LSH probes, over the same planted duplicates."""
    return clustering.semantic_dedup_pairs(
        similarity.with_planted_dups(tables.read_table(spark, sf_dir, "embeddings"))
    )


# ----------------------------------------------------------------- events
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.sessionize(tables.read_table(spark, sf_dir, "events"))


def q_events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.windowed_counts(tables.read_table(spark, sf_dir, "events"))


def q_events_top_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.top_event_types(tables.read_table(spark, sf_dir, "events"))


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    return events.asof_prior_event(tables.read_table(spark, sf_dir, "events"))


def q_events_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct-count sketch: per event
    type, the HLL estimate (31-bit integer mix, mod-37 trailing-zero
    rank, scaled-integer estimator — bit-identical in DuckDB) next to
    the exact distinct count."""
    return events.distinct_users_hll(tables.read_table(spark, sf_dir, "events"))


def q_streaming_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_windowed: a real streaming
    query (file source, watermark, AvailableNow trigger, memory sink)
    whose final result must equal the batch oracle — the stream/batch
    parity contract."""
    import os

    from easyocr_spark.streaming import stream

    return stream.streaming_windowed_counts(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_streaming_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicatesWithinWatermark, bounded
    state): every event fed twice across separate micro-batches must
    come out exactly once — equals the batch DISTINCT."""
    import os

    from easyocr_spark.streaming import stream

    return stream.streaming_dedup_exact(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_streaming_sessionize_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user gap sessionization with explicit state + event-time
    timeouts. Emitted sessions = batch sessionize minus each user's
    still-open last session (close horizon inside the final watermark)."""
    import os

    from easyocr_spark.streaming import stream

    return stream.streaming_sessionize_stateful(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_streaming_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HLL: per-(closed window, event_type) distinct-user
    estimates where the state store holds SKETCH REGISTERS (bounded at
    m=512 per group) merged by max across micro-batches; the shared
    integer-exact fold finalizes — equals the batch sketch restricted
    to closed windows."""
    import os

    from easyocr_spark.streaming import stream

    return stream.streaming_distinct_hll(
        spark, os.path.join(sf_dir, "events.parquet")
    )


def q_streaming_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OCR extraction as a VERIFIED query: the interleaved
    documents table is replayed as a multi-file AvailableNow stream
    through foreachBatch(batch extract pipeline) with an idempotent
    per-epoch parquet sink; the reassembled spans read back from the
    sink must equal the batch flagship oracle (extract_spans)."""
    import os
    import tempfile

    from easyocr_spark.streaming import stream

    docs, media = _docs_media(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="stream_extract_q_")
    src = os.path.join(d, "src")
    # several source files -> several micro-batches, so the parity is
    # across real incremental epochs, not one batch in disguise
    docs.repartition(4).write.mode("overwrite").parquet(src)
    stream.stream_extract_foreachbatch(
        spark, src, media, os.path.join(d, "out"), os.path.join(d, "ckpt")
    )
    out = spark.read.parquet(os.path.join(d, "out"))
    return out.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def q_streaming_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sequence packing: documents replayed as ascending
    doc_id ranges across micro-batches are packed incrementally with
    the per-shard running token offset as the ONLY state — emitted
    manifest rows equal the batch sequence_pack exactly (packing state
    never expires, it only advances)."""
    import os

    from easyocr_spark.streaming import stream

    return stream.streaming_sequence_pack(
        spark, os.path.join(sf_dir, "documents.parquet")
    )


def q_streaming_windowed_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode streaming twin: watermark + append output to FILES
    (bounded state — closed windows are emitted and evicted). The final
    file contents must equal the batch oracle restricted to closed
    windows (window_end <= max(ts) - watermark)."""
    import os
    import tempfile

    from easyocr_spark.streaming import stream

    d = tempfile.mkdtemp(prefix="stream_append_")
    return stream.streaming_windowed_append(
        spark,
        os.path.join(sf_dir, "events.parquet"),
        os.path.join(d, "out"),
        os.path.join(d, "ckpt"),
    )


# ------------------------------------------------------------------ entry
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full extraction pipeline at sf0.001."""
    _ensure_conf(spark)
    sf_dir = "/root/testdata/sf0.001"
    docs, media = _docs_media(spark, sf_dir)
    return pipeline.extract_documents(docs, media)


def _with_conf(fn):
    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        _ensure_conf(spark)
        return fn(spark, sf_dir)

    wrapped.__name__ = fn.__name__
    return wrapped


# Driver-sweep rotation (round 6, verdict Next #1): the external driver
# records correctness rows for the FIRST 50 registry entries only, and
# across rounds 1-5 33 queries never received a driver-recorded oracle
# row. Registry ITERATION ORDER therefore leads with (a) the flagship
# extract pair as sentinels, (b) those 33 never-driver-recorded
# queries, then (c) the 15 queries whose last driver record predates
# round 5 — exactly 50 slots, so this round's sweep covers the
# never-verified set. Every entry's callable and oracle SQL are
# unchanged; only dict order moved (queries() and oracle_sql() share
# the rotation so the pairing is order-independent either way).
_SWEEP_FIRST = [
    # (a) flagship sentinels
    "extract_spans", "extract_documents_text",
    # (b) never driver-recorded through round 5
    "c4_clean", "gopher_rules", "normalize_text", "tfidf_top_terms",
    "bm25_topk", "bpe_merges", "bpe_segment", "bpe_encode",
    "char_coverage", "train_split_shards", "shard_leakage",
    "grouped_split", "countmin_heavy_hitters", "bloom_membership",
    "pii_scan", "corpus_mix", "unimax_mix", "dsir_importance",
    "profile_documents", "reservoir_sample", "chunk_overlap",
    "sequence_pack", "packing_efficiency", "max_token_run",
    "source_jsonl_roundtrip", "hard_negatives", "kmeans_clusters",
    "kmeans_inertia", "embedding_outliers", "semantic_dedup",
    "streaming_extract", "streaming_distinct_hll",
    "streaming_sequence_pack",
    # (c) last driver-recorded before round 5
    "token_stats", "top_ngrams", "doc_frequency", "stratified_sample",
    "repetition_signals", "doc_fingerprint", "knn_brute", "knn_lsh",
    "knn_ivf", "knn_pq", "embedding_neardup", "events_sessionize",
    "events_windowed", "events_top_types", "events_asof",
]


def _rotated(d: dict) -> dict:
    ordered = [n for n in _SWEEP_FIRST if n in d] + [
        n for n in d if n not in _SWEEP_FIRST
    ]
    return {n: d[n] for n in ordered}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _rotated({name: _with_conf(fn) for name, fn in _QUERIES.items()})


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "interleave_spans": q_interleave_spans,
        "extract_spans": q_extract_spans,
        "extract_documents_text": q_extract_documents_text,
        "strip_boilerplate": q_strip_boilerplate,
        "detect_boxes": q_detect_boxes,
        "detect_box_geometry": q_detect_box_geometry,
        "detect_slanted_geometry": q_detect_slanted_geometry,
        "detect_curved_geometry": q_detect_curved_geometry,
        "detect_smooth_geometry": q_detect_smooth_geometry,
        "detect_polygons": q_detect_polygons,
        "detect_polygons_curved": q_detect_polygons_curved,
        "detect_polygons_smooth": q_detect_polygons_smooth,
        "ocr_results": q_ocr_results,
        "ocr_results_beamsearch": q_ocr_results_beamsearch,
        "ocr_results_wordbeam": q_ocr_results_wordbeam,
        "ocr_results_allowlist": q_ocr_results_allowlist,
        "ocr_paragraphs": q_ocr_paragraphs,
        "media_dims": q_media_dims,
        "media_channels": q_media_channels,
        "media_features": q_media_features,
        "span_stats": q_span_stats,
        "media_ref_usage": q_media_ref_usage,
        "dedup_exact": q_dedup_exact,
        "dedup_jaccard": q_dedup_jaccard,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash128": q_dedup_simhash128,
        "dedup_components": q_dedup_components,
        "dedup_substring_spans": q_dedup_substring_spans,
        "mask_duplicate_spans": q_mask_duplicate_spans,
        "dedup_keeplist": q_dedup_keeplist,
        "dup_source_matrix": q_dup_source_matrix,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "cdc_chunks": q_cdc_chunks,
        "ngram_novelty": q_ngram_novelty,
        "inverted_index": q_inverted_index,
        "length_quantiles": q_length_quantiles,
        "length_quantiles_hist": q_length_quantiles_hist,
        "decontaminate": q_decontaminate,
        "decontaminate_spans": q_decontaminate_spans,
        "neardup_pagerank": q_neardup_pagerank,
        "snapshot_dedup": q_snapshot_dedup,
        "curation_manifest": q_curation_manifest,
        "datacard": q_datacard,
        "html_extract": q_html_extract,
        "layout_reading_order": q_layout_reading_order,
        "lang_id": q_lang_id,
        "quality_score": q_quality_score,
        "lm_cross_entropy": q_lm_cross_entropy,
        "ccnet_buckets": q_ccnet_buckets,
        "c4_clean": q_c4_clean,
        "gopher_rules": q_gopher_rules,
        "normalize_text": q_normalize_text,
        "token_stats": q_token_stats,
        "top_ngrams": q_top_ngrams,
        "doc_frequency": q_doc_frequency,
        "tfidf_top_terms": q_tfidf_top_terms,
        "bm25_topk": q_bm25_topk,
        "bpe_merges": q_bpe_merges,
        "bpe_segment": q_bpe_segment,
        "bpe_encode": q_bpe_encode,
        "char_coverage": q_char_coverage,
        "train_split_shards": q_train_split_shards,
        "shard_leakage": q_shard_leakage,
        "grouped_split": q_grouped_split,
        "countmin_heavy_hitters": q_countmin_heavy_hitters,
        "bloom_membership": q_bloom_membership,
        "pii_scan": q_pii_scan,
        "corpus_mix": q_corpus_mix,
        "unimax_mix": q_unimax_mix,
        "dsir_importance": q_dsir_importance,
        "profile_documents": q_profile_documents,
        "stratified_sample": q_stratified_sample,
        "reservoir_sample": q_reservoir_sample,
        "chunk_overlap": q_chunk_overlap,
        "repetition_signals": q_repetition_signals,
        "doc_fingerprint": q_doc_fingerprint,
        "sequence_pack": q_sequence_pack,
        "packing_efficiency": q_packing_efficiency,
        "max_token_run": q_max_token_run,
        "source_jsonl_roundtrip": q_source_jsonl_roundtrip,
        "knn_brute": q_knn_brute,
        "knn_lsh": q_knn_lsh,
        "knn_ivf": q_knn_ivf,
        "knn_pq": q_knn_pq,
        "hard_negatives": q_hard_negatives,
        "kmeans_clusters": q_kmeans_clusters,
        "kmeans_inertia": q_kmeans_inertia,
        "embedding_outliers": q_embedding_outliers,
        "embedding_neardup": q_embedding_neardup,
        "semantic_dedup": q_semantic_dedup,
        "events_sessionize": q_events_sessionize,
        "events_windowed": q_events_windowed,
        "events_top_types": q_events_top_types,
        "events_asof": q_events_asof,
        "events_distinct_hll": q_events_distinct_hll,
        "streaming_windowed": q_streaming_windowed,
        "streaming_windowed_append": q_streaming_windowed_append,
        "streaming_sessionize_stateful": q_streaming_sessionize_stateful,
        "streaming_dedup_exact": q_streaming_dedup_exact,
        "streaming_extract": q_streaming_extract,
        "streaming_distinct_hll": q_streaming_distinct_hll,
        "streaming_sequence_pack": q_streaming_sequence_pack,
    }


def _curation_oracle_sql(mutants: str) -> str:
    from easyocr_spark.operators import curation

    return curation.duckdb_curation_sql(mutants)


def _datacard_oracle_sql(mutants: str) -> str:
    from easyocr_spark.operators import curation

    return curation.duckdb_datacard_sql(mutants)


def oracle_sql() -> dict[str, str]:
    flat = corpus.DUCKDB_FLAT_SPANS_SQL
    gt = corpus.duckdb_gt_from_ref("media_ref")
    mutants = dedup.duckdb_with_mutants_sql()
    wexpr, hexpr = corpus.duckdb_dims_exprs("media_ref")
    return _rotated({
        "interleave_spans": f"SELECT doc_id, pos, \"offset\", kind, text, media_ref FROM ({flat})",
        "extract_spans": f"""
            SELECT doc_id, "offset", kind,
                   CASE WHEN kind = 'media' THEN {gt} ELSE text END AS text,
                   media_ref
            FROM ({flat})
        """,
        "extract_documents_text": f"""
            WITH f AS (
              SELECT doc_id, "offset",
                     CASE WHEN kind = 'media' THEN {gt} ELSE text END AS text
              FROM ({flat})
            ),
            base AS (SELECT concat('doc_', doc_id) AS doc_id FROM documents)
            SELECT b.doc_id,
                   CAST(count(f."offset") AS INT) AS n_spans,
                   coalesce(string_agg(f.text, ' ' ORDER BY f."offset"), '')
                     AS full_text
            FROM base b LEFT JOIN f ON f.doc_id = b.doc_id
            GROUP BY b.doc_id
        """,
        "strip_boilerplate": pipeline.duckdb_strip_boilerplate_sql(flat),
        "detect_boxes": f"""
            SELECT media_ref, {corpus.duckdb_word_count_expr('media_ref')} AS n_boxes
            FROM ({DUCK_DISTINCT_REFS})
        """,
        "detect_box_geometry": corpus.duckdb_box_geometry_sql(DUCK_DISTINCT_REFS),
        "detect_slanted_geometry": corpus.duckdb_slanted_geometry_sql(
            DUCK_DISTINCT_REFS
        ),
        "detect_curved_geometry": corpus.duckdb_curved_geometry_sql(
            DUCK_DISTINCT_REFS
        ),
        "detect_smooth_geometry": corpus.duckdb_smooth_geometry_sql(
            DUCK_DISTINCT_REFS
        ),
        "detect_polygons": corpus.duckdb_poly_geometry_sql(DUCK_DISTINCT_REFS),
        "detect_polygons_curved": corpus.duckdb_curved_poly_sql(
            DUCK_DISTINCT_REFS
        ),
        "detect_polygons_smooth": corpus.duckdb_smooth_poly_sql(
            DUCK_DISTINCT_REFS
        ),
        "ocr_results": f"""
            SELECT media_ref, {gt} AS text FROM ({DUCK_DISTINCT_REFS})
        """,
        "ocr_results_beamsearch": f"""
            SELECT media_ref, {gt} AS text FROM ({DUCK_DISTINCT_REFS})
        """,
        "ocr_results_wordbeam": f"""
            SELECT media_ref, {gt} AS text FROM ({DUCK_DISTINCT_REFS})
        """,
        "ocr_results_allowlist": f"""
            SELECT media_ref, {gt} AS text FROM ({DUCK_DISTINCT_REFS})
            WHERE regexp_full_match({gt}, '[A-Z0-9 ]*')
        """,
        "ocr_paragraphs": f"""
            SELECT media_ref,
                   CASE WHEN {gt} = '' THEN 0 ELSE 1 END AS n_paragraphs,
                   {gt} AS text
            FROM ({DUCK_DISTINCT_REFS})
        """,
        "media_dims": f"""
            SELECT media_ref, {wexpr} AS width, {hexpr} AS height
            FROM ({DUCK_DISTINCT_REFS})
        """,
        "media_channels": f"""
            SELECT media_ref, {corpus.duckdb_channels_expr('media_ref')} AS channels,
                   {wexpr} AS width, {hexpr} AS height
            FROM ({DUCK_DISTINCT_REFS})
        """,
        "media_features": corpus.duckdb_image_features_sql(DUCK_DISTINCT_REFS),
        "span_stats": f"""
            SELECT doc_id, count(*) AS n_spans,
                   CAST(sum(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_media,
                   CAST(sum(CASE WHEN kind = 'text' THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_text
            FROM ({flat}) GROUP BY doc_id
        """,
        "media_ref_usage": f"""
            SELECT media_ref, count(*) AS n_uses FROM ({flat})
            WHERE kind = 'media' GROUP BY 1 HAVING count(*) > 1
        """,
        "dedup_exact": dedup.duckdb_exact_sql(mutants),
        "dedup_jaccard": dedup.duckdb_jaccard_sql(mutants),
        "dedup_minhash_lsh": dedup.duckdb_jaccard_sql(mutants),
        "dedup_simhash": dedup.duckdb_simhash_pairs_sql(mutants),
        "dedup_simhash128": dedup.duckdb_simhash128_pairs_sql(mutants),
        "dedup_components": dedup.duckdb_components_sql(mutants),
        "dedup_substring_spans": dedup.duckdb_duplicate_spans_sql(mutants),
        "mask_duplicate_spans": dedup.duckdb_mask_spans_sql(mutants),
        "dedup_keeplist": dedup.duckdb_keeplist_sql(mutants),
        "dup_source_matrix": dedup.duckdb_dup_source_matrix_sql(),
        "winnowing_fingerprints": dedup.duckdb_winnowing_sql(mutants),
        "cdc_chunks": dedup.duckdb_cdc_chunks_sql(),
        "ngram_novelty": dedup.duckdb_ngram_novelty_sql(mutants),
        "inverted_index": retrieval.duckdb_inverted_index_sql(),
        "length_quantiles": ta.duckdb_length_quantiles_sql(),
        "length_quantiles_hist": ta.duckdb_length_quantiles_hist_sql(),
        "decontaminate": dedup.duckdb_decontaminate_sql(
            "SELECT * FROM documents"
        ),
        "decontaminate_spans": dedup.duckdb_decontaminate_spans_sql(
            dedup.duckdb_contamination_augment_sql()
        ),
        "neardup_pagerank": dedup.duckdb_neardup_pagerank_sql(),
        "snapshot_dedup": dedup.duckdb_snapshot_dedup_sql(
            "SELECT doc_id, text FROM documents",
            dedup.duckdb_snapshot_new_sql(),
        ),
        "curation_manifest": _curation_oracle_sql(mutants),
        "datacard": _datacard_oracle_sql(mutants),
        "html_extract": web_extract.duckdb_html_extract_sql(),
        "layout_reading_order": web_extract.duckdb_layout_sql(),
        "lang_id": ta.duckdb_lang_id_sql(),
        "quality_score": ta.duckdb_quality_sql(),
        "lm_cross_entropy": ta.duckdb_lm_cross_entropy_sql(),
        "ccnet_buckets": ta.duckdb_ccnet_buckets_sql(),
        "c4_clean": cleaning.duckdb_c4_clean_sql(),
        "gopher_rules": cleaning.duckdb_gopher_rules_sql(),
        "normalize_text": cleaning.duckdb_normalize_text_sql(),
        "token_stats": ta.duckdb_token_stats_sql(),
        "top_ngrams": ta.duckdb_top_ngrams_sql(),
        "doc_frequency": ta.duckdb_doc_frequency_sql(),
        "tfidf_top_terms": ta.duckdb_tfidf_sql(),
        "bm25_topk": retrieval.duckdb_bm25_sql(),
        "bpe_merges": bpe.duckdb_bpe_merges_sql(),
        "bpe_segment": bpe.duckdb_bpe_segment_sql(),
        "bpe_encode": bpe.duckdb_bpe_encode_sql(),
        "char_coverage": bpe.duckdb_char_coverage_sql(),
        "train_split_shards": sharding.duckdb_split_shards_sql(),
        "shard_leakage": sharding.duckdb_shard_leakage_sql(
            dedup.duckdb_contamination_augment_sql()
        ),
        "grouped_split": sharding.duckdb_grouped_split_sql(mutants),
        "countmin_heavy_hitters": sketches.duckdb_countmin_sql(),
        "bloom_membership": sketches.duckdb_bloom_sql(),
        "pii_scan": pii.duckdb_pii_sql(),
        "corpus_mix": mixing.duckdb_mix_sql(),
        "unimax_mix": mixing.duckdb_unimax_sql(),
        "dsir_importance": mixing.duckdb_dsir_sql(),
        "profile_documents": profiling.duckdb_profile_sql(),
        "stratified_sample": ta.duckdb_stratified_sample_sql(),
        "reservoir_sample": ta.duckdb_reservoir_sample_sql(),
        "chunk_overlap": ta.duckdb_chunk_overlap_sql(),
        "repetition_signals": ta.duckdb_repetition_sql(),
        "doc_fingerprint": ta.duckdb_fingerprint_sql(),
        "sequence_pack": ta.duckdb_sequence_pack_sql(),
        "packing_efficiency": ta.duckdb_packing_efficiency_sql(),
        "max_token_run": ta.duckdb_max_token_run_sql(),
        "source_jsonl_roundtrip": (
            "SELECT doc_id, md5(text) AS text_md5, "
            "CAST(length(text) AS INT) AS n_chars FROM documents"
        ),
        "knn_brute": similarity.duckdb_brute_topk_sql(),
        "knn_lsh": similarity.duckdb_lsh_topk_sql(),
        "knn_ivf": similarity.duckdb_ivf_topk_sql(),
        "knn_pq": similarity.duckdb_pq_topk_sql(),
        "hard_negatives": similarity.duckdb_hard_negatives_sql(),
        "kmeans_clusters": clustering.duckdb_kmeans_sql(),
        "kmeans_inertia": clustering.duckdb_kmeans_inertia_sql(),
        "embedding_outliers": clustering.duckdb_embedding_outliers_sql(),
        "embedding_neardup": similarity.duckdb_neardup_sql(),
        "semantic_dedup": clustering.duckdb_semdedup_sql(
            table=f"({similarity.DUCK_PLANTED})"
        ),
        "events_sessionize": events.duckdb_sessionize_sql(),
        "events_windowed": events.duckdb_windowed_sql(),
        "events_top_types": events.duckdb_top_event_types_sql(),
        "events_asof": events.duckdb_asof_sql(),
        "events_distinct_hll": events.duckdb_distinct_hll_sql(),
        "streaming_windowed": events.duckdb_windowed_sql(),
        "streaming_windowed_append": events.duckdb_windowed_append_sql(),
        "streaming_sessionize_stateful": events.duckdb_sessionize_closed_sql(),
        "streaming_dedup_exact": "SELECT DISTINCT event_id FROM events",
        "streaming_distinct_hll": events.duckdb_streaming_hll_sql(),
        "streaming_sequence_pack": ta.duckdb_sequence_pack_sql(),
        "streaming_extract": f"""
            SELECT doc_id, "offset", kind,
                   CASE WHEN kind = 'media' THEN {gt} ELSE text END AS text,
                   media_ref
            FROM ({flat})
        """,
    })
