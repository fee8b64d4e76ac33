"""Benchmark harness — prints ONE JSON line for the driver.

Headline queries at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1)
on local[session.DEFAULT_CPUS] ($SPARK_GRAFT_CPUS, else the CPUs this
process may run on). The primary metric is the flagship
extraction pipeline's documents/sec (media spans OCR'd end-to-end);
per-query wall seconds are reported in "queries".

Scaling evidence (north rule: >=0.8 efficiency N -> 4N) is produced by
tools/scaling_bench.py, which runs THIS workload at two parallelism
levels and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections.abc import Callable
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    from pyspark.sql import DataFrame

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _previous_round_timings(
    cpus: int, sf: str, media_spec_version: int
) -> dict[str, float]:
    """Rolling per-query MIN across the driver-recorded BENCH_r*.json
    rounds of the SAME run shape — equal ``cpus``, ``sf`` and
    ``media_spec_version`` — used as the outlier baseline. A record
    taken on another core count, scale factor or media spec is not a
    baseline for this run: local[32] walls would flag every heavy
    query of a 4-core run. A single throttle-contaminated round (e.g.
    r3's extract 6.76s vs a 3.99s idle-box re-run) must not become the
    next round's baseline, so the record is the best wall ever observed
    for each query, not the newest file's. Missing/garbled files ->
    skipped; no matching files -> {}."""
    import glob
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    shape = (cpus, os.path.normpath(sf), media_spec_version)
    record: dict[str, float] = {}
    for p in glob.glob(os.path.join(here, "BENCH_r*.json")):
        if not re.search(r"BENCH_r(\d+)\.json$", p):
            continue
        try:
            with open(p) as f:
                d = json.load(f)
            # the driver wraps our JSON line under "parsed"
            d = d.get("parsed", d)
            if (
                d.get("cpus"),
                os.path.normpath(d.get("sf") or ""),
                d.get("media_spec_version"),
            ) != shape:
                continue
            for name, wall in dict(d.get("queries", {})).items():
                wall = float(wall)
                if wall > 0 and (name not in record or wall < record[name]):
                    record[name] = wall
        except Exception:
            continue
    return record


DISPERSION_GUARD = 1.5  # record-less queries: median/best ratio that flags
DISPERSION_FLOOR_S = 0.5  # sub-second walls jitter >1.5x naturally; ignore


def is_suspect(walls: list[float], record: float | None, guard: float) -> bool:
    """Pure decision: should this query's best wall be flagged as
    environment noise? With a same-shape record, flag when the best
    run still blows past ``guard`` x the record (the sandbox shows
    random 5-15x throttle slowdowns after sustained load). With NO
    record (first appearance — the case r4's knn_ivf/hll/substring
    walls slipped through), fall back to within-round dispersion: if
    the median repeat exceeds 1.5x the best, the box was throttling
    MID-measurement and even the best wall is untrustworthy. Sub-second
    bests are exempt from the dispersion test (natural jitter)."""
    best = min(walls)
    if record:
        return best > guard * record
    med = sorted(walls)[len(walls) // 2]
    return best > DISPERSION_FLOOR_S and med > DISPERSION_GUARD * best


def bench_queries(spark, sf_dir: str) -> dict[str, Callable[[], DataFrame]]:
    """The timed query set, name -> DataFrame builder, in report order.

    The five input tables are read here, outside any timed region, and
    shared by every builder; a builder runs only when called. With
    ``spark=None`` nothing is read, so ``list(bench_queries(None, sf))``
    is just the names. The same set feeds bench_extra.py and the
    plan-fingerprint test."""
    from easyocr_spark.operators import bpe as bpe_mod
    from easyocr_spark.operators import (
        cleaning,
        clustering,
        dedup,
        events,
        mixing,
        pii,
        pipeline,
        retrieval,
        sharding,
        similarity,
        sketches,
        web_extract,
    )
    from easyocr_spark.operators import text_analysis as ta
    from easyocr_spark.sources import tables

    if spark is None:  # names only: no builder is ever called
        docs = media = flat_docs = emb = ev = None
    else:
        docs = tables.interleaved_documents(spark, sf_dir)
        media = tables.media_table(spark, sf_dir)
        flat_docs = tables.read_table(spark, sf_dir, "documents")
        emb = tables.read_table(spark, sf_dir, "embeddings")
        ev = tables.read_table(spark, sf_dir, "events")

    return {
        # flagship: full OCR extraction (explode -> dedup refs -> join
        # bytes -> Arrow OCR UDF -> join back -> reassemble)
        "extract": lambda: pipeline.extract_documents(docs, media),
        "detect_recognize_refs": lambda: pipeline.ocr_media_refs(
            pipeline.explode_spans(docs), media
        ),
        "span_algebra": lambda: pipeline.reassemble(
            pipeline.explode_spans(docs).select(
                "doc_id", "offset", "kind", "text", "media_ref"
            )
        ),
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_pairs(
            dedup.with_mutants(flat_docs)
        ),
        "dedup_simhash": lambda: dedup.simhash_pairs(
            dedup.with_mutants(flat_docs)
        ),
        "dedup_simhash128": lambda: dedup.simhash128_pairs(
            dedup.with_mutants(flat_docs)
        ),
        "knn_brute": lambda: similarity.brute_force_topk(emb),
        "knn_lsh": lambda: similarity.lsh_topk(emb),
        "knn_ivf": lambda: similarity.ivf_topk(emb),
        "knn_pq": lambda: similarity.pq_topk(emb),
        "quality_tokens": lambda: ta.quality_score(flat_docs).join(
            ta.token_stats(flat_docs).withColumnRenamed(
                "n_tokens", "n_tokens_ws"
            ),
            "doc_id",
        ),
        "dedup_substring_spans": lambda: dedup.duplicate_spans(
            dedup.with_mutants(flat_docs)
        ),
        "lm_cross_entropy": lambda: ta.lm_cross_entropy(flat_docs),
        "sequence_pack": lambda: ta.sequence_pack(flat_docs),
        "decontaminate": lambda: dedup.decontaminate(flat_docs),
        "decontaminate_spans": lambda: dedup.decontaminate_spans(
            dedup.contamination_augment(flat_docs)
        ),
        "neardup_pagerank": lambda: dedup.neardup_pagerank(flat_docs),
        "shard_leakage": lambda: sharding.shard_leakage(
            dedup.contamination_augment(flat_docs)
        ),
        "snapshot_dedup": lambda: dedup.snapshot_dedup(
            flat_docs, dedup.snapshot_new(flat_docs)
        ),
        "strip_boilerplate": lambda: pipeline.strip_boilerplate(docs),
        "events_sessionize": lambda: events.sessionize(ev),
        "events_distinct_hll": lambda: events.distinct_users_hll(ev),
        "pii_scan": lambda: pii.pii_scan(flat_docs),
        "corpus_mix": lambda: mixing.corpus_mix(flat_docs),
        "countmin": lambda: sketches.countmin_heavy_hitters(flat_docs),
        "bloom": lambda: sketches.bloom_membership(flat_docs),
        "kmeans": lambda: clustering.kmeans_clusters(emb),
        "winnowing": lambda: dedup.winnowing_fingerprints(
            dedup.with_mutants(flat_docs)
        ),
        "dsir": lambda: mixing.dsir_importance(flat_docs),
        "embedding_outliers": lambda: clustering.embedding_outliers(emb),
        "bm25_topk": lambda: retrieval.bm25_topk(flat_docs),
        "ccnet_buckets": lambda: ta.ccnet_buckets(flat_docs),
        "c4_clean": lambda: cleaning.c4_clean(flat_docs),
        "gopher_rules": lambda: cleaning.gopher_rules(flat_docs),
        "cdc_chunks": lambda: dedup.cdc_chunks(flat_docs),
        "hard_negatives": lambda: similarity.hard_negatives(emb),
        "unimax_mix": lambda: mixing.unimax_mix(flat_docs),
        "ngram_novelty": lambda: dedup.ngram_novelty(
            dedup.with_mutants(flat_docs)
        ),
        "html_extract": lambda: web_extract.html_extract(flat_docs),
        "layout_reading_order": lambda: web_extract.layout_reading_order(
            flat_docs
        ),
        "normalize_text": lambda: cleaning.normalize_text(flat_docs),
        "char_coverage": lambda: bpe_mod.char_coverage(flat_docs),
        "length_quantiles_hist": lambda: ta.length_quantiles_hist(
            flat_docs
        ),
    }


def checksum(df) -> int:
    """The benchmark action. count() is NOT a safe one: Catalyst prunes
    row-count-preserving subtrees (e.g. a left join on aggregate keys
    elides the entire build side). Hash every column so the full plan
    must execute."""
    from pyspark.sql import functions as F

    row = df.select(
        F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("h")
    ).collect()
    return row[0]["h"] or 0


def warm_up(spark, sf_dir: str) -> None:
    """Spin up JVM codegen + Python UDF workers on a small slice so the
    timed numbers measure throughput, not process start-up."""
    from easyocr_spark.operators import pipeline
    from easyocr_spark.sources import tables

    docs = tables.interleaved_documents(spark, sf_dir)
    media = tables.media_table(spark, sf_dir)
    pipeline.ocr_media_refs(
        pipeline.explode_spans(docs.limit(64)), media
    ).count()


def run_bench(cpus: int | None = None, sf_dir: str | None = None) -> dict:
    from easyocr_spark.session import DEFAULT_CPUS, get_spark
    from easyocr_spark.sources import tables

    sf_dir = sf_dir or os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = cpus or DEFAULT_CPUS
    spark = get_spark(app_name=f"bench_{cpus}", cpus=cpus)

    from easyocr_spark.fixtures.corpus import MEDIA_SPEC_VERSION as media_spec_version

    queries = bench_queries(spark, sf_dir)
    n_media = tables.media_table(spark, sf_dir).count()  # cached render, not timed
    n_docs = tables.interleaved_documents(spark, sf_dir).count()
    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    outliers: list[str] = []
    prev = _previous_round_timings(cpus, sf_dir, media_spec_version)

    def timed(name: str, runs: int = 2, guard: float = 3.0,
              cooldown: float = 0.0) -> None:
        # best-of-N: single-shot walls swing ~3x with JVM warm-up/GC
        # timing; capacity is the fastest run. First-appearance queries
        # get a third run so the dispersion fallback in is_suspect has
        # a usable median.
        df_fn = queries[name]
        record = prev.get(name)
        if not record:
            runs = max(runs, 3)
        walls = []
        for _ in range(runs):
            if cooldown:
                time.sleep(cooldown)
            t0 = time.time()
            checksum(df_fn())
            walls.append(time.time() - t0)
        # self-defense against sandbox throttling (the box shows random
        # 5-15x slowdowns after sustained load — r2's knn_brute=62.9s and
        # r3's extract=6.76s were both verified noise): if the best run
        # looks suspect vs the same-shape record (or, for record-less
        # queries, by within-round dispersion), re-run once; if it STILL
        # does, flag it in the JSON so a throttled wall can't masquerade
        # as a regression.
        if is_suspect(walls, record, guard):
            if cooldown:
                time.sleep(cooldown)
            t0 = time.time()
            checksum(df_fn())
            walls.append(time.time() - t0)
            if is_suspect(walls, record, guard):
                outliers.append(name)
        timings[name] = round(min(walls), 3)

    # The flagship IS the headline `value`, so it gets the tightest
    # defense: best-of-3 with a brief cooldown before each run (the
    # driver benches right after its ~12-min correctness sweep, when the
    # box is thermally throttled) and a 1.3x guard vs the same-shape
    # record — ~1.5x thermal drift on this one number misrepresented the
    # engine in r2 AND r3.
    for name in queries:
        if name == "extract":
            timed(name, runs=3, guard=1.3, cooldown=2.0)
        else:
            timed(name)

    extract_sec = timings["extract"]
    result = {
        "metric": "extract_documents_per_sec",
        "value": round(n_docs / extract_sec, 2),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "n_docs": n_docs,
        # corpus version stamp: MEDIA_SPEC_VERSION changes the OCR
        # kernel's per-image work (r2->r3 went 5->7: curved class,
        # RGBA/palette decode), so cross-round comparisons are only
        # apples-to-apples within the same spec version
        "media_spec_version": media_spec_version,
        "n_media": n_media,
        "total_sec": round(sum(timings.values()), 2),
        # queries whose wall exceeded the guard (3x the same-shape
        # record; 1.3x for the flagship; within-round dispersion for
        # first appearances) even after an extra run — treat as
        # environment noise, not a regression, unless they repeat
        # across rounds
        "suspect_outliers": outliers,
    }
    spark.stop()
    return result


if __name__ == "__main__":
    print(json.dumps(run_bench()))
