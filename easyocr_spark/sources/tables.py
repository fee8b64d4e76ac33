"""Source scans for the engine.

Production target is an Iceberg catalog (the north rule's 10^12-doc
table, read with ``spark.read.format("iceberg")`` + snapshot pinning);
the sandbox has no Iceberg jars, so `read_table` goes through parquet —
the plan shape (column pruning, predicate pushdown, partition pruning)
is identical. The Iceberg-specific bits (snapshot id for checkpoint
lineage) are modeled in state/checkpoint.py.

``interleaved_documents`` derives the input_hint-shaped nested table
from the driver's flat documents table (see fixtures/corpus.py — the
derivation is deterministic and DuckDB-reproducible). ``media_table``
renders the deterministic media fixture once per scale factor and
caches it as parquet (a stand-in for the real bytes column / object
store the media_refs would resolve to).
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..fixtures.corpus import (
    MEDIA_SPEC_VERSION,
    SPARK_INTERLEAVED_SQL,
    media_spec,
    render_media,
)

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

CACHE_ROOT = os.environ.get("EASYOCR_SPARK_CACHE", "/tmp/easyocr_spark_cache")


def _input_bytes(path: str) -> int:
    """Total on-disk bytes of a parquet file or directory (0 if
    unreadable — caller treats that as 'do not touch the scan')."""
    try:
        if os.path.isdir(path):
            return sum(
                os.path.getsize(os.path.join(dp, f))
                for dp, _, fs in os.walk(path)
                for f in fs
            )
        return os.path.getsize(path)
    except OSError:
        return 0


def spread_small_scan(spark: SparkSession, df: DataFrame, path: str) -> DataFrame:
    """Scale-adaptive scan parallelism (optimization guide §2: derive
    partitioning from input size, never a constant tuned for one mode).

    A parquet input smaller than one scan split
    (``spark.sql.files.maxPartitionBytes``) arrives as a SINGLE task —
    parquet cannot split inside a row group — so every narrow operator
    downstream of the scan runs on one core no matter how many the
    session has. Measured at sf0.1/local[32]: cdc_chunks 5.8s -> 0.6s,
    the whole map side of the tokenize/hash pipelines was serialized on
    one task. For such sub-split inputs, spread rows round-robin across
    the default parallelism (deterministic under
    ``spark.sql.execution.sortBeforeRepartition``, on by default; all
    declared queries are partition-layout-insensitive — their
    aggregations are keyed and their collect_lists array_sort-wrapped).

    Inputs of at least one split (the 100 TB case: many files / many
    row groups, where the scan parallelizes by itself and an extra
    full shuffle would be pure waste) pass through untouched, as does a
    single-core session.

    Only applied to tables on the SPREAD_TABLES allowlist: a table is
    eligible ONLY when every operator over it is accumulation-order
    insensitive. documents/embeddings qualify (integer/milli
    arithmetic, per-row folds, array_sort-wrapped collect_lists);
    events does NOT — its windowed/sessionized rollups sum the DOUBLE
    ``value`` column, and IEEE summation order changes with partition
    layout (observed: 9 windows flipping a floor() boundary under a
    32-way spread). events queries are aggregation-first anyway (the
    scan feeds an immediate keyed shuffle), so scan parallelism was
    never their bottleneck."""
    para = spark.sparkContext.defaultParallelism
    if para <= 1:
        return df
    size = _input_bytes(path)
    if size <= 0:
        return df
    try:
        max_split = int(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
    except Exception:
        max_split = 134217728
    if size >= max_split:
        return df
    # width = a quarter of the cores (min 2): measured at sf0.1 against
    # full-width and no-spread — full-width (32) taxed every
    # cheap shuffle-first query ~0.15-0.4s of pure stage-scheduling
    # overhead, while 8 matched or beat the unspread baseline on those
    # AND kept the heavy narrow kernels within a few % of full-width
    # (cdc 0.33s@8 vs 0.35s@32 vs 0.69s@1; corpus_mix 0.31s@8 vs
    # 0.62s@32 vs 0.48s@1). CPU-dense post-shuffle stages regain full
    # width from AQE (minPartitionSize floor, session.py).
    return df.repartition(max(2, para // 4))


# tables verified accumulation-order insensitive end-to-end (see
# spread_small_scan docstring; the oracle sweep is the enforcement)
SPREAD_TABLES = {"documents", "embeddings"}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name in SPREAD_TABLES:
        return spread_small_scan(spark, df, path)
    return df


REPLICA_STRIDE = 500_000


def interleaved_documents(
    spark: SparkSession, sf_dir: str, replicate: int = 1
) -> DataFrame:
    """documents(doc_id string, spans array<struct<kind,text,media_ref,offset>>)

    Pure Catalyst derivation (sequence/transform/filter higher-order
    functions — no Python UDF), so at scale this is a narrow map over
    the flat scan: no shuffle, full pushdown.

    ``replicate`` > 1 deterministically scales the corpus (doc_id
    shifted by REPLICA_STRIDE per replica; every derived quantity is a
    pure function of the shifted id) — used by the scaling bench so
    throughput dominates fixed stage latency. Correctness queries always
    use replicate=1 (the oracle's corpus).
    """
    flat = read_table(spark, sf_dir, "documents")
    if replicate > 1:
        from pyspark.sql import functions as F

        reps = spark.range(replicate).select(F.col("id").alias("_rep"))
        flat = flat.crossJoin(reps).select(
            (F.col("doc_id") + F.col("_rep") * REPLICA_STRIDE).alias("doc_id"),
            "text",
        ).repartition(spark.sparkContext.defaultParallelism)
    flat.createOrReplaceTempView("_flat_documents")
    return spark.sql(SPARK_INTERLEAVED_SQL.format(documents="_flat_documents"))


def _render_batches(it):
    for pdf in it:
        content = [render_media(r) for r in pdf["media_ref"]]
        langs = [media_spec(r)["lang"] for r in pdf["media_ref"]]
        yield pd.DataFrame(
            {"media_ref": pdf["media_ref"], "content": content, "lang": langs}
        )


def media_table(
    spark: SparkSession, sf_dir: str, cache: bool = True, replicate: int = 1
) -> DataFrame:
    """media(media_ref string, content binary, lang string).

    Rendered via an Arrow-batched mapInPandas over the distinct
    media_refs of the derived corpus (executor-parallel, zero per-row
    Python at the Spark boundary), cached as parquet per scale factor.
    """
    sf_name = os.path.basename(os.path.normpath(sf_dir))
    # version-stamped cache dir: a render-spec change must never read a
    # stale cache rendered by an older spec
    suffix = (
        f"media_v{MEDIA_SPEC_VERSION}_x{replicate}.parquet"
        if replicate > 1
        else f"media_v{MEDIA_SPEC_VERSION}.parquet"
    )
    cache_path = os.path.join(CACHE_ROOT, sf_name, suffix)
    if cache and os.path.exists(os.path.join(cache_path, "_SUCCESS")):
        return spark.read.parquet(cache_path)
    docs = interleaved_documents(spark, sf_dir, replicate=replicate)
    from pyspark.sql import functions as F

    refs = (
        docs.select(F.explode("spans").alias("s"))
        .filter(F.col("s.kind") == "media")
        .select(F.col("s.media_ref").alias("media_ref"))
        .distinct()
    )
    media = refs.mapInPandas(
        _render_batches, schema="media_ref string, content binary, lang string"
    )
    if cache:
        media.write.mode("overwrite").parquet(cache_path)
        return spark.read.parquet(cache_path)
    return media
