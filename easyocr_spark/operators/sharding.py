"""Deterministic train/val/test split + epoch-shard assignment — the
"global shuffle" end of a training-data pipeline.

A trillion-doc corpus can't be shuffled by sorting on a random()
column (non-reproducible, and a full global sort): the standard
web-scale recipe is HASH ordering — derive per-doc pseudo-random keys
from the stable doc_id, split by residue, shard by a second key, and
order within each shard by a third. Re-running the job on any subset
of the corpus yields the same assignment for every doc (no RNG state,
no seed file), which is what makes training restarts and incremental
corpus refreshes reproducible.

Spark shape: the split and shard columns are a narrow, shuffle-free
codegen projection; the only shuffle is the per-shard epoch ordering
(`row_number` over (split, shard)) — `2 * SHARDS` independent sort
partitions, so parallelism scales with the shard count (shards scale
with the cluster; a shard is the unit a data-loader worker consumes).
The LCG keys reuse `text_analysis.stratified_sample`'s proven
engine-portable int64 arithmetic — doc_id * mult + inc mod 2^31-1 stays
exact in both engines (|doc_id| < ~4e9 at any SF keeps the product
under 2^63).

Split rule: lcg1 % 100 -> <90 train, <95 val, else test (the
conventional 90/5/5). Output: (doc_id, split, shard, epoch_pos) with
epoch_pos a contiguous 1..n_shard ordering within each (split, shard).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from easyocr_spark.operators.text_analysis import SAMPLE_MOD

SHARDS = 8
S_MULT_1, S_INC_1 = 1103515245, 54321  # split key
S_MULT_2, S_INC_2 = 69069, 36_2437    # shard key
S_MULT_3, S_INC_3 = 214013, 2531011   # epoch-order key
TRAIN_PCT, VAL_PCT = 90, 95


def _lcg(mult: int, inc: int):
    return (F.col("doc_id") * F.lit(mult) + F.lit(inc)) % F.lit(SAMPLE_MOD)


def train_split_shards(docs: DataFrame, shards: int = SHARDS) -> DataFrame:
    b = _lcg(S_MULT_1, S_INC_1) % 100
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    staged = docs.select(
        "doc_id",
        split.alias("split"),
        (_lcg(S_MULT_2, S_INC_2) % shards).alias("shard"),
        _lcg(S_MULT_3, S_INC_3).alias("ek"),
    )
    w = Window.partitionBy("split", "shard").orderBy("ek", "doc_id")
    return staged.select(
        "doc_id",
        "split",
        "shard",
        F.row_number().over(w).cast("long").alias("epoch_pos"),
    )


def duckdb_split_shards_sql(table: str = "documents", shards: int = SHARDS) -> str:
    def lcg(mult: int, inc: int) -> str:
        return f"((doc_id * {mult} + {inc}) % {SAMPLE_MOD})"

    return f"""
    WITH staged AS (
      SELECT doc_id,
             CASE WHEN {lcg(S_MULT_1, S_INC_1)} % 100 < {TRAIN_PCT} THEN 'train'
                  WHEN {lcg(S_MULT_1, S_INC_1)} % 100 < {VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split,
             {lcg(S_MULT_2, S_INC_2)} % {shards} AS shard,
             {lcg(S_MULT_3, S_INC_3)} AS ek
      FROM {table}
    )
    SELECT doc_id, split, shard,
           row_number() OVER (PARTITION BY split, shard
                              ORDER BY ek, doc_id)::BIGINT AS epoch_pos
    FROM staged
    """


def shard_leakage(docs: DataFrame, n: int | None = None) -> DataFrame:
    """Cross-split LEAKAGE AUDIT over the train/val/test assignment:
    for each held-out split, how many of its distinct n-token grams
    also occur anywhere in the train split — the hygiene check a
    training pipeline runs on its own sharding output before an eval
    number is trusted (decontaminate audits against an external
    benchmark; this audits the pipeline's OWN split boundary, which
    near-duplicates silently breach). Output is bounded at two rows:
    (split, n_docs, n_grams, n_leaked, leak_milli) for val and test,
    leak_milli an exact integer rate (both engines' integer division
    agrees on positives).

    Plan: the split column is a shuffle-free LCG projection
    (train_split_shards' key), joined onto ONE distinct (doc, gram)
    materialization (the decontaminate gram shape, persisted once —
    owned cache, released after the bounded result materializes); the
    leak test is a left-semi equi-join on the 62-bit gram key
    shuffled by gram, never a document pair join; the final
    aggregations are map-side-combining counts keyed by the 2-value
    split column. Linear in total gram count at any corpus size."""
    from pyspark import StorageLevel

    from easyocr_spark.operators.dedup import SUBSTR_N, pos_grams

    n = SUBSTR_N if n is None else n
    splits = train_split_shards(docs).select("doc_id", "split")
    g = (
        pos_grams(docs, n)
        .select("doc_id", "g1", "g2")
        .distinct()
        .join(splits, "doc_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    train_g = g.filter(F.col("split") == "train").select("g1", "g2").distinct()
    eval_g = (
        g.filter(F.col("split") != "train")
        .select("split", "g1", "g2")
        .distinct()
    )
    leaked = (
        eval_g.join(train_g, ["g1", "g2"], "left_semi")
        .groupBy("split")
        .agg(F.count("*").alias("n_leaked"))
    )
    totals = eval_g.groupBy("split").agg(F.count("*").alias("n_grams"))
    ndocs = (
        splits.filter(F.col("split") != "train")
        .groupBy("split")
        .agg(F.count("*").alias("n_docs"))
    )
    out = (
        ndocs.join(totals, "split", "left")
        .join(leaked, "split", "left")
        .select(
            "split",
            "n_docs",
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_leaked", F.lit(0)).cast("long").alias("n_leaked"),
        )
        .select(
            "*",
            F.when(
                F.col("n_grams") > 0,
                F.expr("(1000 * n_leaked) div n_grams"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("leak_milli"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    g.unpersist()
    return out


def duckdb_shard_leakage_sql(table_sql: str, n: int | None = None) -> str:
    from easyocr_spark.operators.dedup import (
        HASH_BASE_1,
        HASH_BASE_2,
        HASH_BASE_3,
        HASH_BASE_4,
        SUBSTR_N,
        duck_tok_fold,
        duck_win_fold,
    )

    n = SUBSTR_N if n is None else n
    lcg1 = f"((doc_id * {S_MULT_1} + {S_INC_1}) % {SAMPLE_MOD})"
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM ({table_sql})
    ),
    hs AS (
      SELECT doc_id,
             {duck_tok_fold(HASH_BASE_1)} AS h1,
             {duck_tok_fold(HASH_BASE_2)} AS h2
      FROM toks
    ),
    grams AS (
      SELECT DISTINCT doc_id,
             {duck_win_fold('h1', HASH_BASE_3, n)} AS g1,
             {duck_win_fold('h2', HASH_BASE_4, n)} AS g2
      FROM hs, UNNEST(range(0, greatest(len(h1) - {n} + 1, 0))) AS t(i)
    ),
    splits AS (
      SELECT doc_id,
             CASE WHEN {lcg1} % 100 < {TRAIN_PCT} THEN 'train'
                  WHEN {lcg1} % 100 < {VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split
      FROM ({table_sql})
    ),
    g AS (
      SELECT s.split, gr.g1, gr.g2, gr.doc_id
      FROM grams gr JOIN splits s USING (doc_id)
    ),
    train_g AS (SELECT DISTINCT g1, g2 FROM g WHERE split = 'train'),
    eval_g AS (
      SELECT DISTINCT split, g1, g2 FROM g WHERE split != 'train'
    ),
    leaked AS (
      SELECT split, count(*) AS n_leaked
      FROM eval_g SEMI JOIN train_g USING (g1, g2)
      GROUP BY 1
    ),
    totals AS (SELECT split, count(*) AS n_grams FROM eval_g GROUP BY 1),
    nd AS (
      SELECT split, count(*) AS n_docs FROM splits
      WHERE split != 'train' GROUP BY 1
    )
    SELECT nd.split,
           CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(coalesce(t.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(coalesce(l.n_leaked, 0) AS BIGINT) AS n_leaked,
           CAST(CASE WHEN coalesce(t.n_grams, 0) > 0
                     THEN (1000 * coalesce(l.n_leaked, 0)) // t.n_grams
                     ELSE 0 END AS BIGINT) AS leak_milli
    FROM nd
    LEFT JOIN totals t USING (split)
    LEFT JOIN leaked l USING (split)
    """


def grouped_split(docs: DataFrame) -> DataFrame:
    """Near-dup-aware GROUP-HOLDOUT split — the prevention counterpart
    to shard_leakage's detection: near-duplicate documents must never
    straddle train/test (a held-out doc whose near-copy sits in train
    is leaked eval signal), so the split key is the near-dup COMPONENT
    id, not the doc id — every member of a cluster draws the same
    split; docs with no near-dup draw on their own id as before.

    Same LCG split rule and 90/5/5 thresholds as train_split_shards,
    applied to group_key = coalesce(component_id, doc_id); the
    component table comes from the verified MinHash+LSH star
    contraction (dedup.dedup_components). Plan: the component build's
    own shuffles plus ONE doc_id-keyed left join whose right side is
    bounded by the documents that participate in a near-dup pair (the
    dup fraction of the corpus) — AQE sizes it; the split itself stays
    a shuffle-free projection.

    Output: (doc_id, group_key, n_members, split)."""
    from easyocr_spark.operators import dedup

    comps = dedup.dedup_components(docs).select(
        "doc_id", "component_id", "n_members"
    )
    gk = F.coalesce(F.col("component_id"), F.col("doc_id"))
    b = (gk * S_MULT_1 + S_INC_1) % SAMPLE_MOD % 100
    split = (
        F.when(b < TRAIN_PCT, F.lit("train"))
        .when(b < VAL_PCT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            gk.cast("long").alias("group_key"),
            F.coalesce("n_members", F.lit(1)).cast("long").alias(
                "n_members"
            ),
            split.alias("split"),
        )
    )


def duckdb_grouped_split_sql(table_sql: str) -> str:
    from easyocr_spark.operators import dedup

    gk = "coalesce(c.component_id, b.doc_id)"
    lcg = f"(({gk} * {S_MULT_1} + {S_INC_1}) % {SAMPLE_MOD}) % 100"
    return f"""
    WITH base AS (SELECT doc_id FROM ({table_sql})),
    comps AS ({dedup.duckdb_components_sql(table_sql)})
    SELECT b.doc_id,
           CAST({gk} AS BIGINT) AS group_key,
           CAST(coalesce(c.n_members, 1) AS BIGINT) AS n_members,
           CASE WHEN {lcg} < {TRAIN_PCT} THEN 'train'
                WHEN {lcg} < {VAL_PCT} THEN 'val'
                ELSE 'test' END AS split
    FROM base b LEFT JOIN comps c USING (doc_id)
    """
