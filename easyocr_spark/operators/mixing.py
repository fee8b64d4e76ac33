"""Corpus mixing and data-selection weights (the training-mix tables).

LLM training runs don't sample sources uniformly: the standard recipe
(GPT-3 / Pile / LLaMA style) draws stratum i with probability
proportional to n_i^alpha for alpha < 1, upweighting rare sources and
flattening dominant ones. This operator emits that mixing table for the
(source, lang) strata of the corpus: raw share, temperature-adjusted
share, and the per-document oversampling boost the sampler must apply.

alpha is fixed at 0.5 because IEEE-754 `sqrt` is correctly rounded and
therefore bit-identical across Spark's JVM and DuckDB — a general
`pow(n, alpha)` is NOT correctly rounded and may differ in the last ulp
between libm implementations, which would break the bit-exact oracle.
All shares are integer ppm via floor(double division); numerators stay
exact int64 (n_i * 1e6 needs n_i < 9.2e12 per stratum — beyond that the
double rounds, identically in both engines, losing only sub-ppm
precision).

Scale shape: ONE map-side-combining shuffle (the stratum aggregation);
the normalization runs on the aggregated stratum table, whose row count
is bounded by |sources| x |langs| by construction, so the unpartitioned
window that computes the totals touches a bounded single partition —
not a data-scale shuffle.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import HASH_BASE_1, HASH_BASE_3, HASH_MOD, _duck_tok_fold

PPM = 1_000_000

# DSIR hashed-feature space: FIXED bucket count — the model the driver
# collects is bounded by construction (m rows), unlike a vocabulary.
DSIR_M = 1024
# The deterministic stand-in for DSIR's curated target sample (the role
# Wikipedia/books play in the paper): three pinned sources of this
# corpus. Any source subset works; the operator takes it as a parameter.
DSIR_TARGET_SOURCES = ("src1", "src2", "src3")


def corpus_mix(docs: DataFrame) -> DataFrame:
    """Per-(source, lang) mixing table: (source, lang, n_docs, n_chars,
    raw_ppm, temp_ppm, boost_milli). boost_milli is NULL for strata too
    small to register a single raw ppm (possible at 1e12 docs)."""
    agg = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    sq = F.floor(F.sqrt(F.col("n_docs").cast("double")) * F.lit(float(PPM))).cast(
        "long"
    )
    strata = agg.select("source", "lang", "n_docs", "n_chars", sq.alias("sq"))
    w = Window.partitionBy()  # bounded: one row per stratum
    raw_ppm = F.floor(
        (F.col("n_docs") * F.lit(PPM)).cast("double") / F.sum("n_docs").over(w)
    ).cast("long")
    temp_ppm = F.floor(
        (F.col("sq") * F.lit(PPM)).cast("double") / F.sum("sq").over(w)
    ).cast("long")
    shared = strata.select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        raw_ppm.alias("raw_ppm"),
        temp_ppm.alias("temp_ppm"),
    )
    boost = F.when(
        F.col("raw_ppm") > 0,
        F.floor(
            (F.col("temp_ppm") * F.lit(1000)).cast("double") / F.col("raw_ppm")
        ).cast("long"),
    )
    return shared.select(
        "source",
        "lang",
        "n_docs",
        "n_chars",
        "raw_ppm",
        "temp_ppm",
        boost.alias("boost_milli"),
    )


def dsir_importance(
    docs: DataFrame,
    m: int = DSIR_M,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
) -> DataFrame:
    """DSIR hashed-n-gram importance weights (Xie et al. 2023, "Data
    Selection for Language Models via Importance Resampling"): score
    every document by how much more likely its hashed word uni+bigram
    features are under a TARGET distribution than under the RAW one,
    log w(doc) = sum_b c_b(doc) * (log p_t[b] - log p_r[b]) — the
    data-selection signal a pretraining pipeline uses to resample web
    text toward a curated target. Here the target sample is the
    deterministic subset ``source IN target_sources`` and raw is the
    rest of the corpus; both distributions are Laplace-smoothed over
    ``m`` hash buckets.

    Scale shape (the lm_cross_entropy two-pass, improved): tokens hash
    once via the engine-portable 31-bit polynomial fold (the SimHash
    machinery), uni+bigram bucket ids fold map-side, and ONE
    map-side-combining shuffle builds the (doc_id, is_target, bucket)
    tf table. The bucket model aggregates tf to <= m rows — the driver
    collect is bounded BY CONSTRUCTION (m buckets, not a vocabulary:
    DSIR's hashing is exactly what makes the model fixed-size at any
    corpus scale). Per-bucket log-ratios freeze driver-side as integer
    MILLI-BITS, floor(1000*(log2(n_t+1) - log2(tot_t+m) - log2(n_r+1)
    + log2(tot_r+m))), so scoring is a broadcast join + pure-integer
    per-doc fold over the compressed tf table. No float crosses an
    engine boundary un-floored; the DuckDB oracle recomputes the same
    expression with the same libm log2 and left-to-right association.

    keep=1 (weight_milli >= 0: more target-like than raw-like) is the
    deterministic selection rule standing in for the paper's
    importance-weighted resampling draw. The per-doc avg is NOT
    emitted: integer division of the possibly-NEGATIVE weight would
    hit the Spark-div-truncates vs DuckDB-floor divergence.

    Output: (doc_id, n_feats, weight_milli, keep) for docs with at
    least one token (every doc: an empty text still yields the
    empty-token unigram hashing to bucket 0, identically in both
    engines)."""
    from pyspark import StorageLevel

    toks = docs.select(
        "doc_id",
        F.col("source").isin(*target_sources).cast("int").alias("is_target"),
        F.split(F.lower("text"), r"\s+").alias("toks"),
    )

    # Round-6 shape (the _pos_grams precedent, guide §4.2): JVM keeps
    # tokenization (identical token boundaries), ONE vectorized Arrow
    # kernel replaces the interpreted per-char/per-token HOF chain —
    # same exact int64 fold arithmetic (token hash (acc*131+c) % MOD in
    # char order; bigram (h_a*139 + h_b) % MOD, both % m), emitted
    # directly as (doc_id, is_target, b) feature rows.
    import numpy as np
    import pandas as pd

    from easyocr_spark.operators.kernels import token_hashes

    def kernel(batches):
        for pdf in batches:
            doc_toks = [list(t) for t in pdf["toks"]]
            flat = [t for toks in doc_toks for t in toks]
            (h1,) = token_hashes(flat, (HASH_BASE_1,))
            counts, feats_out = [], []
            off = 0
            for toks in doc_toks:
                nt = len(toks)
                h = h1[off : off + nt]
                uni = h % m
                bi = ((h[:-1] * HASH_BASE_3 + h[1:]) % HASH_MOD) % m
                feats_out.append(np.concatenate([uni, bi]))
                counts.append(nt + max(nt - 1, 0))
                off += nt
            if counts:
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].values, counts),
                        "is_target": np.repeat(
                            pdf["is_target"].values, counts
                        ),
                        "b": np.concatenate(feats_out)
                        if feats_out
                        else np.array([], dtype=np.int64),
                    }
                )

    id_type = dict(docs.dtypes)["doc_id"]
    feats = toks.mapInPandas(
        kernel, schema=f"doc_id {id_type}, is_target int, b long"
    )
    # tf feeds BOTH the bounded model collect and the scoring join;
    # persist so the explode+shuffle runs once (owned cache, released
    # after the scored result materializes)
    tf = (
        feats.groupBy("doc_id", "is_target", "b")
        .agg(F.count("*").alias("cnt"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    bkt = (
        tf.groupBy("b")
        .agg(
            F.sum(
                F.when(F.col("is_target") == 1, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_t"),
            F.sum(
                F.when(F.col("is_target") == 0, F.col("cnt")).otherwise(F.lit(0))
            ).alias("n_r"),
        )
        .collect()
    )
    tot_t = sum(int(r["n_t"]) for r in bkt)
    tot_r = sum(int(r["n_r"]) for r in bkt)
    model_rows = sorted(
        (
            int(r["b"]),
            int(
                math.floor(
                    1000.0
                    * (
                        math.log2(int(r["n_t"]) + 1)
                        - math.log2(tot_t + m)
                        - math.log2(int(r["n_r"]) + 1)
                        + math.log2(tot_r + m)
                    )
                )
            ),
        )
        for r in bkt
    )
    model = docs.sparkSession.createDataFrame(
        model_rows, schema="b long, ratio_milli long"
    )
    out = (
        tf.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_feats"),
            F.sum(F.col("cnt") * F.col("ratio_milli")).alias("weight_milli"),
        )
        .select(
            "doc_id",
            "n_feats",
            "weight_milli",
            (F.col("weight_milli") >= 0).cast("long").alias("keep"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    tf.unpersist()
    return out


def duckdb_dsir_sql(
    table_sql: str = "SELECT * FROM documents",
    m: int = DSIR_M,
    target_sources: tuple[str, ...] = DSIR_TARGET_SOURCES,
) -> str:
    srcs = ", ".join(f"'{s}'" for s in target_sources)
    return f"""
    WITH toks AS (
      SELECT doc_id,
             CASE WHEN source IN ({srcs}) THEN 1 ELSE 0 END AS is_target,
             regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM ({table_sql})
    ),
    hs AS (
      SELECT doc_id, is_target, {_duck_tok_fold(HASH_BASE_1)} AS h1
      FROM toks
    ),
    feats AS (
      SELECT doc_id, is_target, u.b
      FROM hs, UNNEST(list_concat(
        list_transform(h1, x -> x % {m}),
        list_transform(range(1, len(h1)),
          i -> ((h1[CAST(i AS INT)] * {HASH_BASE_3}
                 + h1[CAST(i + 1 AS INT)]) % {HASH_MOD}) % {m})
      )) AS u(b)
    ),
    tf AS (
      SELECT doc_id, is_target, b, count(*) AS cnt
      FROM feats GROUP BY 1, 2, 3
    ),
    bkt AS (
      SELECT b,
             sum(CASE WHEN is_target = 1 THEN cnt ELSE 0 END) AS n_t,
             sum(CASE WHEN is_target = 0 THEN cnt ELSE 0 END) AS n_r
      FROM tf GROUP BY 1
    ),
    tots AS (SELECT sum(n_t) AS tot_t, sum(n_r) AS tot_r FROM bkt),
    model AS (
      SELECT b,
             CAST(floor(1000.0 * (log2(n_t + 1) - log2(tot_t + {m})
                                  - log2(n_r + 1) + log2(tot_r + {m})))
                  AS BIGINT) AS ratio_milli
      FROM bkt, tots
    )
    SELECT doc_id,
           CAST(sum(cnt) AS BIGINT) AS n_feats,
           CAST(sum(cnt * ratio_milli) AS BIGINT) AS weight_milli,
           CAST(CASE WHEN sum(cnt * ratio_milli) >= 0 THEN 1 ELSE 0 END
                AS BIGINT) AS keep
    FROM tf JOIN model USING (b)
    GROUP BY doc_id
    """


def duckdb_mix_sql(table: str = "documents") -> str:
    return f"""
    WITH agg AS (
      SELECT source, lang,
             count(*) AS n_docs,
             sum(n_chars) AS n_chars
      FROM {table}
      GROUP BY source, lang
    ),
    strata AS (
      SELECT source, lang, n_docs, n_chars,
             CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * {PPM}.0) AS BIGINT) AS sq
      FROM agg
    ),
    shared AS (
      SELECT source, lang, n_docs, CAST(n_chars AS BIGINT) AS n_chars,
             CAST(floor(CAST(n_docs * {PPM} AS DOUBLE)
                        / sum(n_docs) OVER ()) AS BIGINT) AS raw_ppm,
             CAST(floor(CAST(sq * {PPM} AS DOUBLE)
                        / sum(sq) OVER ()) AS BIGINT) AS temp_ppm
      FROM strata
    )
    SELECT source, lang, n_docs, n_chars, raw_ppm, temp_ppm,
           CASE WHEN raw_ppm > 0
                THEN CAST(floor(CAST(temp_ppm * 1000 AS DOUBLE) / raw_ppm) AS BIGINT)
           END AS boost_milli
    FROM shared
    """


# ------------------------------------------------------------ UniMax
UNIMAX_EPOCH_CAP = 1          # max epochs any language may repeat
UNIMAX_BUDGET_DEN = 2         # train budget = total corpus tokens // 2


def unimax_mix(docs: DataFrame) -> DataFrame:
    """UniMax language allocation (Chung et al. 2023): spread a fixed
    token budget UNIFORMLY across languages, capped at ``epoch_cap``
    epochs of each language's own data — the principled alternative to
    temperature mixing (corpus_mix) that never over-repeats a
    low-resource language.

    Integer water-filling, languages visited in (n_tokens, lang)
    ascending order: the i-th language gets
    ``min(cap_i, remaining div langs_left)`` — small languages bind
    at their cap, the freed budget flows to larger ones, each floor
    leaving at most langs_left-1 tokens unallocated (documented, and
    deterministic in both engines). Budget = total tokens div 2,
    cap = 1 epoch, so both the capped and uncapped branches occur on
    any multi-language corpus.

    Plan: ONE map-side-combining shuffle (per-lang token counts over
    the whitespace-token contract); the sequential fold runs on the
    collected LANGUAGE table — bounded by |langs| by construction, the
    corpus_mix normalization precedent — and returns as a literal
    frame. The oracle reproduces the same fold with a recursive CTE.

    Output: (lang, n_tokens, alloc_tokens, share_ppm, epochs_milli,
    capped)."""
    from easyocr_spark.operators.text_analysis import tokens_col

    counts = (
        docs.select(F.col("lang"), F.size(tokens_col(F.col("text"))).alias("t"))
        .groupBy("lang")
        .agg(F.sum("t").cast("long").alias("n_tokens"))
    )
    rows = sorted(
        ((r["lang"], int(r["n_tokens"])) for r in counts.collect()),
        key=lambda x: (x[1], x[0]),
    )
    total = sum(n for _, n in rows)
    budget = total // UNIMAX_BUDGET_DEN
    remaining, out = budget, []
    for i, (lang, n) in enumerate(rows):
        cap = UNIMAX_EPOCH_CAP * n
        alloc = min(cap, remaining // (len(rows) - i))
        remaining -= alloc
        out.append(
            (
                lang,
                n,
                alloc,
                alloc * 1_000_000 // budget if budget else 0,
                alloc * 1000 // n if n else 0,
                alloc == cap,
            )
        )
    return docs.sparkSession.createDataFrame(
        out,
        schema=(
            "lang string, n_tokens long, alloc_tokens long, "
            "share_ppm long, epochs_milli long, capped boolean"
        ),
    )


def duckdb_unimax_sql(table: str = "documents") -> str:
    return f"""
    WITH RECURSIVE counts AS (
      SELECT lang,
             sum(len(regexp_split_to_array(lower(text), '\\s+')))::BIGINT
               AS n_tokens
      FROM {table} GROUP BY lang
    ),
    ordered AS (
      SELECT lang, n_tokens,
             row_number() OVER (ORDER BY n_tokens, lang) AS i,
             count(*) OVER () AS n_langs,
             (SELECT sum(n_tokens) // {UNIMAX_BUDGET_DEN} FROM counts)
               AS budget
      FROM counts
    ),
    fill AS (
      SELECT i, n_langs, budget, lang, n_tokens,
             least({UNIMAX_EPOCH_CAP} * n_tokens,
                   budget // n_langs) AS alloc,
             budget - least({UNIMAX_EPOCH_CAP} * n_tokens,
                            budget // n_langs) AS remaining
      FROM ordered WHERE i = 1
      UNION ALL
      SELECT o.i, o.n_langs, o.budget, o.lang, o.n_tokens,
             least({UNIMAX_EPOCH_CAP} * o.n_tokens,
                   f.remaining // (o.n_langs - o.i + 1)),
             f.remaining - least({UNIMAX_EPOCH_CAP} * o.n_tokens,
                                 f.remaining // (o.n_langs - o.i + 1))
      FROM fill f JOIN ordered o ON o.i = f.i + 1
    )
    SELECT lang, n_tokens, CAST(alloc AS BIGINT) AS alloc_tokens,
           CAST(CASE WHEN budget > 0 THEN alloc * 1000000 // budget
                     ELSE 0 END AS BIGINT) AS share_ppm,
           CAST(CASE WHEN n_tokens > 0 THEN alloc * 1000 // n_tokens
                     ELSE 0 END AS BIGINT) AS epochs_milli,
           (alloc = {UNIMAX_EPOCH_CAP} * n_tokens) AS capped
    FROM fill
    """
