"""Mergeable frequency/membership sketches for training-data pipelines.

Companions to the HLL distinct sketch (operators/events.py): a
Count-Min frequency sketch with heavy-hitter readout and a Bloom-filter
membership probe. Like HLL, both are built from pure integer arithmetic
(31-bit polynomial char folds, integer mod) so the DuckDB oracles
reproduce every cell / bit position exactly — the sketch itself is the
verified artifact, not just its readout.

Scale shapes:
- Count-Min: the token stream folds to a (term, count) tf table in ONE
  map-side-combining shuffle; the sketch is a second tiny aggregation
  bounded at d*w rows of state per corpus (mergeable by cell-wise SUM —
  a partition's sketch adds to another's, so partial aggregation
  applies). The estimate join runs on the vocabulary-bounded tf table
  against the d*w-row sketch (AQE broadcasts it).
- Bloom: the reference set folds to <= m distinct bit positions (one
  shuffle, bounded output) which are collected like an IVF codebook —
  a Bloom filter IS a fixed-size broadcast structure (m is a constant
  chosen up front, independent of corpus size; real engines ship the
  bitmap to every worker the same way). The probe is then a ZERO-shuffle
  narrow map. The exact-membership audit column is the expensive join
  the Bloom filter replaces at scale — kept in the output so the
  false-positive behavior is auditable in the oracle diff (HLL's
  exact_distinct pattern).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import HASH_MOD, _poly_hash
from .text_analysis import tokens_col

# ------------------------------------------------------------ Count-Min

CMS_D = 3                      # sketch rows (independent hash functions)
CMS_W = 16                     # sketch width — deliberately smaller than
                               # the corpus vocabulary so collisions occur
                               # and the min-over-rows readout is exercised
CMS_BASES = [131, 137, 139]    # per-row polynomial fold bases
CMS_K = 15                     # heavy hitters kept


def _char_codes(col: Column) -> Column:
    """Char-code array via split('') — ONE O(n) pass. The obvious
    transform(sequence(1, length), i -> ascii(substring(s, i, 1)))
    is O(n^2): UTF8String.substring scans from the start for every
    index (measured 5.8s vs 0.67s for the 256-char bloom prefix over
    5000 docs, bit-identical outputs). Empty string folds the same
    either way (split('') -> [''] -> ascii 0 -> hash 0)."""
    return F.transform(F.split(col, ""), F.ascii)


def _duck_char_fold(col: str, base: int) -> str:
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(1, length({col}) + 1), "
        f"i -> ascii(substring({col}, CAST(i AS INT), 1))::BIGINT)), "
        f"(acc, c) -> (acc * {base} + c) % {HASH_MOD})"
    )


def countmin_heavy_hitters(
    docs: DataFrame, d: int = CMS_D, w: int = CMS_W, k: int = CMS_K
) -> DataFrame:
    """Top-k corpus terms with their Count-Min frequency estimates
    (Cormode & Muthukrishnan 2005) next to the exact counts.

    The sketch: d rows of w counters; each term adds its count to cell
    (j, poly_hash_j(term) % w) for every row j. Readout for a term is
    the MIN over its d cells — an upper bound on the true count (cells
    only ever over-count via collisions), so est_cnt >= exact_cnt always
    and the `overcount` column is the audit of the collision error. w is
    set below the corpus vocabulary size on purpose: the estimate must
    disagree with the exact count somewhere for the oracle diff to prove
    the sketch (not the exact path) produced it.

    Plan: token stream -> (term, cnt) in one map-side-combining shuffle;
    the sketch is a d*w-row aggregation of that table (mergeable by
    cell-wise sum — partial aggregation applies, state bounded by the
    constant d*w regardless of corpus size); the readout joins the
    vocabulary-bounded term table to the tiny sketch (AQE broadcasts);
    the final top-k is TakeOrdered, not a full sort. Ties break
    (exact_cnt desc, term asc). Output: (term, exact_cnt, est_cnt,
    overcount)."""
    tf = (
        docs.select(F.explode(tokens_col(F.col("text"))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("exact_cnt"))
    )
    # char codes materialized in their OWN projection: the d folds each
    # reference the array, and an inlined HOF would re-extract the chars
    # once per base (the lambda-CSE trap, see dedup._simhash_signatures_n)
    with_cs = tf.select(
        "term", "exact_cnt", _char_codes(F.col("term")).alias("cs")
    )
    cells = with_cs.select(
        "term",
        "exact_cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("row_j"),
                        (_poly_hash(F.col("cs"), CMS_BASES[j]) % w).alias(
                            "col"
                        ),
                    )
                    for j in range(d)
                ]
            )
        ).alias("cell"),
    ).select("term", "exact_cnt", "cell.row_j", "cell.col")
    sketch = cells.groupBy("row_j", "col").agg(
        F.sum("exact_cnt").alias("cell_sum")
    )
    est = (
        cells.join(sketch, ["row_j", "col"])
        .groupBy("term")
        .agg(F.min("cell_sum").alias("est_cnt"))
    )
    return (
        tf.join(est, "term")
        .select(
            "term",
            "exact_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("exact_cnt")).alias("overcount"),
        )
        .orderBy(F.col("exact_cnt").desc(), F.col("term").asc())
        .limit(k)
    )


def duckdb_countmin_sql(
    table: str = "documents", d: int = CMS_D, w: int = CMS_W, k: int = CMS_K
) -> str:
    cell_selects = "\n      UNION ALL\n".join(
        f"      SELECT term, exact_cnt, {j} AS row_j, "
        f"({_duck_char_fold('term', CMS_BASES[j])}) % {w} AS col FROM tf"
        for j in range(d)
    )
    return f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
      FROM {table}
    ),
    tf AS (SELECT term, count(*) AS exact_cnt FROM toks GROUP BY 1),
    cells AS (
{cell_selects}
    ),
    sketch AS (
      SELECT row_j, col, sum(exact_cnt) AS cell_sum
      FROM cells GROUP BY 1, 2
    ),
    est AS (
      SELECT term, CAST(min(cell_sum) AS BIGINT) AS est_cnt
      FROM cells JOIN sketch USING (row_j, col) GROUP BY term
    )
    SELECT term, exact_cnt, est_cnt,
           est_cnt - exact_cnt AS overcount
    FROM tf JOIN est USING (term)
    ORDER BY exact_cnt DESC, term ASC
    LIMIT {k}
    """


# ---------------------------------------------------------------- Bloom

BLOOM_M = 1024        # filter size in bits — constant, chosen up front;
                      # small enough here that the planted corpus shows
                      # real false positives (the behavior under test)
BLOOM_K = 4           # hash functions (double hashing: h1 + j*h2)
BLOOM_REF_MOD = 10    # reference set: doc_id % 10 < BLOOM_REF_LT
BLOOM_REF_LT = 3
BLOOM_PREFIX = 256    # hash the first N chars (fingerprint's cost bound)
BLOOM_BASE = 131


def _bloom_positions(base_hash: Column, m: int, k: int) -> Column:
    """Kirsch-Mitzenmacher double hashing: pos_j = (h1 + j*h2) % m with
    h2 forced odd so the j-walk covers the table."""
    h1 = base_hash % m
    h2 = (base_hash % (m // 2)) * 2 + 1
    return F.array(*[((h1 + j * h2) % m).alias(f"p{j}") for j in range(k)])


def bloom_membership(
    docs: DataFrame, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """Bloom-filter membership probe of every document's text against a
    reference set (docs with doc_id % 10 < 3 — the deterministic
    stand-in for "the previous crawl's content", the classic incremental
    dedup gate: Broder & Mitzenmacher 2004).

    Build: the reference docs' k bit positions fold to <= m DISTINCT
    values in one shuffle, collected like an IVF codebook (a Bloom
    filter is a constant-size broadcast bitmap by construction — m is
    fixed up front, independent of corpus size; NOTE the collect runs an
    eager Spark job at plan-build time, the ivf_topk trade). Probe: a
    ZERO-shuffle narrow map — each doc indexes its k positions into the
    DENSE m-element literal bitmap with element_at, O(1) per probe (an
    array_contains against the set-positions list would rescan up to m
    elements per probe). The base hash is staged in its own projection:
    the k double-hash positions each reference it, and an inlined HOF
    fold would re-run once per reference (the lambda-CSE trap — 8
    references cost 3x the fold, measured).

    The `member_exact` audit column is the md5 semi-join the Bloom
    filter replaces at scale; keeping it makes the one-sided error
    auditable in the oracle diff: member_exact = 1 implies
    member_est = 1 (no false negatives, ever), while member_est may
    exceed it (false positives — m is sized small enough here that some
    occur, proving the sketch path produced the answer).

    Output: (doc_id, member_est, member_exact) with 0/1 ints."""
    # prefix extraction, case folding and md5 stay JVM-side (identical
    # semantics); the 256-char polynomial fold runs in the shared
    # vectorized kernel (kernels.token_hashes — same exact int64 fold
    # in char order, code points == ascii() on split('') chars for BMP
    # text; empty prefixes hash to 0 as the length guard did). The
    # former interpreted HOF evaluated ~1.3M lambda steps per pass over
    # this corpus, twice (build collect + probe).
    import pandas as pd

    from easyocr_spark.operators.kernels import token_hashes

    pre = docs.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_md5"),
        F.substring(F.lower("text"), 1, BLOOM_PREFIX).alias("prefix"),
    )

    def fold_kernel(batches):
        for pdf in batches:
            (h,) = token_hashes(
                list(pdf["prefix"].values), (BLOOM_BASE,)
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "text_md5": pdf["text_md5"],
                    "base": h,
                }
            )

    id_type = dict(docs.dtypes)["doc_id"]
    staged = pre.mapInPandas(
        fold_kernel, schema=f"doc_id {id_type}, text_md5 string, base long"
    )
    hashed = staged.select(
        "doc_id",
        "text_md5",
        _bloom_positions(F.col("base"), m, k).alias("positions"),
    )
    is_ref = (F.col("doc_id") % BLOOM_REF_MOD) < BLOOM_REF_LT
    bits = [0] * m
    for r in (
        hashed.filter(is_ref)
        .select(F.explode("positions").alias("pos"))
        .distinct()
        .collect()
    ):
        bits[int(r["pos"])] = 1
    # single JVM-side parse for the m-bit literal bitmap — the
    # per-element F.lit chain cost ~5 py4j round trips per bit (m=1024:
    # ~0.4s of driver-only plan-build per call, the kmeans pathology)
    bloom_bits = F.expr("array(%s)" % ", ".join(str(int(b)) for b in bits))
    ref_md5 = hashed.filter(is_ref).select("text_md5").distinct()
    return (
        hashed.join(
            ref_md5.withColumn("member_exact", F.lit(1)), "text_md5", "left"
        )
        .select(
            "doc_id",
            F.forall(
                F.col("positions"),
                lambda p: F.element_at(bloom_bits, p.cast("int") + 1) == 1,
            )
            .cast("int")
            .alias("member_est"),
            F.coalesce(F.col("member_exact"), F.lit(0)).alias("member_exact"),
        )
    )


def duckdb_bloom_sql(
    table: str = "documents", m: int = BLOOM_M, k: int = BLOOM_K
) -> str:
    base = _duck_char_fold(
        f"substring(lower(text), 1, {BLOOM_PREFIX})", BLOOM_BASE
    )
    pos_list = ", ".join(
        f"(h1 + {j} * h2) % {m}" for j in range(k)
    )
    return f"""
    WITH hashed AS (
      SELECT doc_id, md5(text) AS text_md5, {base} AS base
      FROM {table}
    ),
    pos AS (
      SELECT doc_id, text_md5, [{pos_list}] AS positions
      FROM (SELECT doc_id, text_md5, base % {m} AS h1,
                   (base % {m // 2}) * 2 + 1 AS h2 FROM hashed)
    ),
    bloom AS (
      SELECT DISTINCT unnest(positions) AS p FROM pos
      WHERE doc_id % {BLOOM_REF_MOD} < {BLOOM_REF_LT}
    ),
    refs AS (
      SELECT DISTINCT text_md5 FROM hashed
      WHERE doc_id % {BLOOM_REF_MOD} < {BLOOM_REF_LT}
    ),
    blist AS (SELECT list(p ORDER BY p) AS bl FROM bloom)
    SELECT p.doc_id,
           CAST(list_has_all(blist.bl, p.positions) AS INT) AS member_est,
           CAST(p.text_md5 IN (SELECT text_md5 FROM refs) AS INT)
             AS member_exact
    FROM pos p, blist
    """
