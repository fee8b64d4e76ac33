"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale story (the part that matters at 100 TB):

- exact: one shuffle on a 16-byte digest — the cheapest possible
  group-by; AQE coalesces the tiny group partitions.
- exhaustive n-gram Jaccard: shingle self-join. Quadratic in docs per
  shared shingle — correct at oracle scale, NOT the scale path. Kept as
  the correctness baseline the approximate variants are verified
  against.
- MinHash+LSH: 64 permutations, 16 bands x 4 rows. Shuffles are
  per-doc (signature agg) and per-bucket (candidate join) — linear in
  corpus size. Candidates are then EXACT-verified with integer-rational
  Jaccard arithmetic, so the output contract equals the exhaustive
  operator (per-pair miss probability at the J=0.8 threshold is
  (1 - 0.8^4)^16 ~= 2e-4; deterministic hashing makes the verified
  no-miss property stable per corpus — see SURVEY.md §4).
- SimHash: 62-bit signatures built from an engine-portable polynomial
  token hash (base 131/137 mod 2^31-1) so the DuckDB oracle reproduces
  the EXACT signature, not just the verified output. The pair scan is
  banded (9 chunks, pigeonhole recall 1.0 at HAM_MAX=8, exact-hamming
  verify on candidates) — same linear-banding shape as LSH, and the
  output still equals the exhaustive oracle.

The synthetic corpus has no natural near-dups, so ``with_mutants``
deterministically plants them: every doc with doc_id % 10 == 3 gets a
copy (doc_id + MUTANT_OFFSET) with two tokens appended -> Jaccard vs
the original ~n/(n+2) >= 0.8 for docs with >= 10 shingles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .kernels import HASH_MOD, token_hashes

SHINGLE_N = 3
JACCARD_MILLI = 800  # threshold 0.8 as integer rational arithmetic
MUTANT_OFFSET = 1_000_000
MUTANT_SUFFIX = " zz9 qq7"
EXACT_OFFSET = 2_000_000  # verbatim copies: exact-dup + hamming-0 pairs
# 64 permutations in 16 bands x 4 rows: per-pair miss probability at
# the J=0.8 threshold is (1 - 0.8^4)^16 ~= 2e-4 and falls fast above it
# (planted mutants sit at J = n/(n+2) -> ~0 miss). The hashing is
# deterministic (xxhash64), so "no misses on this corpus" is a stable
# property, verified against the exhaustive operator at sf0.001/0.01/0.1
# — halving from 128 perms halves the dominant signature-agg CPU.
N_PERM = 64
N_BANDS = 16  # 4 rows per band
HAM_MAX = 8
HASH_BASE_1 = 131
HASH_BASE_2 = 137
HASH_BASE_3 = 139
HASH_BASE_4 = 149
SIMHASH128_BASES = [HASH_BASE_1, HASH_BASE_2, HASH_BASE_3, HASH_BASE_4]


def with_mutants(docs: DataFrame) -> DataFrame:
    base = docs.select("doc_id", "text")
    mutants = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + MUTANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(MUTANT_SUFFIX)).alias("text"),
    )
    exacts = docs.filter(F.col("doc_id") % 25 == 7).select(
        (F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), "text"
    )
    return base.unionByName(mutants).unionByName(exacts)


def duckdb_with_mutants_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id, text FROM {table}
    UNION ALL
    SELECT doc_id + {MUTANT_OFFSET} AS doc_id, text || '{MUTANT_SUFFIX}' AS text
    FROM {table} WHERE doc_id % 10 = 3
    UNION ALL
    SELECT doc_id + {EXACT_OFFSET} AS doc_id, text
    FROM {table} WHERE doc_id % 25 = 7
    """


# ------------------------------------------------------------------- exact
def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Duplicate-text groups: (text_hash, n_docs, first_doc_id)."""
    return (
        docs.groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("first_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def duckdb_exact_sql(table_sql: str) -> str:
    return f"""
    SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS first_doc_id
    FROM ({table_sql}) GROUP BY 1 HAVING count(*) > 1
    """


# --------------------------------------------------------------- shingles
def shingle_sets(docs: DataFrame, n: int = SHINGLE_N) -> DataFrame:
    """(doc_id, shingle) distinct word n-grams of lower(text).

    Round-6 shape (the pos_grams kernel precedent, guide §4.2):
    tokenization stays JVM-side (split + lower — identical token
    boundaries), and ONE vectorized Arrow kernel builds each document's
    DISTINCT shingle set (``" ".join`` == the former
    ``concat_ws(' ', slice(...))`` byte-for-byte; first-occurrence
    order via dict so output is deterministic). A document's shingles
    live in one partition, so the per-doc set REPLACES the former
    global ``.distinct()`` — the explode + distinct shuffled one row
    per shingle OCCURRENCE; now nothing per-occurrence crosses a stage
    boundary and the (doc_id, shingle) rows emerge already distinct.
    Downstream consumers (min-agg signatures, Jaccard groupBys, band
    joins) are set-semantic, so row order is immaterial."""
    import numpy as np
    import pandas as pd

    tokenized = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    )

    def kernel(batches):
        for pdf in batches:
            shs, counts = [], []
            for toks in pdf["toks"]:
                toks = list(toks)
                m = len(toks) - n + 1
                if m >= 1:
                    uniq = list(
                        dict.fromkeys(
                            " ".join(toks[i : i + n]) for i in range(m)
                        )
                    )
                    shs.extend(uniq)
                    counts.append(len(uniq))
                else:
                    counts.append(0)
            if shs:
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].values, counts),
                        "shingle": shs,
                    }
                )

    id_type = dict(docs.dtypes)["doc_id"]
    return tokenized.mapInPandas(
        kernel, schema=f"doc_id {id_type}, shingle string"
    )


DUCKDB_SHINGLES = """
    SELECT DISTINCT doc_id,
           array_to_string(toks[CAST(i+1 AS INT):CAST(i+{n} AS INT)], ' ') AS shingle
    FROM (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM ({table_sql})
    ), UNNEST(range(0, greatest(len(toks) - {n} + 1, 0))) AS t(i)
"""


def df_capped_shingles(shingles: DataFrame, df_cap: int) -> DataFrame:
    """Drop shingles whose DOCUMENT FREQUENCY exceeds ``df_cap`` — the
    standard boilerplate ceiling for web-scale dedup. A shingle shared
    by millions of documents ("click here to subscribe") makes every
    shingle-equality join quadratic in its df; capping bounds each
    shingle's candidate contribution at df_cap^2 while leaving the
    discriminative (rare) shingles — the ones that actually identify
    near-dups — untouched.

    Plan shape: one groupBy on shingle (the df count) feeding a
    left-anti join; the hot set is tiny by construction (only shingles
    with df > cap), so AQE broadcasts the anti-join side.

    CONTRACT CHANGE when applied: Jaccard becomes Jaccard over the
    df-capped shingle universe — pairs that share ONLY boilerplate drop
    out (desired), and sizes/intersections count capped shingles only.
    The uncapped default (df_cap=None in the callers) remains the
    oracle contract."""
    hot = (
        shingles.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > df_cap)
        .select("shingle")
    )
    return shingles.join(hot, "shingle", "left_anti")


def _jaccard_from_shingles(shingles: DataFrame, threshold_milli: int) -> DataFrame:
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    return (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
        .filter(
            F.col("common") * 1000
            >= F.lit(threshold_milli) * (F.col("sz_a") + F.col("sz_b") - F.col("common"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.col("common") * 1000 / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).cast("long").alias("jaccard_milli"),
        )
    )


def jaccard_pairs_exhaustive(
    docs: DataFrame,
    threshold_milli: int = JACCARD_MILLI,
    df_cap: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard_milli) for all pairs with J >= threshold.
    Integer-rational comparison — engines agree exactly.

    ORACLE-ONLY: deliberately quadratic in docs per shared shingle —
    this is the correctness baseline minhash_lsh_pairs is verified
    against, exposed as a driver query only so the driver can check it
    too. The scale path for this contract is minhash_lsh_pairs.
    ``df_cap`` applies the boilerplate ceiling (``df_capped_shingles``);
    the default None keeps the uncapped oracle contract."""
    sh = shingle_sets(docs)
    if df_cap is not None:
        sh = df_capped_shingles(sh, df_cap)
    return _jaccard_from_shingles(sh, threshold_milli)


def duckdb_jaccard_sql(table_sql: str, threshold_milli: int = JACCARD_MILLI) -> str:
    shingles = DUCKDB_SHINGLES.format(table_sql=table_sql, n=SHINGLE_N)
    return f"""
    WITH sh AS ({shingles}),
    sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           CAST(floor(common * 1000 / (sa.sz + sb.sz - common)) AS BIGINT)
             AS jaccard_milli
    FROM common
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE common * 1000 >= {threshold_milli} * (sa.sz + sb.sz - common)
    """


# ------------------------------------------------------------ MinHash+LSH
def _minh_signatures(shingles: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """One MinHash signature row per doc: n_perm min-aggregated
    xxhash64 permutations over the shingle set (shared by the
    self-join dedup path and the cross-snapshot path)."""
    # one F.expr per permutation (single py4j call each; the Column
    # chain cost ~4 calls per permutation of driver-side build time)
    return shingles.groupBy("doc_id").agg(
        *[
            F.expr(f"min(xxhash64(shingle, {p})) AS h{p}")
            for p in range(n_perm)
        ]
    )


def _band_explode(
    minh: DataFrame, n_perm: int = N_PERM, n_bands: int = N_BANDS
) -> DataFrame:
    """(doc_id, band_id, band_key): each signature folded into n_bands
    keys of n_perm/n_bands rows each — equal band keys are the LSH
    candidate signal."""
    rows_per_band = n_perm // n_bands
    band_keys = F.expr(
        "array(%s)"
        % ", ".join(
            "xxhash64(%d, %s)"
            % (
                b,
                ", ".join(
                    f"h{b * rows_per_band + r}" for r in range(rows_per_band)
                ),
            )
            for b in range(n_bands)
        )
    )
    return minh.select(
        "doc_id", F.posexplode(band_keys).alias("band_id", "band_key")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold_milli: int = JACCARD_MILLI,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
    df_cap: int | None = None,
) -> DataFrame:
    """LSH candidate generation + exact verification. Output contract ==
    jaccard_pairs_exhaustive (same oracle), linear-scalable plan.
    ``df_cap`` drops boilerplate shingles above the document-frequency
    ceiling from the signature, size, and verify paths alike
    (``df_capped_shingles`` — self-consistent capped-Jaccard contract);
    None (the default, and the registered oracle query) stays uncapped.

    The shingle table feeds four consumers (minhash agg, sizes, and the
    two sides of the verification join); persisting it avoids four full
    recomputations of tokenize+shingle+distinct — at 100 TB this would
    be a materialized intermediate table, the standard dedup-pipeline
    checkpoint. The cache is OWNED by this function: the verified pairs
    (tiny — only true near-dups survive) are materialized eagerly and
    the shingle cache is unpersisted before returning, so repeated
    invocations in a long-lived session don't pin stale copies in
    executor storage."""
    from pyspark import StorageLevel

    shingles = shingle_sets(docs)
    if df_cap is not None:
        shingles = df_capped_shingles(shingles, df_cap)
    shingles = shingles.persist(StorageLevel.MEMORY_AND_DISK)
    # the 128-way min-agg signature table feeds BOTH sides of the band
    # self-join; persist it (n_docs x 128 longs — ~1 KB/doc) so the
    # most CPU-intensive stage runs once, same ownership discipline as
    # the shingle cache below
    minh = _minh_signatures(shingles, n_perm).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    banded = _band_explode(minh, n_perm, n_bands)
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band_id", "band_key"])
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # exact verification restricted to candidates
    sizes = shingles.groupBy("doc_id").agg(F.count("*").alias("sz"))
    sh_a = shingles.select(F.col("doc_id").alias("doc_a"), "shingle")
    sh_b = shingles.select(F.col("doc_id").alias("doc_b"), "shingle")
    common = (
        cand.join(sh_a, "doc_a")
        .join(sh_b, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    pairs = (
        common.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .withColumnRenamed("sz", "sz_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b"), "doc_b")
        .withColumnRenamed("sz", "sz_b")
        .filter(
            F.col("common") * 1000
            >= F.lit(threshold_milli) * (F.col("sz_a") + F.col("sz_b") - F.col("common"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.floor(
                F.col("common") * 1000 / (F.col("sz_a") + F.col("sz_b") - F.col("common"))
            ).cast("long").alias("jaccard_milli"),
        )
    )
    # materialize the (tiny) verified result, then release the shingle
    # cache — the returned DataFrame no longer depends on it.
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    shingles.unpersist()
    minh.unpersist()
    return pairs


# ------------------------------------------------- components / keep-lists
def _star_contract(edges: DataFrame, max_rounds: int = 12):
    """Alternating star contraction over an undirected edge set —
    connected components in O(log n) rounds, not O(diameter).

    The large-star/small-star algorithm (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): with nodes totally
    ordered, LARGE-STAR hooks each node's strictly-larger neighbors onto
    the minimum of its neighborhood, SMALL-STAR re-hooks each node and
    its smaller neighbors onto that minimum. Both preserve connectivity
    and never drop a node; their joint fixed point is a union of
    disjoint stars centered at each component's minimum node. Chains
    roughly halve in diameter per alternation, so a 10^6-long mutant
    chain at 100 TB converges in ~20 rounds where min-label propagation
    would need 10^6.

    Each round is two groupBy shuffles on the (shrinking) edge set, and
    each round's result is ``localCheckpoint``-ed: an iterative plan
    that references its predecessor grows exponentially many logical
    nodes without truncation and stalls the ANALYZER long before any
    task runs (on a cluster this would be a reliable checkpoint /
    intermediate table).

    Input: DataFrame (u, v) of undirected edges (any orientation).
    Returns ``(labels, rounds)``: labels (doc_id, comp) for every node
    with at least one edge, comp = min node id of its component; rounds
    = alternations needed to reach the fixed point. Raises if the edge
    set is still changing after ``max_rounds`` alternations."""

    def sym(e: DataFrame) -> DataFrame:
        return e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionByName(
            e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )

    def large_star(s: DataFrame) -> DataFrame:
        # m(u) = min(Γ(u) ∪ {u}); emit (v, m(u)) for v ∈ Γ(u), v > u.
        # v > u >= m(u) so the pair is already canonical (hi > lo).
        m = s.groupBy("u").agg(F.min("v").alias("mn")).select(
            "u", F.least(F.col("u"), F.col("mn")).alias("m")
        )
        return (
            s.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), F.col("m").alias("lo"))
        )

    def small_star(s: DataFrame) -> DataFrame:
        # m(u) = min(Γ⁻(u)) over strictly-smaller neighbors; emit (x, m)
        # for x ∈ Γ⁻(u) ∪ {u}. The min itself yields a self-loop
        # (dropped); u > m(u) is canonical, neighbors need reordering.
        smaller = s.filter(F.col("v") < F.col("u"))
        m = smaller.groupBy("u").agg(F.min("v").alias("m"))
        rehooked = smaller.join(m, "u").select(
            F.col("v").alias("a"), F.col("m").alias("b")
        )
        self_edge = m.select(F.col("u").alias("a"), F.col("m").alias("b"))
        both = rehooked.unionByName(self_edge)
        return both.select(
            F.greatest("a", "b").alias("hi"), F.least("a", "b").alias("lo")
        ).filter(F.col("hi") != F.col("lo"))

    def signature(e: DataFrame) -> tuple:
        row = e.select(
            F.count("*").alias("n"),
            F.bit_xor(F.xxhash64("hi", "lo")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"] or 0)

    e = (
        edges.select(
            F.greatest("u", "v").alias("hi"), F.least("u", "v").alias("lo")
        )
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
        .localCheckpoint()
    )
    sig = signature(e)
    rounds = 0
    converged = False
    for rounds in range(1, max_rounds + 1):
        e = (
            small_star(sym(large_star(sym(e)).distinct()))
            .distinct()
            .localCheckpoint()
        )
        new_sig = signature(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # an edge set still changing after max_rounds would yield
        # silently WRONG component ids — fail loudly instead
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds; "
            "raise max_rounds — the near-dup graph is far larger than "
            "expected (O(log n) rounds suffice at the fixed point)"
        )
    # fixed point = disjoint stars (member, center): members label with
    # the center, the center labels with itself
    labels = (
        sym(e)
        .groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select(F.col("u").alias("doc_id"), F.least("u", "mn").alias("comp"))
    )
    return labels, rounds


def dedup_components(docs: DataFrame, max_iter: int = 12) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the MinHash-verified
    pair graph — the step that turns pairwise matches into per-cluster
    keep/drop decisions (component id = min doc_id = the canonical
    representative a dedup pass would keep).

    Components via alternating star contraction (``_star_contract``,
    O(log n) rounds — web-scale safe for long mutant chains), verified
    against the recursive-CTE transitive-closure oracle. Output:
    (doc_id, component_id, n_members), only for docs that participate
    in at least one near-dup pair."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    pairs = minhash_lsh_pairs(docs)
    edges = pairs.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    labels, _rounds = _star_contract(edges, max_rounds=max_iter)
    pairs.unpersist()
    w = Window.partitionBy("comp")
    out = labels.select(
        "doc_id",
        F.col("comp").alias("component_id"),
        F.count("*").over(w).alias("n_members"),
    )
    out = out.persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    return out


def duckdb_components_sql(table_sql: str) -> str:
    """Recursive-CTE oracle: min reachable doc_id over the same verified
    near-dup edge set (UNION dedups rows, so the recursion terminates at
    the transitive closure)."""
    return f"""
    WITH RECURSIVE prs AS ({duckdb_jaccard_sql(table_sql)}),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM prs
      UNION
      SELECT doc_b AS s, doc_a AS t FROM prs
    ),
    reach(doc_id, anc) AS (
      SELECT s, s FROM (SELECT DISTINCT s FROM edges)
      UNION
      SELECT e.s, r.anc FROM edges e JOIN reach r ON r.doc_id = e.t
    ),
    comp AS (
      SELECT doc_id, min(anc) AS component_id FROM reach GROUP BY 1
    )
    SELECT doc_id, component_id,
           count(*) OVER (PARTITION BY component_id) AS n_members
    FROM comp
    """


# ---------------------------------------------------------------- SimHash
def poly_hash(chars_col, base: int):
    return F.aggregate(
        chars_col, F.lit(0).cast("long"), lambda acc, c: (acc * base + c) % HASH_MOD
    )


def _simhash_signatures_n(
    docs: DataFrame, bases: list[int], persist_tf: bool = False
):
    """(doc_id, sim1..simK): K 31-bit halves of a 31*K-bit SimHash over
    frequency-weighted whitespace tokens, with an engine-portable
    polynomial token hash per base — a DuckDB oracle reproduces the
    signatures bit-for-bit.

    The char-code array is MATERIALIZED in its own projection before
    the polynomial folds: substring-per-char extraction is the
    expensive part and an inlined HOF expression would re-run it once
    per hash base (the lambda-CSE trap from the shingle path).

    The (doc, token) term-frequency table feeds BOTH the hash
    dictionary (its distinct tokens) and the bit aggregation; with
    ``persist_tf`` the explode+shuffle runs ONCE and the dictionary
    derives from the cached tf instead of a second full token-stream
    scan (measured ~1.4x on the 124-bit signature stage at sf0.1).
    Returns (sig, deps) where deps are the persisted intermediates the
    CALLER must unpersist after materializing sig."""
    # (doc, token) term frequencies first: the per-bit aggregation then
    # runs over doc x distinct-token rows instead of the raw token
    # stream (sum over occurrences == sum of cnt * (+-1) per token),
    # and bits extract with integer shiftright — both exact.
    # Round-6 shape (the shingle_sets kernel precedent): tokenization
    # stays JVM-side; the tf fold runs per doc inside one Arrow kernel
    # (a doc's tokens live in one partition), so the former
    # one-row-per-OCCURRENCE explode + groupBy shuffle disappears —
    # the tf rows emerge already folded.
    import numpy as np
    import pandas as pd

    tokenized = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    )

    def tf_kernel(batches):
        from collections import Counter

        for pdf in batches:
            out_tok, out_cnt, counts = [], [], []
            for toks in pdf["toks"]:
                c = Counter(list(toks))
                out_tok.extend(c.keys())
                out_cnt.extend(c.values())
                counts.append(len(c))
            if out_tok:
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].values, counts),
                        "token": out_tok,
                        "cnt": np.array(out_cnt, dtype=np.int64),
                    }
                )

    id_type = dict(docs.dtypes)["doc_id"]
    tf = tokenized.mapInPandas(
        tf_kernel, schema=f"doc_id {id_type}, token string, cnt long"
    )
    deps: list[DataFrame] = []
    if persist_tf:
        from pyspark import StorageLevel

        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
        deps.append(tf)
    # dictionary-encode: the expensive part (substring-per-char
    # extraction + K polynomial folds) runs once per DISTINCT token,
    # not once per occurrence — natural text is Zipfian, so the
    # dictionary is orders of magnitude smaller than the token stream.
    # The dictionary join is left to AQE's runtime size check (the
    # strip_boilerplate/dedup_keeplist discipline): the dictionary here
    # is the DISTINCT WHITESPACE TOKENS OF A RAW WEB CORPUS, which at
    # 100 TB includes URLs, hex ids, and typos and lands at 10^9+ rows
    # — far past any broadcastable size, so a forced broadcast hint
    # would bypass the size check and OOM the driver exactly where the
    # operator is supposed to shine. AQE still broadcasts it when the
    # measured size is small (every test corpus); otherwise it picks a
    # shuffled equi-join on the token, still beating per-occurrence
    # hashing (shuffle-path parity is pytest-enforced under
    # autoBroadcastJoinThreshold=-1, tests/test_dedup_similarity.py).
    # The K polynomial folds over the dictionary run in the shared
    # vectorized kernel (token_hashes — same exact int64 fold, code
    # points == ascii() on split('') chars for BMP text), replacing the
    # per-char interpreted HOF chain.
    def dict_kernel(batches):
        import pandas as pd

        for pdf in batches:
            toks = list(pdf["token"].values)
            hs = token_hashes(toks, tuple(bases))
            out = {"token": toks}
            for h, arr in enumerate(hs, start=1):
                out[f"t{h}"] = arr
            yield pd.DataFrame(out)

    tok_hashes = tf.select("token").distinct().mapInPandas(
        dict_kernel,
        schema="token string, "
        + ", ".join(f"t{h} long" for h in range(1, len(bases) + 1)),
    )
    hashed = tf.join(tok_hashes, "token").drop("token")
    # the 31*K bit-sum aggregates and the K bit-reassembly columns are
    # parsed as ONE SQL string each (single py4j round trip) instead of
    # the per-term Column-builder chains: identical expressions, but
    # the former construction cost ~10 py4j calls per bit — ~0.5s of
    # driver-only plan-build wall on the 124-bit signature (the kmeans
    # literal pathology, measured in that operator)
    bit_sums = hashed.groupBy("doc_id").agg(
        *[
            F.expr(
                f"sum(((shiftright(t{h}, {j}) & 1) * 2 - 1) * cnt)"
                f" AS b{h}_{j}"
            )
            for h in range(1, len(bases) + 1)
            for j in range(31)
        ]
    )
    sims = [
        F.expr(
            "CAST("
            + " + ".join(
                f"(CASE WHEN b{h}_{j} > 0 THEN {2 ** j} ELSE 0 END)"
                for j in range(31)
            )
            + f" AS BIGINT) AS sim{h}"
        )
        for h in range(1, len(bases) + 1)
    ]
    sig = bit_sums.select("doc_id", *sims)
    if persist_tf:
        return sig, deps
    return sig


def simhash_signatures(docs: DataFrame) -> DataFrame:
    """The 62-bit (two-half) signature — the oracle-pinned variant."""
    return _simhash_signatures_n(docs, [HASH_BASE_1, HASH_BASE_2])


# chunk boundaries over the concatenated 62-bit signature (bits 0-30 =
# sim1, bits 31-61 = sim2): 9 chunks (8x7 bits + 1x6). Pigeonhole: a pair
# within HAM_MAX=8 differing bits touches at most 8 chunks, so at least
# one of the 9 chunks is bit-identical — banding on chunk value has
# RECALL 1.0 and the banded output equals the exhaustive scan exactly.
SIMHASH_CHUNK_BOUNDS = [0, 7, 14, 21, 28, 35, 42, 49, 56, 62]
# the 124-bit (four-half) production fingerprint keeps the same 9-chunk
# pigeonhole at HAM_MAX=8 but with ~14-bit chunks: 7x14 + 2x13 = 124
SIMHASH128_CHUNK_BOUNDS = [0, 14, 28, 42, 56, 70, 84, 98, 111, 124]


def _sig_chunk(n_halves: int, lo: int, width: int):
    """Bits [lo, lo+width) of the signature concatenated from
    ``n_halves`` 31-bit half columns sim1..simN, as a long. A chunk
    that straddles a half boundary combines pieces of both halves."""
    pieces = []
    out_shift = 0
    for h in range(n_halves):
        base = 31 * h
        a = max(lo, base)
        b = min(lo + width, base + 31)
        if a >= b:
            continue
        piece = F.shiftright(F.col(f"sim{h + 1}"), a - base).bitwiseAND(
            F.lit((1 << (b - a)) - 1)
        )
        pieces.append(piece * F.lit(1 << out_shift))
        out_shift += b - a
    expr = pieces[0]
    for p in pieces[1:]:
        expr = expr + p
    return expr.cast("long")


def _banded_sig_pairs(
    sig: DataFrame,
    n_halves: int,
    chunk_bounds: list[int],
    max_hamming: int,
    deps: list[DataFrame] | None = None,
) -> DataFrame:
    """Band a (doc_id, sim1..simN) signature table into chunks,
    bucket-join on (chunk_id, chunk_value) and exact-verify hamming —
    the shared linear-banding shape of both SimHash widths."""
    from pyspark import StorageLevel

    # the signature build (token-hash HOF + per-bit agg) is the
    # expensive stage and feeds BOTH sides of the band join; persist it
    # (a few longs per doc — trivially cacheable at any scale) so it
    # runs once, and release it after the verified pairs materialize.
    sig = sig.persist(StorageLevel.MEMORY_AND_DISK)
    sim_cols = [f"sim{h}" for h in range(1, n_halves + 1)]
    chunk_vals = F.array(
        *[
            _sig_chunk(
                n_halves,
                chunk_bounds[i],
                chunk_bounds[i + 1] - chunk_bounds[i],
            )
            for i in range(len(chunk_bounds) - 1)
        ]
    )
    banded = sig.select(
        "doc_id", *sim_cols, F.posexplode(chunk_vals).alias("chunk_id", "chunk_val")
    )
    a = banded.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(c).alias(f"{c}a") for c in sim_cols],
        "chunk_id",
        "chunk_val",
    )
    b = banded.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(c).alias(f"{c}b") for c in sim_cols],
        "chunk_id",
        "chunk_val",
    )
    ham = sum(
        [
            F.bit_count(F.col(f"{c}a").bitwiseXOR(F.col(f"{c}b")))
            for c in sim_cols[1:]
        ],
        F.bit_count(F.col(f"{sim_cols[0]}a").bitwiseXOR(F.col(f"{sim_cols[0]}b"))),
    )
    pairs = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    pairs.count()
    sig.unpersist()
    for d in deps or []:
        d.unpersist()
    return pairs


def simhash_pairs(docs: DataFrame, max_hamming: int = HAM_MAX) -> DataFrame:
    """(doc_a, doc_b, hamming) for pairs within max_hamming bits of the
    62-bit signature.

    Scale shape: band the signature into 9 chunks, bucket-join on
    (chunk_id, chunk_value), verify exact hamming on candidates — the
    same linear banding pattern as MinHash LSH, replacing the former
    all-pairs crossJoin. Recall 1.0 by pigeonhole and exact
    verification on candidates, so the exhaustive DuckDB oracle
    applies unchanged.

    62 bits / 9 chunks caps chunk width at ~7 bits (~128 bucket
    values), so random collisions make the candidate set ~n^2/128 —
    this width is the ORACLE variant (DuckDB reproduces its signatures
    bit-for-bit in 62-bit integer arithmetic); the scale path is
    simhash128_pairs below (14-bit chunks per Manku et al., WWW'07)."""
    sig, deps = _simhash_signatures_n(
        docs, [HASH_BASE_1, HASH_BASE_2], persist_tf=True
    )
    return _banded_sig_pairs(sig, 2, SIMHASH_CHUNK_BOUNDS, max_hamming, deps)


def simhash128_pairs(docs: DataFrame, max_hamming: int = HAM_MAX) -> DataFrame:
    """The production-width SimHash: four 31-bit halves -> a 124-bit
    fingerprint, banded into 9 chunks of ~14 bits (Manku et al.,
    WWW'07). Same pigeonhole recall 1.0 at max_hamming=8, but chunk
    values now span ~2^14 buckets, so the random-collision candidate
    mass drops by ~2^7 vs the 62-bit oracle variant — this is the
    width to run at 100 TB. Output contract: pairs within max_hamming
    over the 124-bit fingerprint (a DIFFERENT, stricter pair set than
    the 62-bit operator: random 62-bit near-collisions disappear while
    true near-dups keep hamming low across widths)."""
    sig, deps = _simhash_signatures_n(docs, SIMHASH128_BASES, persist_tf=True)
    return _banded_sig_pairs(
        sig,
        len(SIMHASH128_BASES),
        SIMHASH128_CHUNK_BOUNDS,
        max_hamming,
        deps,
    )


def _duckdb_simhash_sql(table_sql: str, bases: list[int], max_hamming: int) -> str:
    """Exhaustive-scan oracle over the 31*K-bit signature: reproduces
    the Spark signatures bit-for-bit (same polynomial folds, same
    per-bit majority), then checks every pair — the banded Spark
    operator must equal it exactly (pigeonhole recall 1.0)."""
    hs = range(1, len(bases) + 1)
    ts = ",\n        ".join(
        f"""list_reduce(list_prepend(0::BIGINT,
          list_transform(range(1, length(token)+1),
            i -> ascii(substring(token, CAST(i AS INT), 1))::BIGINT)),
          (acc, c) -> (acc * {base} + c) % {HASH_MOD}) AS t{h}"""
        for h, base in zip(hs, bases)
    )
    bit_cols = ", ".join(
        f"sum(((t{h} // {2 ** j}) % 2) * 2 - 1) AS b{h}_{j}"
        for h in hs
        for j in range(31)
    )
    sims = ",\n            ".join(
        "CAST("
        + " + ".join(
            f"(CASE WHEN b{h}_{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(31)
        )
        + f" AS BIGINT) AS sim{h}"
        for h in hs
    )
    ham = " + ".join(f"bit_count(xor(a.sim{h}, b.sim{h}))" for h in hs)
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(regexp_split_to_array(lower(text), '\\s+')) AS token
      FROM ({table_sql})
    ),
    hashed AS (
      SELECT doc_id,
        {ts}
      FROM toks
    ),
    bits AS (SELECT doc_id, {bit_cols} FROM hashed GROUP BY doc_id),
    sig AS (SELECT doc_id, {sims}
            FROM bits)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST({ham} AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {ham} <= {max_hamming}
    """


def duckdb_simhash_pairs_sql(table_sql: str, max_hamming: int = HAM_MAX) -> str:
    return _duckdb_simhash_sql(table_sql, [HASH_BASE_1, HASH_BASE_2], max_hamming)


def duckdb_simhash128_pairs_sql(table_sql: str, max_hamming: int = HAM_MAX) -> str:
    return _duckdb_simhash_sql(table_sql, SIMHASH128_BASES, max_hamming)


# ------------------------------------------------ exact substring spans
SUBSTR_N = 10  # token-window width for exact substring dedup


def pos_grams(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, g1, g2): every n-token window's position and its
    62-bit integer gram key — two independent 31-bit double polynomial
    folds (token chars once with bases 131/137, then the n token-hash
    longs with bases 139/149). Shared by positional substring dedup and
    benchmark decontamination; the DuckDB twins reproduce the folds
    bit-for-bit (duck_tok_fold/duck_win_fold).

    Round-6 shape: tokenization stays in the JVM (split + lower, so
    token boundaries are bit-identical to the former all-Catalyst
    formulation), but the per-token char folds and per-window slice
    folds run in ONE vectorized Arrow kernel (the winnowing-kernel
    pattern, guide §4.2): the interpreted HOF chain evaluated
    O(chars·bases) + O(windows·n) lambda steps per document with an
    array allocation per slice — measured as the dominant stage of
    every consumer — while the kernel does the same exact int64
    arithmetic (fold order preserved; products bounded by
    2^31·149 + 2^31 < 2^39, window fold likewise) in ~total-chars
    numpy passes. Zero shuffles either way: scan -> ArrowEvalPython ->
    rows; embarrassingly partition-parallel."""
    import numpy as np
    import pandas as pd

    tokenized = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    )
    swv = np.lib.stride_tricks.sliding_window_view

    def kernel(batches):
        for pdf in batches:
            doc_toks = [list(t) for t in pdf["toks"]]
            flat = [t for toks in doc_toks for t in toks]
            h1, h2 = token_hashes(flat, (HASH_BASE_1, HASH_BASE_2))
            counts, poss, g1s, g2s = [], [], [], []
            off = 0
            for toks in doc_toks:
                nt = len(toks)
                m = nt - n + 1
                if m >= 1:
                    g1 = np.zeros(m, dtype=np.int64)
                    g2 = np.zeros(m, dtype=np.int64)
                    w1 = swv(h1[off : off + nt], n)
                    w2 = swv(h2[off : off + nt], n)
                    for d in range(n):
                        g1 = (g1 * HASH_BASE_3 + w1[:, d]) % HASH_MOD
                        g2 = (g2 * HASH_BASE_4 + w2[:, d]) % HASH_MOD
                    counts.append(m)
                    poss.append(np.arange(m, dtype=np.int32))
                    g1s.append(g1)
                    g2s.append(g2)
                else:
                    counts.append(0)
                off += nt
            if poss:
                yield pd.DataFrame(
                    {
                        # repeat keeps the input doc_id dtype as-is
                        "doc_id": np.repeat(pdf["doc_id"].values, counts),
                        "pos": np.concatenate(poss),
                        "g1": np.concatenate(g1s),
                        "g2": np.concatenate(g2s),
                    }
                )

    id_type = dict(docs.dtypes)["doc_id"]
    return tokenized.mapInPandas(
        kernel, schema=f"doc_id {id_type}, pos int, g1 long, g2 long"
    )


def duplicate_spans(docs: DataFrame, n: int = SUBSTR_N) -> DataFrame:
    """Positional EXACT-SUBSTRING dedup (the Lee et al. 2022
    "Deduplicating Training Data" shape): find every n-token window
    whose exact text occurs in >= 2 DISTINCT documents, then merge each
    document's overlapping/adjacent duplicate windows into maximal
    spans — the per-document regions a training pipeline would mask or
    drop. Output: (doc_id, span_start, span_end_excl, n_windows) in
    token positions.

    Unlike the pairwise Jaccard family this never joins documents
    against each other: one shuffle counts per-gram document frequency,
    one joins the duplicated grams back to their positions, and a
    lag+cumsum gaps-and-islands window merges windows per document —
    every stage linear in total token count, no quadratic pair blowup
    even for grams shared by millions of docs (the join-back emits one
    row per OCCURRENCE, not per pair). Windows repeated only WITHIN a
    single document are excluded by the distinct-doc frequency test
    (within-doc repetition is repetition_signals' job).

    Gram keys are pure-INTEGER double polynomial hashes (the SimHash
    fold machinery): each token folds once to two 31-bit hashes
    (bases 131/137 over char codes), then each window folds its n
    token-hash longs with bases 139/149 — no per-window string
    re-concatenation and no md5 (each token's characters are touched
    exactly once, vs ~n times under the former md5(concat_ws(slice))
    shape — measured ~4x on this stage at sf0.1). The (g1, g2) pair
    gives 62 bits: cross-engine-exact (DuckDB reproduces the folds
    bit-for-bit) and collision-safe far past 10^9 windows (birthday
    bound ~1e-9 per 1e5-window corpus; at 10^12+ windows widen to a
    third base the same way SimHash-124 extends SimHash-62).

    The gram table feeds BOTH the df count and the position join-back;
    it is persisted so tokenize+hash runs ONCE (measured ~25% of this
    query's wall at sf0.1 — the stage is the expensive one), with the
    minhash ownership discipline: the (tiny) merged-span result is
    materialized eagerly and the gram cache released before return."""
    from pyspark import StorageLevel

    grams = pos_grams(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    shared = (
        grams.groupBy("g1", "g2")
        .agg(F.countDistinct("doc_id").alias("n_docs"))
        .filter(F.col("n_docs") >= 2)
        .select("g1", "g2")
    )
    hits = grams.join(shared, ["g1", "g2"]).select("doc_id", "pos")
    spans = _windows_to_spans(hits, n).persist(StorageLevel.MEMORY_AND_DISK)
    spans.count()
    grams.unpersist()
    return spans


def _windows_to_spans(hits: DataFrame, n: int) -> DataFrame:
    """Gaps-and-islands merge of (doc_id, pos) window hits into maximal
    per-document spans: windows whose starts are <= n apart overlap or
    touch, so a lag+cumsum break marker groups them; one window shuffle
    partitioned by doc_id. Shared by duplicate_spans (cross-document
    repeats) and decontaminate_spans (eval-split leaks)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        hits.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull() | (F.col("pos") - F.col("prev") > n), 1
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(w))
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + n).alias("span_end_excl"),
        F.count("*").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end_excl", "n_windows")


def duck_tok_fold(base: int) -> str:
    """Per-token 31-bit polynomial char fold over a `toks` array —
    DuckDB twin of poly_hash over the char-code arrays."""
    return (
        "list_transform(toks, t -> list_reduce(list_prepend(0::BIGINT, "
        "list_transform(range(1, length(t)+1), "
        "i -> ascii(substring(t, CAST(i AS INT), 1))::BIGINT)), "
        f"(acc, c) -> (acc * {base} + c) % {HASH_MOD}))"
    )


def duck_win_fold(hs: str, base: int, n: int) -> str:
    """n-token window fold over a token-hash array, at offset `i`."""
    return (
        "list_reduce(list_prepend(0::BIGINT, "
        f"{hs}[CAST(i+1 AS INT):CAST(i+{n} AS INT)]), "
        f"(acc, h) -> (acc * {base} + h) % {HASH_MOD})"
    )


def duckdb_duplicate_spans_sql(table_sql: str, n: int = SUBSTR_N) -> str:
    tok_fold = lambda base: duck_tok_fold(base)  # noqa: E731
    win_fold = lambda hs, base: duck_win_fold(hs, base, n)  # noqa: E731
    return f"""
    WITH toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM ({table_sql})
    ),
    hs AS (
      SELECT doc_id,
             {tok_fold(HASH_BASE_1)} AS h1,
             {tok_fold(HASH_BASE_2)} AS h2
      FROM toks
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             {win_fold('h1', HASH_BASE_3)} AS g1,
             {win_fold('h2', HASH_BASE_4)} AS g2
      FROM hs, UNNEST(range(0, greatest(len(h1) - {n} + 1, 0))) AS t(i)
    ),
    shared AS (
      SELECT g1, g2 FROM
        (SELECT g1, g2, count(DISTINCT doc_id) AS c FROM grams GROUP BY 1, 2)
      WHERE c >= 2
    ),
    hits AS (SELECT doc_id, pos FROM grams JOIN shared USING (g1, g2)),
    brks AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {n}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM brks
    )
    SELECT doc_id, min(pos) AS span_start, max(pos) + {n} AS span_end_excl,
           count(*) AS n_windows
    FROM isl GROUP BY doc_id, island
    """


# --------------------------------------------- benchmark decontamination
EVAL_MOD = 100  # deterministic eval-set rule: doc_id % EVAL_MOD == EVAL_RES
EVAL_RES = 7


def decontaminate(
    docs: DataFrame,
    n: int = SUBSTR_N,
    eval_mod: int = EVAL_MOD,
    eval_res: int = EVAL_RES,
) -> DataFrame:
    """Benchmark DECONTAMINATION (the GPT-3/Llama training-data recipe):
    for every TRAINING document, count how many of its distinct n-token
    grams also appear anywhere in the held-out EVAL set — documents
    with hits leak benchmark content and get filtered or masked before
    training. The eval set here is the deterministic rule
    ``doc_id % eval_mod == eval_res`` (in production: the benchmark
    suite's text); output is (doc_id, n_grams, n_contaminated) for
    every training doc with at least one gram, zero-hit docs included
    so the contamination rate is computable downstream.

    Plan: ONE gram materialization (the shared pos_grams integer
    double-poly keys) deduplicated to (doc, gram) and persisted (owned
    cache, released after the result materializes); the eval gram set
    and the train grams both derive from it; contamination is a
    left-semi equi-join on the 62-bit key — no pair join, linear in
    total gram count, AQE free to broadcast the eval side when the
    benchmark is small (the common case: benchmarks are MBs, corpora
    are TBs).

    Returns an EAGERLY PERSISTED DataFrame (the internal grams cache is
    released before return; the result must be pinned so unpersisting
    grams cannot trigger a full gram-scan recompute). The CALLER owns
    unpersisting the result when done — the lm_cross_entropy
    owned-cache contract; curation_manifest releases it after
    materializing the composed manifest."""
    from pyspark import StorageLevel

    grams = (
        pos_grams(docs, n)
        .select("doc_id", "g1", "g2")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    is_eval = (F.col("doc_id") % eval_mod) == eval_res
    ev = grams.filter(is_eval).select("g1", "g2").distinct()
    train = grams.filter(~is_eval)
    hits = (
        train.join(ev, ["g1", "g2"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_contaminated"))
    )
    totals = train.groupBy("doc_id").agg(F.count("*").alias("n_grams"))
    out = (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce("n_contaminated", F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    grams.unpersist()
    return out


def duckdb_decontaminate_sql(
    table_sql: str,
    n: int = SUBSTR_N,
    eval_mod: int = EVAL_MOD,
    eval_res: int = EVAL_RES,
) -> str:
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
    ev AS (
      SELECT DISTINCT g1, g2 FROM grams WHERE doc_id % {eval_mod} = {eval_res}
    ),
    train AS (SELECT * FROM grams WHERE doc_id % {eval_mod} != {eval_res}),
    hits AS (
      SELECT doc_id, count(*) AS n_contaminated
      FROM train SEMI JOIN ev USING (g1, g2)
      GROUP BY 1
    ),
    totals AS (SELECT doc_id, count(*) AS n_grams FROM train GROUP BY 1)
    SELECT t.doc_id, t.n_grams,
           CAST(coalesce(h.n_contaminated, 0) AS BIGINT) AS n_contaminated
    FROM totals t LEFT JOIN hits h USING (doc_id)
    """


def decontaminate_spans(
    docs: DataFrame,
    n: int = SUBSTR_N,
    eval_mod: int = EVAL_MOD,
    eval_res: int = EVAL_RES,
) -> DataFrame:
    """Span-level benchmark decontamination — the LOCALIZATION
    counterpart to ``decontaminate``: that operator answers WHICH
    training documents leak eval content (per-doc gram counts, the
    GPT-3 appendix-C audit); this one answers WHERE, emitting the
    maximal token spans of every training document covered by n-token
    windows that also occur in the held-out eval split
    (``doc_id % eval_mod == eval_res``) — the regions the Llama recipe
    masks or cuts instead of dropping the whole document. Output:
    (doc_id, span_start, span_end_excl, n_windows), training docs with
    at least one leaked window only.

    Plan: ONE positional gram materialization (the shared pos_grams
    integer double-poly keys — positions kept, unlike decontaminate's
    distinct (doc, gram) table, because positions ARE the output),
    persisted once and consumed by both sides (owned cache, released
    after the result materializes); the eval gram set is a bounded
    distinct of the eval slice (benchmarks are MBs where corpora are
    TBs, so AQE broadcasts it); leak hits are a left-semi equi-join on
    the 62-bit key — no pair join, linear in total window count — and
    the span merge is the duplicate_spans gaps-and-islands window,
    one shuffle partitioned by doc_id. Same owned-persist contract as
    decontaminate: the returned DataFrame is eagerly persisted and the
    CALLER owns unpersisting it."""
    from pyspark import StorageLevel

    grams = pos_grams(docs, n).persist(StorageLevel.MEMORY_AND_DISK)
    is_eval = (F.col("doc_id") % eval_mod) == eval_res
    ev = grams.filter(is_eval).select("g1", "g2").distinct()
    hits = (
        grams.filter(~is_eval)
        .join(ev, ["g1", "g2"], "left_semi")
        .select("doc_id", "pos")
    )
    out = _windows_to_spans(hits, n).persist(StorageLevel.MEMORY_AND_DISK)
    out.count()
    grams.unpersist()
    return out


# Deterministic contamination augmentation (the pii_scan pattern): the
# word-soup test corpus has almost no NATURAL >=10-token runs shared
# between the eval split and training docs (measured: zero at sf0.001),
# so the decontaminate_spans QUERY plants a fixed 16-token benchmark
# block on every doc with doc_id % CONTAM_MOD == EVAL_RES. Since
# CONTAM_MOD divides EVAL_MOD, the eval docs (doc_id % 100 == 7) all
# carry the block and the train docs at residues 32/57/82 mod 100 leak
# it — known positive class with known span positions (the trailing 16
# tokens), everything else a clean negative control. Both engines apply
# the identical augmentation; the operator itself is corpus-agnostic.
CONTAM_MOD = 25
CONTAM_BLOCK = " ".join(f"benchq{i}" for i in range(16))


def contamination_augment(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % CONTAM_MOD == EVAL_RES,
            F.concat(F.col("text"), F.lit(" " + CONTAM_BLOCK)),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )


def duckdb_contamination_augment_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           CASE WHEN doc_id % {CONTAM_MOD} = {EVAL_RES}
                THEN text || ' {CONTAM_BLOCK}' ELSE text END AS text
    FROM {table}
    """


def duckdb_decontaminate_spans_sql(
    table_sql: str,
    n: int = SUBSTR_N,
    eval_mod: int = EVAL_MOD,
    eval_res: int = EVAL_RES,
) -> str:
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
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             {duck_win_fold('h1', HASH_BASE_3, n)} AS g1,
             {duck_win_fold('h2', HASH_BASE_4, n)} AS g2
      FROM hs, UNNEST(range(0, greatest(len(h1) - {n} + 1, 0))) AS t(i)
    ),
    ev AS (
      SELECT DISTINCT g1, g2 FROM grams
      WHERE doc_id % {eval_mod} = {eval_res}
    ),
    hits AS (
      SELECT doc_id, pos
      FROM (SELECT * FROM grams WHERE doc_id % {eval_mod} != {eval_res}) tr
      SEMI JOIN ev USING (g1, g2)
    ),
    brks AS (
      SELECT doc_id, pos,
             CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
                    OR pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > {n}
                  THEN 1 ELSE 0 END AS brk
      FROM hits
    ),
    isl AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM brks
    )
    SELECT doc_id, min(pos) AS span_start, max(pos) + {n} AS span_end_excl,
           count(*) AS n_windows
    FROM isl GROUP BY doc_id, island
    """


def dedup_keeplist(docs: DataFrame) -> DataFrame:
    """The dedup pipeline's END PRODUCT: one row per document with the
    keep/drop decision — keep the canonical representative (minimum
    doc_id) of every near-dup component, drop the other members, keep
    everything unclustered. Exact duplicates are covered transitively
    (identical texts share all shingles -> Jaccard 1 -> same
    component). Output: (doc_id, keep, component_id) with
    component_id = -1 for unclustered docs.

    One extra left join over dedup_components' output, sized by AQE at
    runtime rather than a forced broadcast: on a web corpus near-dup
    cluster membership is NOT tiny — 30-50% of documents cluster (Lee
    et al. 2022), so the component table is billions of rows at 10^12
    docs and a forced broadcast hint would OOM the driver. AQE
    broadcasts when the measured table is small (every test corpus) and
    falls back to a shuffle join on doc_id otherwise — both keys are
    unsalted doc_id, so the shuffle is one exchange per side with no
    skew (doc_id is unique on both sides; parity on the shuffle path is
    pytest-enforced under autoBroadcastJoinThreshold=-1)."""
    comps = dedup_components(docs).select("doc_id", "component_id")
    return (
        docs.select("doc_id")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            (
                F.col("component_id").isNull()
                | (F.col("component_id") == F.col("doc_id"))
            ).alias("keep"),
            F.coalesce("component_id", F.lit(-1)).alias("component_id"),
        )
    )


def duckdb_keeplist_sql(table_sql: str) -> str:
    return f"""
    WITH comp AS ({duckdb_components_sql(table_sql)})
    SELECT d.doc_id,
           (c.component_id IS NULL OR c.component_id = d.doc_id) AS keep,
           coalesce(c.component_id, -1) AS component_id
    FROM ({table_sql}) d LEFT JOIN comp c USING (doc_id)
    """


# --------------------------------------------- winnowing fingerprints
WIN_K = 4      # k-gram length (chars, whitespace-collapsed lowercase)
WIN_W = 4      # winnowing window (k-grams per window)
WIN_POS_BITS = 24  # position bits in the (hash, position) encoding


def winnowing_fingerprints(
    docs: DataFrame, k: int = WIN_K, w: int = WIN_W
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): from every window of ``w`` consecutive
    char ``k``-gram hashes, select the minimum (rightmost on ties);
    the distinct selected (position, hash) pairs are the document's
    fingerprint. Guarantees: any shared substring of length >= k+w-1
    produces at least one shared fingerprint (coverage), and expected
    density is 2/(w+1) — a tunable, position-robust sample that plain
    "every i-th gram" schemes can't give (insertion shifts kill modular
    sampling; winnowing re-synchronizes within one window).

    This is the one dedup operator implemented as a vectorized Arrow
    kernel (``mapInPandas``) instead of Catalyst HOFs, with receipts:
    the HOF formulation (char array -> k-gram poly-hash folds ->
    per-window ``array_min(slice(...))``) measured ~17 ms/row on
    300-char docs — char-level interpreted lambda evaluation is ~1000x
    off a rolling-hash kernel, and worse, Catalyst's
    ``InferFiltersFromGenerate`` infers a ``size(encs) > 0`` predicate
    from the explode and pushes it below every staged projection,
    re-inlining the whole fold chain into the filter (observed as a
    hard hang at 500 docs; the same query with that rule excluded ran
    in 9.5 s). Per-doc numpy is the same Arrow-batch pattern as the image
    kernels in ocr/udfs.py: code points via one utf-32 decode, k-gram
    hashes as k vectorized fused-multiply-mod passes (bit-identical to
    the left fold ``(acc*131 + c) % (2^31-1)`` the SQL oracle runs),
    sliding-window min via a stride-tricks view.

    Engine-exact rightmost-argmin: each gram hash is pre-encoded WITH
    its position as ``h << POS_BITS | (MASK - j)``; the plain integer
    min of a window of encodings IS the rightmost minimum (smaller
    hash wins first; equal hashes prefer larger j). h < 2^31 and 24
    position bits keep encodings under 2^55 — exact in int64 and in
    DuckDB. Caps documents at 2^24 k-grams (~16 MB of text); beyond
    that positions alias — split such documents upstream.

    Scale shape: ZERO shuffles and zero joins — fingerprints are
    per-document and the kernel emits them already distinct (np.unique
    per doc), so the plan is scan -> ArrowEvalPython -> done; linear in
    corpus bytes, embarrassingly partition-parallel.

    Output: (doc_id, pos, fp_hash), pos = 0-based k-gram position."""
    import re as _re

    import numpy as np
    import pandas as pd

    mask = (1 << WIN_POS_BITS) - 1
    base, mod = HASH_BASE_1, HASH_MOD

    def kernel(batches):
        for pdf in batches:
            ids, poss, fps = [], [], []
            for doc_id, text in zip(pdf["doc_id"].values, pdf["text"].values):
                nt = _re.sub(r"\s+", " ", (text or "").lower())
                n = len(nt)
                m = n - k + 1
                if m < w:  # fewer than w k-grams: no full window
                    continue
                # code points in one vectorized decode (== ascii() on
                # each split('') char in both engines for BMP text)
                cs = np.frombuffer(
                    nt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                h = cs[:m].copy()
                for j in range(1, k):  # the (acc*B + c) % M left fold
                    h *= base
                    h += cs[j : j + m]
                    h %= mod
                enc = (h << WIN_POS_BITS) + (mask - np.arange(m, dtype=np.int64))
                sel = np.unique(
                    np.lib.stride_tricks.sliding_window_view(enc, w).min(axis=1)
                )
                ids.append(np.full(len(sel), doc_id, dtype=np.int64))
                poss.append(mask - (sel & mask))
                fps.append(sel >> WIN_POS_BITS)
            if ids:
                yield pd.DataFrame(
                    {
                        "doc_id": np.concatenate(ids),
                        "pos": np.concatenate(poss),
                        "fp_hash": np.concatenate(fps),
                    }
                )

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema="doc_id long, pos long, fp_hash long"
    )


def duckdb_winnowing_sql(
    table_sql: str, k: int = WIN_K, w: int = WIN_W
) -> str:
    mask = (1 << WIN_POS_BITS) - 1
    return f"""
    WITH norm AS (
      SELECT doc_id, regexp_replace(lower(text), '\\s+', ' ', 'g') AS nt
      FROM ({table_sql})
    ),
    cs AS (
      SELECT doc_id,
             list_transform(range(1, length(nt) + 1),
               i -> ascii(substring(nt, CAST(i AS INT), 1))::BIGINT) AS cs
      FROM norm
    ),
    gs AS (
      SELECT doc_id,
             list_transform(range(0, greatest(len(cs) - {k} + 1, 0)),
               i -> list_reduce(
                      list_prepend(0::BIGINT,
                        cs[CAST(i + 1 AS INT):CAST(i + {k} AS INT)]),
                      (acc, c) -> (acc * {HASH_BASE_1} + c) % {HASH_MOD})) AS gs
      FROM cs
    ),
    es AS (
      SELECT doc_id,
             list_transform(range(0, len(gs)),
               j -> (gs[CAST(j + 1 AS INT)] << {WIN_POS_BITS})
                    + ({mask} - j)) AS es
      FROM gs
    ),
    encs AS (
      SELECT doc_id,
             list_transform(range(0, greatest(len(es) - {w} + 1, 0)),
               i -> list_aggregate(
                      es[CAST(i + 1 AS INT):CAST(i + {w} AS INT)],
                      'min')) AS encs
      FROM es
    )
    SELECT DISTINCT doc_id,
           ({mask} - (enc & {mask}))::BIGINT AS pos,
           (enc >> {WIN_POS_BITS})::BIGINT AS fp_hash
    FROM (SELECT doc_id, unnest(encs) AS enc FROM encs)
    """


# --------------------------------------------------- source dup matrix
def dup_source_matrix(
    docs: DataFrame, threshold_milli: int = JACCARD_MILLI
) -> DataFrame:
    """Source-by-source duplication-flow matrix: how many near-dup
    pairs connect each (unordered) pair of sources, and how similar
    they are — the syndication audit a corpus curator runs to find
    which feeds mirror which before deciding per-source dedup policy.
    Runs over the mutant-augmented corpus (the shared dedup fixture),
    with mutant/exact copies inheriting their original's source.

    Plan: the near-dup pairs come from the linear-scalable
    minhash_lsh_pairs path (banded candidates + exact verify, NOT the
    quadratic oracle baseline); the pair table that reaches this
    operator is tiny relative to the corpus (only true near-dups
    survive verification), so the two source-lookup joins are
    AQE-broadcastable in the common case and the final aggregation is
    bounded by |sources|^2. Sources canonicalize with least/greatest
    so A->B and B->A land in one cell; mean jaccard is an exact
    integer floor-division (both operands positive — Spark `div` and
    DuckDB `//` agree)."""
    pairs = minhash_lsh_pairs(with_mutants(docs), threshold_milli)
    base = docs.select("doc_id", "source")
    src = (
        base.unionByName(
            docs.filter(F.col("doc_id") % 10 == 3).select(
                (F.col("doc_id") + MUTANT_OFFSET).alias("doc_id"), "source"
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 25 == 7).select(
                (F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), "source"
            )
        )
    )
    j = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
            "jaccard_milli",
        )
    )
    return (
        j.groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("jaccard_milli").alias("sj"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            F.expr("sj div n_pairs").alias("mean_jaccard_milli"),
        )
    )


def duckdb_dup_source_matrix_sql(
    table: str = "documents", threshold_milli: int = JACCARD_MILLI
) -> str:
    mutants = duckdb_with_mutants_sql(table)
    return f"""
    WITH pairs AS (
      SELECT * FROM ({duckdb_jaccard_sql(mutants, threshold_milli)})
    ),
    src AS (
      SELECT doc_id, source FROM {table}
      UNION ALL
      SELECT doc_id + {MUTANT_OFFSET} AS doc_id, source
      FROM {table} WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + {EXACT_OFFSET} AS doc_id, source
      FROM {table} WHERE doc_id % 25 = 7
    ),
    cells AS (
      SELECT least(a.source, b.source) AS source_a,
             greatest(a.source, b.source) AS source_b,
             jaccard_milli
      FROM pairs
      JOIN src a ON a.doc_id = pairs.doc_a
      JOIN src b ON b.doc_id = pairs.doc_b
    )
    SELECT source_a, source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(jaccard_milli) // count(*) AS BIGINT) AS mean_jaccard_milli
    FROM cells
    GROUP BY 1, 2
    """


# ------------------------------------------------- span masking end product
def mask_duplicate_spans(docs: DataFrame, n: int = SUBSTR_N) -> DataFrame:
    """APPLY the positional substring dedup (the Lee et al. 2022 end
    product): remove every token covered by a cross-document duplicate
    span from each document and emit the cleaned text's fingerprint —
    what a training pipeline actually writes out after
    ``duplicate_spans`` has located the repeated regions.

    Plan: the span table (tiny — only duplicated regions survive) is
    folded to one row per affected doc and joined back LEFT onto the
    token arrays, then the mask is a NARROW array filter (an indexed
    HOF testing each position against the doc's span list — per-doc
    work, no explode of the token stream, no extra shuffle beyond
    duplicate_spans' own linear stages and the one collect_list fold).
    Output rows stay small at any document size: (doc_id, n_toks,
    n_kept, clean_md5) with the md5 standing in for the cleaned text
    (the pii_scan md5-verification pattern); a fully-masked doc yields
    md5('') identically in both engines."""
    spans = duplicate_spans(docs, n)
    sp = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end_excl")).alias("spans")
    )
    toks = docs.select(
        "doc_id", F.split(F.lower("text"), r"\s+").alias("toks")
    )
    j = toks.join(sp, "doc_id", "left").select(
        "doc_id",
        "toks",
        F.coalesce(
            "spans",
            F.array().cast("array<struct<span_start:long,span_end_excl:long>>"),
        ).alias("spans"),
    )
    kept = F.filter(
        "toks",
        lambda t, i: ~F.exists(
            F.col("spans"),
            lambda s: (i >= s["span_start"]) & (i < s["span_end_excl"]),
        ),
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_toks"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("clean_md5"),
    )


def duckdb_mask_spans_sql(table_sql: str, n: int = SUBSTR_N) -> str:
    return f"""
    WITH spans AS (SELECT * FROM ({duckdb_duplicate_spans_sql(table_sql, n)})),
    toks AS (
      SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM ({table_sql})
    ),
    pos AS (
      SELECT doc_id, toks[CAST(i AS INT)] AS tok, i - 1 AS pos
      FROM toks, UNNEST(range(1, len(toks) + 1)) AS u(i)
    ),
    masked AS (
      SELECT p.doc_id, p.pos, p.tok
      FROM pos p
      WHERE NOT EXISTS (
        SELECT 1 FROM spans s
        WHERE s.doc_id = p.doc_id
          AND p.pos >= s.span_start AND p.pos < s.span_end_excl
      )
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_kept,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
      FROM masked GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(len(t.toks) AS BIGINT) AS n_toks,
           CAST(coalesce(a.n_kept, 0) AS BIGINT) AS n_kept,
           coalesce(a.clean_md5, md5('')) AS clean_md5
    FROM toks t LEFT JOIN agg a USING (doc_id)
    """


# ------------------------------------------------------------- PageRank
PR_ITERS = 5
PR_UNIT_MICRO = 1_000_000  # rank unit: 1.0 == 1e6 (integer-exact)
PR_DAMP_MILLI = 850        # damping 0.85 as an integer rational


def _pagerank(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """Damped PageRank over a DIRECTED edge list (src, dst) where every
    node has out-degree >= 1 (no dangling-mass redistribution needed —
    the near-dup graph is undirected so both directions are present).
    All-integer arithmetic: ranks in micro units, contributions are
    ``r div deg`` and the update is ``150000 + (850 * sum) div 1000``
    — both operands positive everywhere, so Spark's truncating ``div``
    and DuckDB's floor ``//`` agree bit-for-bit.

    The per-iteration plan is the textbook distributed PageRank shape:
    join ranks onto edges by src (one shuffle keyed src — at web scale
    pre-partitioning edges AND ranks by src makes it co-located), then
    one map-side-combining groupBy dst. The degree table joins
    AQE-sized (node-count rows).

    Lineage discipline, re-measured this round: the BASES — edges, the
    degree table, the init ranks — are eagerly ``localCheckpoint``ed
    (a persist caches data but keeps the full LOGICAL plan, so every
    iteration would re-embed the large upstream MinHash lineage ~3
    times per level = ~3^k growth; that was the r4-measured
    ~6s/iteration blowup). With the bases truncated, the rank chain's
    plan grows LINEARLY in k, so the per-iteration checkpoints the r5
    code added on top were pure overhead — 5 extra eager jobs, ~0.7s
    of the query's wall at sf0.1 (A/B'd in one session, identical
    checksums) — and the 5 chained shuffles now execute as ONE job at
    action time, the standard Pregel-free shape. A ranks checkpoint
    every 8th iteration keeps Catalyst analysis O(k) for deep custom
    ``iters`` (the default 5 never triggers it). On a real cluster,
    reliable ``checkpoint()`` to the cluster store is the
    fault-tolerant variant (localCheckpoint dies with an executor);
    same plan shape either way."""
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(
        F.count("*").alias("deg")
    ).localCheckpoint(eager=True)
    ranks = deg.select(
        F.col("src").alias("node"),
        F.lit(PR_UNIT_MICRO).cast("long").alias("r"),
    ).localCheckpoint(eager=True)
    base = (1000 - PR_DAMP_MILLI) * PR_UNIT_MICRO // 1000  # 150000
    for i in range(iters):
        ranks = (
            edges.join(ranks.withColumnRenamed("node", "src"), "src")
            .join(deg, "src")
            .select("dst", F.expr("r div deg").alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(base)
                    + F.expr(f"({PR_DAMP_MILLI} * s) div 1000")
                ).cast("long").alias("r"),
            )
        )
        if (i + 1) % 8 == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks


def neardup_pagerank(
    docs: DataFrame,
    iters: int = PR_ITERS,
    threshold_milli: int = JACCARD_MILLI,
) -> DataFrame:
    """PageRank CENTRALITY over the verified near-dup graph (mutant-
    augmented corpus, the shared dedup fixture): the iterative
    link-analysis mechanic a web-corpus pipeline runs to weight
    syndication hubs — a doc near-duplicated by many low-degree copies
    accumulates rank, so picking the max-rank member per component
    chooses the "most central" representative (the centrality
    alternative to dedup_keeplist's min-id canonical). Output:
    (doc_id, rank_micro) for every document that appears in at least
    one verified near-dup pair; 5 fixed iterations, integer micro
    ranks (deterministic, engine-exact — see _pagerank).

    Scale: the edge list comes from the linear minhash_lsh_pairs path
    (banded candidates + exact verify, tiny relative to the corpus);
    each iteration is one src-keyed shuffle + one map-combining dst
    aggregation — the standard Pregel-free DataFrame PageRank that
    holds at billions of edges."""
    pairs = minhash_lsh_pairs(with_mutants(docs), threshold_milli)
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    # Measured this round (interleaved A/B in one session, idle box):
    # the iteration loop is NOT the cost — 5 iterations run in ~2s
    # either with the inherited 64-partition edge layout or coalesced
    # to 1 (the localCheckpoint truncation keeps each iteration's job
    # flat), and a count-based coalesce added ~0.5s of driver prep for
    # zero iteration win. The query's wall is dominated by the shared
    # minhash pair build above; r5's bench flag was environment noise
    # (sandbox throttling), not a plan defect.
    out = _pagerank(edges, iters)
    # _pagerank checkpointed the EDGE table eagerly (self-contained —
    # no lineage back to the pair table), so the minhash pair cache can
    # be released here; the iteration chain above it is lazy and
    # executes as one job at action time.
    pairs.unpersist()
    return out.select(
        F.col("node").alias("doc_id"), F.col("r").alias("rank_micro")
    )


def duckdb_neardup_pagerank_sql(
    table: str = "documents",
    iters: int = PR_ITERS,
    threshold_milli: int = JACCARD_MILLI,
) -> str:
    """Unrolled fixed-iteration CTE chain (the kmeans oracle pattern)
    over the shared exhaustive-jaccard pair oracle."""
    base = (1000 - PR_DAMP_MILLI) * PR_UNIT_MICRO // 1000
    steps = ",\n".join(
        f"""r{i} AS (
      SELECT e.dst AS node,
             {base} + ({PR_DAMP_MILLI} * sum(r.r // d.deg)) // 1000 AS r
      FROM edges e
      JOIN r{i - 1} r ON r.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY 1
    )"""
        for i in range(1, iters + 1)
    )
    return f"""
    WITH pairs AS ({duckdb_jaccard_sql(duckdb_with_mutants_sql(table), threshold_milli)}),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
    r0 AS (SELECT src AS node, CAST({PR_UNIT_MICRO} AS BIGINT) AS r FROM deg),
    {steps}
    SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_micro FROM r{iters}
    """


# ----------------------------------------------------- snapshot dedup
SNAPSHOT_OFFSET = 3_000_000  # novel-doc ids in the synthetic new crawl


def snapshot_new(docs: DataFrame) -> DataFrame:
    """The synthetic NEW CRAWL for incremental snapshot dedup: mutant
    near-copies (doc_id % 10 == 3, the shared fixture suffix) and
    verbatim copies (doc_id % 25 == 7) that the dedup must DROP, plus
    genuinely novel docs (doc_id % 9 == 4 with token order reversed —
    3-gram shingles are order-sensitive, so the reversed text shares
    ~no shingles with its source) that it must KEEP."""
    mutants = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + MUTANT_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(MUTANT_SUFFIX)).alias("text"),
    )
    exacts = docs.filter(F.col("doc_id") % 25 == 7).select(
        (F.col("doc_id") + EXACT_OFFSET).alias("doc_id"), "text"
    )
    novel = docs.filter(F.col("doc_id") % 9 == 4).select(
        (F.col("doc_id") + SNAPSHOT_OFFSET).alias("doc_id"),
        F.array_join(F.reverse(F.split(F.col("text"), r"\s+")), " ").alias(
            "text"
        ),
    )
    return mutants.unionByName(exacts).unionByName(novel)


def duckdb_snapshot_new_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id + {MUTANT_OFFSET} AS doc_id,
           text || '{MUTANT_SUFFIX}' AS text
    FROM {table} WHERE doc_id % 10 = 3
    UNION ALL
    SELECT doc_id + {EXACT_OFFSET} AS doc_id, text
    FROM {table} WHERE doc_id % 25 = 7
    UNION ALL
    SELECT doc_id + {SNAPSHOT_OFFSET} AS doc_id,
           array_to_string(
             list_reverse(regexp_split_to_array(text, '\\s+')), ' ') AS text
    FROM {table} WHERE doc_id % 9 = 4
    """


def snapshot_dedup(
    old: DataFrame,
    new: DataFrame,
    threshold_milli: int = JACCARD_MILLI,
    n_perm: int = N_PERM,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """INCREMENTAL snapshot dedup — the monthly-crawl staple: dedup
    every NEW document against the accumulated OLD corpus (never old
    against itself — that corpus was already deduped when it was
    ingested). Output: one row per new doc,
    (doc_id, keep, best_old_id, best_jaccard_milli) with keep = no old
    doc at J >= threshold, best match chosen by (max jaccard, min
    old_id) — deterministic in both engines.

    Plan: the CROSS-side variant of minhash_lsh_pairs — each side
    builds its own MinHash band table (shared _minh_signatures /
    _band_explode helpers), candidates come from the band equi-join
    NEW x OLD (never old x old: at web scale the accumulated corpus
    dwarfs a single crawl, and self-pairs would dominate the work for
    zero value), exact Jaccard verification runs only on candidates
    through the two shingle joins, and the best-match pick is a
    per-new-doc window over the tiny verified-pair table. The two
    shingle tables are persisted (each feeds signatures + verify) and
    released after the bounded result materializes — the owned-cache
    contract. At the fixture threshold the banded recall argument is
    the same one minhash_lsh_pairs documents (planted copies sit at
    J ~ 0.97-1.0; miss probability ~0)."""
    from pyspark import StorageLevel
    from pyspark.sql import Window

    sh_old = shingle_sets(old).persist(StorageLevel.MEMORY_AND_DISK)
    sh_new = shingle_sets(new).persist(StorageLevel.MEMORY_AND_DISK)
    banded_old = _band_explode(
        _minh_signatures(sh_old, n_perm), n_perm, n_bands
    ).select(F.col("doc_id").alias("old_id"), "band_id", "band_key")
    banded_new = _band_explode(
        _minh_signatures(sh_new, n_perm), n_perm, n_bands
    ).select(F.col("doc_id").alias("new_id"), "band_id", "band_key")
    cand = (
        banded_new.join(banded_old, ["band_id", "band_key"])
        .select("new_id", "old_id")
        .distinct()
    )
    common = (
        cand.join(
            sh_new.select(F.col("doc_id").alias("new_id"), "shingle"),
            "new_id",
        )
        .join(
            sh_old.select(F.col("doc_id").alias("old_id"), "shingle"),
            ["old_id", "shingle"],
        )
        .groupBy("new_id", "old_id")
        .agg(F.count("*").alias("common"))
    )
    sz_new = sh_new.groupBy("doc_id").agg(F.count("*").alias("sz_new"))
    sz_old = sh_old.groupBy("doc_id").agg(F.count("*").alias("sz_old"))
    pairs = (
        common.join(sz_new.withColumnRenamed("doc_id", "new_id"), "new_id")
        .join(sz_old.withColumnRenamed("doc_id", "old_id"), "old_id")
        .filter(
            F.col("common") * 1000
            >= F.lit(threshold_milli)
            * (F.col("sz_new") + F.col("sz_old") - F.col("common"))
        )
        .select(
            "new_id",
            "old_id",
            F.floor(
                F.col("common")
                * 1000
                / (F.col("sz_new") + F.col("sz_old") - F.col("common"))
            ).cast("long").alias("jaccard_milli"),
        )
    )
    w = Window.partitionBy("new_id").orderBy(
        F.desc("jaccard_milli"), F.asc("old_id")
    )
    best = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("new_id").alias("doc_id"), "old_id", "jaccard_milli"
        )
    )
    out = (
        new.select("doc_id")
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.col("old_id").isNull().alias("keep"),
            F.coalesce("old_id", F.lit(-1)).cast("long").alias("best_old_id"),
            F.coalesce("jaccard_milli", F.lit(0)).cast("long").alias(
                "best_jaccard_milli"
            ),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    sh_old.unpersist()
    sh_new.unpersist()
    return out


def duckdb_snapshot_dedup_sql(
    old_sql: str,
    new_sql: str,
    threshold_milli: int = JACCARD_MILLI,
) -> str:
    """Exhaustive cross-corpus twin (quadratic per shared shingle —
    oracle only; the scale path is the banded operator)."""
    sh_old = DUCKDB_SHINGLES.format(table_sql=old_sql, n=SHINGLE_N)
    sh_new = DUCKDB_SHINGLES.format(table_sql=new_sql, n=SHINGLE_N)
    return f"""
    WITH sh_o AS ({sh_old}),
    sh_n AS ({sh_new}),
    sz_o AS (SELECT doc_id, count(*) AS sz FROM sh_o GROUP BY 1),
    sz_n AS (SELECT doc_id, count(*) AS sz FROM sh_n GROUP BY 1),
    common AS (
      SELECT n.doc_id AS new_id, o.doc_id AS old_id, count(*) AS common
      FROM sh_n n JOIN sh_o o USING (shingle)
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT new_id, old_id,
             CAST(floor(common * 1000 / (n.sz + o.sz - common)) AS BIGINT)
               AS jaccard_milli
      FROM common
      JOIN sz_n n ON n.doc_id = new_id
      JOIN sz_o o ON o.doc_id = old_id
      WHERE common * 1000 >= {threshold_milli} * (n.sz + o.sz - common)
    ),
    best AS (
      SELECT new_id, old_id, jaccard_milli,
             row_number() OVER (PARTITION BY new_id
                                ORDER BY jaccard_milli DESC, old_id) AS rn
      FROM pairs
    )
    SELECT nd.doc_id,
           b.old_id IS NULL AS keep,
           CAST(coalesce(b.old_id, -1) AS BIGINT) AS best_old_id,
           CAST(coalesce(b.jaccard_milli, 0) AS BIGINT)
             AS best_jaccard_milli
    FROM ({new_sql}) nd
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.new_id = nd.doc_id
    """


# ----------------------------------------- content-defined chunking (CDC)
CDC_W = 8         # rolling window width (chars) the cut rule hashes
CDC_DIVISOR = 64  # cut when window-hash % divisor == 0 -> ~64-char chunks


def cdc_chunks(docs: DataFrame, w: int = CDC_W, divisor: int = CDC_DIVISOR) -> DataFrame:
    """Content-defined chunking — the storage-layer dedup primitive
    (Rabin/LBFS lineage; the mechanism below FastCDC and every
    dedup'ing blob store): chunk boundaries are a property of the
    CONTENT (cut after position i when the hash of the trailing
    ``w``-char window is 0 mod ``divisor``), so an insertion early in a
    document shifts only the chunks it touches — byte-offset chunking
    would reshuffle everything downstream. Identical text regions
    across near-identical documents therefore yield identical
    (chunk_md5) rows, which is what makes chunk-level dedup work.

    The STATELESS cut rule is the deliberate design choice: a pure
    per-position predicate (no min/max chunk clamps) is embarrassingly
    parallel and engine-exact — FastCDC's normalized min/max bounds
    need a sequential scan per document (state = last cut), which at
    cluster scale would be a per-doc mapInPandas kernel; the audit
    variant here never needs it. Expected chunk length = divisor chars.

    Narrow zero-shuffle plan, round-6 shape: ONE vectorized Arrow
    kernel per partition (the pos_grams/winnowing pattern, guide
    §4.2) — the former all-Catalyst formulation evaluated the w-wide
    slice fold as interpreted HOF lambdas, O(w·n) lambda steps plus an
    array allocation per position, and measured 5-9s single-task at
    sf0.1; the kernel runs the same exact int64 rolling fold
    ((acc·131 + code) % (2^31-1), code points == ascii() on split('')
    chars for BMP text) as w vectorized passes over a sliding window
    view, with chunk md5 = hashlib.md5 over the utf-8 chunk bytes —
    bit-identical to Spark's md5(substring(...)) — and code-point
    slicing matching substring()'s character semantics. Still no
    joins, no aggregation; scales with input splits like the parquet
    scan. Docs shorter than ``w`` (and empty docs) emit one whole-doc
    chunk.

    Output: (doc_id, chunk_idx, start, chunk_len, chunk_md5) with
    1-based ``start``; md5 over the raw (un-lowered) chunk text."""
    import hashlib

    import numpy as np
    import pandas as pd

    swv = np.lib.stride_tricks.sliding_window_view

    def kernel(batches):
        for pdf in batches:
            ids, idxs, starts, lens, md5s = [], [], [], [], []
            counts = []
            for text in pdf["text"].values:
                text = text or ""
                nn = len(text)
                if nn >= w:
                    cs = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    win = swv(cs, w)
                    h = np.zeros(len(win), dtype=np.int64)
                    for d in range(w):
                        h = (h * HASH_BASE_1 + win[:, d]) % HASH_MOD
                    # window ending at 1-based position i = j + w cuts
                    # when its hash % divisor == 0
                    cuts = np.flatnonzero(h % divisor == 0) + w
                    bounds = cuts.tolist()
                    if not bounds or bounds[-1] != nn:
                        bounds.append(nn)
                else:
                    bounds = [nn]
                prev = 0
                for k, cut in enumerate(bounds):
                    idxs.append(k + 1)
                    starts.append(prev + 1)
                    lens.append(cut - prev)
                    md5s.append(
                        hashlib.md5(
                            text[prev:cut].encode("utf-8")
                        ).hexdigest()
                    )
                    prev = cut
                counts.append(len(bounds))
            if counts:
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].values, counts),
                        "chunk_idx": np.array(idxs, dtype=np.int64),
                        "start": np.array(starts, dtype=np.int64),
                        "chunk_len": np.array(lens, dtype=np.int64),
                        "chunk_md5": md5s,
                    }
                )

    id_type = dict(docs.dtypes)["doc_id"]
    return docs.select("doc_id", "text").mapInPandas(
        kernel,
        schema=(
            f"doc_id {id_type}, chunk_idx long, start long, "
            "chunk_len long, chunk_md5 string"
        ),
    )


def duckdb_cdc_chunks_sql(
    table: str = "documents", w: int = CDC_W, divisor: int = CDC_DIVISOR
) -> str:
    fold = (
        "list_reduce(list_prepend(0::BIGINT, "
        f"list_transform(range(CAST(i-{w}+1 AS INT), CAST(i+1 AS INT)), "
        "j -> ascii(substring(text, CAST(j AS INT), 1))::BIGINT)), "
        f"(acc, c) -> (acc * {HASH_BASE_1} + c) % {HASH_MOD})"
    )
    return f"""
    WITH staged AS (
      SELECT doc_id, text, length(text)::BIGINT AS n FROM {table}
    ),
    cut AS (
      SELECT doc_id, text, n,
             -- list_distinct does not guarantee order: re-sort (values
             -- are ascending positions, so the sort is a no-op shape)
             list_sort(list_distinct(list_append(
               CASE WHEN n >= {w}
                 THEN list_filter(range({w}, n + 1),
                                  i -> ({fold}) % {divisor} = 0)
                 ELSE [] END, n))) AS boundaries
      FROM staged
    ),
    ex AS (
      SELECT doc_id, text, boundaries,
             generate_subscripts(boundaries, 1) AS idx,
             unnest(boundaries) AS cutpos
      FROM cut
    )
    SELECT doc_id, CAST(idx AS BIGINT) AS chunk_idx,
           CAST(CASE WHEN idx = 1 THEN 1
                     ELSE boundaries[idx - 1] + 1 END AS BIGINT) AS start,
           CAST(cutpos - CASE WHEN idx = 1 THEN 0
                              ELSE boundaries[idx - 1] END AS BIGINT)
             AS chunk_len,
           md5(substring(text,
                 CAST(CASE WHEN idx = 1 THEN 1
                           ELSE boundaries[idx - 1] + 1 END AS INT),
                 CAST(cutpos - CASE WHEN idx = 1 THEN 0
                               ELSE boundaries[idx - 1] END AS INT)))
             AS chunk_md5
    FROM ex
    """


# --------------------------------------------------- n-gram novelty audit
NOVELTY_N = 3  # short grams so cross-doc sharing actually occurs


def ngram_novelty(docs: DataFrame, n: int = NOVELTY_N) -> DataFrame:
    """Per-document n-gram NOVELTY — the memorization/uniqueness audit
    (the Lee-et-al memorization analyses ask exactly this: how much of
    a document is corpus-unique vs shared?): the fraction of a doc's
    DISTINCT n-token grams that appear in NO other document (document
    frequency 1). Low novelty = templated/syndicated text the dedup
    family should have caught; high novelty = genuinely fresh content
    (or noise — pair with quality_score).

    Plan: the shared pos_grams 62-bit integer keys deduplicated to
    (doc, gram) and persisted once (owned cache, decontaminate
    contract); gram df in one map-side-combining shuffle; novel grams
    (df = 1) flow back over a gram-keyed LEFT-SEMI join — never a doc
    pair join; two per-doc folds. Linear in total gram count at any
    corpus size. Short default n=3 (cross-doc 3-gram sharing is the
    norm; 10-grams would make every doc trivially novel).

    Returns an eagerly persisted result (caller owns unpersisting).
    Output: (doc_id, n_distinct_grams, n_novel_grams, novelty_milli)
    for docs with at least one gram."""
    from pyspark import StorageLevel

    grams = (
        pos_grams(docs, n)
        .select("doc_id", "g1", "g2")
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    novel_keys = (
        grams.groupBy("g1", "g2")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") == 1)
        .select("g1", "g2")
    )
    novel = (
        grams.join(novel_keys, ["g1", "g2"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_novel_grams"))
    )
    totals = grams.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_distinct_grams")
    )
    out = (
        totals.join(novel, "doc_id", "left")
        .select(
            "doc_id",
            "n_distinct_grams",
            F.coalesce("n_novel_grams", F.lit(0)).cast("long").alias(
                "n_novel_grams"
            ),
        )
        .withColumn(
            "novelty_milli",
            F.expr("(n_novel_grams * 1000) div n_distinct_grams"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    grams.unpersist()
    return out


def duckdb_ngram_novelty_sql(table_sql: str, n: int = NOVELTY_N) -> str:
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
    novel_keys AS (
      SELECT g1, g2 FROM grams GROUP BY g1, g2 HAVING count(*) = 1
    ),
    novel AS (
      SELECT doc_id, count(*) AS n_novel_grams
      FROM grams SEMI JOIN novel_keys USING (g1, g2)
      GROUP BY 1
    ),
    totals AS (
      SELECT doc_id, count(*) AS n_distinct_grams FROM grams GROUP BY 1
    )
    SELECT t.doc_id, t.n_distinct_grams,
           CAST(coalesce(v.n_novel_grams, 0) AS BIGINT) AS n_novel_grams,
           CAST((coalesce(v.n_novel_grams, 0) * 1000) // t.n_distinct_grams
                AS BIGINT) AS novelty_milli
    FROM totals t LEFT JOIN novel v USING (doc_id)
    """
