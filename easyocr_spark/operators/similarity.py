"""Similarity search over embedding columns (array<float>).

Engine-portable determinism: both Spark and the DuckDB oracle compute
cosine as a LEFT FOLD over the array in index order with double
arithmetic — identical operation order on identical parquet floats gives
bit-identical doubles, so ``floor(cos * 1e6)`` (micro-units) matches
exactly and ranking ties break on integer ids.

- brute_force_topk: the correctness baseline. Query-side is a
  deterministic subset (vec_id % QUERY_MOD == 0) joined against the
  full corpus — at 100 TB this is the "small probe set x big corpus"
  shape: broadcast the queries, scan the corpus once, per-partition
  Arrow-combiner top-k before the final shuffle (at most k rows per
  (partition, query) shuffle; the global window finishes exactly on
  that bounded remainder).
- lsh_topk: the scale path — 16 deterministic integer hyperplanes
  bucket both sides; candidates only within the probe's bucket. Same
  arithmetic in the oracle (the planes are pure integer formulas), so
  even the ANN variant is exactly verified.
- neardup_pairs: cosine >= 0.95 pairs (embedding near-dup dedup) via
  LSH-bucket candidates (+1-bit multi-probe) with exact verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

DIM = 64
K = 3
QUERY_MOD = 20
N_PLANES = 16
PLANE_MULT = 2654435761  # Knuth multiplicative constant, portable int math
NEARDUP_MICRO = 950_000


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cos_micro_pre(a: Column, b: Column, n2a: Column, n2b: Column) -> Column:
    """Cosine similarity in millionths, floor(dot / sqrt(n2a * n2b) *
    1e6), from PRE-COMPUTED squared norms: each vector's norm is
    evaluated once per row in a projection instead of once per PAIR —
    the dot product is the only per-pair fold, ~3x less HOF work on
    all-pairs/top-k scans."""
    return F.floor(_dot(a, b) / F.sqrt(n2a * n2b) * F.lit(1_000_000)).cast("long")


def _scored_pairs(embeddings: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, cos_micro) for every query x corpus pair:
    broadcast the bounded probe set, scan the corpus once, norms hoisted
    per row so the dot product is the only per-pair fold."""
    queries = embeddings.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm2(F.col("embedding")).alias("q_n2"),
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        norm2(F.col("embedding")).alias("n_n2"),
    )
    return (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos_micro_pre(
                F.col("q_emb"), F.col("n_emb"), F.col("q_n2"), F.col("n_n2")
            ).alias("cos_micro"),
        )
    )


def brute_force_topk(embeddings: DataFrame, k: int = K) -> DataFrame:
    """(query_id, neighbor_id, rank, cos_micro): exact top-k cosine
    neighbors for the deterministic query subset.

    Two-level top-k: an Arrow combiner runs on each scored partition
    keeping only the local top-k rows per query (bounded state:
    |queries| x k rows regardless of partition size), so the final
    exchange carries at most k rows per (partition, query) instead of
    every scored row — at 100 TB the shuffle is |partitions| x |Q| x k
    skinny rows, not n x |Q|. An exact global window finishes on that
    bounded remainder. Output is identical to the single-window variant
    (``brute_force_topk_window``, kept as the oracle twin) because the
    local sort uses the same (cos desc, neighbor_id asc) total order.

    Scale trade, measured: at bench scale (2k vectors, 200k scored
    rows) the combiner's extra Arrow boundary costs ~1s and the window
    twin is faster; the combiner wins as soon as per-query candidate
    counts outgrow executor memory for a single window partition —
    which is the regime this operator exists for."""
    scored = _scored_pairs(embeddings)

    def partial_topk(batches):
        import pandas as pd

        best = None
        for pdf in batches:
            cur = pd.concat([best, pdf]) if best is not None else pdf
            cur = cur.sort_values(
                ["query_id", "cos_micro", "neighbor_id"],
                ascending=[True, False, True],
                kind="mergesort",
            )
            best = cur.groupby("query_id", sort=False).head(k)
        if best is not None and len(best):
            yield best

    partial = scored.mapInPandas(
        partial_topk, schema="query_id long, neighbor_id long, cos_micro long"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_micro")
    )


def brute_force_topk_window(embeddings: DataFrame, k: int = K) -> DataFrame:
    """Single-window twin of ``brute_force_topk``: every scored row
    shuffles into one window per query. Simpler plan, unbounded shuffle
    — kept as the oracle-shaped baseline the combiner variant is
    asserted equal to (tests/test_dedup_similarity.py)."""
    scored = _scored_pairs(embeddings)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_micro")
    )


def _with_bucket_n2(embeddings: DataFrame) -> DataFrame:
    """(vec_id, embedding, bucket, n2) via ONE vectorized Arrow kernel
    — the ivf_topk assign-kernel pattern: the former per-row Catalyst
    formulation evaluated 16 interpreted plane folds + the norm fold
    per reference (and each consumer branch re-evaluated them), at
    O(N_PLANES·DIM) lambda steps per row. The kernel accumulates
    SEQUENTIALLY OVER DIMS and vectorized across rows, so every
    per-row accumulator performs the identical IEEE double adds in the
    identical order as a left fold over the dims (``norm2`` on the
    JVM side, ``duck_plane_dot`` in the oracle) — bucket and n2 are
    bit-identical to those folds. The weight formula keeps the fixed
    DIM=64 indexing of the oracle (w[j,d] = ((j·64 + d)·PLANE_MULT) %
    1000 − 500) while ranging d over the actual array length; empty
    arrays yield plane dots of 0.0 (bucket = full mask of >=0 bits)."""
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            nrow, dim = emb.shape if emb.ndim == 2 else (len(pdf), 0)
            acc = np.zeros((nrow, N_PLANES))
            n2 = np.zeros(nrow)
            for d in range(dim):
                w = np.array(
                    [
                        ((j * DIM + d) * PLANE_MULT) % 1000 - 500
                        for j in range(N_PLANES)
                    ],
                    dtype=np.float64,
                )
                acc += w[None, :] * emb[:, d : d + 1]
                n2 += emb[:, d] * emb[:, d]
            bucket = ((acc >= 0.0) * (1 << np.arange(N_PLANES))).sum(
                axis=1
            ).astype(np.int64)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "bucket": bucket,
                    "n2": n2,
                }
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        kernel,
        schema="vec_id long, embedding array<float>, bucket long, n2 double",
    )


def lsh_topk(embeddings: DataFrame, k: int = K) -> DataFrame:
    """ANN via hyperplane-LSH bucketing: candidates share the query's
    bucket; exact cosine rank within. Deterministic arithmetic ->
    exactly reproducible in the oracle (it's approximate vs brute
    force, but exact vs its own contract)."""
    with_bucket = _with_bucket_n2(embeddings)
    queries = with_bucket.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("n2").alias("q_n2"),
        "bucket",
    )
    corpus = with_bucket.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.col("n2").alias("n_n2"),
        "bucket",
    )
    scored = (
        queries.join(corpus, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cos_micro_pre(
                F.col("q_emb"), F.col("n_emb"), F.col("q_n2"), F.col("n_n2")
            ).alias("cos_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_micro")
    )


# deterministic codebook: vec_id % 25 == 3 are centroids. The codebook
# is driver-collected in ivf_topk, which is safe ONLY while it stays
# O(sqrt n)-ish relative to the corpus — if CENTROID_MOD changes, keep
# the collect-size story in ivf_topk's docstring in sync.
CENTROID_MOD = 25
NPROBE = 2


def _py_norm2(vals) -> float:
    """Squared norm as a LEFT FOLD in index order over doubles — the
    exact arithmetic Spark's F.aggregate fold and DuckDB's list_reduce
    produce, so a driver-side precomputed norm is bit-identical to one
    computed per pair inside either engine."""
    acc = 0.0
    for v in vals:
        x = float(v)
        acc = acc + x * x
    return acc


def ivf_topk(
    embeddings: DataFrame, k: int = K, nprobe: int = NPROBE
) -> DataFrame:
    """IVF-style ANN: a coarse codebook partitions the corpus into
    inverted lists; a query probes only its ``nprobe`` nearest
    centroids' lists and ranks exactly within. This is the classic
    IVF-Flat scale shape (train codebook -> assign once -> per-query
    work is nprobe/nlist of the corpus); the codebook here is a
    DETERMINISTIC subset of the vectors (vec_id % CENTROID_MOD == 3)
    standing in for a k-means-trained one so the DuckDB oracle
    reproduces the exact same lists — swap in trained centroids and
    nothing else changes.

    Assignment is MAP-SIDE: the codebook is collected to the driver
    (legitimately tiny — IVF codebooks are O(sqrt n) rows by
    construction; collecting one is how FAISS-style engines broadcast
    trained centroids) and each corpus partition scores itself against
    it inside ONE Arrow-batched mapInPandas kernel — a (batch x nlist)
    numpy matrix built by iterating the SHORT dim axis in Python and
    vectorizing across the pair matrix, which reproduces the engines'
    left-fold double arithmetic bit-for-bit (each acc update is the
    same IEEE add in the same order) while running at BLAS-ish speed
    instead of one interpreted HOF lambda per element. Zero Exchange
    for assignment — the former shape (crossJoin(broadcast) +
    Window.partitionBy(vec_id)) shuffled n x nlist scored rows just to
    take an argmin, an n^1.5-row Exchange at 100 TB. The only shuffles
    left are the probe equi-join on cent_id and the final bounded
    top-k window.

    NOTE: building this DataFrame is NOT side-effect-free — the codebook
    collect() runs an eager Spark job at construction time, and the
    centroid values are frozen then (not at action time). Callers
    composing plans lazily (e.g. bench.bench_queries, the plan
    fingerprint test) pay one small job just to build the plan; that is
    the deliberate FAISS-style trade."""
    import numpy as np

    cent_rows = sorted(
        embeddings.filter(F.col("vec_id") % CENTROID_MOD == 3)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    if not cent_rows:
        raise ValueError(
            f"ivf_topk: no centroids — the deterministic codebook rule "
            f"(vec_id % {CENTROID_MOD} == 3) selected zero vectors from "
            "the input; IVF needs a non-empty codebook"
        )
    cent_ids = np.array([int(r.vec_id) for r in cent_rows], dtype=np.int64)
    cents = np.array([list(r.embedding) for r in cent_rows], dtype=np.float64)
    cent_n2 = np.array([_py_norm2(r.embedding) for r in cent_rows])

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            acc = np.zeros((len(emb), len(cents)))
            n2 = np.zeros(len(emb))
            for d in range(emb.shape[1]):
                # sequential over dims = the exact fold order; vectorized
                # across the (row x centroid) matrix
                acc += emb[:, d : d + 1] * cents[None, :, d]
                n2 += emb[:, d] * emb[:, d]
            # zero-norm guard: a zero vector (or zero centroid) makes the
            # cosine 0/0 = NaN, and floor(NaN).astype(int64) is
            # platform-undefined. Pin those cells to int64 min — a
            # defined "ranks last" sentinel, so zero-norm rows still get
            # a deterministic (lowest cent_id) assignment.
            denom = np.sqrt(n2[:, None] * cent_n2[None, :])
            with np.errstate(invalid="ignore", divide="ignore"):
                raw = np.floor(acc / denom * 1_000_000)
            cosm = np.where(
                denom == 0.0, float(np.iinfo(np.int64).min), raw
            ).astype(np.int64)
            # stable sort of -cos + ascending cent index == the oracle's
            # ORDER BY cos DESC, cent_id ASC (cent_ids are id-sorted)
            order = np.argsort(-cosm, axis=1, kind="stable")
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "cent_id": cent_ids[order[:, 0]],
                    "probe_cents": [
                        cent_ids[o[:nprobe]].tolist() for o in order
                    ],
                }
            )

    ranked = embeddings.select("vec_id", "embedding").mapInPandas(
        assign,
        schema=(
            "vec_id long, embedding array<float>, cent_id long, "
            "probe_cents array<long>"
        ),
    )
    assigned = ranked.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        norm2(F.col("embedding")).alias("n_n2"),
        "cent_id",
    )
    probes = (
        ranked.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            norm2(F.col("embedding")).alias("q_n2"),
            F.explode("probe_cents").alias("cent_id"),
        )
    )
    # same zero-norm discipline JVM-side: under ANSI mode 0/0 raises
    # DIVIDE_BY_ZERO, so a zero-norm row in either role gets the defined
    # ranks-last sentinel the Arrow kernel uses
    sentinel = F.lit(-(1 << 63)).cast("long")
    cand = (
        probes.join(assigned, "cent_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.when(
                (F.col("q_n2") > 0) & (F.col("n_n2") > 0),
                cos_micro_pre(
                    F.col("q_emb"), F.col("n_emb"), F.col("q_n2"), F.col("n_n2")
                ),
            )
            .otherwise(sentinel)
            .alias("cos_micro"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_micro")
    )


def duckdb_ivf_topk_sql(k: int = K, nprobe: int = NPROBE) -> str:
    cc = duck_cos_micro("e.embedding", "c.embedding")
    return f"""
    WITH cents AS (SELECT vec_id AS cent_id, embedding FROM embeddings
                   WHERE vec_id % {CENTROID_MOD} = 3),
    scored AS (
      SELECT e.vec_id, e.embedding, c.cent_id, {cc} AS c_cos
      FROM embeddings e, cents c
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY c_cos DESC, cent_id ASC) AS crank
      FROM scored
    ),
    assigned AS (
      SELECT vec_id AS neighbor_id, embedding AS n_emb, cent_id
      FROM ranked WHERE crank = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_emb, cent_id
      FROM ranked WHERE vec_id % {QUERY_MOD} = 0 AND crank <= {nprobe}
    ),
    cand AS (
      SELECT query_id, neighbor_id,
             {duck_cos_micro('q_emb', 'n_emb')} AS cos_micro
      FROM probes JOIN assigned USING (cent_id)
      WHERE query_id <> neighbor_id
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_micro DESC, neighbor_id ASC) AS rank
      FROM cand
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_micro
    FROM rk WHERE rank <= {k}
    """


PLANT_OFFSET = 10_000


def with_planted_dups(embeddings: DataFrame) -> DataFrame:
    """The synthetic embeddings have no natural near-dups; plant exact
    copies (vec_id + PLANT_OFFSET) for every vec_id % 17 == 5 so the
    near-dup operator has positives to find (same pattern as
    dedup.with_mutants)."""
    copies = embeddings.filter(F.col("vec_id") % 17 == 5).select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"), "embedding"
    )
    return embeddings.select("vec_id", "embedding").unionByName(copies)


DUCK_PLANTED = f"""
    SELECT vec_id, embedding FROM embeddings
    UNION ALL
    SELECT vec_id + {PLANT_OFFSET} AS vec_id, embedding FROM embeddings
    WHERE vec_id % 17 = 5
"""


def neardup_pairs(embeddings: DataFrame, micro: int = NEARDUP_MICRO) -> DataFrame:
    """Embedding near-dup pairs (cos >= micro/1e6) via hyperplane-LSH
    candidate generation + exact cosine verification — the same banding
    shape as MinHash/SimHash, replacing the former all-pairs crossJoin.

    Candidates: one side explodes into its own bucket plus all 16
    one-bit-flipped buckets (multi-probe radius 1); the other side keeps
    its single bucket; a pair whose bucket signatures differ in <= 1
    hyperplane is matched by EXACTLY one probe (so no distinct needed).
    Identical vectors always share a bucket -> recall 1.0 on exact
    duplicates; for merely-close pairs this is the standard
    approximate-recall LSH trade (more probes / more tables = more
    recall), verified exact on every candidate. Cost: 17n exploded rows
    + bucket-local joins — linear-ish, vs n^2 for the cross join.

    CONTRACT (and what duckdb_neardup_sql encodes): pairs with cosine
    >= micro/1e6 AND bucket-signature hamming <= 1 over the 16
    deterministic hyperplanes. Above-threshold pairs whose signatures
    differ in >= 2 planes are outside the contract by design."""
    with_bucket = _with_bucket_n2(embeddings)
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
    )
    a = with_bucket.select(
        F.col("vec_id").alias("id_a"),
        F.col("embedding").alias("ea"),
        F.col("n2").alias("na"),
        F.explode(probes).alias("bucket"),
    )
    b = with_bucket.select(
        F.col("vec_id").alias("id_b"),
        F.col("embedding").alias("eb"),
        F.col("n2").alias("nb"),
        "bucket",
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cos_micro_pre(
                F.col("ea"), F.col("eb"), F.col("na"), F.col("nb")
            ).alias("cos_micro"),
        )
        .filter(F.col("cos_micro") >= micro)
    )


# ---------------------------------------------------------------- oracles
_DUCK_DOT = """
list_reduce(list_prepend(0.0::DOUBLE,
  list_transform(range(1, {dim}+1),
    i -> {a}[CAST(i AS INT)]::DOUBLE * {b}[CAST(i AS INT)]::DOUBLE)),
  (acc, x) -> acc + x)
"""


def duck_cos_micro(a: str, b: str, dim: int = DIM) -> str:
    dot = _DUCK_DOT.format(a=a, b=b, dim=dim)
    na = _DUCK_DOT.format(a=a, b=a, dim=dim)
    nb = _DUCK_DOT.format(a=b, b=b, dim=dim)
    return f"CAST(floor(({dot}) / sqrt(({na}) * ({nb})) * 1000000) AS BIGINT)"


def duckdb_brute_topk_sql(k: int = K) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
               WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             {duck_cos_micro('q_emb', 'e.embedding')} AS cos_micro
      FROM q, embeddings e WHERE e.vec_id <> query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_micro DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_micro
    FROM ranked WHERE rank <= {k}
    """


def duck_plane_dot(emb: str, j: int, dim: int = DIM) -> str:
    return f"""
    list_reduce(list_prepend(0.0::DOUBLE,
      list_transform(range(0, {dim}),
        d -> ((({j} * {dim} + d) * {PLANE_MULT}) % 1000 - 500)::DOUBLE
             * {emb}[CAST(d + 1 AS INT)]::DOUBLE)),
      (acc, x) -> acc + x)
    """


def duckdb_lsh_topk_sql(k: int = K) -> str:
    bucket = " + ".join(
        f"(CASE WHEN ({duck_plane_dot('embedding', j)}) >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    return f"""
    WITH wb AS (SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
                FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb, bucket FROM wb
          WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {duck_cos_micro('q_emb', 'c.embedding')} AS cos_micro
      FROM q JOIN wb c USING (bucket) WHERE c.vec_id <> query_id
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_micro DESC, neighbor_id ASC) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, cos_micro
    FROM ranked WHERE rank <= {k}
    """


def duckdb_neardup_sql(micro: int = NEARDUP_MICRO) -> str:
    """Oracle that states the REAL operator contract: candidate pairs
    are those whose hyperplane bucket signatures differ in <= 1 plane
    (the radius-1 multi-probe candidate set, reproduced here from the
    same deterministic planes), then exact-cosine verified. A pair
    above the threshold whose signatures differ in >= 2 planes is
    OUTSIDE the contract (standard LSH recall trade) — encoding the
    probe in the oracle makes that explicit instead of relying on the
    planted corpus never producing such a pair."""
    bucket = " + ".join(
        f"(CASE WHEN ({duck_plane_dot('embedding', j)}) >= 0 THEN {2 ** j} ELSE 0 END)"
        for j in range(N_PLANES)
    )
    return f"""
    WITH p AS ({DUCK_PLANTED}),
    wb AS (SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket FROM p)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {duck_cos_micro('a.embedding', 'b.embedding')} AS cos_micro
    FROM wb a JOIN wb b ON a.vec_id < b.vec_id
    WHERE bit_count(xor(a.bucket, b.bucket)) <= 1
      AND {duck_cos_micro('a.embedding', 'b.embedding')} >= {micro}
    """


# ----------------------------------------------------------- PQ / ADC ANN
NSUB = 8                      # subspaces (DIM 64 -> 8 dims each)
SUBDIM = DIM // NSUB
PQ_CANDIDATES = 25            # ADC shortlist size before exact re-rank


def _py_subdist(q, c, m: int, subdim: int = SUBDIM) -> float:
    """Squared L2 between the m-th subvectors as a LEFT FOLD in dim
    order over doubles — the exact arithmetic the Spark HOF fold, the
    DuckDB list_reduce, and the numpy per-dim accumulation produce."""
    acc = 0.0
    for d in range(m * subdim, (m + 1) * subdim):
        diff = float(q[d]) - float(c[d])
        acc = acc + diff * diff
    return acc


def _py_normalize(vals) -> list[float]:
    """Unit-normalize with the shared fold arithmetic: squared norm as
    the index-order left fold, then per-element division — the same
    doubles numpy's per-dim accumulation and DuckDB's list_transform
    produce. PQ quantizes the UNIT SPHERE so ADC's L2 ranking agrees
    with the cosine metric (||u - v||^2 = 2 - 2 cos for unit vectors).

    Zero-norm discipline (the ivf_topk pin pattern): a zero vector
    stays zero instead of raising ZeroDivisionError — its sub-distances
    against any centroid are then d2(0, c), defined and deterministic,
    and the exact re-rank excludes it via the q_n2/n_n2 guard."""
    import math

    n2 = _py_norm2(vals)
    if n2 == 0.0:
        return [0.0 for _ in vals]
    inv = math.sqrt(n2)
    return [float(v) / inv for v in vals]


def pq_topk(
    embeddings: DataFrame, k: int = K, n_candidates: int = PQ_CANDIDATES
) -> DataFrame:
    """Product-quantization ANN (IVF-PQ's compression half): corpus
    vectors are encoded as NSUB one-byte codes against deterministic
    per-subspace codebooks (the % CENTROID_MOD == 3 training subset —
    swap in k-means-trained sub-codebooks and nothing else changes);
    queries score the WHOLE corpus with an ADC lookup table (one
    distance per (subspace, centroid), reused across every corpus row
    — the PQ trade: 8 table lookups per pair instead of a 64-dim dot),
    shortlist top-``n_candidates`` by ADC, then exact-cosine re-rank to
    top-k. Output: (query_id, neighbor_id, rank, cos_micro, adc_micro).

    Scale shape: codes are 8 bytes/vector (32x smaller than the raw
    float32 vectors — the reason PQ exists at 100 TB); encoding is one
    map-side Arrow kernel against the broadcast codebook (zero
    Exchange, same pattern as ivf_topk); ADC scoring is JVM-side HOF
    arithmetic over a broadcast query+LUT table; only the bounded
    shortlist reaches the exact re-rank.

    NOTE: like ivf_topk, CONSTRUCTION collects the training subset and
    the probe set eagerly (both bounded by construction); the LUTs are
    frozen at build time."""
    import numpy as np

    train_rows = sorted(
        embeddings.filter(F.col("vec_id") % CENTROID_MOD == 3)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    if not train_rows:
        raise ValueError(
            f"pq_topk: empty codebook — no vec_id % {CENTROID_MOD} == 3 "
            "training rows in the input"
        )
    cents = np.array(
        [_py_normalize(r.embedding) for r in train_rows], dtype=np.float64
    )
    ksub = len(train_rows)
    # dimension-adaptive subspace split (the registered oracle covers
    # the 64-dim driver table; small test corpora still work)
    dim = cents.shape[1]
    nsub = NSUB if dim >= NSUB else dim
    if dim % nsub:
        raise ValueError(f"pq_topk: dim {dim} not divisible into {nsub} subspaces")
    subdim = dim // nsub

    def encode(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            emb = np.array(pdf["embedding"].tolist(), dtype=np.float64)
            # unit-normalize with the fold-order norm (see _py_normalize);
            # zero-norm rows divide by 1 and stay zero — their codes are
            # the deterministic argmin of d2(0, c), no NaN argmin over
            # an all-NaN row (the ivf_topk zero-norm discipline)
            n2 = np.zeros(len(emb))
            for d in range(emb.shape[1]):
                n2 += emb[:, d] * emb[:, d]
            denom = np.where(n2 > 0.0, np.sqrt(n2), 1.0)
            emb = emb / denom[:, None]
            codes = np.empty((len(emb), nsub), dtype=np.int32)
            for m in range(nsub):
                acc = np.zeros((len(emb), ksub))
                for d in range(m * subdim, (m + 1) * subdim):
                    diff = emb[:, d : d + 1] - cents[None, :, d]
                    acc += diff * diff
                codes[:, m] = np.argmin(acc, axis=1)  # first-min = lowest idx
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "codes": list(codes.tolist()),
                }
            )

    coded = embeddings.select("vec_id", "embedding").mapInPandas(
        encode, schema="vec_id long, embedding array<float>, codes array<int>"
    )
    corpus = coded.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        norm2(F.col("embedding")).alias("n_n2"),
        "codes",
    )
    # driver-built ADC lookup tables for the bounded probe set: flat
    # array lut[m * ksub + j] = d2(q_m, c_j_m), exact same fold
    # arithmetic as the oracle recomputes
    q_rows = sorted(
        embeddings.filter(F.col("vec_id") % QUERY_MOD == 0)
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    spark = embeddings.sparkSession
    lut_rows = []
    for r in q_rows:
        qn = _py_normalize(r.embedding)
        lut_rows.append(
            (
                int(r.vec_id),
                [list(r.embedding)],
                [
                    _py_subdist(qn, cents[j], m, subdim)
                    for m in range(nsub)
                    for j in range(ksub)
                ],
            )
        )
    queries = spark.createDataFrame(
        [(vid, emb[0], lut) for vid, emb, lut in lut_rows],
        schema="query_id long, q_emb array<float>, lut array<double>",
    ).select(
        "query_id", "q_emb", norm2(F.col("q_emb")).alias("q_n2"), "lut"
    )
    adc = F.aggregate(
        F.transform(
            F.sequence(F.lit(0), F.lit(nsub - 1)),
            lambda m: F.element_at(
                F.col("lut"),
                (m * ksub + F.element_at(F.col("codes"), m + 1) + 1).cast(
                    "int"
                ),
            ),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        F.broadcast(queries)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "q_emb",
            "n_emb",
            "q_n2",
            "n_n2",
            F.floor(adc * F.lit(1_000_000)).cast("long").alias("adc_micro"),
        )
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc_micro").asc(), F.col("neighbor_id").asc()
    )
    shortlist = scored.withColumn("crank", F.row_number().over(w_adc)).filter(
        F.col("crank") <= n_candidates
    )
    w_cos = Window.partitionBy("query_id").orderBy(
        F.col("cos_micro").desc(), F.col("neighbor_id").asc()
    )
    # ranks-last sentinel for zero-norm rows that reach the shortlist —
    # never ANSI DIVIDE_BY_ZERO in the exact re-rank (ivf_topk pattern)
    sentinel = F.lit(-(1 << 63)).cast("long")
    return (
        shortlist.select(
            "query_id",
            "neighbor_id",
            "adc_micro",
            F.when(
                (F.col("q_n2") > 0) & (F.col("n_n2") > 0),
                cos_micro_pre(
                    F.col("q_emb"), F.col("n_emb"), F.col("q_n2"), F.col("n_n2")
                ),
            )
            .otherwise(sentinel)
            .alias("cos_micro"),
        )
        .withColumn("rank", F.row_number().over(w_cos))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cos_micro", "adc_micro")
    )


def duckdb_pq_topk_sql(k: int = K, n_candidates: int = PQ_CANDIDATES) -> str:
    """Oracle recomputing the ENTIRE PQ pipeline in SQL: sub-codebooks,
    nearest-sub-centroid codes (argmin = row_number over (d2, idx)),
    the per-query LUT, the ADC fold in subspace order, the shortlist,
    and the exact-cosine re-rank — every float op in the same left-fold
    order as the Spark side."""

    def subdist(vec_a: str, vec_b: str, m: int) -> str:
        return f"""
        list_reduce(list_prepend(0.0::DOUBLE,
          list_transform(range({m * SUBDIM + 1}, {(m + 1) * SUBDIM + 1}), i ->
            ({vec_a}[CAST(i AS INT)]::DOUBLE - {vec_b}[CAST(i AS INT)]::DOUBLE)
            * ({vec_a}[CAST(i AS INT)]::DOUBLE - {vec_b}[CAST(i AS INT)]::DOUBLE))),
          (acc, x) -> acc + x)
        """

    sub_d2 = " + ".join(
        f"(CASE WHEN m = {m} THEN ({subdist('e.embedding', 'c.embedding', m)}) ELSE 0 END)"
        for m in range(NSUB)
    )
    lut_d2 = " + ".join(
        f"(CASE WHEN m = {m} THEN ({subdist('q.embedding', 'c.embedding', m)}) ELSE 0 END)"
        for m in range(NSUB)
    )
    norm2 = _DUCK_DOT.format(a="embedding", b="embedding", dim=DIM)
    return f"""
    WITH nemb AS (
      -- unit-normalize: PQ quantizes the unit sphere (ADC L2 ranking
      -- == cosine ranking for unit vectors); same fold-order norm +
      -- per-element division as the Spark kernel, including its
      -- zero-norm pin (a zero vector stays zero instead of NaN)
      SELECT vec_id,
             CASE WHEN ({norm2}) > 0
                  THEN list_transform(embedding,
                                      xx -> xx::DOUBLE / sqrt({norm2}))
                  ELSE list_transform(embedding, xx -> 0.0::DOUBLE)
             END AS embedding
      FROM embeddings
    ),
    cents AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cidx, embedding
      FROM nemb WHERE vec_id % {CENTROID_MOD} = 3
    ),
    ksub AS (SELECT count(*) AS n FROM cents),
    subspace AS (SELECT CAST(m AS BIGINT) AS m FROM UNNEST(range({NSUB})) AS t(m)),
    sub_scored AS (
      SELECT e.vec_id, s.m, c.cidx, ({sub_d2}) AS d2
      FROM nemb e, subspace s, cents c
    ),
    codes AS (
      SELECT vec_id, m, cidx AS code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                     ORDER BY d2 ASC, cidx ASC) AS rn
        FROM sub_scored) WHERE rn = 1
    ),
    code_arr AS (
      SELECT vec_id, list(code ORDER BY m) AS codes FROM codes GROUP BY 1
    ),
    q AS (SELECT vec_id AS query_id, embedding FROM nemb
          WHERE vec_id % {QUERY_MOD} = 0),
    lut AS (
      SELECT q.query_id, s.m, c.cidx, ({lut_d2}) AS d2
      FROM q, subspace s, cents c
    ),
    lut_arr AS (
      SELECT query_id, list(d2 ORDER BY m, cidx) AS lut FROM lut GROUP BY 1
    ),
    scored AS (
      -- ksub joined in as a scalar column: DuckDB lambdas reference
      -- outer row columns but reject subqueries
      SELECT l.query_id, ca.vec_id AS neighbor_id,
             CAST(floor(list_reduce(list_prepend(0.0::DOUBLE,
               list_transform(range({NSUB}), m ->
                 l.lut[CAST(m * kk.n
                       + ca.codes[CAST(m + 1 AS INT)] + 1 AS INT)])),
               (acc, x) -> acc + x) * 1000000) AS BIGINT) AS adc_micro
      FROM lut_arr l, code_arr ca, ksub kk
      WHERE ca.vec_id <> l.query_id
    ),
    shortlist AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                   ORDER BY adc_micro ASC, neighbor_id ASC) AS crank
        FROM scored) WHERE crank <= {n_candidates}
    ),
    rer AS (
      -- exact re-rank with the Spark side's ranks-last sentinel for
      -- zero-norm rows (never divide by a zero norm)
      SELECT s.query_id, s.neighbor_id, s.adc_micro,
             CASE WHEN ({_DUCK_DOT.format(a='qe.embedding', b='qe.embedding', dim=DIM)}) > 0
                   AND ({_DUCK_DOT.format(a='ne.embedding', b='ne.embedding', dim=DIM)}) > 0
                  THEN {duck_cos_micro('qe.embedding', 'ne.embedding')}
                  ELSE -9223372036854775808
             END AS cos_micro
      FROM shortlist s
      JOIN embeddings qe ON qe.vec_id = s.query_id
      JOIN embeddings ne ON ne.vec_id = s.neighbor_id
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_micro DESC, neighbor_id ASC) AS rank
      FROM rer
    )
    SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank,
           cos_micro, adc_micro
    FROM rk WHERE rank <= {k}
    """


# ---------------------------------------------------- hard-negative mining
HN_K = 3                      # hard negatives kept per anchor
HN_MARGIN_MICRO = 50_000      # semi-hard band: pos - margin < neg < pos
HN_NO_POS = -2_000_000        # sentinel when an anchor's label is singleton


def hard_negatives(embeddings: DataFrame, k: int = HN_K) -> DataFrame:
    """Contrastive-training hard-negative mining (the DPR / FaceNet
    batch-construction step): for each anchor in the deterministic
    query subset, the top-k most-similar vectors with a DIFFERENT
    label, annotated with the anchor's strongest same-label cosine and
    the FaceNet SEMI-HARD flag (negative inside the margin band below
    the positive: pos - margin < neg < pos — the negatives that
    actually move a triplet loss).

    One broadcast-probe corpus scan (the brute_force_topk shape: the
    anchor set is bounded by construction, norms hoisted per row, the
    dot product is the only per-pair fold), then ONE query-keyed
    shuffle serving both aggregates: pos_cos is a max-over-window on
    the same partition the negative rank window uses. Anchors whose
    label has no second member get the HN_NO_POS sentinel (never a
    NULL — engines disagree on NULL comparison semantics) and
    is_semi_hard = false.

    Output: (query_id, neg_rank, neighbor_id, cos_micro,
    pos_cos_micro, is_semi_hard)."""
    anchors = embeddings.filter(F.col("vec_id") % QUERY_MOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("q_emb"),
        norm2(F.col("embedding")).alias("q_n2"),
    )
    corpus = embeddings.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("n_emb"),
        norm2(F.col("embedding")).alias("n_n2"),
    )
    scored = (
        F.broadcast(anchors)
        .crossJoin(corpus)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (F.col("q_label") == F.col("n_label")).alias("same"),
            cos_micro_pre(
                F.col("q_emb"), F.col("n_emb"), F.col("q_n2"), F.col("n_n2")
            ).alias("cos_micro"),
        )
    )
    wq = Window.partitionBy("query_id")
    with_pos = scored.withColumn(
        "pos_cos_micro",
        F.coalesce(
            F.max(F.when(F.col("same"), F.col("cos_micro"))).over(wq),
            F.lit(HN_NO_POS),
        ),
    )
    wrank = Window.partitionBy("query_id").orderBy(
        F.col("cos_micro").desc(), F.col("neighbor_id").asc()
    )
    return (
        with_pos.filter(~F.col("same"))
        .withColumn("neg_rank", F.row_number().over(wrank))
        .filter(F.col("neg_rank") <= k)
        .select(
            "query_id",
            F.col("neg_rank").cast("int").alias("neg_rank"),
            "neighbor_id",
            "cos_micro",
            "pos_cos_micro",
            (
                (F.col("cos_micro") < F.col("pos_cos_micro"))
                & (
                    F.col("cos_micro") + HN_MARGIN_MICRO
                    > F.col("pos_cos_micro")
                )
            ).alias("is_semi_hard"),
        )
    )


def duckdb_hard_negatives_sql(k: int = HN_K) -> str:
    return f"""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label,
                      embedding AS q_emb
               FROM embeddings WHERE vec_id % {QUERY_MOD} = 0),
    scored AS (
      SELECT query_id, e.vec_id AS neighbor_id,
             (q_label = e.label) AS same,
             {duck_cos_micro('q_emb', 'e.embedding')} AS cos_micro
      FROM q, embeddings e WHERE e.vec_id <> query_id
    ),
    with_pos AS (
      SELECT *, coalesce(max(CASE WHEN same THEN cos_micro END)
                           OVER (PARTITION BY query_id),
                         {HN_NO_POS}) AS pos_cos_micro
      FROM scored
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cos_micro DESC, neighbor_id ASC) AS neg_rank
      FROM with_pos WHERE NOT same
    )
    SELECT query_id, CAST(neg_rank AS INT) AS neg_rank, neighbor_id,
           cos_micro, pos_cos_micro,
           (cos_micro < pos_cos_micro
            AND cos_micro + {HN_MARGIN_MICRO} > pos_cos_micro)
             AS is_semi_hard
    FROM ranked WHERE neg_rank <= {k}
    """
