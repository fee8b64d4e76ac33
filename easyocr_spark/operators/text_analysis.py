"""Text-analysis operators for training-data pipelines.

Everything here is built from JVM-side ``pyspark.sql.functions`` only —
no Python UDFs — so the expressions stay inside whole-stage codegen and
scale linearly with input splits (narrow, shuffle-free plans).

Each operator has a DuckDB-SQL twin in __spark_entry__.py's oracles;
the tokenization / regex / arithmetic is chosen to be portable between
engines (same results bit-for-bit on strings and int64 arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# whitespace tokenization, shared contract with the DuckDB oracles
TOKEN_SPLIT_RE = r"\s+"
# "BPE-ish" lexer: letter runs, digit runs, single punctuation marks
BPE_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"

STOPWORDS = ["the", "a", "an", "of", "to", "in", "is", "and", "or", "for"]

# stand-in language marker lists for the n-gram/stopword language-ID
# heuristic (the reference routes languages by charset membership,
# easyocr/easyocr.py:106-167 + config.py:30-43; a web-scale text
# pipeline does it by stopword/trigram evidence)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "los", "que", "es"],
    "fr": ["le", "la", "les", "et", "est"],
    "zh": ["de5", "le5", "shi4", "zai4", "he2"],
}
LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # deterministic tie-break

FP_MOD = 2147483647  # 2^31 - 1; 131-base rolling hash stays in int64
FP_BASE = 131
FP_PREFIX = 256  # fingerprint the first N chars (bounds cost per row)


def tokens_col(text: Column) -> Column:
    return F.split(F.lower(text), TOKEN_SPLIT_RE)


def token_stats(docs: DataFrame) -> DataFrame:
    """Per-doc token counts: whitespace tokens + BPE-ish lexer tokens +
    char count. All codegen'd string ops."""
    toks = tokens_col(F.col("text"))
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(BPE_RE), 0)).alias(
            "n_bpe_tokens"
        ),
        F.length("text").alias("n_chars_actual"),
    )


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality features + a composite bucket, the standard
    pre-training filter recipe (length / punctuation / stopword ratios).
    Deterministic integer bucketing so engines agree exactly."""
    toks = tokens_col(F.col("text"))
    n_tokens = F.size(toks)
    stop_hits = F.size(
        F.filter(toks, lambda t: t.isin(STOPWORDS))
    )
    # punctuation chars = everything that is not alnum/whitespace
    punct = F.length(F.regexp_replace(F.lower("text"), r"[a-z0-9\s]", ""))
    avg_len = (F.length(F.regexp_replace("text", r"\s+", "")) * F.lit(1000)) / n_tokens
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stopword_hits"),
        punct.alias("punct_chars"),
        # milli-units as ints: no float comparisons across engines
        F.floor(avg_len).cast("long").alias("avg_token_len_milli"),
        F.floor((stop_hits * F.lit(1000)) / n_tokens).cast("long").alias(
            "stopword_ratio_milli"
        ),
        (
            F.when(n_tokens < 5, F.lit("too_short"))
            .when(stop_hits * F.lit(1000) / n_tokens > 500, F.lit("boilerplate"))
            .otherwise(F.lit("ok"))
        ).alias("quality_bucket"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """Stopword-evidence language ID: count marker hits per language,
    argmax with deterministic (score desc, lang asc) tie-break.
    Degenerate on the synthetic corpus (shared vocab) but the operator
    and its oracle are the real contract."""
    toks = tokens_col(F.col("text"))

    def marker_score(ws: list[str]):
        # closure helper: F.filter treats a 2-arg lambda as (elem, index),
        # so the marker list must be captured OUTSIDE the lambda signature
        return F.size(F.filter(toks, lambda t: t.isin(ws)))

    scores = [marker_score(LANG_MARKERS[lg]).alias(f"score_{lg}") for lg in LANG_ORDER]
    scored = docs.select("doc_id", "lang", *scores)
    # argmax via greatest + chained when (first lang in LANG_ORDER wins ties)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in LANG_ORDER])
    pred = F.lit(LANG_ORDER[-1])
    for lg in reversed(LANG_ORDER[:-1]):
        pred = F.when(F.col(f"score_{lg}") == best, F.lit(lg)).otherwise(pred)
    return scored.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        pred.alias("predicted_lang"),
        best.alias("best_score"),
    )


def fingerprint(docs: DataFrame) -> DataFrame:
    """Rolling polynomial hash (base 131 mod 2^31-1) over the first
    FP_PREFIX chars — a portable document fingerprint computed with
    higher-order array functions (aggregate over the char codes), no
    Python. The DuckDB twin folds with list_reduce."""
    # materialize the prefix once — lambda bodies re-evaluate referenced
    # expressions per element (see shingle_sets note in dedup.py)
    prefixed = docs.select(
        "doc_id", F.substring(F.lower("text"), 1, FP_PREFIX).alias("prefix")
    )
    # split('') is one O(n) pass; indexed substring extraction is
    # O(n^2) (UTF8String.substring rescans per index) — same codes
    chars = F.transform(F.split("prefix", ""), F.ascii)
    fp = F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
    )
    return prefixed.select("doc_id", fp.alias("fingerprint"))


NGRAM_N = 2
NGRAM_K = 20
# portable LCG mix for deterministic sampling: int64-safe in both engines
SAMPLE_MULT = 1103515245
SAMPLE_INC = 12345
SAMPLE_MOD = 2147483647


def top_ngrams(docs: DataFrame, n: int = NGRAM_N, k: int = NGRAM_K) -> DataFrame:
    """Corpus-wide top-k word n-grams by occurrence count — the
    vocabulary/contamination scan of a training-data pipeline.

    Scale shape: explode -> ONE shuffle on the n-gram for the count agg
    (map-side partial aggregation), then the global top-k runs as
    TakeOrdered (per-partition heads + driver merge of k rows), not a
    full sort. Ties break (count desc, ngram asc) so the output is
    deterministic."""
    toks = tokens_col(F.col("text"))
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            # sequence(1, 0) yields [1, 0] (documented Catalyst trap) —
            # hence the size guard above
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("ngram").asc())
        .limit(k)
    )


def doc_frequency(docs: DataFrame) -> DataFrame:
    """Per-token document frequency (the DF half of TF-IDF): tokens
    deduplicated within each doc, one shuffle on the token. df_per_mille
    keeps the ratio integer so engines hash-compare exactly; consumers
    derive idf = ln(total/df) themselves (floats don't cross the
    oracle boundary)."""
    toks = tokens_col(F.col("text"))
    total = docs.count()
    per_doc = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("token")
    )
    return per_doc.groupBy("token").agg(
        F.count("*").alias("df"),
        F.lit(total).alias("total_docs"),
        F.floor(F.count("*") * 1000 / F.lit(total)).cast("long").alias(
            "df_per_mille"
        ),
    )


def stratified_sample(
    docs: DataFrame, target_per_stratum: int = 100
) -> DataFrame:
    """Deterministic hash-based stratified sampling by ``lang``: each
    stratum gets a per-mille keep rate aiming at ``target_per_stratum``
    docs, and a doc is kept iff lcg(doc_id) % 1000 < rate — fully
    reproducible (no RNG state), engine-portable int64 arithmetic.

    Scale shape: one small aggregation for stratum counts, broadcast
    back onto the corpus scan, then a narrow filter — no shuffle of the
    data itself. The standard downsample-to-balance step of a
    training-data pipeline."""
    from pyspark.sql.functions import broadcast

    counts = docs.groupBy("lang").agg(F.count("*").alias("n_stratum"))
    rate = F.least(
        F.lit(1000),
        F.floor(F.lit(target_per_stratum) * 1000 / F.col("n_stratum")),
    ).cast("long")
    h = (F.col("doc_id") * SAMPLE_MULT + SAMPLE_INC) % SAMPLE_MOD
    return (
        docs.join(broadcast(counts.select("lang", rate.alias("rate_milli"))), "lang")
        .filter(h % 1000 < F.col("rate_milli"))
        .select("doc_id", "lang", "rate_milli")
    )


RESERVOIR_K = 40

CHUNK_SIZE = 64
CHUNK_STRIDE = 48


def chunk_overlap(
    docs: DataFrame, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """Per-document overlapping token chunking (the RAG / embedding-prep
    shape, as opposed to ``sequence_pack``'s cross-document
    concat-and-chunk): windows of ``size`` tokens starting every
    ``stride`` tokens, the trailing chunk allowed short — so every
    token appears in at least one chunk and boundary context is kept
    by the size-stride overlap.

    Plan: tokenization + a Generate (posexplode of the start sequence)
    + per-chunk slice/join — ZERO shuffles, whole-stage codegen around
    the Generate; chunk count per doc is ceil(n_toks/stride). Output:
    (doc_id, chunk_idx, start_tok, n_chunk_toks, chunk_text); an empty
    text yields one empty chunk (the empty-token tokenization edge,
    identical in both engines)."""
    t = docs.select(
        "doc_id", F.split(F.col("text"), r"\s+").alias("toks")
    )
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size("toks") - 1, F.lit(0)),
        F.lit(stride),
    )
    ex = t.select(
        "doc_id", "toks", F.posexplode(starts).alias("chunk_idx", "start_tok")
    ).withColumn("chunk", F.slice("toks", F.col("start_tok") + 1, size))
    return ex.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.size("chunk").cast("long").alias("n_chunk_toks"),
        F.array_join("chunk", " ").alias("chunk_text"),
    )


def duckdb_chunk_overlap_sql(
    table: str = "documents",
    size: int = CHUNK_SIZE,
    stride: int = CHUNK_STRIDE,
) -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(text, '\\s+') AS toks
      FROM {table}
    ),
    ex AS (
      SELECT doc_id, toks,
             CAST(u.i // {stride} AS BIGINT) AS chunk_idx,
             CAST(u.i AS BIGINT) AS start_tok
      FROM t, UNNEST(range(0, greatest(len(toks), 1), {stride})) AS u(i)
    )
    SELECT doc_id, chunk_idx, start_tok,
           CAST(len(toks[CAST(start_tok + 1 AS INT)
                         : CAST(start_tok + {size} AS INT)]) AS BIGINT)
             AS n_chunk_toks,
           array_to_string(toks[CAST(start_tok + 1 AS INT)
                                : CAST(start_tok + {size} AS INT)], ' ')
             AS chunk_text
    FROM ex
    """


def reservoir_sample(docs: DataFrame, k: int = RESERVOIR_K) -> DataFrame:
    """Exact-k deterministic reservoir per ``lang`` stratum: the k docs
    with the smallest LCG hash (ties broken by doc_id) — the
    fixed-budget companion to the rate-based ``stratified_sample``
    (carving an eval set of EXACTLY k docs per language, reproducibly,
    no RNG state). Equivalent to a uniform k-reservoir because the LCG
    is a fixed permutation-ish scramble of doc_id.

    Scale shape: declared as row_number over (lang / hash order) <= k,
    which Spark >= 3.5 rewrites via WindowGroupLimit into a map-side
    partial top-k BEFORE the shuffle (pinned by test) — each input
    partition forwards at most k rows per lang, so the window sort
    touches ~k * n_partitions rows per stratum, not the corpus. The
    same declarative form is the oracle twin verbatim."""
    from pyspark.sql import Window

    h = (F.col("doc_id") * SAMPLE_MULT + SAMPLE_INC) % SAMPLE_MOD
    w = Window.partitionBy("lang").orderBy("h", "doc_id")
    return (
        docs.select("doc_id", "lang", h.alias("h"))
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("doc_id", "lang", "rk")
    )


def duckdb_reservoir_sample_sql(
    table: str = "documents", k: int = RESERVOIR_K
) -> str:
    return f"""
    WITH h AS (
      SELECT doc_id, lang,
             (doc_id * {SAMPLE_MULT} + {SAMPLE_INC}) % {SAMPLE_MOD} AS h
      FROM {table}
    ),
    ranked AS (
      SELECT doc_id, lang,
             CAST(row_number() OVER (PARTITION BY lang ORDER BY h, doc_id)
                  AS BIGINT) AS rk
      FROM h
    )
    SELECT doc_id, lang, rk FROM ranked WHERE rk <= {k}
    """


def repetition_signals(docs: DataFrame) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    duplicate-line, duplicate-token and most-frequent-bigram fractions
    that pre-training pipelines threshold to drop boilerplate/spam.
    All integer per-mille arithmetic, so the oracle compares exactly.

    Scale shape: the line/token duplicate fractions are a NARROW
    projection (array_distinct inside the row — no shuffle); only the
    per-doc bigram mode needs one explode + (doc, gram) count + max,
    the same linear shape as the n-gram scan."""
    toks = tokens_col(F.col("text"))
    lines = F.split(F.col("text"), r"\n")
    base = docs.select(
        "doc_id",
        F.size(lines).alias("n_lines"),
        F.floor(
            (F.size(lines) - F.size(F.array_distinct(lines)))
            * 1000
            / F.size(lines)
        ).cast("long").alias("dup_line_milli"),
        F.floor(
            (F.size(toks) - F.size(F.array_distinct(toks)))
            * 1000
            / F.size(toks)
        ).cast("long").alias("dup_token_milli"),
    )
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, 2)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    gram_counts = (
        docs.select("doc_id", F.explode(grams).alias("gram"))
        .groupBy("doc_id", "gram")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.max("c").alias("top_c"),
            F.sum("c").alias("total_grams"),
        )
    )
    top = gram_counts.select(
        "doc_id",
        F.floor(F.col("top_c") * 1000 / F.col("total_grams")).cast("long").alias(
            "top_bigram_milli"
        ),
    )
    return base.join(top, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "dup_line_milli",
        "dup_token_milli",
        F.coalesce("top_bigram_milli", F.lit(0)).alias("top_bigram_milli"),
    )


# ---------------------------------------------------------------- oracles
def duckdb_token_stats_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           len(regexp_split_to_array(lower(text), '\\s+')) AS n_tokens,
           len(regexp_extract_all(lower(text), '{BPE_RE}')) AS n_bpe_tokens,
           length(text) AS n_chars_actual
    FROM {table}
    """


def duckdb_quality_sql(table: str = "documents") -> str:
    stop_list = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(text), '\\s+') AS toks,
             length(regexp_replace(lower(text), '[a-z0-9\\s]', '', 'g')) AS punct,
             length(regexp_replace(text, '\\s+', '', 'g')) AS ink_chars
      FROM {table}
    )
    SELECT doc_id,
           len(toks) AS n_tokens,
           len(list_filter(toks, x -> x IN ({stop_list}))) AS stopword_hits,
           punct AS punct_chars,
           CAST(floor(ink_chars * 1000 / len(toks)) AS BIGINT) AS avg_token_len_milli,
           CAST(floor(len(list_filter(toks, x -> x IN ({stop_list}))) * 1000
                      / len(toks)) AS BIGINT) AS stopword_ratio_milli,
           CASE WHEN len(toks) < 5 THEN 'too_short'
                WHEN len(list_filter(toks, x -> x IN ({stop_list}))) * 1000.0
                     / len(toks) > 500 THEN 'boilerplate'
                ELSE 'ok' END AS quality_bucket
    FROM t
    """


def duckdb_lang_id_sql(table: str = "documents") -> str:
    score_cols = []
    for lg in LANG_ORDER:
        ws = ", ".join(f"'{w}'" for w in LANG_MARKERS[lg])
        score_cols.append(
            f"len(list_filter(regexp_split_to_array(lower(text), '\\s+'),"
            f" x -> x IN ({ws}))) AS score_{lg}"
        )
    greatest = "greatest(" + ", ".join(f"score_{lg}" for lg in LANG_ORDER) + ")"
    pred = f"'{LANG_ORDER[-1]}'"
    for lg in reversed(LANG_ORDER[:-1]):
        pred = f"CASE WHEN score_{lg} = {greatest} THEN '{lg}' ELSE {pred} END"
    return f"""
    WITH s AS (SELECT doc_id, lang, {", ".join(score_cols)} FROM {table})
    SELECT doc_id, lang AS labeled_lang, {pred} AS predicted_lang,
           {greatest} AS best_score
    FROM s
    """


def duckdb_top_ngrams_sql(
    table: str = "documents", n: int = NGRAM_N, k: int = NGRAM_K
) -> str:
    return f"""
    WITH toks AS (
      SELECT regexp_split_to_array(lower(text), '\\s+') AS t FROM {table}
    ),
    grams AS (
      SELECT UNNEST(CASE WHEN len(t) >= {n}
        THEN list_transform(range(1, len(t) - {n} + 2),
               i -> array_to_string(list_slice(t, CAST(i AS INT),
                                               CAST(i + {n} - 1 AS INT)), ' '))
        ELSE [] END) AS ngram
      FROM toks
    )
    SELECT ngram, count(*) AS n_occurrences
    FROM grams GROUP BY 1
    ORDER BY n_occurrences DESC, ngram ASC LIMIT {k}
    """


def duckdb_doc_frequency_sql(table: str = "documents") -> str:
    return f"""
    WITH total AS (SELECT count(*) AS n FROM {table}),
    per_doc AS (
      SELECT doc_id, UNNEST(list_distinct(
        regexp_split_to_array(lower(text), '\\s+'))) AS token
      FROM {table}
    )
    SELECT token, count(*) AS df, total.n AS total_docs,
           CAST(floor(count(*) * 1000 / total.n) AS BIGINT) AS df_per_mille
    FROM per_doc, total GROUP BY token, total.n
    """


def duckdb_stratified_sample_sql(
    table: str = "documents", target_per_stratum: int = 100
) -> str:
    return f"""
    WITH counts AS (
      SELECT lang,
             least(1000, CAST(floor({target_per_stratum} * 1000 / count(*))
                         AS BIGINT)) AS rate_milli
      FROM {table} GROUP BY 1
    )
    SELECT d.doc_id, d.lang, c.rate_milli
    FROM {table} d JOIN counts c USING (lang)
    WHERE ((d.doc_id * {SAMPLE_MULT} + {SAMPLE_INC}) % {SAMPLE_MOD}) % 1000
          < c.rate_milli
    """


def duckdb_repetition_sql(table: str = "documents") -> str:
    return f"""
    WITH base AS (
      SELECT doc_id,
             regexp_split_to_array(text, '\\n') AS lines,
             regexp_split_to_array(lower(text), '\\s+') AS toks
      FROM {table}
    ),
    narrow AS (
      SELECT doc_id,
             len(lines) AS n_lines,
             CAST(floor((len(lines) - len(list_distinct(lines))) * 1000
                        / len(lines)) AS BIGINT) AS dup_line_milli,
             CAST(floor((len(toks) - len(list_distinct(toks))) * 1000
                        / len(toks)) AS BIGINT) AS dup_token_milli,
             toks
      FROM base
    ),
    grams AS (
      SELECT doc_id, UNNEST(CASE WHEN len(toks) >= 2
        THEN list_transform(range(1, len(toks)),
               i -> array_to_string(list_slice(toks, CAST(i AS INT),
                                               CAST(i + 1 AS INT)), ' '))
        ELSE [] END) AS gram
      FROM narrow
    ),
    gc AS (SELECT doc_id, gram, count(*) AS c FROM grams GROUP BY 1, 2),
    top AS (
      SELECT doc_id,
             CAST(floor(max(c) * 1000 / sum(c)) AS BIGINT) AS top_bigram_milli
      FROM gc GROUP BY 1
    )
    SELECT n.doc_id, n.n_lines, n.dup_line_milli, n.dup_token_milli,
           coalesce(t.top_bigram_milli, 0) AS top_bigram_milli
    FROM narrow n LEFT JOIN top t USING (doc_id)
    """


def duckdb_fingerprint_sql(table: str = "documents") -> str:
    return f"""
    SELECT doc_id,
           list_reduce(
             list_prepend(0::BIGINT,
               list_transform(range(1, length(substring(lower(text), 1, {FP_PREFIX})) + 1),
                              i -> ascii(substring(lower(text), CAST(i AS INT), 1))::BIGINT)),
             (acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD}) AS fingerprint
    FROM {table}
    """


# ----------------------------------------------------- TF-IDF top terms
TFIDF_K = 3  # top terms kept per document


def tfidf_top_terms(docs: DataFrame, k: int = TFIDF_K) -> DataFrame:
    """Per-document top-k salient terms by tf×idf-family relevance —
    the keyword-extraction signal next to doc_frequency (its corpus
    half) and top_ngrams (its corpus-wide twin).

    Scoring is the RECIPROCAL-idf member of the tf-idf family:
    score_micro = floor(tf * 1e6 / df) — monotone in tf and in 1/df
    like ln(N/df) weighting, but pure int64 arithmetic, so Spark and
    DuckDB agree bit-for-bit (a float ln() differs by ulps between
    JVM Math.log and C libm, and floor() on a log boundary would flip
    — the same reason the LM score freezes integer milli-bits).

    Plan: one map-side-combining shuffle for (doc, term) tf, one for
    term df, a term-keyed join (AQE broadcasts the vocabulary when
    small — Zipf makes it tiny relative to the token stream), and a
    per-doc top-k window. Ties break on term asc. Output:
    (doc_id, term, tf, df, score_micro, rank)."""
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(tokens_col(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df_t = toks.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    scored = tf.join(df_t, "term").select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.expr("(tf * 1000000) div df").cast("long").alias("score_micro"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score_micro").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "df", "score_micro", "rank")
    )


def duckdb_tfidf_sql(table: str = "documents", k: int = TFIDF_K) -> str:
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS term
      FROM {table}
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    scored AS (
      SELECT doc_id, term, tf, df,
             CAST((tf * 1000000) // df AS BIGINT) AS score_micro
      FROM tf JOIN dft USING (term)
    ),
    rk AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id
                 ORDER BY score_micro DESC, term ASC) AS rank
      FROM scored
    )
    SELECT doc_id, term, tf, df, score_micro, CAST(rank AS INT) AS rank
    FROM rk WHERE rank <= {k}
    """


# --------------------------------------------- training-sequence packing
PACK_SEQ_LEN = 128  # tokens per packed training sequence
PACK_SHARDS = 8     # deterministic shards; packing is shard-local


def sequence_pack(
    docs: DataFrame, seq_len: int = PACK_SEQ_LEN, n_shards: int = PACK_SHARDS
) -> DataFrame:
    """GPT-style concat-and-chunk SEQUENCE PACKING — the step that turns
    a filtered document corpus into fixed-length training sequences:
    documents are concatenated in a deterministic order and chopped
    into ``seq_len``-token windows, documents spanning a boundary are
    split across the adjacent sequences. Output is the pack manifest:
    one row per (sequence, document-slice) with the half-open token
    range of the document that lands in that sequence —
    (shard, seq_id, doc_id, doc_tok_start, doc_tok_end_excl).

    Scale shape: packing is SHARD-LOCAL by construction (shard =
    doc_id % n_shards) — a single global concatenation order would
    funnel the whole corpus through one window partition; per-shard
    streams give embarrassingly parallel packing whose only coordination
    is the deterministic shard assignment (exactly how distributed
    tokenizer pipelines shard .bin files). One shuffle (the per-shard
    cumsum window); the boundary explode emits at most
    n_tokens/seq_len + 1 rows per document. Tokenizer = the shared
    whitespace contract (tokens_col)."""
    from pyspark.sql import Window

    counted = docs.select(
        "doc_id",
        (F.col("doc_id") % n_shards).alias("shard"),
        F.size(tokens_col(F.col("text"))).alias("n_toks"),
    ).filter(F.col("n_toks") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    with_off = counted.withColumn(
        "off", F.coalesce(F.sum("n_toks").over(w), F.lit(0)).cast("long")
    )
    seqs = with_off.select(
        "shard",
        "doc_id",
        "n_toks",
        "off",
        F.explode(
            F.sequence(
                F.expr(f"off div {seq_len}"),
                F.expr(f"(off + n_toks - 1) div {seq_len}"),
            )
        ).alias("seq_id"),
    )
    return seqs.select(
        "shard",
        "seq_id",
        "doc_id",
        F.greatest(
            F.col("seq_id") * seq_len - F.col("off"), F.lit(0).cast("long")
        ).cast("long").alias("doc_tok_start"),
        F.least(
            (F.col("seq_id") + 1) * seq_len - F.col("off"), F.col("n_toks").cast("long")
        ).cast("long").alias("doc_tok_end_excl"),
    )


def duckdb_sequence_pack_sql(
    table: str = "documents",
    seq_len: int = PACK_SEQ_LEN,
    n_shards: int = PACK_SHARDS,
) -> str:
    return f"""
    WITH c AS (
      SELECT doc_id, doc_id % {n_shards} AS shard,
             CAST(len(regexp_split_to_array(lower(text), '\\s+')) AS BIGINT)
               AS n_toks
      FROM {table}
      WHERE len(regexp_split_to_array(lower(text), '\\s+')) > 0
    ),
    o AS (
      -- CAST: DuckDB window sum() yields HUGEINT, which range() rejects
      SELECT *, CAST(coalesce(sum(n_toks) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS off
      FROM c
    ),
    s AS (
      SELECT shard, doc_id, n_toks, off, CAST(i AS BIGINT) AS seq_id
      FROM o, UNNEST(range(off // {seq_len},
                           (off + n_toks - 1) // {seq_len} + 1)) AS t(i)
    )
    SELECT shard, seq_id, doc_id,
           greatest(seq_id * {seq_len} - off, 0) AS doc_tok_start,
           least((seq_id + 1) * {seq_len} - off, n_toks) AS doc_tok_end_excl
    FROM s
    """


# ------------------------------------------------ LM cross-entropy score
def lm_cross_entropy(docs: DataFrame) -> DataFrame:
    """Corpus-fit character-bigram cross-entropy per document — the
    model-based quality signal next to the heuristic quality_score
    (outlier docs score high bits/char against the corpus's own
    character statistics; the Gopher/CCNet recipe uses a trained LM,
    this is its deterministic self-fit analogue).

    Two passes, classic Spark shape over a PRE-AGGREGATED tf table
    (the SimHash-pipeline pattern): the per-character exploded stream
    is folded to (doc_id, bg, cnt) in ONE map-side-combining shuffle —
    everything downstream (the train collect, the broadcast scoring
    join, the per-doc fold) runs on the compressed table, smaller than
    the raw stream by the per-doc bigram repetition factor, at zero
    semantic cost (sum(cnt*logp) == the per-occurrence sum). (1) TRAIN
    counts the corpus bigram table and collects it to the driver like
    an IVF codebook — the collect is bounded by the character ALPHABET
    SQUARED, fine for any single-script corpus (~10^4 entries) but a
    real memory bound for full-unicode CJK text where char-bigram
    cardinality reaches 1e8+: there, keep the model distributed and
    replace the collect+broadcast with a DataFrame join of counts
    against per-prefix totals. Per-bigram surprisal is frozen
    driver-side as floor(1000 * (log2(count(c1·)) - log2(count(c1c2))))
    MILLI-BITS — an integer, so (2) SCORE is a broadcast join +
    pure-integer per-doc sum with no float-order sensitivity. The
    oracle recomputes the same surprisal with DuckDB's log2 (same libm
    as CPython's math.log2 on this host, and the value is floored, so
    the integers agree exactly).

    Output: (doc_id, n_bigrams, bits_milli, avg_milli_bits) for docs
    with at least one bigram."""
    import math

    # Round-6 shape (the pos_grams kernel precedent, guide §4.2 +
    # §2.3): the (doc, bigram, cnt) tf table is computed INSIDE one
    # vectorized Arrow kernel — lowercasing stays JVM-side (identical
    # case folding), the kernel reads code points (== ascii() on
    # split('') chars for BMP text, the winnowing contract), packs each
    # bigram as the integer c1·2^21 + c2 (a BIJECTION onto the 2-char
    # strings the original shape concatenated: identical groups,
    # counts, output) and folds per-doc counts with np.unique. A
    # document's bigrams live in one partition, so the kernel output
    # IS the tf table — the former explode + groupBy shuffled one row
    # per bigram OCCURRENCE (~6x the tf rows on this corpus) plus a
    # string allocation per bigram; now nothing per-occurrence ever
    # crosses a stage boundary. <2-char docs contribute no rows either
    # way.
    import numpy as np
    import pandas as pd

    low = docs.select("doc_id", F.lower("text").alias("lt"))

    def tf_kernel(batches):
        for pdf in batches:
            ids, bgs, cnts = [], [], []
            counts = []
            for lt in pdf["lt"].values:
                lt = lt or ""
                if len(lt) < 2:
                    counts.append(0)
                    continue
                cs = np.frombuffer(
                    lt.encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                packed = cs[:-1] * (1 << 21) + cs[1:]
                u, c = np.unique(packed, return_counts=True)
                bgs.append(u)
                cnts.append(c)
                counts.append(len(u))
            if bgs:
                yield pd.DataFrame(
                    {
                        "doc_id": np.repeat(pdf["doc_id"].values, counts),
                        "bg": np.concatenate(bgs),
                        "cnt": np.concatenate(cnts),
                    }
                )

    from pyspark import StorageLevel

    # the tf table feeds BOTH the train collect and the scoring join;
    # persist it so the kernel pass runs once (owned cache: released
    # after the scored result materializes, minhash-pipeline pattern)
    id_type = dict(docs.dtypes)["doc_id"]
    tf = low.mapInPandas(
        tf_kernel, schema=f"doc_id {id_type}, bg long, cnt long"
    ).persist(StorageLevel.MEMORY_AND_DISK)
    counts = {
        int(r["bg"]): int(r["n"])
        for r in tf.groupBy("bg").agg(F.sum("cnt").alias("n")).collect()
    }
    # first-char totals: c1 is the high 21 bits of the packed key —
    # the same grouping the former bg[0] string prefix produced
    tot: dict[int, int] = {}
    for b, n in counts.items():
        c1 = b >> 21
        tot[c1] = tot.get(c1, 0) + n
    model_rows = [
        (b, int(math.floor(1000.0 * (math.log2(tot[b >> 21]) - math.log2(n)))))
        for b, n in sorted(counts.items())
    ]
    spark = docs.sparkSession
    model = spark.createDataFrame(
        model_rows, schema="bg long, logp_milli long"
    )
    out = (
        tf.join(F.broadcast(model), "bg")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("logp_milli")).alias("bits_milli"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "bits_milli",
            # integer div, not double-divide-then-cast: a double ratio
            # rounding up across an integer boundary would diverge from
            # the oracle's floor //
            F.expr("bits_milli div n_bigrams").alias("avg_milli_bits"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    out.count()
    tf.unpersist()
    return out


def duckdb_lm_cross_entropy_sql(table_sql: str = "SELECT * FROM documents") -> str:
    return """
    WITH low AS (SELECT doc_id, lower(text) AS lt FROM ({table_sql})),
    bg AS (
      SELECT doc_id, substr(lt, CAST(i AS INT), 2) AS bg
      FROM low, UNNEST(range(1, greatest(length(lt), 1))) AS t(i)
    ),
    counts AS (SELECT bg, count(*) AS n FROM bg GROUP BY 1),
    tots AS (SELECT substr(bg, 1, 1) AS c1, sum(n) AS t FROM counts GROUP BY 1),
    model AS (
      SELECT bg, CAST(floor(1000.0 * (log2(t) - log2(n))) AS BIGINT)
               AS logp_milli
      FROM counts JOIN tots ON substr(bg, 1, 1) = c1
    )
    SELECT doc_id, count(*) AS n_bigrams,
           CAST(sum(logp_milli) AS BIGINT) AS bits_milli,
           CAST(sum(logp_milli) // count(*) AS BIGINT) AS avg_milli_bits
    FROM bg JOIN model USING (bg)
    GROUP BY doc_id
    """.replace("{table_sql}", table_sql)


# --------------------------------------------- CCNet perplexity buckets
CCNET_PCTS = (33, 66)  # head <= p33 < middle <= p66 < tail


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): each
    document lands in head / middle / tail by where its LM score sits
    in its OWN LANGUAGE's distribution — the standard quality
    stratification a web pipeline applies before mixing (train mostly
    on head+middle, sample tail).

    Perplexity signal = avg_milli_bits from lm_cross_entropy (integer
    milli-bits, engine-exact). Thresholds are per-lang NEAREST-RANK
    values at p33/p66 — the length_quantiles rule, rank =
    (p·n + 99) div 100 with (value, doc_id) ordering — and bucket
    assignment is BY VALUE (avg <= t33 → head, <= t66 → middle, else
    tail), so ties straddling a boundary land together in both engines.

    Plan: the LM score's one tf shuffle + broadcast scoring join, a
    lang join back (AQE-broadcastable: the scored table is one row per
    doc), one row_number window per lang partition for the two
    threshold rows, and a broadcast threshold join — the threshold
    table is 2 rows per language. Output:
    (doc_id, lang, avg_milli_bits, bucket)."""
    from pyspark.sql import Window

    lm = lm_cross_entropy(docs).select("doc_id", "avg_milli_bits")
    scored = lm.join(docs.select("doc_id", "lang"), "doc_id")
    w = Window.partitionBy("lang").orderBy("avg_milli_bits", "doc_id")
    ranked = scored.select(
        "lang",
        "avg_milli_bits",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n"),
    )
    p33, p66 = CCNET_PCTS
    thr = ranked.groupBy("lang").agg(
        F.max(
            F.when(
                F.col("rn") == F.expr(f"({p33} * n + 99) div 100"),
                F.col("avg_milli_bits"),
            )
        ).alias("t33"),
        F.max(
            F.when(
                F.col("rn") == F.expr(f"({p66} * n + 99) div 100"),
                F.col("avg_milli_bits"),
            )
        ).alias("t66"),
    )
    return scored.join(F.broadcast(thr), "lang").select(
        "doc_id",
        "lang",
        "avg_milli_bits",
        F.when(F.col("avg_milli_bits") <= F.col("t33"), F.lit("head"))
        .when(F.col("avg_milli_bits") <= F.col("t66"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


def duckdb_ccnet_buckets_sql(table: str = "documents") -> str:
    p33, p66 = CCNET_PCTS
    lm = duckdb_lm_cross_entropy_sql(f"SELECT * FROM {table}")
    return f"""
    WITH lm AS ({lm}),
    scored AS (
      SELECT d.doc_id, d.lang, lm.avg_milli_bits
      FROM lm JOIN {table} d USING (doc_id)
    ),
    ranked AS (
      SELECT lang, avg_milli_bits,
             row_number() OVER (PARTITION BY lang
                                ORDER BY avg_milli_bits, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
      FROM scored
    ),
    thr AS (
      SELECT lang,
             max(CASE WHEN rn = ({p33} * n + 99) // 100
                      THEN avg_milli_bits END) AS t33,
             max(CASE WHEN rn = ({p66} * n + 99) // 100
                      THEN avg_milli_bits END) AS t66
      FROM ranked GROUP BY lang
    )
    SELECT doc_id, lang, avg_milli_bits,
           CASE WHEN avg_milli_bits <= t33 THEN 'head'
                WHEN avg_milli_bits <= t66 THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored JOIN thr USING (lang)
    """


# ------------------------------------------------- exact length quantiles
QUANTILE_PCTS = [25, 50, 75, 90, 99]


def length_quantiles(docs: DataFrame) -> DataFrame:
    """Exact nearest-rank percentiles of document length per language —
    the distribution audit every curation run starts from (what IS
    p99 length in this slice? where do the truncation cliffs sit?).

    Nearest-rank definition (the one that's engine-exact): the value at
    sorted rank ceil(p*n/100), ties broken by doc_id so the picked ROW
    is deterministic even though ties never change the picked VALUE.
    Spark shape: one row_number window per language partition (the
    number of sort partitions = number of languages; at web scale a
    length histogram + cumulative-sum over the bounded bucket table is
    the constant-memory variant — this exact form is the audit tool,
    sized for per-slice distributions, not the full corpus at once).
    No floats anywhere: rank = (p*n + 99) div 100 in both engines.

    Output: (lang, pct, n_docs, len_at_pct)."""
    from pyspark.sql import Window

    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang",
        "n_chars",
        "doc_id",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("n_docs"),
    )
    pcts = F.array(*[F.lit(p) for p in QUANTILE_PCTS])
    return (
        ranked.select(
            "lang",
            "n_chars",
            "n_docs",
            "rn",
            F.explode(pcts).alias("pct"),
        )
        .filter(
            F.col("rn")
            == ((F.col("pct") * F.col("n_docs") + 99) / 100).cast("long")
        )
        .select(
            "lang",
            F.col("pct").cast("long").alias("pct"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_chars").alias("len_at_pct"),
        )
    )


def duckdb_length_quantiles_sql(table: str = "documents") -> str:
    pcts = ", ".join(str(p) for p in QUANTILE_PCTS)
    return f"""
    WITH ranked AS (
      SELECT lang, n_chars,
             row_number() OVER (PARTITION BY lang
                                ORDER BY n_chars, doc_id) AS rn,
             count(*) OVER (PARTITION BY lang) AS n_docs
      FROM {table}
    )
    SELECT lang, CAST(pct AS BIGINT) AS pct,
           CAST(n_docs AS BIGINT) AS n_docs,
           n_chars AS len_at_pct
    FROM ranked, UNNEST([{pcts}]) AS t(pct)
    WHERE rn = (pct * n_docs + 99) // 100
    """


# --------------------------------- histogram quantiles (the 100-TB path)
HIST_BUCKET_W = 16  # fixed bucket width in chars


def length_quantiles_hist(
    docs: DataFrame, bucket_w: int = HIST_BUCKET_W
) -> DataFrame:
    """Histogram-bucket length quantiles — the CONSTANT-MEMORY variant
    the exact operator's docstring points at for web scale: instead of
    a per-lang row_number window over every document (length_quantiles,
    the audit tool), fold lengths into fixed-width buckets in ONE
    map-side-combining shuffle whose output is bounded by
    |langs| x |buckets|, then run the same nearest-rank rule on the
    bucket cumsum. The answer is the BUCKET holding the exact
    percentile value — [bucket_lo, bucket_hi_excl) brackets the exact
    operator's len_at_pct by construction (the containment is
    pytest-pinned), with error bounded by bucket_w, at any corpus size.

    All integers: bucket = n_chars div bucket_w, rank =
    (p*n + 99) div 100, cumulative counts via a window over the
    BOUNDED bucket table only.

    Output: (lang, pct, n_docs, bucket_lo, bucket_hi_excl)."""
    from pyspark.sql import Window

    hist = (
        docs.select(
            "lang", F.expr(f"n_chars div {bucket_w}").alias("b")
        )
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy("b")
    cum = hist.select(
        "lang",
        "b",
        F.sum("cnt").over(w).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("lang")).alias("n_docs"),
        (F.sum("cnt").over(w) - F.col("cnt")).alias("cum_prev"),
    )
    pcts = F.array(*[F.lit(p) for p in QUANTILE_PCTS])
    return (
        cum.select(
            "lang", "b", "cum", "cum_prev", "n_docs",
            F.explode(pcts).alias("pct"),
        )
        .filter(
            (F.expr("(pct * n_docs + 99) div 100") > F.col("cum_prev"))
            & (F.expr("(pct * n_docs + 99) div 100") <= F.col("cum"))
        )
        .select(
            "lang",
            F.col("pct").cast("long").alias("pct"),
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.col("b") * bucket_w).cast("long").alias("bucket_lo"),
            ((F.col("b") + 1) * bucket_w).cast("long").alias("bucket_hi_excl"),
        )
    )


def duckdb_length_quantiles_hist_sql(
    table: str = "documents", bucket_w: int = HIST_BUCKET_W
) -> str:
    pcts = ", ".join(str(p) for p in QUANTILE_PCTS)
    return f"""
    WITH hist AS (
      SELECT lang, n_chars // {bucket_w} AS b, count(*)::BIGINT AS cnt
      FROM {table} GROUP BY 1, 2
    ),
    cum AS (
      SELECT lang, b,
             sum(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum,
             sum(cnt) OVER (PARTITION BY lang) AS n_docs,
             sum(cnt) OVER (PARTITION BY lang ORDER BY b) - cnt AS cum_prev
      FROM hist
    )
    SELECT lang, CAST(pct AS BIGINT) AS pct,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(b * {bucket_w} AS BIGINT) AS bucket_lo,
           CAST((b + 1) * {bucket_w} AS BIGINT) AS bucket_hi_excl
    FROM cum, UNNEST([{pcts}]) AS t(pct)
    WHERE (pct * n_docs + 99) // 100 > cum_prev
      AND (pct * n_docs + 99) // 100 <= cum
    """


# ------------------------------------------------ packing efficiency
def packing_efficiency(
    docs: DataFrame, seq_len: int = PACK_SEQ_LEN, n_shards: int = PACK_SHARDS
) -> DataFrame:
    """Packing-waste audit of the sequence_pack manifest — the number a
    training team actually watches (padding waste is paid GPU time):
    per shard, how many sequences were emitted, how many real tokens
    they carry, the shard's capacity (n_seqs x seq_len), and the waste
    in ppm. With concat-and-chunk packing the only waste is each
    shard's final partial sequence, so waste < seq_len per shard by
    construction — the audit proves the packer achieves that bound
    (best-fit bin packing would trade this bound for sequential state).

    One map-side-combining rollup over the manifest (bounded output:
    n_shards rows); integer ppm via floor division.

    Output: (shard, n_seqs, n_tokens, capacity, waste_ppm)."""
    manifest = sequence_pack(docs, seq_len=seq_len, n_shards=n_shards)
    return (
        manifest.groupBy("shard")
        .agg(
            F.countDistinct("seq_id").cast("long").alias("n_seqs"),
            F.sum(
                F.col("doc_tok_end_excl") - F.col("doc_tok_start")
            ).cast("long").alias("n_tokens"),
        )
        .select(
            "shard",
            "n_seqs",
            "n_tokens",
            (F.col("n_seqs") * seq_len).cast("long").alias("capacity"),
            F.expr(
                f"((n_seqs * {seq_len} - n_tokens) * 1000000)"
                f" div (n_seqs * {seq_len})"
            ).alias("waste_ppm"),
        )
    )


def duckdb_packing_efficiency_sql(
    table: str = "documents",
    seq_len: int = PACK_SEQ_LEN,
    n_shards: int = PACK_SHARDS,
) -> str:
    pack = duckdb_sequence_pack_sql(table, seq_len, n_shards)
    return f"""
    WITH manifest AS ({pack})
    SELECT shard,
           count(DISTINCT seq_id)::BIGINT AS n_seqs,
           sum(doc_tok_end_excl - doc_tok_start)::BIGINT AS n_tokens,
           (count(DISTINCT seq_id) * {seq_len})::BIGINT AS capacity,
           CAST(((count(DISTINCT seq_id) * {seq_len}
                  - sum(doc_tok_end_excl - doc_tok_start)) * 1000000)
                // (count(DISTINCT seq_id) * {seq_len}) AS BIGINT)
             AS waste_ppm
    FROM manifest
    GROUP BY shard
    """


# ------------------------------------------------ max token-run detector
RUN_CAP = 1023  # runs clamp into 10 bits of the packed accumulator


def max_token_run(docs: DataFrame) -> DataFrame:
    """Longest CONSECUTIVE repeated-token run per document — the
    degenerate-repetition detector (looping generations and keyboard
    spam produce 'word word word ...' that the Gopher duplicate-token
    FRACTION can miss when the doc is long; a run threshold catches it
    regardless of doc length).

    Engine-portable single fold: token poly-hashes fold left with a
    PACKED int64 accumulator — prev_hash·2^20 | cur_run·2^10 | best_run
    (hash is 31-bit, runs clamp at RUN_CAP, so the accumulator stays
    under 2^51) — because DuckDB's list_reduce requires the accumulator
    to be a scalar of the element type; identical bit arithmetic runs
    in Spark's F.aggregate. Narrow zero-shuffle projection.

    KNOWN FALSE-POSITIVE MODE (hash equality, not token equality): two
    DIFFERENT adjacent tokens whose 31-bit poly hashes collide splice
    into one run and can inflate max_run. The packed accumulator cannot
    carry the token itself (the scalar-accumulator constraint above),
    so the detector's contract is runs of HASH-equal tokens. For an
    adjacent pair of distinct random tokens the collision odds are
    1/(2^31 - 1) ~ 4.7e-10 — ~0.5 expected splices per 10^9 adjacent
    pairs, negligible against the >= 2-3 run thresholds a curation rule
    uses, and one-sided (never hides a real run). The crafted-collision
    regression test (tests/test_text_analysis.py::
    test_max_token_run_crafted_collision) pins the failure mode; at
    10^12+ pairs, widen with a second base the SimHash-124 way.

    Output: (doc_id, n_tokens, max_run)."""
    staged = docs.select(
        "doc_id",
        F.transform(
            tokens_col(F.col("text")),
            lambda t: F.aggregate(
                F.transform(F.split(t, ""), F.ascii),
                F.lit(0).cast("long"),
                lambda acc, c: (acc * FP_BASE + c) % FP_MOD,
            ),
        ).alias("hs"),
    )
    P20, P10 = 1 << 20, 1 << 10

    def step(acc, h):
        prev = F.floor(acc / P20).cast("long")
        cur = F.floor(acc / P10).cast("long") % P10
        best = acc % P10
        new_cur = F.least(
            F.when(h == prev, cur + 1).otherwise(F.lit(1)),
            F.lit(RUN_CAP),
        )
        new_best = F.greatest(best, new_cur)
        return h * P20 + new_cur * P10 + new_best

    packed = F.aggregate(
        F.col("hs"), F.lit(0).cast("long"), step
    )
    return staged.select(
        "doc_id",
        F.size("hs").cast("long").alias("n_tokens"),
        (packed % P10).cast("long").alias("max_run"),
    )


def duckdb_max_token_run_sql(table: str = "documents") -> str:
    tok_hash = (
        "list_reduce(list_prepend(0::BIGINT, "
        "list_transform(range(1, length(t)+1), "
        "i -> ascii(substring(t, CAST(i AS INT), 1))::BIGINT)), "
        f"(acc, c) -> (acc * {FP_BASE} + c) % {FP_MOD})"
    )
    p20, p10 = 1 << 20, 1 << 10
    step = (
        f"(x * {p20}"
        f" + least(CASE WHEN x = acc // {p20}"
        f"          THEN (acc // {p10}) % {p10} + 1 ELSE 1 END, {RUN_CAP})"
        f" * {p10}"
        f" + greatest(acc % {p10},"
        f"   least(CASE WHEN x = acc // {p20}"
        f"          THEN (acc // {p10}) % {p10} + 1 ELSE 1 END, {RUN_CAP})))"
    )
    return f"""
    WITH hs AS (
      SELECT doc_id,
             list_transform(regexp_split_to_array(lower(text), '\\s+'),
                            t -> {tok_hash}) AS hs
      FROM {table}
    )
    SELECT doc_id,
           len(hs)::BIGINT AS n_tokens,
           (list_reduce(list_prepend(0::BIGINT, hs),
                        (acc, x) -> {step}) % {p10})::BIGINT AS max_run
    FROM hs
    """
