"""Corpus-level retrieval / quality operators for training-data pipelines.

BM25 relevance scoring, corpus-wide frequent n-grams, Gopher-style
repetition quality signals, and deterministic stratified sampling — the
selection/filtering layer a 100 TB pretraining pipeline runs between
dedup and tokenization (reference scope: the reference selects contexts
per entity with LIMIT/shuffle, cmd/build_contexts_db.py:303-354; these
generalize that selection to corpus-statistics-driven rules).

Scale notes (100 TB lens):
- bm25_topk: corpus stats (N, avgdl, per-term df) reduce to ONE row that
  is broadcast back over the documents scan; per-doc scoring is pure
  columnar math (no explode, no UDF) and the top-k compiles to
  TakeOrderedAndProject — the only wide op is the 1-row aggregate.
- ngram_topk: explode → hash-agg with map-side combine; the shuffle
  carries (ngram, partial_count), never document text.
- repetition_quality: two (doc_id, token)-keyed hash-aggs. Per-group
  cardinality is bounded by document length, so no key is hotter than
  the longest document — no skew story needed.
- stratified_sample: stateless row-local predicate (md5 of a stable key)
  — fully pushed into the scan, zero shuffles, reproducible across
  engines and cluster sizes.

Every formula uses engine-portable primitives (string_split / md5 /
conv / round) so the DuckDB oracle states the same computation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecc_spark.ops.tables import load, load_split

QUERIES: dict = {}
ORACLES: dict[str, str] = {}

# -- BM25 -------------------------------------------------------------

_BM25_TERMS = ["spark", "join", "window", "hash"]
_K1, _B = 1.2, 0.75
_TOPK = 50


def _tf(term: str):
    # closure, not a default arg: a (x, t=term) lambda would be treated
    # as a two-arg (element, index) higher-order function by pyspark
    return F.size(F.filter("toks", lambda x: x == term))


def bm25_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Okapi BM25 of a fixed query against every document; top 50.

    idf = ln((N - df + 0.5) / (df + 0.5) + 1)  (the non-negative variant
    Lucene uses); score = Σ_t idf_t · tf_t·(k1+1) / (tf_t + k1·(1 - b +
    b·dl/avgdl)). Ties broken by doc_id so the cut is deterministic.
    """
    d = (
        load_split(spark, sf, "documents")
        .select("doc_id", F.split(F.lower("text"), " ").alias("toks"))
        .withColumn("dl", F.size("toks"))
    )
    stats = d.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum(F.array_contains("toks", t).cast("int")).alias(f"df{i}")
            for i, t in enumerate(_BM25_TERMS)
        ],
    )
    scored = d.crossJoin(F.broadcast(stats))  # 1-row corpus stats, no shuffle
    score = None
    for i, t in enumerate(_BM25_TERMS):
        tf = _tf(t).cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df{i}") + 0.5) / (F.col(f"df{i}") + 0.5) + 1.0
        )
        part = idf * tf * (_K1 + 1) / (tf + _K1 * (1 - _B + _B * F.col("dl") / F.col("avgdl")))
        score = part if score is None else score + part
    return (
        scored.filter(F.col("dl") > 0)
        .select("doc_id", F.round(score, 6).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(_TOPK)
    )


def _bm25_oracle() -> str:
    df_cols = ", ".join(
        f"sum(CASE WHEN list_contains(toks, '{t}') THEN 1 ELSE 0 END) AS df{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    parts = " + ".join(
        f"(ln((n_docs - df{i} + 0.5) / (df{i} + 0.5) + 1.0)"
        f" * len(list_filter(toks, x -> x = '{t}'))::DOUBLE * {_K1 + 1}"
        f" / (len(list_filter(toks, x -> x = '{t}'))::DOUBLE"
        f" + {_K1} * (1 - {_B} + {_B} * dl / avgdl)))"
        for i, t in enumerate(_BM25_TERMS)
    )
    return f"""
WITH d AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks,
         len(string_split(lower(text), ' ')) AS dl
  FROM documents),
s AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_cols} FROM d)
SELECT doc_id, ROUND({parts}, 6) AS bm25
FROM d, s WHERE dl > 0
ORDER BY bm25 DESC, doc_id LIMIT {_TOPK}
"""


# -- frequent n-grams -------------------------------------------------

_NGRAM_N = 3
_NGRAM_TOPK = 20


def ngram_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top corpus-wide word 3-grams — the boilerplate detector feeding
    dedup_ngram_jaccard's shingle-DF cap and quality blocklists."""
    d = load_split(spark, sf, "documents").select(F.split("text", " ").alias("w"))
    d = d.filter(F.size("w") >= _NGRAM_N)
    shingles = F.transform(
        F.sequence(F.lit(0), F.size("w") - _NGRAM_N),
        lambda i: F.concat_ws(" ", F.slice("w", i + 1, _NGRAM_N)),
    )
    return (
        d.select(F.explode(shingles).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy(F.desc("cnt"), "ngram")
        .limit(_NGRAM_TOPK)
    )


_NGRAM_ORACLE = f"""
SELECT ngram, CAST(count(*) AS BIGINT) AS cnt
FROM (
  SELECT unnest([array_to_string(w[i+1:i+{_NGRAM_N}], ' ')
                 for i in generate_series(0, len(w) - {_NGRAM_N})]) AS ngram
  FROM (SELECT string_split(text, ' ') AS w FROM documents)
  WHERE len(w) >= {_NGRAM_N})
GROUP BY ngram ORDER BY cnt DESC, ngram LIMIT {_NGRAM_TOPK}
"""


# -- repetition quality (Gopher-style) --------------------------------


def repetition_quality(spark: SparkSession, sf: str) -> DataFrame:
    """Per-document repetition signals (Gopher §A1.1-style): distinct
    token ratio, most-frequent-token dominance, duplicate-3-gram
    fraction. Two (doc_id, value) hash-aggs — group cardinality is
    bounded by document length, so the shuffle has no hot keys."""
    base = load_split(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= _NGRAM_N)

    toks = base.select("doc_id", F.explode("w").alias("tok"))
    tok_stats = (
        toks.groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count("*").cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("top_tok"),
        )
    )

    shingles = F.transform(
        F.sequence(F.lit(0), F.size("w") - _NGRAM_N),
        lambda i: F.concat_ws(" ", F.slice("w", i + 1, _NGRAM_N)),
    )
    gram_stats = (
        base.select("doc_id", F.explode(shingles).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.count("*").cast("long").alias("n_distinct_grams"),
        )
    )

    out = tok_stats.join(gram_stats, "doc_id")
    return out.select(
        "doc_id",
        "n_tokens",
        F.round(F.col("n_distinct").cast("double") / F.col("n_tokens"), 6).alias(
            "distinct_ratio"
        ),
        F.round(F.col("top_tok").cast("double") / F.col("n_tokens"), 6).alias(
            "top_token_frac"
        ),
        F.round(
            1.0 - F.col("n_distinct_grams").cast("double") / F.col("n_grams"), 6
        ).alias("dup_3gram_frac"),
    )


_REP_ORACLE = f"""
WITH base AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {_NGRAM_N}),
tok AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS n_distinct,
         CAST(max(c) AS BIGINT) AS top_tok
  FROM (SELECT doc_id, tok, count(*) AS c
        FROM (SELECT doc_id, unnest(w) AS tok FROM base) GROUP BY 1, 2)
  GROUP BY doc_id),
gram AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         CAST(count(*) AS BIGINT) AS n_distinct_grams
  FROM (SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id,
                     unnest([array_to_string(w[i+1:i+{_NGRAM_N}], ' ')
                             for i in generate_series(0, len(w) - {_NGRAM_N})]) AS g
              FROM base) GROUP BY 1, 2)
  GROUP BY doc_id)
SELECT tok.doc_id, n_tokens,
       ROUND(n_distinct::DOUBLE / n_tokens, 6) AS distinct_ratio,
       ROUND(top_tok::DOUBLE / n_tokens, 6) AS top_token_frac,
       ROUND(1.0 - n_distinct_grams::DOUBLE / n_grams, 6) AS dup_3gram_frac
FROM tok JOIN gram ON tok.doc_id = gram.doc_id
"""


# -- stratified sampling ----------------------------------------------

# per-stratum keep rates out of 100 — downsample the over-represented
# language to rebalance the mix (the usual pretraining-mix operation)
_STRATA_RATES = {"en": 10, "de": 50, "fr": 50, "es": 50, "zh": 100}
_DEFAULT_RATE = 25


def stratified_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic stratified sample: keep a doc iff the first 8 hex
    digits of md5(lang|doc_id) land under the stratum's rate. Row-local
    and seedless — the same rows survive on any engine, any cluster
    size, any partitioning (unlike rand()-based sampling)."""
    d = load(spark, sf, "documents")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.col("lang"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    rate = F.lit(_DEFAULT_RATE)
    for lang, r in _STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return (
        d.withColumn("bucket", bucket)
        .filter(F.col("bucket") < rate)
        .select("doc_id", "lang", "bucket")
    )


_STRAT_CASE = " ".join(
    f"WHEN lang = '{lang}' THEN {r}" for lang, r in _STRATA_RATES.items()
)
_STRAT_ORACLE = f"""
SELECT doc_id, lang, bucket FROM (
  SELECT doc_id, lang,
         CAST(concat('0x', substr(md5(concat_ws('|', lang, CAST(doc_id AS VARCHAR))), 1, 8))
              AS BIGINT) % 100 AS bucket
  FROM documents)
WHERE bucket < (CASE {_STRAT_CASE} ELSE {_DEFAULT_RATE} END)
"""


# -- PII redaction ----------------------------------------------------

# conservative patterns valid in BOTH Java regex (Spark) and RE2 (DuckDB):
# no backrefs, no lookaround
_PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "phone": r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b",
}
# emails first: an email's domain must not later match as a bare host/IP
_PII_ORDER = ["email", "ip", "phone"]


def redact_col(text_col):
    """(redacted_text, counts) column expressions — row-local regexes,
    fully pushed into the scan; reused by the query and by unit tests.

    Counts are computed PROGRESSIVELY, mirroring the sequential
    replacement order (email → ip → phone): each pattern is counted on
    the text with all earlier patterns already redacted, so n_<k> equals
    the number of <K> placeholders actually present in red_text (an IPv4
    inside an email's local part is swallowed by <EMAIL> and correctly
    not counted as an IP)."""
    counts = {}
    red = text_col
    for k in _PII_ORDER:
        counts[k] = F.size(F.regexp_extract_all(red, F.lit(_PII_PATTERNS[k]), 0))
        red = F.regexp_replace(red, _PII_PATTERNS[k], f"<{k.upper()}>")
    return red, counts


def pii_redact(spark: SparkSession, sf: str) -> DataFrame:
    """Email / IPv4 / phone redaction with per-doc counts — the scrub a
    pretraining pipeline runs before tokenization. Stateless row-local
    regexes: zero shuffles, scales linearly with the scan."""
    d = load(spark, sf, "documents")
    red, counts = redact_col(F.col("text"))
    return d.select(
        "doc_id",
        *[counts[k].cast("long").alias(f"n_{k}") for k in _PII_ORDER],
        red.alias("red_text"),
    )


# progressive counts in SQL too: count pattern k on the text with all
# earlier patterns already replaced (same semantics as redact_col)
_red_sql = "text"
_pii_count_sql = []
for _k in _PII_ORDER:
    _pii_count_sql.append(
        f"CAST(len(regexp_extract_all({_red_sql}, '{_PII_PATTERNS[_k]}')) AS BIGINT) AS n_{_k}"
    )
    _red_sql = f"regexp_replace({_red_sql}, '{_PII_PATTERNS[_k]}', '<{_k.upper()}>', 'g')"
_PII_ORACLE = f"""
SELECT doc_id,
       {", ".join(_pii_count_sql)},
       {_red_sql} AS red_text
FROM documents
"""


# -- decontamination --------------------------------------------------

_DECON_N = 8  # 8-gram overlap = the usual benchmark-leakage test
# The CONTRACT query runs at 4-grams: the synthetic corpus has zero
# natural cross-doc 8-gram repeats at sf<=0.01, which made the round-3
# oracle row compare two empty sets (vacuous).  4-grams yield 8 flagged
# docs at BOTH sf0.001 and sf0.01, so the driver's hash check exercises
# real joins/aggregation; production keeps n=8 via the parameter.
_DECON_CONTRACT_N = 4


def decontaminate(spark: SparkSession, sf: str, n: int = _DECON_N) -> DataFrame:
    """Benchmark decontamination: flag training documents that share any
    word-n-gram with the benchmark set (here: every 97th doc, standing
    in for an eval suite). Output = flagged doc_id + how many distinct
    benchmark n-grams it leaks.

    Scale shape: the benchmark side is small by construction (eval
    suites are thousands of docs, not billions) — its distinct 8-gram
    hashes BROADCAST; the corpus side explodes its 8-grams and inner-
    joins the broadcast, so the 100 TB side is one narrow pass + one
    (doc_id)-keyed count agg. No shuffle carries document text."""
    d = load_split(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= n)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.xxhash64(F.concat_ws(" ", F.slice("w", i + 1, n))),
        )
    )
    bench = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(grams).alias("g"))
        .distinct()
    )
    train = d.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.explode(grams).alias("g")
    )
    return (
        train.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_leaked_grams"))
    )


_DECON_ORACLE = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= {_DECON_CONTRACT_N}),
g AS (
  SELECT doc_id, unnest(list_distinct([array_to_string(w[i+1:i+{_DECON_CONTRACT_N}], ' ')
                 for i in generate_series(0, len(w) - {_DECON_CONTRACT_N})])) AS gram
  FROM d),
bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_leaked_grams
FROM g JOIN bench ON g.gram = bench.gram
WHERE g.doc_id % 97 != 0
GROUP BY g.doc_id
"""


# -- sequence packing -------------------------------------------------

_SEQ_LEN = 2048
_PACK_BUCKET = 10_000  # docs per prefix-sum bucket
_TOK_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def pack_sequences(
    spark: SparkSession,
    sf: str,
    seq_len: int = _SEQ_LEN,
    bucket_span: int | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents in doc_id order are
    laid head-to-tail in token space; each doc reports its global start
    offset and the fixed-length pack its start falls in — the final
    step before a pretraining dataloader.

    The global running sum is NOT a single unpartitioned window (one
    task holding 10^10 rows): doc_ids are bucketed, per-bucket token
    sums collect to the driver (n_docs/bucket_span rows — tiny), the
    prefix offsets broadcast back, and the window runs WITHIN each
    bucket — the same two-phase pattern the crawl's order_key uses
    (crawl/politeness.py). Result is identical to the global window at
    any parallelism.

    bucket_span auto-scales with corpus size (n_docs / 10^5, floor 10^4)
    so the driver-collected offset table stays <= ~10^5 rows at ANY
    scale: 10^10 docs -> span 10^5 -> 10^5 bucket rows on the driver.
    The span cannot change results (pinned by the cross-span equality
    test), only the driver's metadata footprint."""
    from pyspark.sql.window import Window as W

    if bucket_span is None:
        # metadata-only parquet count — no data scan
        n_docs = load(spark, sf, "documents").count()
        bucket_span = max(_PACK_BUCKET, n_docs // 100_000)

    d = load(spark, sf, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(_TOK_RE), 0))
        .cast("long")
        .alias("n_tokens"),
        F.floor(F.col("doc_id") / bucket_span).alias("_b"),
    )
    per_bucket = {
        r["_b"]: r["s"]
        for r in d.groupBy("_b").agg(F.sum("n_tokens").alias("s")).collect()
    }
    offsets, acc = [], 0
    for b in sorted(per_bucket):
        offsets.append((b, acc))
        acc += per_bucket[b]
    offs = spark.createDataFrame(offsets or [(0, 0)], schema="_b long, _off long")
    w = W.partitionBy("_b").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    return (
        d.join(F.broadcast(offs), "_b")
        .withColumn("start_tok", F.col("_off") + F.sum("n_tokens").over(w) - F.col("n_tokens"))
        .select(
            "doc_id",
            "n_tokens",
            "start_tok",
            F.floor(F.col("start_tok") / seq_len).cast("long").alias("pack_id"),
        )
    )


_PACK_ORACLE = f"""
SELECT doc_id, n_tokens, CAST(cum - n_tokens AS BIGINT) AS start_tok,
       CAST(floor((cum - n_tokens) / {_SEQ_LEN}.0) AS BIGINT) AS pack_id
FROM (
  SELECT doc_id, n_tokens,
         sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT doc_id,
               CAST(len(regexp_extract_all(lower(text), '{_TOK_RE}')) AS BIGINT) AS n_tokens
        FROM documents))
"""


# -- Bigram-LM perplexity (CCNet-style quality filtering) --------------


def bigram_lm_scores(docs: DataFrame, k: float = 0.5) -> DataFrame:
    """Score every document by the cross-entropy of its own-corpus
    bigram language model — CCNet's perplexity filter (Wenzek et al.
    2020) with the LM trained on the corpus itself instead of an
    external KenLM (no model files exist in this image; the filtering
    semantics — flag documents whose token transitions are improbable
    under the corpus distribution — are the same).

    Model: P(w2 | w1) = (C(w1 w2) + k) / (C(w1) + k·V), add-k smoothing,
    V = corpus vocabulary size; xent = -mean log2 P over the doc's
    bigrams; ppl = 2^xent. Output: (doc_id, n_bigrams, xent, ppl).

    Scale shape (100 TB lens): the corpus is tokenized and shuffled
    EXACTLY ONCE — everything else derives from successive aggregates:
    - raw bigram stream → doc_big = (doc_id, w1, w2, n): the only
      corpus-wide shuffle, keyed by (doc, w1, w2) so no key is hotter
      than one document's repetition of one bigram.
    - doc_big is the persisted frame (bounded by DISTINCT doc-bigrams,
      strictly smaller than the occurrence stream it replaces; spills
      to disk; the session janitor frees the previous call's
      frames since callers get no unpersist handle).
    - lm = Σ_doc doc_big (agg of an agg), C(w1) = Σ_w2 lm (agg of an
      agg), V = distinct tokens of lm — hot-unigram skew ("the", "of")
      only ever touches tables already reduced to distinct bigrams.
    - V reduces to ONE row, broadcast back over the scoring join (same
      pattern as bm25_topk's corpus stats).
    - scoring: doc_big joins lm on (w1, w2) — hot bigrams are spread by
      the second key; residual skew is AQE skew-join territory, same
      story as skewed_join_agg.
    """
    from ecc_spark.session import drain_persisted, keep_persisted
    from pyspark import StorageLevel

    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), r"[^a-z0-9']+"), lambda x: x != ""
        ).alias("t"),
    )
    big = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("t", 1, F.size("t") - 1).alias("w1"),
                    F.slice("t", 2, F.size("t") - 1).alias("w2"),
                )
            ).alias("b"),
        )
        .select("doc_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    doc_big = big.groupBy("doc_id", "w1", "w2").agg(F.count("*").alias("n"))
    drain_persisted()
    doc_big = doc_big.persist(StorageLevel.MEMORY_AND_DISK)
    keep_persisted(doc_big)
    # lm has three consumers (uni, vocab ×2 via the union, scoring
    # join) — persist it too, or each re-runs the (w1, w2) aggregation
    # over the cached doc-bigram table
    lm = (
        doc_big.groupBy("w1", "w2")
        .agg(F.sum("n").alias("c12"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keep_persisted(lm)
    uni = lm.groupBy("w1").agg(F.sum("c12").alias("c1"))
    lm = lm.join(uni, "w1")
    # vocabulary from the reduced bigram table (w1 ∪ w2), not from toks
    # — a single-token doc contributes no bigram and its token cannot
    # affect any bigram's probability, so dropping it from V only
    # perturbs the smoothing constant by the rarest possible margin
    vocab = (
        lm.select(F.col("w1").alias("w"))
        .union(lm.select(F.col("w2").alias("w")))
        .agg(F.countDistinct("w").alias("v"))
    )
    return (
        doc_big.join(lm, ["w1", "w2"])
        .join(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_bigrams"),
            (
                -F.sum(
                    F.col("n")
                    * F.log2(
                        (F.col("c12") + F.lit(k))
                        / (F.col("c1") + F.lit(k) * F.col("v"))
                    )
                )
                / F.sum("n")
            ).alias("xent"),
        )
        .withColumn("ppl", F.pow(F.lit(2.0), F.col("xent")))
    )


def lm_perplexity(spark: SparkSession, sf: str) -> DataFrame:
    return bigram_lm_scores(load_split(spark, sf, "documents"))


# -- sliding-window chunking (long-doc splitting / RAG prep) ----------


def chunk_documents(
    docs: DataFrame, window: int = 64, stride: int = 48
) -> DataFrame:
    """Split every document into overlapping token windows:
    (doc_id, chunk_i, start_tok, n_tokens, chunk_text). Chunk k covers
    tokens [k·stride, k·stride + window); the last window is short
    rather than padded; every token lands in at least one chunk
    (stride <= window enforced). The long-document half of sequence
    preparation — pack_sequences is the short-document half.

    Tokenization is pack_sequences' _TOK_RE (the two are the two
    halves of one sequence preparation — their start_tok coordinates
    must agree on the same document), which also means newlines/tab
    runs never glue words into one "token" the way a literal-space
    split would.

    Scale shape: one narrow pass — regexp token extract, F.sequence of
    starts, transform → posexplode. No UDF, no shuffle; chunking is
    row-local so it composes with any upstream partitioning. Chunk
    fan-out per doc is ceil(n/stride), bounded by document length.
    """
    if not 0 < stride <= window:
        raise ValueError(f"need 0 < stride <= window (got {stride}, {window})")
    toks = docs.select(
        "doc_id",
        F.regexp_extract_all(F.lower("text"), F.lit(_TOK_RE), 0).alias("t"),
    ).withColumn("n", F.size("t"))
    starts = F.sequence(
        F.lit(0), F.greatest(F.lit(0), F.col("n") - 1), F.lit(stride)
    )
    chunks = F.transform(
        starts,
        lambda st: F.struct(
            st.alias("start_tok"),
            F.least(F.lit(window), F.col("n") - st).alias("n_tokens"),
            F.concat_ws(" ", F.slice("t", st + 1, window)).alias("chunk_text"),
        ),
    )
    return (
        toks.filter(F.col("n") > 0)
        .select("doc_id", F.posexplode(chunks).alias("chunk_i", "c"))
        .select(
            "doc_id",
            "chunk_i",
            F.col("c.start_tok").alias("start_tok"),
            F.col("c.n_tokens").alias("n_tokens"),
            F.col("c.chunk_text").alias("chunk_text"),
        )
    )


def doc_chunks(spark: SparkSession, sf: str) -> DataFrame:
    return chunk_documents(load_split(spark, sf, "documents"))


QUERIES.update(
    {
        "bm25_topk": bm25_topk,
        "pii_redact": pii_redact,
        "pack_sequences": pack_sequences,
        # contract registration pins n=4 explicitly (non-vacuous oracle);
        # the PUBLIC default stays the production 8-gram test
        "decontaminate": lambda spark, sf: decontaminate(spark, sf, n=_DECON_CONTRACT_N),
        "ngram_topk": ngram_topk,
        "repetition_quality": repetition_quality,
        "stratified_sample": stratified_sample,
        # rows-only: the oracle window is full at 50 (see registry.py);
        # exactness is pinned by the pure-python mirror in
        # tests/test_corpus_ops.py instead
        "lm_perplexity": lm_perplexity,
        "doc_chunks": doc_chunks,
    }
)
ORACLES.update(
    {
        "bm25_topk": _bm25_oracle(),
        "pii_redact": _PII_ORACLE,
        "pack_sequences": _PACK_ORACLE,
        "decontaminate": _DECON_ORACLE,
        "ngram_topk": _NGRAM_ORACLE,
        "repetition_quality": _REP_ORACLE,
        "stratified_sample": _STRAT_ORACLE,
    }
)
