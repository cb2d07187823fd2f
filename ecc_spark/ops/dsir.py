"""DSIR: data selection via importance resampling (Xie et al., 2023).

The pretraining-data selection stage that sits between raw crawl output
and tokenization: score every raw document by how much it "looks like" a
small high-quality target corpus, then sample the raw pool proportionally
to those importance weights.  DSIR's estimator is deliberately cheap —
hashed n-gram unigram+bigram counts, a log-likelihood ratio between the
target and raw bucket distributions, and Gumbel-top-k sampling — which
makes it exactly the shape Spark executes well:

- **fit** (``dsir_log_ratios``): two corpus-wide ``(bucket, count)``
  hash-aggs (map-side combined, ≤ V distinct keys each regardless of
  corpus size) full-outer-joined into a ≤ V-row table of per-bucket
  log ratios λ_b = log p̂_target(b) − log p̂_raw(b), Laplace-smoothed.
  The table is broadcastable by construction (V = 2^18 ≈ 4 MB).
- **score** (``dsir_weights``): featurize → broadcast-join λ → one
  per-doc sum agg.  log ŵ(doc) = Σ_terms λ_bucket(term).  The shuffle
  carries (doc_id, partial_sum), never text.
- **sample** (``dsir_select``): Gumbel-top-k over log weights — adding
  Gumbel(0,1) noise to log ŵ and taking the k largest keys IS sampling
  without replacement proportionally to ŵ (Vieira 2014), so selection
  is one TakeOrdered, no sequential draw.  The noise is derived from
  ``xxhash64(doc_id, seed)``, so runs are deterministic and
  partition-order-independent.

Featurization (tokenizer, bigrams, crc32 bucketing) is shared with the
quality classifier (``ops/quality.featurize``) — same token stream the
rest of the corpus ops use, and `zlib.crc32` mirrors it exactly in the
pure-Python twin (tests/test_dsir.py).

Reference scope: no counterpart in the reference (its corpus is fixed
Wikipedia); this is a brief-side training-data-pipeline operator.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ecc_spark.ops.quality import featurize
from ecc_spark.ops.tables import load_split

QUERIES: dict = {}
ORACLES: dict[str, str] = {}

N_FEATURES = 1 << 18
ALPHA = 1.0


def dsir_log_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    n_features: int = N_FEATURES,
    alpha: float = ALPHA,
) -> tuple[DataFrame, float]:
    """Per-bucket importance log ratios λ_b, plus the default for buckets
    unseen in both corpora.

    λ_b = log (t_b + α)/(T + αV) − log (r_b + α)/(R + αV), with t/r the
    bucket counts over target/raw and T/R their totals.  Both count
    tables are ≤ V rows; the join and the arithmetic never touch the
    corpus again.
    """
    # r6 (verdict fix): persist BOTH count tables before the eager totals
    # collect — unpersisted, the λ join re-ran featurize over the full
    # corpora at action time (one extra 100 TB scan of `raw` in
    # dsir_select's case).  ≤ V rows each (V = 2^18), trivially cached;
    # freed by the session janitor on the next operator call
    # (same as bigram_lm_scores).
    from pyspark.storagelevel import StorageLevel

    from ecc_spark.session import drain_persisted, keep_persisted

    drain_persisted()
    t_counts = featurize(target, text_col=text_col, n_features=n_features,
                         key_cols=()).withColumnRenamed("c", "t").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    r_counts = featurize(raw, text_col=text_col, n_features=n_features,
                         key_cols=()).withColumnRenamed("c", "r").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    keep_persisted(t_counts, r_counts)
    return _lam_from_counts(t_counts, r_counts, n_features, alpha)


def _lam_from_counts(
    t_counts: DataFrame, r_counts: DataFrame, n_features: int, alpha: float
) -> tuple[DataFrame, float]:
    """λ table + default from already-built (bucket, t)/(bucket, r)
    count tables — shared by the public fit and the fused select path."""
    totals_row = (
        t_counts.agg(F.sum("t").alias("n")).crossJoin(
            r_counts.agg(F.sum("r").alias("m"))
        ).collect()[0]
    )
    den_t = math.log((totals_row["n"] or 0) + alpha * n_features)
    den_r = math.log((totals_row["m"] or 0) + alpha * n_features)
    lam = (
        t_counts.join(r_counts, "bucket", "full_outer")
        .select(
            "bucket",
            (
                (F.log(F.coalesce("t", F.lit(0)) + F.lit(alpha)) - F.lit(den_t))
                - (F.log(F.coalesce("r", F.lit(0)) + F.lit(alpha)) - F.lit(den_r))
            ).alias("lam"),
        )
    )
    lam_default = (math.log(alpha) - den_t) - (math.log(alpha) - den_r)
    return lam, lam_default


def dsir_weights(
    raw: DataFrame,
    lam: DataFrame,
    lam_default: float,
    text_col: str = "text",
    n_features: int = N_FEATURES,
) -> DataFrame:
    """(doc_id, logw): per-document log importance weight.

    Broadcast-joins the ≤ V-row λ table onto hashed term counts and sums
    per doc; token-free documents get logw = 0 (weight 1) via the
    join-back, so no raw row ever silently disappears.
    """
    feats = featurize(raw, text_col=text_col, n_features=n_features)
    scored = (
        feats.join(F.broadcast(lam), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.coalesce("lam", F.lit(lam_default))).alias("s")
        )
    )
    return (
        raw.select("doc_id")
        .join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce("s", F.lit(0.0)).alias("logw"))
    )


def dsir_select(
    raw: DataFrame,
    target: DataFrame,
    k: int,
    text_col: str = "text",
    n_features: int = N_FEATURES,
    alpha: float = ALPHA,
    seed: int = 0,
) -> DataFrame:
    """Sample ``k`` raw documents without replacement, proportionally to
    their DSIR importance weights (Gumbel-top-k over log weights).

    key = logw + Gumbel(0,1), with the Gumbel's uniform derived from
    ``xxhash64(doc_id, seed)`` — deterministic, reproducible across
    partitionings, and executed as one global TakeOrdered (no full
    sort materializes at scale).  Returns (doc_id, logw, key).

    r6: the raw corpus is featurized ONCE — the doc-keyed feature table
    is persisted and serves both the fit (r_counts = its per-bucket sum,
    identical to aggregating the term stream directly) and the scoring
    join, so `raw` is scanned once for fit+score instead of twice
    (guide §1.2: remove whole passes first).
    """
    from pyspark.storagelevel import StorageLevel

    from ecc_spark.session import drain_persisted, keep_persisted

    drain_persisted()
    feats = featurize(raw, text_col=text_col, n_features=n_features).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    t_counts = featurize(target, text_col=text_col, n_features=n_features,
                         key_cols=()).withColumnRenamed("c", "t").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    r_counts = (
        feats.groupBy("bucket").agg(F.sum("c").alias("r"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keep_persisted(feats, t_counts, r_counts)
    lam, lam_default = _lam_from_counts(t_counts, r_counts, n_features, alpha)
    scored = (
        feats.join(F.broadcast(lam), "bucket", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("c") * F.coalesce("lam", F.lit(lam_default))).alias("s")
        )
    )
    w = (
        raw.select("doc_id")
        .join(scored, "doc_id", "left")
        .select("doc_id", F.coalesce("s", F.lit(0.0)).alias("logw"))
    )
    m = F.lit(float(1 << 31))
    u = (
        F.pmod(F.xxhash64(F.col("doc_id").cast("string"), F.lit(seed)), F.lit(1 << 31))
        + F.lit(0.5)
    ) / m
    key = F.col("logw") + (-F.log(-F.log(u)))
    return (
        w.withColumn("key", key)
        .orderBy(F.desc("key"), F.asc("doc_id"))
        .limit(k)
    )


# -- driver-contract query (rows-only ◦: smoothed log ratios and Gumbel
#    keys have no SQL twin; pinned by the pure-Python mirror in
#    tests/test_dsir.py) ------------------------------------------------


def dsir_select_query(spark: SparkSession, sf: str) -> DataFrame:
    """Target = even-crc32 documents (a deterministic stand-in for 'the
    high-quality corpus'); raw = all documents. Select 50 by importance.
    Output: (doc_id, logw, key) rounded for stable comparison."""
    docs = load_split(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    target = docs.filter(F.crc32(F.encode("doc_id", "utf-8")) % 2 == 0)
    out = dsir_select(docs, target, k=50, n_features=1 << 16, seed=7)
    return out.select(
        "doc_id", F.round("logw", 4).alias("logw"), F.round("key", 4).alias("key")
    )


QUERIES.update({"dsir_select": dsir_select_query})
