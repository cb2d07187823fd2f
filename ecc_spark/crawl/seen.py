"""URL-seen set: exact anti-join, accelerated by a partitioned bloom filter.

Semantics scale up the reference's ``INSERT OR IGNORE`` PK dedup
(dao/matches_db.py:42,53,131): first writer wins, a URL is never un-seen.

Correctness contract (BASELINE.json: seen set must equal the reference's
exactly): the bloom is ONLY a fast path. Candidates the bloom calls
"definitely new" skip the anti-join; "maybe seen" candidates go to the
exact ``left_anti`` join, which alone decides. A bloom false positive
therefore costs one extra join probe — never a dropped URL.

Scale design: Spark 4 does not expose ``bloom_filter_agg`` in the public
registry, and a monolithic bloom for 10^10 keys (~12 GB at 1% fp) could
not be broadcast anyway. So the bloom is BLOCKED and PARTITIONED: keys
hash into ``n_buckets`` buckets (pmod(xxhash64(url), B)); each bucket owns
an independent bitmap built with one applyInPandas pass over the seen
keys, and the filter is a ``(bucket int, bitmap binary)`` table.
Candidates and bitmaps are co-partitioned on bucket and tested per group
in one cogrouped applyInPandas, so no node ever holds the whole filter.
Bitmap size per bucket is a parameter — at 10^10 seen URLs with B=4096
buckets and 16 MiB bitmaps the whole filter is co-partitioned, never
resident on one node, and the same path serves a toy crawl.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_K_HASHES = 5


def _indexes(h: np.ndarray, m_bits: int) -> list[np.ndarray]:
    """Double hashing: idx_i = (h1 + i*h2) mod m, h2 forced odd."""
    h = h.astype(np.uint64)
    h1 = h & np.uint64(0xFFFFFFFF)
    h2 = ((h >> np.uint64(32)) | np.uint64(1)).astype(np.uint64)
    return [((h1 + np.uint64(i) * h2) % np.uint64(m_bits)).astype(np.int64) for i in range(_K_HASHES)]


def build_bloom(seen: DataFrame, n_buckets: int = 64, m_bits: int = 1 << 20) -> DataFrame:
    """seen(url_hash long, ...) → bloom(bucket int, bitmap binary)."""
    keyed = seen.select(
        F.pmod("url_hash", F.lit(n_buckets)).cast("int").alias("bucket"), "url_hash"
    )

    def to_bitmap(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m_bits // 8, dtype=np.uint8)
        h = pdf["url_hash"].to_numpy()
        for idx in _indexes(h, m_bits):
            np.bitwise_or.at(bits, idx >> 3, np.uint8(1) << (idx & 7).astype(np.uint8))
        return pd.DataFrame({"bucket": [int(pdf["bucket"].iloc[0])], "bitmap": [bits.tobytes()]})

    return keyed.groupBy("bucket").applyInPandas(
        to_bitmap, schema="bucket int, bitmap binary"
    )


def _membership(buf: np.ndarray, h: np.ndarray) -> np.ndarray:
    """Vectorized 'maybe in bloom' test for hashes h against one bitmap."""
    m_bits = len(buf) * 8
    hit = np.ones(len(h), dtype=bool)
    for idx in _indexes(h, m_bits):
        hit &= (buf[idx >> 3] >> (idx & 7).astype(np.uint8)) & 1 == 1
    return hit


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom: DataFrame | dict | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is not in ``seen``.

    candidates must carry url_hash (xxhash64 of canonical url). Without a
    bloom this is the exact ``left_anti`` join. With one, candidates and
    bitmaps are shuffled on bucket and tested per group by a cogrouped
    applyInPandas: each task sees one bucket's candidates plus that
    bucket's bitmap rows only, so Arrow moves each bitmap once per task,
    not once per candidate row. A bucket may hold several bitmap rows
    (per-wave deltas, build_bloom outputs unioned); they are OR-ed in
    place, so deltas need no merge job. Definitely-new rows then bypass
    the exact join; maybe-seen rows are settled by left_anti (never
    dropped on bloom evidence alone).

    ``bloom`` is a ``DataFrame(bucket int, bitmap binary)`` as
    build_bloom returns it, or the same content collected to a
    ``{bucket: bitmap}`` dict, which becomes that frame first.
    """
    if bloom is None:
        return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
    if isinstance(bloom, dict):
        bloom = candidates.sparkSession.createDataFrame(
            [(int(b), bytes(raw)) for b, raw in bloom.items()],
            schema="bucket int, bitmap binary",
        )

    cand = candidates.withColumn(
        "_bucket", F.pmod("url_hash", F.lit(n_buckets)).cast("int")
    )
    out_fields = ", ".join(f"`{c[0]}` {c[1]}" for c in candidates.dtypes)
    out_schema = f"{out_fields}, _maybe boolean"
    drop_cols = ["_bucket"]

    def test(cpdf: pd.DataFrame, bpdf: pd.DataFrame) -> pd.DataFrame:
        if not len(cpdf):
            return cpdf.drop(columns=drop_cols).assign(_maybe=pd.Series(dtype=bool))
        h = cpdf["url_hash"].to_numpy()
        if not len(bpdf):
            maybe = np.zeros(len(h), dtype=bool)  # bucket never seen → all new
        else:
            acc = None  # OR multi-delta bitmaps for this bucket
            for raw in bpdf["bitmap"]:
                arr = np.frombuffer(raw, dtype=np.uint8)
                acc = arr.copy() if acc is None else np.bitwise_or(acc, arr)
            maybe = _membership(acc, h)
        return cpdf.drop(columns=drop_cols).assign(_maybe=maybe)

    flagged = (
        cand.groupBy("_bucket")
        .cogroup(bloom.groupBy("bucket"))
        .applyInPandas(test, schema=out_schema)
    )
    # split on the verdict: definitely-new bypasses the join; maybe-seen
    # is settled by the exact left_anti
    definitely_new = flagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = flagged.filter(F.col("_maybe")).drop("_maybe")
    settled = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
    return definitely_new.unionByName(settled)
