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
table; candidates join their bucket's bitmap (broadcast while small,
co-partitioned shuffle join beyond that) and test membership in a
vectorized numpy UDF. Bitmap size per bucket is a parameter — at 10^10
seen URLs with B=4096 buckets and 16 MiB bitmaps the whole filter is
co-partitioned, never resident on one node.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark import Broadcast
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def _settle(candidates_flagged: DataFrame, seen: DataFrame) -> DataFrame:
    """Split on the bloom verdict: definitely-new bypasses the join;
    maybe-seen is settled by the exact left_anti (never dropped on bloom
    evidence alone — the seen-set-equality contract)."""
    definitely_new = candidates_flagged.filter(~F.col("_maybe")).drop("_maybe")
    maybe = candidates_flagged.filter(F.col("_maybe")).drop("_maybe")
    settled = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
    return definitely_new.unionByName(settled)


def filter_unseen(
    candidates: DataFrame,
    seen: DataFrame,
    bloom=None,
    n_buckets: int = 64,
) -> DataFrame:
    """Rows of ``candidates`` whose url_hash is not in ``seen``.

    candidates must carry url_hash (xxhash64 of canonical url). With a
    bloom, definitely-new rows bypass the exact join; maybe-seen rows are
    settled by left_anti (never dropped on bloom evidence alone).

    Two bloom transports, selected by the caller by TOTAL BITMAP SIZE
    (the wave loop does this automatically, frontier.py):

    - ``dict`` or ``pyspark.Broadcast`` of {bucket: bitmap} — the bitmaps
      travel as ONE torrent-broadcast to the Python workers; joining them
      as a column would duplicate each 128 KiB bitmap onto every
      candidate row through Arrow (GBs of serialization for thousands of
      rows — measured, not hypothetical). Right while the whole filter
      fits on one node (~1 GiB).
    - ``DataFrame(bucket int, bitmap binary)`` — the SHARDED path for
      blooms beyond broadcast size (10^10 keys ≈ 12 GB at 1% fp):
      candidates and bitmaps are co-partitioned on bucket and tested per
      group via a cogrouped applyInPandas; no node ever holds the whole
      filter, and multiple delta bitmaps per bucket are OR-ed in place,
      so per-wave deltas need no merge job.

    Callers that loop (the wave loop) should pass a Broadcast they manage
    and ``unpersist()`` it after the wave — passing a raw dict creates a
    fresh broadcast per call, which leaks over long crawls. A Broadcast
    is only read on the executors, never deserialised on the driver.
    """
    if bloom is None:
        return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")

    if isinstance(bloom, DataFrame):
        return _filter_unseen_sharded(candidates, seen, bloom, n_buckets)

    spark = candidates.sparkSession
    bc = bloom if isinstance(bloom, Broadcast) else spark.sparkContext.broadcast(bloom)

    @F.pandas_udf(T.BooleanType())
    def maybe_contains(url_hash: pd.Series) -> pd.Series:
        maps = bc.value
        h = url_hash.to_numpy()
        # floor-mod matches Spark's pmod on signed hashes
        buckets = np.mod(np.mod(h, n_buckets) + n_buckets, n_buckets).astype(np.int64)
        out = np.zeros(len(h), dtype=bool)
        for bkt in np.unique(buckets):
            raw = maps.get(int(bkt))
            if raw is None:
                continue  # bucket never seen -> definitely new
            rows = np.nonzero(buckets == bkt)[0]
            out[rows] = _membership(np.frombuffer(raw, dtype=np.uint8), h[rows])
        return pd.Series(out)

    return _settle(candidates.withColumn("_maybe", maybe_contains("url_hash")), seen)


def _filter_unseen_sharded(
    candidates: DataFrame, seen: DataFrame, bloom: DataFrame, n_buckets: int
) -> DataFrame:
    """Cogroup path: shuffle candidates AND bitmaps on bucket; each task
    sees one bucket's candidates plus that bucket's bitmap rows only.
    Arrow moves each bitmap once per task, not once per candidate row."""
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
    return _settle(flagged, seen)
