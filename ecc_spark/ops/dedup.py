"""Deduplication operators for training-data pipelines (★ oracles).

Exact, MinHash+LSH, SimHash and n-gram-Jaccard dedup over `documents`.
All hash primitives are md5-based (portable: identical hex in the JVM and
DuckDB), and every aggregate uses string-MIN / integer math, so the
DuckDB oracle states the same computation exactly.

Scale notes per operator are in the docstrings — the common theme:
candidate generation shuffles on low-cardinality keys (shingle / band /
simhash) and only candidate PAIRS, never the full cross product, reach
the verification stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

from ecc_spark.ops.tables import load, load_split
from ecc_spark.session import drain_persisted, keep_persisted

QUERIES: dict = {}
ORACLES: dict[str, str] = {}

# ---------------------------------------------------------------------------
_EXACT_ORACLE = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_copies
FROM documents GROUP BY md5(text)
"""


def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content hash; min doc_id is the
    canonical representative (first-writer-wins, OPS-14 semantics).
    One shuffle on a uniform 128-bit key — embarrassingly scalable."""
    d = load(spark, sf, "documents")
    return (
        d.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Document-frequency cap for the shingle self-join. A stopword shingle in
# 10^6 docs creates 10^12 pairs in ONE key — genuinely quadratic, beyond
# what AQE skew-split can fix. Shingles with df > cap carry ~no Jaccard
# signal (they're corpus boilerplate), so the capped Jaccard is computed
# over the capped shingle UNIVERSE: sizes and intersections both exclude
# them, keeping the measure a true Jaccard on the filtered set. The cap
# bounds per-key pair fan-out at cap²; testdata max df is far below it,
# so the sf0.01 oracle is value-identical to the uncapped query.
SHINGLE_DF_CAP = 1000

_NGRAM_ORACLE = f"""
WITH sh0 AS (
  SELECT doc_id, sh FROM (
    SELECT doc_id, unnest(list_distinct([array_to_string(w[i+1:i+3], ' ')
                   for i in generate_series(0, len(w) - 3)])) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents WHERE len(string_split(text,' ')) >= 3))
), sh AS (
  SELECT * FROM sh0 WHERE sh NOT IN (
    SELECT sh FROM sh0 GROUP BY sh HAVING count(*) > {SHINGLE_DF_CAP})
), sizes AS (
  SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       ROUND(CAST(common AS DOUBLE) / (sa.n + sb.n - common), 6) AS jaccard
FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.2
"""


def ngram_jaccard_pairs(
    documents: DataFrame, df_cap: int = SHINGLE_DF_CAP, threshold: float = 0.2
) -> DataFrame:
    """Near-dup via word-3-gram Jaccard over a DF-capped shingle universe.

    Plan shape: shingle explode → xxhash64 of the shingle (the shuffle
    key is a LONG, not the string — smaller shuffle rows, cheaper
    comparisons; JVM-native hash, no digest cost; collisions are
    ~n²/2^65, noise for near-dup detection) → df aggregate (partial+
    final, map-side combined) → the tiny hot-shingle set (df > cap)
    removed with a BROADCAST anti-join (no extra shuffle of the big
    side) → POSTING LISTS: groupBy(sh).array_sort(collect_list(doc_id)) —
    safe only AFTER the cap (an uncapped boilerplate shingle would
    materialize a 10^6-element buffer in one group; capped lists are
    ≤ cap), sorted INSIDE the aggregate → pairs via two chained codegen
    generates (posexplode + explode(slice); sorted list ⇒ doc_a<doc_b)
    and counted; per-doc sizes explode the SAME persisted posting
    frame. Per-shingle pair fan-out is bounded by cap²; the
    hash is internal only — the output (doc pairs + jaccard over the
    capped universe) is hash-free, so the DuckDB oracle states the same
    computation over plain string shingles."""
    d = documents.select("doc_id", F.split("text", " ").alias("w")).filter(F.size("w") >= 3)
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 3),
                    lambda i: F.concat_ws(" ", F.slice("w", i + 1, 3)),
                )
            )
        ).alias("s"),
    ).select("doc_id", F.xxhash64("s").alias("sh"))
    # r6: persist the hashed shingle frame — BOTH the df-cap aggregate and
    # the kept-side anti-join consume it, and unpersisted each consumer
    # re-ran the whole scan+split+distinct lineage (one full extra corpus
    # pass at 100 TB). It is NOT narrower than the text: about one row
    # per token (distinct 3-word shingles per doc), 16 B/row against
    # ~6 B per token of text, so roughly 2-3x the corpus bytes;
    # MEMORY_AND_DISK spills what does not fit. Freed by the janitor on
    # the next operator call.
    drain_persisted()
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    hot = sh.groupBy("sh").agg(F.count("*").alias("df")).filter(F.col("df") > df_cap)
    kept = sh.join(F.broadcast(hot.select("sh")), "sh", "left_anti")
    # sorted INSIDE the aggregate: pair generation below reads a plain
    # column. The previous shape sorted inside an interpreted higher-order
    # lambda, which re-evaluated array_sort per pair element — measured
    # 32.6s for bare pair generation at sf1.0 vs 0.4s for this shape.
    posting = kept.groupBy("sh").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    # posting feeds pairs AND sizes, sizes feeds both sides of the final
    # join — Catalyst gets no exchange reuse across these subtrees
    # (measured: the lineage re-evaluates per consumer), so materialize
    # the two shared frames once. Both are post-cap: posting rows are
    # ≤ cap-element lists, sizes is one row per doc — MEMORY_AND_DISK
    # spills gracefully at 100 TB, where recomputing the full
    # scan+explode per consumer is the far larger cost. The returned DF
    # gives callers no unpersist handle, so each call frees the PREVIOUS
    # call's frames — a long-lived session looping over corpora holds at
    # most one call's cache (two concurrent calls in one session would
    # recompute, never miscompute).
    posting = posting.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = (
        posting.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    keep_persisted(sh, posting, sizes)
    # pair generation as two chained WHOLE-STAGE-CODEGEN generates
    # (posexplode → explode(slice)) instead of interpreted nested
    # F.transform lambdas building a C(n,2) struct array per posting row
    # (guide §4.1: prefer built-ins/codegen over interpreted paths).
    # docs is sorted ascending, so element i pairs with every later
    # element ⇒ doc_a < doc_b by construction — identical pair multiset.
    pairs = (
        posting.filter(F.size("docs") >= 2)
        .select(F.posexplode("docs").alias("i", "doc_a"), "docs")
        .select(
            "doc_a",
            F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("doc_b"),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    j = (
        pairs.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .withColumn(
            "jac",
            F.col("common").cast("double")
            / (F.col("sa.n") + F.col("sb.n") - F.col("common")),
        )
        .filter(F.col("jac") >= threshold)
    )
    return j.select("doc_a", "doc_b", F.round("jac", 6).alias("jaccard"))


def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    # load_split: the testdata documents file is one unsplittable row
    # group — without the repartition the whole shingle explode runs on
    # one task (no-op on real multi-file inputs; see tables.load_split)
    return ngram_jaccard_pairs(load_split(spark, sf, "documents"))


# ---------------------------------------------------------------------------
_N_HASHES = 8
_BAND_SIZE = 2  # 4 bands × 2 rows
# One md5 per shingle, 8 hash functions derived via a MULTIPLICATIVE
# universal family over the digest's first 32 bits:
#     h_i(s) = (A_i·h + B_i) mod (2^61−1),  h = int(md5(s)[:8 hex])
# 8× fewer digests than seeded-md5-per-function and integer MINs instead
# of string MINs. The naive alternative h1 + i·h2 is CORRELATED across i
# (the same shingle tends to attain the min for every i), which guts LSH
# recall — measured, not theoretical; multiplication by distinct odd
# constants mixes bits properly. A_i < 2^31 and h < 2^32 keep A·h+B
# under 2^63: no overflow under Spark ANSI mode and no DuckDB BIGINT
# error. conv()/'0x'-cast produce identical int64 in both engines
# (verified). 32-bit h collides ~(n²/2^33) shingles corpus-wide —
# harmless for candidate generation.
_MERSENNE61 = (1 << 61) - 1
_A = [0x3A8F05C5, 0x2545F491, 0x1B873593, 0x45D9F3B1,
      0x27D4EB2F, 0x165667B1, 0x61C88647, 0x1F83D9AB]
_B = [0x9E3779B9, 0x85EBCA6B, 0xC2B2AE35, 0x5BD1E995,
      0x38495AB5, 0x52DCE729, 0x6C078965, 0x7FEB352D]

_MINHASH_SIG_SQL = ", ".join(
    f"list_min([({_A[i]} * CAST(concat('0x', substr(h, 1, 8)) AS BIGINT)"
    f" + {_B[i]}) % {_MERSENNE61} for h in hx]) AS mh{i}"
    for i in range(_N_HASHES)
)
_BANDS_SQL = ", ".join(
    f"concat(CAST({b} AS VARCHAR), '|', "
    + ", '|', ".join(
        f"CAST(mh{b * _BAND_SIZE + r} AS VARCHAR)" for r in range(_BAND_SIZE)
    )
    + f") AS band{b}"
    for b in range(_N_HASHES // _BAND_SIZE)
)
_MINHASH_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, [md5(s) for s in list_distinct([array_to_string(w[i+1:i+3], ' ')
          for i in generate_series(0, len(w) - 3)])] AS hx
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents
        WHERE len(string_split(text,' ')) >= 3)
), sigs AS (
  SELECT doc_id, {_MINHASH_SIG_SQL} FROM docs
), banded AS (
  SELECT doc_id, unnest([{", ".join(f"band{b}" for b in range(_N_HASHES // _BAND_SIZE))}]) AS band
  FROM (SELECT doc_id, {_BANDS_SQL} FROM sigs)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
"""


def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    """MinHash+LSH candidate pairs: shingle → md5 once → 8 multiplicative
    universal hashes (integer MIN of (A_i·h+B_i) mod 2^61−1) → 4 bands of
    2 → band posting lists → distinct pairs. The only shuffle keys are
    doc_id (signature agg) and band strings (uniform). At 10^10 docs the
    banding replaces the O(n²) comparison with near-linear candidate
    generation.

    r6 perf (guide §4.1): signatures were an F.transform(hv, …) per hash
    function over a per-doc array built by ANOTHER nested transform —
    all interpreted, single pass over one unsplittable scan task.  Now
    the distinct shingles EXPLODE (codegen) into (doc_id, h) rows and the
    8 mins are one map-side-combined hash-agg keyed on doc_id — same
    per-doc min over the same h multiset, identical signatures; pair
    generation uses the same codegen posexplode+slice shape as
    ngram_jaccard_pairs."""
    d = load_split(spark, sf, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    d = d.filter(F.size("w") >= 3)
    sh = d.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - 3),
                    lambda i: F.concat_ws(" ", F.slice("w", i + 1, 3)),
                )
            )
        ).alias("s"),
    ).select(
        "doc_id", F.conv(F.substring(F.md5("s"), 1, 8), 16, 10).cast("long").alias("h")
    )
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(_A[i]) * F.col("h") + F.lit(_B[i])) % F.lit(_MERSENNE61)
            ).alias(f"mh{i}")
            for i in range(_N_HASHES)
        ]
    )
    bands = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[F.col(f"mh{b * _BAND_SIZE + r}").cast("string") for r in range(_BAND_SIZE)],
        )
        for b in range(_N_HASHES // _BAND_SIZE)
    ]
    banded = sigs.select("doc_id", F.explode(F.array(*bands)).alias("band"))
    # band POSTING LISTS instead of a self-join: the join evaluated the
    # whole md5+signature pipeline once PER SIDE (no exchange reuse —
    # same pathology ngram_jaccard_pairs had); grouping computes it once
    # and generates each bucket's pairs with array combinatorics. A
    # pathological bucket (mass exact duplicates) would blow up either
    # formulation identically — run dedup_exact first, as pipelines do.
    posting = (
        banded.groupBy("band")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("docs"))
        .filter(F.size("docs") >= 2)
    )
    return (
        posting.select(F.posexplode("docs").alias("i", "doc_a"), "docs")
        .select(
            "doc_a",
            F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("doc_b"),
        )
        .distinct()
    )


# ---------------------------------------------------------------------------
_SIMHASH_ORACLE = """
WITH tok AS (
  SELECT doc_id, md5(t) AS h
  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents)
), bits AS (
  SELECT doc_id, b,
         CASE WHEN ((strpos('0123456789abcdef', h[1 + b // 4]) - 1) >> (3 - b % 4)) & 1 = 1
              THEN 1 ELSE -1 END AS vote
  FROM tok, unnest(generate_series(0, 15)) AS u(b)
), votes AS (
  SELECT doc_id, b, sum(vote) AS v FROM bits GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN 1 << b ELSE 0 END) AS BIGINT) AS simhash
FROM votes GROUP BY doc_id
"""


def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    """16-bit SimHash per doc: per-token md5 → 16 bit votes → sign
    aggregate. Two hash-aggregations on (doc_id[, bit]) — no joins; near-dup
    pairs then come from bucketing on simhash (equal hashes) or the banded
    join in ``simhash_pairs`` for hamming ≤ k."""
    d = load_split(spark, sf, "documents")
    tok = d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")).select(
        "doc_id", F.md5("t").alias("h")
    )
    bits = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(15))).alias("b"),
        "h",
    ).select(
        "doc_id",
        "b",
        F.when(
            F.expr(
                "((instr('0123456789abcdef', substring(h, CAST(b / 4 AS INT) + 1, 1)) - 1)"
                " >> (3 - b % 4)) & 1"
            )
            == 1,
            1,
        )
        .otherwise(-1)
        .alias("vote"),
    )
    votes = bits.groupBy("doc_id", "b").agg(F.sum("vote").alias("v"))
    return votes.groupBy("doc_id").agg(
        F.sum(F.expr("CASE WHEN v > 0 THEN shiftleft(1, b) ELSE 0 END"))
        .cast("long")
        .alias("simhash")
    )


# ---------------------------------------------------------------------------
def simhash64(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash per document — the production-width signature.

    Per-token ``xxhash64`` supplies all 64 bit votes (one JVM hash call
    per token, bits sliced with shift/mask); votes aggregate exactly like
    the 16-bit variant: explode to (doc, bit) → signed sum → sign bit.
    The final assembly uses the ``bit_or`` aggregate rather than a sum so
    bit 63 (the long's sign bit) packs without arithmetic overflow.

    Shape at 100 TB: tokens×64 rows flow straight into a map-side-
    combined hash-agg keyed on (doc_id, bit) — per-group cardinality is
    bounded by document length, no skew story needed, no joins. The
    explode-free alternative (64 conditional sum aggregates per doc)
    was measured 2.3x SLOWER warm at sf0.1 (1.33s vs 0.58s) — the
    exploded pipeline stays in whole-stage codegen while 64 separate
    aggregate expressions do not — so the fanout is the right trade.
    """
    tok = df.select(id_col, F.explode(F.split(F.lower(text_col), " ")).alias("t")).select(
        id_col, F.xxhash64("t").alias("h")
    )
    bits_df = tok.select(
        id_col,
        F.explode(F.sequence(F.lit(0), F.lit(63))).alias("b"),
        "h",
    ).select(
        id_col,
        "b",
        F.when(F.expr("(h >> b) & 1") == 1, 1).otherwise(-1).alias("vote"),
    )
    votes = bits_df.groupBy(id_col, "b").agg(F.sum("vote").alias("v"))
    return votes.groupBy(id_col).agg(
        F.bit_or(
            F.expr("CASE WHEN v > 0 THEN shiftleft(CAST(1 AS BIGINT), b) ELSE CAST(0 AS BIGINT) END")
        ).alias("simhash")
    )


def _simhash_value_pairs(
    values: DataFrame, k: int, n_bands: int, bits: int
) -> DataFrame:
    """DISTINCT simhash VALUE pairs (sh_a < sh_b, hamming ≤ k) via the
    banded self-join — on values, not documents.  By pigeonhole any pair
    within hamming k < n_bands agrees exactly on ≥1 band, so the
    (band, band_value) equi-join yields a candidate superset and the
    exact bit_count(xor) filter settles each candidate."""
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    bands = values.select(
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_bands - 1))).alias("band"),
    ).withColumn("bv", F.expr(f"(simhash >> (band * {band_bits})) & {mask}"))
    va = bands.select("band", "bv", F.col("simhash").alias("sh_a"))
    vb = bands.select("band", "bv", F.col("simhash").alias("sh_b"))
    return (
        va.join(vb, ["band", "bv"])
        .filter(F.col("sh_a") < F.col("sh_b"))
        .withColumn(
            "hamming",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).cast("int"),
        )
        .filter(F.col("hamming") <= k)
        # a value pair may agree on several bands — one row per pair
        .select("sh_a", "sh_b", "hamming")
        .distinct()
    )


def simhash_pairs(
    sh: DataFrame, k: int = 3, n_bands: int = 4, bits: int = 64
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ k via a banded join.

    r6: the join runs at the VALUE level, not the document level.  At
    sf1.0 the 16/4 contract shape has 50,000 docs but only 7,537
    distinct simhash values, and the old doc-level banded self-join
    generated ~312M candidate rows (then DISTINCT over the 158.8M
    survivors).  Now: distinct values → banded value self-join (~7M
    candidates) → hamming filter → qualifying value pairs, expanded to
    doc pairs by exploding the two values' sorted doc lists (cross
    pairs, least/greatest keeps doc_a < doc_b) plus the within-value
    combinatorics at hamming 0.  Every unordered doc pair maps to
    exactly ONE value pair (or one value), so the expansion emits each
    output row once and the 312M-row DISTINCT disappears.  Result is
    the identical pair multiset (oracle-verified; 158,801,452-row
    checksum equality at sf1.0).  The DEFAULT remains the production
    shape: 64-bit hashes in 16-bit bands — there values are near-unique
    and this reduces to the old plan plus a cheap group step.

    Scale caveat (same one the minhash posting lists carry): one row
    holds one VALUE's doc list; a mass-duplicate corpus concentrates a
    value — run exact dedup first, as pipelines do.  The old doc-level
    join degraded on the same corpus quadratically inside one join key.
    """
    if k >= n_bands:
        # the pigeonhole guarantee needs k < n_bands: at k == n_bands a
        # pair can differ by one bit in EVERY band and never join —
        # silently missing qualifying pairs is worse than refusing
        raise ValueError(f"simhash_pairs requires k < n_bands (got k={k}, n_bands={n_bands})")
    groups = sh.groupBy("simhash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("docs")
    )
    vpairs = _simhash_value_pairs(groups.select("simhash"), k, n_bands, bits)
    ga = groups.select(F.col("simhash").alias("sh_a"), F.col("docs").alias("docs_a"))
    gb = groups.select(F.col("simhash").alias("sh_b"), F.col("docs").alias("docs_b"))
    cross = (
        vpairs.join(ga, "sh_a")
        .join(gb, "sh_b")
        .select("hamming", F.explode("docs_a").alias("da"), "docs_b")
        .select("hamming", "da", F.explode("docs_b").alias("db"))
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    same = (
        groups.filter(F.size("docs") >= 2)
        .select(F.posexplode("docs").alias("i", "doc_a"), "docs")
        .select(
            "doc_a",
            F.explode(F.slice("docs", F.col("i") + 2, F.size("docs"))).alias("doc_b"),
        )
        .withColumn("hamming", F.lit(0).cast("int"))
    )
    return cross.unionByName(same.select("doc_a", "doc_b", "hamming"))


_SIMHASH_PAIRS_ORACLE = f"""
WITH sh AS (SELECT * FROM ({_SIMHASH_ORACLE}) q),
bands AS (
  SELECT doc_id, simhash, b AS band, (simhash >> (b * 4)) & 15 AS bv
  FROM sh, unnest(generate_series(0, 3)) AS u(b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


def dedup_simhash_pairs(spark: SparkSession, sf: str) -> DataFrame:
    # the value-grouped pair generation consumes the simhash frame
    # twice (groups + values); persist the tiny (doc_id, simhash) result
    # so the explode+double-agg pipeline runs once. Freed on the next
    # call via the session janitor.
    drain_persisted()
    sh = dedup_simhash(spark, sf).persist(StorageLevel.MEMORY_AND_DISK)
    keep_persisted(sh)
    return simhash_pairs(sh, bits=16)


# ---------------------------------------------------------------------------
def dup_spans(
    docs: DataFrame, k: int = 8, min_count: int = 2, keep_first: bool = False
) -> DataFrame:
    """Exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better", §ExactSubstr): find every
    maximal TOKEN RANGE covered by k-token windows that occur
    ``min_count``+ times across the corpus — the spans a pretraining
    pipeline cuts out of documents rather than dropping whole docs.

    Input: (doc_id, text). Output: (doc_id, span_start, span_end,
    n_windows) with [span_start, span_end) in token positions, spans
    maximal (adjacent/overlapping duplicated windows merged).

    Scale shape: windows explode to one row per token position; the
    occurrence count is a map-side-combined hash-agg on xxhash64 —
    uniform keys, no text in the shuffle (the window string itself
    never leaves the row). The marked positions come back via an
    equi-join on the hash (the count table is duplicated-windows only —
    tiny vs the corpus by construction), and the island merge is a
    per-doc window function whose partition is bounded by document
    length. Hash collisions (~n²/2⁶⁴) can only over-mark a window —
    acceptable for a cut list; use the window text as the key if
    exactness is required.
    """
    toks = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= k
    )
    wins = toks.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("w") - k),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice("w", i + 1, k))),
            )
        ).alias("pos", "h"),
    )
    # the min-struct canonical-occurrence aggregate rides the hottest
    # groupBy only when keep_first needs it — the default span-list path
    # must not carry dead agg state through the corpus-wide shuffle
    aggs = [F.count("*").alias("cnt")]
    if keep_first:
        aggs.append(F.min(F.struct("doc_id", "pos")).alias("first"))
    dup_h = (
        wins.groupBy("h").agg(*aggs).filter(F.col("cnt") >= min_count).drop("cnt")
    )
    marked = wins.join(dup_h, "h")
    if keep_first:
        # ``keep_first`` spares each window's canonical occurrence (min
        # (doc_id, pos)) — the cut-list variant: remove every repeat,
        # keep one copy in the corpus (Lee et al. §ExactSubstr cut rule)
        marked = marked.filter(
            ~(
                (F.col("doc_id") == F.col("first.doc_id"))
                & (F.col("pos") == F.col("first.pos"))
            )
        )
    marked = marked.select("doc_id", "pos")
    # gaps-and-islands: a new span starts where this window begins past
    # every previous window's end (running max of pos+k, exclusive)
    w_doc = W.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + k).over(
        w_doc.rowsBetween(W.unboundedPreceding, -1)
    )
    islands = marked.withColumn(
        "new_span", (prev_end.isNull() | (F.col("pos") > prev_end)).cast("int")
    ).withColumn(
        "span_id", F.sum("new_span").over(w_doc.rowsBetween(W.unboundedPreceding, 0))
    )
    return (
        islands.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k).alias("span_end"),
            F.count("*").alias("n_windows"),
        )
        .drop("span_id")
    )


def dedup_substring(spark: SparkSession, sf: str) -> DataFrame:
    """Contract wrapper: duplicated ≥8-token spans over `documents`.
    Rows-only: the gaps-and-islands merge needs running-max window
    semantics DuckDB states differently enough that the hash layer
    (xxhash64) has no portable twin; semantics are pinned by the
    pure-Python mirror test instead."""
    return dup_spans(load_split(spark, sf, "documents"), k=8)


def substring_cut(docs: DataFrame, k: int = 8, min_count: int = 2) -> DataFrame:
    """Apply the ExactSubstr CUT: remove every duplicated k-token span
    except each window's canonical first occurrence (min (doc_id, pos)).

    Guarantee is PER WINDOW, not per region: when distinct duplicated
    windows overlap, a doc can hold window A's canonical copy while an
    overlapping non-canonical window B marks some of the same tokens —
    those tokens are cut, partially mutilating A's spared copy (Lee et
    al.'s reference cutter has the same property; guaranteeing intact
    survivors for overlapping duplicates requires region-level
    canonicalization, a different algorithm). Non-overlapping duplicated
    substrings DO keep exactly one intact copy in the corpus.

    Output: (doc_id, cut_text, n_cut_tokens). The span list per doc is
    bounded by document length (collect_list is safe), and the cut
    itself is row-local array work: tokens whose position falls inside
    any of the doc's spans are dropped with a two-arg filter lambda —
    no UDF, no extra shuffle beyond dup_spans' own aggregations."""
    spans = dup_spans(docs, k=k, min_count=min_count, keep_first=True)
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("spans")
    )
    toks = F.split("text", " ")
    kept = F.filter(
        toks,
        lambda tok, i: ~F.exists(
            "spans", lambda sp: (i >= sp["span_start"]) & (i < sp["span_end"])
        ),
    )
    return docs.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.when(F.col("spans").isNull(), F.col("text"))
        .otherwise(F.concat_ws(" ", kept))
        .alias("cut_text"),
        F.when(F.col("spans").isNull(), F.lit(0))
        .otherwise(F.size(toks) - F.size(kept))
        .cast("long")
        .alias("n_cut_tokens"),
    )


# ---------------------------------------------------------------------------
def connected_components(
    nodes: DataFrame, edges: DataFrame, max_iter: int = 50
) -> DataFrame:
    """Min-label connected components over an undirected edge list —
    the cluster-assignment step after any near-dup pair generator
    (pairs → components → one canonical doc per component).

    ``nodes``: one column ``id``; ``edges``: columns ``a``, ``b``.
    Returns (id, component) with component = min node id reachable.

    Algorithm: iterative min-label propagation PLUS a pointer-jumping
    shortcut (label ← label(label)) per round, so convergence is
    O(log diameter) rounds, not O(diameter) — the difference between 5
    and 500 jobs on a chain-shaped cluster. Each round is two shuffles
    keyed on node/label ids (uniform hash keys, map-side combinable
    min-aggs); the edge list is persisted once and reused. Lineage is
    truncated with localCheckpoint every round — an executor loss
    restarts the algorithm, the standard trade for iterative graph jobs
    (GraphFrames/GraphX checkpoint the same way; a production run points
    the checkpoint dir at reliable storage).
    """
    # r6: hash-partition the symmetric edge list by the join key BEFORE
    # persisting — the cached relation keeps its outputPartitioning, so
    # every round's edges⨝labels join only exchanges the (tiny) label
    # side instead of re-shuffling the full edge list per round
    # (guide §2.4: operations keyed the same way share one exchange).
    sym = (
        edges.select("a", "b")
        .unionAll(edges.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .repartition(F.col("a"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    labels = nodes.select(F.col("id"), F.col("id").alias("label"))
    for _ in range(max_iter):
        nmin = (
            sym.join(labels.withColumnRenamed("id", "a"), "a")
            .groupBy(F.col("b").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        nxt = (
            labels.join(nmin, "id", "left")
            .select(
                "id",
                F.col("label").alias("_old"),
                F.least("label", "nmin").alias("label"),
            )
        )
        # pointer jump: follow the label one hop (label is itself a node
        # id, and labels only ever decrease — composing is safe)
        hop = labels.select(
            F.col("id").alias("label"), F.col("label").alias("hop_label")
        )
        nxt = nxt.join(hop, "label", "left").select(
            "id",
            F.least("label", "hop_label").alias("label"),
            "_old",
        )
        # r6: the convergence check rides the SAME checkpointed frame —
        # labels are monotonically non-increasing, so changed ⟺ any
        # label < its previous value; the old shape re-joined nxt with
        # labels (one extra join + shuffle per round) just to compare
        nxt = nxt.withColumn("_chg", F.col("label") < F.col("_old")).drop("_old")
        nxt = nxt.localCheckpoint(eager=True)
        changed = nxt.filter(F.col("_chg")).limit(1).count()
        labels = nxt.drop("_chg")
        if not changed:
            break
    sym.unpersist()
    return labels.select("id", F.col("label").alias("component"))


def dedup_clusters(spark: SparkSession, sf: str) -> DataFrame:
    """Near-dup CLUSTERS: simhash hamming≤k pairs (the 16/4 contract
    shape — same edge set the `dedup_simhash_pairs` oracle states) fed
    through connected components; every document gets its component's
    min doc_id as cluster_id and the canonical flag a dedup pipeline
    keeps. Singletons are their own cluster, so rows == n_docs.

    r6: the graph is CONTRACTED before the iterative CC.  Documents with
    the same simhash form a hamming-0 clique (every within-group pair is
    in the oracle's edge set), so each value group collapses to its
    min-doc_id representative, CC runs on value-level edges (7,537 nodes
    at sf1.0 instead of 50,000 nodes / 158.8M edges), and the component
    label broadcasts back over the docs.  Equivalence: a cross-group doc
    edge exists iff its VALUE pair has hamming ≤ k, so contracted
    connectivity equals doc-level connectivity; each rep is its group's
    min doc_id, so the min-label over reps IS the min doc_id of the
    component.  Measured interleaved at sf1.0: 102s → 14.8s, identical
    rows (oracle at sf0.001/0.01 + count/checksum equality at sf0.1 and
    sf1.0).  The rep/component tables are ≤ 2^bits rows (the
    16-bit contract shape caps them at 65,536) — always broadcastable."""
    drain_persisted()
    sh = dedup_simhash(spark, sf).persist(StorageLevel.MEMORY_AND_DISK)
    keep_persisted(sh)
    g = sh.groupBy("simhash").agg(F.min("doc_id").alias("rep"))
    vp = _simhash_value_pairs(g.select("simhash"), k=3, n_bands=4, bits=16)
    edges = (
        vp.join(g.select(F.col("simhash").alias("sh_a"), F.col("rep").alias("a")), "sh_a")
        .join(g.select(F.col("simhash").alias("sh_b"), F.col("rep").alias("b")), "sh_b")
        .select("a", "b")
    )
    comp = connected_components(g.select(F.col("rep").alias("id")), edges)
    mapped = (
        sh.join(F.broadcast(g), "simhash")
        .join(F.broadcast(comp.withColumnRenamed("id", "rep")), "rep")
        .select("doc_id", "component")
    )
    # left join back over documents: a doc with no tokens never reaches
    # the simhash table and stays its own singleton cluster (matches the
    # oracle's reach seeded from ALL documents)
    nodes = load(spark, sf, "documents").select("doc_id")
    return nodes.join(mapped, "doc_id", "left").select(
        "doc_id",
        F.coalesce("component", F.col("doc_id")).cast("long").alias("cluster_id"),
        (F.coalesce("component", F.col("doc_id")) == F.col("doc_id")).alias(
            "is_canonical"
        ),
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE
pairs AS ({_SIMHASH_PAIRS_ORACLE}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b AS a, doc_a AS b FROM pairs),
reach(doc, r) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.doc)
SELECT doc AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
       (min(r) = doc) AS is_canonical
FROM reach GROUP BY doc
"""


QUERIES.update(
    {
        "dedup_exact": dedup_exact,
        "dedup_ngram_jaccard": dedup_ngram_jaccard,
        "dedup_minhash_lsh": dedup_minhash_lsh,
        "dedup_simhash": dedup_simhash,
        "dedup_simhash_pairs": dedup_simhash_pairs,
        "dedup_clusters": dedup_clusters,
        # rows-only: xxhash64 window keys have no DuckDB twin; pinned by
        # the pure-Python mirror test (tests/test_training_ops.py)
        "dedup_substring": dedup_substring,
    }
)
ORACLES.update(
    {
        "dedup_exact": _EXACT_ORACLE,
        "dedup_ngram_jaccard": _NGRAM_ORACLE,
        "dedup_minhash_lsh": _MINHASH_ORACLE,
        "dedup_simhash": _SIMHASH_ORACLE,
        "dedup_simhash_pairs": _SIMHASH_PAIRS_ORACLE,
        "dedup_clusters": _CLUSTERS_ORACLE,
    }
)
