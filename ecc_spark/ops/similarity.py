"""Similarity search over the embeddings table (★ oracles).

- ann_topk_cosine: brute-force cosine top-k — the exact baseline. The
  (small) query set is broadcast against the candidate scan, so the plan
  is one narrow pass over candidates + a per-query top-k window: linear
  in corpus size, no shuffle of the big side.
- ann_ivf_bucketed: the scale path — IVF-style coarse quantization. The
  `label` column stands in for a k-means cell assignment; search touches
  only the query's cell (join on label), cutting the scanned fraction to
  ~1/n_cells. Same shape as FAISS IVF-Flat, expressed relationally.
- embedding_near_dup: cosine ≥ τ near-duplicate pairs within a cell.

All float math is double-precision with a fixed fold order (zip_with →
left-fold aggregate in Spark; index comprehension → list_sum in DuckDB),
rounded to 6 dp in the output; ordering ties break on vec_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ecc_spark.ops.tables import load, load_split
from ecc_spark.session import drain_persisted, keep_persisted

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def _dot(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: str) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


_DOT_SQL = "list_sum([CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE) for i in generate_series(1, len(q.embedding))])"
_NORM_SQL = "sqrt(list_sum([CAST({t}.embedding[i] AS DOUBLE) * CAST({t}.embedding[i] AS DOUBLE) for i in generate_series(1, len({t}.embedding))]))"

_TOPK_ORACLE = f"""
WITH sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL} / ({_NORM_SQL.format(t='q')} * {_NORM_SQL.format(t='c')}) AS sim
  FROM embeddings q JOIN embeddings c ON q.vec_id < 5 AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ROUND(sim, 6) DESC, neighbor_id) AS rank
  FROM sims) WHERE rank <= 5
"""


def ann_topk_cosine(spark: SparkSession, sf: str) -> DataFrame:
    e = load_split(spark, sf, "embeddings")
    # r6: norms are computed ONCE PER VECTOR here instead of once per
    # (query, candidate) pair — _norm is an interpreted higher-order fold,
    # and evaluating it per pair multiplied its cost by the candidate
    # count. Same double value (the fold is deterministic per vector), so
    # sim is bit-identical.
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_n"),
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_n"),
    )
    j = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    sims = j.select(
        "query_id",
        "neighbor_id",
        (_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n"))).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.round("sim", 6).desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rank")
    )


_IVF_ORACLE = f"""
WITH sims AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL} / ({_NORM_SQL.format(t='q')} * {_NORM_SQL.format(t='c')}) AS sim
  FROM embeddings q JOIN embeddings c
    ON q.label = c.label AND q.vec_id < 20 AND c.vec_id != q.vec_id
)
SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ROUND(sim, 6) DESC, neighbor_id) AS rank
  FROM sims) WHERE rank <= 5
"""


def ann_ivf_bucketed(spark: SparkSession, sf: str) -> DataFrame:
    e = load_split(spark, sf, "embeddings")
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_n"),  # r6: per-vector, not per-pair
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_n"),
    )
    # equi-join on the IVF cell — candidates shrink to the query's cell;
    # at scale this is THE difference between O(n) and O(n/cells) per query
    j = c.join(F.broadcast(q), ["cell"]).filter(F.col("neighbor_id") != F.col("query_id"))
    sims = j.select(
        "query_id",
        "neighbor_id",
        (_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n"))).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.round("sim", 6).desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rank")
    )


_NEARDUP_ORACLE = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_DOT_SQL.replace('q.', 'a.').replace('c.', 'b.')}
             / ({_NORM_SQL.format(t='a')} * {_NORM_SQL.format(t='b')}), 6) AS cosine
FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_DOT_SQL.replace('q.', 'a.').replace('c.', 'b.')}
      / ({_NORM_SQL.format(t='a')} * {_NORM_SQL.format(t='b')}) >= 0.3
"""


def near_dup_pairs(
    emb: DataFrame,
    threshold: float,
    n_blocks: int = 1,
    *,
    id_col: str = "vec_id",
    cell_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-cell cosine-≥-threshold pairs with HOT-CELL parallelism.

    n_blocks=1 is the plain cell self-join: correct, but a cell with m
    members generates its m² candidate pairs inside ONE join task (the
    join key is the cell), so one viral near-dup cluster stalls its
    task at 100 TB.  n_blocks=s splits every cell into s hash blocks
    and joins on (cell, block_i, block_j) with the TRIANGULAR
    replication scheme: a row in block x enters the left side under
    keys (x, x..s-1) and the right side under keys (0..x, x), so every
    unordered block pair — and therefore every vector pair — meets
    exactly once, while per-task work drops to (m/s)² across s(s+1)/2
    independently-scheduled keys.  Replication cost: each vector is
    copied (s+1)/2 times on each side — the classic all-pairs
    block-partition trade (and what AQE's mapper-range skew split
    cannot do by itself when one KEY is hot on both sides).

    Output (vec_a < vec_b, cosine rounded to 6 dp) is IDENTICAL for any
    n_blocks — the contract query runs n_blocks=4 against the naive SQL
    oracle to pin exactly that.
    """
    if n_blocks < 1:
        raise ValueError(f"n_blocks must be >= 1, got {n_blocks}")
    # r6: per-vector norms computed BEFORE the block replication — each
    # replica carries its norm, and the per-pair interpreted work drops
    # from (dot + 2 norms) to just the dot. Bit-identical sims.
    a = emb.select(
        F.col(id_col).alias("vec_a"),
        F.col(cell_col).alias("cell"),
        F.col(vec_col).alias("a_emb"),
        _norm(vec_col).alias("a_n"),
    )
    b = emb.select(
        F.col(id_col).alias("vec_b"),
        F.col(cell_col).alias("cell"),
        F.col(vec_col).alias("b_emb"),
        _norm(vec_col).alias("b_n"),
    )
    if n_blocks == 1:
        j = a.join(b, ["cell"]).filter(F.col("vec_a") < F.col("vec_b"))
    else:
        s = n_blocks
        blk_a = F.pmod(F.xxhash64("vec_a"), F.lit(s)).cast("int")
        blk_b = F.pmod(F.xxhash64("vec_b"), F.lit(s)).cast("int")
        left = a.withColumn("bi", blk_a).withColumn(
            "bj", F.explode(F.sequence("bi", F.lit(s - 1)))
        )
        right = b.withColumn("bj", blk_b).withColumn(
            "bi", F.explode(F.sequence(F.lit(0), "bj"))
        )
        j = left.join(right, ["cell", "bi", "bj"]).filter(
            # same-block keys match both orderings (and self-pairs):
            # canonicalize there; cross-block pairs meet exactly once
            (F.col("bi") != F.col("bj")) | (F.col("vec_a") < F.col("vec_b"))
        )
    sims = j.select(
        F.least("vec_a", "vec_b").alias("vec_a"),
        F.greatest("vec_a", "vec_b").alias("vec_b"),
        # try_divide: a zero-norm vector (e.g. a zero-token doc out of
        # tfidf_vectors) has undefined cosine — NULL, filtered by the
        # threshold — instead of an ANSI DIVIDE_BY_ZERO abort; values
        # for non-zero vectors are bit-identical to plain division
        F.try_divide(
            _dot("a_emb", "b_emb"), F.col("a_n") * F.col("b_n")
        ).alias("sim"),
    ).filter(F.col("sim") >= threshold)
    return sims.select("vec_a", "vec_b", F.round("sim", 6).alias("cosine"))


def embedding_near_dup(spark: SparkSession, sf: str) -> DataFrame:
    """Embedding-cosine near-dup: within-cell pairs with cosine ≥ 0.3 (p99 of the synthetic corpus; production corpora use ~0.95).
    Cell bucketing bounds the pair count (the dedup analog of IVF);
    n_blocks=4 triangular blocking proves the hot-cell-parallel plan
    returns exactly the naive oracle's pairs."""
    e = load_split(spark, sf, "embeddings")
    return near_dup_pairs(e, threshold=0.3, n_blocks=4)


_NPROBE = 2

_MP_ORACLE = f"""
WITH cent AS (
  SELECT label, list(ROUND(m, 6) ORDER BY i) AS centroid FROM (
    SELECT label, i, avg(CAST(embedding[i] AS DOUBLE)) AS m
    FROM embeddings, generate_series(1, 64) AS t(i)
    GROUP BY label, i) GROUP BY label
),
q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 20),
cellrank AS (
  SELECT query_id, label FROM (
    SELECT q.query_id, cent.label,
           ROW_NUMBER() OVER (
             PARTITION BY q.query_id
             ORDER BY ROUND(
               list_sum([CAST(q.embedding[i] AS DOUBLE) * centroid[i]
                         for i in generate_series(1, 64)])
               / ({_NORM_SQL.format(t='q')}
                  * sqrt(list_sum([centroid[i] * centroid[i]
                                   for i in generate_series(1, 64)]))), 6) DESC,
               cent.label) AS rnk
    FROM q, cent) WHERE rnk <= {_NPROBE}
),
sims AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         {_DOT_SQL} / ({_NORM_SQL.format(t='q')} * {_NORM_SQL.format(t='c')}) AS sim
  FROM q
  JOIN cellrank cr ON cr.query_id = q.query_id
  JOIN embeddings c ON c.label = cr.label AND c.vec_id != q.query_id
)
SELECT query_id, neighbor_id, ROUND(sim, 6) AS cosine, rank FROM (
  SELECT query_id, neighbor_id, sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ROUND(sim, 6) DESC, neighbor_id) AS rank
  FROM sims) WHERE rank <= 5
"""


def ann_ivf_multiprobe(spark: SparkSession, sf: str, nprobe: int = _NPROBE) -> DataFrame:
    """IVF with TRAINED centroids and multi-probe: per-cell centroids are
    computed from the data (posexplode → (label, pos) avg — the k-means
    'assignment step' output FAISS IVF trains offline), each query ranks
    cells by centroid cosine and probes the top nprobe — recall recovers
    for queries near cell boundaries, cost stays nprobe/cells of a scan.

    Scale shape: the centroid table is n_cells×dim (tiny → broadcast);
    cell ranking is a broadcast nested-loop over n_cells per query; only
    the probed cells' candidates are scanned. Centroid components are
    rounded to 6 dp BEFORE use so the probe choice is reproducible
    across engines (float-sum order in avg differs between Spark
    partial aggregates and the sequential oracle)."""
    e = load_split(spark, sf, "embeddings")
    cent = (
        e.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "label", F.transform("pm", lambda s: F.round(s["m"], 6)).alias("centroid")
        )
    )
    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_n"),  # r6: per-vector, not per-pair
    )
    qc = q.crossJoin(F.broadcast(cent))
    cell_sim = _dot("q_emb", "centroid") / (F.col("q_n") * _norm("centroid"))
    wc = W.partitionBy("query_id").orderBy(F.round(cell_sim, 6).desc(), "label")
    probed = (
        qc.withColumn("rnk", F.row_number().over(wc))
        .filter(F.col("rnk") <= nprobe)
        .select("query_id", "q_emb", "q_n", F.col("label").alias("cell"))
    )
    c = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("cell"),
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_n"),
    )
    j = c.join(F.broadcast(probed), ["cell"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sims = j.select(
        "query_id",
        "neighbor_id",
        (_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n"))).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.round("sim", 6).desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rank")
    )


# -- Lloyd-trained IVF (production training path) ----------------------


def _assign_cells(vecs: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: broadcast the (cell, centroid) table,
    rank by rounded cosine (6 dp, ties on cell) — deterministic across
    engines and partitionings."""
    # r6: norms once per vector / per centroid instead of per (vec, cell)
    # pair — the interpreted fold dominated the n×k assignment stage of
    # every Lloyd iteration. Bit-identical sims.
    v = vecs.withColumn("_vn", _norm("embedding"))
    ct = cent.withColumn("_cn", _norm("centroid"))
    sim = _dot("embedding", "centroid") / (F.col("_vn") * F.col("_cn"))
    w = W.partitionBy("vec_id").orderBy(F.round(sim, 6).desc(), "cell")
    return (
        v.crossJoin(F.broadcast(ct))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("vec_id", "embedding", "cell")
    )


def _mean_centroids(assigned: DataFrame) -> DataFrame:
    """Per-cell per-dimension mean, rounded to 6 dp before use so the
    next assignment is reproducible (float-sum order differs between
    partial aggregates and any sequential re-check)."""
    return (
        assigned.select("cell", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("cell", "pos")
        .agg(F.avg(F.col("v").cast("double")).alias("m"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("cell", F.transform("pm", lambda s: F.round(s["m"], 6)).alias("centroid"))
    )


def kmeans_lloyd(
    e: DataFrame, k: int = 8, n_iter: int = 2
) -> tuple[DataFrame, DataFrame]:
    """Actual Lloyd iterations for IVF training: seed from the k
    lowest-vec_id vectors, then assign → re-average ``n_iter`` times,
    then a final reassign so cells are consistent with the returned
    centroids. Returns (centroids(cell, centroid), assign(vec_id, cell)).

    Scale shape per iteration: one broadcast nested-loop assignment (n×k
    rows, narrow) + one (cell, pos)-keyed hash-agg — both map-side
    combinable, no shuffle carries embeddings twice. The centroid table
    is k×dim (tiny) and is the only thing that crosses iterations, so
    ``n_iter`` is a pure wall-clock knob, not a memory one. Production
    would swap the first-k seed for k-means||; the iteration body is the
    same.
    """
    drain_persisted()
    vecs = e.select("vec_id", "embedding")
    seed = (
        vecs.orderBy("vec_id")
        .limit(k)
        .select(
            F.row_number().over(W.orderBy("vec_id")).alias("cell"),
            F.transform("embedding", lambda x: F.round(x.cast("double"), 6)).alias(
                "centroid"
            ),
        )
    )
    cent = seed.persist()
    for _ in range(n_iter):
        nxt = _mean_centroids(_assign_cells(vecs, cent)).persist()
        nxt.count()  # materialize before dropping the previous centroids
        cent.unpersist()
        cent = nxt
    # the final centroid table stays persisted (the returned lazy
    # assignment and the caller's search both consume it repeatedly);
    # the next persisting operator call frees it via the janitor
    keep_persisted(cent)
    assigned = _assign_cells(vecs, cent).select("vec_id", "cell")
    return cent, assigned


def ann_ivf_lloyd(
    spark: SparkSession,
    sf: str,
    nprobe: int = _NPROBE,
    k: int = 8,
    n_iter: int = 2,
) -> DataFrame:
    """Multi-probe IVF over Lloyd-TRAINED cells (the production path;
    `ann_ivf_multiprobe` keeps the label-cell contract so its DuckDB
    oracle stays expressible). Same search shape: broadcast centroids →
    rank cells per query → probe top ``nprobe`` → per-query top-5."""
    e = load_split(spark, sf, "embeddings")
    cent, assigned = kmeans_lloyd(e, k=k, n_iter=n_iter)
    ec = e.join(assigned, "vec_id")  # (vec_id, embedding, cell)
    q = ec.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _norm("embedding").alias("q_n"),  # r6: per-vector, not per-pair
    )
    cell_sim = _dot("q_emb", "centroid") / (F.col("q_n") * _norm("centroid"))
    wc = W.partitionBy("query_id").orderBy(F.round(cell_sim, 6).desc(), "cell")
    probed = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("rnk", F.row_number().over(wc))
        .filter(F.col("rnk") <= nprobe)
        .select("query_id", "q_emb", "q_n", "cell")
    )
    c = ec.select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("embedding").alias("c_emb"),
        _norm("embedding").alias("c_n"),
    )
    j = c.join(F.broadcast(probed), ["cell"]).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    sims = j.select(
        "query_id",
        "neighbor_id",
        (_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n"))).alias("sim"),
    )
    w = W.partitionBy("query_id").orderBy(F.round("sim", 6).desc(), "neighbor_id")
    return (
        sims.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 6).alias("cosine"), "rank")
    )


# -- Product quantization (IVF-PQ style ADC search) --------------------


def _subvectors(df: DataFrame, id_col: str, m: int) -> DataFrame:
    """Explode each embedding into its m equal subvectors, 6-dp-rounded:
    (id_col, sub_j, sv). ONE definition shared by training, encoding and
    query-LUT construction — the three must quantize identically or ADC
    distances silently corrupt. Refuses a dimension not divisible by m
    (a floor split would silently drop the trailing dims from every
    distance)."""
    dim = len(df.select("embedding").first()["embedding"])
    if dim % m:
        raise ValueError(f"embedding dim {dim} is not divisible by m={m}")
    sub_len = dim // m
    return df.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(m - 1)),
                lambda j: F.struct(
                    j.alias("sub_j"),
                    F.transform(
                        F.slice("embedding", j * sub_len + 1, sub_len),
                        lambda x: F.round(x.cast("double"), 6),
                    ).alias("sv"),
                ),
            )
        ).alias("s"),
    ).select(id_col, "s.sub_j", "s.sv")


def _sq_dist(a: str, b: str) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _pq_assign(sub: DataFrame, cent: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Nearest codebook cell per (vector, subspace): broadcast the
    codebooks, rank by rounded squared distance (ties on cell)."""
    w = W.partitionBy(id_col, "sub_j").orderBy(
        F.round(_sq_dist("sv", "centroid"), 6), "cell"
    )
    return (
        sub.join(F.broadcast(cent), "sub_j")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(id_col, "sub_j", "sv", "cell")
    )


def pq_train(
    e: DataFrame, m: int = 8, k: int = 16, n_iter: int = 2
) -> DataFrame:
    """Train product-quantization codebooks: split each vector into
    ``m`` equal subvectors and run k-means with ``k`` centroids in EVERY
    subspace — all subspaces train in the same jobs (the frame is keyed
    by (sub_j, vec_id), so one assignment join and one re-average agg
    per Lloyd iteration cover all m codebooks at once; iteration count
    does not scale with m). Returns (sub_j, cell, centroid).

    At 100 TB this is the memory-bound ANN path: a 64-d float vector
    (256 B) compresses to m=8 code bytes, so the candidate scan reads
    ~30x less and the full corpus's codes fit where raw vectors cannot
    (FAISS IVFPQ's layout, expressed relationally)."""
    drain_persisted()
    sub = _subvectors(e, "vec_id", m)

    def reaverage(assigned: DataFrame) -> DataFrame:
        return (
            assigned.select("sub_j", "cell", F.posexplode("sv").alias("pos", "v"))
            .groupBy("sub_j", "cell", "pos")
            .agg(F.avg("v").alias("mval"))
            .groupBy("sub_j", "cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "mval"))).alias("pm"))
            .select(
                "sub_j", "cell",
                F.transform("pm", lambda s: F.round(s["mval"], 6)).alias("centroid"),
            )
        )

    # seed from the k LOWEST vec_ids (not `vec_id < k`: ids may be
    # sparse or offset — kmeans_lloyd's convention)
    seed_ids = e.select("vec_id").orderBy("vec_id").limit(k).withColumn(
        "cell", F.row_number().over(W.orderBy("vec_id")).cast("int")
    )
    seed = sub.join(seed_ids, "vec_id").select(
        "sub_j", "cell", F.col("sv").alias("centroid")
    )
    cent = seed.persist()
    for _ in range(n_iter):
        nxt = reaverage(_pq_assign(sub, cent)).persist()
        nxt.count()
        cent.unpersist()
        cent = nxt
    keep_persisted(cent)
    return cent


def pq_encode(e: DataFrame, codebooks: DataFrame, m: int = 8) -> DataFrame:
    """(vec_id, codes array<int>): nearest codebook cell per subspace —
    the compressed representation the candidate scan stores."""
    best = _pq_assign(_subvectors(e, "vec_id", m), codebooks)
    return (
        best.groupBy("vec_id")
        .agg(F.array_sort(F.collect_list(F.struct("sub_j", "cell"))).alias("sc"))
        .select("vec_id", F.transform("sc", lambda s: s["cell"]).alias("codes"))
    )


def ann_pq_adc(
    spark: SparkSession, sf: str, m: int = 8, k_cells: int = 16, topk: int = 5
) -> DataFrame:
    """PQ + asymmetric distance computation: queries stay full-precision,
    candidates are their m code bytes; per query a (m × k) lookup table
    of subvector distances broadcasts and scoring is one row-local
    array fold over the codes — the scan reads codes only, never raw
    embeddings. Approximate by construction (codes quantize), so this is
    pinned by recall tests, not a value oracle."""
    e = load_split(spark, sf, "embeddings")
    books = pq_train(e, m=m, k=k_cells)
    codes = pq_encode(e, books, m=m)

    q = e.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    qsub = _subvectors(q, "query_id", m)
    # one flat (sub_j, cell)→distance MAP per query (not position-indexed
    # arrays: a Lloyd iteration can empty a cell, and a missing cell must
    # not shift its neighbors' indices)
    lut = (
        qsub.join(F.broadcast(books), "sub_j")
        .select(
            "query_id",
            (F.col("sub_j") * 100_000 + F.col("cell")).alias("jc"),
            F.round(_sq_dist("sv", "centroid"), 6).alias("d"),
        )
        .groupBy("query_id")
        .agg(F.map_from_entries(F.collect_list(F.struct("jc", "d"))).alias("lut"))
    )
    # ADC score: sum over subspaces of lut[j][code_j] — pure row-local
    scored = codes.crossJoin(F.broadcast(lut)).filter(
        F.col("vec_id") != F.col("query_id")
    )
    adc = F.aggregate(
        F.zip_with(
            "codes",
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at("lut", j * 100_000 + c),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = W.partitionBy("query_id").orderBy(F.round(adc, 6), "vec_id")
    return (
        scored.withColumn("adc_dist", F.round(adc, 6))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= topk)
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "adc_dist", "rank")
    )


def semantic_dedup(
    spark: SparkSession,
    sf: str,
    k: int = 8,
    n_iter: int = 2,
    tau: float = 0.95,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): k-means the embedding space, find cosine-similar
    pairs WITHIN each cluster only, group them into duplicate components,
    and keep one representative per component — the member FARTHEST from
    its cluster centroid (the paper's keep-low-centroid-similarity rule,
    which preserves the cluster's outer shell and drops its dense core).

    Scale shape (the whole point of the paper): the pairwise step is
    quadratic only within a k-means cell, never globally — clustering is
    the banding function here, exactly as LSH bands are for MinHash.
    Plan: Lloyd training (see kmeans_lloyd — broadcast assignments +
    tiny (cell,pos) aggs), one cell-keyed equi-join for pairs (shuffle
    carries embeddings once, keyed uniformly by cell), min-label
    connected components over the τ-edges (O(log d) rounds), then a
    component-keyed window for the representative. At 100 TB, k scales
    with corpus size to hold cell cardinality roughly constant, which
    bounds per-cell pair fan-out — same knob FAISS/SemDeDup use.

    Returns one row per vector: (vec_id, cell, cluster_id, keep) —
    ``keep`` marks the retained representative (singleton components are
    trivially kept), so ``filter(keep)`` is the deduplicated corpus.
    Rows-only ◦: Lloyd training is iterative (no DuckDB twin); pinned by
    the pure-Python mirror + structure tests in tests/test_training_ops.py.
    """
    from ecc_spark.ops.dedup import connected_components

    e = load_split(spark, sf, "embeddings")
    cent, assigned = kmeans_lloyd(e, k=k, n_iter=n_iter)
    ec = e.select("vec_id", "embedding").join(assigned.select("vec_id", "cell"), "vec_id")
    # pair generation through near_dup_pairs with triangular block-salting:
    # a viral duplicate cluster concentrated in ONE k-means cell — exactly
    # the SemDeDup scenario — no longer generates its m² candidates inside
    # a single join task.  Threshold algebra: the paper rule here is
    # round(sim,6) >= tau; near_dup_pairs filters UNROUNDED sim >= its
    # threshold and emits round(sim,6), so pre-filtering at tau-1e-6
    # (strictly below round-up distance 5e-7) then post-filtering the
    # rounded cosine at tau reproduces the original edge set exactly.
    edges = (
        near_dup_pairs(
            ec, threshold=tau - 1e-6, n_blocks=4,
            id_col="vec_id", cell_col="cell",
        )
        .filter(F.col("cosine") >= tau)
        .select(F.col("vec_a").alias("a"), F.col("vec_b").alias("b"))
    )
    comp = connected_components(ec.select(F.col("vec_id").alias("id")), edges)
    csim = _dot("embedding", "centroid") / (_norm("embedding") * _norm("centroid"))
    w = W.partitionBy("component").orderBy(F.round(csim, 6).asc(), "vec_id")
    return (
        ec.join(comp, ec.vec_id == comp.id)
        .join(F.broadcast(cent), "cell")
        .withColumn("rnk", F.row_number().over(w))
        .select(
            "vec_id",
            "cell",
            F.col("component").cast("long").alias("cluster_id"),
            (F.col("rnk") == 1).alias("keep"),
        )
    )


QUERIES.update(
    {
        "ann_topk_cosine": ann_topk_cosine,
        "ann_ivf_bucketed": ann_ivf_bucketed,
        "ann_ivf_multiprobe": ann_ivf_multiprobe,
        # rows-only: Lloyd training is iterative (non-SQL-expressible
        # without engine-matched float fold order across iterations);
        # semantics pinned by recall + nprobe=all≡brute-force tests
        "ann_ivf_lloyd": ann_ivf_lloyd,
        # rows-only: PQ quantization is approximate by construction —
        # pinned by exactness (k_cells >= n) and blob-recall tests
        "ann_pq_adc": ann_pq_adc,
        # rows-only: built on Lloyd training (iterative, no DuckDB twin);
        # pinned by the pure-Python mirror in tests/test_training_ops.py
        "semantic_dedup": semantic_dedup,
        "embedding_near_dup": embedding_near_dup,
    }
)
ORACLES.update(
    {
        "ann_topk_cosine": _TOPK_ORACLE,
        "ann_ivf_bucketed": _IVF_ORACLE,
        "ann_ivf_multiprobe": _MP_ORACLE,
        "embedding_near_dup": _NEARDUP_ORACLE,
    }
)
