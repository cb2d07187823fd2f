"""SparkSession factory tuned for this engine.

Local mode is the sandbox stand-in for a multi-executor cluster; every
config here is chosen to also be the right default on a 1000-executor
cluster reading 100 TB (AQE on, skew-join on, Arrow on, explicit shuffle
parallelism rather than the 200 default).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "ecc_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` controls ``local[N]`` — the sandbox proxy for executor count
    (the N vs 4N scaling evidence in BENCH/BASELINE.md varies exactly this).
    ``shuffle_partitions`` defaults to ``2 * cpus``: enough waves to smooth
    stragglers without tiny-partition overhead. On a real cluster this knob
    scales with total cores; AQE coalesces the excess at runtime.
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    builder = SparkSession.builder
    if os.environ.get("SPARK_GRAFT_CLUSTER") != "1":
        # local sandbox default; under spark-submit on a real cluster set
        # SPARK_GRAFT_CLUSTER=1 so --master from the submit wins
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # UDF-heavy engine: AQE coalesces post-shuffle partitions by BYTE
        # size and cannot see per-row Python cost — the default 64 MB
        # advisory funnels pandas-UDF stages into 1-2 tasks. 16 MB keeps
        # them wide while still coalescing pathological tiny partitions.
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        # Guide §3.1/§9: allow the planner to pick a shuffled hash join
        # where its size conditions hold instead of always sort-merge —
        # no sort on either side.  Measured at sf1.0: tpch_q3 2.18→1.93s,
        # bucketed_join 0.43→0.34s, never slower.  AQE's skew-join
        # splitting (enabled above) covers shuffled-hash joins too, and
        # the planner still falls back to SMJ when a build side is too
        # big to hash — the safe default at any scale.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # Input split size stays at the Spark default (128m): the local
        # testdata is row-group-bound anyway (load_split covers the
        # compute-heavy scans) and 16m splits measured slightly SLOWER
        # on the shuffle-bound lineitem queries. On a 100 TB cluster
        # raise via SPARK_GRAFT_MAX_PARTITION_BYTES (guide §6).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches amortize the Python-worker round trip for the
        # pandas-UDF extraction stage (SURVEY.md §4 scaling bottleneck #1)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        # shuffle/spill to tmpfs: local mode shares one disk, which
        # otherwise becomes the non-scaling resource as parallelism grows
        .config("spark.local.dir", os.environ.get("SPARK_LOCAL_DIRS", "/dev/shm/spark-local"))
        .config("spark.sql.warehouse.dir", "/dev/shm/spark-warehouse")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()


# the persist janitor: frames the previous operator call persisted,
# which its lazy result gives callers no handle to unpersist
_PERSISTED: list = []


def drain_persisted() -> None:
    """Release every frame the previous operator call persisted.

    Single-in-flight contract: every persisting operator (the dedup
    family, dsir, quality, corpus_ops, warc, similarity's k-means
    trainers and ``build_matches``) calls this first, so any operator
    call releases the frames the previous operator call persisted. The
    process holds at most one call's cache. Results never change: a
    frame still in use by an earlier call's lazy result is recomputed
    from its lineage, never read wrong.

    A frame whose SparkContext has been stopped is dropped without an
    unpersist: its cache died with that context, and unpersisting through
    it fails in the JVM (a NullPointerException from the stopped block
    manager). This keeps the janitor working after a session restart.
    """
    while _PERSISTED:
        df = _PERSISTED.pop()
        if df.sparkSession.sparkContext._jsc is not None:
            df.unpersist(False)


def keep_persisted(*frames: DataFrame) -> None:
    """Hand already-persisted frames to the janitor: the next
    ``drain_persisted`` call releases them."""
    _PERSISTED.extend(frames)
