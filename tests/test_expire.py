"""Recrawl-by-TTL (CrawlEngine.expire + SnapshotTable.replace): expired
URLs re-enter the live queue with no frontier write, the seen rewrite is
an atomic copy-on-write swap that preserves the exchange-free bucketed
queue-view plan, the bloom-prefiltered and the exact engine stay
output-identical through an expire, and resume after expire is consistent."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from ecc_spark import gen
from ecc_spark.crawl.frontier import CrawlEngine


def _mk_engine(spark, path, robots_df, **kw):
    kw.setdefault("host_budget", 8)
    kw.setdefault("n_salts", 4)
    kw.setdefault("max_depth", 2)
    kw.setdefault("bloom_buckets", 8)
    return CrawlEngine(spark, str(path), robots=robots_df, **kw)


@pytest.fixture(scope="module")
def setup(spark):
    urls = [u["url"] for u in gen.frontier_urls(400, n_hosts=25, seed=5)]
    robots = gen.robots_rules(n_hosts=25, seed=9)
    robots_df = spark.createDataFrame(
        robots, schema="host string, path_prefix string, allow boolean"
    )
    urls_df = spark.createDataFrame([(u,) for u in urls], schema="url string")
    return urls_df, robots_df


def test_expire_requeues_and_recrawls(spark, tmp_path, setup):
    urls_df, robots_df = setup
    eng = _mk_engine(spark, tmp_path / "e1", robots_df, use_bloom=True)
    eng.seed(urls_df)
    eng.run(2)

    seen_before = {
        (r["url"], r["wave"]) for r in eng.seen().select("url", "wave").collect()
    }
    wave0 = {u for u, w in seen_before if w == 0}
    wave1 = {u for u, w in seen_before if w == 1}
    assert wave0 and wave1

    queue_before = {r["url"] for r in eng.frontier().select("url").collect()}
    out = eng.expire(0)
    assert out["expired"] == len(wave0)
    assert out["kept"] == len(wave1)

    # the expired URLs are back in the live queue — no frontier write
    queue_after = {r["url"] for r in eng.frontier().select("url").collect()}
    assert queue_after == queue_before | wave0
    # seen() no longer contains them
    assert {
        r["url"] for r in eng.seen().select("url").collect()
    } == wave1
    assert eng.queued_rows() == len(queue_after)

    # the next wave re-fetches ONLY queued urls; everything it schedules
    # that isn't newly-discovered must come from the expired set
    res = eng.run(1)
    refetched = {
        r["url"]
        for r in eng.seen().select("url", "wave").collect()
        if r["wave"] == 2
    }
    assert refetched  # non-vacuous
    assert refetched <= queue_after
    assert refetched & wave0  # expired urls actually got recrawled
    # no url is double-seen
    seen_urls = [r["url"] for r in eng.seen().select("url").collect()]
    assert len(seen_urls) == len(set(seen_urls))
    assert res.total_scheduled == len(refetched)


def test_expire_noop_cases(spark, tmp_path, setup):
    urls_df, robots_df = setup
    eng = _mk_engine(spark, tmp_path / "e2", robots_df, use_bloom=False)
    eng.seed(urls_df)
    assert eng.expire(99) == {"expired": 0, "kept": 0, "filter": "none"}
    eng.run(1)
    n = eng.seen().count()
    out = eng.expire(-1)  # nothing that old
    assert out == {"expired": 0, "kept": n, "filter": "none"}
    assert eng.seen().count() == n


def test_expire_bloom_transports_vs_exact_identical(spark, tmp_path, setup):
    """The bloom, forced engaged from wave 0 (bloom_min_seen=0), and the
    exact engine (no prefilter), through the same expire: identical seen
    sets, schedules and expire counts. The bloom leg resets its delta
    table, leaves no dead delta on disk, and rebuilds via the t_bloom
    backfill branch."""
    urls_df, robots_df = setup
    results = {}
    configs = [
        ("bloom", {"use_bloom": "auto", "bloom_min_seen": 0}),
        ("exact", {"use_bloom": False}),
    ]
    for name, kw in configs:
        eng = _mk_engine(spark, tmp_path / f"f_{name}", robots_df, **kw)
        eng.seed(urls_df)
        eng.run(2)
        out = eng.expire(0)
        left = [d for d in os.listdir(eng.t_bloom.dir) if d.startswith("snap=")]
        assert not left, f"{name}: expire left dead bloom deltas {left}"
        res = eng.run(1)
        results[name] = {
            "expire": (out["expired"], out["kept"]),
            "filter": out["filter"],
            "seen": sorted(
                (r["url"], r["wave"])
                for r in eng.seen().select("url", "wave").collect()
            ),
            "scheduled": [w.scheduled for w in res.waves],
        }
    for key in ("seen", "scheduled", "expire"):
        assert results["bloom"][key] == results["exact"][key], key
    assert results["bloom"]["filter"] == "reset"
    assert results["exact"]["filter"] == "none"  # no prefilter to reset


def test_expire_preserves_bucketed_plan_and_resume(spark, tmp_path, setup):
    """After the copy-on-write seen swap: (a) the queue view is still an
    Exchange-free SortMergeJoin over two bucketed scans with broadcast
    disabled; (b) a resumed engine sees the post-expire state."""
    urls_df, robots_df = setup
    eng = _mk_engine(spark, tmp_path / "e3", robots_df, use_bloom=False)
    eng.seed(urls_df)
    eng.run(2)
    eng.expire(0)

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = eng.frontier()._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "Exchange" not in plan
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan

    queue = {r["url"] for r in eng.frontier().select("url").collect()}
    seen = {r["url"] for r in eng.seen().select("url").collect()}
    eng2 = _mk_engine(
        spark, tmp_path / "e3", robots_df, use_bloom=False, resume=True
    )
    assert {r["url"] for r in eng2.seen().select("url").collect()} == seen
    assert {r["url"] for r in eng2.frontier().select("url").collect()} == queue


def test_replace_is_atomic_swap(spark, tmp_path):
    """SnapshotTable.replace: one live snapshot afterwards, read covers
    exactly the new rows, ids keep climbing (no reuse)."""
    from ecc_spark.crawl.checkpoint import SnapshotTable

    t = SnapshotTable(
        spark, str(tmp_path / "t"), "t_rep", bucket_by="url_hash", n_buckets=4,
    )
    df1 = spark.range(0, 100).select(
        F.col("id").alias("url_hash"), F.concat(F.lit("u"), "id").alias("url")
    )
    t.commit(df1, wave=0)
    t.commit(
        spark.range(100, 150).select(
            F.col("id").alias("url_hash"),
            F.concat(F.lit("u"), "id").alias("url"),
        ),
        wave=1,
    )
    assert t.read().count() == 150
    old_latest = t.latest_id()
    # materialized replacement source (mirrors expire's discipline)
    kpath = str(tmp_path / "kept")
    t.read().filter(F.col("url_hash") >= 120).write.parquet(kpath)
    new_id = t.replace(spark.read.parquet(kpath), wave=1)
    assert new_id > old_latest
    got = {r["url_hash"] for r in t.read().collect()}
    assert got == set(range(120, 150))
    # vacuum (default): dropped snapshots' data dirs are physically gone,
    # the new one's remains — a recurring replace must not leak dead
    # copies of the table
    data = os.path.join(str(tmp_path / "t"), "t_rep", "data")
    dirs = {d for d in os.listdir(data) if d.startswith("snap_id=")}
    assert f"snap_id={new_id}" in dirs
    assert not {d for d in dirs if d != f"snap_id={new_id}"}
    # one live snapshot; a later commit appends on top of the replacement
    t.commit(
        spark.range(500, 510).select(
            F.col("id").alias("url_hash"),
            F.concat(F.lit("u"), "id").alias("url"),
        ),
        wave=2,
    )
    assert t.read().count() == 40


def test_expire_on_freshly_opened_handle(spark, tmp_path, setup):
    """expire() must take its kept-count from the MANIFEST, not engine
    state: a handle opened on an existing workdir without resume has
    _seen_count == 0, and deriving n_kept from it would seal a negative
    row count into the seen manifest forever."""
    urls_df, robots_df = setup
    eng = _mk_engine(spark, tmp_path / "e4", robots_df, use_bloom=False)
    eng.seed(urls_df)
    eng.run(2)
    n_w1 = eng.seen().filter(F.col("wave") == 1).count()

    fresh = _mk_engine(spark, tmp_path / "e4", robots_df, use_bloom=False)
    out = fresh.expire(0)
    assert out["kept"] == n_w1
    assert fresh.t_seen.latest_rows() == n_w1  # manifest stays sane
    assert fresh.seen().count() == n_w1


def test_read_of_dropped_snapshot_is_none_and_vacuum_sweeps_orphans(
    spark, tmp_path
):
    from ecc_spark.crawl.checkpoint import SnapshotTable

    # plain (unbucketed) table: replace drops snap 1; read(1) must be
    # None whether or not its files survive on disk
    t = SnapshotTable(spark, str(tmp_path / "p"), "t_plain")
    t.commit(spark.range(5).select(F.col("id")), wave=0)
    old = t.latest_id()
    t.replace(spark.range(9).select(F.col("id")), wave=0, vacuum=False)
    assert t.read(old) is None
    assert t.read().count() == 9

    # bucketed: a stray orphan dir (crashed commit / interrupted vacuum)
    # is reclaimed by the next vacuum sweep
    b = SnapshotTable(
        spark, str(tmp_path / "b"), "t_buck", bucket_by="url_hash", n_buckets=2,
    )
    b.commit(
        spark.range(10).select(F.col("id").alias("url_hash")), wave=0
    )
    data = os.path.join(str(tmp_path / "b"), "t_buck", "data")
    os.makedirs(os.path.join(data, "snap_id=999"), exist_ok=True)
    assert b.vacuum() == 1  # only the orphan goes
    assert not os.path.isdir(os.path.join(data, "snap_id=999"))
    assert b.read().count() == 10
