"""10^6-seed scale-stress crawl (VERDICT r4 item 4).

Converts the "survives 100x" argument from plan-reading to measurement:
one crawl with a MILLION Zipf-skewed seeds, three waves, the bloom
URL-seen prefilter auto-engaging mid-crawl, recording per-wave wall
time, and re-asserting the Exchange-free bucketed queue-view plan at
that frontier size.  Results go into BENCH/BASELINE.md.

Seeds are generated COLUMNAR in Spark (a Python loop building 10^6 URL
strings with an O(n_hosts) host draw each would dominate the
measurement): host index = floor(n_hosts * u^5) over a per-id uniform
hash — host0 absorbs ~22% of the seeds, the same heavy-head shape as
gen.frontier_urls' Zipf(1.2).

Usage: python tools/stress_crawl.py [n_seeds] [waves] [cpus] [expire]
Run ALONE on a quiet box (bench-noise rules apply).
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def zipf_seeds(spark, n: int, n_hosts: int):
    from pyspark.sql import functions as F

    ids = spark.range(0, n, 1, spark.sparkContext.defaultParallelism)
    u = (F.abs(F.xxhash64("id")) % 1_000_000) / 1_000_000.0
    h = F.floor(F.lit(n_hosts) * F.pow(u, F.lit(5.0))).cast("int")
    return ids.select(
        F.concat(
            F.lit("https://host"), h, F.lit(".example.com/wiki/Page_"), F.col("id")
        ).alias("url")
    )


def main() -> int:
    n_seeds = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    waves = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    n_hosts = 2000
    host_budget = 40

    from pyspark.sql import functions as F  # noqa: F401

    from ecc_spark import gen
    from ecc_spark.crawl.frontier import CrawlEngine
    from ecc_spark.session import get_spark

    spark = get_spark("stress_crawl", cpus=cpus)
    robots_txt = spark.createDataFrame(
        gen.robots_txt_bodies(n_hosts=n_hosts, seed=9),
        schema="host string, content string",
    )
    workdir = tempfile.mkdtemp(prefix="stress_crawl_", dir="/dev/shm")
    eng = CrawlEngine(
        spark,
        workdir,
        robots_txt=robots_txt,
        host_budget=host_budget,
        n_salts=32,
        max_depth=3,
        # the seen table holds SCHEDULED urls, capped per wave by
        # n_hosts x host_budget (= 80k here); a threshold below that
        # makes the auto-bloom cross mid-crawl (after wave 0), which is
        # the engagement + backfill path this run is evidencing
        bloom_min_seen=60_000,
    )
    t0 = time.time()
    eng.seed(zipf_seeds(spark, n_seeds, n_hosts))
    seed_s = round(time.time() - t0, 2)
    queued = eng.queued_rows()

    res = eng.run(waves)

    # optional recrawl leg (4th arg "expire"): expire wave-0 seen rows
    # mid-crawl, time the maintenance op, and run one more wave — the
    # re-fetch must schedule ONLY previously-seen-or-queued urls and the
    # wave cost must stay in the per-wave band (the queue view and the
    # copy-on-write swap both keep their plans at this size)
    expire_leg = None
    if len(sys.argv) > 4 and sys.argv[4] == "expire":
        t1 = time.time()
        out = eng.expire(0)
        exp_s = round(time.time() - t1, 2)
        w = eng.run_wave()
        expire_leg = {
            "expired": out["expired"],
            "kept": out["kept"],
            "filter": out["filter"],
            "expire_seconds": exp_s,
            "recrawl_wave": {
                "scheduled": w.scheduled,
                "extracted": w.extracted,
                "seconds": round(w.seconds, 2),
            },
        }

    per_wave = [
        {
            "wave": w.wave,
            "scheduled": w.scheduled,
            "extracted": w.extracted,
            "new_urls": w.new_urls,
            "seconds": w.seconds,
            "urls_spans_per_sec": round(
                (w.scheduled + w.extracted) / max(w.seconds, 1e-9), 1
            ),
            "detail": w.detail,
        }
        for w in res.waves
    ]

    # engaged waves commit their delta bitmaps to the t_bloom table
    bloom_engaged = eng.t_bloom.latest_id() is not None

    # the 10^10-scale plan contract, re-asserted at THIS frontier size:
    # queue view (frontier-ever \ seen) must be an Exchange-free
    # sort-merge anti-join over two bucketed scans even with broadcast
    # disabled (what actually runs at scale)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = eng.frontier()._jdf.queryExecution().executedPlan().toString()
        plan_ok = (
            "Exchange" not in plan
            and plan.count("Bucketed: true") == 2
            and "SortMergeJoin" in plan
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    seen = eng.seen().count() if eng.seen() is not None else 0
    out = {
        "n_seeds": n_seeds,
        "n_hosts": n_hosts,
        "host_budget": host_budget,
        "waves": waves,
        "cpus": cpus,
        "seed_commit_seconds": seed_s,
        "frontier_rows_after_seed": queued,
        "per_wave": per_wave,
        "total_seconds": round(res.total_seconds, 2),
        "total_scheduled": res.total_scheduled,
        "total_extracted": res.total_extracted,
        "seen_rows": seen,
        "expire_leg": expire_leg,
        "bloom_engaged": bloom_engaged,
        "queue_view_exchange_free": plan_ok,
    }
    print("STRESS " + json.dumps(out))
    spark.stop()
    return 0 if plan_ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
