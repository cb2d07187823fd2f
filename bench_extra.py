"""Supplementary benchmarks (bench.py is FROZEN for driver measurement).

Three legs, each printing one JSON line:

1. ``queries``  — the headline queries timed with the noop sink
   (guide §1.4: computes every column of every row, no sink cost and no
   optimizer pruning the way ``count()`` can) — the isolation numbers
   cited in OPTIMIZATION_r06.md.
2. ``crawl_ab`` — the crawl leg run under BOTH robots gates (RFC 9309
   REP over raw robots.txt bodies vs the pre-parsed prefix-rule table)
   on the same seeds/waves, separating feature cost from host noise —
   VERDICT r5 "Next round" #2 (bench.py cannot change, so the A/B lives
   here).
3. ``canary``   — bench.py's ambient-noise probe (imported, with the
   headline list and the env settings), printed before and after each
   leg so a reader can discount noisy windows.

Usage: python bench_extra.py [queries|crawl_ab|all]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bench import CPUS, HEADLINE, RUNS, SF_DIR, canary  # noqa: E402


def bench_queries(spark) -> dict:
    from ecc_spark.registry import queries as load_queries

    qs = load_queries()
    pre = canary(spark)
    timings, spreads = {}, {}
    for name in HEADLINE:
        fn = qs[name]
        ts = []
        for i in range(RUNS + 1):
            spark.catalog.clearCache()
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            if i > 0:
                ts.append(dt)
        timings[name] = round(min(ts), 3)
        spreads[name] = round((max(ts) - min(ts)) / max(min(ts), 1e-9), 3)
        spark.sparkContext.setJobDescription(None)
    return {
        "metric": "noop_isolated_suite_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "sf": SF_DIR,
        "cpus": CPUS,
        "runs_per_query": RUNS,
        "agg": "warm-min(noop)",
        "canary": {"pre_sec": pre, "post_sec": canary(spark)},
    }


def bench_crawl_ab(spark, n_urls: int = 8000, waves: int = 2, budget: int = 120) -> dict:
    """Same protocol as bench.py's crawl leg, once per robots-gate mode."""
    import shutil

    from ecc_spark import gen
    from ecc_spark.crawl.frontier import CrawlEngine

    urls = [u["url"] for u in gen.frontier_urls(n_urls, n_hosts=60, seed=11)]
    seeds_rows = [(u,) for u in urls]
    gates = {
        "rep": {"robots_txt": spark.createDataFrame(
            gen.robots_txt_bodies(n_hosts=60, seed=9),
            schema="host string, content string")},
        "prefix": {"robots": spark.createDataFrame(
            gen.robots_rules(n_hosts=60, seed=9))},
    }
    out: dict = {"metric": "crawl_rep_vs_prefix", "sf": SF_DIR, "cpus": CPUS,
                 "waves": waves, "n_urls": n_urls,
                 "canary_pre": canary(spark)}
    for mode, kw in gates.items():
        best = None
        for _ in range(3):
            workdir = tempfile.mkdtemp(prefix=f"bench_ab_{mode}_", dir="/dev/shm")
            eng = CrawlEngine(spark, workdir, host_budget=budget,
                              n_salts=16, max_depth=2, **kw)
            eng.seed(spark.createDataFrame(seeds_rows, schema="url string"))
            t0 = time.time()
            res = eng.run(waves)
            dt = time.time() - t0
            shutil.rmtree(workdir, ignore_errors=True)
            run = {
                "urls_scheduled": res.total_scheduled,
                "spans_extracted": res.total_extracted,
                "seconds": round(dt, 2),
                "urls_extracted_per_sec": round(
                    (res.total_scheduled + res.total_extracted) / dt, 1),
            }
            if best is None or run["urls_extracted_per_sec"] > best["urls_extracted_per_sec"]:
                best = run
        out[mode] = best
    out["canary_post"] = canary(spark)
    return out


def main() -> int:
    from ecc_spark.session import get_spark

    which = sys.argv[1] if len(sys.argv) > 1 else "all"
    spark = get_spark("bench_extra", cpus=CPUS)
    from ecc_spark.ops.bucketing import ensure_bucketed

    ensure_bucketed(spark, SF_DIR)
    from ecc_spark.registry import queries as load_queries

    load_queries()["tpch_q1"](spark, SF_DIR).count()  # session warm-up
    if which in ("queries", "all"):
        print(json.dumps(bench_queries(spark)))
    if which in ("crawl_ab", "all"):
        print(json.dumps(bench_crawl_ab(spark)))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
