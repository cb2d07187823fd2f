"""Supplementary benchmarks (bench.py is FROZEN for driver measurement).

Prints one JSON line: the headline queries timed with the noop sink
(guide §1.4: computes every column of every row, no sink cost and no
optimizer pruning the way ``count()`` can) — the isolation numbers cited
in OPTIMIZATION_r06.md — with bench.py's ambient-noise probe (imported,
with the headline list and the env settings) run before and after the
queries so a reader can discount noisy windows.

Usage: python bench_extra.py
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS, SPARK_GRAFT_BENCH_RUNS as in bench.py.
"""

from __future__ import annotations

import json
import os
import sys
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


def main() -> int:
    from ecc_spark.session import get_spark

    spark = get_spark("bench_extra", cpus=CPUS)
    from ecc_spark.ops.bucketing import ensure_bucketed

    ensure_bucketed(spark, SF_DIR)
    from ecc_spark.registry import queries as load_queries

    load_queries()["tpch_q1"](spark, SF_DIR).count()  # session warm-up
    print(json.dumps(bench_queries(spark)))
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
