"""Toy-scale crawl demo: run waves, print metrics, check equality vs the
pure-Python reference crawler. Usage: python -m ecc_spark.crawl.demo
[n_urls] [waves] [cpus]"""

from __future__ import annotations

import sys
import tempfile

from ecc_spark import gen
from ecc_spark.crawl.frontier import CrawlEngine
from ecc_spark.session import get_spark


def main() -> int:
    n_urls = int(sys.argv[1]) if len(sys.argv) > 1 else 500
    waves = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 8
    spark = get_spark("crawl_demo", cpus=cpus)
    urls = [u["url"] for u in gen.frontier_urls(n_urls, n_hosts=25, seed=5)]
    robots = gen.robots_rules(n_hosts=25, seed=9)
    # the engine gates with RFC 9309 REP rules parsed from RAW robots.txt
    # bodies; gen.robots_txt_bodies is decision-equivalent to the prefix
    # table, so crawl-order equality vs the prefix-rule reference
    # crawler below doubles as an REP-vs-prefix equivalence check
    robots_txt = spark.createDataFrame(
        gen.robots_txt_bodies(n_hosts=25, seed=9), schema="host string, content string"
    )
    workdir = tempfile.mkdtemp(prefix="crawl_demo_")
    eng = CrawlEngine(
        spark, workdir, robots_txt=robots_txt, host_budget=8, n_salts=4, max_depth=2,
    )
    eng.seed(spark.createDataFrame([(u,) for u in urls], schema="url string"))
    res = eng.run(waves)
    for w in res.waves:
        rate = (w.scheduled + w.extracted) / max(w.seconds, 1e-9)
        print(
            f"wave {w.wave}: scheduled={w.scheduled} extracted={w.extracted} "
            f"new={w.new_urls} {w.seconds:.1f}s ({rate:.0f} urls+spans/s)"
        )

    from tests.ref_crawler import crawl as ref_crawl  # noqa: PLC0415

    ref_order, ref_seen, _ = ref_crawl(urls, robots, 8, waves, max_depth=2)
    got = sorted(
        (r["order_key"], r["wave"], r["url"])
        for r in eng.seen().select("url", "wave", "order_key").collect()
    )
    ok = got == sorted(ref_order)
    print(f"seen={len(got)} urls; crawl-order+seen-set equality vs reference: {ok}")
    spark.stop()
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
