"""RFC 9309 robots.txt layer: parser, longest-match gate, crawl-delay
budgets. The gate is checked against a pure-Python REP mirror on crafted
and randomized inputs (urllib.robotparser is NOT the oracle — CPython
applies first-match-in-file order, not RFC longest-match)."""

from __future__ import annotations

import random
import re

from pyspark.sql import functions as F

from ecc_spark.crawl.robots import (
    apply_robots_rep,
    host_budgets_from_delays,
    parse_robots_entries,
    parse_robots_txt,
    rules_from_prefixes,
    _pattern_rx,
)

ROBOTS_A = """
# comments are ignored
User-agent: gptcrawl
Disallow: /

User-agent: ecc-spark
User-agent: otherbot
Disallow: /private/
Allow: /private/pub
Crawl-delay: 2

User-agent: *
Disallow: /everything/
"""

ROBOTS_STAR = """
User-agent: *
Disallow: /*.json$
Disallow: /tmp*/
Allow: /tmp-ok/
Crawl-delay: 0.5
"""

ROBOTS_EMPTY_DISALLOW = """
User-agent: *
Disallow:
"""


def _rep_allowed(rules: list[tuple[str, bool]], path: str) -> bool:
    """Independent pure-Python REP decision: longest pattern wins,
    allow wins ties, no match allows."""
    best = None
    for pattern, allow in rules:
        if re.match(_pattern_rx(pattern), path):
            key = (len(pattern), int(allow))
            if best is None or key > best[0]:
                best = (key, allow)
    return True if best is None else best[1]


def test_parse_group_selection_and_delay():
    rules, delay = parse_robots_entries(ROBOTS_A, agent="ecc-spark")
    assert ("/private/", False) in rules and ("/private/pub", True) in rules
    assert ("/", False) not in rules        # gptcrawl group not ours
    assert ("/everything/", False) not in rules  # * ignored when named
    assert delay == 2.0

    rules_star, delay_star = parse_robots_entries(ROBOTS_A, agent="unknown-bot")
    assert rules_star == [("/everything/", False)]
    assert delay_star is None

    # empty Disallow = allow everything
    assert parse_robots_entries(ROBOTS_EMPTY_DISALLOW)[0] == []


def test_longest_match_allow_wins(spark):
    txt = spark.createDataFrame([("h", ROBOTS_A)], "host string, content string")
    rep = parse_robots_txt(txt, agent="ecc-spark")
    cand = spark.createDataFrame(
        [
            ("h", "http://h/private/secret"),    # blocked: /private/
            ("h", "http://h/private/pub/x"),     # allowed: longer Allow
            ("h", "http://h/open/page"),         # no match → allow
            ("unlisted", "http://unlisted/x"),   # no robots row → allow
        ],
        "host string, url string",
    )
    got = {r["url"] for r in apply_robots_rep(cand, rep).collect()}
    assert got == {
        "http://h/private/pub/x",
        "http://h/open/page",
        "http://unlisted/x",
    }


def test_wildcard_and_anchor_patterns(spark):
    txt = spark.createDataFrame([("h", ROBOTS_STAR)], "host string, content string")
    rep = parse_robots_txt(txt)
    cand = spark.createDataFrame(
        [
            ("h", "http://h/api/data.json"),   # blocked: /*.json$
            ("h", "http://h/api/data.jsonl"),  # $ anchor → NOT blocked
            ("h", "http://h/tmp123/f"),        # blocked: /tmp*/
            ("h", "http://h/tmp-ok/f"),        # allow beats (longer)
        ],
        "host string, url string",
    )
    got = {r["url"] for r in apply_robots_rep(cand, rep).collect()}
    assert got == {"http://h/api/data.jsonl", "http://h/tmp-ok/f"}


def test_gate_matches_pure_python_rep_on_random_inputs(spark):
    rng = random.Random(13)
    segs = ["a", "b", "c", "data", "tmp", "x1"]
    hosts, rows = [], []
    for h in range(6):
        host = f"h{h}"
        lines = ["User-agent: *"]
        n = rng.randrange(0, 6)
        for _ in range(n):
            p = "/" + "/".join(rng.sample(segs, rng.randrange(1, 3)))
            if rng.random() < 0.3:
                p += "*"
            elif rng.random() < 0.2:
                p += "$"
            lines.append(f"{'Allow' if rng.random() < 0.4 else 'Disallow'}: {p}")
        hosts.append((host, "\n".join(lines)))
        for _ in range(25):
            path = "/" + "/".join(rng.sample(segs, rng.randrange(1, 4)))
            rows.append((host, f"http://{host}{path}"))

    txt = spark.createDataFrame(hosts, "host string, content string")
    rep = parse_robots_txt(txt)
    cand = spark.createDataFrame(rows, "host string, url string")
    got = {r["url"] for r in apply_robots_rep(cand, rep).collect()}

    rules_by_host = {h: parse_robots_entries(c)[0] for h, c in hosts}
    want = {
        url
        for host, url in rows
        if _rep_allowed(rules_by_host[host], url.split(host, 1)[1] or "/")
    }
    assert got == want


def test_host_budgets_from_delays(spark):
    txt = spark.createDataFrame(
        [("fast", "User-agent: *\nDisallow: /x"),
         ("slow", "User-agent: *\nCrawl-delay: 30"),
         ("glacial", "User-agent: *\nCrawl-delay: 100000")],
        "host string, content string",
    )
    rep = parse_robots_txt(txt)
    got = {
        r["host"]: r["budget"]
        for r in host_budgets_from_delays(
            rep, wave_seconds=60, default_budget=50, max_budget=500
        ).collect()
    }
    assert got == {"fast": 50, "slow": 2, "glacial": 1}

    # hostile tiny delay must clamp, not abort the job on CAST_OVERFLOW
    # (ANSI mode) — one adversarial robots.txt can't kill scheduling
    hostile = parse_robots_txt(
        spark.createDataFrame(
            [("evil", "User-agent: *\nCrawl-delay: 1e-9")],
            "host string, content string",
        )
    )
    row = host_budgets_from_delays(hostile, wave_seconds=60, default_budget=8).first()
    assert row["budget"] == 2_147_483_647


def test_engine_accepts_raw_robots_txt(spark, tmp_path):
    """CrawlEngine(robots_txt=...) speaks REP end-to-end: disallowed
    seeds never enter the frontier, allow-overrides do, crawl results
    equal the prefix-rule engine when the semantics coincide."""
    from ecc_spark.crawl.frontier import CrawlEngine

    txt = spark.createDataFrame(
        [("h0.test", "User-agent: *\nDisallow: /private/\nAllow: /private/pub")],
        "host string, content string",
    )
    eng = CrawlEngine(
        spark, str(tmp_path / "c"), robots_txt=txt, host_budget=10,
        n_salts=4, max_depth=1,
    )
    eng.seed(
        spark.createDataFrame(
            [
                ("http://h0.test/private/x",),
                ("http://h0.test/private/pub/ok",),
                ("http://h0.test/open",),
            ],
            "url string",
        )
    )
    queued = {r["url"] for r in eng.frontier().select("url").collect()}
    assert queued == {"http://h0.test/private/pub/ok", "http://h0.test/open"}

    import pytest

    with pytest.raises(ValueError, match="not both"):
        CrawlEngine(spark, str(tmp_path / "d"), robots=txt, robots_txt=txt)


def test_per_host_budgets_in_scheduler(spark):
    """schedule_budget(host_budgets=...) == the unsalted single-window
    answer with each host's own k; hosts without an override keep the
    default."""
    from pyspark.sql.window import Window as W

    from ecc_spark.crawl.politeness import schedule_budget

    rng = random.Random(5)
    rows = [
        (f"h{h}", f"http://h{h}/p{i}", rng.random())
        for h in range(4)
        for i in range(30)
    ]
    frontier = spark.createDataFrame(rows, "host string, url string, priority double")
    budgets = spark.createDataFrame(
        [("h0", 3), ("h1", 25)], "host string, budget int"
    )
    got = {
        (r["host"], r["url"])
        for r in schedule_budget(
            frontier, host_budget=10, n_salts=4, host_budgets=budgets
        ).collect()
    }
    w = W.partitionBy("host").orderBy("priority", "url")
    want = {
        (r["host"], r["url"])
        for r in frontier.withColumn("_r", F.row_number().over(w))
        .filter(
            F.col("_r")
            <= F.when(F.col("host") == "h0", 3)
            .when(F.col("host") == "h1", 25)
            .otherwise(10)
        )
        .collect()
    }
    assert got == want
    per_host = {}
    for h, _ in got:
        per_host[h] = per_host.get(h, 0) + 1
    assert per_host == {"h0": 3, "h1": 25, "h2": 10, "h3": 10}


def test_engine_crawl_delay_budgets_end_to_end(spark, tmp_path):
    """robots_txt Crawl-delay → host_budgets_from_delays → engine: the
    slow host schedules at most its derived budget per wave, others the
    default."""
    from ecc_spark.crawl.frontier import CrawlEngine

    txt = spark.createDataFrame(
        [("slow.test", "User-agent: *\nCrawl-delay: 30"),
         ("fast.test", "User-agent: *\nDisallow: /none")],
        "host string, content string",
    )
    rep = parse_robots_txt(txt)
    budgets = host_budgets_from_delays(rep, wave_seconds=60, default_budget=8)
    eng = CrawlEngine(
        spark, str(tmp_path / "c"), robots_txt=txt, host_budget=8,
        host_budgets=budgets, n_salts=4, max_depth=1,
    )
    seeds = [(f"http://slow.test/p{i}",) for i in range(10)] + [
        (f"http://fast.test/p{i}",) for i in range(10)
    ]
    eng.seed(spark.createDataFrame(seeds, "url string"))
    res = eng.run(1)
    assert res.waves[0].scheduled == 2 + 8  # slow: 60/30=2, fast: default 8


def test_rep_gate_plan_broadcasts_rules(spark):
    txt = spark.createDataFrame([("h", ROBOTS_A)], "host string, content string")
    rep = parse_robots_txt(txt)
    cand = spark.createDataFrame([("h", "http://h/x")], "host string, url string")
    plan = apply_robots_rep(cand, rep)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_gen_bodies_decision_equivalent_to_prefix_rules(spark):
    """gen.robots_txt_bodies is the REP analog of gen.robots_rules: on
    the synthetic frontier the REP gate over the bodies must admit
    exactly the URLs the pure-Python reference crawler admits under the
    prefix rules (this is what lets bench/demo gate with raw bodies
    while the reference crawler keeps prefix rules)."""
    from ecc_spark import gen
    from ecc_spark.crawl.canonical import canonicalize_cols
    from tests.ref_crawler import _robots_allows

    urls = [u["url"] for u in gen.frontier_urls(400, n_hosts=20, seed=5)]
    raw = spark.createDataFrame([(u,) for u in urls], "url string")
    cols = canonicalize_cols(raw["url"])
    cand = raw.select(
        cols["canonical"].alias("url"), cols["host"].alias("host")
    )
    rules = gen.robots_rules(n_hosts=20, seed=9)
    rep = parse_robots_txt(
        spark.createDataFrame(
            gen.robots_txt_bodies(n_hosts=20, seed=9), "host string, content string"
        )
    )
    want = {
        r["url"] for r in cand.collect() if _robots_allows(r["url"], r["host"], rules)
    }
    via_rep = {r["url"] for r in apply_robots_rep(cand, rep).collect()}
    assert via_rep == want
    assert 0 < len(via_rep) < 400  # gate is non-vacuous both ways


def test_prefix_rules_match_reference(spark):
    """rules_from_prefixes + the REP gate admit exactly what the
    reference crawler's ``_robots_allows`` admits: on the generated
    rules and frontier, and on crafted edge rows — an allow row that
    would win under REP longest-match, an empty prefix, literal ``*``,
    ``$``, ``.`` and ``(``, a host with no rows and an empty path.

    A NULL ``allow`` row is ignored by both: only ``allow = false`` rows
    count, so the URL under it is admitted."""
    from ecc_spark import gen
    from ecc_spark.crawl.canonical import canonicalize_py
    from tests.ref_crawler import _robots_allows

    rules = gen.robots_rules(n_hosts=20, seed=9) + [
        {"host": "a.test", "path_prefix": "/priv", "allow": False},
        {"host": "a.test", "path_prefix": "/priv/pub", "allow": True},
        {"host": "b.test", "path_prefix": "", "allow": False},
        {"host": "c.test", "path_prefix": "/*.php", "allow": False},
        {"host": "c.test", "path_prefix": "/end$", "allow": False},
        {"host": "c.test", "path_prefix": "/a.b", "allow": False},
        {"host": "c.test", "path_prefix": "/x(y", "allow": False},
        {"host": "e.test", "path_prefix": "/", "allow": False},
    ]
    crafted = [
        ("http://a.test/priv/pub/x", "a.test"),  # REP: allow wins; here blocked
        ("http://a.test/priv", "a.test"),
        ("http://a.test/nul/x", "a.test"),  # NULL-allow row: ignored
        ("http://a.test", "a.test"),  # empty path
        ("http://b.test", "b.test"),  # empty prefix blocks the host
        ("http://b.test/anything", "b.test"),
        ("http://c.test/*.php/1", "c.test"),
        ("http://c.test/index.php", "c.test"),  # REP wildcard would block
        ("http://c.test/end", "c.test"),  # REP anchor would block
        ("http://c.test/end$x", "c.test"),
        ("http://c.test/aXb", "c.test"),  # regex "." would block
        ("http://c.test/a.b/c", "c.test"),
        ("http://c.test/x(y)", "c.test"),
        ("http://d.test/open", "d.test"),  # host with no rows
        ("http://e.test", "e.test"),  # empty path is "/"
    ]
    generated = [
        canonicalize_py(u["url"])[:2]
        for u in gen.frontier_urls(400, n_hosts=20, seed=5)
    ]
    cand = spark.createDataFrame(crafted + generated, "url string, host string")
    rules.append({"host": "a.test", "path_prefix": "/nul", "allow": None})
    table = spark.createDataFrame(rules, "host string, path_prefix string, allow boolean")
    got = {r["url"] for r in apply_robots_rep(cand, rules_from_prefixes(table)).collect()}
    want = {u for u, h in crafted + generated if _robots_allows(u, h, rules)}
    assert got == want
    assert "http://a.test/nul/x" in got
    assert {"http://a.test/priv/pub/x", "http://b.test", "http://e.test"}.isdisjoint(got)
    assert {"http://c.test/index.php", "http://c.test/end", "http://c.test/aXb"} <= got
