"""Sequential pure-Python reference crawler — the golden for crawl-order
and seen-set equality (BASELINE.json: both must match exactly under the
same seed list + politeness budget).

Implements the same rules as ecc_spark.crawl.frontier.CrawlEngine with
plain dicts and sorts; shares ONLY the deterministic leaf functions
(canonicalize_py, simulate_fetch, parse_markup) so state handling, ordering,
budgets, dedup and robots logic are independently expressed."""

from __future__ import annotations

import re

from ecc_spark.crawl.canonical import canonicalize_py
from ecc_spark.crawl.fetchsim import simulate_fetch
from ecc_spark.ingest import parse_markup


def _path_of(url: str) -> str:
    p = re.sub(r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "", url)
    return p if p else "/"


def _robots_allows(url: str, host: str, rules: list[dict]) -> bool:
    for r in rules:
        # only allow = false rows block: a NULL allow row is ignored, as
        # the engine's rules_from_prefixes ignores it
        if r["allow"] is False and r["host"] == host and _path_of(url).startswith(r["path_prefix"]):
            return False
    return True


def crawl(
    seed_urls: list[str],
    robots_rules: list[dict],
    host_budget: int,
    max_waves: int,
    max_depth: int = 3,
):
    """Returns (order, seen, wave_stats):
    order = [(order_key, wave, url)] in schedule order;
    seen  = {url}; wave_stats = [(scheduled, extracted, new)]."""
    frontier: dict[str, tuple[str, float, int]] = {}  # url -> (host, priority, depth)
    for raw in seed_urls:
        url, host, priority = canonicalize_py(raw)
        if not _robots_allows(url, host, robots_rules):
            continue
        if url not in frontier:
            frontier[url] = (host, priority, 0)

    seen: dict[str, tuple[int, int]] = {}  # url -> (wave, order_key)
    order: list[tuple[int, int, str]] = []
    stats = []

    for wave in range(max_waves):
        if not frontier:
            break
        by_host: dict[str, list[tuple[float, str]]] = {}
        for url, (host, priority, depth) in frontier.items():
            by_host.setdefault(host, []).append((priority, url))
        scheduled: list[tuple[float, str]] = []
        for host, rows in by_host.items():
            rows.sort()
            scheduled.extend(rows[:host_budget])
        scheduled.sort()  # global crawl order: (priority, url)

        base = len(seen)
        extracted = 0
        outlinks_all: list[tuple[str, int]] = []  # (raw_url, parent_depth)
        for i, (priority, url) in enumerate(scheduled):
            seen[url] = (wave, base + i)
            order.append((base + i, wave, url))
        for priority, url in scheduled:
            depth = frontier[url][2]
            content = simulate_fetch(url)
            spans = parse_markup(content)
            extracted += len(spans)
            if depth < max_depth:
                for s in spans:
                    if s["kind"] == "link":
                        outlinks_all.append((s["media_ref"], depth))
            del frontier[url]

        new_cand: dict[str, tuple[str, float, int]] = {}
        for raw, parent_depth in outlinks_all:
            url, host, priority = canonicalize_py(raw)
            if not _robots_allows(url, host, robots_rules):
                continue
            d = parent_depth + 1
            if url in new_cand:
                prev = new_cand[url]
                new_cand[url] = (host, priority, min(prev[2], d))
            else:
                new_cand[url] = (host, priority, d)
        n_new = 0
        for url, (host, priority, depth) in new_cand.items():
            if url in seen or url in frontier:
                continue
            frontier[url] = (host, priority, depth)
            n_new += 1
        stats.append((len(scheduled), extracted, n_new))
    return order, seen, stats
