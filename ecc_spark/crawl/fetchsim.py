"""Deterministic fetch simulator — the sandbox stand-in for HTTP GET.

Real deployments swap this module for an async fetcher; everything else in
the wave loop is transport-agnostic. The simulator emits wikitext-lite
markup (sentences + ``[[url]]`` outlinks) so EXTRACTION runs through the
real ingest parser (ecc_spark.ingest.parse_markup) — "URLs
scheduled+extracted/sec" measures the full pipeline, not a stub.

Pure function of the canonical URL (zlib.crc32-derived), shared verbatim
by the wave loop's fused order+fetch stage (CrawlEngine._order_and_fetch)
and the pure-Python reference crawler, so fetch content can never
diverge between them.
"""

from __future__ import annotations

import zlib

_WORDS = (
    "frontier harbor kingdom language library mountain network ocean "
    "politics province railway republic science senate stadium treaty"
).split()


def fetch_ok(canonical_url: str, wave: int, failure_permille: int) -> bool:
    """Deterministic TRANSIENT failure: ~failure_permille/1000 of fetches
    fail, keyed on (url, wave) so the same URL usually succeeds when the
    frontier retries it next wave — the shape of real timeouts/5xx.
    Pure function shared with the reference crawler mirror."""
    if not failure_permille:
        return True
    return zlib.crc32(f"{canonical_url}#f{wave}".encode("utf-8")) % 1000 >= failure_permille


def simulate_fetch(canonical_url: str, n_hosts: int = 50, max_fanout: int = 6) -> str:
    """Markup content for a URL: realistic page weight (tens of
    paragraphs, ~10-40 KB — Wikipedia wikitext averages ~30 KB) with
    0..max_fanout outlinks. The parse cost this implies is the dominant,
    embarrassingly-parallel work of a real crawl wave; a byte-sized fake
    page would make every benchmark overhead-bound and meaningless."""
    h = zlib.crc32(canonical_url.encode("utf-8"))
    n_links = h % (max_fanout + 1)
    n_sents = 160 + (h >> 3) % 160  # ~20-40 KB markup: Wikipedia-realistic
    parts = []
    for i in range(max(n_sents, n_links)):
        v = zlib.crc32(f"{canonical_url}#s{i}".encode())
        words = [_WORDS[(v >> (j * 2)) % len(_WORDS)] for j in range(12)]
        sent = " ".join(words).capitalize() + " page content here for extraction."
        parts.append(sent)
        if i < n_links:
            w = zlib.crc32(f"{canonical_url}#l{i}".encode())
            target_host = w % n_hosts
            target_page = w % 97989
            parts.append(f" [[https://host{target_host}.example.com/wiki/Page_{target_page}]] ")
    return "".join(parts)

