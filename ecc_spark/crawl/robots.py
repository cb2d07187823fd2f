"""robots.txt gating: the RFC 9309 (REP) gate and its two rule sources.

Every gate decision goes through ``apply_robots_rep`` over a per-host
rule table (host, rules, crawl_delay). That table comes from raw
robots.txt bodies (``parse_robots_txt``) or from a pre-parsed
(host, path_prefix, allow) disallow table (``rules_from_prefixes``).
The table is tiny relative to the frontier (one row per host) →
broadcast. Disallowed URLs are dropped at ENQUEUE time so the frontier
never accumulates unfetchable rows (they are not added to the seen set
either — matching the pure-Python reference crawler)."""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


# ---------------------------------------------------------------------------
# RFC 9309 (REP) layer: parse raw robots.txt CONTENT and gate with
# longest-match / allow-wins-ties semantics — what a production crawler
# speaks. Pre-parsed prefix-disallow tables (the rule form the
# pure-Python reference crawler uses) are converted into the same rule
# arrays, so there is one gate.


def parse_robots_entries(
    content: str, agent: str = "ecc-spark"
) -> tuple[list[tuple[str, bool]], float | None]:
    """Pure-Python REP parse of ONE robots.txt body for ``agent``.

    Returns ([(path_pattern, allow)], crawl_delay). Group selection per
    RFC 9309 §2.2.1: consecutive User-agent lines open a group; if any
    group names our product token (case-insensitive substring-free exact
    token match) only those groups apply, else the ``*`` groups. ``#``
    comments and unknown directives are ignored; an empty Disallow means
    allow-all (the empty pattern matches everything at length 0)."""
    groups: list[dict] = []
    cur: dict | None = None
    last_was_ua = False
    for raw in content.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not last_was_ua or cur is None:
                cur = {"agents": set(), "rules": [], "delay": None}
                groups.append(cur)
            cur["agents"].add(val.lower())
            last_was_ua = True
            continue
        last_was_ua = False
        if cur is None:
            continue  # directives before any User-agent line: ignored
        if key in ("allow", "disallow"):
            if key == "disallow" and val == "":
                continue  # empty Disallow = no restriction
            cur["rules"].append((val, key == "allow"))
        elif key == "crawl-delay":
            try:
                cur["delay"] = float(val)
            except ValueError:
                pass
    mine = [g for g in groups if agent.lower() in g["agents"]]
    chosen = mine or [g for g in groups if "*" in g["agents"]]
    rules = [r for g in chosen for r in g["rules"]]
    delay = next((g["delay"] for g in chosen if g["delay"] is not None), None)
    return rules, delay


def _pattern_rx(pattern: str) -> str:
    """REP path pattern → anchored Java/Python-portable regex:
    ``*`` matches any sequence, ``$`` anchors the end, everything else
    is literal. Match is from the start of the path."""
    out = ["^"]
    for i, ch in enumerate(pattern):
        if ch == "*":
            out.append(".*")
        elif ch == "$" and i == len(pattern) - 1:
            out.append("$")
        else:
            out.append(re.escape(ch))
    return "".join(out)


_RULES_SCHEMA = T.StructType(
    [
        T.StructField(
            "rules",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("allow_i", T.IntegerType()),
                        T.StructField("rx", T.StringType()),
                        T.StructField("pattern", T.StringType()),
                        T.StructField("pfx", T.IntegerType()),
                    ]
                )
            ),
        ),
        T.StructField("crawl_delay", T.DoubleType()),
    ]
)


def parse_robots_txt(robots_txt: DataFrame, agent: str = "ecc-spark") -> DataFrame:
    """(host, content) robots.txt bodies → per-host REP rule table:
    (host, rules array<struct<allow_i, rx, pattern, pfx>>, crawl_delay)
    with rules pre-sorted for longest-match/allow-wins evaluation.

    Parsing is a vectorized pandas UDF (string-section work per host —
    one body each); the result is one row per HOST, so at 10^8 hosts it
    is still ~10^4× smaller than the frontier and broadcasts."""

    def _parse(batch: pd.Series) -> pd.DataFrame:
        rules_col, delay_col = [], []
        for content in batch:
            rules, delay = parse_robots_entries(content or "", agent)
            rules_col.append(
                [
                    {
                        "allow_i": int(allow),
                        "rx": _pattern_rx(p),
                        "pattern": p,
                        # plain-prefix fast path: a pattern with no "*"
                        # and no terminal "$" anchor compiles to
                        # ^re.escape(p) — exactly startswith(p), which
                        # the gate matches without a per-element regex
                        "pfx": int("*" not in p and not p.endswith("$")),
                    }
                    for p, allow in sorted(rules, key=lambda r: (-len(r[0]), -r[1]))
                ]
            )
            delay_col.append(delay)
        return pd.DataFrame({"rules": rules_col, "crawl_delay": delay_col})

    udf = F.pandas_udf(_parse, _RULES_SCHEMA)
    return robots_txt.select("host", udf("content").alias("p")).select(
        "host", "p.rules", "p.crawl_delay"
    )


def rules_from_prefixes(robots: DataFrame) -> DataFrame:
    """(host, path_prefix, allow) prefix rules → the per-host rule table
    ``parse_robots_txt`` returns, with plain prefix-disallow semantics:
    only ``allow = false`` rows count (allow and NULL-allow rows are
    ignored), and each prefix is a literal ``startswith`` rule
    (``pfx = 1``), so ``*``, ``$`` and regex metacharacters stay
    literal and ``rx`` is never read. With disallow rules only, any
    matching rule blocks, so the array needs no longest-match order."""
    rule = F.struct(
        F.lit(0).alias("allow_i"),
        F.lit(None).cast("string").alias("rx"),
        F.col("path_prefix").alias("pattern"),
        F.lit(1).alias("pfx"),
    )
    return (
        robots.filter(~F.col("allow"))
        .groupBy("host")
        .agg(F.collect_list(rule).alias("rules"))
        .withColumn("crawl_delay", F.lit(None).cast("double"))
    )


def apply_robots_rep(candidates: DataFrame, rep_rules: DataFrame | None) -> DataFrame:
    """REP gate: longest-match wins, allow wins ties, no-match ⇒ allow.

    The per-host rule arrays broadcast and equi-join on host, so the
    frontier side never shuffles; the verdict is row-local array work
    (filter preserves the pre-sorted longest-first order, so the FIRST
    matching rule decides — exactly RFC 9309 §2.2.2 precedence)."""
    if rep_rules is None:
        return candidates
    path = F.regexp_replace("url", r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "")
    cand = candidates.withColumn("_path", F.when(path == "", "/").otherwise(path))
    cand = cand.join(
        F.broadcast(rep_rules.select("host", "rules")), "host", "left"
    )
    matched = F.filter(
        "rules",
        # prefix rules (the overwhelming majority of real robots.txt
        # lines) match via startswith — no per-element regex compile;
        # wildcard/anchored patterns keep the exact regex semantics
        lambda r: F.when(
            r["pfx"] == 1, F.col("_path").startswith(r["pattern"])
        ).otherwise(F.regexp_like(F.col("_path"), r["rx"])),
    )
    verdict = F.when(
        F.col("rules").isNull() | (F.size(matched) == 0), F.lit(True)
    ).otherwise(F.element_at(matched, 1)["allow_i"] == 1)
    return cand.filter(verdict).drop("_path", "rules")


def host_budgets_from_delays(
    rep_rules: DataFrame,
    wave_seconds: float,
    default_budget: int,
    max_budget: int | None = None,
) -> DataFrame:
    """Crawl-delay → per-host per-wave budget: a host asking for
    ``delay`` seconds between fetches yields ⌊wave_seconds/delay⌋ slots
    per wave (floored at 1 so progress is never fully starved); hosts
    without a delay keep ``default_budget``. One row per host — tiny,
    broadcastable into the politeness top-k."""
    b = F.when(
        F.col("crawl_delay").isNotNull() & (F.col("crawl_delay") > 0),
        F.greatest(F.floor(F.lit(float(wave_seconds)) / F.col("crawl_delay")), F.lit(1)),
    ).otherwise(F.lit(default_budget))
    if max_budget is not None:
        b = F.least(b, F.lit(max_budget))
    # clamp BEFORE the int cast: a hostile "Crawl-delay: 1e-9" yields a
    # floor() beyond 2^31 and ANSI mode would abort the whole scheduling
    # job on CAST_OVERFLOW — one adversarial robots.txt must not do that
    b = F.least(b.cast("long"), F.lit(2_147_483_647))
    return rep_rules.select("host", b.cast("int").alias("budget"))
