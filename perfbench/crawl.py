"""crawl_recrawl: seed → forward waves → expire(0) → resume → recrawl.

``CrawlEngine`` over Zipf-host seed URLs behind the RFC 9309 robots gate,
with the approximate seen prefilter forced on (``use_bloom=True``) so it
does work at benchmark scale. Checked against the pure-Python reference
crawler.
"""

from __future__ import annotations

import os
import shutil
import time

from perfbench import harness as H

FULL = {"seeds": 1500, "hosts": 60, "budget": 20}
SMOKE = {"seeds": 150, "hosts": 12, "budget": 6}
WAVES = 1
MAX_DEPTH = 2
KERNEL_ROWS = 100
# WaveMetrics.detail phases that take measurable time (commit_runlog and
# gc_fetched read 0.00 s; expand_execute exists only under ECC_PROFILE_WAVE)
DETAIL_KEYS = ("schedule_fetch", "expand_plan", "commit_seen", "commit_frontier")


class CrawlRecrawl:
    name = "crawl_recrawl"
    rep_s = 20  # nominal seconds per repetition on 4 CPUs

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work = os.path.join(work, "crawl")
        self.seed = seed
        self.size = SMOKE if smoke else FULL
        self.n_rep = 0

    def make_inputs(self, spark) -> None:
        from ecc_spark import gen

        hosts = self.size["hosts"]
        self.urls = [u["url"] for u in gen.frontier_urls(self.size["seeds"], n_hosts=hosts,
                                                         seed=self.seed)]
        self.robots_rules = gen.robots_rules(n_hosts=hosts, seed=self.seed + 1)
        self.robots_txt = spark.createDataFrame(
            gen.robots_txt_bodies(n_hosts=hosts, seed=self.seed + 1),
            schema="host string, content string")
        self.seed_df = spark.createDataFrame([(u,) for u in self.urls], schema="url string")

    def _engine(self, spark, workdir: str, resume: bool = False, robots_txt=None):
        from ecc_spark.crawl.frontier import CrawlEngine

        if robots_txt is None:
            robots_txt = self.robots_txt
        return CrawlEngine(spark, workdir, robots_txt=robots_txt,
                           host_budget=self.size["budget"], max_depth=MAX_DEPTH,
                           use_bloom=True, resume=resume)

    def warmup(self, spark) -> None:
        """A small crawl through seed, one wave, expire and resume: starts
        the Python workers and compiles the plans before the first timed
        repetition (a recrawl wave runs the forward wave's plans)."""
        from ecc_spark import gen

        hosts = SMOKE["hosts"]
        robots_txt = spark.createDataFrame(
            gen.robots_txt_bodies(n_hosts=hosts, seed=self.seed + 1),
            schema="host string, content string")
        urls = [(u["url"],) for u in gen.frontier_urls(SMOKE["seeds"], n_hosts=hosts,
                                                       seed=self.seed)]
        workdir = os.path.join(self.work, "warmup")
        shutil.rmtree(self.work, ignore_errors=True)
        eng = self._engine(spark, workdir, robots_txt=robots_txt)
        eng.seed(spark.createDataFrame(urls, schema="url string"))
        eng.run_wave()
        eng.expire(0)
        self._engine(spark, workdir, robots_txt=robots_txt, resume=True)

    def rep(self, spark) -> dict:
        """One crawl in a fresh work directory. Only the engine calls are
        timed; the state snapshots the checks need are read between them."""
        sc = spark.sparkContext
        self.n_rep += 1
        workdir = os.path.join(self.work, f"rep{self.n_rep}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(workdir)
        out: dict = {"ops": []}

        def step(name: str, group: str, fn):
            sc.setJobGroup(group, name)
            res, dt = H.timed(fn)
            out["ops"].append((name, dt, True))
            return res

        eng = self._engine(spark, workdir)
        step("seed", "crawl.seed", lambda: eng.seed(self.seed_df))
        out["waves"] = [step(f"wave{k}", "crawl.wave", eng.run_wave) for k in range(WAVES)]
        sc.setJobGroup("bench", "checks")
        out["forward_seen"] = [(r["order_key"], r["url"])
                               for r in eng.seen().select("order_key", "url").collect()]
        out["queued_after"] = eng.queued_rows()
        frontier_ever = eng.t_frontier.read().select("url_hash")
        out["expire"] = step("expire", "crawl.expire", lambda: eng.expire(0))
        eng2 = step("resume_open", "crawl.resume",
                    lambda: self._engine(spark, workdir, resume=True))
        out["recrawl"] = step("recrawl_wave", "crawl.recrawl", eng2.run_wave)
        sc.setJobGroup("bench", "checks")
        out["final_seen"] = [(r["order_key"], r["url"])
                             for r in eng2.seen().select("order_key", "url").collect()]
        out["engine"], out["frontier_ever"] = eng2, frontier_ever
        out["seconds"] = sum(op[1] for op in out["ops"])
        return out

    # -- metrics --------------------------------------------------------
    @staticmethod
    def _rate(waves) -> float:
        """(urls scheduled + spans extracted) ÷ wave seconds, as bench.py."""
        return sum(w.scheduled + w.extracted for w in waves) / sum(w.seconds for w in waves)

    def detail(self, reps: list[dict]) -> dict:
        def op(r, name):
            return next(o[1] for o in r["ops"] if o[0] == name)

        return {
            "crawl_urls_per_s": (H.median([self._rate(r["waves"]) for r in reps]), "urls/s"),
            "wave_s_max": (H.median([max(w.seconds for w in r["waves"]) for r in reps]), "s"),
            "recrawl_s": (H.median([op(r, "expire") + op(r, "resume_open")
                                    + op(r, "recrawl_wave") for r in reps]), "s"),
            "crawl.seed_s": (H.median([op(r, "seed") for r in reps]), "s"),
            "crawl.expire_s": (H.median([op(r, "expire") for r in reps]), "s"),
            "crawl.resume_open_s": (H.median([op(r, "resume_open") for r in reps]), "s"),
            "crawl.recrawl_wave_s": (H.median([op(r, "recrawl_wave") for r in reps]), "s"),
        }

    def wave_layers(self, reps: list[dict]) -> dict:
        """Driver-visible crawl.frontier numbers from ``WaveMetrics``."""
        out = {}
        for key in DETAIL_KEYS:
            out[f"crawl.{key}_s"] = (H.median([
                sum(w.detail.get(key, 0.0) for w in r["waves"]) for r in reps]), "s")
        last = reps[-1]
        extracted = sum(w.extracted for w in last["waves"])
        new = sum(w.new_urls for w in last["waves"])
        out.update({
            "crawl.scheduled": (sum(w.scheduled for w in last["waves"]), "count"),
            "crawl.extracted": (extracted, "count"),
            "crawl.new_urls": (new, "count"),
            "crawl.queued_after": (last["queued_after"], "count"),
            "crawl.discovery_yield": (new / extracted if extracted else 0.0, "ratio"),
        })
        return out

    # -- correctness ----------------------------------------------------
    def check(self, spark, reps: list[dict]) -> tuple[int, list[str], dict]:
        from tests import ref_crawler

        t0 = time.perf_counter()
        order, seen, stats = ref_crawler.crawl(
            self.urls, self.robots_rules, self.size["budget"], WAVES, max_depth=MAX_DEPTH)
        ref_s = time.perf_counter() - t0
        want_order = [(k, u) for k, _, u in order]
        failures = []
        recrawl_counts = set()
        for i, r in enumerate(reps):
            got = sorted(r["forward_seen"])
            if got != want_order:
                failures.append(f"rep {i}: forward crawl order differs from the reference")
            if {u for _, u in got} != set(seen):
                failures.append(f"rep {i}: forward seen set differs from the reference")
            got_stats = [(w.scheduled, w.extracted, w.new_urls) for w in r["waves"]]
            if got_stats != [tuple(s) for s in stats]:
                failures.append(f"rep {i}: wave counts {got_stats} != reference {stats}")
            keys = sorted(k for k, _ in r["final_seen"])
            urls = [u for _, u in r["final_seen"]]
            if not keys or keys != list(range(keys[0], keys[0] + len(keys))):
                failures.append(f"rep {i}: order keys after the recrawl are not contiguous")
            if len(set(urls)) != len(urls):
                failures.append(f"rep {i}: seen set has duplicates after the recrawl")
            w = r["recrawl"]
            recrawl_counts.add((w.scheduled, w.extracted, w.new_urls, r["expire"]["expired"]))
        if len(recrawl_counts) != 1:
            failures.append(f"recrawl counts differ between repetitions: {recrawl_counts}")
        return 5 * len(reps) + 1, failures, {"ref_crawler.python_s": (ref_s, "s")}

    # -- traced layer probes --------------------------------------------
    def probes(self, spark, reps: list[dict]) -> dict:
        """The waves' own numbers, then the standalone seen prefilter over
        the last repetition's final seen table: build the filter, then
        probe every URL ever queued."""
        import numpy as np

        from ecc_spark.crawl import seen as S

        sc = spark.sparkContext
        eng, cand = reps[-1]["engine"], reps[-1]["frontier_ever"]
        seen_df = eng.seen()
        sc.setJobGroup("crawl.seen.build", "build_bloom")
        bloom, build_s = H.timed(lambda: {r["bucket"]: r["bitmap"]
                                          for r in S.build_bloom(seen_df).collect()})
        sc.setJobGroup("crawl.seen.probe", "filter_unseen")
        probe = S.filter_unseen(cand, seen_df, bloom=bloom)
        _, probe_s = H.timed(lambda: probe.write.format("noop").mode("overwrite").save())
        sc.setJobGroup("bench", "checks")
        hashes = np.array([r[0] for r in cand.collect()], dtype=np.int64)
        buckets = np.mod(hashes, 64)
        maybe = 0
        for b in np.unique(buckets):
            raw = bloom.get(int(b))
            if raw is not None:
                maybe += int(S._membership(np.frombuffer(raw, dtype=np.uint8),
                                           hashes[buckets == b]).sum())
        return {
            **self.wave_layers(reps),
            "crawl.seen.build_s": (build_s, "s"),
            "crawl.seen.probe_s": (probe_s, "s"),
            "crawl.seen.maybe_ratio": (maybe / len(hashes) if len(hashes) else 0.0, "ratio"),
        }

    def kernels(self, reps: list[dict]) -> dict:
        from ecc_spark.crawl.fetchsim import simulate_fetch
        from ecc_spark.ingest import parse_markup

        urls = [u for _, u in sorted(reps[-1]["forward_seen"])][:KERNEL_ROWS]
        pages = [simulate_fetch(u) for u in urls]
        return {
            "crawl.fetch_extract_us": (H.per_row_us(
                lambda u: parse_markup(simulate_fetch(u)), urls), "us"),
            "ingest.parse_wikitext_us": (H.per_row_us(parse_markup, pages), "us"),
        }
