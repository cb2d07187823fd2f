"""wiki_pipeline: the paper's own job through its CLI, in-process.

``ingest-xml`` → ``build-matches-db`` → ``build-contexts-db
--crop-sentences`` (no context limit) over a generated MediaWiki dump,
checked row for row against the pure-Python reference model.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from perfbench import harness as H

FULL = {"pages": 2000, "entities": 200}
SMOKE = {"pages": 120, "entities": 20}
KERNEL_ROWS = 200
STEPS = ("ingest_xml", "build_matches_db", "build_contexts_db")


class WikiPipeline:
    name = "wiki_pipeline"
    rep_s = 10  # nominal seconds per repetition on 4 CPUs

    def __init__(self, work: str, seed: int, smoke: bool):
        self.work = work
        self.seed = seed
        self.size = SMOKE if smoke else FULL
        d = os.path.join(work, "wiki")
        os.makedirs(d, exist_ok=True)
        self.xml = os.path.join(d, "dump.xml")
        self.entities = os.path.join(d, "entities.json")
        self.mid2rid = os.path.join(d, "mid2rid.txt")
        self.docs = os.path.join(d, "docs.parquet")
        self.matches_db = os.path.join(d, "matches_db")
        self.contexts_db = os.path.join(d, "contexts_db")
        self.scratch = os.path.join(d, "scratch")

    # -- inputs ---------------------------------------------------------
    def make_inputs(self, spark) -> None:
        from ecc_spark import gen

        n, e = self.size["pages"], self.size["entities"]
        self.items = gen.wiki_xml(self.xml, n_docs=n, n_seeds=e, seed=self.seed)["kept"]
        self.corpus, self.seeds, m2r = gen.corpus(n_docs=n, n_seeds=e, seed=self.seed)
        with open(self.entities, "w", encoding="utf-8") as fh:
            json.dump({s["mid"]: {"label": s["label"], "wikipedia": s["wikipedia"]}
                       for s in self.seeds}, fh)
        with open(self.mid2rid, "w", encoding="utf-8") as fh:
            fh.write(f"{len(m2r)}\n" + "\n".join(f"{r['mid']} {r['rid']}" for r in m2r))
        self.m2r = {r["mid"]: r["rid"] for r in m2r}

    # -- one repetition -------------------------------------------------
    def _argv(self, step: str) -> list[str]:
        return {
            "ingest_xml": ["ingest-xml", self.xml, self.docs],
            "build_matches_db": ["build-matches-db", self.docs, self.entities, self.matches_db],
            "build_contexts_db": ["build-contexts-db", self.entities, self.mid2rid,
                                  self.matches_db, self.contexts_db, "--crop-sentences"],
        }[step] + ["--overwrite"]

    GROUPS = {"ingest_xml": "cli.ingest_xml", "build_matches_db": "matches",
              "build_contexts_db": "contexts"}

    def rep(self, spark) -> dict:
        """→ {"ops": [(name, seconds, ok)], "seconds": timed total}."""
        from contextlib import redirect_stdout
        from io import StringIO

        from ecc_spark.__main__ import main as cli

        ops = []
        for step in STEPS:
            spark.sparkContext.setJobGroup(self.GROUPS[step], step)
            with redirect_stdout(StringIO()):  # the CLI reports to stdout
                rc, dt = H.timed(cli, ["ecc_spark"] + self._argv(step))
            ops.append((step, dt, rc == 0))
        spark.sparkContext.setJobGroup("bench", "between calls")
        return {"ops": ops, "seconds": sum(op[1] for op in ops)}

    # -- metrics --------------------------------------------------------
    def detail(self, reps: list[dict]) -> dict:
        out = {}
        for i, step in enumerate(STEPS):
            out[f"{step}_s"] = (H.median([r["ops"][i][1] for r in reps]), "s")
        out["pages_per_s"] = (self.items / H.median([r["seconds"] for r in reps]), "pages/s")
        return out

    # -- correctness ----------------------------------------------------
    def warmup(self, spark) -> None:
        """The pipeline over a small dump of the same seed: starts the
        Python workers and compiles every plan before the first timed
        repetition."""
        small = WikiPipeline(os.path.join(self.work, "warmup"), self.seed, smoke=True)
        small.make_inputs(spark)
        small.rep(spark)

    def check(self, spark, reps: list[dict]) -> tuple[int, list[str], dict]:
        """Compare the last repetition's tables with the reference model.
        → (checks made, failure messages, {metric: (value, unit)})."""
        from ecc_spark.dao import ContextsStore, MatchesStore
        from tests import ref_model

        t0 = time.perf_counter()
        rpages, rmatches, rmentions = ref_model.build_matches(self.corpus, self.seeds)
        seed_items = [(s["mid"], s["label"], s["wikipedia"]) for s in self.seeds]
        rctx = ref_model.build_contexts(
            rmatches, rpages, rmentions, seed_items, self.m2r,
            context_size=100, crop_sentences=True,
        )
        ref_s = time.perf_counter() - t0

        ms = MatchesStore(spark, self.matches_db)
        failures = []
        page_cols = ["title", "text", "link_count", "entity_link_count", "mention_count",
                     "unique_mention_count", "text_len", "clean_text_len", "match_count"]
        match_cols = ["mid", "entity_label", "mention", "page", "start_char", "end_char",
                      "context"]
        ctx_cols = ["entity", "entity_label", "mention", "page_title", "context",
                    "masked_context"]
        pairs = [
            ("pages", ms.pages().select(*page_cols), rpages, page_cols, set),
            ("matches", ms.matches().select(*match_cols), rmatches, match_cols, set),
            ("mentions", ms.mentions().select("mid", "entity_label", "mention"), rmentions,
             ["mid", "entity_label", "mention"], set),
            ("contexts", ContextsStore(spark, self.contexts_db).contexts().select(*ctx_cols),
             rctx, ctx_cols, sorted),
        ]
        counts = {}
        for name, df, ref, cols, shape in pairs:
            got = shape(tuple(r) for r in df.collect())
            want = shape(tuple(row[c] for c in cols) for row in ref)
            counts[name] = len(want)
            if got != want:
                failures.append(f"{name}: {len(got)} rows differ from the reference's {len(want)}")
        return len(pairs), failures, {
            "ref_model.python_s": (ref_s, "s"),
            "rows.pages": (counts["pages"], "count"),
            "rows.matches": (counts["matches"], "count"),
            "rows.contexts": (counts["contexts"], "count"),
        }

    # -- traced layer probes --------------------------------------------
    def probes(self, spark, reps: list[dict]) -> dict:
        """Standalone calls into each layer's public functions over this
        run's own data, each under its own job group; → driver-side
        metrics. The event-log numbers are read by the caller."""
        import pyspark.sql.functions as F

        from ecc_spark.contexts import context_window
        from ecc_spark.dao import ContextsStore, MatchesStore
        from ecc_spark.ingest import ingest_markup
        from ecc_spark.matches import plain_text_col
        from ecc_spark.udfs import clean_text_udf, crop_mask_udf, phrase_match_udf
        from ecc_spark.wiki_xml import read_wikipedia_xml, wikipedia_pages

        sc = spark.sparkContext

        def noop(group: str, df) -> None:
            sc.setJobGroup(group, group)
            df.write.format("noop").mode("overwrite").save()

        os.makedirs(self.scratch, exist_ok=True)
        pages_path = os.path.join(self.scratch, "pages.parquet")
        sc.setJobGroup("bench", "probe inputs")
        wikipedia_pages(read_wikipedia_xml(spark, self.xml)).write.mode("overwrite").parquet(
            pages_path)
        noop("wiki_xml", read_wikipedia_xml(spark, self.xml))
        noop("ingest", ingest_markup(spark.read.parquet(pages_path)))

        ms = MatchesStore(spark, self.matches_db)
        docs = spark.read.parquet(self.docs)
        noop("udfs.clean_text", docs.select(clean_text_udf(plain_text_col("spans"))))
        pats = ms.matches().groupBy("page").agg(F.array_sort(F.collect_set("mention")).alias("p"))
        pages = ms.pages()
        page_pats = pages.join(pats, pages.title == pats.page)
        noop("udfs.phrase_match", page_pats.select(phrase_match_udf("text", "p")))
        windows = context_window(ms.matches(), ms.pages(), 100).select(
            "window_context", F.array_sort(F.array_distinct(
                F.array("entity_label", "mention"))).alias("p"))
        noop("udfs.crop_mask", windows.select(
            crop_mask_udf("window_context", "p", F.lit("sentences"))))

        # dao: rewrite this run's outputs through the stores
        sc.setJobGroup("dao", "dao")
        out_m, out_c = os.path.join(self.scratch, "m"), os.path.join(self.scratch, "c")
        t0 = time.perf_counter()
        MatchesStore(spark, out_m).write(ms.pages(), ms.matches(), ms.mentions())
        ContextsStore(spark, out_c).write(ContextsStore(spark, self.contexts_db).contexts())
        dao_s = time.perf_counter() - t0
        out_mb = H.dir_mb(out_m) + H.dir_mb(out_c)
        rows = {
            "udfs.clean_text": docs.count(),
            "udfs.phrase_match": page_pats.count(),
            "udfs.crop_mask": windows.count(),
        }
        sc.setJobGroup("bench", "between calls")
        shutil.rmtree(self.scratch, ignore_errors=True)
        return {"dao.write_s": (dao_s, "s"), "dao.output_mb": (out_mb, "MB"), "_rows": rows}

    def kernels(self, reps: list[dict]) -> dict:
        """Single-threaded driver-side per-row times over a fixed sample
        of this run's own input (the first KERNEL_ROWS rows)."""
        from ecc_spark import text as X
        from ecc_spark.ingest import parse_wikitext
        from ecc_spark.wiki_xml import parse_page_xml
        from tests import ref_model

        with open(self.xml, encoding="utf-8") as fh:
            records = [r for r in fh.read().split("</page>") if "<page" in r][:KERNEL_ROWS]
        docs = [d for d in self.corpus if d["markup"] is not None][:KERNEL_ROWS]
        t2m = ref_model.title_to_mid(self.seeds)
        labels = {s["mid"]: s["label"] for s in self.seeds}
        texts, matchers, mention_mids = [], [], []
        for d in docs:
            texts.append("".join(s["text"] for s in d["spans"] if s["kind"] != "media"))
            m2m = {(s["text"] or s["media_ref"]): t2m[s["media_ref"]] for s in d["spans"]
                   if s["kind"] == "link" and s["media_ref"] in t2m}
            mention_mids.append(m2m)
            matchers.append(X.build_matcher(sorted(m2m)))
        clean = [X.clean_up_text(t) for t in texts]
        windows = []
        for c, m2m, m in zip(clean, mention_mids, matchers):
            for hit in X.phrase_match(c, m):
                pats = sorted({labels[m2m[hit.mention]], hit.mention})
                lo = max(hit.start_char - 100, 0)
                windows.append((c[lo:hit.end_char + 100], X.build_matcher(pats)))
        windows = windows[:KERNEL_ROWS]

        def crop_mask(w):
            cropped = X.crop_context_sentences(w[0], w[1])
            return X.mask_context(cropped, w[1]) if cropped else None

        return {
            "wiki_xml.parse_page_xml_us": (H.per_row_us(parse_page_xml, records), "us"),
            "ingest.parse_wikitext_us": (H.per_row_us(
                parse_wikitext, [d["markup"] for d in docs]), "us"),
            "text.clean_up_text_us": (H.per_row_us(X.clean_up_text, texts), "us"),
            "text.phrase_match_us": (H.per_row_us(
                lambda i: X.phrase_match(clean[i], matchers[i]), range(len(clean))), "us"),
            "text.crop_mask_us": (H.per_row_us(crop_mask, windows), "us"),
        }
