"""CLI mirroring the reference's command surface (``python -m ecc_spark``;
reference: entity_context_crawler/__main__.py:19-68). Same subcommands,
same flags, same file formats for entities JSON and mid2rid TXT; the
SQLite outputs become parquet table directories. Designed for
``spark-submit --py-files ecc_spark.zip`` on a cluster — the session
factory only fills in a master when none is configured.

    python -m ecc_spark ingest            markup.parquet docs.parquet
    python -m ecc_spark build-matches-db  docs.parquet entities.json out_matches/
    python -m ecc_spark build-contexts-db entities.json mid2rid.txt matches/ out_contexts/
    python -m ecc_spark ingest-warc       archive.warc.gz docs.parquet
    python -m ecc_spark crawl             seeds.txt workdir/

Divergences from the reference, all documented: --in-memory is accepted
and ignored (shuffle/caching subsumes it, SURVEY.md OPS-6); the XML dump
scan is replaced by the `ingest` step over markup parquet.
"""

from __future__ import annotations

import os
import sys
from argparse import ArgumentParser, HelpFormatter


def _formatter(prog):
    return HelpFormatter(prog, max_help_position=40)


def _check_overwrite(path: str, overwrite: bool, what: str) -> bool:
    # reference cmd/build_matches_db.py:100-105
    if os.path.exists(path) and not overwrite:
        print(f"{what} already exists. Use --overwrite to overwrite it.")
        return False
    return True


def cmd_ingest(args) -> int:
    from ecc_spark.ingest import ingest_markup
    from ecc_spark.session import get_spark

    spark = get_spark("ecc_ingest")
    df = spark.read.parquet(args.markup_parquet)
    if args.limit_pages:  # OPS-24: limit on the raw stream, before filters
        df = df.orderBy("doc_seq" if "doc_seq" in df.columns else "doc_id").limit(
            args.limit_pages
        )
    ingest_markup(df).write.mode("overwrite" if args.overwrite else "errorifexists").parquet(
        args.out_parquet
    )
    print(f"ingested -> {args.out_parquet}")
    return 0


def cmd_ingest_xml(args) -> int:
    """Real dump front door (reference util/wikipedia.py:17-77): XML →
    documents parquet (doc_id, redirect, spans, hidden_links, doc_seq),
    printing the reference's scan counters."""
    from ecc_spark.session import get_spark
    from ecc_spark.wiki_xml import ingest_wikipedia_xml, scan_stats, wikipedia_pages

    if not os.path.isfile(args.wiki_xml):
        print("Wikipedia XML not found")
        return 2
    if not _check_overwrite(args.out_parquet, args.overwrite, "Documents parquet"):
        return 2
    spark = get_spark("ecc_ingest_xml")
    raw = ingest_wikipedia_xml(spark, args.wiki_xml, limit_pages=args.limit_pages)
    # Both consumers (documents write + counters) share one parse: the
    # XML+wikitext pandas UDF would otherwise run twice over the full dump.
    raw = raw.persist()
    try:
        wikipedia_pages(raw).write.mode(
            "overwrite" if args.overwrite else "errorifexists"
        ).parquet(args.out_parquet)
        st = scan_stats(raw)
    finally:
        raw.unpersist()
    # reference cmd/build_matches_db.py:183-186 + util/wikipedia.py counters
    print()
    print("Stats")
    print(f"\tMissing titles: {st.missing_titles}")
    print(f"\tMissing texts: {st.missing_texts}")
    print(f"\tSkipped special pages: {st.skipped_special_pages}")
    print()
    print(f"ingested {st.kept} pages -> {args.out_parquet}")
    return 0


def cmd_build_matches(args) -> int:
    from ecc_spark.dao import MatchesStore, load_entities_json, seeds_df
    from ecc_spark.matches import build_matches
    from ecc_spark.session import get_spark

    if not os.path.isfile(args.freebase_json):
        print("Freebase JSON not found")
        return 2
    if not _check_overwrite(args.matches_db, args.overwrite, "Matches DB"):
        return 2
    spark = get_spark("ecc_build_matches")
    docs = spark.read.parquet(args.docs_parquet)
    if args.limit_pages:
        docs = docs.orderBy("doc_seq" if "doc_seq" in docs.columns else "doc_id").limit(
            args.limit_pages
        )
    seeds = seeds_df(spark, load_entities_json(args.freebase_json))
    pages, matches, mentions = build_matches(docs, seeds)
    MatchesStore(spark, args.matches_db).write(pages, matches, mentions)
    n = MatchesStore(spark, args.matches_db).pages().count()
    print(f"matches DB written: {n} pages -> {args.matches_db}")
    return 0


def cmd_build_contexts(args) -> int:
    from ecc_spark.contexts import build_contexts
    from ecc_spark.dao import (
        ContextsStore,
        MatchesStore,
        load_entities_json,
        load_mid2rid_txt,
    )
    from ecc_spark.session import get_spark

    for p, what in [(args.freebase_json, "Freebase JSON"), (args.mid2rid_txt, "mid2rid TXT")]:
        if not os.path.isfile(p):
            print(f"{what} not found")
            return 2
    if not _check_overwrite(args.contexts_db, args.overwrite, "Contexts DB"):
        return 2
    spark = get_spark("ecc_build_contexts")
    entities = load_entities_json(args.freebase_json)
    mid2rid = load_mid2rid_txt(args.mid2rid_txt)
    store = MatchesStore(spark, args.matches_db)
    ctx = build_contexts(
        spark,
        store.matches(),
        store.pages(),
        store.mentions(),
        [(e["mid"], e["label"], e["wikipedia"]) for e in entities],
        mid2rid,
        context_size=args.context_size,
        crop_sentences=args.crop_sentences,
        limit_contexts=args.limit_contexts,
        limit_entities=args.limit_entities,
        random_seed=args.random_seed,
        sample_mode=args.sample_mode,
    )
    ContextsStore(spark, args.contexts_db).write(ctx)
    out = ContextsStore(spark, args.contexts_db)
    if args.csv_file:  # per-entity stats CSV (ref cmd/build_contexts_db.py:234-236)
        import pyspark.sql.functions as F

        stats = out.contexts().groupBy("entity_label").agg(F.count("*").alias("n"))
        with open(args.csv_file, "w", encoding="utf-8") as fh:
            for r in stats.collect():
                fh.write(f"{r['entity_label']},{r['n']}\n")
    print(f"contexts DB written: {out.contexts().count()} contexts -> {args.contexts_db}")
    return 0


def cmd_crawl(args) -> int:
    from ecc_spark.crawl.frontier import CrawlEngine
    from ecc_spark.session import get_spark

    spark = get_spark("ecc_crawl")
    robots = robots_txt = host_budgets = None
    if args.robots_parquet and args.robots_dir:
        print("pass --robots-parquet OR --robots-dir, not both", file=sys.stderr)
        return 2
    if args.robots_parquet:
        robots = spark.read.parquet(args.robots_parquet)
    if args.robots_dir:
        # one <host>.txt per host, RFC 9309 bodies → REP gate; Crawl-delay
        # becomes a per-host politeness budget (60s wave horizon)
        import glob as _glob

        from ecc_spark.crawl.robots import host_budgets_from_delays, parse_robots_txt

        bodies = []
        for path in sorted(_glob.glob(os.path.join(args.robots_dir, "*.txt"))):
            host = os.path.splitext(os.path.basename(path))[0]
            with open(path, encoding="utf-8") as fh:
                bodies.append((host, fh.read()))
        robots_txt = spark.createDataFrame(bodies or [("", "")], "host string, content string")
        host_budgets = host_budgets_from_delays(
            parse_robots_txt(robots_txt), wave_seconds=60,
            default_budget=args.host_budget,
        )
    eng = CrawlEngine(
        spark, args.workdir, robots=robots, robots_txt=robots_txt,
        host_budgets=host_budgets, host_budget=args.host_budget,
        n_salts=args.n_salts, max_depth=args.max_depth,
        failure_permille=args.failure_permille, resume=args.resume,
        archive_dir=args.archive_warc,
    )
    if not args.resume:
        if args.seed_sitemaps:
            # a directory of <host>.xml|.txt sitemap bodies seeds the
            # frontier (sitemap <priority> maps onto crawl order)
            import glob as _g

            from ecc_spark.crawl.sitemap import parse_sitemaps, sitemap_seeds

            bodies = []
            for path in sorted(_g.glob(os.path.join(args.seed_sitemaps, "*"))):
                host = os.path.splitext(os.path.basename(path))[0]
                with open(path, encoding="utf-8") as fh:
                    bodies.append((host, fh.read()))
            sm = spark.createDataFrame(bodies, "host string, content string")
            eng.seed(sitemap_seeds(parse_sitemaps(sm)))
        else:
            with open(args.seeds_txt, encoding="utf-8") as fh:
                urls = [line.strip() for line in fh if line.strip()]
            eng.seed(spark.createDataFrame([(u,) for u in urls], schema="url string"))
    res = eng.run(args.waves)
    for w in res.waves:
        print(
            f"wave {w.wave}: scheduled={w.scheduled} fetched={w.fetched} "
            f"extracted={w.extracted} new={w.new_urls} {w.seconds:.1f}s"
        )
    return 0


def cmd_ingest_warc(args) -> int:
    """WARC archive(s) → documents parquet (doc_id = target URI, spans)
    and optionally media parquet (archived image/audio/video payloads),
    via ecc_spark.warc's Content-Length-framed file-parallel reader."""
    from ecc_spark.session import get_spark
    from ecc_spark.warc import warc_to_documents, warc_to_media

    from ecc_spark.warc import read_warc

    if not os.path.exists(args.warc_path):
        print("WARC path not found")
        return 2
    if not _check_overwrite(args.out_parquet, args.overwrite, "Documents parquet"):
        return 2
    if args.media_parquet and not _check_overwrite(
        args.media_parquet, args.overwrite, "Media parquet"
    ):
        return 2
    spark = get_spark("ecc_ingest_warc")
    # parse each archive ONCE: both extractors consume the same
    # persisted records frame (gunzip + Content-Length framing is the
    # dominant cost; running it twice would double the whole job)
    records = read_warc(spark, args.warc_path).persist()
    try:
        warc_to_documents(
            spark, records, drop_boilerplate=args.drop_boilerplate
        ).write.mode("overwrite").parquet(args.out_parquet)
        print(f"documents: {spark.read.parquet(args.out_parquet).count()}")
        if args.media_parquet:
            warc_to_media(spark, records).write.mode("overwrite").parquet(
                args.media_parquet
            )
            print(f"media: {spark.read.parquet(args.media_parquet).count()}")
        n_bad = records.filter("warc_type = 'parse_error'").count()
        if n_bad:
            print(f"WARNING: {n_bad} file(s) had parse errors (skipped; "
                  "see warc_type='parse_error' rows via ecc_spark.warc.read_warc)")
    finally:
        records.unpersist()
    return 0


def cmd_index_warc(args) -> int:
    """WARC archive(s) → CDX parquet index (SURT urlkey, offset/length
    per stored record) — the random-access sidecar for fetch_record."""
    from ecc_spark.session import get_spark
    from ecc_spark.warc import warc_cdx

    if not os.path.exists(args.warc_path):
        print("WARC path not found")
        return 2
    if not _check_overwrite(args.out_parquet, args.overwrite, "CDX parquet"):
        return 2
    spark = get_spark("ecc_index_warc")
    cdx = warc_cdx(spark, args.warc_path).orderBy("urlkey", "warc_date")
    cdx.write.mode("overwrite").parquet(args.out_parquet)
    n = spark.read.parquet(args.out_parquet).count()
    bad = spark.read.parquet(args.out_parquet).filter(
        "warc_type = 'parse_error'"
    ).count()
    print(f"cdx rows: {n}" + (f" (WARNING: {bad} parse errors)" if bad else ""))
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = ArgumentParser(
        formatter_class=_formatter,
        description="ecc_spark — PySpark-native entity-context engine",
    )
    subs = parser.add_subparsers(required=True)

    common = ArgumentParser(add_help=False)
    common.add_argument("--random-seed", dest="random_seed", metavar="STR", default=None)

    p = subs.add_parser("ingest", formatter_class=_formatter, parents=[common])
    p.add_argument("markup_parquet")
    p.add_argument("out_parquet")
    p.add_argument("--limit-pages", type=int, default=None)
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(func=cmd_ingest)

    p = subs.add_parser("ingest-xml", formatter_class=_formatter, parents=[common])
    p.add_argument("wiki_xml", metavar="wiki-xml")
    p.add_argument("out_parquet", metavar="out-parquet")
    p.add_argument("--limit-pages", type=int, default=None)
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(func=cmd_ingest_xml)

    p = subs.add_parser("ingest-warc", formatter_class=_formatter, parents=[common])
    p.add_argument("warc_path", metavar="warc-path",
                   help="a .warc/.warc.gz file or a directory of them")
    p.add_argument("out_parquet", metavar="out-parquet")
    p.add_argument("--media-parquet", default=None,
                   help="also extract archived image/audio/video responses")
    p.add_argument("--drop-boilerplate", dest="drop_boilerplate", action="store_true",
                   help="drop nav/footer/aside/header/form subtrees "
                        "(site chrome that poisons dedup + LM stats)")
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(func=cmd_ingest_warc)

    p = subs.add_parser("index-warc", formatter_class=_formatter, parents=[common])
    p.add_argument("warc_path", metavar="warc-path")
    p.add_argument("out_parquet", metavar="out-parquet")
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(func=cmd_index_warc)

    p = subs.add_parser("build-matches-db", formatter_class=_formatter, parents=[common])
    p.add_argument("docs_parquet", metavar="docs-parquet")
    p.add_argument("freebase_json", metavar="freebase-json")
    p.add_argument("matches_db", metavar="matches-db")
    p.add_argument("--in-memory", dest="in_memory", action="store_true",
                   help="accepted for compatibility; a no-op on Spark")
    p.add_argument("--limit-pages", dest="limit_pages", type=int, default=None)
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(func=cmd_build_matches)

    p = subs.add_parser("build-contexts-db", formatter_class=_formatter, parents=[common])
    p.add_argument("freebase_json", metavar="freebase-json")
    p.add_argument("mid2rid_txt", metavar="mid2rid-txt")
    p.add_argument("matches_db", metavar="matches-db")
    p.add_argument("contexts_db", metavar="contexts-db")
    p.add_argument("--context-size", type=int, default=100)
    p.add_argument("--crop-sentences", action="store_true")
    p.add_argument("--csv-file", dest="csv_file", default=None)
    p.add_argument("--limit-contexts", type=int, default=None)
    p.add_argument("--limit-entities", type=int, default=None)
    p.add_argument("--sample-mode", choices=["hash", "parity"], default="hash")
    p.add_argument("--overwrite", action="store_true")
    p.set_defaults(func=cmd_build_contexts)

    p = subs.add_parser("crawl", formatter_class=_formatter, parents=[common])
    p.add_argument("seeds_txt")
    p.add_argument("workdir")
    p.add_argument("--seed-sitemaps", default=None, metavar="DIR",
                   help="seed from a directory of <host>.xml|.txt sitemap "
                        "bodies instead of seeds_txt (pass '-' as seeds_txt)")
    p.add_argument("--robots-parquet", default=None,
                   help="pre-parsed (host, path_prefix, allow) rules")
    p.add_argument("--robots-dir", default=None,
                   help="directory of <host>.txt RFC 9309 robots.txt bodies; "
                        "also sets Crawl-delay budgets")
    p.add_argument("--host-budget", type=int, default=100)
    p.add_argument("--n-salts", type=int, default=16)
    p.add_argument("--max-depth", type=int, default=3)
    p.add_argument("--waves", type=int, default=3)
    p.add_argument("--failure-permille", type=int, default=0,
                   help="simulate transient fetch failures (0-1000); "
                        "failed URLs retry next wave via the queue view")
    p.add_argument("--resume", action="store_true")
    p.add_argument("--archive-warc", dest="archive_warc", default=None, metavar="DIR",
                   help="archive each wave's fetched pages as WARC parts "
                        "under DIR/wave=N (default: content never leaves "
                        "the executors)")
    p.set_defaults(func=cmd_crawl)

    args = parser.parse_args(argv[1:] if argv else None)
    return args.func(args)


if __name__ == "__main__":
    raise SystemExit(main(sys.argv))
