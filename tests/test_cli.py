"""CLI end-to-end: reference-format files in, parquet stores out; the
full ingest → build-matches-db → build-contexts-db chain equals the
direct pipeline calls, and the read API works over the stores."""

from __future__ import annotations

import json

import pyspark.sql.functions as F

from ecc_spark import api, gen
from ecc_spark.__main__ import main as cli
from ecc_spark.dao import ContextsStore, MatchesStore


def _write_inputs(spark, tmp):
    docs, seeds, m2r = gen.corpus(n_docs=40, n_seeds=12, seed=21)
    rows = [
        {"doc_id": d["doc_id"], "redirect": d["redirect"], "markup": d["markup"], "doc_seq": i}
        for i, d in enumerate(docs)
        if d["markup"] is not None
    ]
    markup_path = str(tmp / "markup.parquet")
    spark.createDataFrame(
        rows, schema="doc_id string, redirect string, markup string, doc_seq long"
    ).write.parquet(markup_path)
    entities = {s["mid"]: {"label": s["label"], "wikipedia": s["wikipedia"]} for s in seeds}
    ent_path = tmp / "entities.json"
    ent_path.write_text(json.dumps(entities), encoding="utf-8")
    m2r_path = tmp / "mid2rid.txt"
    m2r_path.write_text(
        f"{len(m2r)}\n" + "\n".join(f"{r['mid']} {r['rid']}" for r in m2r), encoding="utf-8"
    )
    return markup_path, str(ent_path), str(m2r_path)


def test_cli_full_chain(spark, tmp_path):
    markup, entities, mid2rid = _write_inputs(spark, tmp_path)
    docs_out = str(tmp_path / "docs.parquet")
    matches_db = str(tmp_path / "matches_db")
    contexts_db = str(tmp_path / "contexts_db")

    assert cli(["ecc", "ingest", markup, docs_out]) == 0
    assert cli(["ecc", "build-matches-db", docs_out, entities, matches_db]) == 0
    # overwrite guard (reference cmd/build_matches_db.py:100-105)
    assert cli(["ecc", "build-matches-db", docs_out, entities, matches_db]) == 2
    csv = str(tmp_path / "stats.csv")
    assert (
        cli(
            [
                "ecc", "build-contexts-db", entities, mid2rid, matches_db, contexts_db,
                "--context-size", "100", "--crop-sentences", "--limit-contexts", "20",
                "--csv-file", csv, "--random-seed", "7",
            ]
        )
        == 0
    )

    store = ContextsStore(spark, contexts_db)
    ctx = store.contexts()
    assert ctx.count() > 0
    assert ctx.columns == [
        "entity", "entity_label", "mention", "page_title", "context", "masked_context",
    ]
    assert all("#" in r["masked_context"] for r in ctx.collect())
    with open(csv, encoding="utf-8") as fh:
        assert len(fh.readlines()) > 0

    # read API over the stores (reference DAO surface)
    ents = api.select_distinct_entities(store).collect()
    assert ents
    one = ents[0]["entity"]
    got = api.select_contexts(store, one, limit=3).collect()
    assert 0 < len(got) <= 3

    ms = MatchesStore(spark, matches_db)
    mid = ms.mentions().first()["mid"]
    assert api.select_entity_mentions(ms, mid).count() > 0
    ec = api.select_entity_contexts(ms, mid, size=80)
    assert ec.columns == ["context", "page_title", "mention"]
    assert ec.count() > 0


def test_cli_limit_pages(spark, tmp_path):
    markup, entities, _ = _write_inputs(spark, tmp_path)
    docs_out = str(tmp_path / "docs10.parquet")
    assert cli(["ecc", "ingest", markup, docs_out, "--limit-pages", "10"]) == 0
    assert spark.read.parquet(docs_out).count() == 10


def test_cli_crawl_and_resume(spark, tmp_path):
    seeds_txt = tmp_path / "seeds.txt"
    urls = [u["url"] for u in gen.frontier_urls(120, n_hosts=10, seed=3)]
    seeds_txt.write_text("\n".join(urls), encoding="utf-8")
    wd = str(tmp_path / "crawlwd")
    assert cli(["ecc", "crawl", str(seeds_txt), wd, "--waves", "1", "--host-budget", "5",
                "--max-depth", "1"]) == 0
    assert cli(["ecc", "crawl", str(seeds_txt), wd, "--waves", "1", "--resume"]) == 0
    from ecc_spark.crawl.checkpoint import SnapshotTable

    seen = SnapshotTable(spark, wd, "seen").read()
    assert seen.count() > 0
    assert seen.select(F.countDistinct("order_key")).first()[0] == seen.count()


def _crawl_sitemap_seeds(spark, tmp_path, robots_args):
    """Crawl one wave from a sitemap that lists a /private/ URL; returns
    the seen set."""
    sd = tmp_path / "maps"
    sd.mkdir()
    (sd / "s.test.xml").write_text(
        "<urlset><url><loc>http://s.test/a</loc><priority>0.9</priority></url>"
        "<url><loc>http://s.test/private/x</loc></url>"
        "<url><loc>http://s.test/b</loc></url></urlset>",
        encoding="utf-8",
    )
    wd = str(tmp_path / "wd")
    assert cli(["ecc", "crawl", "-", wd, *robots_args,
                "--seed-sitemaps", str(sd), "--waves", "1",
                "--host-budget", "5", "--n-salts", "4", "--max-depth", "1"]) == 0
    from ecc_spark.crawl.checkpoint import SnapshotTable

    return {r["url"] for r in SnapshotTable(spark, wd, "seen").read().collect()}


def test_cli_crawl_robots_dir_and_sitemap_seeds(spark, tmp_path):
    """--robots-dir (RFC 9309 bodies, REP gate + Crawl-delay budgets)
    and --seed-sitemaps (directory of sitemap bodies) end-to-end."""
    rd = tmp_path / "robots"
    rd.mkdir()
    (rd / "s.test.txt").write_text(
        "User-agent: *\nDisallow: /private/\nCrawl-delay: 10", encoding="utf-8"
    )
    seen = _crawl_sitemap_seeds(spark, tmp_path, ["--robots-dir", str(rd)])
    assert seen == {"http://s.test/a", "http://s.test/b"}  # /private/ gated


def test_cli_crawl_robots_parquet_gates_seed(spark, tmp_path):
    """--robots-parquet: a pre-parsed (host, path_prefix, allow) table
    gates a disallowed seed through the same REP gate."""
    rp = str(tmp_path / "robots.parquet")
    spark.createDataFrame(
        [("s.test", "/private/", False), ("s.test", "/private/x", True)],
        "host string, path_prefix string, allow boolean",
    ).write.parquet(rp)
    seen = _crawl_sitemap_seeds(spark, tmp_path, ["--robots-parquet", rp])
    assert seen == {"http://s.test/a", "http://s.test/b"}  # /private/ gated


def test_cli_ingest_warc(spark, tmp_path):
    """ingest-warc: archive in, DOCUMENTS parquet out (+ media parquet
    for archived image responses) through the same in-process CLI."""
    import numpy as np

    from ecc_spark.ops.codecs import encode_png
    from ecc_spark.warc import encode_warc

    def resp(uri, ctype, body):
        http = f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n".encode() + body
        return ({"WARC-Type": "response", "WARC-Target-URI": uri,
                 "WARC-Record-ID": f"<urn:{uri}>"}, http)

    png = encode_png(np.zeros((4, 4), dtype=np.uint8))
    recs = [
        resp("http://c/1", "text/html", b"<p>one <a href='T'>link</a></p>"),
        resp("http://c/2", "image/png", png),
    ]
    (tmp_path / "a.warc.gz").write_bytes(encode_warc(recs, compress=True))
    docs_out = str(tmp_path / "docs.parquet")
    media_out = str(tmp_path / "media.parquet")
    rc = cli([
        "ecc", "ingest-warc", str(tmp_path), docs_out,
        "--media-parquet", media_out,
    ])
    assert rc == 0
    docs = spark.read.parquet(docs_out)
    assert [r["doc_id"] for r in docs.collect()] == ["http://c/1"]
    assert docs.select(F.explode("spans").alias("s")).filter(
        "s.kind = 'link'"
    ).count() == 1
    media = spark.read.parquet(media_out).collect()
    assert [(r["media_ref"], r["kind"]) for r in media] == [("http://c/2", "image")]
    assert bytes(media[0]["payload"]) == png
