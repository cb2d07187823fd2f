"""Phase-1 engine: documents (interleaved spans) → pages / matches / mentions.

Re-expresses the reference's per-page worker pipeline
(cmd/build_matches_db.py:237-320) as ONE declarative Spark plan:

    documents scan → OPS-7/8 filters → links explode
      → broadcast semi-join on seed titles (OPS-13)
      → (doc_id, mention) ambiguity agg (OPS-18)            [shuffle 1]
      → per-doc mention-map agg                              [shuffle 1']
      → join back to docs on doc_id                          [shuffle 2]
      → ONE fused clean+phrase-match pandas UDF (OPS-30/31, narrow;
        one ArrowEvalPython node, one Python worker per task)
      → pages / matches / mentions projections + PK dedup (OPS-14)

Scale notes: the seed-title map is the only broadcast (small by
construction — it is the crawl seed list); everything else shuffles on
doc_id / (mid, mention), uniform keys. The mention→mid map rides along as
a per-doc MAP column, so match→mid resolution is a JVM map lookup, not a
second join. Catalyst prunes `spans` out of every branch that doesn't
need it and splits both aggregates into partial+final.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W
from pyspark.storagelevel import StorageLevel

from ecc_spark.session import drain_persisted, keep_persisted
from ecc_spark.udfs import clean_match_udf


def _first_writer(df: DataFrame, keys: list[str], order_cols: list[str]) -> DataFrame:
    """PK dedup with the reference's INSERT OR IGNORE semantics
    (dao/matches_db.py:53): the FIRST row in insertion order wins. When
    the order columns exist, pick min-order per key via a window;
    otherwise fall back to dropDuplicates (arbitrary winner — acceptable
    only when keys are unique by construction, e.g. one dump = unique
    titles)."""
    if all(c in df.columns for c in order_cols):
        w = W.partitionBy(*keys).orderBy(*order_cols)
        return df.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") == 1
        ).drop("_rn")
    return df.dropDuplicates(keys)

NAMESPACE_RE = (
    # exact reference set (util/wikipedia.py:66-71): Talk: plus X:/X talk:
    # — Special:/Media: are NOT in the reference list
    '^(?:Talk:|(?:User|Wikipedia|File|MediaWiki|Template|Help|Category|Portal|Book|Draft|Education Program|TimedText|Module|Gadget|Gadget definition)(?: talk)?:)'
)

DEBUG_CONTEXT_PAD = 20  # reference cmd/build_matches_db.py:295-297


def seed_title_map(seeds: DataFrame) -> DataFrame:
    """(title, mid, label) from seed URLs — reference
    cmd/build_matches_db.py:225-234: unquote the WHOLE url, then take the
    last '/'-segment, then '_'→' '. Last writer wins on duplicate titles
    (dict semantics); requires a ``seed_idx`` column for that ordering,
    else assumes titles unique."""
    s = seeds.filter(F.col("wikipedia") != "")
    title = F.replace(
        F.regexp_extract(F.url_decode("wikipedia"), r"([^/]+)$", 1), F.lit("_"), F.lit(" ")
    )
    out = s.select(title.alias("title"), "mid", "label", *(
        ["seed_idx"] if "seed_idx" in s.columns else []
    ))
    if "seed_idx" in s.columns:
        from pyspark.sql.window import Window as W

        w = W.partitionBy("title").orderBy(F.col("seed_idx").desc())
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "seed_idx")
        )
    return out


def plain_text_col(spans_col: str = "spans"):
    """Reconstruct plain text from spans JVM-side (media contributes no
    surface). Replaces wikitextparser's plain_text() (OPS-29)."""
    # array_join over a projected array is a single allocation; the
    # aggregate/concat fold it replaces copied the accumulator per span
    # (O(k * page_len) char copies on span-heavy pages).
    return F.array_join(
        F.transform(
            F.filter(spans_col, lambda s: s.kind != F.lit("media")),
            lambda s: s.text,
        ),
        "",
    )


def build_matches(
    documents: DataFrame,
    seeds: DataFrame,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (pages, matches, mentions).

    ``documents``: (doc_id, redirect, spans[, doc_seq]) — doc_seq is the
    dump order, carried through to matches as (doc_seq, match_seq) so the
    phase-2 RNG-parity mode can reproduce the reference's insertion order.
    """
    has_seq = "doc_seq" in documents.columns
    docs = documents.filter(
        F.col("doc_id").isNotNull() & F.col("spans").isNotNull()  # OPS-7
    ).filter(~F.col("doc_id").rlike(NAMESPACE_RE))  # OPS-8

    t2m = seed_title_map(seeds)

    links = docs.select(
        "doc_id",
        F.explode(F.filter("spans", lambda s: s.kind == F.lit("link"))).alias("l"),
    ).select(
        "doc_id",
        F.col("l.text").alias("mention"),  # anchor text (ref :261 — falls back
        F.col("l.media_ref").alias("target"),  # to target; ingest guarantees text)
    )
    has_hidden = "hidden_links" in documents.columns
    if has_hidden:
        # links inside templates/refs feed the mention map but never the
        # plain text — reference cmd/build_matches_db.py:251-266 collects
        # wikilinks from the WHOLE AST while plain_text() excludes them
        links = links.unionByName(
            docs.select("doc_id", F.explode("hidden_links").alias("l")).select(
                "doc_id",
                F.col("l.text").alias("mention"),
                F.col("l.media_ref").alias("target"),
            )
        )

    # OPS-13: probe side may be 10^10 links; build side is the seed list
    entity_links = links.join(F.broadcast(t2m), links.target == t2m.title, "inner")

    # OPS-18 ambiguity drop, then per-doc mention map
    per_mention = entity_links.groupBy("doc_id", "mention").agg(
        F.collect_set(F.struct("mid", "label")).alias("mids"),
        F.count("*").alias("n_links"),
    )
    per_doc = per_mention.groupBy("doc_id").agg(
        F.sum("n_links").cast("int").alias("entity_link_count"),
        F.count("*").cast("int").alias("mention_count"),
        F.map_from_entries(
            F.filter(
                F.collect_list(
                    F.when(
                        F.size("mids") == 1,
                        F.struct(F.col("mention"), F.element_at("mids", 1).alias("entry")),
                    )
                ),
                lambda x: x.isNotNull(),
            )
        ).alias("m2m"),
    )

    enriched = (
        docs.join(per_doc, "doc_id", "left")
        .withColumn("m2m", F.coalesce("m2m", F.map_from_arrays(F.array(), F.array())))
        .withColumn("entity_link_count", F.coalesce("entity_link_count", F.lit(0)))
        .withColumn("mention_count", F.coalesce("mention_count", F.lit(0)))
        .withColumn(
            "link_count",
            F.size(F.filter("spans", lambda s: s.kind == F.lit("link")))
            + (
                F.coalesce(F.size("hidden_links"), F.lit(0))
                if has_hidden
                else F.lit(0)
            ),
        )
        .withColumn("page_text", plain_text_col("spans"))
        .withColumn("patterns", F.map_keys("m2m"))
        .withColumn("_cm", clean_match_udf("page_text", "patterns"))
        .withColumn("clean_text", F.col("_cm.clean_text"))
        .withColumn("match_arr", F.col("_cm.match_arr"))
        .drop("_cm")
    )
    # pages, matches, and mentions all derive from this frame; without a
    # materialization each consumer re-runs the clean+match pandas UDF
    # over the whole corpus (3 full Python passes measured in
    # the phase-1+2 plan; the CLI's three table writes pay the same).
    # Janitor-scoped: the next persisting operator call frees this cache.
    drain_persisted()
    enriched = enriched.persist(StorageLevel.MEMORY_AND_DISK)
    keep_persisted(enriched)

    pages = _first_writer(
        enriched.select(
            F.col("doc_id").alias("title"),
            *(["doc_seq"] if has_seq else []),
            F.col("clean_text").alias("text"),
            "link_count",
            "entity_link_count",
            "mention_count",
            F.size("patterns").alias("unique_mention_count"),
            F.length("page_text").cast("int").alias("text_len"),
            F.length("clean_text").cast("int").alias("clean_text_len"),
            F.size("match_arr").alias("match_count"),
        ),
        ["title"],  # PK, first-writer-wins in dump order (ref dao/matches_db.py:42,53)
        ["doc_seq"],
    ).drop(*(["doc_seq"] if has_seq else []))

    m = enriched.select(
        F.col("doc_id").alias("page"),
        *(["doc_seq"] if has_seq else []),
        "clean_text",
        "m2m",
        F.posexplode("match_arr").alias("match_seq", "mt"),
    ).withColumn("entry", F.element_at("m2m", F.col("mt.mention")))
    # divergence from reference: an unmapped match surface raises KeyError
    # there (page skipped via the exception channel, :319-320); we drop the
    # match row — cannot occur when surfaces equal patterns (our tokenizer
    # joins tokens with the original text slice)
    m = m.filter(F.col("entry").isNotNull())

    start, end = F.col("mt.start_char"), F.col("mt.end_char")
    ctx_start0 = F.greatest(start - DEBUG_CONTEXT_PAD, F.lit(0))  # 0-based, ref :295
    ctx_end0 = F.least(end + DEBUG_CONTEXT_PAD, F.length("clean_text"))
    matches = m.select(
        F.col("entry.mid").alias("mid"),
        F.col("entry.label").alias("entity_label"),
        F.col("mt.mention").alias("mention"),
        "page",
        *(["doc_seq"] if has_seq else []),
        "match_seq",
        start.alias("start_char"),
        end.alias("end_char"),
        F.substring("clean_text", ctx_start0 + 1, ctx_end0 - ctx_start0).alias("context"),
    )
    # PK (ref :92), first writer = (dump order, match order) when carried
    matches = _first_writer(
        matches, ["mid", "page", "start_char", "mention"], ["doc_seq", "match_seq"]
    )

    mentions = (
        enriched.select(F.explode("m2m").alias("mention", "entry"))
        .select(
            F.col("entry.mid").alias("mid"),
            F.col("entry.label").alias("entity_label"),
            "mention",
        )
        .dropDuplicates(["mid", "mention"])  # UNIQUE (ref :131,147-149)
    )

    return pages, matches, mentions
