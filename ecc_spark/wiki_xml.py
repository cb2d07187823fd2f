"""Distributed Wikipedia XML dump ingest (OPS-1 front door).

The reference streams the dump sequentially with lxml.etree.iterparse
(util/wikipedia.py:17-77): one <page> at a time, missing-title /
missing-text counters (:49-64), a 31-prefix namespace skip (:66-75), and
a pre-filter --limit-pages counter that counts every raw <page> element
(:41-43). That single-reader design caps ingest at one core and one
disk stream; at 100 TB it is the bottleneck.

Spark-native re-expression: ``spark.read.text`` with a custom record
delimiter (``lineSep = "</page>"``). Hadoop's text reader is SPLITTABLE
with a custom delimiter — each task seeks to its byte-range, skips to
the first delimiter, and reads whole records, so a 100 GB dump fans out
across executors with no driver funnel and records never straddle a
task. Each record is then ``<page> … `` (plus, for the first record, the
siteinfo preamble), closed back up and parsed with stdlib ElementTree in
a vectorized pandas UDF — one small DOM per page, never the whole dump.

Dump order (the reference's crawl order baseline) is recovered with
``monotonically_increasing_id()``: for a single input file Hadoop splits
are numbered by byte offset and rows within a split are in file order,
so the id is monotone in file position. The limit-pages quirk — the
counter increments BEFORE the title/text/namespace checks — is preserved
by applying the limit to raw page records, pre-filter.

Counters are computed as one conditional aggregation over the parsed
frame (a count() job), not driver-side mutation, and they apply in the
reference's short-circuit order: missing title → missing text →
namespace skip.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ecc_spark.ingest import HIDDEN_LINK_ARR, parse_wikitext
from ecc_spark.udfs import SPAN_ARR

# exact reference tuple, util/wikipedia.py:66-71
NAMESPACE_PREFIXES = (
    'Talk:', 'User:', 'User talk:', 'Wikipedia:', 'Wikipedia talk:', 'File:', 'File talk:',
    'MediaWiki:', 'MediaWiki talk:', 'Template:', 'Template talk:', 'Help:', 'Help talk:',
    'Category:', 'Category talk:', 'Portal:', 'Portal talk:', 'Book:', 'Book talk:', 'Draft:',
    'Draft talk:', 'Education Program:', 'Education Program talk:', 'TimedText:',
    'TimedText talk:', 'Module:', 'Module talk:', 'Gadget:', 'Gadget talk:',
    'Gadget definition:', 'Gadget definition talk:',
)

_PAGE_STRUCT = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("redirect", T.StringType(), True),
        T.StructField("markup", T.StringType(), True),
    ]
)


def parse_page_xml(record: str) -> tuple[str | None, str | None, str | None]:
    """One ``</page>``-delimited record → (title, redirect, markup).

    Mirrors the reference's per-page xpath extraction
    (util/wikipedia.py:49-64): title = first <title> text node (missing
    or empty → None), redirect = <redirect title=…> attribute, markup =
    first <revision><text> text node (missing or empty → None).
    """
    start = record.find("<page")
    if start < 0:
        return None, None, None
    try:
        elem = ET.fromstring(record[start:] + "</page>")
    except ET.ParseError:
        return None, None, None
    # records carry no xmlns declaration (it lives on the stripped
    # <mediawiki> root), so tags parse un-namespaced
    t = elem.find("title")
    title = t.text if t is not None and t.text else None
    r = elem.find("redirect")
    redirect = r.get("title") if r is not None else None
    tx = elem.find("revision/text")
    markup = tx.text if tx is not None and tx.text else None
    return title, redirect, markup


@F.pandas_udf(_PAGE_STRUCT)
def _parse_page_udf(record: pd.Series) -> pd.DataFrame:
    rows = [parse_page_xml(v) for v in record]
    return pd.DataFrame(rows, columns=["title", "redirect", "markup"])


def _resolve_parts(path) -> list[str]:
    """Resolve ``path`` to an ORDERED list of dump part files.

    - a list/tuple is the caller's explicit part order (always valid);
    - a single file is a one-part dump;
    - a directory or glob is accepted ONLY when every filename carries a
      distinct numeric key (the integers embedded in the name, compared
      as tuples) — real multistream dumps are numbered
      ``…-multistream1.xml-p1p41242`` so the part index orders them.
      Ambiguous sets (missing or duplicate numeric keys) still raise:
      silently size-ordered input would corrupt dump order, limit_pages,
      and first-writer-wins dedup.
    """
    import glob as _glob
    import os

    if isinstance(path, (list, tuple)):
        return [str(p) for p in path]
    if os.path.isdir(path):
        cand = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if os.path.isfile(os.path.join(path, f))
        )
    elif any(ch in path for ch in "*?[{"):
        cand = sorted(_glob.glob(path))
    else:
        return [path]
    keys = [tuple(int(n) for n in re.findall(r"\d+", os.path.basename(p))) for p in cand]
    if not cand or len(set(keys)) != len(keys) or any(not k for k in keys):
        raise ValueError(
            "read_wikipedia_xml cannot order the dump parts in "
            f"{path!r}: filenames need distinct embedded part numbers "
            "(or pass an explicit ordered list of part paths)"
        )
    return [p for _, p in sorted(zip(keys, cand))]


def read_wikipedia_xml(
    spark: SparkSession, path, limit_pages: int | None = None
) -> DataFrame:
    """Raw page scan: (doc_seq, title, redirect, markup) — PRE-filter.

    ``limit_pages`` replicates util/wikipedia.py:41-43: it bounds raw
    <page> elements in dump order, before any filter (and ``0`` means
    unlimited, matching the reference's falsy check). Sort+limit compiles
    to TakeOrderedAndProject — no full-sort shuffle.

    ``path`` may be a single dump file, an explicit ordered list of part
    files, or a directory/glob whose filenames carry part numbers (real
    dumps ship as numbered multistream parts — the reference takes one
    file handle, util/wikipedia.py:17; this lifts that). Dump order
    across parts = (part rank, within-part order): each part is its own
    scan so monotonically_increasing_id stays monotone in file position
    (a combined multi-file scan orders splits by SIZE — wrong), and the
    part rank lands in the high bits above the id's partition field. The
    per-part union is a narrow concat — no shuffle, and each part still
    fans out across executors on its own splits.
    """
    raw = _raw_records(spark, path, limit_pages)
    return raw.select("doc_seq", _parse_page_udf("value").alias("p")).select("doc_seq", "p.*")


def _raw_records(
    spark: SparkSession, path, limit_pages: int | None = None
) -> DataFrame:
    """``</page>``-delimited dump records (value, doc_seq), PRE-filter;
    ``path`` and ``limit_pages`` as in ``read_wikipedia_xml``."""
    parts = _resolve_parts(path)

    def _scan(p: str):
        return (
            spark.read.option("lineSep", "</page>").text(p)
            .withColumn("doc_seq", F.monotonically_increasing_id())
        )

    if len(parts) == 1:
        raw = _scan(parts[0])
    else:
        readers = [_scan(p) for p in parts]
        # monotonically_increasing_id < numPartitions << 33 (the id packs
        # partition in the upper 31 bits, so <2^33 rows/partition is a
        # Spark-level invariant); stride one power of two above that
        max_parts = max(r.rdd.getNumPartitions() for r in readers)
        stride = max_parts << 34
        if stride * len(parts) >= 1 << 63:
            raise ValueError(
                f"doc_seq would overflow: {len(parts)} parts x stride {stride}"
            )
        raw = readers[0]
        for i, r in enumerate(readers[1:], start=1):
            raw = raw.unionAll(r.withColumn("doc_seq", F.col("doc_seq") + F.lit(i * stride)))
    raw = raw.filter(F.instr("value", "<page") > 0)
    if limit_pages:
        raw = raw.orderBy("doc_seq").limit(limit_pages)
    return raw


_INGESTED_STRUCT = T.StructType(
    [
        T.StructField("title", T.StringType(), True),
        T.StructField("redirect", T.StringType(), True),
        T.StructField("has_text", T.BooleanType(), False),
        T.StructField("spans", SPAN_ARR, True),
        T.StructField("hidden_links", HIDDEN_LINK_ARR, True),
    ]
)


def _ingest_record(record: str):
    title, redirect, markup = parse_page_xml(record)
    # only pages wikipedia_pages keeps are parsed (the _ns_skip_col test)
    if title is None or markup is None or title.startswith(NAMESPACE_PREFIXES):
        return title, redirect, markup is not None, None, None
    return (title, redirect, True, *parse_wikitext(markup))


@F.pandas_udf(_INGESTED_STRUCT)
def _ingest_page_udf(record: pd.Series) -> pd.DataFrame:
    return pd.DataFrame(
        [_ingest_record(v) for v in record],
        columns=["title", "redirect", "has_text", "spans", "hidden_links"],
    )


def ingest_wikipedia_xml(
    spark: SparkSession, path, limit_pages: int | None = None
) -> DataFrame:
    """``read_wikipedia_xml`` and ``ingest.ingest_markup`` in ONE pandas
    UDF: one Python worker per scan task instead of two, and the markup
    never crosses back into the JVM. (doc_seq, title, redirect, has_text,
    spans, hidden_links), PRE-filter; spans and hidden_links only on pages
    ``wikipedia_pages`` keeps. ``scan_stats`` and ``wikipedia_pages`` read
    it like the raw scan; ``wikipedia_pages`` of it is the documents frame."""
    raw = _raw_records(spark, path, limit_pages)
    return raw.select("doc_seq", _ingest_page_udf("value").alias("p")).select("doc_seq", "p.*")


def _has_text(raw: DataFrame):
    # the raw scan carries the markup; the fused ingest scan only its presence
    if "has_text" in raw.columns:
        return F.col("has_text")
    return F.col("markup").isNotNull()


def _ns_skip_col(title):
    # startswith(tuple) — reference util/wikipedia.py:73
    cond = F.lit(False)
    for p in NAMESPACE_PREFIXES:
        cond = cond | title.startswith(p)
    return cond


@dataclass
class ScanStats:
    """Reference Wikipedia-class counters (util/wikipedia.py:5-7)."""

    raw_pages: int
    missing_titles: int
    missing_texts: int
    skipped_special_pages: int
    kept: int


def scan_stats(raw: DataFrame) -> ScanStats:
    """One aggregation job over the raw scan, in the reference's
    short-circuit order: title check, then text check, then namespace."""
    has_title = F.col("title").isNotNull()
    has_text = _has_text(raw)
    special = _ns_skip_col(F.col("title"))
    r = raw.select(
        F.count("*").alias("raw"),
        F.count_if(~has_title).alias("mt"),
        F.count_if(has_title & ~has_text).alias("mx"),
        F.count_if(has_title & has_text & special).alias("sk"),
        F.count_if(has_title & has_text & ~special).alias("kept"),
    ).first()
    return ScanStats(r["raw"], r["mt"], r["mx"], r["sk"], r["kept"])


def wikipedia_pages(raw: DataFrame) -> DataFrame:
    """Filtered page stream, reference yield at util/wikipedia.py:77:
    (doc_id, redirect, markup, doc_seq) with doc_id = page title. Over an
    ``ingest_wikipedia_xml`` scan: (doc_id, redirect, spans, hidden_links,
    doc_seq), the documents schema."""
    fused = "has_text" in raw.columns
    body = ["redirect", "spans", "hidden_links"] if fused else ["redirect", "markup"]
    return (
        raw.filter(
            F.col("title").isNotNull()
            & _has_text(raw)
            & ~_ns_skip_col(F.col("title"))
        )
        .select(F.col("title").alias("doc_id"), *body, "doc_seq")
    )
