"""WARC (ISO 28500) source — the Common Crawl / web-archive record
format, the natural at-scale input for this crawl engine.

Why NOT a delimiter-split reader (the wiki_xml.py trick): WARC bodies
are raw HTTP payloads and can legally CONTAIN the bytes
``WARC/1.0\\r\\n``, so any split-by-marker reader silently shears such
records. The only correct framing is the Content-Length header, which
is inherently sequential WITHIN a stream. The distributed unit is
therefore the FILE: real WARC corpora ship as many ~1 GiB segment files
(Common Crawl: ~90k files per monthly snapshot), so file-level
parallelism saturates any cluster while each file is parsed correctly
by Content-Length framing inside a mapInPandas worker.

Scale notes (100 TB lens):
- ``spark.read.format("binaryFile")`` lists files distributedly; each
  task holds ONE file's bytes (~1 GiB — sized for executor memory, same
  budget Common Crawl tooling assumes), parses records, and emits rows.
- gzip: ``.warc.gz`` files are MULTI-MEMBER (one gzip member per record
  by spec) — stdlib ``gzip.decompress`` concatenates all members, so
  the same framing code runs on the inflated stream.
- The parse is a generator over one buffer: no per-record Python object
  churn beyond the emitted row; headers are parsed with ``bytes.find``
  lexing, not regex backtracking.

An ``encode_warc`` muxer exists so the reader is testable without
external fixtures (same policy as ecc_spark.ops.codecs).
"""

from __future__ import annotations

import gzip
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "path string, rec_i int, warc_type string, target_uri string, "
    "warc_date string, record_id string, content_length long, "
    "http_status int, http_content_type string, "
    "payload_digest string, refers_to string, body binary"
)


def _decode_header(raw: bytes) -> str:
    """WARC/1.0 permits UTF-8 header values (ISO 28500 §4), and encode_warc
    writes them as UTF-8 — decode UTF-8 first so non-ASCII target URIs
    round-trip, falling back to latin-1 for arbitrary HTTP-era bytes."""
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def _parse_headers(block: bytes) -> dict[str, str]:
    """WARC/HTTP header block (without the blank-line terminator) →
    {lower-name: value}. Folded continuation lines (obs-fold) are
    appended with a space."""
    out: dict[str, str] = {}
    last = None
    for line in block.split(b"\r\n"):
        if not line:
            continue
        if line[:1] in (b" ", b"\t") and last is not None:
            out[last] += " " + _decode_header(line.strip())
            continue
        k, sep, v = line.partition(b":")
        if not sep:
            continue
        last = _decode_header(k.strip()).lower()
        out[last] = _decode_header(v.strip())
    return out


def iter_warc_records(buf: bytes) -> Iterator[tuple[dict[str, str], bytes]]:
    """Yield (headers, body) per record from one WARC stream, framed by
    Content-Length (the spec's only body delimiter — bodies may contain
    anything, including ``WARC/1.0``)."""
    if buf[:2] == b"\x1f\x8b":  # gzip — multi-member per the WARC spec
        buf = gzip.decompress(buf)
    i = 0
    n = len(buf)
    while i < n:
        if buf[i : i + 5] != b"WARC/":
            raise ValueError(f"expected WARC version line at offset {i}")
        he = buf.find(b"\r\n\r\n", i)
        if he < 0:
            raise ValueError("unterminated WARC header block")
        ver_end = buf.find(b"\r\n", i)
        headers = _parse_headers(buf[ver_end + 2 : he])
        try:
            cl = int(headers["content-length"])
        except (KeyError, ValueError):
            raise ValueError("WARC record without a valid Content-Length") from None
        body = buf[he + 4 : he + 4 + cl]
        if len(body) != cl:
            raise ValueError("WARC body truncated")
        yield headers, body
        i = he + 4 + cl
        # two CRLFs terminate the record; tolerate their absence at EOF
        while buf[i : i + 2] == b"\r\n":
            i += 2


def _dechunk(payload: bytes) -> bytes:
    """Reassemble a Transfer-Encoding: chunked body (RFC 9112 §7.1):
    hex-size CRLF data CRLF ... 0 CRLF [trailers] CRLF."""
    out = bytearray()
    i = 0
    while True:
        j = payload.find(b"\r\n", i)
        if j < 0:
            raise ValueError("chunked body missing size line")
        size = int(payload[i:j].split(b";")[0], 16)  # ignore chunk extensions
        if size == 0:
            return bytes(out)
        out += payload[j + 2 : j + 2 + size]
        i = j + 2 + size + 2  # skip the chunk's trailing CRLF


def _parse_http_response(body: bytes) -> tuple[int | None, str | None, bytes]:
    """'application/http; msgtype=response' body → (status, content-type,
    payload). Transfer-Encoding: chunked is reassembled and
    Content-Encoding: gzip/deflate inflated — real archives carry both,
    and passing them through raw would silently feed garbage downstream.
    A malformed envelope degrades to (None, None, body) so the record
    stays visible rather than vanishing."""
    he = body.find(b"\r\n\r\n")
    if he < 0 or not body.startswith(b"HTTP/"):
        return None, None, body
    ver_end = body.find(b"\r\n")
    parts = body[:ver_end].split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None, body
    headers = _parse_headers(body[ver_end + 2 : he])
    payload = body[he + 4 :]
    try:
        if "chunked" in headers.get("transfer-encoding", "").lower():
            payload = _dechunk(payload)
        enc = headers.get("content-encoding", "").lower()
        if enc in ("gzip", "x-gzip"):
            payload = gzip.decompress(payload)
        elif enc == "deflate":
            import zlib as _zlib

            try:
                payload = _zlib.decompress(payload)
            except _zlib.error:  # raw-deflate variant some servers send
                payload = _zlib.decompress(payload, -15)
    except Exception:  # noqa: BLE001 — lying headers: keep the raw bytes
        payload = body[he + 4 :]
    return status, headers.get("content-type"), payload


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Distributed WARC reader: one row per record. 'response' records
    get their HTTP envelope parsed off (http_status / http_content_type
    / payload body); other record types (request, metadata, warcinfo,
    ...) carry their raw body.

    Per-file error CONTAINMENT: a malformed/truncated file (routine in
    real snapshots) must not abort the other ~90k segments' work, and it
    must not vanish silently either — such a file yields ONE row with
    ``warc_type = "parse_error"``, rec_i = -1 and the error message as
    the body. Records already parsed before the error are kept. Every
    downstream consumer filters on warc_type, so error rows drop out of
    pipelines naturally while staying countable/auditable in the raw
    frame."""
    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return _parse_warc_files(files)


def _parse_warc_files(files: DataFrame) -> DataFrame:
    """(path, content) frame — batch OR streaming — → WARC record rows
    via the Content-Length-framed per-file parser (stateless mapInPandas,
    so the same code serves read_warc and stream_warc_documents)."""

    def parse(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "path", "rec_i", "warc_type", "target_uri", "warc_date",
            "record_id", "content_length", "http_status",
            "http_content_type", "payload_digest", "refers_to", "body",
        ]
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    for rec_i, (hdr, body) in enumerate(
                        iter_warc_records(bytes(r.content))
                    ):
                        status = ctype = None
                        wtype = hdr.get("warc-type", "")
                        if wtype == "response" and body.startswith(b"HTTP/"):
                            status, ctype, body = _parse_http_response(body)
                        rows.append(
                            {
                                "path": r.path,
                                "rec_i": rec_i,
                                "warc_type": wtype,
                                "target_uri": hdr.get("warc-target-uri"),
                                "warc_date": hdr.get("warc-date"),
                                "record_id": hdr.get("warc-record-id"),
                                "content_length": int(hdr["content-length"]),
                                "http_status": status,
                                "http_content_type": ctype,
                                "payload_digest": hdr.get("warc-payload-digest"),
                                "refers_to": hdr.get("warc-refers-to-target-uri"),
                                "body": body,
                            }
                        )
                except Exception as exc:  # noqa: BLE001 — bad file, not bad job
                    rows.append(
                        {
                            "path": r.path,
                            "rec_i": -1,
                            "warc_type": "parse_error",
                            "target_uri": None,
                            "warc_date": None,
                            "record_id": None,
                            "content_length": 0,
                            "http_status": None,
                            "http_content_type": None,
                            "payload_digest": None,
                            "refers_to": None,
                            "body": str(exc).encode("utf-8", "replace"),
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    return files.mapInPandas(parse, schema=WARC_SCHEMA)


_BINFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, content binary"
)


def stream_warc_documents(
    spark: SparkSession,
    warc_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    drop_boilerplate: bool = False,
    markup: str = "html",
) -> None:
    """Incremental WARC ingest (the §2.9 pattern incremental_ingest uses
    for dump deltas, applied to a growing archive directory): new
    .warc/.warc.gz files stream through the record parser + HTML span
    extractor into a DOCUMENTS parquet table, EXACTLY-ONCE per file via
    the stream checkpoint + the parquet sink's transaction log.
    Trigger.AvailableNow drains everything present then stops — re-run
    after each crawl wave lands; already-ingested archives are skipped,
    so ingest cost is O(delta), not O(archive). NOTE: a crawl's own
    archive (CrawlEngine archive_dir) stores WIKITEXT resource records
    — pass ``markup="wikitext"`` for those; the html default would
    filter them all out AND mark the files consumed in the checkpoint."""
    files = (
        spark.readStream.format("binaryFile")
        .schema(_BINFILE_SCHEMA)
        .load(warc_dir)
        .select("path", "content")
    )
    docs = warc_to_documents(
        spark,
        _parse_warc_files(files),
        drop_boilerplate=drop_boilerplate,
        markup=markup,
    )
    q = (
        docs.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def encode_warc(
    records: list[tuple[dict[str, str], bytes]], compress: bool = False
) -> bytes:
    """Records → WARC/1.0 bytes; ``compress=True`` gzips each record as
    its own member (the spec's record-at-a-time layout, which is what
    makes .warc.gz seekable for real archive tooling)."""
    out = bytearray()
    for hdr, body in records:
        rec = bytearray(b"WARC/1.0\r\n")
        for k, v in hdr.items():
            if k.lower() == "content-length":
                continue  # always derived from the body
            if "\r" in f"{k}{v}" or "\n" in f"{k}{v}":
                # a CR/LF smuggled into a header value would shift the
                # header/body boundary and corrupt the record framing
                raise ValueError(f"CR/LF in WARC header {k!r}")
            rec += f"{k}: {v}\r\n".encode("utf-8")
        rec += f"Content-Length: {len(body)}\r\n".encode()
        rec += b"\r\n" + body + b"\r\n\r\n"
        out += gzip.compress(bytes(rec)) if compress else rec
    return bytes(out)


# ---------------------------------------------------------------------
# HTML -> interleaved spans (the BASELINE input_hint shape), so WARC
# responses feed the same phase-1 pipeline as wikitext documents.
# ---------------------------------------------------------------------

from html.parser import HTMLParser  # noqa: E402 (stdlib, tolerant of tag soup)

_SKIP_TAGS = {"script", "style", "noscript", "template"}
# chrome/boilerplate subtrees a TRAINING corpus usually drops (nav bars,
# cookie banners, footers repeat across a site and poison dedup + LM
# stats); opt-in because mention extraction may legitimately want them
BOILERPLATE_TAGS = frozenset({"nav", "footer", "aside", "header", "form", "button"})
_BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "h1", "h2", "h3", "h4", "h5", "h6",
    "tr", "td", "th", "table", "section", "article", "header", "footer",
    "blockquote", "pre", "hr", "title", "nav", "aside", "figure",
}


class _SpanExtractor(HTMLParser):
    """Tag-soup-tolerant extraction to the repo span invariant: spans'
    offsets index the reconstructed plain text (text spans contribute
    their text, link spans their shown anchor, media spans nothing).
    Whitespace collapses to single spaces; block boundaries separate
    words; script/style subtrees vanish."""

    def __init__(self, skip_tags: frozenset[str] | set[str] = _SKIP_TAGS) -> None:
        super().__init__(convert_charrefs=True)
        self._skip_tags = set(skip_tags)
        self.spans: list[dict] = []
        self.plain_len = 0
        self._skip = 0
        self._href: str | None = None
        self._anchor: list[str] = []
        self._pending_ws = False

    def _flush_ws(self) -> None:
        """Materialize a pending word separator before a link/media span
        — _emit_text can't carry it (a lone space collapses to empty)."""
        if self._pending_ws and self.plain_len > 0:
            if self.spans and self.spans[-1]["kind"] == "text":
                self.spans[-1]["text"] += " "
            else:
                self.spans.append(
                    {"kind": "text", "text": " ", "media_ref": "", "offset": self.plain_len}
                )
            self.plain_len += 1
        self._pending_ws = False

    def _emit_text(self, raw: str) -> None:
        seg = " ".join(raw.split())
        if not seg:
            self._pending_ws = self._pending_ws or (bool(raw) and self.plain_len > 0)
            return
        lead = (
            " "
            if self.plain_len > 0 and (self._pending_ws or raw[:1].isspace())
            else ""
        )
        trail_ws = raw[-1:].isspace()
        seg = lead + seg
        if self.spans and self.spans[-1]["kind"] == "text":
            self.spans[-1]["text"] += seg
        else:
            self.spans.append(
                {"kind": "text", "text": seg, "media_ref": "", "offset": self.plain_len}
            )
        self.plain_len += len(seg)
        self._pending_ws = trail_ws

    def handle_starttag(self, tag, attrs):
        if tag in self._skip_tags:
            if self._skip == 0 and self.plain_len > 0:
                # a dropped subtree is a block boundary: 'Intro<aside>
                # ad</aside>Outro' must not glue Intro/Outro into one
                # token just because the separator-bearing tags vanished
                self._pending_ws = True
            self._skip += 1
            return
        if self._skip:
            return
        if tag in _BLOCK_TAGS and self.plain_len > 0:
            self._pending_ws = True
        if tag == "a":
            href = dict(attrs).get("href")
            if self._href is None and href:
                self._href = href
                self._anchor = []
        elif tag in ("img", "video", "audio", "source", "embed"):
            src = dict(attrs).get("src")
            if src:
                # media contributes no plain text, so a pending word
                # separator stays pending across it (flushing here AND
                # at the next block boundary would double the space)
                self.spans.append(
                    {"kind": "media", "text": "", "media_ref": src, "offset": self.plain_len}
                )

    def handle_endtag(self, tag):
        if tag in self._skip_tags:
            self._skip = max(0, self._skip - 1)
            return
        if self._skip:
            return
        if tag in _BLOCK_TAGS:
            self._pending_ws = True
        if tag == "a" and self._href is not None:
            shown = " ".join("".join(self._anchor).split())
            if shown:
                self._flush_ws()
                self.spans.append(
                    {
                        "kind": "link",
                        "text": shown,
                        "media_ref": self._href,
                        "offset": self.plain_len,
                    }
                )
                self.plain_len += len(shown)
                self._pending_ws = False
            self._href = None
            self._anchor = []

    def handle_data(self, data):
        if self._skip:
            return
        if self._href is not None:
            self._anchor.append(data)
            return
        self._emit_text(data)


def html_to_spans(markup: str, drop_boilerplate: bool = False) -> list[dict]:
    """HTML → interleaved (kind, text, media_ref, offset) spans. The
    invariant the rest of the engine relies on: concatenating text-span
    texts and link-span shown texts in order reproduces the plain text,
    and every span's offset is its position in that plain text.
    ``drop_boilerplate`` additionally removes nav/footer/aside/header/
    form subtrees — site chrome that repeats across pages and poisons
    dedup and LM statistics in a training corpus."""
    skip = _SKIP_TAGS | BOILERPLATE_TAGS if drop_boilerplate else _SKIP_TAGS
    p = _SpanExtractor(skip)
    p.feed(markup)
    p.close()
    return p.spans


def _records(spark: SparkSession, src: str | DataFrame) -> DataFrame:
    """Accept a path OR an already-read records frame — the CLI parses
    each archive ONCE and feeds both the documents and media extractors
    from the same (persisted) frame."""
    return src if isinstance(src, DataFrame) else read_warc(spark, src)


def _decode_body(raw: bytes, content_type: str | None) -> str:
    """Declared charset first (the header is RIGHT for most legacy
    pages), utf-8 second, latin-1 last (never raises)."""
    m = re.search(r"charset=[\"']?([\w.:-]+)", content_type or "", re.I)
    if m:
        try:
            return raw.decode(m.group(1))
        except (UnicodeDecodeError, LookupError):
            pass
    try:
        return raw.decode("utf-8")
    except UnicodeDecodeError:
        return raw.decode("latin-1")


def warc_to_documents(
    spark: SparkSession,
    src: str | DataFrame,
    drop_boilerplate: bool = False,
    markup: str = "html",
) -> DataFrame:
    """WARC archive(s) (path, or a read_warc frame to reuse) → the
    DOCUMENTS table shape (doc_id = target URI, spans = interleaved
    text/link/media), extracted in the same mapInPandas pass.

    ``markup="html"`` (default): HTTP-200 HTML responses, decoded by
    the DECLARED charset (utf-8 / latin-1 fallback — never raises),
    extracted by html_to_spans.
    ``markup="wikitext"``: text/x-wiki records of ANY warc type —
    the shape CrawlEngine(archive_dir=...) writes — parsed by the
    engine's real wikitext parser (ingest.parse_markup), so a crawl's
    own archive round-trips through stream_warc_documents."""
    from pyspark.sql import functions as F

    recs = _records(spark, src)
    if markup == "html":
        recs = recs.filter(
            (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
            & F.lower(F.coalesce("http_content_type", F.lit(""))).contains("html")
        )
    elif markup == "wikitext":
        # crawl archives store resource records; real response records
        # carrying wikitext qualify too — the content type decides
        recs = recs.filter(
            F.lower(F.coalesce("http_content_type", F.lit(""))).contains("x-wiki")
            | (F.col("warc_type") == "resource")
        ).filter(F.col("warc_type") != "parse_error")
    else:
        raise ValueError(f"unknown markup mode {markup!r}")

    def extract(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if markup == "wikitext":
            from ecc_spark.ingest import parse_markup

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                text = _decode_body(bytes(r.body), r.http_content_type)
                spans = (
                    html_to_spans(text, drop_boilerplate)
                    if markup == "html"
                    else parse_markup(text)
                )
                rows.append(
                    {"doc_id": r.target_uri, "redirect": None, "spans": spans}
                )
            yield pd.DataFrame(rows, columns=["doc_id", "redirect", "spans"])

    from ecc_spark.schemas import DOCUMENTS

    return recs.mapInPandas(extract, schema=DOCUMENTS)


_MEDIA_KINDS = (("image/", "image"), ("audio/", "audio"), ("video/", "video"))


def warc_to_media(spark: SparkSession, src: str | DataFrame) -> DataFrame:
    """WARC archive(s) → the MEDIA table shape: HTTP-200 responses whose
    content type is image/*, audio/* or video/* become (media_ref =
    target URI, kind, payload) rows — the input the codec/feature stage
    (ops.multimodal.decode_features) consumes, so a web archive's media
    flows into the same multimodal pipeline as synthetic payloads.
    Width/height/duration stay null: the DECODERS are the source of
    truth for dimensions (tkhd for MP4, IHDR for PNG, ...), and the
    feature stage only falls back to the metadata columns for payloads
    nothing can parse."""
    from pyspark.sql import functions as F

    ctype = F.lower(F.coalesce("http_content_type", F.lit("")))
    kind = F.lit(None).cast("string")
    for prefix, k in _MEDIA_KINDS:
        kind = F.when(ctype.startswith(prefix), F.lit(k)).otherwise(kind)
    return (
        _records(spark, src)
        .filter((F.col("warc_type") == "response") & (F.col("http_status") == 200))
        .withColumn("kind", kind)
        .filter(F.col("kind").isNotNull())
        .select(
            F.col("target_uri").alias("media_ref"),
            "kind",
            F.col("body").alias("payload"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        )
    )


def export_warc(
    df: DataFrame,
    out_dir: str,
    uri_col: str = "uri",
    body_col: str = "body",
    content_type: str = "text/html",
    warc_type: str = "resource",
    overwrite: bool = False,
    dedup_bodies: bool = False,
) -> DataFrame:
    """Archive a (uri, body) frame as WARC: one ``part-<pid>.warc.gz``
    per partition (record-at-a-time gzip members — the layout real
    archive tooling expects), written from the executors. Returns the
    manifest (path, n_records, n_bytes) — an ACTION must consume it for
    the write to happen, mirroring how Spark's own writers behave.

    The inverse of read_warc (a crawl can archive what it fetched and
    re-ingest it later); round-trip equality is pinned in tests.
    ``out_dir`` must be a filesystem every executor can reach (local
    dir in local mode, a shared mount on a cluster; an object store
    needs a Hadoop-FS writer instead — documented seam, same status as
    the Iceberg binding). A non-empty out_dir is refused unless
    ``overwrite=True`` clears previous parts first — stale parts would
    otherwise be silently re-ingested by the next read_warc, breaking
    the inverse contract. Rows with a null body are skipped and counted
    in the manifest's ``n_null_skipped`` (a failed fetch must not abort
    the archive of every successful one); CR/LF in a URI is
    percent-encoded so a crawled href can never corrupt record framing.
    Temp files are task-ATTEMPT-scoped: under speculative execution two
    attempts of one partition write distinct files and the publish
    rename keeps whichever completes.

    ``dedup_bodies=True`` writes Heritrix-style REVISIT records: one
    digest-canonical copy of each distinct body is stored in full; every
    other URI with the same sha1 becomes a bodyless ``revisit`` record
    carrying WARC-Refers-To-Target-URI + WARC-Payload-Digest — the
    archive-layer exact dedup that keeps recrawl archives small. The
    canonical pick is ONE ROW per digest (row_number over the digest
    window ordered by uri — so same-URI refetches, the primary recrawl
    case, dedup too); a single digest-keyed shuffle, sha1 computed once
    per row before the exchange. Consumers re-join revisits to bodies
    on the digest (resolve_revisits)."""
    import os

    from pyspark import TaskContext

    from pyspark.sql import functions as F

    os.makedirs(out_dir, exist_ok=True)
    stale = [
        f for f in os.listdir(out_dir)
        if f.endswith((".warc.gz", ".warc", ".inprogress"))
    ]
    if stale:
        if not overwrite:
            raise ValueError(
                f"out_dir {out_dir!r} already holds {len(stale)} WARC part(s); "
                "pass overwrite=True to replace them"
            )
        for f in stale:
            os.remove(os.path.join(out_dir, f))

    import datetime as _dt

    from pyspark.sql.window import Window as _W

    warc_date = (
        _dt.datetime.now(_dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")
    )
    cols = df.select(
        F.col(uri_col).alias("__uri"), F.col(body_col).alias("__body")
    )
    if dedup_bodies:
        # ONE digest-keyed shuffle: sha1 computed once per row before
        # the exchange, the canonical row picked by row_number over the
        # digest window (NOT uri equality — the primary recrawl case is
        # the SAME uri refetched with unchanged content, and only one of
        # those rows may carry the body). Null bodies keep rn=1 so they
        # reach the writer's null-skip counter instead of vanishing in
        # a join on a null key.
        hashed = cols.withColumn(
            "__digest", F.sha1(F.col("__body").cast("binary"))
        )
        w = _W.partitionBy("__digest").orderBy("__uri")
        cols = hashed.withColumn(
            "__rn",
            F.when(F.col("__digest").isNotNull(), F.row_number().over(w)).otherwise(
                F.lit(1)
            ),
        ).withColumn("__orig", F.first("__uri").over(w))
    else:
        cols = (
            cols.withColumn("__digest", F.lit(None).cast("string"))
            .withColumn("__rn", F.lit(1))
            .withColumn("__orig", F.col("__uri"))
        )

    def write(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ctx = TaskContext.get()
        pid = ctx.partitionId()
        path = os.path.join(out_dir, f"part-{pid:05d}.warc.gz")
        n = 0
        n_bytes = 0
        n_null = 0
        tmp = f"{path}.attempt-{ctx.taskAttemptId()}.inprogress"
        with open(tmp, "wb") as fh:
            # spec-recommended head record describing the writer; not
            # counted in n_records (it describes the file, not the data)
            fh.write(
                encode_warc(
                    [(
                        {
                            "WARC-Type": "warcinfo",
                            "WARC-Date": warc_date,
                            "WARC-Record-ID": f"<urn:ecc:warcinfo:{pid}>",
                            "Content-Type": "application/warc-fields",
                        },
                        b"software: ecc-spark export_warc\r\nformat: WARC/1.0\r\n",
                    )],
                    compress=True,
                )
            )
            for pdf in it:
                for uri, body, digest, orig, rn in zip(
                    pdf["__uri"], pdf["__body"], pdf["__digest"],
                    pdf["__orig"], pdf["__rn"],
                ):
                    if body is None or uri is None:
                        n_null += 1
                        continue
                    safe_uri = (
                        str(uri).replace("\r", "%0D").replace("\n", "%0A")
                    )
                    if dedup_bodies and rn > 1:
                        hdr = {
                            "WARC-Type": "revisit",
                            "WARC-Target-URI": safe_uri,
                            "WARC-Date": warc_date,
                            "WARC-Record-ID": f"<urn:ecc:{pid}:{n}>",
                            "WARC-Refers-To-Target-URI": str(orig)
                            .replace("\r", "%0D")
                            .replace("\n", "%0A"),
                            "WARC-Payload-Digest": f"sha1:{digest}",
                            # mandatory on revisit records (ISO 28500);
                            # the profile Heritrix writes for
                            # content-unchanged dedup
                            "WARC-Profile": "http://netpreserve.org/warc/1.0/revisit/identical-payload-digest",
                            "Content-Type": content_type,
                        }
                        payload = b""
                    else:
                        hdr = {
                            "WARC-Type": warc_type,
                            "WARC-Target-URI": safe_uri,
                            "WARC-Date": warc_date,
                            "WARC-Record-ID": f"<urn:ecc:{pid}:{n}>",
                            "Content-Type": content_type,
                        }
                        if dedup_bodies:
                            hdr["WARC-Payload-Digest"] = f"sha1:{digest}"
                        payload = (
                            body.encode("utf-8") if isinstance(body, str) else bytes(body)
                        )
                    rec = encode_warc([(hdr, payload)], compress=True)
                    fh.write(rec)
                    n += 1
                    n_bytes += len(rec)
        if n:
            os.replace(tmp, path)  # publish only non-empty, complete parts
        else:
            os.remove(tmp)  # a lone warcinfo describes no data — drop it
            path = None  # nothing published: never report a phantom path
        yield pd.DataFrame(
            [{"path": path, "n_records": n, "n_bytes": n_bytes,
              "n_null_skipped": n_null}]
            if n or n_null
            else [],
            columns=["path", "n_records", "n_bytes", "n_null_skipped"],
        )

    return cols.mapInPandas(
        write,
        schema="path string, n_records long, n_bytes long, n_null_skipped long",
    )


def resolve_revisits(records: DataFrame) -> DataFrame:
    """Materialize revisit records against their stored bodies: every
    revisit row joins (on the sha1 payload digest) the full record that
    carries the body, coming back with its own target_uri but the
    canonical body/content columns — so consumers of a deduplicated
    archive see the same rows a full archive would give them. Full
    records pass through unchanged. The join is digest-keyed (uniform)
    and the full side is the DISTINCT body set — the small side of a
    deduplicated archive by construction."""
    from pyspark.sql import functions as F

    from ecc_spark.session import drain_persisted, keep_persisted
    from pyspark import StorageLevel

    # the gunzip + Content-Length parse is the dominant cost and this
    # function's three subtrees (fulls, revisits, passthrough) would
    # each re-run it — persist the records frame once (the session
    # janitor frees the previous call's cache)
    drain_persisted()
    records = records.persist(StorageLevel.MEMORY_AND_DISK)
    keep_persisted(records)
    fulls = records.filter(
        (F.col("warc_type") != "revisit") & F.col("payload_digest").isNotNull()
    ).select(
        F.col("payload_digest").alias("__d"),
        F.col("warc_type").alias("__wtype"),
        F.col("body").alias("__body"),
        F.col("http_status").alias("__status"),
        F.col("http_content_type").alias("__ctype"),
    ).dropDuplicates(["__d"])
    revisits = (
        records.filter(F.col("warc_type") == "revisit")
        .join(fulls, F.col("payload_digest") == F.col("__d"), "left")
        .withColumn("body", F.coalesce("__body", "body"))
        .withColumn("http_status", F.coalesce("http_status", "__status"))
        .withColumn("http_content_type", F.coalesce("http_content_type", "__ctype"))
        # resolved rows must LOOK like full rows — the engine's own
        # consumers (warc_to_documents / warc_to_media) filter on
        # warc_type and content type, and would otherwise silently drop
        # every deduplicated URI. refers_to keeps the revisit identity
        # traceable; content_length is the materialized body's.
        .withColumn(
            "warc_type", F.coalesce(F.col("__wtype"), F.col("warc_type"))
        )
        .withColumn(
            "content_length",
            F.coalesce(F.length("body").cast("long"), F.col("content_length")),
        )
        .drop("__d", "__wtype", "__body", "__status", "__ctype")
    )
    return records.filter(F.col("warc_type") != "revisit").unionByName(revisits)


# ---------------------------------------------------------------------
# CDX index: the random-access sidecar real archive tooling (pywb /
# OpenWayback) builds over WARC files — (urlkey, offset, length) per
# record, where offset/length address the record's gzip MEMBER in the
# compressed file (that is what makes .warc.gz seekable).
# ---------------------------------------------------------------------


def iter_warc_members(buf: bytes, _chunk: int = 1 << 20):
    """Yield (offset, length, rec_in_span, headers, body) per record,
    where offset/length span the record's bytes IN THE FILE AS STORED:
    for a multi-member .warc.gz, the gzip member (seek + inflate one
    member = one record — warcio's layout); for plain WARC, the raw
    record span. rec_in_span is the record's index WITHIN that span —
    0 for member-granular layouts, 0..k for whole-stream gzip where one
    member holds many records (fetch_record uses it to serve the right
    one).

    The gzip walk is LINEAR: members inflate from memoryview slices fed
    in bounded chunks, and the member boundary comes from how much of
    the last chunk the decompressor left over — no per-member copy of
    the remaining file (a buf[pos:] slice per member would make a 100k-
    member Common Crawl segment O(members x filesize))."""
    import zlib as _z

    if buf[:2] == b"\x1f\x8b":
        view = memoryview(buf)
        pos = 0
        n = len(buf)
        while pos < n:
            d = _z.decompressobj(wbits=31)
            out = []
            fed = 0
            while not d.eof and pos + fed < n:
                chunk = view[pos + fed : pos + fed + _chunk]
                out.append(d.decompress(chunk))
                fed += len(chunk)
            if not d.eof:
                raise ValueError(f"corrupt/truncated gzip member at offset {pos}")
            consumed = fed - len(d.unused_data)  # unused bytes are <= one chunk
            if consumed <= 0:
                raise ValueError(f"corrupt gzip member at offset {pos}")
            recs = list(iter_warc_records(b"".join(out)))
            for ri, (hdr, body) in enumerate(recs):
                yield pos, consumed, ri, hdr, body
            pos += consumed
            while pos < n and buf[pos : pos + 2] not in (b"\x1f\x8b", b""):
                pos += 1  # tolerate padding between members
        return
    # plain WARC: record spans from the framing walk
    i = 0
    for hdr, body in iter_warc_records(buf):
        start = buf.find(b"WARC/", i)
        he = buf.find(b"\r\n\r\n", start)
        end = he + 4 + int(hdr["content-length"])
        while buf[end : end + 2] == b"\r\n":
            end += 2
        yield start, end - start, 0, hdr, body
        i = end


def surt_key(uri: str) -> str:
    """SURT-style canonical url key ('com,example)/path?query', lowered,
    scheme/www dropped) — the sort key CDX files use so one host's
    records cluster."""
    u = str(uri).strip().lower()
    u = re.sub(r"^[a-z][a-z0-9+.-]*://", "", u)
    host, sep, rest = u.partition("/")
    host = host.split("@")[-1].split(":")[0]  # drop userinfo + port
    if host.startswith("www."):
        host = host[4:]
    return ",".join(reversed(host.split("."))) + ")/" + (rest if sep else "")


def _http_head(body: bytes) -> tuple[int | None, str | None]:
    """Status + content-type from the HTTP header block ONLY — the index
    never needs the payload, so chunked reassembly / gzip inflation
    (which _parse_http_response pays) is skipped entirely."""
    if not body.startswith(b"HTTP/"):
        return None, None
    he = body.find(b"\r\n\r\n")
    ver_end = body.find(b"\r\n")
    if ver_end < 0:
        return None, None
    parts = body[:ver_end].split(b" ", 2)
    try:
        status = int(parts[1])
    except (IndexError, ValueError):
        return None, None
    headers = _parse_headers(body[ver_end + 2 : he if he > 0 else len(body)])
    return status, headers.get("content-type")


def warc_cdx(spark: SparkSession, path: str) -> DataFrame:
    """Archive(s) → CDX index rows: (urlkey, warc_date, target_uri,
    warc_type, http_status, mime, offset, length, path), sorted lookups
    by urlkey. offset/length address the record's stored bytes (gzip
    member for .warc.gz), so a reader can serve one record with a
    ranged read + single-member inflate — no full-file scan."""

    def index(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [
            "urlkey", "warc_date", "target_uri", "warc_type",
            "http_status", "mime", "digest", "offset", "length",
            "rec_in_span", "path",
        ]
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    for off, ln, ri, hdr, body in iter_warc_members(bytes(r.content)):
                        status = mime = None
                        if hdr.get("warc-type") == "response":
                            status, mime = _http_head(body)
                        uri = hdr.get("warc-target-uri")
                        rows.append(
                            {
                                "urlkey": surt_key(uri) if uri else None,
                                "warc_date": hdr.get("warc-date"),
                                "target_uri": uri,
                                "warc_type": hdr.get("warc-type", ""),
                                "http_status": status,
                                "mime": mime,
                                "digest": hdr.get("warc-payload-digest"),
                                "offset": off,
                                "length": ln,
                                "rec_in_span": ri,
                                "path": r.path,
                            }
                        )
                except Exception:  # noqa: BLE001 — same containment as read_warc
                    rows.append(
                        {
                            "urlkey": None, "warc_date": None, "target_uri": None,
                            "warc_type": "parse_error", "http_status": None,
                            "mime": None, "digest": None, "offset": -1,
                            "length": 0, "rec_in_span": 0, "path": r.path,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    files = spark.read.format("binaryFile").load(path).select("path", "content")
    return files.mapInPandas(
        index,
        schema=(
            "urlkey string, warc_date string, target_uri string, "
            "warc_type string, http_status int, mime string, "
            "digest string, offset long, length long, rec_in_span int, "
            "path string"
        ),
    )


def fetch_record(file_bytes: bytes, offset: int, length: int, rec_in_span: int = 0):
    """Serve ONE record from a CDX hit: slice [offset, offset+length)
    of the stored file (the ranged read a wayback server would issue)
    and parse just that span — inflating a single gzip member when the
    archive is compressed. ``rec_in_span`` (from the CDX row) selects
    the record inside a whole-stream-gzip span, where one member holds
    many records and the first one is NOT necessarily the hit."""
    span = file_bytes[offset : offset + length]
    if span[:2] == b"\x1f\x8b":
        span = gzip.decompress(span)
    for i, rec in enumerate(iter_warc_records(span)):
        if i == rec_in_span:
            return rec
    raise ValueError(f"span holds no record #{rec_in_span}")
