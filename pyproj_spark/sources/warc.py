"""WARC (Web ARChive, ISO 28500) source — Common Crawl's container
format, parsed from raw bytes into the engine's pages table shape
``(url, warc_ts, html, text, lang)`` (BASELINE.json input_hint).

Parsing is Content-Length-driven per the public spec — the record body
is NEVER scanned for delimiters, so HTML containing ``\\r\\n\\r\\n``
(or arbitrary binary) round-trips exactly. Both plain WARC and the
Common-Crawl convention of one gzip member per record are supported
(multi-member inflate via zlib, no temp files).

The Spark surface is :func:`warc_pages` — one ``map_rows`` stage
(``pyproj_spark/rows.py``), each WARC payload in, its page rows out.
At corpus scale the payloads arrive from a binary source
(``spark.read.format("binaryFile")`` or an Iceberg binary column);
each ~1 GB WARC file is one row, so partition count == file count and
the stage is trivially parallel with no shuffle.

A deterministic fixture WRITER (:func:`build_warc`) produces valid
warcinfo + request + response record sequences so the parse path —
record framing, type filtering, HTTP header split, gzip members — is
exercised end-to-end without network access; :func:`warc_files` runs
it over a DataFrame, one archive per block of doc ids.
"""

from __future__ import annotations

import datetime as dt
import gzip
import re
import time
import zlib
from collections.abc import Callable, Sequence
from html import unescape

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyproj_spark.rows import map_groups, map_rows

#: the pages-table schema produced by warc_pages
PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, "
                "text string, lang string, http_status int, "
                "content_type string")

_STATUS_RE = re.compile(r"HTTP/\d\.\d (\d{3})")
_SCRIPT_RE = re.compile(r"(?is)<(script|style)[^>]*>.*?</\1>")
_TAG_RE = re.compile(r"<[^>]+>")
_LANG_RE = re.compile(r'<html[^>]*\blang="([^"]+)"')
_WS_RE = re.compile(r"\s+")


# ------------------------------------------------------------- parsing

def _inflate(b: bytes, strict: bool) -> tuple[bytes, int]:
    """Inflate a concatenation of gzip members (the Common-Crawl
    record-per-member layout): (bytes, n_bad). A damaged member raises
    ValueError when ``strict``; otherwise the members inflated before it
    are kept and it counts as one bad record."""
    out = bytearray()
    while b:
        d = zlib.decompressobj(wbits=31)
        try:
            out += d.decompress(b)
            out += d.flush()
        except zlib.error as e:
            if strict:
                raise ValueError(f"corrupt gzip member in WARC: {e}")
            return bytes(out), 1
        if not d.eof:
            if strict:
                raise ValueError("truncated gzip member in WARC")
            return bytes(out), 1
        b = d.unused_data
    return bytes(out), 0


def _parse(payload: bytes, strict: bool) -> tuple[list[dict], int]:
    """(response records, n_bad) of a WARC payload. A framing violation
    raises ValueError when ``strict``; otherwise it drops the REST of
    the file (Content-Length framing cannot resynchronize reliably —
    scanning for the next 'WARC/' magic could land inside a response
    body that embeds one) and counts one bad record."""
    bad = 0
    if payload[:2] == b"\x1f\x8b":
        payload, bad = _inflate(payload, strict)
    records = []
    pos, n = 0, len(payload)
    while pos < n:
        while payload[pos:pos + 2] == b"\r\n":  # inter-record CRLFs
            pos += 2
        if pos >= n:
            break
        try:
            end = payload.find(b"\r\n\r\n", pos)
            if end < 0:
                raise ValueError("truncated WARC record header")
            lines = payload[pos:end].decode("utf-8", "replace") \
                .split("\r\n")
            if not lines[0].startswith("WARC/"):
                raise ValueError("missing WARC version line")
            fields = {}
            for ln in lines[1:]:
                k, _, v = ln.partition(":")
                fields[k.strip().lower()] = v.strip()
            if "content-length" not in fields:
                raise ValueError("WARC record without Content-Length")
            clen = int(fields["content-length"])
            body = payload[end + 4:end + 4 + clen]
            if len(body) != clen:
                raise ValueError("truncated WARC record body")
        except ValueError:
            if strict:
                raise
            bad += 1
            break
        pos = end + 4 + clen
        if fields.get("warc-type") == "response":
            try:
                records.append(_response_record(fields, body))
            except ValueError:
                if strict:
                    raise
                bad += 1
    return records, bad


def parse_warc(payload: bytes) -> list[dict]:
    """Parse WARC/1.0 bytes (plain or gzip-membered) into response
    records: [{url, warc_ts, http_status, content_type, html}], in
    file order. warcinfo/request/metadata records are skipped; any
    framing violation raises ValueError."""
    return _parse(payload, strict=True)[0]


def parse_warc_permissive(payload: bytes) -> tuple[list[dict], int]:
    """Like parse_warc but salvages what it can from a damaged file:
    returns (records, n_bad). A framing violation drops the rest of
    the file; a gzip member error keeps the members already inflated.
    Real crawl archives contain truncated tails, so the scale path
    must degrade per-file, not per-job."""
    return _parse(payload, strict=False)


def _response_record(fields: dict, body: bytes) -> dict:
    sep = body.find(b"\r\n\r\n")
    head = body[:sep].decode("latin-1") if sep >= 0 else ""
    html = body[sep + 4:] if sep >= 0 else b""
    hlines = head.split("\r\n")
    m = _STATUS_RE.match(hlines[0]) if hlines else None
    status = int(m.group(1)) if m else 0
    ctype = ""
    for ln in hlines[1:]:
        if ln.lower().startswith("content-type:"):
            ctype = ln.partition(":")[2].strip()
            break
    ts = fields.get("warc-date", "")
    when = dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%SZ") if ts else None
    return dict(url=fields.get("warc-target-uri", ""), warc_ts=when,
                http_status=status, content_type=ctype, html=html)


_CT_CHARSET_RE = re.compile(r"charset\s*=\s*\"?([A-Za-z0-9_.-]+)",
                            re.I)
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]+charset\s*=\s*[\"']?([A-Za-z0-9_.-]+)", re.I)


def detect_charset(html: bytes, content_type: str = "") -> str:
    """Charset resolution order of a real ingestion pipeline: BOM >
    HTTP Content-Type parameter > <meta charset> tag (scanned in the
    first 1024 bytes, per the HTML spec's prescan) > UTF-8 default.
    Unknown labels fall through to the next source."""
    if html[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig"
    if html[:2] in (b"\xff\xfe", b"\xfe\xff"):
        return "utf-16"
    for source in (content_type or "",):
        m = _CT_CHARSET_RE.search(source)
        if m and _known(m.group(1)):
            return m.group(1).lower()
    m = _META_CHARSET_RE.search(html[:1024])
    if m:
        label = m.group(1).decode("ascii", "ignore")
        if _known(label):
            return label.lower()
    return "utf-8"


def _known(label: str) -> bool:
    import codecs
    try:
        codecs.lookup(label)
        return True
    except LookupError:
        return False


def decode_html(html: bytes, content_type: str = "") -> str:
    """Bytes -> str via detect_charset, replacement on errors."""
    return html.decode(detect_charset(html, content_type), "replace")


def html_to_text(html: str) -> str:
    """Deterministic text extraction: drop script/style subtrees,
    strip tags, unescape entities, collapse whitespace. This IS the
    engine's text-extraction contract — the byte-identity invariant
    is against this function."""
    t = _SCRIPT_RE.sub(" ", html)
    t = _TAG_RE.sub(" ", t)
    return _WS_RE.sub(" ", unescape(t)).strip()


def html_lang(html: str) -> str:
    m = _LANG_RE.search(html)
    return m.group(1) if m else "und"


# ----------------------------------------------------- fixture writer

def _record(rtype: str, fields: list[tuple[str, str]],
            body: bytes) -> bytes:
    head = "WARC/1.0\r\n" + f"WARC-Type: {rtype}\r\n" \
        + "".join(f"{k}: {v}\r\n" for k, v in fields) \
        + f"Content-Length: {len(body)}\r\n"
    return head.encode() + b"\r\n" + body + b"\r\n\r\n"


def build_warc(pages: list[tuple[str, str, bytes]],
               gzip_members: bool = False) -> bytes:
    """Serialize [(url, iso_ts, html_bytes), ...] as a valid WARC/1.0
    stream: one warcinfo record, then a request + response pair per
    page (the request records exist to exercise type filtering).
    ``gzip_members`` emits the Common-Crawl one-gzip-member-per-record
    layout (mtime pinned for byte determinism)."""
    out = bytearray()

    def emit(rec: bytes):
        out.extend(gzip.compress(rec, mtime=0) if gzip_members else rec)

    emit(_record("warcinfo",
                 [("WARC-Date", pages[0][1] if pages else
                   "2024-01-01T00:00:00Z")],
                 b"software: pyproj_spark-fixture\r\n"))
    for url, iso_ts, html in pages:
        emit(_record("request",
                     [("WARC-Target-URI", url), ("WARC-Date", iso_ts)],
                     f"GET {url} HTTP/1.1\r\nHost: x\r\n\r\n".encode()))
        http = (b"HTTP/1.1 200 OK\r\n"
                b"Content-Type: text/html; charset=utf-8\r\n"
                + f"Content-Length: {len(html)}\r\n\r\n".encode()
                + html)
        emit(_record("response",
                     [("WARC-Target-URI", url), ("WARC-Date", iso_ts)],
                     http))
    return bytes(out)


# ------------------------------------------------------ Spark surface

def warc_pages(warcs: DataFrame, payload_col: str = "content",
               on_error: str = "fail") -> DataFrame:
    """WARC payloads -> pages rows (input_hint schema + http_status /
    content_type). One ``map_rows`` stage; no shuffle.

    ``on_error="fail"`` (default) raises on any malformed input;
    ``"skip"`` salvages intact records and counts the rest — at crawl
    scale a single truncated archive must cost its own tail, not the
    job. Skipped-record counts surface in the ``n_bad`` column
    (0 for rows from clean files) so the pipeline can alert on decay
    without a second pass. A NULL payload yields no rows in either
    mode."""
    if on_error not in ("fail", "skip"):
        raise ValueError(f"on_error must be fail|skip: {on_error}")
    strict = on_error == "fail"

    def pages(payload):
        if payload is None:
            return []
        recs, nbad = _parse(payload, strict)
        rows = []
        for r in recs:
            html = decode_html(r["html"], r["content_type"])
            rows.append((r["url"], r["warc_ts"], r["html"],
                         html_to_text(html), html_lang(html),
                         r["http_status"], r["content_type"], nbad))
        if not recs and nbad:
            # fully-corrupt archive: without a sentinel its bad-record
            # count would vanish with its rows and the "alert without
            # a second pass" contract breaks
            rows.append((None,) * 7 + (nbad,))
        return rows

    return map_rows(warcs, [payload_col], PAGES_SCHEMA + ", n_bad int",
                    pages)


def warc_date(epoch_s: int) -> str:
    """The WARC-Date string (ISO 8601, UTC) of a Unix time."""
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime(epoch_s))


def warc_files(docs: DataFrame, cols: Sequence[str], per_file: int,
               page: Callable[..., tuple[str, str, bytes]]) -> DataFrame:
    """Fixture archives ``(warc_id long, content binary)`` built from
    the rows of ``docs``: file ``floor(doc_id / per_file)`` holds those
    rows in ``doc_id`` order, each as the page ``page(*values of cols)``
    = (url, iso_ts, html_bytes); odd files use the Common-Crawl
    gzip-member-per-record layout. ``cols`` starts with ``doc_id``.

    The repartition on the file key is explicit: AQE would coalesce
    the tiny group shuffle to one partition and run every WARC build
    (and the parse after it) on one core; an explicit repartition
    keeps its partition count under AQE."""
    n = docs.sparkSession.sparkContext.defaultParallelism
    docs = (docs.withColumn("warc_id", F.floor(F.col("doc_id") / per_file))
            .repartition(n, "warc_id"))

    def build(wid, *col_lists):
        pages = [page(*vals) for vals in zip(*col_lists)]
        return [(wid, build_warc(pages, gzip_members=bool(wid % 2)))]

    return map_groups(docs, ["warc_id"], cols,
                      "warc_id long, content binary", build)
