"""WARC source: read web-archive files (the Common Crawl container
format) into a (doc_id, url, content_type, html) DataFrame ready for
the extraction pipeline.

Public format: ISO 28500. A WARC file is a sequence of records, each a
``WARC/1.0\\r\\n`` header block (``Name: value`` lines, terminated by a
blank line) followed by exactly ``Content-Length`` payload bytes and a
``\\r\\n\\r\\n`` separator. ``response`` records wrap an HTTP response,
so the HTTP header block is stripped before the body is returned.
``.warc.gz`` files are per-record gzip members concatenated; Python's
``gzip.decompress`` handles multi-member streams, so one decompress
yields the plain byte stream.

Scale shape (100 TB lens): crawl archives ship as ~1 GB files —
``binaryFile`` gives one task per file, which is the right granularity
for the sequential Content-Length walk (records cannot be split on a
delimiter: payloads may contain ``WARC/1.0``). Parsing runs in an
Arrow-batched ``mapInPandas`` (one file per input row, many records
out), and the downstream extraction stage re-partitions by salted
doc-hash anyway, so per-file size skew does not survive past the scan.
Malformed records are skipped, not fatal — a crawl archive always
contains some.
"""

from __future__ import annotations

import codecs
import gzip
import re
from typing import TYPE_CHECKING, Iterator

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame, SparkSession

WARC_SCHEMA = (
    "doc_id string, url string, content_type string, html string"
)

_WANTED_TYPES = ("response", "conversion", "resource")


# --------------------------------------------------------------------
# charset sniffing (WHATWG encoding-sniffing order: BOM, transport
# declaration, <meta> prescan, then content heuristic)
# --------------------------------------------------------------------

# WHATWG label -> Python codec for labels whose codecs.lookup name
# differs from the crawl-observed spelling. gb2312 maps to the GBK
# superset (the WHATWG rule — real "gb2312" pages routinely use GBK
# extensions); x-sjis is the legacy Shift_JIS label.
_CHARSET_ALIASES = {
    "gb2312": "gbk",
    "gb_2312-80": "gbk",
    "x-sjis": "shift_jis",
    "iso-latin-1": "latin-1",
    "macintosh": "mac_roman",
    # legacy Word/FrontPage label; resolves to the utf-16 family and
    # is then NEUTRALIZED by sniff_decode's BOM-less-UTF-16 rule
    "unicode": "utf-16",
    "iso-8859-1": "cp1252",  # WHATWG folds latin-1 into windows-1252
    "latin-1": "cp1252",
    "latin1": "cp1252",
    "us-ascii": "cp1252",
    "ascii": "cp1252",
}

# meta prescan over the first 1024 bytes (the WHATWG prescan window),
# both forms: <meta charset="..."> and the legacy
# <meta http-equiv="Content-Type" content="text/html; charset=...">
_META_CHARSET_RE = re.compile(
    rb"<meta[^>]{0,256}?charset\s*=\s*[\"']?\s*([a-zA-Z0-9._\-]{2,32})",
    re.IGNORECASE,
)
_HTTP_CHARSET_RE = re.compile(
    r"charset\s*=\s*[\"']?\s*([a-zA-Z0-9._\-]{2,32})", re.IGNORECASE
)


def _resolve_codec(label: str) -> str | None:
    """Charset label -> Python codec name, or None for labels this
    environment can't decode (treated as undeclared, not fatal)."""
    label = label.strip().strip("\"'").lower()
    label = _CHARSET_ALIASES.get(label, label)
    try:
        return codecs.lookup(label).name
    except LookupError:
        return None


def sniff_decode(
    body: bytes, declared: str | None = None
) -> tuple[str, str]:
    """Decode crawl HTML bytes to text -> (text, encoding_used).

    Precedence: a byte-order mark wins outright; then strict UTF-8
    when the body actually CONTAINS multi-byte sequences (a page that
    validates as UTF-8 with non-ASCII content is UTF-8 — stale
    ``charset=iso-8859-1`` declarations on migrated UTF-8 sites are
    one of the most common crawl lies, and this is the
    charset-normalizer/CCNet resolution of it); then the declaration
    chain — transport-level (HTTP ``Content-Type`` charset parameter),
    then a WHATWG ``<meta>`` prescan of the first 1024 bytes; finally
    windows-1252 (the HTML5 default for unlabeled legacy bytes; its
    five undefined bytes fall through to latin-1 so decoding never
    raises). A declared encoding that fails to decode the body falls
    through rather than replace-mangling. The deliberate residual
    risk: a legacy-encoded page whose bytes happen to form valid
    multi-byte UTF-8 misdecodes — vanishingly rare (CJK double-byte
    lead/trail ranges almost never satisfy UTF-8 continuation
    structure) and the standard trade every crawl decoder makes.
    """
    if body[:3] == b"\xef\xbb\xbf":
        return body[3:].decode("utf-8", errors="replace"), "utf-8"
    # the 4-byte UTF-32 BOMs first: FF FE 00 00 starts with the
    # UTF-16-LE BOM
    if body[:4] == b"\xff\xfe\x00\x00":
        return body[4:].decode("utf-32-le", errors="replace"), "utf-32-le"
    if body[:4] == b"\x00\x00\xfe\xff":
        return body[4:].decode("utf-32-be", errors="replace"), "utf-32-be"
    if body[:2] == b"\xff\xfe":
        return body[2:].decode("utf-16-le", errors="replace"), "utf-16-le"
    if body[:2] == b"\xfe\xff":
        return body[2:].decode("utf-16-be", errors="replace"), "utf-16-be"
    utf8_text: str | None = None
    try:
        utf8_text = body.decode("utf-8")
    except UnicodeDecodeError:
        pass
    if utf8_text is not None and not body.isascii():
        return utf8_text, "utf-8"
    for label in (declared, _sniff_meta(body)):
        if not label:
            continue
        codec = _resolve_codec(label)
        if codec is None:
            continue
        if codec.startswith(("utf-16", "utf-32")):
            # WHATWG decode: UTF-16 family labels (incl. the legacy
            # 'unicode' label old Word/FrontPage exports emit) mean
            # UTF-8 when no BOM is present — a BOM-less declared
            # UTF-16 would 'successfully' decode even-length ASCII
            # into CJK garbage (review find). Real UTF-16 bodies were
            # already caught by the BOM checks above.
            continue
        try:
            return body.decode(codec), codec
        except (UnicodeDecodeError, ValueError):
            continue  # the declaration lies; fall through
    if utf8_text is not None:  # pure ASCII, or undeclared valid UTF-8
        return utf8_text, "utf-8"
    try:
        return body.decode("cp1252"), "cp1252"
    except UnicodeDecodeError:
        return body.decode("latin-1"), "latin-1"


def _sniff_meta(body: bytes) -> str | None:
    m = _META_CHARSET_RE.search(body[:1024])
    return m.group(1).decode("ascii", errors="replace") if m else None


def _walk_warc_records(data: bytes) -> list[tuple]:
    """Sequential record walk over a plain (decompressed) WARC byte
    stream. Returns (record_id, target_uri, content_type, body_BYTES,
    declared_charset, warc_date, content_language) for
    response/conversion/resource records; skips
    request/metadata/warcinfo records and anything malformed. Bodies
    stay bytes here so binary payloads (PDF, media) survive; text
    decode is the caller's choice. ``declared_charset`` is the HTTP
    ``Content-Type`` charset parameter when the record wraps an HTTP
    response that sent one; ``warc_date`` the capture timestamp;
    ``content_language`` the first HTTP Content-Language tag,
    lowercased — each None when absent."""
    out: list[tuple] = []
    i, n = 0, len(data)
    while i < n:
        # locate the next record head (tolerates leading junk/padding)
        head = data.find(b"WARC/", i)
        if head < 0:
            break
        hdr_end = data.find(b"\r\n\r\n", head)
        if hdr_end < 0:
            break
        headers: dict[str, str] = {}
        for line in data[head:hdr_end].split(b"\r\n")[1:]:
            k, _, v = line.partition(b":")
            if _:
                headers[k.strip().lower().decode("latin-1")] = (
                    v.strip().decode("latin-1")
                )
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            i = hdr_end + 4
            continue
        body = data[hdr_end + 4 : hdr_end + 4 + length]
        i = hdr_end + 4 + length
        rtype = headers.get("warc-type", "")
        if rtype not in _WANTED_TYPES:
            continue
        http_ctype = None
        charset: str | None = None
        content_lang: str | None = None
        if rtype == "response" and (
            body[:5] == b"HTTP/" or body[:5] == b"http/"
        ):
            # strip the wrapped HTTP header block, keeping its
            # Content-Type — wget/heritrix archives carry the payload
            # type ONLY here (no WARC-Identified-Payload-Type)
            http_end = body.find(b"\r\n\r\n")
            if http_end >= 0:
                for hline in body[:http_end].split(b"\r\n")[1:]:
                    k, sep, v = hline.partition(b":")
                    if not sep:
                        continue
                    key = k.strip().lower()
                    if key == b"content-type":
                        full = v.strip().decode("latin-1")
                        http_ctype = full.split(";")[0].strip()
                        cm = _HTTP_CHARSET_RE.search(full)
                        if cm:
                            charset = cm.group(1)
                    elif key == b"content-language":
                        # transport-declared language (RFC 9110) —
                        # the CCNet declared-vs-detected signal's
                        # other channel; first tag, lowercased
                        content_lang = (
                            v.strip().decode("latin-1")
                            .split(",")[0].strip().lower() or None
                        )
                body = body[http_end + 4 :]
        out.append(
            (
                headers.get("warc-record-id", "").strip("<>"),
                headers.get("warc-target-uri", ""),
                # payload-type priority: the crawler's sniffed type,
                # then the HTTP header's, then the WARC-level one
                # (which for response records is just application/http)
                headers.get("warc-identified-payload-type")
                or http_ctype
                or headers.get("content-type", ""),
                body,
                charset,
                # WARC-Date: the capture timestamp (ISO 8601) — the
                # freshness key newest-keeper dedup wants across
                # re-fetches of the same URL
                headers.get("warc-date") or None,
                content_lang,
            )
        )
    return out


def parse_warc_bytes(data: bytes) -> list[tuple[str, str, str, str]]:
    """Text view of the record walk (the HTML-pipeline surface)."""
    return [
        (rid, url, ctype, body.decode("utf-8", errors="replace"))
        for rid, url, ctype, body, *_rest in _walk_warc_records(data)
    ]


def read_warc(
    spark: "SparkSession",
    path: str,
    binary_types: tuple[str, ...] = (),
    *,
    sniff_charset: bool = False,
    capture_headers: bool = False,
) -> "DataFrame":
    """WARC files under ``path`` -> (doc_id, url, content_type, html).

    ``doc_id`` is the WARC-Record-ID (unique per record per the spec);
    pipe the result straight into ``extract_spans_from_html``.
    Handles ``.warc`` and ``.warc.gz`` (multi-member gzip) alike.

    ``binary_types``: content-type prefixes (e.g.
    ``("application/pdf",)``) whose payloads must survive as raw bytes
    — those records get ``html = NULL`` and a populated ``content``
    binary column (appended to the schema only when the option is
    set); everything else decodes to text as before. This is how the
    interleaved crawl keeps PDFs byte-exact for the PDF extractor
    while HTML stays a string column.

    ``sniff_charset``: decode text payloads via the WHATWG encoding
    sniff (``sniff_decode``: BOM, HTTP charset, <meta> prescan,
    UTF-8-else-cp1252 heuristic) instead of blanket UTF-8, and append
    an ``encoding`` string column recording the codec used (NULL for
    binary rows). Real crawls are several percent legacy-encoded;
    blanket UTF-8 replace-mangles every non-ASCII byte of those pages
    BEFORE any downstream repair can see them.

    ``capture_headers``: append ``fetched_at`` (the WARC-Date capture
    timestamp — feed it to ``dedup.exact_dedup_latest`` to keep the
    NEWEST capture when a crawl re-fetches a URL) and
    ``content_language`` (the HTTP transport-declared language, first
    tag lowercased — the other channel of the CCNet
    declared-vs-detected spam/MT signal next to
    ``page_meta.lang_mismatch_col``); NULL when the record carries
    neither.
    """
    import pandas as pd

    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "*.warc*"
    ).load(path).select("path", "content")
    schema = (
        WARC_SCHEMA
        + (", content binary" if binary_types else "")
        + (", encoding string" if sniff_charset else "")
        + (", fetched_at string, content_language string"
           if capture_headers else "")
    )

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows: dict[str, list] = {
                "doc_id": [], "url": [], "content_type": [], "html": []
            }
            if binary_types:
                rows["content"] = []
            if sniff_charset:
                rows["encoding"] = []
            if capture_headers:
                rows["fetched_at"] = []
                rows["content_language"] = []
            for fpath, content in zip(pdf["path"], pdf["content"]):
                data = bytes(content)
                if fpath.endswith(".gz") or data[:2] == b"\x1f\x8b":
                    try:
                        data = gzip.decompress(data)
                    except OSError:
                        continue  # truncated/corrupt archive member
                for (
                    rid, url, ctype, body, charset, wdate, clang
                ) in _walk_warc_records(data):
                    rows["doc_id"].append(rid)
                    rows["url"].append(url)
                    rows["content_type"].append(ctype)
                    is_bin = any(ctype.startswith(p) for p in binary_types)
                    if is_bin:
                        text, enc = None, None
                    elif sniff_charset:
                        text, enc = sniff_decode(body, charset)
                    else:
                        text = body.decode("utf-8", errors="replace")
                        enc = "utf-8"
                    rows["html"].append(text)
                    if binary_types:
                        rows["content"].append(body if is_bin else None)
                    if sniff_charset:
                        rows["encoding"].append(enc)
                    if capture_headers:
                        rows["fetched_at"].append(wdate)
                        rows["content_language"].append(clang)
            yield pd.DataFrame(rows)

    return files.mapInPandas(fn, schema)
