"""WARC source: synthetic .warc/.warc.gz fixtures -> DataFrame ->
end-to-end extraction."""

import gzip

from html_to_document_spark.sources.warc import (
    parse_warc_bytes,
    read_warc,
)


def _record(rtype, rid, uri, payload: bytes, http=False) -> bytes:
    if http:
        payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
                   + payload)
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {rtype}\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: application/http\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def _fixture() -> bytes:
    return b"".join([
        _record("warcinfo", "w0", "", b"software: test\r\n"),
        _record("request", "r0", "http://a.example/", b"GET / HTTP/1.1\r\n"),
        _record("response", "r1", "http://a.example/",
                b"<h1>Title</h1><p>body one</p>", http=True),
        _record("response", "r2", "http://b.example/x",
                # payload CONTAINS the record-head magic: the walker
                # must not split on it
                b"<p>literal WARC/1.0 inside</p>", http=True),
        _record("conversion", "r3", "http://c.example/",
                b"plain converted text"),
    ])


def test_parse_warc_bytes_walks_by_content_length():
    recs = parse_warc_bytes(_fixture())
    assert [r[0] for r in recs] == ["urn:uuid:r1", "urn:uuid:r2",
                                    "urn:uuid:r3"]
    assert recs[0][3] == "<h1>Title</h1><p>body one</p>"  # HTTP stripped
    assert recs[1][3] == "<p>literal WARC/1.0 inside</p>"
    assert recs[2][3] == "plain converted text"
    assert recs[0][1] == "http://a.example/"


def test_parse_warc_skips_malformed():
    junk = b"garbage\r\n" + _fixture() + b"WARC/1.0\r\nbroken"
    assert len(parse_warc_bytes(junk)) == 3


def test_read_warc_plain_and_gz_end_to_end(spark, tmp_path):
    from pyspark.sql import functions as F

    from html_to_document_spark.operators.extract_spans import (
        exploded,
        extract_spans_from_html,
    )

    raw = _fixture()
    (tmp_path / "a.warc").write_bytes(raw)
    # .warc.gz: per-record gzip members concatenated (the spec's form)
    members = [gzip.compress(_record("response", "g1", "http://g.example/",
                                     b"<ul><li>gz one</li></ul>",
                                     http=True)),
               gzip.compress(_record("response", "g2", "http://g.example/2",
                                     b"<p>gz two</p>", http=True))]
    (tmp_path / "b.warc.gz").write_bytes(b"".join(members))

    df = read_warc(spark, str(tmp_path))
    rows = {r.doc_id: r for r in df.collect()}
    assert set(rows) == {"urn:uuid:r1", "urn:uuid:r2", "urn:uuid:r3",
                         "urn:uuid:g1", "urn:uuid:g2"}
    assert rows["urn:uuid:g1"].html == "<ul><li>gz one</li></ul>"

    # straight into the extraction pipeline
    spans = exploded(extract_spans_from_html(
        df.filter(F.col("doc_id") == "urn:uuid:r1")))
    texts = [r.text for r in spans.orderBy("offset").collect()]
    assert texts == ["Title", "body one"]


def _pdf_record(rid, uri, pdf_bytes: bytes) -> bytes:
    payload = (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n"
               + pdf_bytes)
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"WARC-Identified-Payload-Type: application/pdf\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def test_read_warc_binary_types_keeps_pdf_bytes(spark, tmp_path):
    from html_to_document_spark.core.pdf import pdf_text_lines
    from html_to_document_spark.sources.pdf_synth import make_pdf

    pdf = make_pdf([["pdf alpha", "pdf beta"]])
    (tmp_path / "mixed.warc").write_bytes(
        _fixture() + _pdf_record("p1", "http://a.example/doc.pdf", pdf)
    )
    df = read_warc(spark, str(tmp_path), binary_types=("application/pdf",))
    assert df.columns == ["doc_id", "url", "content_type", "html", "content"]
    rows = {r.doc_id: r for r in df.collect()}
    prow = rows["urn:uuid:p1"]
    assert prow.content_type == "application/pdf"
    assert prow.html is None
    # byte-exact round trip through the gzip-less path
    assert pdf_text_lines(bytes(prow.content)) == ["pdf alpha", "pdf beta"]
    # text records are untouched and carry no payload bytes
    assert rows["urn:uuid:r1"].content is None
    assert rows["urn:uuid:r1"].html == "<h1>Title</h1><p>body one</p>"


def test_http_content_type_used_when_no_identified_payload(spark, tmp_path):
    """wget/heritrix archives carry the payload type only in the HTTP
    header; the walker must surface it (review finding)."""
    from html_to_document_spark.core.pdf import pdf_text_lines
    from html_to_document_spark.sources.pdf_synth import make_pdf

    pdf = make_pdf([["wget style pdf"]])
    payload = (b"HTTP/1.1 200 OK\r\nContent-Type: application/pdf\r\n\r\n"
               + pdf)
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:wg1>\r\n"
        f"WARC-Target-URI: http://w.example/a.pdf\r\n"
        f"Content-Type: application/http; msgtype=response\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    (tmp_path / "w.warc").write_bytes(head + payload + b"\r\n\r\n")
    df = read_warc(spark, str(tmp_path), binary_types=("application/pdf",))
    row = df.collect()[0]
    assert row.content_type == "application/pdf"
    assert row.html is None
    assert pdf_text_lines(bytes(row.content)) == ["wget style pdf"]
    # and the charset-parameter form still resolves to the bare type
    recs = parse_warc_bytes(
        head.replace(b"Content-Type: application/http; msgtype=response",
                     b"Content-Type: application/http")
        + payload.replace(b"application/pdf",
                          b"text/html; charset=UTF-8 ") + b"\r\n\r\n")
    assert recs[0][2] == "text/html"


# ---------------------------------------------------------------------------
# charset sniffing
# ---------------------------------------------------------------------------


def _http_record(rid, uri, payload: bytes, ctype: str) -> bytes:
    body = (f"HTTP/1.1 200 OK\r\nContent-Type: {ctype}\r\n\r\n").encode() \
        + payload
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: response\r\n"
        f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
        f"WARC-Target-URI: {uri}\r\n"
        f"Content-Type: application/http\r\n"
        f"Content-Length: {len(body)}\r\n"
        f"\r\n"
    ).encode()
    return head + body + b"\r\n\r\n"


def test_sniff_decode_precedence():
    from html_to_document_spark.sources.warc import sniff_decode

    # BOM wins over everything, including a lying declaration
    assert sniff_decode(
        b"\xef\xbb\xbf<p>caf\xc3\xa9</p>", "shift_jis"
    ) == ("<p>café</p>", "utf-8")
    assert sniff_decode("hé".encode("utf-16"), None)[0] == "hé"  # LE BOM
    assert sniff_decode(
        b"\xfe\xff" + "hé".encode("utf-16-be"), None
    ) == ("hé", "utf-16-be")
    # UTF-32 BOMs are checked before the UTF-16 ones they overlap
    assert sniff_decode(
        b"\xff\xfe\x00\x00" + "hé".encode("utf-32-le"), None
    ) == ("hé", "utf-32-le")
    assert sniff_decode(
        b"\x00\x00\xfe\xff" + "hé".encode("utf-32-be"), None
    ) == ("hé", "utf-32-be")

    # transport declaration decodes legacy bytes
    text, enc = sniff_decode(b"caf\xe9 au lait", "windows-1252")
    assert (text, enc) == ("café au lait", "cp1252")
    # iso-8859-1 folds into cp1252 (WHATWG): 0x93/0x94 are smart quotes
    text, enc = sniff_decode(b"\x93x\x94", "iso-8859-1")
    assert (text, enc) == ("“x”", "cp1252")

    # meta prescan (both forms), only within the first 1024 bytes
    body = (b"<html><head><meta charset=shift_jis></head>"
            + "<p>日本語</p>".encode("shift_jis"))
    assert sniff_decode(body, None) == (
        body.decode("shift_jis"), "shift_jis")
    body = (b'<meta http-equiv="Content-Type" '
            b'content="text/html; charset=EUC-JP">'
            + "円".encode("euc-jp"))
    assert sniff_decode(body, None)[0].endswith("円")
    far = b"<p>" + b"x" * 1100 + b'<meta charset="shift_jis">ascii only'
    assert sniff_decode(far, None)[1] == "utf-8"  # meta outside window

    # gb2312 label maps to the GBK superset
    text, enc = sniff_decode(
        "中文".encode("gbk"), "gb2312")
    assert (text, enc) == ("中文", "gbk")

    # a lying declaration falls through to the heuristic, not mangle
    utf8_body = "naïve résumé".encode("utf-8")
    assert sniff_decode(utf8_body, "utf-8") == ("naïve résumé", "utf-8")
    text, enc = sniff_decode(utf8_body, "ascii")
    assert (text, enc) == ("naïve résumé", "utf-8")

    # undeclared: strict utf-8 first, cp1252 fallback for legacy bytes
    assert sniff_decode(b"plain ascii", None) == ("plain ascii", "utf-8")
    assert sniff_decode(b"caf\xe9", None) == ("café", "cp1252")
    # cp1252 holes (0x81 etc.) fall through to latin-1, never raise
    text, enc = sniff_decode(b"\x81\xe9", None)
    assert enc == "latin-1" and len(text) == 2

    # unknown label is treated as undeclared
    assert sniff_decode(b"caf\xe9", "klingon-8") == ("café", "cp1252")


def test_read_warc_sniff_charset_end_to_end(spark, tmp_path):
    data = b"".join([
        _http_record("e1", "http://a.example/1",
                     "<p>café UTF-8 fällt zusammen</p>".encode("utf-8"),
                     "text/html"),
        _http_record("e2", "http://a.example/2",
                     "<p>café légacy</p>".encode("cp1252"),
                     "text/html; charset=windows-1252"),
        _http_record("e3", "http://a.example/3",
                     b"<meta charset=shift_jis><p>"
                     + "日本語ページ".encode("shift_jis") + b"</p>",
                     "text/html"),
        _http_record("e4", "http://a.example/4",
                     "<p>sans déclaration</p>".encode("cp1252"),
                     "text/html"),
    ])
    (tmp_path / "enc.warc").write_bytes(data)

    df = read_warc(spark, str(tmp_path), sniff_charset=True)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows["urn:uuid:e1"]["html"] == "<p>café UTF-8 fällt zusammen</p>"
    assert rows["urn:uuid:e1"]["encoding"] == "utf-8"
    assert rows["urn:uuid:e2"]["html"] == "<p>café légacy</p>"
    assert rows["urn:uuid:e2"]["encoding"] == "cp1252"
    assert "日本語ページ" in rows["urn:uuid:e3"]["html"]
    assert rows["urn:uuid:e3"]["encoding"] == "shift_jis"
    assert rows["urn:uuid:e4"]["html"] == "<p>sans déclaration</p>"
    assert rows["urn:uuid:e4"]["encoding"] == "cp1252"

    # default path unchanged: blanket utf-8 with replacement chars
    legacy = read_warc(spark, str(tmp_path)).collect()
    by_id = {r["doc_id"]: r["html"] for r in legacy}
    assert "�" in by_id["urn:uuid:e2"]
    assert "encoding" not in read_warc(spark, str(tmp_path)).columns


def test_crawl_pipeline_sniff_charset(spark, tmp_path):
    from html_to_document_spark.plans.crawl import build_crawl_pipeline

    body = ("<p>the café owner said this and that about the menu and "
            "was not in the least concerned with the other details of "
            "the day because the café was always busy</p>"
            ).encode("cp1252")
    (tmp_path / "c.warc").write_bytes(b"".join([
        _http_record("p1", "http://ok.example/a", body,
                     "text/html; charset=windows-1252"),
    ]))
    out = build_crawl_pipeline(
        spark, str(tmp_path),
        num_partitions=2, keep_langs=("en",), min_quality=-1.0,
        pii_scrub=False, sniff_charset=True,
    ).collect()
    assert len(out) == 1
    assert "café owner" in out[0]["text"]


def test_read_warc_capture_headers(spark, tmp_path):
    from html_to_document_spark.operators.dedup import exact_dedup_latest

    def rec(rid, date, lang_hdr, text):
        body = (
            "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            + (f"Content-Language: {lang_hdr}\r\n" if lang_hdr else "")
            + "\r\n" + text
        ).encode()
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\n"
            f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
            f"WARC-Target-URI: http://a.example/p\r\n"
            + (f"WARC-Date: {date}\r\n" if date else "")
            + f"Content-Type: application/http\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        return head + body + b"\r\n\r\n"

    data = (
        rec("h1", "2024-01-02T03:04:05Z", "en-US, fr", "<p>old copy</p>")
        + rec("h2", "2025-06-07T08:09:10Z", None, "<p>old copy</p>")
        + rec("h3", None, "DE", "<p>other</p>")
    )
    (tmp_path / "h.warc").write_bytes(data)

    df = read_warc(spark, str(tmp_path), capture_headers=True)
    rows = {r["doc_id"]: r for r in df.collect()}
    assert rows["urn:uuid:h1"]["fetched_at"] == "2024-01-02T03:04:05Z"
    assert rows["urn:uuid:h1"]["content_language"] == "en-us"  # first tag
    assert rows["urn:uuid:h2"]["content_language"] is None
    assert rows["urn:uuid:h3"]["fetched_at"] is None
    assert rows["urn:uuid:h3"]["content_language"] == "de"

    # the documented composition: newest capture wins the re-fetch
    kept = exact_dedup_latest(
        df.withColumn("ts", df["fetched_at"]), text_col="html",
        ts_col="ts",
    )
    ids = {r["doc_id"] for r in kept.collect()}
    assert "urn:uuid:h2" in ids and "urn:uuid:h1" not in ids

    # flag off: columns absent, existing schema untouched
    assert "fetched_at" not in read_warc(spark, str(tmp_path)).columns


def test_sniff_decode_bomless_utf16_labels_mean_utf8():
    """Review find (WHATWG decode rule): a UTF-16-family charset
    declaration on a BOM-less body means UTF-8 — even-length ASCII
    would otherwise 'successfully' decode into CJK garbage."""
    from html_to_document_spark.sources.warc import sniff_decode

    body = b"<html><body>hello world page</body></html>"
    assert sniff_decode(body, "unicode") == (body.decode(), "utf-8")
    assert sniff_decode(body, "utf-16") == (body.decode(), "utf-8")
    assert sniff_decode(body, "utf-16le") == (body.decode(), "utf-8")
    meta = b"<meta charset=unicode><p>plain ascii</p>"
    assert sniff_decode(meta, None) == (meta.decode(), "utf-8")
    # a genuine BOM'd UTF-16 body still decodes as UTF-16
    import codecs

    b16 = codecs.BOM_UTF16_LE + "hé".encode("utf-16-le")
    assert sniff_decode(b16, "utf-16") == ("hé", "utf-16-le")
    # and a BOM-less legacy body with a utf-16 label falls through to
    # the cp1252 heuristic rather than mangling
    assert sniff_decode(b"caf\xe9", "utf-16") == ("café", "cp1252")
