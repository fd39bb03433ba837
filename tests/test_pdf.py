"""PDF extraction (S6): byte-level parser, writer round-trips, the
reference's <p>-per-line composition, and the Spark operator.

Reference semantics: ``packages/deconverters/pdf/src/
pdf.deconverter.ts:36-42`` — extracted text, newline split, trimmed
lines wrapped in <p>, fed through the common parser.
"""

from __future__ import annotations

import zlib

import pytest

from html_to_document_spark.core.extract import extract_document
from html_to_document_spark.core.pdf import (
    _Lexer,
    _lzw_decode,
    _png_unpredict,
    _rl_decode,
    pdf_text_lines,
    pdf_to_text,
)
from html_to_document_spark.operators.pdf_extract import pdf_paragraph_html
from html_to_document_spark.sources.pdf_synth import make_pdf

PAGES = [
    ["Hello world", "Second line (with parens) and \\backslash"],
    ["Page two line"],
]
WANT = PAGES[0] + [""] + PAGES[1]

VARIANTS = [
    dict(),
    dict(filter="none"),
    dict(filter="ahx"),
    dict(filter="a85"),
    dict(string_mode="hex"),
    dict(string_mode="tj"),
    dict(line_op="T*"),
    dict(line_op="Tm"),
    dict(tounicode=True),
    dict(objstm=True),
    dict(objstm=True, tounicode=True, string_mode="hex", line_op="Tm"),
    dict(encoding="differences"),
    dict(encoding="macroman"),
    dict(encoding="differences", string_mode="hex"),
    dict(encoding="differences", string_mode="tj", filter="ahx"),
    dict(encoding="macroman", objstm=True, line_op="Tm"),
]


@pytest.mark.parametrize("kw", VARIANTS, ids=[str(v) for v in VARIANTS])
def test_roundtrip_variants(kw):
    assert pdf_text_lines(make_pdf(PAGES, **kw)) == WANT


def test_single_page_no_blank_join():
    assert pdf_text_lines(make_pdf([["a", "b c"]])) == ["a", "b c"]


# ------------------------------------------------------------------
# hand-assembled byte-level documents (writer-independent)
# ------------------------------------------------------------------


def _wrap(content: bytes, extra_objs: bytes = b"", length=None) -> bytes:
    """Minimal 1-page PDF around a raw content stream."""
    ldecl = b"%d" % len(content) if length is None else length
    return (
        b"%PDF-1.4\n"
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        b"4 0 obj << /Length " + ldecl + b" >>\nstream\n" + content
        + b"\nendstream endobj\n" + extra_objs
        + b"trailer << /Size 9 /Root 1 0 R >>\n%%EOF\n"
    )


def test_indirect_length():
    content = b"BT 72 720 Td (indirect) Tj ET"
    extra = b"5 0 obj %d endobj\n" % len(content)
    assert pdf_text_lines(_wrap(content, extra, length=b"5 0 R")) == [
        "indirect"
    ]


def test_wrong_length_recovers_via_endstream_scan():
    content = b"BT 72 720 Td (recovered) Tj ET"
    assert pdf_text_lines(_wrap(content, length=b"999999")) == ["recovered"]


def test_apostrophe_and_quote_operators():
    content = (
        b"BT 14 TL 72 720 Td (first) Tj (second)' 1 2 (third)\" ET"
    )
    assert pdf_text_lines(_wrap(content)) == ["first", "second", "third"]


def test_literal_string_escapes():
    # octal, 2-digit octal, line continuation, \n escape, nested parens
    content = b"BT 72 720 Td (A\\101\\75B\\\nC(n)\\)) Tj ET"
    assert pdf_text_lines(_wrap(content)) == ["AA=BC(n))"]


def test_comments_and_junk_between_objects():
    content = b"BT 72 720 Td % mid-stream comment\n (after) Tj ET"
    assert pdf_text_lines(_wrap(content)) == ["after"]


def test_incremental_update_later_object_wins():
    old = _wrap(b"BT 72 720 Td (old) Tj ET")
    update = (
        b"4 0 obj << /Length 29 >>\nstream\n"
        b"BT 72 720 Td (new text) Tj ET\nendstream endobj\n"
        b"trailer << /Size 9 /Root 1 0 R >>\n%%EOF\n"
    )
    assert pdf_text_lines(old + update) == ["new text"]


def test_tj_kerning_gap_inserts_space():
    content = b"BT 72 720 Td [(Hel) -50 (lo) -300 (world)] TJ ET"
    assert pdf_text_lines(_wrap(content)) == ["Hello world"]


def test_encrypted_returns_empty():
    data = _wrap(b"BT 72 720 Td (secret) Tj ET").replace(
        b"trailer << /Size 9",
        b"trailer << /Encrypt 8 0 R /Size 9",
    )
    assert pdf_text_lines(data) == []


@pytest.mark.parametrize(
    "data",
    [b"", b"not a pdf", b"%PDF-1.4 truncated", None, b"%PDF" + b"\x00" * 64],
)
def test_malformed_inputs_yield_empty(data):
    assert pdf_text_lines(data) == []
    assert pdf_to_text(data) == ""


def test_mutation_fuzz_never_raises():
    import random

    base = bytearray(make_pdf(PAGES))
    rng = random.Random(7)
    for _ in range(300):
        mutated = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            mutated[rng.randrange(len(mutated))] = rng.randrange(256)
        pdf_text_lines(bytes(mutated))  # must not raise
    for cut in (10, 100, len(base) // 2, len(base) - 5):
        pdf_text_lines(bytes(base[:cut]))


# ------------------------------------------------------------------
# filters
# ------------------------------------------------------------------


def _lzw_encode(data: bytes) -> bytes:
    """Reference LZW encoder (EarlyChange=1) for decoder tests."""
    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    out_bits: list[tuple[int, int]] = [(256, 9)]
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
        else:
            out_bits.append((table[w], width))
            table[wc] = next_code
            next_code += 1
            if next_code + 1 > (1 << width) and width < 12:
                width += 1
            w = bytes([ch])
    if w:
        out_bits.append((table[w], width))
    out_bits.append((257, width))
    acc = bits = 0
    out = bytearray()
    for code, wd in out_bits:
        acc = (acc << wd) | code
        bits += wd
        while bits >= 8:
            bits -= 8
            out.append((acc >> bits) & 0xFF)
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out)


def test_lzw_filter_roundtrip():
    payload = b"BT 72 720 Td (lzw works lzw works lzw) Tj ET"
    enc = _lzw_encode(payload)
    assert _lzw_decode(enc) == payload
    content_obj = (
        b"4 0 obj << /Filter /LZWDecode /Length %d >>\nstream\n" % len(enc)
        + enc + b"\nendstream endobj\n"
    )
    doc = _wrap(b"placeholder").replace(
        b"4 0 obj << /Length 11 >>\nstream\nplaceholder\nendstream endobj\n",
        content_obj,
    )
    assert pdf_text_lines(doc) == ["lzw works lzw works lzw"]


def test_runlength_decode():
    # 2 literal bytes, then b'x' repeated 5 times, then EOD
    assert _rl_decode(b"\x01ab\xfcx\x80") == b"abxxxxx"


def test_png_predictor_up():
    rows = [bytes([1, 2, 3]), bytes([4, 5, 6])]
    enc = b"\x02" + rows[0] + b"\x02" + bytes(
        (rows[1][i] - rows[0][i]) & 0xFF for i in range(3)
    )
    assert _png_unpredict(enc, 1, 8, 3) == rows[0] + rows[1]


def test_lexer_values():
    lex = _Lexer(b"<< /A [1 2.5 (s) <414243> /N#20x true null] /B 7 0 R >>")
    d = lex.next_value()
    assert d["A"][0] == 1 and d["A"][1] == 2.5
    assert d["A"][2] == b"s" and d["A"][3] == b"ABC"
    assert d["A"][4].name == "N x"
    assert d["A"][5] is True and d["A"][6] is None
    assert d["B"].num == 7


# ------------------------------------------------------------------
# reference composition: <p> per trimmed line through the parser
# ------------------------------------------------------------------


def test_paragraph_html_matches_reference_composition():
    pdf = make_pdf([["  padded  ", "two words"]])
    html = pdf_paragraph_html(pdf)
    assert html == "<p>padded</p><p>two words</p>"
    spans = extract_document(html)
    assert [(s[0], s[1], s[3]) for s in spans] == [
        ("text", "padded", 0),
        ("text", "two words", 1),
    ]


def test_paragraph_html_empty_input():
    assert pdf_paragraph_html(b"junk") == "<p></p>"


# ------------------------------------------------------------------
# Spark operator
# ------------------------------------------------------------------


def test_extract_pdf_spans(spark):
    from html_to_document_spark.operators.pdf_extract import (
        extract_pdf_spans,
    )

    rows = [
        ("d1", make_pdf([["alpha beta", "gamma"]])),
        ("d2", make_pdf(PAGES, tounicode=True)),
        ("d3", b"not a pdf"),
        ("d4", None),
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    out = {
        r["doc_id"]: [(s["kind"], s["text"], s["offset"]) for s in r["spans"]]
        for r in extract_pdf_spans(df).collect()
    }
    assert out["d1"] == [("text", "alpha beta", 0), ("text", "gamma", 1)]
    assert [t for _, t, _ in out["d2"]] == WANT
    # non-PDF payload -> single empty paragraph (reference: pdf-parse
    # output '' -> one '<p></p>'); NULL -> zero spans
    assert out["d3"] == [("text", "", 0)]
    assert out["d4"] == []


def test_extract_pdf_spans_balanced_same_result(spark):
    from html_to_document_spark.operators.pdf_extract import (
        extract_pdf_spans,
    )

    rows = [
        (f"d{i}", make_pdf([[f"line {i} " + "x" * (i * 7)]]))
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "doc_id string, content binary")
    plain = {
        r["doc_id"]: r["spans"] for r in extract_pdf_spans(df).collect()
    }
    routed = {
        r["doc_id"]: r["spans"]
        for r in extract_pdf_spans(df, num_partitions=4).collect()
    }
    assert plain == routed


def test_pdfs_to_html_into_pipeline(spark):
    from html_to_document_spark.operators.extract_spans import (
        extract_spans_from_html,
    )
    from html_to_document_spark.operators.pdf_extract import pdfs_to_html

    rows = [("p1", "http://a.example/x.pdf", make_pdf([["from pdf"]]))]
    df = spark.createDataFrame(
        rows, "doc_id string, url string, content binary"
    )
    html_df = pdfs_to_html(df)
    assert html_df.columns == ["doc_id", "url", "html"]
    row = html_df.collect()[0]
    assert row["html"] == "<p>from pdf</p>"
    spans = extract_spans_from_html(html_df).collect()[0]["spans"]
    assert [(s["kind"], s["text"]) for s in spans] == [("text", "from pdf")]


# ------------------------------------------------------------------
# property-based round trips
# ------------------------------------------------------------------

try:
    from hypothesis import given, settings, strategies as st

    _HAS_HYP = True
except ImportError:  # pragma: no cover
    _HAS_HYP = False

if _HAS_HYP:
    _line = st.text(
        alphabet=st.characters(
            codec="cp1252", exclude_characters="\r\n\x00\x7f\xad"
        ),
        min_size=0,
        max_size=40,
    ).map(lambda s: " ".join(s.split()))  # writer emits trimmed lines
    _page = st.lists(_line, min_size=1, max_size=8)

    @settings(max_examples=150, deadline=None)
    @given(
        pages=st.lists(_page, min_size=1, max_size=3),
        variant=st.sampled_from(VARIANTS),
    )
    def test_property_roundtrip(pages, variant):
        got = pdf_text_lines(make_pdf(pages, **variant))
        if variant.get("encoding") == "macroman":
            # the MacRoman writer is lossy for cp1252 chars outside
            # the Annex D repertoire (e.g. 'ý', and '€' — 0xDB is
            # /currency per Annex D); expect the writer's '?'
            pages = [
                [
                    ln.replace("€", "?")
                    .encode("mac_roman", errors="replace")
                    .decode("mac_roman")
                    for ln in p
                ]
                for p in pages
            ]
        want = []
        for i, p in enumerate(pages):
            if i:
                want.append("")
            want.extend(p)
        assert got == want

    @settings(max_examples=60, deadline=None)
    @given(pages=st.lists(_page, min_size=1, max_size=3))
    def test_property_twocol_reading_order(pages):
        """reading_order=True round-trips the twocol writer verbatim
        for ANY page mix (>= 4-line pages draw two columns right box
        first; shorter pages fall back to single column)."""
        got = pdf_text_lines(
            make_pdf(pages, layout="twocol"), reading_order=True
        )
        want = []
        for i, p in enumerate(pages):
            if i:
                want.append("")
            want.extend(p)
        assert got == want


def test_differences_garbled_without_table():
    """The /Differences writer deliberately remaps bytes away from
    cp1252, so a reader that ignored the /Encoding table (the pre-r5
    behavior: blanket cp1252 fallback) would extract garbage. Pin both
    sides: the encoding-aware reader round-trips exactly, and the raw
    content bytes cp1252-decode to something else entirely."""
    pages = [["Café naïve — “quoted” • résumé", "plain ascii line"]]
    blob = make_pdf(pages, filter="none", encoding="differences")
    assert pdf_text_lines(blob) == pages[0]
    # pull the literal string bytes straight out of the uncompressed
    # content stream and decode them the old way
    import re as _re

    literals = _re.findall(rb"\((.*?)(?<!\\)\)", blob, _re.S)
    assert literals, "expected literal strings in the content stream"
    old_way = b"".join(literals).decode("cp1252", errors="replace")
    assert "Café" not in old_way and "résumé" not in old_way


def test_macroman_garbled_without_table():
    """Same pin for the named-base-encoding path: MacRoman content
    bytes cp1252-decode to mojibake (e.g. 0x8E is 'é' in MacRoman but
    'Ž' in cp1252)."""
    pages = [["déjà vu — açaí"]]
    blob = make_pdf(pages, filter="none", encoding="macroman")
    assert pdf_text_lines(blob) == pages[0]
    import re as _re

    literals = _re.findall(rb"\((.*?)(?<!\\)\)", blob, _re.S)
    old_way = b"".join(literals).decode("cp1252", errors="replace")
    assert "déjà" not in old_way


def test_macroman_0xdb_is_currency_not_euro():
    """PDF Annex D parity (review r5): byte 0xDB under
    /MacRomanEncoding is /currency U+00A4, not the Mac OS 8.5+ euro
    the Python codec emits. Hand-patched byte fixture, so the writer's
    own encoder cannot cancel the deviation."""
    blob = make_pdf([["x"]], filter="none", encoding="macroman")
    patched = blob.replace(b"(x)", b"(\xdb)")
    assert pdf_text_lines(patched) == ["\u00a4"]


def test_differences_surrogate_glyph_is_replacement():
    """A hostile /Differences [.. /uniD800] must yield U+FFFD, not a
    lone surrogate that crashes the first Arrow/parquet boundary."""
    from html_to_document_spark.core.pdf import _glyph_unicode

    for name in ("uniD800", "uniDFFF", "uD800", "u110000"):
        assert _glyph_unicode(name) == "\ufffd"
    assert _glyph_unicode("uni0041") == "A"
    assert _glyph_unicode("u1F600") == "\U0001F600"


def test_tounicode_non_latin_text():
    pages = [["héllo wörld", "日本語のテキスト", "mixed ascii & 漢字"]]
    got = pdf_text_lines(make_pdf(pages, tounicode=True))
    assert got == pages[0]


def test_cp1252_accents_in_literal_strings():
    pages = [["café résumé naïve"]]
    assert pdf_text_lines(make_pdf(pages)) == pages[0]


def test_inline_image_bytes_do_not_leak_into_text():
    # binary payload contains a plausible "(junk) Tj" byte sequence —
    # the interpreter must skip from BI to the delimited EI
    content = (
        b"BT 72 720 Td (before) Tj "
        b"BI /W 2 /H 2 /BPC 8 ID \x00(junk) Tj\xff\xfe EI "
        b"(after)' ET"
    )
    assert pdf_text_lines(_wrap(content)) == ["before", "after"]


def test_form_xobject_text_extracted():
    """Real-world PDFs put body text inside Form XObjects invoked with
    Do; their text must land in reading order with the form's own
    fonts resolved (falling back to the page's)."""
    form_content = b"BT /F1 10 Tf 10 10 Td (from the form) Tj ET"
    page_content = (b"BT 72 720 Td (before form) Tj ET /Fm1 Do "
                    b"BT 9 9 Td (after) Tj ET")
    parts = [
        b"%PDF-1.4\n",
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /XObject << /Fm1 5 0 R >> "
        b"/Font << /F1 6 0 R >> >> >> endobj\n",
        b"4 0 obj << /Length " + b"%d" % len(page_content)
        + b" >>\nstream\n" + page_content + b"\nendstream endobj\n",
        b"5 0 obj << /Subtype /Form /Length " + b"%d" % len(form_content)
        + b" >>\nstream\n" + form_content + b"\nendstream endobj\n",
        b"6 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
        b" endobj\n",
        b"trailer << /Size 9 /Root 1 0 R >>\n%%EOF\n",
    ]
    assert pdf_text_lines(b"".join(parts)) == [
        "before form", "from the form", "after"
    ]


def test_image_xobject_ignored_and_depth_bounded():
    # an Image XObject must not be interpreted; a self-referencing
    # form must not recurse forever
    self_form = b"BT 5 5 Td (loop) Tj ET /Me Do"
    page_content = b"BT 72 720 Td (text) Tj ET /Im1 Do /Me Do"
    parts = [
        b"%PDF-1.4\n",
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /XObject << /Im1 5 0 R /Me 6 0 R >> >> >> endobj\n",
        b"4 0 obj << /Length " + b"%d" % len(page_content)
        + b" >>\nstream\n" + page_content + b"\nendstream endobj\n",
        b"5 0 obj << /Subtype /Image /Length 6 >>\nstream\n"
        b"\x00(x)Tj\nendstream endobj\n",
        b"6 0 obj << /Subtype /Form /Length " + b"%d" % len(self_form)
        + b" >>\nstream\n" + self_form + b"\nendstream endobj\n",
        b"trailer << /Size 9 /Root 1 0 R >>\n%%EOF\n",
    ]
    lines = pdf_text_lines(b"".join(parts))
    assert lines[0] == "text"
    assert 1 <= lines.count("loop") <= 8  # bounded recursion


def test_inline_image_ei_abutting_delimiter():
    """EI may be terminated by a delimiter, not only whitespace —
    '(after)' directly abutting EI must not swallow the page tail."""
    content = (b"BT 72 720 Td (before) Tj "
               b"BI /W 1 /H 1 /BPC 8 ID x EI(after)' ET")
    assert pdf_text_lines(_wrap(content)) == ["before", "after"]


def test_form_inherits_callers_font():
    """A form that never issues Tf decodes with the INVOKING context's
    active font (graphics-state inheritance, spec 8.10)."""
    import zlib as _z

    cmap = (b"1 begincodespacerange\n<0000> <FFFF>\nendcodespacerange\n"
            b"1 beginbfchar\n<0041> <0042>\nendbfchar\n")
    form_content = b"BT 10 10 Td <0041> Tj ET"  # NO Tf in the form
    page_content = b"BT /F1 10 Tf 72 720 Td <0041> Tj ET /Fm1 Do"
    parts = [
        b"%PDF-1.4\n",
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /XObject << /Fm1 5 0 R >> "
        b"/Font << /F1 6 0 R >> >> >> endobj\n",
        b"4 0 obj << /Length " + b"%d" % len(page_content)
        + b" >>\nstream\n" + page_content + b"\nendstream endobj\n",
        b"5 0 obj << /Subtype /Form /Length " + b"%d" % len(form_content)
        + b" >>\nstream\n" + form_content + b"\nendstream endobj\n",
        b"6 0 obj << /Type /Font /Subtype /Type0 /Encoding /Identity-H "
        b"/ToUnicode 7 0 R >> endobj\n",
        b"7 0 obj << /Length " + b"%d" % len(cmap)
        + b" >>\nstream\n" + cmap + b"\nendstream endobj\n",
        b"trailer << /Size 9 /Root 1 0 R >>\n%%EOF\n",
    ]
    # page shows 'B' (code 0x0041 -> U+0042); the form, inheriting F1,
    # must produce 'B' too — not a cp1252 '\x00A' mojibake
    lines = pdf_text_lines(b"".join(parts))
    assert lines == ["B", "B"]


# ---------------------------------------------------------------------------
# reading order (multi-column layout)
# ---------------------------------------------------------------------------


_TWOCOL_LINES = [
    "left one alpha", "left two beta", "left three gamma",
    "right one delta", "right two epsilon",
]


def test_twocol_garbled_without_reading_order():
    """The twocol writer draws the RIGHT text box before the left, so
    stream-order extraction yields the columns swapped — the
    garbled-before half of the fixture."""
    pdf = make_pdf([_TWOCOL_LINES], layout="twocol")
    got = pdf_text_lines(pdf)
    # first half (3 lines) is the left column, drawn second
    assert got == _TWOCOL_LINES[3:] + _TWOCOL_LINES[:3]
    assert got != _TWOCOL_LINES


def test_twocol_reading_order_restores():
    pdf = make_pdf([_TWOCOL_LINES], layout="twocol")
    assert pdf_text_lines(pdf, reading_order=True) == _TWOCOL_LINES


def test_twocol_multipage_and_short_page_fallback():
    short = ["only", "three", "lines"]  # < 4: writer falls back
    pdf = make_pdf([_TWOCOL_LINES, short], layout="twocol")
    assert (
        pdf_text_lines(pdf, reading_order=True)
        == _TWOCOL_LINES + [""] + short
    )
    # the short page is single-column in BOTH modes
    assert pdf_text_lines(pdf)[-3:] == short


@pytest.mark.parametrize(
    "kw", VARIANTS, ids=[f"ro-{v}" for v in VARIANTS]
)
def test_reading_order_identity_on_single_column(kw):
    """Every single-column variant must be byte-identical with the
    flag on — the property that makes reading_order=True safe as a
    corpus-wide default."""
    pdf = make_pdf(PAGES, **kw)
    assert pdf_text_lines(pdf, reading_order=True) == pdf_text_lines(pdf)


def test_reading_order_guards():
    """_reading_order only permutes on unambiguous column evidence."""
    from html_to_document_spark.core.pdf import _reading_order

    # three columns drawn right-to-left: two nested splits recover
    # left-to-right, top-down order
    recs = []
    for x, tag in ((500, "c"), (290, "b"), (72, "a")):
        for r in range(2):
            recs.append((float(x), 720.0 - 14 * r, f"{tag}{r}"))
    assert _reading_order(recs) == ["a0", "a1", "b0", "b1", "c0", "c1"]

    # paragraph indent (gap below _COL_MIN_GAP): stream order kept
    recs = [
        (90.0, 720.0, "indented first"),
        (72.0, 706.0, "body one"),
        (90.0, 692.0, "indented again"),
        (72.0, 678.0, "body two"),
    ]
    assert _reading_order(recs) == [r[2] for r in recs]

    # disjoint y ranges (a shifted block BELOW the first, not a
    # column beside it): stream order kept
    recs = [
        (72.0, 720.0, "top a"), (72.0, 706.0, "top b"),
        (400.0, 300.0, "low a"), (400.0, 286.0, "low b"),
    ]
    assert _reading_order(recs) == [r[2] for r in recs]

    # one lone line on the right (< 2 per side): stream order kept
    recs = [
        (72.0, 720.0, "a"), (72.0, 706.0, "b"),
        (72.0, 692.0, "c"), (400.0, 720.0, "page number"),
    ]
    assert _reading_order(recs) == [r[2] for r in recs]

    # fewer than 4 lines: stream order kept
    recs = [(400.0, 720.0, "x"), (72.0, 720.0, "y")]
    assert _reading_order(recs) == ["x", "y"]


def test_paragraph_html_reading_order_passthrough():
    pdf = make_pdf([["a b", "c d", "e f", "g h"]], layout="twocol")
    assert (
        pdf_paragraph_html(pdf, reading_order=True)
        == "<p>a b</p><p>c d</p><p>e f</p><p>g h</p>"
    )
    assert (
        pdf_paragraph_html(pdf)
        == "<p>e f</p><p>g h</p><p>a b</p><p>c d</p>"
    )


def test_reading_order_conservative_on_form_text():
    """Review find: text drawn inside a Form XObject records a
    form-local position; a page containing any such line must keep
    stream order (never permute on mixed coordinate spaces)."""
    form_content = b"BT /F1 10 Tf 10 10 Td (form body line) Tj ET"
    page_content = (
        b"BT /F1 10 Tf 1 0 0 1 300 720 Tm (page title) Tj "
        b"1 0 0 1 300 706 Tm (page subtitle) Tj "
        b"1 0 0 1 300 692 Tm (page footer) Tj ET /Fm1 Do"
    )
    parts = [
        b"%PDF-1.4\n",
        b"1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n",
        b"2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n",
        b"3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R "
        b"/Resources << /XObject << /Fm1 5 0 R >> "
        b"/Font << /F1 6 0 R >> >> >> endobj\n",
        b"4 0 obj << /Length " + b"%d" % len(page_content)
        + b" >>\nstream\n" + page_content + b"\nendstream endobj\n",
        b"5 0 obj << /Subtype /Form /Length " + b"%d" % len(form_content)
        + b" >>\nstream\n" + form_content + b"\nendstream endobj\n",
        b"6 0 obj << /Type /Font /Subtype /Type1 "
        b"/BaseFont /Helvetica >> endobj\n",
        b"trailer << /Size 7 /Root 1 0 R >>\n%%EOF\n",
    ]
    pdf = b"".join(parts)
    want = ["page title", "page subtitle", "page footer",
            "form body line"]
    assert pdf_text_lines(pdf) == want
    # the form line sits at x~10 vs the page's x=300 with overlapping
    # y — a naive split would reorder; the unknown-position guard
    # keeps stream order exactly
    assert pdf_text_lines(pdf, reading_order=True) == want


def test_dehyphenate_lines_rules():
    from html_to_document_spark.operators.pdf_extract import (
        dehyphenate_lines,
    )

    assert dehyphenate_lines(["an exam-", "ple of broken words"]) == [
        "an example of broken words"
    ]
    # chains collapse in one pass
    assert dehyphenate_lines(["chained hy-", "phen-", "ation works"]) == [
        "chained hyphenation works"
    ]
    # digit or uppercase continuation keeps the hyphen (UTF-8, ranges,
    # proper-noun compounds)
    assert dehyphenate_lines(["keep UTF-", "8 intact"]) == [
        "keep UTF-", "8 intact"
    ]
    assert dehyphenate_lines(["New-", "York stays"]) == [
        "New-", "York stays"
    ]
    # stem must be >= 2 letters (bullet dashes survive)
    assert dehyphenate_lines(["a-", "b"]) == ["a-", "b"]
    # empty line (page join) never merges
    assert dehyphenate_lines(["ends here-", "", "next"]) == [
        "ends here-", "", "next"
    ]


def test_pdf_paragraph_html_dehyphenate():
    pdf = make_pdf([["an exam-", "ple of text"]])
    assert (
        pdf_paragraph_html(pdf, dehyphenate=True)
        == "<p>an example of text</p>"
    )
    # default path keeps the reference's raw-line composition
    assert pdf_paragraph_html(pdf) == "<p>an exam-</p><p>ple of text</p>"
