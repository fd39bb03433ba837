"""Intra-document sharding: concat(extract(seg_i)) must equal
extract(doc) exactly (modulo offset reassignment)."""

import pytest

from html_to_document_spark.core.extract import assemble_html, extract_document
from html_to_document_spark.core.shard import split_document
from html_to_document_spark.sources.synthetic import gen_doc


def extract_sharded(html, max_bytes):
    segs = split_document(html, max_bytes)
    out = []
    for seg in segs:
        out.extend((k, t, r) for (k, t, r, _) in extract_document(seg))
    return [(k, t, r, i) for i, (k, t, r) in enumerate(out)]


def crawled(html):
    """The page as a crawl serves it: a DOCTYPE first, and a bare "<"
    in the text of every paragraph."""
    return "<!DOCTYPE html>\n" + html.replace("</p>", " if a < 5 then</p>")


@pytest.mark.parametrize("i", [399, 4079, 13522])
def test_giant_docs_shard_equal(i):
    html = assemble_html(gen_doc(i, 42, 0.001)["spans"])
    assert len(html) > 1_000_000
    # the splitter cuts with the grammar the extractor parses with
    for page in (html, crawled(html)):
        segs = split_document(page, 128 * 1024)
        assert len(segs) > 5
        assert "".join(segs) != ""  # non-destructive on content
        assert extract_sharded(page, 128 * 1024) == extract_document(page)


@pytest.mark.parametrize("i", range(0, 40))
def test_small_docs_shard_equal(i):
    html = assemble_html(gen_doc(i, 7, 0.0)["spans"])
    assert extract_sharded(html, 512) == extract_document(html)


def test_no_split_on_style_or_pages():
    html = "<style>.x{color:red}</style>" + "<p>word</p>" * 200
    assert split_document(html, 100) == [html]
    html2 = '<section class="page"><p>a</p></section>' * 100
    assert split_document(html2, 100) == [html2]


def test_inline_run_never_straddles_cut():
    # loose top-level inline runs merge across siblings; cuts must not
    # break them apart
    html = ("<p>lead</p>" + "a<b>x</b>c" * 50 + "<p>tail</p>") * 20
    assert extract_sharded(html, 300) == extract_document(html)
