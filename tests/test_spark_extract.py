"""Spark-path golden tests: the mapInArrow extraction operator must
produce the exact golden span sequences, and must be invariant to
salted repartitioning (determinism-at-scale invariant, SURVEY.md §7)."""

import json
import pathlib

import pytest

from html_to_document_spark.operators.extract_spans import (
    OUTPUT_SCHEMA,
    exploded,
    extract_spans,
    salted_repartition,
)
from html_to_document_spark.sources.synthetic import gen_doc, generate_corpus
from html_to_document_spark.core.extract import assemble_html, extract_document

GOLDEN_DIR = pathlib.Path(__file__).parent / "golden"


def _default_fixtures():
    out = []
    for path in sorted(GOLDEN_DIR.glob("*.json")):
        fx = json.loads(path.read_text())
        if not fx.get("options"):  # spark operator runs default options
            out.append(fx)
    return out


def test_golden_corpus_via_spark(spark):
    fixtures = _default_fixtures()
    rows = [
        (
            fx["name"],
            [
                {"kind": "text", "text": fx["html"], "media_ref": None,
                 "offset": 0}
            ],
        )
        for fx in fixtures
    ]
    df = spark.createDataFrame(rows, OUTPUT_SCHEMA)
    got = {
        r.doc_id: [
            (s.kind, s.text, s.media_ref, s.offset) for s in r.spans
        ]
        for r in extract_spans(df).collect()
    }
    for fx in fixtures:
        expected = [tuple(row) for row in fx["expected"]]
        assert got[fx["name"]] == expected, fx["name"]


def test_interleaved_input_spans(spark):
    rows = [
        (
            "doc-a",
            [
                {"kind": "text", "text": "<p>before</p>", "media_ref": None,
                 "offset": 0},
                {"kind": "image", "text": None, "media_ref": "media://x",
                 "offset": 1},
                {"kind": "text", "text": "<p>after</p>", "media_ref": None,
                 "offset": 2},
            ],
        )
    ]
    df = spark.createDataFrame(rows, OUTPUT_SCHEMA)
    [row] = extract_spans(df).collect()
    assert [(s.kind, s.text, s.media_ref, s.offset) for s in row.spans] == [
        ("text", "before", None, 0),
        ("image", None, "media://x", 1),
        ("text", "after", None, 2),
    ]


def test_repartition_invariance(spark):
    """Span output must be a pure function of row content: identical
    results at different partitionings (scale determinism)."""
    from pyspark.sql import functions as F

    corpus = generate_corpus(spark, 60, seed=7, giant_frac=0.0)
    a = {
        r.doc_id: r.spans
        for r in extract_spans(salted_repartition(corpus, 2)).collect()
    }
    b = {
        r.doc_id: r.spans
        for r in extract_spans(
            corpus.repartition(13, F.xxhash64("doc_id", F.lit(9)))
        ).collect()
    }
    assert a == b
    assert len(a) == 60


def test_spark_matches_pure_python(spark):
    """Distributed extraction == single-node reference path, doc by doc."""
    n = 40
    corpus = generate_corpus(spark, n, seed=11, giant_frac=0.0)
    got = {r.doc_id: [
        (s.kind, s.text, s.media_ref, s.offset) for s in r.spans
    ] for r in extract_spans(corpus).collect()}
    for i in range(n):
        doc = gen_doc(i, seed=11, giant_frac=0.0)
        expected = extract_document(assemble_html(doc["spans"]))
        assert got[doc["doc_id"]] == expected, doc["doc_id"]


def test_exploded_projection(spark):
    rows = [("d1", [
        {"kind": "text", "text": "<p>x</p><hr>", "media_ref": None, "offset": 0},
    ])]
    df = extract_spans(spark.createDataFrame(rows, OUTPUT_SCHEMA))
    flat = exploded(df).orderBy("offset").collect()
    assert [(r.offset, r.kind, r.text) for r in flat] == [
        (0, "text", "x"),
        (1, "text", ""),
    ]


def test_balanced_matches_plain(spark):
    from html_to_document_spark.operators.extract_spans import (
        extract_spans_balanced,
    )

    corpus = generate_corpus(spark, 50, seed=21, giant_frac=0.02)
    plain = {r.doc_id: r.spans for r in extract_spans(corpus).collect()}
    bal = {
        r.doc_id: r.spans
        for r in extract_spans_balanced(corpus, num_partitions=4).collect()
    }
    assert bal == plain


def test_balanced_plan_is_one_salted_exchange(spark):
    """The balanced plan scans and assembles each document once: one
    MapInArrow directly above one salted doc_id exchange twice
    ``num_partitions`` wide, no Union, and the HTML assembly
    (``concat_ws``) in exactly one plan node."""
    import re

    from html_to_document_spark.operators.extract_spans import (
        extract_spans_balanced,
    )

    corpus = generate_corpus(spark, 10, seed=21, giant_frac=0.2)
    plan = extract_spans_balanced(
        corpus, num_partitions=4
    )._jdf.queryExecution().executedPlan().toString().split("\n")
    arrow = [i for i, line in enumerate(plan) if "MapInArrow" in line]
    assert len(arrow) == 1, plan
    assert not any("Union" in line for line in plan), plan
    assert re.search(
        r"Exchange hashpartitioning\(xxhash64\(doc_id#\d+, 42, 42\), 8\)",
        plan[arrow[0] + 1],
    ), plan[arrow[0] + 1]
    assert sum("concat_ws" in line for line in plan) == 1, plan


def test_meta_output_schema(spark):
    from html_to_document_spark.core.extract import ExtractOptions
    from html_to_document_spark.operators.extract_spans import (
        extract_spans_from_html,
    )

    df = spark.createDataFrame(
        [("d1", '<h1>T</h1><p>go <a href="/x">here</a></p>')],
        "doc_id string, html string",
    )
    out = extract_spans_from_html(df, options=ExtractOptions(with_meta=True))
    [row] = out.collect()
    metas = [dict(s.meta) for s in row.spans]
    assert metas[0] == {"tag": "h1", "level": "1"}
    assert metas[1] == {"tag": "p", "href": "/x"}


def test_callable_tag_override_on_executors(spark):
    """Callable tag handlers must survive cloudpickle to executors."""
    from html_to_document_spark.core.extract import ExtractOptions
    from html_to_document_spark.operators.extract_spans import (
        extract_spans_from_html,
    )

    def aside_handler(walker, node):
        walker.emit_text("[aside]")

    df = spark.createDataFrame(
        [("d1", "<p>a</p><aside>x</aside>")], "doc_id string, html string"
    )
    out = extract_spans_from_html(
        df, options=ExtractOptions(tag_overrides={"aside": aside_handler})
    )
    [row] = out.collect()
    assert [(s.kind, s.text) for s in row.spans] == [
        ("text", "a"), ("text", "[aside]")
    ]


def test_before_parse_hooks_ordered(spark):
    from html_to_document_spark.core.extract import ExtractOptions, extract_document

    opts = ExtractOptions(
        before_parse=(
            lambda h: h.replace("A", "B"),
            lambda h: h.replace("B", "C"),  # sees the first hook's output
        )
    )
    assert extract_document("<p>A</p>", opts) == [("text", "C", None, 0)]


def test_sharded_matches_plain(spark):
    from html_to_document_spark.operators.extract_spans import (
        extract_spans_sharded,
    )

    corpus = generate_corpus(spark, 60, seed=33, giant_frac=0.03)
    plain = {r.doc_id: r.spans for r in extract_spans(corpus).collect()}
    sharded = {
        r.doc_id: r.spans
        for r in extract_spans_sharded(
            corpus, num_partitions=8, max_segment_bytes=4096
        ).collect()
    }
    assert sharded == plain


def test_sharded_matches_plain_with_meta(spark):
    """Sharded reassembly preserves per-span meta maps (with_meta)."""
    from html_to_document_spark.core.extract import ExtractOptions
    from html_to_document_spark.operators.extract_spans import (
        extract_spans,
        extract_spans_sharded,
    )
    from html_to_document_spark.sources.synthetic import generate_corpus
    from pyspark.sql import functions as F

    docs = generate_corpus(spark, 24, seed=33, giant_frac=0.0)
    opts = ExtractOptions(with_meta=True)
    plain = {
        r.doc_id: r.spans
        for r in extract_spans(docs, opts).collect()
    }
    sharded = {
        r.doc_id: r.spans
        for r in extract_spans_sharded(
            docs, opts, num_partitions=4, max_segment_bytes=64
        ).collect()
    }
    assert sharded == plain


def test_exploded_with_meta(spark):
    from html_to_document_spark.core.extract import ExtractOptions
    from html_to_document_spark.operators.extract_spans import (
        exploded_with_meta,
        extract_spans_from_html,
    )

    df = spark.createDataFrame(
        [("d1", '<h2>T</h2><ul><li>a</li></ul><p>go <a href="/x">on</a></p>')],
        "doc_id string, html string",
    )
    out = extract_spans_from_html(df, options=ExtractOptions(with_meta=True))
    rows = {r.offset: r for r in exploded_with_meta(out).collect()}
    assert rows[0].tag == "h2" and rows[0].level == "2"
    assert rows[1].tag == "li" and rows[1].level == "0"
    assert rows[2].tag == "p" and rows[2].href == "/x"
    assert rows[2].meta["href"] == "/x"


def test_table_rows_with_sections(spark):
    """TB2 relational projection: thead/tbody/tfoot labels per grid row
    (ref parser.ts:262-278), incl. implied tbody for bare <tr> and
    section-ordered linearization (tfoot written last)."""
    from html_to_document_spark.core.extract import ExtractOptions
    from html_to_document_spark.operators.extract_spans import (
        exploded_with_meta,
        extract_spans_from_html,
        table_rows_with_sections,
    )

    df = spark.createDataFrame(
        [
            ("d1",
             "<table><tfoot><tr><td>f</td></tr></tfoot>"
             "<thead><tr><th>h</th></tr></thead>"
             "<tr><td>a</td></tr><tbody><tr><td>b</td></tr></tbody></table>"),
            ("d2", "<table><tr><td>only</td></tr></table>"),
        ],
        "doc_id string, html string",
    )
    out = table_rows_with_sections(
        exploded_with_meta(
            extract_spans_from_html(df, options=ExtractOptions(with_meta=True))
        )
    )
    rows = {(r.doc_id, r.row_idx): r for r in out.collect()}
    d1 = [rows[("d1", i)] for i in range(4)]
    assert [(r.section, r.row_text) for r in d1] == [
        ("thead", "h"), ("tbody", "a"), ("tbody", "b"), ("tfoot", "f"),
    ]
    assert rows[("d2", 0)].section == "tbody"
    assert rows[("d2", 0)].row_text == "only"


def test_drop_class_re_through_spark_path(spark):
    """readability-style boilerplate pruning (drop_class_re) survives
    the pickled-options Spark round trip and prunes in the fused
    extraction stage."""
    from html_to_document_spark.core.extract import (
        ExtractOptions,
        UNLIKELY_CLASS_RE,
    )
    from html_to_document_spark.operators.extract_spans import (
        exploded,
        extract_spans_from_html,
    )

    rows = [
        ("a", '<div class="sidebar"><p>junk</p></div><p>keep a</p>'),
        ("b", '<p id="comments">spam</p><p>keep b</p>'),
        ("c", '<p class="Widget-area">w</p><p>keep c</p>'),
    ]
    df = spark.createDataFrame(rows, "doc_id string, html string")
    out = exploded(
        extract_spans_from_html(
            df, options=ExtractOptions(drop_class_re=UNLIKELY_CLASS_RE)
        )
    )
    texts = {r["doc_id"]: r["text"] for r in out.collect()}
    assert texts == {"a": "keep a", "b": "keep b", "c": "keep c"}


def test_media_tag_extraction(spark):
    """with_media_tags: video/audio/embed emit image-kind spans with
    their media reference (src, else first <source src> child);
    fallback text suppressed; siblings after media elements survive
    (the media-void self-closing hook keeps the reference-parity
    minifier from re-parenting them)."""
    from pyspark.sql import functions as F

    from html_to_document_spark.core.extract import (
        ExtractOptions,
        with_media_tags,
    )
    from html_to_document_spark.operators.extract_spans import (
        exploded_with_meta,
        extract_spans_from_html,
    )

    html = (
        '<p>intro</p><video src="v.mp4">fallback text</video>'
        '<video><source src="s1.webm"><source src="s2.mp4"></video>'
        '<audio src="a.mp3"></audio><embed src="e.swf">'
        "<p>after</p>"
    )
    df = spark.createDataFrame([("d", html)], "doc_id string, html string")
    opts = with_media_tags(ExtractOptions(with_meta=True))
    rows = (
        exploded_with_meta(extract_spans_from_html(df, options=opts))
        .orderBy("offset")
        .collect()
    )
    got = [(r["kind"], r["text"], r["media_ref"], r["tag"]) for r in rows]
    assert got == [
        ("text", "intro", None, "p"),
        ("image", None, "v.mp4", "video"),
        ("image", None, "s1.webm", "video"),
        ("image", None, "a.mp3", "audio"),
        ("image", None, "e.swf", "embed"),
        ("text", "after", None, "p"),
    ]
    # default options: media elements dissolve, fallback text kept,
    # no refs — reference parity unchanged
    base = (
        exploded_with_meta(
            extract_spans_from_html(
                df, options=ExtractOptions(with_meta=True)
            )
        )
        .orderBy("offset")
        .collect()
    )
    assert [r["kind"] for r in base] == ["text", "text", "text"]
    assert "fallback text" in [r["text"] for r in base]
