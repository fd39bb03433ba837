"""Distributed PDF -> spans extraction (S6; north-rule "PDF/layout
parse" over the interleaved text+media corpus).

Semantics are the reference's PDF deconverter composition
(``packages/deconverters/pdf/src/pdf.deconverter.ts:36-42``): extract
text, split on newlines, wrap each TRIMMED line in ``<p>…</p>``, and
run the result through the SAME parser as every HTML document — so a
PDF line and an HTML paragraph produce identical spans by
construction, and every downstream operator (dedup, hygiene,
packing…) is source-agnostic.

Spark shape: one fused ``mapInArrow`` stage does bytes -> text ->
paragraph-HTML -> spans per document; the PDF bytes cross the Arrow
boundary once and nothing else does. Unlike the HTML path there is no
JVM-side assembly to hoist — the byte-level parse is inherently
Python — so fusing the HTML wrap + walk into the same invocation is
strictly better than a two-stage bytes->html, html->spans plan (which
would ship the intermediate HTML through a second Arrow crossing or,
worse, a shuffle). With ``num_partitions`` set, size skew (giant
scans, embedded-media bloat) takes the same one salted exchange as
``extract_spans_balanced``.
"""

from __future__ import annotations

import re

from collections.abc import Iterator
from typing import TYPE_CHECKING

from html_to_document_spark.core.extract import (
    DEFAULT_OPTIONS,
    ExtractOptions,
    extract_document,
)
from html_to_document_spark.core.pdf import pdf_to_text
from html_to_document_spark.operators.extract_spans import (
    META_OUTPUT_SCHEMA,
    OUTPUT_SCHEMA,
    _spans_record_batch,
    balanced_map_in_arrow,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

__all__ = ["pdf_paragraph_html", "extract_pdf_spans", "pdfs_to_html",
           "dehyphenate_lines"]

_HYPHEN_BREAK_RE = re.compile(r"([A-Za-z]{2,})-$")


def dehyphenate_lines(lines: list[str]) -> list[str]:
    """Rejoin words the PDF layout broke across lines with a trailing
    hyphen (the pdfminer/trafilatura heuristic): a line ending
    ``xx-`` whose NEXT line starts lowercase merges hyphen-less into
    that next line. Conservative on purpose — an uppercase or digit
    continuation keeps the hyphen (proper nouns, ranges, real
    compounds like "UTF-8" split at the 8 stay intact), and the
    hyphen-bearing stem must be >= 2 letters so bullet dashes
    survive. Empty lines (page joins) never merge."""
    out: list[str] = []
    i, n = 0, len(lines)
    while i < n:
        line = lines[i]
        while (
            i + 1 < n
            and _HYPHEN_BREAK_RE.search(line)
            and lines[i + 1][:1].islower()
        ):
            line = line[:-1] + lines[i + 1]
            i += 1
        out.append(line)
        i += 1
    return out


def pdf_paragraph_html(
    data: bytes,
    *,
    reading_order: bool = False,
    dehyphenate: bool = False,
) -> str:
    """PDF bytes -> ``<p>line</p>…`` exactly as the reference wraps
    pdf-parse output (one trimmed line per paragraph; ``\\r?\\n``
    split). ``reading_order`` enables the multi-column layout pass
    (``core.pdf``): columns emit left-to-right instead of draw order;
    single-column documents are byte-identical either way.
    ``dehyphenate`` rejoins layout-broken words across lines
    (:func:`dehyphenate_lines`) — off by default, the reference keeps
    pdf-parse's raw lines."""
    text = pdf_to_text(data, reading_order=reading_order)
    lines = text.replace("\r\n", "\n").split("\n")
    if dehyphenate:
        lines = dehyphenate_lines(lines)
    return "".join("<p>" + line.strip() + "</p>" for line in lines)


def _arrow_pdf_fn(
    options: ExtractOptions,
    pdf_col: str,
    reading_order: bool = False,
    dehyphenate: bool = False,
):
    import pyarrow as pa

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            doc_ids = batch.column("doc_id")
            payloads = batch.column(pdf_col).to_pylist()
            spans = [
                extract_document(
                    pdf_paragraph_html(
                        p,
                        reading_order=reading_order,
                        dehyphenate=dehyphenate,
                    )
                    if p is not None else "",
                    options,
                )
                for p in payloads
            ]
            yield _spans_record_batch(doc_ids, spans, options.with_meta)

    return fn


def extract_pdf_spans(
    df: "DataFrame",
    pdf_col: str = "content",
    doc_id_col: str = "doc_id",
    options: ExtractOptions = DEFAULT_OPTIONS,
    *,
    num_partitions: int | None = None,
    reading_order: bool = False,
    dehyphenate: bool = False,
) -> "DataFrame":
    """(doc_id, <binary pdf>) -> (doc_id, spans).

    With ``num_partitions`` set, runs through the shared salted exchange
    (``extract_spans.balanced_map_in_arrow`` — one copy of the width
    rule and its AQE lessons); size skew from scanned / media-heavy
    PDFs is worse than HTML page skew. NULL or non-PDF
    payloads yield zero spans, not errors — corpus policy everywhere
    in this engine."""
    from pyspark.sql import functions as F

    flat = df.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(pdf_col).alias(pdf_col),
    )
    schema = META_OUTPUT_SCHEMA if options.with_meta else OUTPUT_SCHEMA
    fn = _arrow_pdf_fn(options, pdf_col, reading_order, dehyphenate)
    if num_partitions is None:
        return flat.mapInArrow(fn, schema)
    return balanced_map_in_arrow(flat, fn, schema,
                                 num_partitions=num_partitions)


def pdfs_to_html(
    df: "DataFrame",
    pdf_col: str = "content",
    *,
    reading_order: bool = False,
    dehyphenate: bool = False,
) -> "DataFrame":
    """Replace the binary ``pdf_col`` with an ``html`` string column
    (the ``<p>``-wrapped text), keeping all other columns.

    This is the crawl-pipeline adapter: PDF records become ordinary
    raw-HTML records BEFORE ``build_training_pipeline``, so hygiene /
    dedup / packing apply uniformly across the interleaved corpus and
    the expensive span extraction still runs exactly once per doc
    (inside the pipeline's balanced stage), preserving its extract-once
    accumulator guarantee."""
    import pandas as pd
    from pyspark.sql import functions as F

    other = [c for c in df.columns if c != pdf_col]

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            out = pdf[other].copy()
            out["html"] = [
                pdf_paragraph_html(
                    bytes(p),
                    reading_order=reading_order,
                    dehyphenate=dehyphenate,
                )
                if p is not None else ""
                for p in pdf[pdf_col]
            ]
            yield out

    in_schema = df.select(*other).schema
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in in_schema.fields
    ) + ", html string"
    return df.select(*other, F.col(pdf_col)).mapInPandas(fn, schema)
