"""The core distributed extraction operator.

Spark-first design notes (the reference is a single-threaded per-doc
transducer; parallelism here is cross-document):

- HTML assembly from interleaved input spans happens JVM-side
  (``transform`` + ``concat_ws`` over the spans array) so only ONE
  string column crosses the JVM->Python Arrow boundary.
- the extraction stage is ``mapInArrow`` (not mapInPandas): output
  span arrays are built directly as ``pyarrow`` ``StructArray`` /
  ``ListArray`` from flat Python lists. Measured on this box, the
  naive list-of-dicts pandas path spent ~70% of wall time in Arrow
  conversion; the native builder removes it.
- all row-level predicates (doc caps, kind filters) must be applied
  BEFORE this operator so Catalyst pushes them into the scan — the UDF
  body is opaque to the optimizer (SURVEY.md §4).
- skew: giant pages are size-skew, not key-skew. ``salted_repartition``
  spreads docs uniformly (deterministic salt on doc_id).
  ``extract_spans_balanced`` projects ``(doc_id, html)`` once and runs
  one salted exchange into one ``mapInArrow`` that is twice
  ``num_partitions`` wide, so giants land on many small tasks instead
  of queueing together. AQE cannot split a running UDF task, hence the
  explicit hash exchange.
- Arrow batches are sized by ``arrow.maxRecordsPerBatch`` (set in
  ``plans/job.py``); the UDF extracts each batch as it arrives and does
  not re-chunk it.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from html_to_document_spark.core.extract import (
    DEFAULT_OPTIONS,
    ExtractOptions,
    extract_document,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

# output schema per BASELINE.json input_hint
SPANS_TYPE = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
OUTPUT_SCHEMA = f"doc_id string, spans {SPANS_TYPE}"
# metadata-bearing variant (ExtractOptions.with_meta)
META_SPANS_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int,"
    "meta:map<string,string>>>"
)
META_OUTPUT_SCHEMA = f"doc_id string, spans {META_SPANS_TYPE}"

# extract_spans_sharded's default segment size: a giant page is split
# into top-level block segments of at most this many bytes
GIANT_HTML_BYTES = 256 * 1024
# doc_id hash salt of every extraction exchange (salted_repartition,
# the balanced exchange, the segment shuffle)
SALT = 42


def _html_expr():
    """JVM-side interleaved-spans -> HTML assembly (FIXTURES.md §1.1):
    text spans concatenate in offset order; image spans render as
    ``<img src="{media_ref}">``.

    Order normalization uses a NATIVE ``array_sort`` over
    ``struct(offset, fragment)`` (natural ordering = offset first) — a
    lambda comparator here measured ~6x the cost of the whole assembly
    on giant documents (interpreted per-comparison)."""
    from pyspark.sql import functions as F

    keyed = F.transform(
        "spans",
        lambda s: F.struct(
            s["offset"].alias("o"),
            F.when(
                s["kind"] == "image",
                F.concat(F.lit('<img src="'), s["media_ref"], F.lit('">')),
            ).otherwise(s["text"]).alias("frag"),
        ),
    )
    return F.concat_ws(
        "", F.transform(F.array_sort(keyed), lambda s: s["frag"])
    )


def _spans_record_batch(doc_ids, spans_lists, with_meta: bool = False):
    """Build the output RecordBatch natively (no pandas round-trip)."""
    import pyarrow as pa

    kinds: list = []
    texts: list = []
    refs: list = []
    offs: list = []
    metas: list = []
    offsets = [0]
    for spans in spans_lists:
        for span in spans:
            kinds.append(span[0])
            texts.append(span[1])
            refs.append(span[2])
            offs.append(span[3])
            if with_meta:
                m = span[4]
                metas.append(sorted(m.items()) if m else [])
        offsets.append(len(kinds))
    cols = [
        pa.array(kinds, pa.string()),
        pa.array(texts, pa.string()),
        pa.array(refs, pa.string()),
        pa.array(offs, pa.int32()),
    ]
    names = ["kind", "text", "media_ref", "offset"]
    if with_meta:
        cols.append(pa.array(metas, pa.map_(pa.string(), pa.string())))
        names.append("meta")
    struct = pa.StructArray.from_arrays(cols, names=names)
    lst = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), struct)
    return pa.RecordBatch.from_arrays([doc_ids, lst], names=["doc_id", "spans"])


# test hook: when set to a SparkContext LongAccumulator BEFORE a plan is
# built, every extraction closure created from then on counts the rows it
# actually processes — execution-level evidence that a composed plan runs
# the extraction UDF exactly once per input doc (VERDICT r1 #1 gate).
# Captured at closure-creation time (module globals don't survive the
# trip to Python workers; pickled closure state does).
_ROWS_PROCESSED_ACCUMULATOR = None


def _arrow_extract_fn(options: ExtractOptions):
    import pyarrow as pa

    counter = _ROWS_PROCESSED_ACCUMULATOR

    def fn(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        for batch in batches:
            doc_ids = batch.column("doc_id")
            htmls = batch.column("html").to_pylist()
            if counter is not None:
                counter.add(len(htmls))
            spans = [extract_document(h or "", options) for h in htmls]
            yield _spans_record_batch(doc_ids, spans, options.with_meta)

    return fn


def _run_extract(
    df_with_html: "DataFrame", options: ExtractOptions
) -> "DataFrame":
    schema = META_OUTPUT_SCHEMA if options.with_meta else OUTPUT_SCHEMA
    return df_with_html.mapInArrow(_arrow_extract_fn(options), schema)


def extract_spans(
    df: "DataFrame", options: ExtractOptions = DEFAULT_OPTIONS
) -> "DataFrame":
    """(doc_id, spans[input]) -> (doc_id, spans[extracted]).

    Deterministic pure function of row content — stable under any
    repartitioning (tested)."""
    from pyspark.sql import functions as F

    return _run_extract(
        df.select(F.col("doc_id").cast("string").alias("doc_id"),
                  _html_expr().alias("html")),
        options,
    )


def extract_spans_from_html(
    df: "DataFrame",
    html_col: str = "html",
    doc_id_col: str = "doc_id",
    options: ExtractOptions = DEFAULT_OPTIONS,
) -> "DataFrame":
    """Same operator for inputs carrying raw HTML in a string column.

    The projection is widened first (r6, guide §2.2): a tiny
    single-file scan plans 1 map task and the Python extraction stage
    would run serial; no-op (no added shuffle) on wide inputs. Callers
    needing the salted skew exchange use ``extract_spans_balanced``."""
    from pyspark.sql import functions as F

    from .parallelism import widen_small_scan

    flat = widen_small_scan(df.select(
        F.col(doc_id_col).cast("string").alias("doc_id"),
        F.col(html_col).alias("html"),
    ))
    return _run_extract(flat, options)


def extract_spans_balanced(
    df: "DataFrame",
    options: ExtractOptions = DEFAULT_OPTIONS,
    num_partitions: int = 64,
    html_col: str | None = None,
) -> "DataFrame":
    """Skew-balanced extraction: one ``(doc_id, html)`` projection
    through ``balanced_map_in_arrow``'s salted exchange. ``html_col``
    names a raw-HTML column (crawl sources); default assembles from the
    interleaved ``spans`` contract."""
    from pyspark.sql import functions as F

    html_expr = F.col(html_col) if html_col is not None else _html_expr()
    flat = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        html_expr.alias("html"),
    )
    return balanced_map_in_arrow(
        flat,
        _arrow_extract_fn(options),
        META_OUTPUT_SCHEMA if options.with_meta else OUTPUT_SCHEMA,
        num_partitions=num_partitions,
    )


def balanced_map_in_arrow(
    flat: "DataFrame", fn, schema: str, *, num_partitions: int
) -> "DataFrame":
    """The skew policy shared by every balanced Arrow stage (HTML
    extraction, PDF extraction): one ``salted_repartition`` of ``flat``
    to ``2 * num_partitions`` partitions, then one ``mapInArrow``.

    Explicit hash-column repartition: a plain repartition(n) is subject
    to AQE rebalancing, which coalesced all giants onto a few tasks
    (measured: wall identical at 8 and 32 cores). A distinct salted hash
    per doc spreads giants uniformly, independent of input file layout.

    Width is ``2 * num_partitions``: fewer tasks stack giants together.
    On the perfbench ``extract_interleaved`` corpus (4 vCPU,
    ``num_partitions=4``) the slowest task took 2.09 s at width n
    against 1.34 s at 2n."""
    return salted_repartition(flat, 2 * num_partitions).mapInArrow(
        fn, schema
    )


def extract_spans_sharded(
    df: "DataFrame",
    options: ExtractOptions = DEFAULT_OPTIONS,
    num_partitions: int = 64,
    max_segment_bytes: int = GIANT_HTML_BYTES,
) -> "DataFrame":
    """Intra-document parallel extraction for giant pages.

    Stage 1 (mapInArrow) splits each doc's HTML at safe top-level block
    boundaries (core/shard.py — concat-equality proven in
    tests/test_shard.py); stage 2 repartitions SEGMENTS by
    xxhash64(doc_id, seg_id) so one huge page fans out across tasks;
    stage 3 extracts per segment; stage 4 reassembles per doc
    (array_sort by seg_id, flatten, reassign offsets) — the one
    unavoidable extra shuffle, sized by output spans not input HTML.

    Equality with ``extract_spans`` is tested; docs the splitter deems
    unsafe (style sheets, page sections) pass through whole."""
    import pyarrow as pa

    from pyspark.sql import functions as F

    from html_to_document_spark.core.shard import split_document

    flat = df.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        _html_expr().alias("html"),
    )

    def shard_fn(batches):
        for batch in batches:
            doc_ids = batch.column("doc_id").to_pylist()
            htmls = batch.column("html").to_pylist()
            out_ids, out_seg, out_html = [], [], []
            for d, h in zip(doc_ids, htmls):
                for i, seg in enumerate(split_document(h or "", max_segment_bytes)):
                    out_ids.append(d)
                    out_seg.append(i)
                    out_html.append(seg)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(out_ids, pa.string()),
                    pa.array(out_seg, pa.int32()),
                    pa.array(out_html, pa.string()),
                ],
                names=["doc_id", "seg_id", "html"],
            )

    shards = flat.mapInArrow(
        shard_fn, "doc_id string, seg_id int, html string"
    ).repartition(
        num_partitions, F.xxhash64("doc_id", F.col("seg_id"), F.lit(SALT))
    )

    def extract_seg_fn(batches):
        for batch in batches:
            htmls = batch.column("html").to_pylist()
            spans = [extract_document(h or "", options) for h in htmls]
            rb = _spans_record_batch(batch.column("doc_id"), spans,
                                     options.with_meta)
            yield rb.append_column("seg_id", batch.column("seg_id"))

    spans_type = META_SPANS_TYPE if options.with_meta else SPANS_TYPE
    seg_out = shards.mapInArrow(
        extract_seg_fn, f"doc_id string, spans {spans_type}, seg_id int"
    )

    # explicit seg_id comparator: the default struct ordering cannot
    # compare structs whose spans carry a MAP meta field (with_meta) —
    # and we only ever want seg order anyway
    seg_cmp = lambda a, b: (
        F.when(a["seg_id"] < b["seg_id"], -1)
        .when(a["seg_id"] > b["seg_id"], 1)
        .otherwise(0)
    )
    assembled = (
        seg_out.groupBy("doc_id")
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("seg_id", "spans")), seg_cmp
                    ),
                    lambda x: x["spans"],
                )
            ).alias("_flat")
        )
    )
    reoff = F.transform(
        "_flat",
        lambda s, i: F.struct(
            s["kind"].alias("kind"), s["text"].alias("text"),
            s["media_ref"].alias("media_ref"), i.cast("int").alias("offset"),
            *([s["meta"].alias("meta")] if options.with_meta else []),
        ),
    )
    return assembled.select("doc_id", reoff.alias("spans"))


def exploded(df: "DataFrame") -> "DataFrame":
    """(doc_id, spans) -> one row per span — the relational projection
    used by oracle comparisons and downstream text operators."""
    from pyspark.sql import functions as F

    return df.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
    )


def exploded_with_meta(df: "DataFrame") -> "DataFrame":
    """Meta-bearing variant of ``exploded`` for spans extracted with
    ``with_meta=True``: adds the meta map plus the common keys (tag,
    level, href) as top-level columns for relational consumers."""
    from pyspark.sql import functions as F

    return df.select(
        "doc_id", F.explode("spans").alias("s")
    ).select(
        "doc_id",
        F.col("s.offset").alias("offset"),
        F.col("s.kind").alias("kind"),
        F.col("s.text").alias("text"),
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.meta").alias("meta"),
        F.col("s.meta")["tag"].alias("tag"),
        F.col("s.meta")["level"].alias("level"),
        F.col("s.meta")["href"].alias("href"),
    )


def table_rows_with_sections(df: "DataFrame") -> "DataFrame":
    """Table spans -> one row per GRID ROW with its source section
    (``thead``/``tbody``/``tfoot``), so downstream SQL can distinguish
    header/footer rows from data rows (reference parser.ts:262-278 —
    sections survive into the element model; html.serializer.ts:262-304
    regroups them on write).

    Input: ``exploded_with_meta`` output. The extractor linearizes a
    table section-ordered (thead rows first, tfoot rows last) and
    records the section row counts in the span meta (``thead_rows`` /
    ``tfoot_rows``); this projection splits the grid back into rows and
    labels each by comparing its index against those counts. Pure JVM
    expressions — split + posexplode + range compare; scale shape: a
    narrow generator over already-extracted spans, no shuffle."""
    from pyspark.sql import functions as F

    rows = F.split(F.col("text"), "\n")
    thead_n = F.coalesce(F.col("meta")["thead_rows"].cast("int"), F.lit(0))
    tfoot_n = F.coalesce(F.col("meta")["tfoot_rows"].cast("int"), F.lit(0))
    out = (
        df.filter(F.col("kind") == "table")
        .select(
            "doc_id",
            "offset",
            thead_n.alias("_th"),
            tfoot_n.alias("_tf"),
            F.size(rows).alias("_n"),
            F.posexplode(rows).alias("row_idx", "row_text"),
        )
    )
    section = (
        F.when(F.col("row_idx") < F.col("_th"), F.lit("thead"))
        .when(F.col("row_idx") >= F.col("_n") - F.col("_tf"), F.lit("tfoot"))
        .otherwise(F.lit("tbody"))
    )
    return out.select(
        "doc_id", "offset", "row_idx", section.alias("section"), "row_text"
    )


def salted_repartition(df: "DataFrame", num_partitions: int) -> "DataFrame":
    """Deterministic salted-hash repartition of doc_id (north_rule skew
    defusal): giant pages land on uniformly-random partitions
    independent of input file layout."""
    from pyspark.sql import functions as F

    # NOTE: partition on the raw 64-bit hash, NOT pmod(hash, n) — Spark
    # hashes the key again, and re-hashing only n distinct values into n
    # buckets leaves ~37% of partitions empty and others 3-4x overloaded
    return df.repartition(num_partitions, F.xxhash64("doc_id", F.lit(SALT)))


def to_markdown(
    df: "DataFrame",
    spans_col: str = "spans",
    id_col: str = "doc_id",
    out_col: str = "markdown",
) -> "DataFrame":
    """(id, spans[with meta]) -> (id, markdown): the distributed
    Markdown export (core/markdown.py::serialize_markdown — the
    LLM-training text format). Spans must carry the extraction meta
    (``ExtractOptions(with_meta=True)``) for headings/lists/tables to
    keep their structure; without meta every text span exports as a
    paragraph.

    One Arrow-batched mapInPandas projection — no shuffle; the
    serializer is pure per-document Python over the span array."""
    import pandas as pd  # noqa: F811

    from html_to_document_spark.core.markdown import serialize_markdown

    def tup(s: dict):
        # Arrow hands struct rows as dicts and map fields as
        # (key, value) tuple lists — normalize meta back to a dict
        meta = s.get("meta")
        base = (s["kind"], s["text"], s["media_ref"], s.get("offset"))
        if meta is None:
            return base
        return base + (dict(meta),)

    def fn(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for pdf in batches:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    out_col: [
                        serialize_markdown(
                            [] if spans is None
                            else [tup(s) for s in spans]
                        )
                        for spans in pdf[spans_col]
                    ],
                }
            )

    return df.select(id_col, spans_col).mapInPandas(
        fn, f"{id_col} {dict(df.dtypes)[id_col]}, {out_col} string"
    )
