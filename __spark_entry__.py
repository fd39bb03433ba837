"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship extraction over sf0.001.
``queries()`` — one entry per implemented operator family
(SURVEY.md §2 + training-data operators); each callable takes
``(spark, sf_dir)`` and returns a DataFrame.
``oracle_sql()`` — DuckDB-equivalent ANSI SQL per query (omitted only
for ops whose hashing isn't SQL-portable; those get rows-only checks).

Column names and types are aligned on both sides (the driver hashes
values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from html_to_document_spark.core.extract import ExtractOptions
from html_to_document_spark.operators.extract_spans import (
    exploded,
    extract_spans,
    extract_spans_from_html,
)
from html_to_document_spark.operators import dedup as D
from html_to_document_spark.operators import similarity as SIM
from html_to_document_spark.operators import text_analysis as TA
from html_to_document_spark.operators.multimodal import MEDIA_SCHEMA, decode_media

FINGERPRINT_MOD = TA.FINGERPRINT_MOD


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# extraction queries: HTML assembled from the documents table in-query so
# the DuckDB oracle can construct the expected span rows directly
# ---------------------------------------------------------------------------

def _with_html(df: DataFrame, html_col) -> DataFrame:
    return df.select(
        F.col("doc_id").cast("string").alias("doc_id"), html_col.alias("html")
    )


def _extract_exploded(df: DataFrame, opts: ExtractOptions | None = None) -> DataFrame:
    out = extract_spans_from_html(df, options=opts or ExtractOptions())
    flat = exploded(out)
    return flat.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "kind",
        "text",
        "media_ref",
    )


def q_extract_paragraph(spark, sf_dir):
    df = _with_html(
        _docs(spark, sf_dir), F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>"))
    )
    return _extract_exploded(df)


def q_extract_multi_block(spark, sf_dir):
    """r5 continuation: the row also gates readability-style class/id
    pruning (ExtractOptions.drop_class_re + UNLIKELY_CLASS_RE) — two
    planted boilerplate subtrees (a classed sidebar div wrapping a
    block, an id-matched comment paragraph) must vanish WITHOUT
    shifting any surviving span or offset, so the pre-existing oracle
    is unchanged and any pruning/offset bug hash-fails the row.

    r5 continuation 2: crawl img-src resolution (img_src_crawl) — a
    lazy-load img (1px placeholder in src, the real ref in data-src)
    and a srcset img (the 960w candidate must beat 480w) are planted
    after the plain img, whose plain src must stay untouched with the
    flag ON; expected refs are construction ground truth."""
    from html_to_document_spark.core.extract import UNLIKELY_CLASS_RE

    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<h1>"), F.col("source"), F.lit("</h1>"),
        F.lit('<div class="sidebar"><p>BOILER-'),
        did, F.lit("</p></div>"),
        F.lit('<nav><a href="/x">menu</a></nav>'),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<p id="comment-9">BOILER-TAIL</p>'),
        F.lit("<script>var x=1;</script>"),
        F.lit('<img src="media://'), did, F.lit('">'),
        F.lit('<img src="ph.gif" data-src="lazy://'), did, F.lit('">'),
        F.lit('<img src="low.jpg" srcset="s://'), did,
        F.lit('-a 480w, s://'), did, F.lit('-b 960w">'),
        F.lit("<hr>"),
    )
    return _extract_exploded(
        _with_html(_docs(spark, sf_dir), html),
        ExtractOptions(
            drop_class_re=UNLIKELY_CLASS_RE, img_src_crawl=True
        ),
    )


def q_extract_table_linearize(spark, sf_dir):
    html = F.concat(
        F.lit("<table><tr><td>"), F.col("lang"),
        F.lit("</td><td>"), F.col("source"),
        F.lit('</td></tr><tr><td colspan="2">'),
        F.col("n_chars").cast("string"),
        F.lit("</td></tr></table>"),
    )
    return _extract_exploded(_with_html(_docs(spark, sf_dir), html))


def q_extract_list_items(spark, sf_dir):
    html = F.concat(
        F.lit("<ul><li>"), F.col("lang"), F.lit(" one</li><li><ol><li>"),
        F.col("source"), F.lit("</li></ol></li></ul>"),
    )
    return _extract_exploded(_with_html(_docs(spark, sf_dir), html))


def q_extract_breaks(spark, sf_dir):
    html = F.concat(
        F.lit("<p>"), F.col("lang"), F.lit("<br>"), F.col("source"), F.lit("</p>")
    )
    return _extract_exploded(_with_html(_docs(spark, sf_dir), html))


def q_extract_caption_side(spark, sf_dir):
    html = F.concat(
        F.lit('<table><caption style="caption-side: bottom">'),
        F.col("source"),
        F.lit("</caption><tr><td>"), F.col("lang"), F.lit("</td></tr></table>"),
    )
    return _extract_exploded(_with_html(_docs(spark, sf_dir), html))


def q_extract_pages(spark, sf_dir):
    html = F.concat(
        F.lit('<section class="page"><p>'), F.col("lang"),
        F.lit('</p></section><section class="page"><p>'), F.col("source"),
        F.lit("</p></section>"),
    )
    return _extract_exploded(_with_html(_docs(spark, sf_dir), html))


def q_extract_structures(spark, sf_dir):
    """Union of the br-split / caption-side / page-section fixtures
    (identical span schema) under a fixture tag — merged r4 so three
    always-green rows cost one slot of the driver's 50-row gate cap,
    freeing slots for lm_perplexity + bloom_incremental. All three
    remain fully oracle-gated via the union."""
    a = q_extract_breaks(spark, sf_dir).withColumn("fixture", F.lit("breaks"))
    b = q_extract_caption_side(spark, sf_dir).withColumn(
        "fixture", F.lit("caption_side")
    )
    c = q_extract_pages(spark, sf_dir).withColumn("fixture", F.lit("pages"))
    return a.unionByName(b).unionByName(c)


def q_extract_sharded(spark, sf_dir):
    """Intra-document sharding path (core/shard.py + reassembly): the
    same multi-block document forced through per-block segments must
    produce the identical span sequence (oracle shared shape with
    extract_multi_block, minus nav/script which sit mid-segment)."""
    from html_to_document_spark.operators.extract_spans import (
        extract_spans_sharded,
    )

    html = F.concat(
        F.lit("<h1>"), F.col("source"), F.lit("</h1>"),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<img src="media://'), F.col("doc_id").cast("string"), F.lit('">'),
        F.lit("<hr>"),
    )
    df = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"), html.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    out = extract_spans_sharded(df, num_partitions=8, max_segment_bytes=16)
    flat = exploded(out)
    return flat.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "kind", "text", "media_ref",
    )


def q_extract_boilerplate(spark, sf_dir):
    """r5 continuation 12: the row also gates the extraction-quality
    benchmark metric (text_analysis.extraction_f1) — the UNFILTERED
    extraction (which keeps the planted 'x y' link-farm div) scored
    against the doc's main text as gold. By multiset-min overlap the
    two spurious tokens NEVER count (even when 'x'/'y' occur in the
    main text the min() absorbs them), so recall is exactly 1.0 and
    precision is n/(n+2) by construction — the oracle replays the
    identical division chain and r4 rounding."""
    from html_to_document_spark.operators.text_analysis import (
        extraction_f1,
    )

    html = F.concat(
        F.lit('<div><a href="/a">x y</a></div><p>'), F.col("text"), F.lit("</p>")
    )
    df = _with_html(_docs(spark, sf_dir), html)
    out = _extract_exploded(
        df, ExtractOptions(boilerplate_max_link_density=0.6)
    )
    unfiltered = _extract_exploded(df)
    pred = (
        unfiltered.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("offset", "text"))
                    ),
                    lambda s: s["text"],
                ),
                " ",
            ).alias("text")
        )
    )
    # doc_id stays LONG on both sides — pred comes from
    # _extract_exploded's long cast, and a string gold would ride on
    # implicit cross-type join coercion (review find)
    gold = _docs(spark, sf_dir).select("doc_id", "text")
    scores = extraction_f1(pred, gold)
    return out.select("doc_id", "offset", "kind", "text").join(
        scores, "doc_id"
    )


def q_extract_text_density(spark, sf_dir):
    """Text-density boilerplate scoring (north_star): a many-tag
    low-text menu chunk drops; the long article text survives."""
    html = F.concat(
        F.lit("<div><b>Home</b><b>About</b><b>Contact</b><b>Blog</b>"
              "<b>Shop</b></div><p>"),
        F.col("text"), F.lit("</p>"),
    )
    df = _with_html(_docs(spark, sf_dir), html)
    out = _extract_exploded(df, ExtractOptions(boilerplate_min_text_density=6.0))
    return out.select("doc_id", "offset", "kind", "text")


def q_extract_meta(spark, sf_dir):
    """Metadata-bearing extraction (T7 list level, T9 tagName, L6
    heading level, L10 href) as relational columns.

    r5 continuation 12: the plant also carries a figure block
    (figcaption below), an alt-attributed image and a bare image, and
    the row gates `interleaved.image_caption_pairs` — the LAION-style
    (image, caption) pairing — as caption/caption_source columns
    left-joined on (doc_id, offset); oracle = construction truth
    (alt wins, figcaption_after next, bare images read 'none')."""
    from html_to_document_spark.operators.extract_spans import (
        exploded_with_meta,
    )
    from html_to_document_spark.operators.interleaved import (
        image_caption_pairs,
    )

    sid = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<h2>"), F.col("lang"), F.lit("</h2><ul><li>"),
        F.col("source"), F.lit('</li></ul><p>go <a href="/'),
        sid, F.lit('">on</a></p>'),
        F.lit('<figure><img src="fig://'), sid,
        F.lit('"><figcaption>cap '), sid,
        F.lit("</figcaption></figure>"),
        F.lit('<img src="alt://'), sid, F.lit('" alt="A-'), sid,
        F.lit('"><img src="bare://'), sid, F.lit('">'),
    )
    df = _with_html(_docs(spark, sf_dir), html)
    spans = extract_spans_from_html(
        df, options=ExtractOptions(with_meta=True)
    )
    caps = image_caption_pairs(spans).select(
        "doc_id", "offset", "caption", "caption_source"
    )
    out = exploded_with_meta(spans)
    return out.join(caps, ["doc_id", "offset"], "left").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "kind", "text", "tag", "level", "href",
        "caption", "caption_source",
    )


def q_extract_table_sections(spark, sf_dir):
    """TB2 relational projection: thead/tbody/tfoot survive extraction
    as a per-grid-row section label (ref parser.ts:262-278), exposed by
    operators.extract_spans.table_rows_with_sections so downstream SQL
    can separate header rows from data rows."""
    from html_to_document_spark.operators.extract_spans import (
        exploded_with_meta,
        table_rows_with_sections,
    )

    html = F.concat(
        F.lit("<table><thead><tr><th>"), F.col("lang"),
        F.lit("</th><th>hdr</th></tr></thead><tbody><tr><td>"),
        F.col("source"), F.lit("</td><td>"), F.col("lang"),
        F.lit("</td></tr></tbody><tfoot><tr><td>"),
        F.col("n_chars").cast("string"),
        F.lit("</td><td>end</td></tr></tfoot></table>"),
    )
    df = _with_html(_docs(spark, sf_dir), html)
    out = table_rows_with_sections(
        exploded_with_meta(
            extract_spans_from_html(df, options=ExtractOptions(with_meta=True))
        )
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("row_idx").cast("int").alias("row_idx"),
        "section",
        "row_text",
    )


def q_minify_normalize(spark, sf_dir):
    """Pre-parse normalization as a standalone string->string operator."""
    import pandas as pd
    from html_to_document_spark.core.minify import minify_html

    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("<div>  "), F.col("text"), F.lit("   <!-- c --></div>")
        ).alias("html"),
    )

    def fn(batches):
        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"],
                 "minified": [minify_html(h) for h in pdf["html"]]}
            )

    return df.mapInPandas(fn, "doc_id long, minified string")


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

def q_style_normalize(spark, sf_dir):
    """Style/attribute normalization column (F6 shorthand expansion +
    color/length canonicalization) as a deterministic serialized map;
    r5 adds a planted @page stylesheet per doc (margins cycled by
    n_chars, size variant cycled by doc_id across named / named+
    orientation / explicit / none) normalized through C11
    (core/page.py, ref docx.adapter.ts:396-483) into a second
    serialized column the oracle recomputes arm by arm."""
    import pandas as pd
    from html_to_document_spark.core.css import parse_style_attr
    from html_to_document_spark.core.page import page_setup_from_css
    from html_to_document_spark.functions.styles import normalize_style

    size_arm = (
        F.when(F.col("doc_id") % 4 == 0, F.lit("A4"))
        .when(F.col("doc_id") % 4 == 1, F.lit("letter"))
        .when(F.col("doc_id") % 4 == 2, F.lit("8.5in 11in"))
        .otherwise(F.lit("A4 landscape"))
    )
    df = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("margin: "), (F.col("n_chars") % 10).cast("string"),
            # tomato/rebeccapurple: beyond the old 24-entry color table
            F.lit("px; color: tomato; border: 2px solid rebeccapurple"),
        ).alias("style"),
        F.concat(
            F.lit("body { color: red } @page { margin: "),
            (F.col("n_chars") % 10).cast("string"),
            F.lit("in 2cm; size: "), size_arm, F.lit(" }"),
        ).alias("css"),
    )

    def _ser(d: dict) -> str:
        flat = {}
        for k, v in d.items():
            if isinstance(v, dict):
                for kk, vv in v.items():
                    flat[f"{k}_{kk}"] = vv
            else:
                flat[k] = v
        parts = []
        for k, v in sorted(flat.items()):
            if isinstance(v, float) and v.is_integer():
                v = int(v)
            parts.append(f"{k}={v}")
        return ";".join(parts)

    def fn(batches):
        for pdf in batches:
            out, page = [], []
            for raw, css in zip(pdf["style"], pdf["css"]):
                norm = normalize_style(parse_style_attr(raw))
                out.append(";".join(f"{k}={v}" for k, v in sorted(norm.items())))
                page.append(_ser(page_setup_from_css(css)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "normalized": out, "page_setup": page})

    return df.mapInPandas(
        fn, "doc_id long, normalized string, page_setup string"
    )


def q_token_stats(spark, sf_dir):
    out = TA.token_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars_measured").cast("long").alias("n_chars_measured"),
        F.col("n_tokens_ws").cast("long").alias("n_tokens_ws"),
        F.col("n_tokens_bpe").cast("long").alias("n_tokens_bpe"),
        "avg_token_len",
    )


def q_lang_id(spark, sf_dir):
    out = TA.lang_id(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        *[F.col(f"score_{L}").cast("long").alias(f"score_{L}")
          for L in ("en", "es", "fr", "de")],
        "lang_pred",
    )


def q_quality_score(spark, sf_dir):
    out = TA.quality_score(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_chars_measured").cast("long").alias("n_chars_measured"),
        F.col("n_words").cast("long").alias("n_words"),
        "punct_ratio",
        "stopword_ratio",
        "quality",
    )


def _synth_page_html_col():
    """Deterministic per-doc crawl-HTML head for the page_meta gate
    (doc_id % 5 arms): 0 = full head (lang + title + attr-first
    description + og:title + og:image + ISO published_time); 1 =
    reversed-attr description, quoted 'EN-US' lang subtag, garbage
    date; 2 = de lang, bare-date published_time; 3 = whitespace-only
    title, no lang; 4 = no og:title, no lang. _page_meta_oracle_sql
    builds the IDENTICAL string in DuckDB — keep the two in lockstep."""
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    lang = (
        F.when(m == 0, F.lit(' lang="en"'))
        .when(m == 1, F.lit(" lang='EN-US'"))
        .when(m == 2, F.lit(' lang="de"'))
        .otherwise(F.lit(""))
    )
    title = F.when(m == 3, F.lit("<title>   </title>")).otherwise(
        F.concat(F.lit("<title> Doc &amp; "), sid, F.lit(" &lt;x&gt; </title>"))
    )
    desc = (
        F.when(m == 0, F.concat(
            F.lit('<meta name="description" content="desc '), sid, F.lit('">')))
        .when(m == 1, F.concat(
            F.lit('<meta content="rdesc '), sid, F.lit('" name="description">')))
        .otherwise(F.lit(""))
    )
    ogt = F.when(m != 4, F.concat(
        F.lit('<meta property="og:title" content="og '), sid, F.lit('">')
    )).otherwise(F.lit(""))
    ogi = F.when(m == 0, F.concat(
        F.lit('<meta content="http://img/'), sid, F.lit('.png" property="og:image">')
    )).otherwise(F.lit(""))
    pub = (
        F.when(m == 0, F.concat(
            F.lit('<meta property="article:published_time" content="202'),
            (F.col("doc_id") % 4).cast("string"), F.lit("-03-1"),
            (F.col("doc_id") % 9).cast("string"), F.lit('T08:30:00Z">')))
        .when(m == 1, F.lit(
            '<meta property="article:published_time" content="yesterday">'))
        .when(m == 2, F.concat(
            F.lit('<meta property="article:published_time" content="2019-12-2'),
            (F.col("doc_id") % 10).cast("string"), F.lit('">')))
        .otherwise(F.lit(""))
    )
    return F.concat(
        F.lit("<html"), lang, F.lit("><head>"),
        title, desc, ogt, ogi, pub, F.lit("</head>"),
    )


def _page_meta_oracle_sql() -> str:
    """DuckDB subquery mirroring _synth_page_html_col + page_meta_cols:
    the SAME html string is synthesized in SQL and the SAME regex
    pattern strings (meta_patterns / _TITLE / _HTML_LANG are imported,
    not retyped) extract from it — the oracle pins the cross-engine
    regex dialect, not just the construction's ground truth."""
    from html_to_document_spark.operators.page_meta import (
        _ENTITIES, _HTML_LANG, _ISO_DATE_PREFIX, _TITLE, meta_patterns,
    )

    def lit(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    def meta(name: str, attr: str = "name") -> str:
        a, b = meta_patterns(name, attr)
        return (
            f"coalesce(nullif(regexp_extract(html, {lit(a)}, 1), ''), "
            f"nullif(regexp_extract(html, {lit(b)}, 1), ''))"
        )

    title = f"nullif(trim(regexp_extract(html, {lit(_TITLE)}, 1)), '')"
    for ent, ch in _ENTITIES:
        title = f"replace({title}, {lit(ent)}, {lit(ch)})"
    pub = meta("article:published_time", attr="property")
    sid = "cast(doc_id as varchar)"
    html = (
        "'<html' || case doc_id % 5"
        " when 0 then ' lang=\"en\"'"
        " when 1 then ' lang=''EN-US'''"
        " when 2 then ' lang=\"de\"'"
        " else '' end || '><head>'"
        " || case when doc_id % 5 = 3 then '<title>   </title>'"
        f" else '<title> Doc &amp; ' || {sid} || ' &lt;x&gt; </title>' end"
        " || case doc_id % 5"
        f" when 0 then '<meta name=\"description\" content=\"desc ' || {sid} || '\">'"
        f" when 1 then '<meta content=\"rdesc ' || {sid} || '\" name=\"description\">'"
        " else '' end"
        " || case when doc_id % 5 <> 4"
        f" then '<meta property=\"og:title\" content=\"og ' || {sid} || '\">'"
        " else '' end"
        " || case when doc_id % 5 = 0"
        f" then '<meta content=\"http://img/' || {sid} || '.png\" property=\"og:image\">'"
        " else '' end"
        " || case doc_id % 5"
        " when 0 then '<meta property=\"article:published_time\" content=\"202'"
        f" || cast(doc_id % 4 as varchar) || '-03-1'"
        f" || cast(doc_id % 9 as varchar) || 'T08:30:00Z\">'"
        " when 1 then '<meta property=\"article:published_time\""
        " content=\"yesterday\">'"
        " when 2 then '<meta property=\"article:published_time\""
        " content=\"2019-12-2' || cast(doc_id % 10 as varchar) || '\">'"
        " else '' end"
        " || '</head>'"
    )
    return (
        f"with h as (select doc_id, {html} as html from documents), "
        "pt as (select doc_id, "
        f"{pub} as published_time from h) "
        "select h.doc_id, "
        f"{title} as page_title, "
        f"{meta('description')} as meta_description, "
        f"{meta('og:title', 'property')} as og_title, "
        f"{meta('og:image', 'property')} as og_image, "
        "case when regexp_matches(substr(pt.published_time, 1, 10), "
        f"{lit(_ISO_DATE_PREFIX)}) then substr(pt.published_time, 1, 10) "
        "end as published_date, "
        f"lower(nullif(regexp_extract(html, {lit(_HTML_LANG)}, 1), '')) "
        "as declared_lang "
        "from h join pt using (doc_id)"
    )


def q_lang_quality(spark, sf_dir):
    """lang_id + quality_score merged into one gate row (r4-cont) —
    both are per-doc projections of the same table, so a doc_id join
    gates the identical values while freeing a slot under the 50-row
    cap for dsir_weight (the same merge shape as token_fingerprint).

    r5 continuation: the row also gates token-budget selection
    (mixture.select_token_budget): keep_budget marks the greedy
    (quality desc, doc_id asc) prefix whose running n_chars total
    stays within 40% of the corpus's chars — quality is already
    4-decimal-quantized on both engines, so the histogram + boundary-
    window algorithm must equal the oracle's one cumulative window.

    Also gates hash_split_col (mixture.py): the 80/10/10 md5-prefix
    train/val/test assignment — a pure JVM projection whose DuckDB
    mirror is generated from the same boundary literals.

    r5 continuation: also gates temperature_fraction_col (mixture.py,
    XLM-R alpha-sampling) over the lang column at alpha=0.5 — the
    W-free algebraic form frac(k) = min_j(n_j^.5) / n_k^.5 has no
    order-sensitive sum, and both engines evaluate it through the
    same libm pow, so the doubles hash-match bit for bit.

    r5 continuation: also gates stratified_sample (mixture.py, the
    exact-k-per-stratum eval-holdout): keep_sample marks the 40
    smallest (md5('s5c8'||id), id) per documents.lang — the
    histogram + boundary-bucket algorithm must equal the oracle's
    naive per-stratum row_number window.

    r5 continuation: also gates page_meta (operators/page_meta.py —
    title decode, meta/OpenGraph content in both attribute orders,
    ISO published-date prefix, declared-lang subtag) over a
    deterministic per-doc synthesized crawl head
    (_synth_page_html_col), plus lang_mismatch_col against this row's
    own lang_pred — the CCNet declared-vs-detected spam signal. The
    oracle (_page_meta_oracle_sql) synthesizes the IDENTICAL html and
    runs the IDENTICAL regex pattern strings, pinning the
    cross-engine regex dialect."""
    from html_to_document_spark.operators.mixture import (
        hash_split_col,
        select_token_budget,
        stratified_sample,
        temperature_fraction_col,
    )
    from html_to_document_spark.operators.parallelism import (
        widen_small_scan,
    )

    # r6 perf (guide §2.4/§2.2): the former q_lang_id ⋈ q_quality_score
    # doc_id self-join of two projections OVER THE SAME SCAN is one
    # projection — same expressions (text_analysis builders), same
    # values, no join shuffle; the scan is widened (the tiny single
    # file plans 1 task and the regex chains ran serial) and the frame
    # persisted because the eager budget total plus the token-budget
    # histogram/boundary passes instantiate it several times.
    d = widen_small_scan(_docs(spark, sf_dir).select("doc_id", "text"))
    c = F.col("text")
    langs = tuple(TA.LANG_PROFILES)
    scored = d.select(
        "doc_id",
        *[TA.lang_scores(c, L).alias(f"score_{L}") for L in langs],
        F.length(c).alias("_nc"),
        TA._word_count(c).alias("_nw"),
        F.size(
            F.regexp_extract_all(c, F.lit(r"[^\w\s]"), F.lit(0))
        ).alias("_np"),
        TA.quality_col(c).alias("quality"),
    )
    best = F.greatest(*[F.col(f"score_{L}") for L in langs])
    pred = F.when(best == 0, F.lit("und"))
    for L in langs:  # first max wins => deterministic (lang_id parity)
        pred = pred.when(F.col(f"score_{L}") == best, F.lit(L))
    out = scored.select(
        "doc_id",
        *[F.col(f"score_{L}").cast("long").alias(f"score_{L}")
          for L in langs],
        pred.alias("lang_pred"),
        F.col("_nc").cast("long").alias("n_chars_measured"),
        F.col("_nw").cast("long").alias("n_words"),
        TA.r4(F.col("_np") / F.greatest(F.col("_nc"), F.lit(1)))
        .alias("punct_ratio"),
        TA.r4(F.col("score_en") / F.greatest(F.col("_nw"), F.lit(1)))
        .alias("stopword_ratio"),
        "quality",
    ).localCheckpoint(eager=True)
    total = out.agg(F.sum("n_chars_measured")).first()[0]
    base = select_token_budget(
        out, budget=int(0.4 * total), tokens_col="n_chars_measured"
    ).withColumn(
        "split_assign",
        hash_split_col(
            "doc_id", [("train", 0.8), ("val", 0.1), ("test", 0.1)], "s5"
        ),
    )
    tf = temperature_fraction_col(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        group_col="lang",
        alpha=0.5,
    ).select("doc_id", "temp_keep_frac")
    sampled = stratified_sample(
        _docs(spark, sf_dir).select("doc_id", "lang"),
        "lang", k=40, salt="s5c8",
    ).select("doc_id", F.lit(True).alias("keep_sample"))
    from html_to_document_spark.operators.page_meta import (
        lang_mismatch_col,
        page_meta_cols,
    )

    # html synthesized off the cached frame (doc_id-only construction):
    # the page_meta regex battery then runs wide instead of on the
    # single-task parquet scan
    pm = out.select(
        "doc_id", _synth_page_html_col().alias("html")
    )
    pm = pm.select(
        "doc_id",
        *[c.alias(n) for n, c in page_meta_cols("html").items()],
    )
    return (
        base.join(tf, "doc_id")
        .join(sampled, "doc_id", "left")
        .withColumn("keep_sample", F.coalesce("keep_sample", F.lit(False)))
        .join(pm, "doc_id")
        .withColumn(
            "lang_mismatch",
            lang_mismatch_col(F.col("declared_lang"), F.col("lang_pred")),
        )
    )


def q_dsir_weight(spark, sf_dir):
    """DSIR importance weights (operators/dsir.py, Xie et al. 2023):
    target slice = doc_id%7==0 rows of the planted corpus (the same
    ' tail<doc_id%211>' plant as lm_perplexity, straddling min_count=3
    so the <unk> pool is exercised), raw = the full corpus; raw-gram
    mode keeps every count an exact integer so the whole fit + score
    is recomputed by the DuckDB oracle in pure SQL. log_weight is
    rounded HALF_UP (sign-symmetric) at 4 decimals on both engines."""
    from html_to_document_spark.operators.dsir import (
        dsir_log_weight,
        fit_dsir,
    )

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" tail"),
            (F.col("doc_id") % 211).cast("string"),
        ).alias("text"),
    )
    target = planted.filter(F.col("doc_id") % 7 == 0)
    model = fit_dsir(target, planted, min_count=3, alpha=0.5)
    return dsir_log_weight(planted, model).select(
        "doc_id", "n_grams", "log_weight"
    )


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring (operators/lm_filter.py): fit
    the interpolated add-k bigram LM on the documents table (with a
    planted rare-word suffix so the <unk> mapping is exercised — at
    sf0.01 words 'tail0'..'tail210' appear 2-3 times, straddling
    min_count=3) and score every document's perplexity. The DuckDB
    oracle recomputes the identical counts and probabilities in pure
    SQL; ppl is rounded HALF_UP at 4 decimals on both engines.

    r5 continuation: the row also gates CCNet head/middle/tail
    bucketing (Wenzek et al. 2020 §4.4) — thresholds fit as DISCRETE
    rank statistics on the doc_id%5==0 slice (ceil(i*n/3) under
    (ppl, doc_id) order), then applied as a constant projection; the
    oracle recomputes the identical ranks with row_number."""
    from html_to_document_spark.operators.lm_filter import (
        fit_ngram_lm,
        fit_ppl_thresholds,
        perplexity,
        ppl_bucket_col,
    )

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" tail"),
            (F.col("doc_id") % 211).cast("string"),
        ).alias("text"),
    )
    model = fit_ngram_lm(planted, min_count=3, k=0.5, lam=0.9)
    # r6 perf: the broadcast-model Python scorer would otherwise run
    # once for the threshold fit and again for the returned frame —
    # localCheckpoint truncates the plan so the scoring stage executes
    # exactly once per invocation
    scored = perplexity(planted, model).localCheckpoint(eager=False)
    thr = fit_ppl_thresholds(scored.filter(F.col("doc_id") % 5 == 0))
    return scored.withColumn("ppl_bucket", ppl_bucket_col("ppl", thr))


def q_bloom_incremental(spark, sf_dir):
    """Partitioned-Bloom incremental dedup (operators/incremental.py):
    history = 13 template texts derived from doc_id%7==0 rows; the new
    batch plants template duplicates on doc_id%5==0 rows. At this
    bitmap sizing (2^17 bits/bucket, ~20 set bits) the false-positive
    probability per probe is ~1e-21, so the Bloom output EQUALS the
    exact anti-join the oracle computes — deterministic: fixed texts,
    fixed xxhash64 seeds. FP behaviour at hostile sizings is pinned in
    tests/test_incremental.py.

    r5 continuation: a second 'near' arm gates incremental NEAR-dup
    dedup (incremental_near_dedup — new batch vs history MinHash-LSH,
    asymmetric band join). The plant reuses the training_pipeline
    provable-band argument: history carries a 10-word salted phrase
    repeated 4x, planted new docs the SAME phrase repeated 6x — a
    different string with the IDENTICAL 3-gram shingle set, so the
    signatures agree on every band (est=1.0) and exact_verify's true
    Jaccard is 1.0; every other new doc shares zero shingles with the
    salted history, so the survivor set equals the construction's
    ground truth."""
    from html_to_document_spark.operators.incremental import (
        incremental_dedup,
        incremental_near_dedup,
    )

    docs = _docs(spark, sf_dir)
    tpl = F.concat(F.lit("tpl-"), (F.col("doc_id") % 13).cast("string"))
    hist = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id", tpl.alias("text")
    )
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 5 == 0, tpl)
        .otherwise(F.col("text")).alias("text"),
    )
    bloom_arm = incremental_dedup(
        new, hist, num_buckets=8, bits_per_bucket=1 << 17, num_hashes=5
    ).select(F.lit("bloom").alias("arm"), "doc_id", "text")

    phrase = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"p{i}k"), (F.col("doc_id") % 11).cast("string")
            )
            for i in range(10)
        ],
    )
    # r6 perf: the planted frames are localCheckpoint'ed (lazy) — each
    # appears in 3-4 plan instantiations (signatures, band join, exact
    # verify, anti-join) and the 40-term phrase construction made every
    # downstream DataFrame call re-analyze a large tree (measured
    # ~4.5 s of pure plan-build per invocation of this row); the
    # truncated plans also evaluate the construction once per row
    # instead of once per instantiation. Values are unchanged — this
    # is the same in-query materialize pattern the training pipeline
    # uses.
    hist2 = docs.filter(F.col("doc_id") % 7 == 0).select(
        "doc_id",
        F.concat_ws(" ", phrase, phrase, phrase, phrase).alias("text"),
    ).localCheckpoint(eager=False)
    new2 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws(" ", phrase, phrase, phrase,
                        phrase, phrase, phrase),
        ).otherwise(
            F.concat(F.col("text"), F.lit(" uniq"),
                     F.col("doc_id").cast("string"))
        ).alias("text"),
    ).localCheckpoint(eager=False)
    # r6 perf: the history signature frame is shared by the near and
    # novelty arms (both sketch the SAME hist2 construction) and
    # persisted — with persist_sigs the new-batch sigs also build once
    # per arm instead of once per plan instantiation (band join + est
    # re-join). Same operators, same results; ~4 redundant signature
    # builds removed from this row.
    from html_to_document_spark.operators.dedup import minhash_signature

    hist_sigs = minhash_signature(hist2).localCheckpoint(eager=False)
    near_arm = incremental_near_dedup(
        new2, hist2, threshold=0.85, exact_verify=True,
        history_sigs=hist_sigs, persist_sigs=True,
    ).select(F.lit("near").alias("arm"), "doc_id", "text")

    # novelty-report arm (r5-cont, snapshot_novelty): a third plant on
    # the same salted-phrase construction — doc_id%9==0 rows carry the
    # EXACT 4x history text (digest hit; every %11 residue exists in
    # history since 7k mod 11 cycles all residues), %4==0 rows the 6x
    # twin (identical shingle set -> est=1.0 near match, counted near
    # only when not exact), everything else is salted-novel. Counts
    # per doc_id%3 group serialize into the row's (arm, doc_id, text)
    # schema; the oracle recomputes them from the construction.
    from html_to_document_spark.operators.incremental import (
        snapshot_novelty,
    )

    new3 = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        (F.col("doc_id") % 3).alias("g"),
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat_ws(" ", phrase, phrase, phrase, phrase),
        )
        .when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws(" ", phrase, phrase, phrase,
                        phrase, phrase, phrase),
        )
        .otherwise(
            F.concat(F.col("text"), F.lit(" uniq"),
                     F.col("doc_id").cast("string"))
        ).alias("text"),
    ).localCheckpoint(eager=False)
    nov = snapshot_novelty(
        new3, hist2, group_col="g", near=True,
        threshold=0.85, exact_verify=True,
        history_sigs=hist_sigs, persist_sigs=True,
    )
    nov_arm = nov.select(
        F.lit("novelty").alias("arm"),
        F.col("group_key").cast("long").alias("doc_id"),
        F.concat(
            F.lit("new="), F.col("n_new"),
            F.lit(";exact="), F.col("n_exact_dup"),
            F.lit(";near="), F.col("n_near_dup"),
            F.lit(";novel="), F.col("n_novel"),
        ).alias("text"),
    )
    return bloom_arm.unionByName(near_arm).unionByName(nov_arm)


def q_fingerprint(spark, sf_dir):
    return TA.fingerprint(_docs(spark, sf_dir))


def q_token_fingerprint(spark, sf_dir):
    """token_stats + fingerprint merged into one gate row (r4) —
    both are pure projections of the same table, so a doc_id join
    gates the identical values while freeing a slot under the 50-row
    cap for substring_dedup_ranges.

    r5 continuation: link_stats (the former standalone row) joins in
    the same way, freeing its slot for bm25_topk — all three are
    per-doc projections over the same documents slice.

    r5 continuation: readability_scores joins in likewise (Flesch
    reading ease over a constructed 3-sentence variant — the table
    text has no sentence terminators, so the variant adds them); the
    oracle replays the vowel-group/sentence-split counts and the
    fixed-order double formula.

    r5 continuation: script_profile joins in over a script-suffixed
    variant (Cyrillic / CJK / Arabic / pure-Latin by doc_id%4) — the
    literal-codepoint char-class strings are valid verbatim in both
    Java regex and RE2, so the oracle replays the IDENTICAL patterns
    (count-by-replace, non-ws total, r4 fraction, argmax chain)."""
    from html_to_document_spark.operators.text_analysis import (
        readability_scores,
        script_profile,
    )

    rd = readability_scores(
        _docs(spark, sf_dir).select(
            "doc_id",
            F.concat(
                F.col("text"), F.lit(". "), F.col("source"),
                F.lit(" tail words here! done"),
            ).alias("text"),
        )
    ).select("doc_id", "n_sentences", "n_syllables", "flesch")
    suffix = (
        F.when(F.col("doc_id") % 4 == 0, F.lit(" " + _SCRIPT_CYR))
        .when(F.col("doc_id") % 4 == 1, F.lit(" " + _SCRIPT_CJK))
        .when(F.col("doc_id") % 4 == 2, F.lit(" " + _SCRIPT_ARA))
        .otherwise(F.lit(""))
    )
    sp = script_profile(
        _docs(spark, sf_dir).select(
            "doc_id", F.concat(F.col("text"), suffix).alias("text")
        )
    ).select(
        "doc_id", "n_script_chars", "n_latin", "n_cyrillic",
        "n_arabic", "n_cjk", "cyrillic_frac", "dominant_script",
    )
    return (
        q_token_stats(spark, sf_dir)
        .join(q_fingerprint(spark, sf_dir), "doc_id")
        .join(q_link_stats(spark, sf_dir), "doc_id")
        .join(rd, "doc_id")
        .join(sp, "doc_id")
    )


def q_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval (operators/retrieval.py, Robertson &
    Zaragoza 2009 / the Lucene idf form) for the literal query
    ['hash','join','vector'] over the documents table. Every
    arithmetic step is a FIXED-ORDER double expression over exact
    integer (tf, dl, df, N) inputs, so the DuckDB oracle recomputes
    the identical scores bit-for-bit; the cut orders by (r4-rounded
    score desc, doc_id asc) — deterministic on both engines."""
    from html_to_document_spark.operators.retrieval import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir).select("doc_id", "text"),
        ["hash", "join", "vector"],
        k=25,
    )


def q_substring_dedup_ranges(spark, sf_dir):
    """ExactSubstr marking (Lee et al. 2021 hash form): every third/
    fourth doc gets the same planted 30-word tail, so its 20-gram
    windows duplicate corpus-wide; the gate checks the exact marked
    (doc_id, pos) set with the global-min keeper excluded. The oracle
    groups raw grams where Spark groups xxhash64 digests — the same
    collision-tolerance contract as exact_dedup."""
    from html_to_document_spark.operators.substring_dedup import (
        exact_substring_ranges,
    )

    from html_to_document_spark.operators.substring_dedup import (
        dup_gram_stats,
    )

    tail = " " + " ".join(f"shb{i}" for i in range(30))
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            (F.col("doc_id") % 4 == 1) | (F.col("doc_id") % 4 == 3),
            F.concat(F.col("text"), F.lit(tail)),
        ).otherwise(F.col("text")).alias("text"),
    )
    marked = exact_substring_ranges(d, n=20).select(
        "doc_id", F.col("pos").cast("int").alias("pos")
    )
    # r5-cont9: the row also gates dup_gram_stats (Dolma-style per-doc
    # duplicate n-gram mass TAGGER) on the same planted corpus — every
    # marked doc's window counts and cross-doc dup fraction ride along
    # (constant per doc; the oracle recomputes them from raw grams)
    stats = dup_gram_stats(d, n=20)
    return marked.join(stats, "doc_id").select(
        "doc_id", "pos", "n_windows", "n_dup_windows", "dup_frac"
    )


def q_repetition_stats(spark, sf_dir):
    """Gopher-style within-doc repetition signals over planted
    duplicate-line docs (documents.text has few natural dup lines)."""
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("\n"), F.col("source"), F.lit("\n"),
            F.col("source"), F.lit("\nunique-"), F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return TA.repetition_stats(d)


def q_corpus_stats(spark, sf_dir):
    return TA.corpus_stats(_docs(spark, sf_dir))


def q_top_ngram_stats(spark, sf_dir):
    return TA.top_ngram_stats(_docs(spark, sf_dir), n=2)


def q_rep_topgram_stats(spark, sf_dir):
    """repetition_stats + top_ngram_stats merged into one gate row
    (r5) — both are per-doc projections, so a doc_id join gates the
    identical values while freeing a slot under the 50-row cap for
    token_windows (the same merge shape as token_fingerprint).

    r5 continuation: the row also gates the deterministic corpus
    shuffle+shard (mixture.shuffle_shard — the one-time training-order
    shuffle): 4 shards, salt 's5r5'. The operator's two-level
    histogram+window algorithm (no global sort, no single-reducer
    shard windows) must equal the oracle's NAIVE formulation —
    row_number over (partition by shard order by md5 digest, doc_id)
    — exactly; the shard assignment reuses the hash_split boundary
    literals, so the SQL mirror is generated from the same source."""
    from html_to_document_spark.operators.mixture import shuffle_shard
    from html_to_document_spark.operators.retrieval import tfidf_keywords

    sh = shuffle_shard(
        _docs(spark, sf_dir).select("doc_id"),
        n_shards=4, salt="s5r5", sub_hex=2,
    )
    # r5-cont9: tf-idf keyword arm (retrieval.tfidf_keywords, the
    # smooth-idf sklearn form) over the PLAIN documents text at k=3,
    # min_word_len=4, max_df_frac=0.3 — folded per doc as the
    # rank-ordered comma-join of terms plus the top-1 r4 score; docs
    # whose every term got corpus-stopword-pruned (or is too short)
    # read '' / 0.0
    kw = tfidf_keywords(
        _docs(spark, sf_dir).select("doc_id", "text"),
        k=3, min_word_len=4, max_df_frac=0.3,
    )
    kwagg = kw.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rank", "term"))),
                lambda s: s["term"],
            ),
            ",",
        ).alias("kw_top"),
        F.max(F.when(F.col("rank") == 1, F.col("score"))).alias(
            "kw_score"
        ),
    )
    return (
        q_repetition_stats(spark, sf_dir)
        .join(q_top_ngram_stats(spark, sf_dir), "doc_id")
        .join(sh, "doc_id")
        .join(kwagg, "doc_id", "left")
        .withColumn("kw_top", F.coalesce("kw_top", F.lit("")))
        .withColumn("kw_score", F.coalesce("kw_score", F.lit(0.0)))
    )


def q_token_windows(spark, sf_dir):
    """Overlapping context-window chunking (the LM-pretraining
    chunker; operators/packing.py::chunk_token_windows): 40-token
    windows every 30 tokens over the documents table — one
    shuffle-free JVM projection+explode; the oracle re-slices the
    token list with generate_series in SQL. Also gates the
    stride-overlap loss mask (loss_start/n_loss_tokens — each token
    contributes loss exactly once across a doc's chunks).

    r5 continuation: a 'sentence' arm gates the sentence-boundary
    passage chunker (packing.chunk_sentence_windows, the RAG chunker)
    over a constructed uniform-sentence corpus — k = 6 + doc_id%5
    five-token sentences at max_tokens=12 pack exactly two per chunk,
    so every chunk's text, token count and the chunk count are pure
    plant arithmetic in the oracle."""
    from html_to_document_spark.operators.packing import (
        chunk_sentence_windows,
        chunk_token_windows,
    )

    tw = chunk_token_windows(
        _docs(spark, sf_dir).select("doc_id", "text"),
        window=40, stride=30,
    )
    a = tw.select(F.lit("stride").alias("mode"), *tw.columns)
    k = (F.col("doc_id") % 5 + 6).cast("int")
    sent_text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.concat(
                F.lit("s"), i.cast("string"),
                F.lit(" alpha beta gamma delta."),
            ),
        ),
    )
    sdocs = _docs(spark, sf_dir).select("doc_id", sent_text.alias("text"))
    b = chunk_sentence_windows(sdocs, max_tokens=12).select(
        F.lit("sentence").alias("mode"),
        "doc_id", "chunk_id", "n_tokens", "chunk",
        F.lit(-1).cast("int").alias("loss_start"),
        F.lit(-1).cast("int").alias("n_loss_tokens"),
    )
    return a.unionByName(b)


# ---------------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------------

def _docs_with_planted_dups(spark, sf_dir):
    """documents has no exact dups; plant one mirror per doc."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    mirror = d.select((F.col("doc_id") + 10_000_000).alias("doc_id"), "text")
    return d.unionByName(mirror)


def q_dedup_exact_groups(spark, sf_dir):
    """Exact-dup groups over the mirror-planted corpus; the row also
    gates (r5-cont9) SoftDedup reweighting (He et al. 2024) and the
    newest-keeper recency rule. soft_dedup_weights runs the REAL
    digest-count join at alpha=1 (weight = 1.0/n, FP-exact on both
    engines — JVM Math.pow is only 1-ulp-accurate, measured, so the
    gate deliberately uses the exact-division alpha); w_min/w_max per
    group pin that EVERY member carried its own group's count.
    exact_dedup_latest runs on a planted recency ts = doc_id % 97
    (10^7 % 97 = 76 ≠ 0, so a doc and its mirror never tie; natural
    cross-doc duplicate texts exercise the smallest-id tie-break);
    its one surviving doc per text joins back as newest_id."""
    from html_to_document_spark.operators.dedup import (
        exact_dedup_latest,
        soft_dedup_weights,
    )

    df = _docs_with_planted_dups(spark, sf_dir).withColumn(
        "ts", (F.col("doc_id") % 97).cast("long")
    )
    sw = soft_dedup_weights(df, alpha=1.0)
    groups = sw.groupBy(F.col("text").alias("dup_text")).agg(
        F.min("doc_id").alias("keeper_id"),
        F.count("*").cast("long").alias("n_dups"),
        F.min("soft_weight").alias("w_min"),
        F.max("soft_weight").alias("w_max"),
    )
    newest = exact_dedup_latest(df, ts_col="ts").select(
        F.col("text").alias("dup_text"), F.col("doc_id").alias("newest_id")
    )
    return groups.join(newest, "dup_text")


def q_url_filter_blocked(spark, sf_dir):
    """Crawl-ingestion domain filter: constructed URLs exercise exact
    matches, subdomains, lookalike hosts (blockedsite.com.evil.net,
    notblockedsite.com) and clean hosts; the Spark side runs the full
    distinct-host suffix-join machinery (url_filter.py), the oracle is
    the construction's ground truth. Replaced dedup_exact_keep in the
    50-row gate (r4): its kept set is exactly the keeper_id column of
    dedup_exact_groups, so it gated nothing new."""
    from html_to_document_spark.operators.url_filter import (
        domain_share_flags,
        flag_blocked_domains,
        normalize_url_col,
        resolve_href_col,
    )

    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    k = F.col("doc_id") % 5
    # r5 continuation: scheme/host case junk, a tracking param, an
    # unsorted query and a fragment ride on every URL so the row also
    # gates normalize_url_col (the oracle knows the construction, so
    # it emits the expected canonical string directly); host parsing
    # for blocked/keep_capped lowercases, so those arms are unchanged
    url = F.concat(
        F.when(F.col("doc_id") % 2 == 0, F.lit("HTTP://"))
        .otherwise(F.lit("http://")),
        F.when(k == 0, F.concat(F.lit("WWW.BlockedSite.com/a/"), sid))
        .when(k == 1, F.concat(F.lit("blockedsite.com/"), sid))
        .when(k == 2, F.concat(F.lit("blockedsite.com.evil.net/"), sid))
        .when(k == 3, F.concat(F.lit("notblockedsite.com/"), sid))
        .otherwise(
            F.concat(
                F.lit("ok"), (F.col("doc_id") % 10).cast("string"),
                F.lit(".example.org/"), sid,
            )
        ),
        F.lit("?z="), (F.col("doc_id") % 3).cast("string"),
        F.lit("&utm_campaign=c&a="), (F.col("doc_id") % 2).cast("string"),
        F.lit("#sec"),
    )
    docs = d.select("doc_id", url.alias("url"))
    from html_to_document_spark.operators.parallelism import literal_frame

    bl = literal_frame(spark, [("BlockedSite.com",)], "domain string")
    flagged = flag_blocked_domains(docs, bl)
    # r5 continuation: the row also gates robots.txt compliance
    # (operators/robots.py, RFC 9309) end to end — parse + compile +
    # broadcast rules join + longest-match/tie-allow verdict. The
    # planted robots corpus exercises the carve-out ('/a/' disallowed,
    # '/a/1' allowed back: ids starting with 1 survive), the total
    # block, agent-group selection (the '*' group is the permissive
    # one) and the '$' end anchor (exactly doc 44 on its host); hosts
    # without a robots row read allowed. Oracle = the construction's
    # ground truth per arm (the parser itself is pytest-pinned).
    from html_to_document_spark.operators.robots import (
        compile_robots,
        robots_allowed,
    )

    robots_df = literal_frame(
        spark,
        [
            ("www.blockedsite.com",
             "User-agent: *\nDisallow: /a/\nAllow: /a/1"),
            ("blockedsite.com", "User-agent: *\nDisallow: /"),
            ("notblockedsite.com",
             "User-agent: bot\nDisallow: /\n\nUser-agent: *\nDisallow:"),
            ("ok4.example.org", "User-agent: *\nDisallow: /44$"),
        ],
        "host string, robots_txt string",
    )
    rb = robots_allowed(docs, compile_robots(robots_df)).select(
        "doc_id", F.col("robots_allowed").alias("robots_keep")
    )
    # r5 continuation: the row also gates per-domain share capping
    # (domain_share_flags, min_id selector — the SQL-exact arm): at
    # max_docs=60 the four k<4 host families (~100 docs each at
    # sf0.01) are over cap and keep their 60 smallest ids, the k=4
    # ok-hosts (~50 each) stay under. Oracle = row_number over the
    # construction's known host per row (rn <= cap is also vacuously
    # true for every row of an under-cap host, so one window covers
    # both arms).
    capped = domain_share_flags(flagged, max_docs=60, selector="min_id")

    # r5 continuation: the row also gates the link-graph family
    # (operators/link_graph.py) end to end — each doc's HTML carries
    # two anchors whose targets derive from the doc's host index
    # (i -> (i+1)%6 and (2i+3)%6 over the construction's 6 hosts, so
    # the plant exercises self-edge drop at i=3 and duplicate-edge
    # dedup at i=4), edges are harvested from REAL extraction span
    # meta (href), and hosts are ranked with 4 rounds of damping-7/8
    # PageRank. Damping 7/8 + out-degrees in {1,2} + init rank 1 keep
    # every intermediate a dyadic rational with < 2^20 numerators, so
    # FP addition is EXACT and order-independent — the doubles
    # hash-match DuckDB's unrolled 4-iteration SQL bit for bit.
    from html_to_document_spark.core.extract import ExtractOptions
    from html_to_document_spark.operators.extract_spans import (
        exploded_with_meta,
    )
    from html_to_document_spark.operators.link_graph import (
        harvest_links,
        host_edges,
        in_degree,
        pagerank,
    )
    from html_to_document_spark.operators.url_filter import host_col

    idx = F.when(k < 4, k).otherwise(
        F.when(F.col("doc_id") % 10 == 4, F.lit(4)).otherwise(F.lit(5))
    )

    def host_of(i):
        return (
            F.when(i == 0, F.lit("www.blockedsite.com"))
            .when(i == 1, F.lit("blockedsite.com"))
            .when(i == 2, F.lit("blockedsite.com.evil.net"))
            .when(i == 3, F.lit("notblockedsite.com"))
            .when(i == 4, F.lit("ok4.example.org"))
            .otherwise(F.lit("ok9.example.org"))
        )

    # r5 continuation: the html plant also carries head directives
    # (operators/html_head.py) — a robots-noindex meta on doc_id%11
    # and a declared canonical (with strippable junk params) on
    # doc_id%7, so the row gates noindex detection, canonical
    # extraction+normalization, and the canonical mirror-collapse
    # keeper straight off the same raw-HTML column extraction reads
    html = F.concat(
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit('<meta name="robots" content="noindex">'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit('<link rel="canonical" '
                      'href="http://canon.example.org/c'),
                (F.col("doc_id") % 13).cast("string"),
                F.lit('?b=2&utm_x=1#z">'),
            ),
        ).otherwise(F.lit("")),
        F.lit("<p>page "), sid,
        F.lit('</p><p><a href="http://'), host_of((idx + 1) % 6),
        F.lit('/out1">first link</a></p><p><a href="http://'),
        host_of((idx * 2 + 3) % 6),
        F.lit('/out2">second link</a></p>'),
    )
    pages = docs.select("doc_id", "url", html.alias("html"))
    spans = exploded_with_meta(
        extract_spans_from_html(
            pages.select("doc_id", "html"),
            options=ExtractOptions(with_meta=True),
        )
    )
    links = harvest_links(spans)  # doc_id rides as string here
    edges = host_edges(
        links.join(
            pages.select(
                F.col("doc_id").cast("string").alias("doc_id"), "url"
            ),
            "doc_id",
        )
    )
    pr = F.broadcast(pagerank(edges, damping=0.875, iterations=4))
    ind = F.broadcast(in_degree(edges))
    # r5 continuation: the same harvested link frame also gates
    # anchor_text_profile — incoming anchor-text aggregation per
    # target host (counts, distinct anchors, (count desc, anchor asc)
    # top + top-k concat). The plant's two fixed anchors per doc give
    # every host a derivable (anchor, count) profile; ties resolve to
    # 'first link' (lexically smaller), matching the oracle's ordered
    # aggregates.
    from html_to_document_spark.operators.link_graph import (
        anchor_text_profile,
    )

    prof = F.broadcast(
        anchor_text_profile(
            links.select(
                host_col("href").alias("dst"), "anchor_text"
            ),
            top_k=2,
        )
    )
    # r5 continuation: HITS on the same planted graph — unnormalized
    # fixed-k scores are sums of integers (exactly whole doubles), so
    # 4 unrolled rounds hash-match the SQL mirror with no FP caveats
    from html_to_document_spark.operators.link_graph import hits

    ht = F.broadcast(hits(edges, iterations=4))

    from html_to_document_spark.operators.html_head import (
        canonical_dedup,
        canonical_url_col,
        robots_noindex_col,
    )

    canon_kept = canonical_dedup(pages).select("doc_id").withColumn(
        "_canon_keep", F.lit(True)
    )
    heads = pages.select(
        "doc_id",
        robots_noindex_col("html").alias("noindex"),
        F.coalesce(
            normalize_url_col(canonical_url_col("html")),
            normalize_url_col("url"),
        ).alias("canon_key"),
    ).join(canon_kept, "doc_id", "left")

    from html_to_document_spark.operators.url_filter import url_features

    out = (
        url_features(capped).withColumn("_host", host_col("url"))
        .join(pr, F.col("_host") == pr["node"], "left")
        .join(ind, F.col("_host") == ind["node"], "left")
        .join(ht, F.col("_host") == ht["node"], "left")
        .join(
            prof.select(
                F.col("node").alias("_pnode"), "n_anchor_links",
                "n_unique_anchors", "top_anchor", "top_anchors",
            ),
            F.col("_host") == F.col("_pnode"),
            "left",
        )
        .join(heads, "doc_id")
        .join(rb, "doc_id")
    )
    return out.select(
        "doc_id", "blocked", "robots_keep",
        F.col("keep_domain_capped").alias("keep_capped"),
        normalize_url_col("url").alias("norm_url"),
        F.col("rank").alias("pagerank"),
        F.coalesce(F.col("n_inlinks"), F.lit(0)).cast("long")
        .alias("host_inlinks"),
        F.col("hub").alias("host_hub"),
        F.col("authority").alias("host_auth"),
        F.col("n_anchor_links").alias("anchor_links"),
        F.col("n_unique_anchors").alias("anchor_uniq"),
        F.col("top_anchor").alias("anchor_top"),
        F.col("top_anchors").alias("anchor_tops"),
        "noindex", "canon_key",
        F.coalesce(F.col("_canon_keep"), F.lit(False))
        .alias("keep_canon"),
        # r5-cont: url_features (spam/quality URL-shape signals) —
        # the oracle states each from the construction arithmetic
        "url_host_depth", "url_path_depth", "url_n_params",
        "url_digit_ratio",
        # r5-cont: relative-href resolution (resolve_href_col) — four
        # planted href shapes per doc_id%4 (./dir-relative, /rooted,
        # //protocol-relative, bare-relative) resolved against the
        # constructed page URL; the oracle emits the RFC 3986 join
        # from construction ground truth (k=0 pages live in /a/,
        # everything else at the root)
        resolve_href_col(
            F.col("url"),
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("./same/"), sid, F.lit(".html")))
            .when(F.col("doc_id") % 4 == 1,
                  F.concat(F.lit("/rooted/"), sid))
            .when(F.col("doc_id") % 4 == 2,
                  F.concat(F.lit("//cdn.example.net/x/"), sid))
            .otherwise(
                F.concat(F.lit("sub/page"), sid, F.lit(".html"))
            ),
        ).alias("resolved_href"),
    )


def q_gopher_repetition(spark, sf_dir):
    """Gopher n-gram repetition rules (top 2-4-gram and duplicate
    5-10-gram character fractions vs published thresholds), oracle-
    gated over the raw corpus plus a planted repeated-phrase tail on
    every third doc. Replaced ngram_profile in the 50-row gate (r4):
    the shingle machinery it projected stays gated through
    dedup_minhash_pairs and jaccard_verify."""
    from html_to_document_spark.operators.quality_rules import (
        gopher_repetition_flags,
    )

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"),
                F.repeat(F.lit(" repeated segment phrase here now"), 20),
            ),
        ).otherwise(F.col("text")).alias("text"),
    )
    return gopher_repetition_flags(d)


def q_dedup_minhash_pairs(spark, sf_dir):
    """MinHash-LSH candidates, exact-verified (VERDICT r3 #7: moves
    this row from rows-only to a real oracle). The sketch surfaces
    candidates (est 3-gram Jaccard >= 0.5 — recall, not precision);
    word-set Jaccard verification at 0.9 fixes the final set, which
    must equal the DuckDB exact all-pairs set on the same planted
    corpus. The xxhash64 sketch itself stays un-oracle-able; what the
    gate now pins is its end-to-end recall on every >= 0.9 pair."""
    df = _docs_with_planted_dups(spark, sf_dir)
    cands = D.minhash_lsh_pairs(df, threshold=0.5).select("id_a", "id_b")
    return D.verify_pairs_jaccard(df, cands, threshold=0.9, shingle_n=3)


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dup family, value-oracled (VERDICT r4 #3 — the
    dedup_minhash_pairs upgrade pattern): a planted 3-clique corpus
    (each doc mirrored at +10M and +20M) runs the full sketch path —
    64-bit word-vote simhash, 16-bit chunk join, hamming filter —
    then exact 3-gram-shingle verification at threshold 1.0 fixes the
    final pair set, which must equal DuckDB's all-pairs shingle-set-
    equality set (3 pairs per clique). Threshold 1.0 is the sketch's
    PROVABLE recall band: identical texts hash to identical simhashes
    (hamming 0 shares all 4 chunks by pigeonhole), while the corpus's
    natural cross pairs top out at jaccard 0.9891 and drop on verify
    — so the row is deterministic, not luck (measured: >=0.9 cross
    pairs reach hamming 5, OUTSIDE the chunk join's guarantee, which
    is why the probabilistic band stays pytest-gated instead).
    simhash values themselves are xxhash64-based (not SQL-computable);
    what this row pins is the sketch's end-to-end pair recall."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    df = d
    for off in (10_000_000, 20_000_000):
        df = df.unionByName(
            d.select((F.col("doc_id") + off).alias("doc_id"), "text")
        )
    cands = D.simhash_near_pairs(df, max_hamming=3).select("id_a", "id_b")
    return D.verify_pairs_jaccard(df, cands, threshold=1.0, shingle_n=3)


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering, value-oracled (VERDICT r4 #3): LSH
    candidates (recall threshold 0.5) -> exact 3-gram Jaccard >= 0.9
    verification -> large-star/small-star connected components. The
    component partition must equal DuckDB's recursive-CTE connected
    components over the all-pairs >= 0.9 graph. Edge-recall status,
    quantified (review r5): mirror edges have identical signatures
    (surfaced with certainty); the slice's natural >= 0.9 edges are
    exactly {87~134 j=.9545, 152~178 j=.9730, 61~185 j=.9825}, and at
    16 bands x 4 rows the band-miss bound (1-j^4)^16 for the weakest
    is 4.8e-13 — with FIXED seeds the outcome is deterministic (it
    either always passes or never, and it passes), and no natural
    pair lies in [0.85, 0.9), so nothing sits close enough to the
    verify cut to flicker. Iterative
    algorithm, but the FIXPOINT is SQL-checkable even though the
    rounds are not.

    r5 continuation: the row also exercises quality-priority keeper
    selection (quality = doc_id % 7, deterministic and SQL-
    recomputable) — the representative is the component member with
    the highest quality, ties to the smallest id, checked by the
    oracle's window recomputation over the same component partition."""
    df = _docs_with_planted_dups(spark, sf_dir)
    # limit corpus for bounded per-round iteration cost in the gate
    df = df.filter((F.col("doc_id") % 10_000_000) < 200)
    df = df.withColumn("q", (F.col("doc_id") % 7).cast("double"))
    return D.dedup_clusters(
        df,
        threshold=0.5,
        exact_verify_threshold=0.9,
        verify_shingle_n=3,
        quality_col="q",
    )


# ---------------------------------------------------------------------------
# similarity
# ---------------------------------------------------------------------------

def q_ann_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    return cosine_topk_aligned(emb)


def cosine_topk_aligned(emb):
    out = SIM.cosine_topk(emb.filter("vec_id < 5"), emb, k=3)
    return out.select(
        "query_id",
        F.col("rank").cast("long").alias("rank"),
        "candidate_id",
        "cosine",
    )


def q_pdf_extract(spark, sf_dir):
    """S6 PDF path, oracle-gated END-TO-END: each document's text is
    chunked into 7-word lines, assembled into a real PDF by the
    deterministic writer (variant cycled by doc_id so the gate covers
    literal/hex/TJ strings, Td/Tm line moves, AHx filter, ToUnicode
    CMaps, object streams, simple-font /Encoding — a /Differences
    remap and a named MacRoman base — and a two-column layout drawn
    right-box-first whose stream order is garbled and only the
    reading-order pass restores), parsed back by the pure-stdlib
    reader with ``reading_order=True`` (identity on every
    single-column variant, so one flag serves the mixed corpus)
    through the reference's <p>-per-line composition, and the spans
    must equal the DuckDB-computed chunks. A writer bug cannot mask a
    reader bug: the oracle derives from the TEXT, not from the PDF."""
    import pandas as pd

    from html_to_document_spark.operators.pdf_extract import (
        extract_pdf_spans,
    )
    from html_to_document_spark.sources.pdf_synth import make_pdf

    variants = (
        dict(),
        dict(string_mode="hex"),
        dict(string_mode="tj"),
        dict(line_op="Tm"),
        dict(tounicode=True),
        dict(filter="ahx"),
        dict(objstm=True),
        dict(encoding="differences"),
        dict(encoding="macroman"),
        dict(layout="twocol"),
    )

    def synth(batches):
        for pdf in batches:
            ids, blobs = [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                words = (text or "").split(" ")
                lines = [
                    " ".join(words[i * 7 : (i + 1) * 7]).strip()
                    for i in range((len(words) + 6) // 7)
                ]
                ids.append(str(did))
                blobs.append(
                    make_pdf([lines], **variants[int(did) % len(variants)])
                )
            yield pd.DataFrame({"doc_id": ids, "content": blobs})

    # r6 perf (guide §2.2): widen the tiny single-file scan so the
    # fused Python synth+parse+extract stage uses every core instead
    # of the scan's single task; no-op on wide inputs
    from html_to_document_spark.operators.parallelism import (
        widen_small_scan,
    )

    pdfs = (
        widen_small_scan(_docs(spark, sf_dir).select("doc_id", "text"))
        .mapInPandas(synth, "doc_id string, content binary")
    )
    flat = exploded(extract_pdf_spans(pdfs, reading_order=True))
    return flat.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("offset").cast("int").alias("offset"),
        "kind",
        "text",
        "media_ref",
    )


def _emb_clones(emb, scales=((10_000_000, 1.0), (20_000_000, 1.0),
                             (30_000_000, 1.0))):
    """Planted clone corpus: the embeddings table plus one copy per
    (id offset, scale). Scales are POWERS OF TWO so the float32 cast
    is exact on both engines (exponent shift, no mantissa change) —
    cosine(v, s*v) is bit-for-bit 1.0 before rounding."""
    out = emb
    for off, s in scales:
        clone = emb.select(
            (F.col("vec_id") + off).alias("vec_id"),
            (F.transform(
                "embedding",
                lambda x: (x.cast("double") * F.lit(float(s)))
                .cast("float"),
            ) if s != 1.0 else F.col("embedding")).alias("embedding"),
            "label",
        )
        out = out.unionByName(clone)
    return out


def q_embedding_near_dup(spark, sf_dir):
    """Provable band (r5): exact mirrors share every hyperplane sign,
    so all 500 (v, v+10M) pairs surface with certainty; the table's
    natural cosine ceiling is 0.513 (measured), so NOTHING else can
    pass the 0.99 verify — the pair set equals DuckDB's brute-force
    >= 0.99 set."""
    emb = _emb(spark, sf_dir)
    return SIM.embedding_near_dup_pairs(
        _emb_clones(emb, scales=((10_000_000, 1.0),)), threshold=0.99
    )


def q_ann_lsh_topk(spark, sf_dir):
    """Provable band (r5): three clones per vector scaled by 2/0.5/4
    — sign(dot(s*v, p)) == sign(dot(v, p)) for s > 0, so every clone
    shares ALL of its original's buckets and is a guaranteed
    candidate at cosine 1.0; natural candidates top out at 0.513, so
    the exact re-rank's top-3 is exactly the clone set (ids
    ascending) = DuckDB's brute-force top-3 over the same union. The
    random-hyperplane recall band below 1.0 stays pytest-gated."""
    emb = _emb(spark, sf_dir)
    corpus = _emb_clones(emb, scales=(
        (10_000_000, 2.0), (20_000_000, 0.5), (30_000_000, 4.0)))
    return SIM.lsh_ann_topk(
        emb.filter("vec_id < 5"), corpus, k=3, dim=64, bits_per_table=4,
        num_tables=16,
    )


def q_ann_ivf_topk(spark, sf_dir):
    """Provable band (r5): literal block centroids (no KMeans fit)
    make cell assignment a deterministic JVM argmin, and an exact
    copy lands in its original's cell by identity — so with n_probe=1
    the three mirrors are guaranteed candidates at cosine 1.0 and the
    top-3 equals DuckDB's brute-force top-3 over the union. The
    KMeans-fit mode and partial-probe recall stay pytest-gated
    (tests/test_similarity.py)."""
    emb = _emb(spark, sf_dir)
    return SIM.ivf_ann_topk(
        emb.filter("vec_id < 5"), _emb_clones(emb), k=3, n_cells=8,
        n_probe=1, centroids=_sem_centroids(),
    )


def q_ann_approx_topk(spark, sf_dir):
    """ann_lsh_topk + ann_ivf_topk + embedding_near_dup in one
    mode-tagged union row (merged r4-cont under the 50-row cap) —
    VALUE-ORACLED since r5: each arm runs its full approximate path
    (hyperplane buckets / literal-centroid cells / LSH near-dup
    verify) on a planted clone corpus inside the sketch's PROVABLE
    recall band (see each arm's docstring), so the result must equal
    DuckDB's brute-force computation over the same union. The
    probabilistic recall bands (random buckets at < 1.0 similarity,
    KMeans cells, partial probing) stay pytest-gated — what this row
    pins is each path's end-to-end machinery: bucketing, candidate
    joins, exact re-rank, rank tie-breaks, threshold verify."""
    lsh = q_ann_lsh_topk(spark, sf_dir).withColumn("mode", F.lit("lsh"))
    ivf = q_ann_ivf_topk(spark, sf_dir).withColumn("mode", F.lit("ivf"))
    nd = q_embedding_near_dup(spark, sf_dir).select(
        F.col("id_a").alias("query_id"),
        F.lit(0).cast("long").alias("rank"),
        F.col("id_b").alias("candidate_id"),
        "cosine",
        F.lit("near_dup").alias("mode"),
    )
    return lsh.unionByName(ivf).unionByName(nd)


# 8 deterministic block centroids over dim 64: centroid j is 1.0 on
# dims [8j, 8j+8). Literal (not KMeans) so the DuckDB oracle can
# reproduce the assignment analytically: cos(v, c_j) =
# sum(v[8j:8j+8]) / (||v|| * sqrt(8)).
_SEM_K, _SEM_DIM, _SEM_BLOCK = 8, 64, 8


def _sem_centroids():
    cents = []
    for j in range(_SEM_K):
        c = [0.0] * _SEM_DIM
        for d in range(j * _SEM_BLOCK, (j + 1) * _SEM_BLOCK):
            c[d] = 1.0
        cents.append(c)
    return cents


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with a FULL value oracle: every
    embedding is mirrored at vec_id+10M (an exact semantic dup, cosine
    1.0), the union is clustered against 8 literal block centroids and
    semantically deduped at eps=0.99. The keep rule (least centroid_sim,
    then lowest id) must resolve every mirror pair to the original row;
    DuckDB recomputes assignment, pairwise cosines and the removal set
    from scratch. cluster_cap=None here because the hot-cluster LSH
    routing uses driver-seeded hyperplanes (not SQL-portable); the
    capped==uncapped and hot-clique-collapse properties are pinned in
    tests/test_semdedup.py."""
    from html_to_document_spark.operators.semdedup import semantic_dedup

    emb = _emb(spark, sf_dir).select("vec_id", "embedding")
    mirror = emb.select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(
        emb.unionByName(mirror),
        _sem_centroids(),
        eps=0.99,
        cluster_cap=None,
    )
    # r5 continuation: the row also gates semantic ordering for
    # packing (operators/ordering.py::semantic_order — the In-Context
    # Pretraining cluster-then-order recipe): icp_pos is each kept
    # row's rank within its cluster by (centroid_sim desc, id asc),
    # computed over the FULL mirrored union (so kept rows keep the
    # gaps their removed mirrors leave); the oracle recomputes it as
    # a row_number over its own assignment CTE before the removal
    # filter.
    from html_to_document_spark.operators.ordering import semantic_order

    order = semantic_order(
        emb.unionByName(mirror), _sem_centroids()
    ).select("vec_id", F.col("pos").cast("long").alias("icp_pos"))
    # embeddings projected away: float arrays hash differently across
    # engines; the gate checks (id, cluster, centroid_sim, icp_pos)
    return out.select(
        "vec_id",
        F.col("cluster").cast("int").alias("cluster"),
        "centroid_sim",
    ).join(order, "vec_id")


# ---------------------------------------------------------------------------
# interleaved text+media curation (OBELICS/MMC4-style, operators/interleaved)
# ---------------------------------------------------------------------------

_SPAN3 = "array<struct<kind:string,text:string,media_ref:string>>"


def _interleaved_spans_expr():
    """Deterministic interleaved spans synthesized from the documents
    table — identical arithmetic on both engines: text split into
    5-word text spans; after every 3rd text span an image whose ref is
    shared across the source (doc_id%3==0 docs get a double image →
    runs); doc_id%11==0 docs get a 2-image leading banner; every
    has-image doc (doc_id%7!=0) ends with a doc-unique image ref.
    Source-keyed and banner refs repeat across many docs (the hot
    'site furniture' set); doc-unique refs never do."""
    ws = F.split(F.col("text"), " ")
    ng = F.ceil(F.size(ws) / F.lit(5.0)).cast("int")
    doc = F.col("doc_id")
    has_img = doc % 7 != 0
    empty = F.array().cast(_SPAN3)

    def text_span(i):
        return F.struct(
            F.lit("text").alias("kind"),
            F.array_join(F.slice(ws, i * 5 + 1, F.lit(5)), " ").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
        )

    def img_span(ref):
        return F.struct(
            F.lit("image").alias("kind"),
            F.lit(None).cast("string").alias("text"),
            ref.alias("media_ref"),
        )

    def group(i):
        src_ref = F.concat(
            F.lit("media://"), F.col("source"), F.lit("/"),
            (i % 4).cast("string"),
        )
        return F.concat(
            F.array(text_span(i)),
            F.when(
                has_img & ((i + 1) % 3 == 0),
                F.when(
                    doc % 3 == 0,
                    F.array(img_span(src_ref), img_span(src_ref)),
                ).otherwise(F.array(img_span(src_ref))),
            ).otherwise(empty),
        )

    banner_ref = F.concat(
        F.lit("media://banner/"), (doc % 2).cast("string")
    )
    banner = F.when(
        doc % 11 == 0, F.array(img_span(banner_ref), img_span(banner_ref))
    ).otherwise(empty)
    tail_ref = F.concat(F.lit("media://doc/"), doc.cast("string"))
    tail = F.when(has_img, F.array(img_span(tail_ref))).otherwise(empty)
    return F.concat(
        banner,
        F.flatten(F.transform(F.sequence(F.lit(0), ng - 1), group)),
        tail,
    )


def q_interleaved_stats(spark, sf_dir):
    """Interleaved-document curation (operators/interleaved.py): the
    OBELICS/MMC4 doc-level stats (span/image counts, text volume,
    image runs, leading banners), hot-media (logo) detection with
    per-doc map-side ref dedup, literal-set hot-span removal
    (n_hot_images = images dropped), and the keep rule — all computed
    over a spans table synthesized in-query so the DuckDB oracle can
    rebuild the identical arrays and recompute every stat in SQL
    (gaps-and-islands for runs).

    r5 continuation: the row also gates render_interleaved — the
    multimodal training render (image spans -> '<image>' sentinels in
    sequence order, per-image 64-token patch cost, whitespace token
    accounting): mm_text / mm_refs (space-joined, order-preserving) /
    mm_text_tokens / mm_tokens recomputed by the oracle from the same
    synthesized arrays (ordered string_agg + per-span token counts)."""
    from html_to_document_spark.operators.interleaved import (
        drop_hot_media,
        hot_media_refs,
        interleaved_keep_col,
        interleaved_stats,
        render_interleaved,
        span_lang_stats,
    )

    # r6 perf: widen the tiny scan ahead of the heavy span-synthesis
    # HOF and checkpoint the synthesized frame — it feeds both the
    # hot-ref aggregate and the stats chain, so the construction would
    # otherwise evaluate twice (and at single-task parallelism)
    from html_to_document_spark.operators.parallelism import (
        widen_small_scan,
    )

    sp = widen_small_scan(
        _docs(spark, sf_dir).select("doc_id", "text", "source")
    ).select(
        "doc_id", _interleaved_spans_expr().alias("spans")
    ).localCheckpoint(eager=False)
    hot = hot_media_refs(sp, min_docs=8)
    # r5-cont: span-level language profile (span_lang_stats — the
    # block-level mixed-language signal) rides the same row; the
    # oracle replays the per-slice lang vote + plurality pick in SQL
    stats = span_lang_stats(interleaved_stats(sp)).withColumn(
        "spans2", F.col("spans")
    )
    after = drop_hot_media(
        stats, hot, spans_col="spans2", renumber_offsets=False
    )
    after = render_interleaved(after)  # over the ORIGINAL spans col
    n_img_after = F.size(
        F.filter(F.col("spans2"), lambda s: s["kind"] == "image")
    )
    return after.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_spans",
        "n_text",
        "n_images",
        "text_chars",
        "max_image_run",
        "leading_images",
        (F.col("n_images") - n_img_after).cast("int").alias("n_hot_images"),
        interleaved_keep_col(
            min_text_chars=150,
            max_images=6,
            max_image_ratio=0.4,
            max_image_run=1,
            max_leading_images=0,
        )
        .cast("int")
        .alias("keep"),
        "main_span_lang",
        "main_span_lang_n",
        "n_span_langs",
        "span_lang_frac",
        "mm_text",
        F.array_join("mm_media_refs", " ").alias("mm_refs"),
        "mm_text_tokens",
        "mm_tokens",
    )


# ---------------------------------------------------------------------------
# relational / scale patterns (TPC-H-ish)
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    dec = lambda c: F.col(c).cast("decimal(18,4)")
    out = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                (dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount")))
            ).cast("double").alias("sum_disc_price"),
            F.count("*").cast("long").alias("count_order"),
        )
    )
    return out


def q_revenue_by_nation(spark, sf_dir):
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("long").alias("n_orders"),
        )
    )


def q_top_events_per_user(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("user_id", "rank", "event_id", "event_type", "value")
    )


def q_sessionize_events(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sec = F.unix_timestamp("ts")
    gap = sec - F.lag(sec).over(w)
    is_new = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.withColumn("_new", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("_new").cast("long").alias("n_sessions"),
            F.count("*").cast("long").alias("n_events"),
        )
    )


def q_lineage_counts(spark, sf_dir):
    """Lineage aggregation shape with an engine-portable checksum
    (the production path uses xxhash64 — pytest-covered instead)."""
    d = _docs(spark, sf_dir)
    pid = F.pmod(F.col("doc_id"), F.lit(32)).cast("int")
    return d.groupBy(pid.alias("partition_id")).agg(
        F.count("*").cast("long").alias("input_count"),
        (F.sum((F.col("doc_id") + 1) * F.col("n_chars")) % 1_000_000_007)
        .cast("long")
        .alias("checksum"),
    )


def q_resume_antijoin(spark, sf_dir):
    """Checkpoint-resume filter: docs in not-yet-committed partitions."""
    d = _docs(spark, sf_dir).withColumn(
        "partition_id", F.pmod(F.col("doc_id"), F.lit(32)).cast("int")
    )
    done = (
        d.select("partition_id").distinct().filter(F.col("partition_id") < 16)
    )
    remaining = d.join(done, "partition_id", "left_anti")
    return remaining.groupBy("partition_id").agg(
        F.count("*").cast("long").alias("n_remaining")
    )


def q_windowed_counts(spark, sf_dir):
    """Event-time tumbling-window aggregation (streaming/windows.py,
    batch form; stream==batch equivalence is pytest-gated)."""
    from html_to_document_spark.streaming.windows import windowed_event_counts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = windowed_event_counts(ev, exact_sums=True)
    # epoch seconds, not a timestamp: pandas hashes the raw int64 under
    # a datetime column, so Spark's ns vs DuckDB's us resolution would
    # hash-mismatch on identical instants
    return out.withColumn(
        "window_start", F.unix_timestamp("window_start").cast("long")
    )


def q_media_catalog(spark, sf_dir):
    """media_ref type normalization (S5 data-URI sniff / F8 type parse)
    over a deterministic media_ref column.

    r5 continuation: the row also gates crawl charset sniffing
    (``sources.warc.sniff_decode`` — BOM / declaration / meta prescan /
    UTF-8-first heuristic). Six arms by doc_id%6 ENCODE the doc text
    plus a non-ASCII suffix into real legacy bytes (BOM'd UTF-8,
    declared cp1252, meta-declared Shift_JIS, undeclared cp1252,
    BOM'd UTF-16-LE, and a STALE iso-8859-1 declaration on UTF-8
    bytes that the UTF-8-first rule must override); the decoded text
    and codec must equal the construction ground truth the oracle
    emits — the documents table is verified printable-ASCII, so every
    suffix byte is the writer's own.

    r5 continuation 2: sitemap ingestion (operators/sitemap.py) — a
    per-doc urlset (entity-escaped loc with surrounding whitespace, a
    dated and an undated page entry, one index entry) goes through
    the REAL parse (regexp_extract_all + explode) and back into one
    sorted, '~'-framed entry string per doc; oracle = construction
    ground truth.

    r5 continuation 12b: the same entries feed seed_frontier ->
    schedule_frontier (politeness waves: per-host fetch ordinal in
    URL order) — every planted page URL shares ONE host, so each
    doc's two URLs get corpus-wide waves the oracle recomputes as
    row_number over the constructed URL set."""
    import pandas as pd

    from html_to_document_spark.functions.scalars import image_type_col
    from html_to_document_spark.sources.warc import sniff_decode

    def synth(batches):
        for pdf in batches:
            ids, texts, encs = [], [], []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                arm = int(did) % 6
                if arm == 0:
                    body = b"\xef\xbb\xbf" + (text + " — d\xe9j\xe0 vu").encode("utf-8")
                    declared = None
                elif arm == 1:
                    body = (text + " caf\xe9 cr\xe8me").encode("cp1252")
                    declared = "windows-1252"
                elif arm == 2:
                    body = (
                        "<meta charset=shift_jis>" + text + " 日本語"
                    ).encode("shift_jis")
                    declared = None
                elif arm == 3:
                    body = (text + " caf\xe9").encode("cp1252")
                    declared = None
                elif arm == 4:
                    body = b"\xff\xfe" + (text + " \xfcn\xefc\xf8de").encode("utf-16-le")
                    declared = None
                else:
                    body = (text + " na\xefve").encode("utf-8")
                    declared = "iso-8859-1"  # stale: UTF-8 must win
                out_text, enc = sniff_decode(body, declared)
                ids.append(int(did))
                texts.append(out_text)
                encs.append(enc)
            yield pd.DataFrame(
                {"doc_id": ids, "decoded_text": texts, "enc_used": encs}
            )

    d = _docs(spark, sf_dir)
    decoded = d.select("doc_id", "text").mapInPandas(
        synth, "doc_id long, decoded_text string, enc_used string"
    )

    from html_to_document_spark.operators.sitemap import sitemap_entries

    did = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit("<urlset><url><loc> http://sm.example/"), did,
        F.lit("/a&amp;b </loc><lastmod>2024-03-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("</lastmod></url><url><loc>http://sm.example/"), did,
        F.lit("/two</loc></url><sitemap><loc>http://sm.example/maps/"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit(".xml</loc></sitemap></urlset>"),
    )
    ent = sitemap_entries(d.select("doc_id", xml.alias("xml")))
    sm = (
        ent.groupBy("doc_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(
                        F.concat_ws(
                            "~", "kind", "loc",
                            F.coalesce("lastmod", F.lit("-")),
                        )
                    )
                ),
                "|",
            ).alias("sm_entries")
        )
    )

    from html_to_document_spark.operators.sitemap import (
        schedule_frontier,
        seed_frontier,
    )

    sched = schedule_frontier(seed_frontier(ent))
    url_a = F.concat(F.lit("http://sm.example/"), did, F.lit("/a&b"))
    url_two = F.concat(F.lit("http://sm.example/"), did, F.lit("/two"))
    waves = (
        d.select("doc_id", url_a.alias("_ua"), url_two.alias("_ut"))
        .join(
            sched.select(F.col("url").alias("_ua"),
                         F.col("wave").alias("wave_a")), "_ua")
        .join(
            sched.select(F.col("url").alias("_ut"),
                         F.col("wave").alias("wave_two")), "_ut")
        .select("doc_id", "wave_a", "wave_two")
    )
    ref = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("http://img/"), F.col("doc_id").cast("string"),
                        F.lit(".PNG")))
        .when(F.col("doc_id") % 4 == 1,
              F.concat(F.lit("data:image/jpeg;base64,"), F.col("source")))
        .when(F.col("doc_id") % 4 == 2,
              F.concat(F.lit("files/"), F.col("doc_id").cast("string"),
                       F.lit(".webp")))
        .otherwise(F.concat(F.lit("media://"), F.col("doc_id").cast("string")))
    )
    return (
        d.select(
            "doc_id", ref.alias("media_ref"),
            image_type_col(ref).alias("media_type"),
        )
        .join(decoded, "doc_id")
        .join(sm, "doc_id")
        .join(waves, "doc_id")
    )


def q_jaccard_verify(spark, sf_dir):
    """Exact word-set Jaccard verification over a deterministic pair
    set (every even doc vs its successor) — the exact verifier the
    MinHash/SimHash sketches estimate, run on surfaced candidates.

    r5 continuation: the row also gates the CHARACTER-level exact
    verifier (verify_pairs_edit — normalized Levenshtein similarity,
    the code-dedup companion check): Spark's F.levenshtein vs DuckDB's
    levenshtein over the same pair set, a two-independent-
    implementations gate on the classic DP recurrence."""
    from html_to_document_spark.operators.dedup import (
        verify_pairs_edit,
        verify_pairs_jaccard,
    )

    docs = _docs(spark, sf_dir)
    pairs = docs.filter(F.col("doc_id") % 2 == 0).select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1).alias("id_b"),
    )
    jac = verify_pairs_jaccard(docs, pairs, threshold=0.0)
    edit = verify_pairs_edit(docs, pairs, threshold=-1.0)
    return jac.join(edit, ["id_a", "id_b"])


def q_dedup_exact_normalized(spark, sf_dir):
    """Fuzzy-exact dedup groups: case/whitespace variants collapse to
    one canonical form (operators.dedup.normalized_text_col). Variants
    fabricated deterministically: every doc unioned with an uppercased,
    whitespace-padded copy — each group must resolve to exactly 2."""
    from html_to_document_spark.operators.dedup import normalized_text_col

    docs = _docs(spark, sf_dir)
    variants = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(F.lit("  "), F.upper("text"), F.lit("   ")).alias("text"),
    )
    both = docs.select("doc_id", "text").unionByName(variants)
    return (
        both.groupBy(normalized_text_col(F.col("text")).alias("norm_text"))
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count("*").alias("n_dups"),
        )
    )


def q_paragraph_dedup(spark, sf_dir):
    """Corpus-wide exact PARAGRAPH dedup accounting (web corpora repeat
    boilerplate paragraphs across distinct pages; doc-level dedup
    misses them). Paragraph structure fabricated deterministically
    (word boundaries -> '. ') since the synthetic text is one line.

    r5 continuation: the row also gates the REWRITE companion
    (remove_repeated_paragraphs) in both modes — keep_first (CCNet/C4
    rewrite: clean_text + n_removed_first) and drop_hot (boilerplate
    stop-list at max_occurrences=3: stoplist_text + n_removed_hot) —
    the oracle recomputes both from the same window/count CTE via
    ordered string_agg.

    r5 continuation: the row also gates the WITHIN-document half of
    the repetition story (dedup_lines_in_doc — Dolma/RefinedWeb's
    per-page duplicate-paragraph removal): self_text keeps each
    line's first occurrence inside its own doc only, via the
    zero-shuffle array_position filter; the oracle mirrors it with
    DuckDB's 1-based list_filter/list_position lambda.

    r5 continuation: the row also gates the HOST-scoped third member
    of the family (remove_host_template_lines — the per-SITE
    boilerplate rule: a line in >= 3 DISTINCT docs of the same host is
    a site template and is removed host-wide). Hosts fabricated as
    'h'||(doc_id%4); tmpl_text/n_removed_tmpl recomputed by the oracle
    from a distinct-doc (host, para) count >= 3 left join."""
    from html_to_document_spark.operators.corpus_hygiene import (
        dedup_lines_in_doc,
        paragraph_dedup_stats,
        remove_host_template_lines,
        remove_repeated_paragraphs,
    )

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.regexp_replace(F.col("text"), " ", ". ").alias("text"),
    )
    first = remove_repeated_paragraphs(docs).select(
        "doc_id",
        F.col("text").alias("clean_text"),
        F.col("n_paras_removed").cast("long").alias("n_removed_first"),
    )
    hot = remove_repeated_paragraphs(
        docs, mode="drop_hot", max_occurrences=3
    ).select(
        "doc_id",
        F.col("text").alias("stoplist_text"),
        F.col("n_paras_removed").cast("long").alias("n_removed_hot"),
    )
    self_ = dedup_lines_in_doc(docs).select(
        "doc_id",
        F.col("text").alias("self_text"),
        F.col("n_lines_removed").alias("n_removed_self"),
    )
    tmpl = remove_host_template_lines(
        docs.withColumn(
            "host",
            F.concat(F.lit("h"), (F.col("doc_id") % 4).cast("string")),
        ),
        min_docs=3,
    ).select(
        "doc_id",
        F.col("text").alias("tmpl_text"),
        F.col("n_tmpl_removed").cast("long").alias("n_removed_tmpl"),
    )
    return (
        paragraph_dedup_stats(docs)
        .join(first, "doc_id")
        .join(hot, "doc_id")
        .join(self_, "doc_id")
        .join(tmpl, "doc_id")
    )


def q_decontaminate(spark, sf_dir):
    """Test-set decontamination: training docs sharing an exact
    paragraph with the (broadcast) benchmark set. Overlap fabricated
    deterministically: train docs carry 'shared-<id%5>', benchmark
    docs 'shared-<id%3>'."""
    from html_to_document_spark.operators.corpus_hygiene import decontaminate

    docs = _docs(spark, sf_dir)
    train = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(". shared-"),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("text"),
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id",
        F.concat(
            F.lit("benchmark text. shared-"),
            (F.col("doc_id") % 3).cast("string"),
        ).alias("text"),
    )
    return decontaminate(train, bench)


# five 13-word phrases; train docs carry phrase[doc_id%5], benchmark
# docs phrase[doc_id%3] — overlap only on phrases 0-2, and only the
# one aligned 13-gram matches (windows spanning the splice boundary
# contain words unique to their side)
_NGRAM_PHRASES = [
    " ".join(f"p{k}w{i}" for i in range(13)) for k in range(5)
]


def _ngram_decon_frames(spark, sf_dir):
    """The planted train/bench pair shared by the ngram and ngram_frac
    arms of decontaminate_modes."""
    docs = _docs(spark, sf_dir)
    phrases = F.array(*[F.lit(p) for p in _NGRAM_PHRASES])
    train = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" "),
            F.element_at(phrases, (F.col("doc_id") % 5 + 1).cast("int")),
        ).alias("text"),
    )
    bench = docs.filter(F.col("doc_id") % 97 == 0).select(
        "doc_id",
        F.concat(
            F.lit("benchhead "),
            F.element_at(phrases, (F.col("doc_id") % 3 + 1).cast("int")),
        ).alias("text"),
    )
    return train, bench


def q_decontaminate_ngram(spark, sf_dir):
    """Sliding 13-gram decontamination (standard eval-decontamination
    recipe): catches contamination that reflowing/light edits hide from
    exact-paragraph matching."""
    from html_to_document_spark.operators.corpus_hygiene import (
        decontaminate_ngrams,
    )

    train, bench = _ngram_decon_frames(spark, sf_dir)
    return decontaminate_ngrams(train, bench, n=13)


def q_decontaminate_fuzzy(spark, sf_dir):
    """Fuzzy (MinHash near-dup) decontamination — the document-level
    companion to the exact modes. Plant reuses the provable-band
    argument (q_bloom_incremental 'near' arm): exactly THREE benchmark
    docs (ids 0/97/194 — one per doc_id%3 residue) each carry a
    k-salted 10-word phrase repeated 4x; contaminated train docs
    (doc_id%4==0) carry phrase(doc_id%3) repeated 6x — a different
    string with the IDENTICAL 3-gram shingle set, so est_jaccard=1.0
    on every band and exact verify reads 1.0; every clean train doc
    is salted natural text sharing zero shingles with any phrase. So
    the flagged set == the construction's ground truth and
    n_benchmark_matches == 1 (one bench doc per residue) at any sf."""
    from html_to_document_spark.operators.corpus_hygiene import (
        decontaminate_fuzzy,
    )

    docs = _docs(spark, sf_dir)
    phrase = F.concat_ws(
        " ",
        *[
            F.concat(
                F.lit(f"dz{i}r"), (F.col("doc_id") % 3).cast("string")
            )
            for i in range(10)
        ],
    )
    # r6 perf: localCheckpoint the planted constructions — the fuzzy
    # arm instantiates each frame 3x (signatures, band join, exact
    # verify) and the 40-term phrase tree dominated the 4-arm union's
    # driver-side plan analysis (same fix as q_bloom_incremental)
    bench = docs.filter(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") <= 194)
    ).select(
        "doc_id", F.concat_ws(" ", phrase, phrase, phrase, phrase).alias("text")
    ).localCheckpoint(eager=False)
    train = docs.filter(F.col("doc_id") % 97 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat_ws(" ", phrase, phrase, phrase,
                        phrase, phrase, phrase),
        ).otherwise(
            F.concat(F.col("text"), F.lit(" uq"),
                     F.col("doc_id").cast("string"))
        ).alias("text"),
    ).localCheckpoint(eager=False)
    return decontaminate_fuzzy(
        train, bench, threshold=0.85, exact_verify=True,
        persist_sigs=True,
    )


def q_decontaminate_modes(spark, sf_dir):
    """All three decontamination modes in one gate row (paragraph-
    exact, sliding 13-gram, and r5's fuzzy near-dup), tagged by a mode
    column — merged r4/r5 to stay under the 50-row driver cap."""
    a = q_decontaminate(spark, sf_dir).select(
        F.lit("paragraph").alias("mode"),
        "doc_id",
        F.col("n_contaminated_paras").alias("n_hits"),
    )
    b = q_decontaminate_ngram(spark, sf_dir).select(
        F.lit("ngram").alias("mode"),
        "doc_id",
        F.col("n_contaminated_ngrams").alias("n_hits"),
    )
    c = q_decontaminate_fuzzy(spark, sf_dir).select(
        F.lit("fuzzy").alias("mode"),
        "doc_id",
        F.col("n_benchmark_matches").alias("n_hits"),
    )
    # r5 continuation: the CONTINUOUS overlap score (corpus_hygiene.
    # contamination_fraction) as a fourth arm — the fraction rides
    # n_hits as exact ppm via integer floor-division (n_cont * 1e6 div
    # n_grams), so no double ever crosses the engine boundary; every
    # train doc appears (zero-hit docs at 0)
    from html_to_document_spark.operators.corpus_hygiene import (
        contamination_fraction,
    )

    train, bench = _ngram_decon_frames(spark, sf_dir)
    d = contamination_fraction(train, bench, n=13).select(
        F.lit("ngram_frac").alias("mode"),
        "doc_id",
        F.when(F.col("n_grams") == 0, F.lit(0).cast("long")).otherwise(
            F.expr("n_contaminated_ngrams * 1000000L div n_grams")
        ).alias("n_hits"),
    )
    return a.unionByName(b).unionByName(c).unionByName(d)


def q_gopher_rules(spark, sf_dir):
    """Published Gopher document-quality rules as a codegen projection
    (operators/quality_rules.py), oracle-gated over four deterministic
    text variants per doc: clean, symbol-injected ('a'->'#'), 40-char
    truncation (word-count fail), and a bulleted-line fail (bullet-
    ratio fail). The oracle recomputes every stat and flag in SQL from
    the same construction.

    r5: two companion rule families join in by doc_id — the C4
    bad-words page filter (word_blocklist_flags over text with
    doc_id%5 planted 'zorple' hits, fraction threshold 0.02 so both
    keep branches occur) and the char-entropy gibberish signal
    (char_entropy; doc_id%6==0 docs replaced by a 64-char single-char
    flood, pinning the low-entropy drop branch)."""
    from html_to_document_spark.operators.quality_rules import (
        gopher_quality_flags,
        word_blocklist_flags,
    )
    from html_to_document_spark.operators.text_analysis import (
        char_entropy,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    c = F.col("text")
    bullet_tail = F.concat(
        *([F.lit("\n• bullet line of words")] * 12)
    )
    variant = (
        F.when(F.col("doc_id") % 4 == 1, F.replace(c, F.lit("a"), F.lit("#")))
        .when(F.col("doc_id") % 4 == 2, F.substring(c, 1, 40))
        .when(F.col("doc_id") % 4 == 3, F.concat(c, bullet_tail))
        .otherwise(c)
    )
    flags = gopher_quality_flags(
        docs.select("doc_id", variant.alias("text"))
    )
    badtext = F.concat(
        c, F.expr("repeat(' zorple', cast(doc_id % 5 as int))")
    )
    bl = word_blocklist_flags(
        docs.select("doc_id", badtext.alias("text")),
        ("zorple",),
        max_fraction=0.02,
    )
    ent_text = F.when(
        F.col("doc_id") % 6 == 0, F.expr("repeat('a', 64)")
    ).otherwise(c)
    en = char_entropy(docs.select("doc_id", ent_text.alias("text")))
    return flags.join(bl, "doc_id").join(en, "doc_id")


# utf-8-as-sloppy-cp1252 corruption of " naïve é — €9 ½ “q”" — the
# demojibake plant (r5): the table text is pure ASCII (identity under
# the repair chain), so the fixed output is text || the clean suffix
_MOJI_SUFFIX = " naÃ¯ve Ã© â€” â‚¬9 Â½ â€œqâ€" + "\x9d"  # U+009D: cp1252-hole byte, escaped
_MOJI_FIXED = " naïve é — €9 ½ “q”"

# script-profile plants (r5 continuation): one phrase per major
# script, appended by doc_id%4 (the %4==3 residue stays pure Latin)
_SCRIPT_CYR = "Привет мир"
_SCRIPT_CJK = "你好 世界"
_SCRIPT_ARA = "مرحبا بكم"


# NFC plant (r5 continuation, unicode_normalize_udf): decomposed
# accents (e+U+0301, A+U+030A, o+U+0308), the U+212B ANGSTROM singleton
# fold, combining-mark canonical REORDERING (dot-above U+0307 typed
# before dot-below U+0323 — NFC swaps them), and a U+FB01 ligature that
# must SURVIVE (compatibility folds are NFKC-only). Table text is
# ASCII (NFC-identity), so only the suffix transforms; the oracle runs
# DuckDB's own nfc_normalize over the same dirty suffix — two
# independent Unicode implementations pinned against each other.
_NFC_SUFFIX = (  # escapes, NOT literals: editors must not re-normalize
    " cafe\u0301 A\u030angstro\u0308m \u212b q\u0307\u0323 \ufb01n"
)
_NFC_SUFFIX_SQL = (
    "' cafe' || chr(769) || ' A' || chr(778) || 'ngstro' || chr(776) "
    "|| 'm ' || chr(8491) || ' q' || chr(775) || chr(803) || ' ' || "
    "chr(64257) || 'n'"
)

# control/format-char plant (r5, clean_control_chars_col): ZWSP, soft
# hyphen, NBSP, BEL, CRLF, ideographic space — the table text is
# ASCII-identity under the scrub, so the oracle replays the SAME
# RE2∩Java pattern strings on (text || this suffix) in DuckDB
_CTRL_SUFFIX = (
    " A\u200bB\u00adC\u00a0D\x07E\r\nF g\u3000h"
)
_CTRL_SUFFIX_SQL = (
    "' A' || chr(8203) || 'B' || chr(173) || 'C' || chr(160) || "
    "'D' || chr(7) || 'E' || chr(13) || chr(10) || 'F g' || "
    "chr(12288) || 'h'"
)


def _ctrl_clean_sql(expr: str) -> str:
    """The clean_control_chars_col chain as DuckDB SQL, replaying the
    IDENTICAL RE2∩Java pattern strings the Spark operator uses."""
    from html_to_document_spark.operators.corpus_hygiene import (
        CTRL_DELETE_RE,
        CTRL_SPACE_RE,
    )

    return (
        "regexp_replace(regexp_replace(regexp_replace("
        f"{expr}, '\\r\\n?', chr(10), 'g'), "
        f"'{CTRL_DELETE_RE}', '', 'g'), "
        f"'{CTRL_SPACE_RE}', ' ', 'g')"
    )


def q_pii_scrub(spark, sf_dir):
    """PII redaction as a codegen'd projection (emails incl. +tag and
    multi-label domains, NANP phones, IPv4, long digit runs); PII
    injected deterministically since the synthetic corpus has none.
    r5: a demojibaked column joins in the full 165-entry encoding-
    repair chain (corpus_hygiene.fix_mojibake_col) over a planted
    sloppy-cp1252 corruption; the oracle appends the expected clean
    suffix directly.

    r5 continuation: a ctrl_clean column gates the control/format-char
    scrub (clean_control_chars_col) over a planted ZWSP/SHY/NBSP/BEL/
    CRLF/ideographic-space suffix; the oracle replays the operator's
    IDENTICAL RE2∩Java pattern strings in DuckDB regexp_replace (a
    cross-engine dialect gate, not a ground-truth plant).

    r5 continuation: an nfc_text column gates Unicode NFC
    normalization (corpus_hygiene.unicode_normalize_udf — the
    ftfy/CCNet repair-then-normalize step) over a planted decomposed
    suffix (combining accents, the U+212B singleton, canonical mark
    reordering, an NFKC-only ligature that must survive); the oracle
    recomputes via DuckDB's independent nfc_normalize."""
    from html_to_document_spark.operators.corpus_hygiene import (
        clean_control_chars_col,
        fix_mojibake_col,
        pii_scrub,
        unicode_normalize_udf,
    )

    base = _docs(spark, sf_dir)
    docs = base.select(
        "doc_id",
        F.concat(
            F.lit("contact User"), F.col("doc_id").cast("string"),
            F.lit("+tag@Ex-ample.co.uk tel 555-123-4567 ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 board "),
            (F.col("doc_id") * 1234567).cast("string"),
            F.lit(" "), F.col("text"),
        ).alias("text"),
    )
    fixed = base.select(
        "doc_id",
        fix_mojibake_col(
            F.concat(F.col("text"), F.lit(_MOJI_SUFFIX))
        ).alias("demojibaked"),
        clean_control_chars_col(
            F.concat(F.col("text"), F.lit(_CTRL_SUFFIX))
        ).alias("ctrl_clean"),
        unicode_normalize_udf("NFC")(
            F.concat(F.col("text"), F.lit(_NFC_SUFFIX))
        ).alias("nfc_text"),
    )
    return pii_scrub(docs).join(fixed, "doc_id")


def q_link_stats(spark, sf_dir):
    """Outlink inventory over constructed pages (crawl-pipeline staple):
    one relative link, one duplicate, one absolute per doc."""
    from html_to_document_spark.functions.scalars import link_stats_cols

    html = F.concat(
        F.lit('<a href="/p/'), F.col("doc_id").cast("string"),
        F.lit('">x</a><a href="/p/'), F.col("doc_id").cast("string"),
        F.lit("\">y</a><a href='https://ex.com/"), F.col("source"),
        F.lit("'>z</a><p>"), F.col("text"), F.lit("</p>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", html.alias("html"))
    stats = link_stats_cols(F.col("html"))
    return d.select("doc_id", *[v.alias(k) for k, v in stats.items()])


def q_multimodal_pipeline(spark, sf_dir):
    """One gated row for the whole decode / resize / frame-sample
    family (the driver harness caps the gate at 50 queries, so the
    three plumbing checks run as one union), upgraded r4 from
    rows-only to a REAL oracle: the decode stage's sha256 payload is
    recomputed by DuckDB (utf-8 content), the resize stage gates the
    surrogate's exact output shape (mime:WxH:n_bytes), and the frames
    stage gates the duration-driven sampling positions. The iterated-
    digest payloads (feature vectors, frame hashes) hash NON-UTF-8
    byte strings, which DuckDB's varchar-only sha256 cannot express —
    those stay pytest-pinned (tests/test_multimodal.py)."""
    from html_to_document_spark.operators.multimodal import (
        decode_media,
        frame_sample,
        resize_images,
    )

    d = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    img = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("media://i/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            F.lit("image/png").alias("mime"),
            F.lit(256).alias("width"),
            F.lit(256).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )
    vid = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.concat(F.lit("media://v/"), F.col("doc_id").cast("string")).alias(
            "media_ref"
        ),
        F.encode("source", "utf-8").alias("content"),
        F.struct(
            F.lit("video/mp4").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("doc_id") % 5 + 1) * 1000).cast("int").alias(
                "duration_ms"
            ),
        ).alias("meta"),
    )
    decoded = decode_media(img, fake=True, feature_dim=8).select(
        F.lit("decode").alias("stage"),
        "doc_id",
        "media_ref",
        F.col("sha256").alias("payload"),
    )
    resized = resize_images(img, 64, 64).select(
        F.lit("resize").alias("stage"),
        "doc_id",
        "media_ref",
        F.concat(
            F.col("meta.mime"), F.lit(":"),
            F.col("meta.width").cast("string"), F.lit("x"),
            F.col("meta.height").cast("string"), F.lit(":"),
            F.length("content").cast("string"),
        ).alias("payload"),
    )
    frames = frame_sample(vid, every_ms=500, fake=True).select(
        F.lit("frames").alias("stage"),
        "doc_id",
        "media_ref",
        F.col("frame_ms").cast("string").alias("payload"),
    )
    return decoded.unionByName(resized).unionByName(frames)


def q_serialize_typed(spark, sf_dir):
    """Z1 typed serializer as a distributed operator: extract spans from
    constructed HTML, serialize back, return the reconstructed HTML.
    Inputs are canonical-by-construction (single-word columns), so the
    oracle can state the exact typed output string.

    r5 continuation: an md_out column gates the Markdown sibling
    (core/markdown.py::serialize_markdown — the LLM-training export
    format) over the same spans; the oracle states the exact GFM
    string (heading, list items, paragraph) from the construction."""
    import pandas as pd
    from html_to_document_spark.core.extract import ExtractOptions, extract_document
    from html_to_document_spark.core.markdown import serialize_markdown
    from html_to_document_spark.core.serializer import serialize_spans

    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("<h2>"), F.col("lang"), F.lit("</h2><ul><li>"),
            F.col("source"), F.lit("</li><li>x</li></ul><p>"),
            F.col("lang"), F.lit(" tail</p>"),
        ).alias("html"),
    )

    opts = ExtractOptions(with_meta=True)

    def fn(batches):
        for pdf in batches:
            spans = [extract_document(h, opts) for h in pdf["html"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "html_out": [serialize_spans(s) for s in spans],
                    "md_out": [serialize_markdown(s) for s in spans],
                }
            )

    return d.mapInPandas(fn, "doc_id long, html_out string, md_out string")


def q_training_pipeline(spark, sf_dir):
    """Composed pipeline gated END-TO-END (VERDICT r5 #5 — the row
    moves from rows-only to a value oracle): a planted corpus derived
    from the documents table runs the REAL
    ``build_training_pipeline`` (HTML extraction -> lang/quality
    filter -> exact dedup -> MinHash-LSH near-dup removal), and the
    surviving (doc_id, lang_pred, quality) set plus per-stage counts
    must equal a DuckDB composition of the already-oracled stage
    semantics. Plant: every doc_id%5==0 doc, grouped by g=doc_id//20;
    roles 0 and 5 share IDENTICAL text (exact dedup drops 5), role 10
    is the same 10-word phrase repeated 6x instead of 4x — a
    different string with the IDENTICAL 3-gram shingle SET, so its
    MinHash signature equals role 0's and the LSH pair surfaces with
    probability 1 (est=1.0, the sketch's provable band; the same
    determinism argument as dedup_simhash) — and role 15 is a
    doc-salted independent survivor. Every 3-gram contains a
    group-salt token, so cross-group Jaccard is exactly 0 and no
    other pair can reach the 0.85 threshold. Counts rows: doc_id=-1
    carries the exact-dedup survivor count, -2 the final count."""
    from html_to_document_spark.plans.pipeline import build_training_pipeline

    g = F.expr("doc_id div 20").cast("string")
    u = F.col("doc_id").cast("string")

    def _phrase(tok):
        return F.concat(
            F.lit("the "), tok, F.lit("x0 and "), tok, F.lit("x1 of "),
            tok, F.lit("x2 to "), tok, F.lit("x3 is "), tok, F.lit("x4 "),
        )

    phrase = _phrase(F.concat(F.lit("g"), g))
    uphrase = _phrase(F.concat(F.lit("u"), u))
    r = F.col("doc_id") % 20
    text = (
        F.when(r.isin(0, 5), F.rtrim(F.repeat(phrase, 4)))
        .when(r == 10, F.rtrim(F.repeat(phrase, 6)))
        .otherwise(F.rtrim(F.repeat(uphrase, 3)))
    )
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 5 == 0)
        .select(
            "doc_id",
            F.concat(F.lit("<p>"), text, F.lit("</p>")).alias("html"),
        )
    )
    reg: list = []
    out = build_training_pipeline(
        docs,
        html_col="html",
        num_partitions=8,
        min_quality=0.0,
        cache_registry=reg,
    )
    final = out.select("doc_id", "lang_pred", "quality")
    # stage counts branch off the PERSISTED post-exact-dedup corpus
    # (reg[0]) — zero extra extraction passes; both are bounded
    # driver-side reads
    n_exact = reg[0].count()
    n_final = final.count()
    # release the build's persisted corpus frame once counted — a
    # gate session runs ~49 more rows and must not
    # carry stale cached blocks (review r5); the driver's later
    # collect replays the (tiny planted) lineage deterministically
    from html_to_document_spark.plans.pipeline import release_caches

    release_caches(reg)
    from html_to_document_spark.operators.parallelism import literal_frame

    counts = literal_frame(
        spark,
        [(-1, "n_exact", float(n_exact)), (-2, "n_final", float(n_final))],
        "doc_id long, lang_pred string, quality double",
    )
    return final.unionByName(counts)


# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full interleaved extraction over sf0.001 documents."""
    sf_dir = "/root/testdata/sf0.001"
    html = F.concat(
        F.lit("<h1>"), F.col("source"), F.lit("</h1>"),
        F.lit('<nav><a href="/x">menu</a></nav>'),
        F.lit("<p>"), F.col("text"), F.lit("</p>"),
        F.lit('<img src="media://'), F.col("doc_id").cast("string"), F.lit('">'),
    )
    df = _with_html(_docs(spark, sf_dir), html)
    return extract_spans_from_html(df)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # extraction operator family (SURVEY §2.2-2.5)
        "extract_paragraph": q_extract_paragraph,
        "extract_multi_block": q_extract_multi_block,
        "extract_table_linearize": q_extract_table_linearize,
        "extract_list_items": q_extract_list_items,
        # breaks + caption_side + pages merged r4-cont (same span
        # schema, fixture-tagged union; all three still oracle-gated)
        # to free slots for lm_perplexity + bloom_incremental under
        # the driver's 50-row cap
        "extract_structures": q_extract_structures,
        "extract_boilerplate": q_extract_boilerplate,
        "extract_text_density": q_extract_text_density,
        "extract_meta": q_extract_meta,
        "extract_sharded": q_extract_sharded,
        "extract_table_sections": q_extract_table_sections,
        "minify_normalize": q_minify_normalize,
        "style_normalize": q_style_normalize,
        # serializer (Z1) + multimodal plumbing: placed mid-list — the
        # driver gate caps at 50 queries and r3 lost the last two rows
        "serialize_typed": q_serialize_typed,
        "multimodal_pipeline": q_multimodal_pipeline,
        "training_pipeline": q_training_pipeline,
        # text analysis
        # token_stats + fingerprint merged r4 (same-table projections,
        # identical values gated) to admit substring_dedup_ranges
        "token_fingerprint": q_token_fingerprint,
        # lang_id + quality_score merged r4-cont (same-table per-doc
        # projections, doc_id join gates identical values) to admit
        # dsir_weight under the 50-row cap
        "lang_quality": q_lang_quality,
        "lm_perplexity": q_lm_perplexity,
        "dsir_weight": q_dsir_weight,
        "substring_dedup_ranges": q_substring_dedup_ranges,
        # repetition_stats + top_ngram_stats merged r5 (same-table
        # per-doc projections, doc_id join gates identical values) to
        # free a slot for token_windows under the 50-row cap
        "rep_topgram_stats": q_rep_topgram_stats,
        "corpus_stats": q_corpus_stats,
        "token_windows": q_token_windows,
        # dedup
        "dedup_exact_groups": q_dedup_exact_groups,
        "bloom_incremental": q_bloom_incremental,
        "url_filter_blocked": q_url_filter_blocked,
        "gopher_repetition": q_gopher_repetition,
        "dedup_minhash_pairs": q_dedup_minhash_pairs,
        "dedup_simhash": q_dedup_simhash,
        "dedup_clusters": q_dedup_clusters,
        # similarity
        "ann_cosine_topk": q_ann_cosine_topk,
        # lsh + ivf merged r4-cont (identical schema, both rows-only,
        # both still run) to free a slot for interleaved_stats
        "ann_approx_topk": q_ann_approx_topk,
        # embedding_near_dup merged into ann_approx_topk r4-cont (both
        # rows-only, no oracle lost) to admit the ORACLE-gated
        # semantic_dedup row — a strict upgrade of the checked surface
        "semantic_dedup": q_semantic_dedup,
        # interleaved text+media curation (OBELICS/MMC4-style)
        "interleaved_stats": q_interleaved_stats,
        # pdf_extract replaced embedding_norms in the 50-row gate (r4):
        # the norm is a sub-expression of ann_cosine_topk's oracle-
        # gated cosine, so it gated nothing new; the PDF path is a
        # whole operator family (core/pdf.py) that was pytest-only
        "pdf_extract": q_pdf_extract,
        # relational / scale patterns
        "pricing_summary": q_pricing_summary,
        "revenue_by_nation": q_revenue_by_nation,
        "top_events_per_user": q_top_events_per_user,
        "sessionize_events": q_sessionize_events,
        "lineage_counts": q_lineage_counts,
        "windowed_counts": q_windowed_counts,
        "media_catalog": q_media_catalog,
        "bm25_topk": q_bm25_topk,
        # corpus hygiene
        "jaccard_verify": q_jaccard_verify,
        "dedup_exact_normalized": q_dedup_exact_normalized,
        "paragraph_dedup": q_paragraph_dedup,
        # merged r4 (both modes, mode column) to free a slot for
        # gopher_rules under the 50-row driver cap
        "decontaminate_modes": q_decontaminate_modes,
        "gopher_rules": q_gopher_rules,
        "pii_scrub": q_pii_scrub,
        "resume_antijoin": q_resume_antijoin,
    }


def oracle_sql() -> dict[str, str]:
    from html_to_document_spark.operators.mixture import hash_split_sql
    from html_to_document_spark.operators.text_analysis import (
        SCRIPT_CLASSES as _SCRIPT_CLASSES,
    )

    span = (
        "select doc_id, {off} as offset, {kind} as kind, {text} as text, "
        "{ref} as media_ref from documents"
    )
    null_s = "cast(NULL as varchar)"
    return {
        "extract_paragraph": (
            "select doc_id, cast(0 as int) as offset, 'text' as kind, "
            f"text, {null_s} as media_ref from documents"
        ),
        "extract_multi_block": " union all ".join(
            [
                span.format(off="cast(0 as int)", kind="'text'", text="source", ref=null_s),
                span.format(off="cast(1 as int)", kind="'text'", text="text", ref=null_s),
                span.format(
                    off="cast(2 as int)", kind="'image'",
                    text=null_s,
                    ref="'media://' || cast(doc_id as varchar)",
                ),
                span.format(
                    off="cast(3 as int)", kind="'image'",
                    text=null_s,
                    ref="'lazy://' || cast(doc_id as varchar)",
                ),
                span.format(
                    off="cast(4 as int)", kind="'image'",
                    text=null_s,
                    ref="'s://' || cast(doc_id as varchar) || '-b'",
                ),
                span.format(off="cast(5 as int)", kind="'text'", text="''", ref=null_s),
            ]
        ),
        "extract_table_linearize": (
            "select doc_id, cast(0 as int) as offset, 'table' as kind, "
            "lang || chr(9) || source || chr(10) || cast(n_chars as varchar) "
            f"|| chr(9) as text, {null_s} as media_ref from documents"
        ),
        "extract_table_sections": " union all ".join(
            [
                "select doc_id, cast(0 as int) as row_idx, 'thead' as "
                "section, lang || chr(9) || 'hdr' as row_text from documents",
                "select doc_id, cast(1 as int) as row_idx, 'tbody' as "
                "section, source || chr(9) || lang as row_text from documents",
                "select doc_id, cast(2 as int) as row_idx, 'tfoot' as "
                "section, cast(n_chars as varchar) || chr(9) || 'end' as "
                "row_text from documents",
            ]
        ),
        "extract_list_items": " union all ".join(
            [
                span.format(off="cast(0 as int)", kind="'text'",
                            text="lang || ' one'", ref=null_s),
                span.format(off="cast(1 as int)", kind="'text'", text="source",
                            ref=null_s),
            ]
        ),
        "extract_structures": " union all ".join(
            "select doc_id, cast({off} as int) as offset, {kind} as kind, "
            "{text} as text, {ref} as media_ref, '{fx}' as fixture "
            "from documents".format(off=off, kind=kind, text=text, ref=ref,
                                    fx=fx)
            for off, kind, text, ref, fx in [
                # breaks fixture: <br> inside <p> -> newline join
                (0, "'text'", "lang || chr(10) || source", null_s, "breaks"),
                # caption-side bottom: table span first, caption after
                (0, "'table'", "lang", null_s, "caption_side"),
                (1, "'text'", "source", null_s, "caption_side"),
                # page sections: text / pagebreak / text
                (0, "'text'", "lang", null_s, "pages"),
                (1, "'pagebreak'", null_s, null_s, "pages"),
                (2, "'text'", "source", null_s, "pages"),
            ]
        ),
        "extract_boilerplate": (
            # f1 arms: n gold tokens, pred = n+2 ('x y' link div),
            # multiset-min overlap = n exactly — replay the operator's
            # division chain (IEEE-deterministic on integer counts)
            # and the r4 floor rounding
            "select doc_id, cast(0 as int) as offset, 'text' as kind, "
            "text, n + 2 as n_pred, n as n_gold, n as n_overlap, "
            "floor((cast(n as double) / cast(n + 2 as double)) "
            "* 10000 + 0.5) / 10000.0 as precision, "
            "cast(1.0 as double) as recall, "
            "floor((2.0 * (cast(n as double) / cast(n + 2 as double)) "
            "* 1.0 / ((cast(n as double) / cast(n + 2 as double)) "
            "+ 1.0)) * 10000 + 0.5) / 10000.0 as f1 "
            "from (select doc_id, text, cast(len(list_filter("
            "string_split_regex(trim(text), '\\s+'), x -> x <> '')) "
            "as bigint) as n from documents)"
        ),
        "extract_text_density": (
            "select doc_id, cast(0 as int) as offset, 'text' as kind, text "
            "from documents"
        ),
        "extract_meta": " union all ".join(
            [
                "select doc_id, cast(0 as int) as offset, 'text' as kind, "
                "lang as text, 'h2' as tag, '2' as level, "
                "cast(NULL as varchar) as href, "
                "cast(NULL as varchar) as caption, "
                "cast(NULL as varchar) as caption_source from documents",
                "select doc_id, cast(1 as int) as offset, 'text' as kind, "
                "source as text, 'li' as tag, '0' as level, "
                "cast(NULL as varchar) as href, "
                "cast(NULL as varchar) as caption, "
                "cast(NULL as varchar) as caption_source from documents",
                "select doc_id, cast(2 as int) as offset, 'text' as kind, "
                "'go on' as text, 'p' as tag, cast(NULL as varchar) as level, "
                "'/' || cast(doc_id as varchar) as href, "
                "cast(NULL as varchar) as caption, "
                "cast(NULL as varchar) as caption_source from documents",
                # r5c12 figure plant: image + figcaption-below pair,
                # alt image, bare image
                "select doc_id, cast(3 as int) as offset, 'image' as kind, "
                "cast(NULL as varchar) as text, 'img' as tag, "
                "cast(NULL as varchar) as level, "
                "cast(NULL as varchar) as href, "
                "'cap ' || cast(doc_id as varchar) as caption, "
                "'figcaption_after' as caption_source from documents",
                "select doc_id, cast(4 as int) as offset, 'text' as kind, "
                "'cap ' || cast(doc_id as varchar) as text, "
                "'figcaption' as tag, cast(NULL as varchar) as level, "
                "cast(NULL as varchar) as href, "
                "cast(NULL as varchar) as caption, "
                "cast(NULL as varchar) as caption_source from documents",
                "select doc_id, cast(5 as int) as offset, 'image' as kind, "
                "cast(NULL as varchar) as text, 'img' as tag, "
                "cast(NULL as varchar) as level, "
                "cast(NULL as varchar) as href, "
                "'A-' || cast(doc_id as varchar) as caption, "
                "'alt' as caption_source from documents",
                "select doc_id, cast(6 as int) as offset, 'image' as kind, "
                "cast(NULL as varchar) as text, 'img' as tag, "
                "cast(NULL as varchar) as level, "
                "cast(NULL as varchar) as href, "
                "cast(NULL as varchar) as caption, "
                "'none' as caption_source from documents",
            ]
        ),
        "extract_sharded": " union all ".join(
            [
                span.format(off="cast(0 as int)", kind="'text'", text="source",
                            ref=null_s),
                span.format(off="cast(1 as int)", kind="'text'", text="text",
                            ref=null_s),
                span.format(
                    off="cast(2 as int)", kind="'image'", text=null_s,
                    ref="'media://' || cast(doc_id as varchar)",
                ),
                span.format(off="cast(3 as int)", kind="'text'", text="''",
                            ref=null_s),
            ]
        ),
        "minify_normalize": (
            "select doc_id, '<div>' || text || '</div>' as minified "
            "from documents"
        ),
        "style_normalize": (
            """select doc_id, 'border-bottom-color=663399;border-bottom-style=solid;border-bottom-width=2px;border-left-color=663399;border-left-style=solid;border-left-width=2px;border-right-color=663399;border-right-style=solid;border-right-width=2px;border-top-color=663399;border-top-style=solid;border-top-width=2px;color=FF6347;margin-bottom=' || cast(n_chars % 10 as varchar) || 'px;margin-left=' || cast(n_chars % 10 as varchar) || 'px;margin-right=' || cast(n_chars % 10 as varchar) || 'px;margin-top=' || cast(n_chars % 10 as varchar) || 'px' as normalized, """
            # C11 @page normalization recomputed arm by arm: margins
            # "Nin 2cm" -> top/bottom N*1440 twips, right/left 1134;
            # size variants named A4 (code 9, 210x297mm rounded),
            # letter (code 1, 8.5x11in), explicit 8.5in 11in, and
            # A4+landscape orientation
            """'margin_bottom=' || cast((n_chars % 10) * 1440 as varchar)
            || ';margin_left=1134;margin_right=1134;margin_top='
            || cast((n_chars % 10) * 1440 as varchar)
            || case doc_id % 4
               when 0 then ';size_code=9;size_height=16838;size_kind=code;size_width=11906'
               when 1 then ';size_code=1;size_height=15840;size_kind=code;size_width=12240'
               when 2 then ';size_height=15840;size_kind=explicit;size_width=12240'
               else ';orientation=landscape;size_code=9;size_height=16838;size_kind=code;size_width=11906'
               end as page_setup from documents"""
        ),
        "token_fingerprint": (
            "with t as (select doc_id, length(text) as n_chars_measured, "
            "len(string_split_regex(trim(text), '\\s+')) as n_tokens_ws, "
            "len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) "
            "as n_tokens_bpe, "
            "floor(length(regexp_replace(text, '\\s+', '', 'g')) * 1.0 / "
            "len(string_split_regex(trim(text), '\\s+')) * 10000 + 0.5) / 10000.0 "
            "as avg_token_len "
            "from documents"
            "), fw as (select doc_id, "
            "string_split_regex(trim(text), '\\s+') as l from documents"
            "), f as (select doc_id, "
            "cast(list_sum(list_transform(range(1, len(l) + 1), "
            "i -> i * (ascii(l[i][1]) * 31 + length(l[i])))) "
            f"% {FINGERPRINT_MOD} as bigint) as fp from fw"
            # link_stats merged in (r5-cont): doc text contains no
            # href= patterns, so the constructed page has exactly 3
            # links: 2 duplicate relative + 1 absolute
            # readability merged in (r5-cont): 3-sentence variant;
            # the flesch formula replays Spark's exact double order
            # (206.835 - 1.015*(w/s)) - 84.6*(y/w)
            "), rd as (select doc_id, text || '. ' || source || "
            "' tail words here! done' as rt from documents"
            "), rda as (select doc_id, "
            "cast(greatest(len(list_filter(string_split_regex(rt, "
            "'[.!?]+'), s -> trim(s) <> '')), 1) as bigint) "
            "as n_sentences, "
            "cast(len(regexp_extract_all(lower(rt), '[aeiouy]+')) "
            "as bigint) as n_syllables, "
            "greatest(len(string_split_regex(trim(rt), '\\s+')), 1) as w "
            "from rd"
            # script_profile merged in (r5-cont): the IDENTICAL
            # literal-codepoint char classes replayed in RE2
            "), sp as (select doc_id, text || case "
            f"when doc_id % 4 = 0 then ' {_SCRIPT_CYR}' "
            f"when doc_id % 4 = 1 then ' {_SCRIPT_CJK}' "
            f"when doc_id % 4 = 2 then ' {_SCRIPT_ARA}' "
            "else '' end as st from documents"
            "), spa as (select doc_id, "
            "length(regexp_replace(st, '\\s+', '', 'g')) "
            "as n_script_chars, "
            + ", ".join(
                f"length(st) - length(regexp_replace(st, "
                f"'{_SCRIPT_CLASSES[s]}', '', 'g')) as n_{s}"
                for s in ("latin", "cyrillic", "greek", "arabic", "cjk")
            )
            + " from sp"
            "), spb as (select doc_id, n_script_chars, n_latin, "
            "n_cyrillic, n_arabic, n_cjk, "
            "floor(n_cyrillic * 1.0 / greatest(n_script_chars, 1) "
            "* 10000 + 0.5) / 10000.0 as cyrillic_frac, "
            "case when greatest(n_latin, n_cyrillic, n_greek, "
            "n_arabic, n_cjk) = 0 then 'other' "
            "when n_latin = greatest(n_latin, n_cyrillic, n_greek, "
            "n_arabic, n_cjk) then 'latin' "
            "when n_cyrillic = greatest(n_latin, n_cyrillic, n_greek, "
            "n_arabic, n_cjk) then 'cyrillic' "
            "when n_greek = greatest(n_latin, n_cyrillic, n_greek, "
            "n_arabic, n_cjk) then 'greek' "
            "when n_arabic = greatest(n_latin, n_cyrillic, n_greek, "
            "n_arabic, n_cjk) then 'arabic' "
            "else 'cjk' end as dominant_script from spa"
            ") select t.*, f.fp, cast(3 as bigint) as n_links, "
            "cast(2 as bigint) as n_unique_links, "
            "cast(1 as bigint) as n_absolute_links, "
            "rda.n_sentences, rda.n_syllables, "
            "floor((206.835 - 1.015 * (rda.w * 1.0 / rda.n_sentences) "
            "- 84.6 * (rda.n_syllables * 1.0 / rda.w)) * 10000 + 0.5) "
            "/ 10000.0 as flesch, "
            "spb.n_script_chars, spb.n_latin, spb.n_cyrillic, "
            "spb.n_arabic, spb.n_cjk, spb.cyrillic_frac, "
            "spb.dominant_script "
            "from t join f using (doc_id) join rda using (doc_id) "
            "join spb using (doc_id)"
        ),
        "substring_dedup_ranges": (
            "with v as (select doc_id, case when doc_id % 4 = 1 or "
            "doc_id % 4 = 3 then text || ' "
            + " ".join(f"shb{i}" for i in range(30))
            + "' else text end as text from documents"
            "), w as (select doc_id, "
            "string_split_regex(trim(text), '\\s+') as words from v"
            "), o as (select doc_id, cast(occ.pos as int) as pos, "
            "occ.gram as gram from ("
            "  select doc_id, unnest(list_transform("
            "range(0, len(words) - 20 + 1), i -> struct_pack(pos := i, "
            "gram := array_to_string(words[i+1 : i+20], ' ')))) as occ "
            "from w where len(words) >= 20)"
            "), k as (select gram, count(*) as c, "
            "min(struct_pack(doc_id := doc_id, pos := pos)) as keep "
            "from o group by gram"
            # r5-cont9 arms: dup_gram_stats recomputed from raw grams —
            # distinct docs per gram, then per-doc window / cross-doc
            # dup-window counts and the exact-integer-division fraction
            "), nd as (select gram, count(distinct doc_id) as ndocs "
            "from o group by gram"
            "), pd as (select o.doc_id, "
            "cast(count(*) as bigint) as n_windows, "
            "cast(sum(case when nd.ndocs >= 2 then 1 else 0 end) "
            "as bigint) as n_dup_windows "
            "from o join nd using (gram) group by o.doc_id"
            ") select o.doc_id, o.pos, pd.n_windows, pd.n_dup_windows, "
            "cast(pd.n_dup_windows as double) / "
            "cast(pd.n_windows as double) as dup_frac "
            "from o join k using (gram) join pd on o.doc_id = pd.doc_id "
            "where k.c > 1 and not (o.doc_id = k.keep.doc_id "
            "and o.pos = k.keep.pos)"
        ),
        "lang_quality": (
            # temp_keep_frac (r5-cont): XLM-R temperature sampling at
            # alpha=0.5 over the lang column — the W-free algebraic
            # form (min_j n_j^.5 / n_k^.5) needs no order-sensitive
            # sum; both engines hit the same libm pow
            # keep_sample (r5-cont, stratified_sample): the naive
            # exact-k-per-stratum formulation the operator must equal
            # page_meta (r5-cont): identical synthesized html +
            # identical regex strings recomputed in DuckDB; the
            # mismatch flag mirrors lang_mismatch_col's
            # absence-never-flags semantics against lang_pred
            "select o.*, pm.page_title, pm.meta_description, "
            "pm.og_title, pm.og_image, pm.published_date, "
            "pm.declared_lang, "
            "case when pm.declared_lang is not null "
            "and o.lang_pred is not null "
            "then pm.declared_lang <> o.lang_pred "
            "else false end as lang_mismatch from ("
            "select lqq3.*, ks.keep_sample from ("
            "select lqq2.*, tf.temp_keep_frac from ("
            # split_assign (r5-cont): deterministic md5-prefix
            # train/val/test split — the SQL expression is generated
            # from the SAME split_boundaries literals the Spark
            # Column compiles in (operators/mixture.py)
            "select lqq.*, "
            + hash_split_sql(
                "doc_id",
                [("train", 0.8), ("val", 0.1), ("test", 0.1)],
                "s5",
            )
            + " as split_assign, "
            "sum(n_chars_measured) over (order by quality desc, doc_id) "
            "<= (select cast(floor(0.4 * sum(length(text))) as bigint) "
            "from documents) as keep_budget from ("
            "select * from ("
            "with s as (select doc_id, "
            "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) as score_en, "
            "len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los)\\b')) as score_es, "
            "len(regexp_extract_all(lower(text), '\\b(le|la|les|et|des)\\b')) as score_fr, "
            "len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) as score_de "
            "from documents) "
            "select doc_id, score_en, score_es, score_fr, score_de, "
            "case when greatest(score_en, score_es, score_fr, score_de) = 0 "
            "then 'und' "
            "when score_en = greatest(score_en, score_es, score_fr, score_de) then 'en' "
            "when score_es = greatest(score_en, score_es, score_fr, score_de) then 'es' "
            "when score_fr = greatest(score_en, score_es, score_fr, score_de) then 'fr' "
            "else 'de' end as lang_pred from s"
            ") lq join ("
            "with s as (select doc_id, length(text) as n_chars_measured, "
            "len(string_split_regex(trim(text), '\\s+')) as n_words, "
            "len(regexp_extract_all(text, '[^\\w\\s]')) as n_punct, "
            "len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) as n_stop "
            "from documents) "
            ", r as (select doc_id, n_chars_measured, n_words, "
            "floor(n_punct * 1.0 / greatest(n_chars_measured, 1) * 10000 + 0.5) / 10000.0 as punct_ratio, "
            "floor(n_stop * 1.0 / greatest(n_words, 1) * 10000 + 0.5) / 10000.0 as stopword_ratio, "
            "least(n_words / 20.0, 1.0) as len_score from s) "
            "select doc_id, n_chars_measured, n_words, punct_ratio, "
            "stopword_ratio, "
            "floor((0.5 * len_score + 0.3 * least(stopword_ratio * 5, 1.0) "
            "+ 0.2 * (1 - least(punct_ratio * 10, 1.0))) * 10000 + 0.5) "
            "/ 10000.0 as quality from r"
            ") qs using (doc_id)"
            ") lqq"
            ") lqq2 join ("
            "with lc as (select lang, cast(count(*) as double) as n "
            "from documents group by lang) "
            "select d.doc_id, "
            "(select min(pow(n, 0.5)) from lc) / pow(lc.n, 0.5) "
            "as temp_keep_frac "
            "from documents d join lc using (lang)"
            ") tf using (doc_id)"
            ") lqq3 join ("
            "select doc_id, (row_number() over (partition by lang "
            "order by md5('s5c8' || cast(doc_id as varchar)), doc_id) "
            "<= 40) as keep_sample from documents"
            ") ks using (doc_id)"
            ") o join (" + _page_meta_oracle_sql() + ") pm using (doc_id)"
        ),
        # DSIR raw-gram mode (operators/dsir.py): identical planted
        # corpus, target-slice gram counts, <unk> mapping, add-alpha
        # smoothing and sign-symmetric HALF_UP 4-decimal rounding
        # recomputed in pure SQL
        "dsir_weight": (
            # trim AFTER the \s+ collapse (not before): DuckDB trim
            # strips spaces only, so trim-first would keep a leading
            # tab/newline as a '' token — the fit side filters empty
            # tokens (dsir._gram_counts), and the oracle must agree
            "with d as ("
            "  select doc_id, string_split(trim(regexp_replace("
            "    text || ' tail' || cast(doc_id % 211 as varchar), "
            "    '\\s+', ' ', 'g')), ' ') as w from documents"
            "), tok as ("
            "  select doc_id, g.i as i, w[g.i] as gram"
            "  from d, unnest(generate_series(1, len(w))) as g(i)"
            "), grams as ("
            "  select doc_id, gram from tok"
            "  union all"
            "  select a.doc_id, a.gram || ' ' || b.gram as gram"
            "  from tok a join tok b"
            "    on b.doc_id = a.doc_id and b.i = a.i + 1"
            "), tgt as ("
            "  select gram, count(*) as c from grams"
            "  where doc_id % 7 = 0 group by gram"
            # vocab_cap mirror (review r5): fit_dsir keeps the
            # top-65536 TARGET grams by (count desc, gram asc) before
            # the min_count cut; out-of-cap grams vanish from ct but
            # map to <unk> in cr and scoring. No-op at gate scale.
            "), tgtr as ("
            "  select gram, c, row_number() over "
            "    (order by c desc, gram asc) as rn from tgt"
            "), vocab as (select gram from tgtr "
            "  where c >= 3 and rn <= 65536"
            "), ctm as ("
            "  select case when v.gram is not null then t.gram"
            "    else '<unk>' end as m, cast(sum(t.c) as double) as c"
            "  from tgtr t left join vocab v on v.gram = t.gram "
            "  where t.rn <= 65536 group by 1"
            "), crm as ("
            "  select case when v.gram is not null then g.gram"
            "    else '<unk>' end as m, cast(count(*) as double) as c"
            "  from grams g left join vocab v on v.gram = g.gram group by 1"
            "), stats as ("
            "  select cast((select count(*) from vocab) + 1 as double) as b,"
            "    (select sum(c) from ctm) as nt,"
            "    (select sum(c) from crm) as nr"
            "), gm as ("
            "  select g.doc_id, case when v.gram is not null then g.gram"
            "    else '<unk>' end as m"
            "  from grams g left join vocab v on v.gram = g.gram"
            "), terms as ("
            "  select gm.doc_id,"
            "    ln((coalesce(ct.c, 0) + 0.5) / (0.5 * s.b + s.nt))"
            "    - ln((coalesce(cr.c, 0) + 0.5) / (0.5 * s.b + s.nr)) as lp"
            "  from gm cross join stats s"
            "  left join ctm ct on ct.m = gm.m"
            "  left join crm cr on cr.m = gm.m"
            ") select doc_id, count(*) as n_grams, "
            "case when sum(lp) >= 0 "
            "then floor(sum(lp) * 10000 + 0.5) / 10000 "
            "else -(floor(-sum(lp) * 10000 + 0.5) / 10000) end "
            "as log_weight from terms group by doc_id"
        ),
        # interpolated add-k bigram LM (operators/lm_filter.py):
        # identical planted corpus, counts, probabilities, and HALF_UP
        # 4-decimal rounding recomputed in pure SQL. lam literals are
        # written 0.9 / (1 - 0.9) to match python's 1.0 - lam double.
        "lm_perplexity": (
            # trim AFTER the \s+ collapse — same empty-token mirror
            # as the dsir_weight oracle (fit_ngram_lm filters '')
            "with tw as ("
            "  select doc_id, string_split(trim(regexp_replace("
            "    text || ' tail' || cast(doc_id % 211 as varchar), "
            "    '\\s+', ' ', 'g')), ' ') as w from documents"
            "), tok as ("
            "  select doc_id, g.i as i, w[g.i] as word"
            "  from tw, unnest(generate_series(1, len(w))) as g(i)"
            "), uni as ("
            "  select word, count(*) as c from tok group by word"
            # vocab_cap mirror (review r5): fit_ngram_lm keeps the
            # top-65536 words by (count desc, word asc) BEFORE the
            # min_count cut; out-of-cap words vanish from the unigram
            # counts but map to <unk> on the bigram side. A no-op on
            # the gate corpus (vocab << cap), exact at any scale.
            "), unir as ("
            "  select word, c, row_number() over "
            "    (order by c desc, word asc) as rn from uni"
            "), tokm as ("
            "  select t.doc_id, t.i, case when u.c >= 3 "
            "    and u.rn <= 65536 then t.word "
            "    else '<unk>' end as mw, u.rn <= 65536 as incap"
            "  from tok t join unir u on u.word = t.word"
            "), c1m as ("
            "  select mw, count(*) as c from tokm where incap group by mw"
            "), stats as ("
            "  select cast(sum(c) as double) as n, "
            "    cast(count(*) as double) as v from c1m"
            "), big as ("
            "  select a.mw as w1, b.mw as w2, count(*) as c"
            "  from tokm a join tokm b "
            "    on b.doc_id = a.doc_id and b.i = a.i + 1"
            "  group by a.mw, b.mw"
            "), hist as ("
            "  select w1, cast(sum(c) as double) as h from big group by w1"
            "), terms as ("
            "  select t.doc_id,"
            "    case when t.i = 1"
            "      then ln((c1.c + 0.5) / (s.n + 0.5 * (s.v + 1)))"
            "      else ln(0.9 * (coalesce(bg.c, 0) + 0.5)"
            "              / (coalesce(ht.h, 0) + 0.5 * (s.v + 1))"
            "              + (1 - 0.9) * (c1.c + 0.5)"
            "              / (s.n + 0.5 * (s.v + 1))) end as lp"
            "  from tokm t"
            "  cross join stats s"
            "  join c1m c1 on c1.mw = t.mw"
            "  left join tokm p on p.doc_id = t.doc_id and p.i = t.i - 1"
            "  left join big bg on bg.w1 = p.mw and bg.w2 = t.mw"
            "  left join hist ht on ht.w1 = p.mw"
            "), scored as ("
            "  select doc_id, count(*) as n_tokens, "
            "  floor(exp(-sum(lp) / count(*)) * 10000 + 0.5) / 10000 as ppl "
            "  from terms group by doc_id"
            # CCNet bucketing mirror (r5-cont): thresholds = ppl at
            # ranks ceil(n/3), ceil(2n/3) of the doc_id%5==0 slice
            # under (ppl, doc_id) order — the same integer-rank
            # statistic fit_ppl_thresholds collects, no quantile
            # interpolation in the contract
            "), slice as ("
            "  select ppl, row_number() over "
            "    (order by ppl asc, doc_id asc) as rn "
            "  from scored where doc_id % 5 = 0 and ppl is not null"
            "), thr as ("
            "  select "
            "  max(case when rn = (select (1 * count(*) + 2) // 3 "
            "    from slice) then ppl end) as t1, "
            "  max(case when rn = (select (2 * count(*) + 2) // 3 "
            "    from slice) then ppl end) as t2 from slice"
            ") select scored.*, "
            "case when ppl is null then null "
            "when ppl <= t1 then 'head' "
            "when ppl <= t2 then 'middle' "
            "else 'tail' end as ppl_bucket "
            "from scored, thr"
        ),
        # bloom output == exact anti-join at this sizing (FP ~1e-21
        # per probe; deterministic — see q_bloom_incremental)
        "bloom_incremental": (
            "with hist as ("
            "  select distinct 'tpl-' || cast(doc_id % 13 as varchar) "
            "    as text from documents where doc_id % 7 = 0"
            "), nw as ("
            "  select doc_id, case when doc_id % 5 = 0 "
            "    then 'tpl-' || cast(doc_id % 13 as varchar) "
            "    else text end as text "
            "  from documents where doc_id % 7 <> 0"
            ") select 'bloom' as arm, n.doc_id, n.text from nw n "
            "where not exists (select 1 from hist h where h.text = n.text) "
            # near arm (r5-cont): ground truth straight from the
            # construction — planted 6x-phrase rows (doc_id%4==0) are
            # provable matches of their 4x history twin (identical
            # shingle set -> est=1.0, exact-verified jaccard=1.0);
            # every other new doc shares zero shingles with the
            # salted history phrases
            "union all "
            "select 'near' as arm, doc_id, "
            "text || ' uniq' || cast(doc_id as varchar) as text "
            "from documents where doc_id % 7 <> 0 and doc_id % 4 <> 0"
            # novelty arm: counts straight from the plant arithmetic
            # (%9==0 exact, else %4==0 near, else novel; grouped by %3)
            "union all "
            "select 'novelty' as arm, g as doc_id, "
            "'new=' || cast(n_new as varchar) || "
            "';exact=' || cast(n_exact as varchar) || "
            "';near=' || cast(n_near as varchar) || "
            "';novel=' || cast(n_novel as varchar) as text from ("
            "select doc_id % 3 as g, count(*) as n_new, "
            "sum(case when doc_id % 9 = 0 then 1 else 0 end) as n_exact, "
            "sum(case when doc_id % 9 <> 0 and doc_id % 4 = 0 "
            "then 1 else 0 end) as n_near, "
            "sum(case when doc_id % 9 <> 0 and doc_id % 4 <> 0 "
            "then 1 else 0 end) as n_novel "
            "from documents where doc_id % 7 <> 0 group by 1)"
        ),
        "rep_topgram_stats": (
            # r5-cont9 outer wrap: tf-idf keyword arm — smooth-idf
            # (ln((N+1)/(df+1)) + 1) * tf recomputed from the plain
            # documents text at min_word_len=4, max_df_frac=0.3; the
            # per-doc fold is the rank-ordered comma-join of the top-3
            # terms plus the top-1 r4 score, '' / 0.0 when every term
            # was corpus-stopword-pruned
            "select * replace (coalesce(kw_top, '') as kw_top, "
            "coalesce(kw_score, cast(0.0 as double)) as kw_score) from ("
            "select * from ("
            "with d as (select doc_id, text || chr(10) || source || chr(10) "
            "|| source || chr(10) || 'unique-' || cast(doc_id as varchar) "
            "as text from documents), "
            "l as (select doc_id, unnest(string_split(text, chr(10))) as line "
            "from d), "
            "f as (select doc_id, line from l where trim(line) <> ''), "
            "p as (select doc_id, line, count(*) as n, length(line) as len "
            "from f group by doc_id, line) "
            "select doc_id, cast(sum(n) as bigint) as n_lines, "
            "count(*) as n_distinct_lines, "
            "floor((1 - count(*) * 1.0 / sum(n)) * 10000 + 0.5) / 10000.0 "
            "as dup_line_frac, "
            "floor(sum(case when n > 1 then n * len else 0 end) * 1.0 "
            "/ sum(n * len) * 10000 + 0.5) / 10000.0 as dup_line_char_frac, "
            "cast(max(len) as bigint) as max_line_len "
            "from p group by doc_id"
            ") rep join ("
            "with w as (select doc_id, length(text) as chars, "
            "string_split_regex(trim(text), '\\s+') as l from documents), "
            "g as (select doc_id, chars, list_transform("
            "range(1, greatest(len(l) - 1, 1) + 1), "
            "i -> array_to_string(l[i:least(i + 1, len(l))], ' ')) as gs "
            "from w), "
            "e as (select doc_id, chars, unnest(gs) as g from g), "
            "c as (select doc_id, chars, g, count(*) as cnt from e "
            "group by doc_id, chars, g), "
            "r as (select *, row_number() over (partition by doc_id "
            "order by cnt desc, g asc) as rn from c) "
            "select doc_id, g as top_gram, cast(cnt as bigint) "
            "as top_gram_count, "
            "floor(cnt * length(g) * 1.0 / greatest(chars, 1) * 10000 + 0.5) "
            "/ 10000.0 as top_gram_char_frac from r where rn = 1"
            ") tg using (doc_id) join ("
            # shuffle_shard mirror: the NAIVE global-window
            # formulation the histogram algorithm must equal; shard
            # case generated from the same split_boundaries literals
            "select doc_id, cast("
            + hash_split_sql(
                "doc_id", [(str(i), 1.0) for i in range(4)], "s5r5"
            )
            + " as int) as shard, "
            "cast(row_number() over (partition by cast("
            + hash_split_sql(
                "doc_id", [(str(i), 1.0) for i in range(4)], "s5r5"
            )
            + " as int) order by md5('s5r5' || cast(doc_id as varchar)),"
            " doc_id) - 1 as bigint) as shard_pos from documents"
            ") sh using (doc_id) left join ("
            "with tk as (select doc_id, unnest(list_filter("
            "string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '' and len(x) >= 4)) as term from documents), "
            "tfq as (select doc_id, term, count(*) as tf from tk "
            "group by doc_id, term), "
            "nn as (select cast(count(*) as double) as n from documents), "
            "dfq as (select term, cast(count(*) as double) as dfv "
            "from tfq group by term), "
            "sc as (select tfq.doc_id, tfq.term, "
            "floor((ln((n + 1.0) / (dfv + 1.0)) + 1.0) "
            "* cast(tf as double) * 10000 + 0.5) / 10000.0 as score "
            "from tfq join dfq using (term) cross join nn "
            "where dfv / n <= cast(0.3 as double)), "
            "rk as (select doc_id, term, score, row_number() over ("
            "partition by doc_id order by score desc, term asc) as rnk "
            "from sc) "
            "select doc_id, string_agg(term, ',' order by rnk) as kw_top, "
            "max(case when rnk = 1 then score end) as kw_score "
            "from rk where rnk <= 3 group by doc_id"
            ") kw using (doc_id))"
        ),
        # context-window chunker (r5, packing.chunk_token_windows):
        # the oracle re-slices the filtered token list at the same
        # 0, stride, 2*stride... starts
        "token_windows": (
            "with d as (select doc_id, list_filter("
            "string_split_regex(trim(text), '\\s+'), w -> w <> '') as w "
            "from documents), "
            "c as (select doc_id, w, len(w) as n from d where len(w) > 0), "
            "idx as (select doc_id, w, n, unnest(generate_series(0, "
            "cast(ceil(greatest(n - 40, 0) / 30.0) as bigint))) as k "
            "from c) "
            "select 'stride' as mode, doc_id, cast(k as int) as chunk_id, "
            "cast(least(40, n - k * 30) as int) as n_tokens, "
            "array_to_string(list_slice(w, k * 30 + 1, "
            "least(k * 30 + 40, n)), ' ') as chunk, "
            # stride-overlap loss mask: chunk 0 masks nothing; later
            # chunks mask min(window - stride, n_tokens) repeated head
            # tokens, so n_loss_tokens sums to n per document
            "cast(case when k = 0 then 0 "
            "else least(10, n - k * 30) end as int) as loss_start, "
            "cast(least(40, n - k * 30) - case when k = 0 then 0 "
            "else least(10, n - k * 30) end as int) as n_loss_tokens "
            "from idx"
            " union all "
            # sentence arm (r5 cont): chunks of the uniform-sentence
            # plant are pure arithmetic — chunk j packs sentences 2j
            # and 2j+1 (when it exists), 5 tokens each
            "select 'sentence' as mode, doc_id, cast(j as int) as "
            "chunk_id, cast(case when 2 * j + 1 < k then 10 else 5 end "
            "as int) as n_tokens, "
            "'s' || cast(2 * j as varchar) || ' alpha beta gamma delta.'"
            " || case when 2 * j + 1 < k then ' s' || "
            "cast(2 * j + 1 as varchar) || ' alpha beta gamma delta.' "
            "else '' end as chunk, "
            "cast(-1 as int) as loss_start, cast(-1 as int) as "
            "n_loss_tokens from ("
            "select doc_id, cast(doc_id % 5 + 6 as int) as k "
            "from documents) d, "
            "unnest(generate_series(0, (k + 1) // 2 - 1)) as t(j)"
        ),
        "corpus_stats": (
            # r5-cont datasheet columns: whitespace-token totals and
            # the mean heuristic quality — the mean sums EXACT
            # integers (quality*1e4 as bigint, 4-decimal-quantized per
            # doc) so no order-sensitive float summation enters
            "with q as (select lang, text, "
            "len(string_split_regex(trim(text), '\\s+')) as n_words, "
            "cast(round(floor((0.5 * least("
            "len(string_split_regex(trim(text), '\\s+')) / 20.0, 1.0) "
            "+ 0.3 * least(floor(len(regexp_extract_all(lower(text), "
            "'\\b(the|and|of|to|is)\\b')) * 1.0 / greatest("
            "len(string_split_regex(trim(text), '\\s+')), 1) "
            "* 10000 + 0.5) / 10000.0 * 5, 1.0) "
            "+ 0.2 * (1 - least(floor(len(regexp_extract_all(text, "
            "'[^\\w\\s]')) * 1.0 / greatest(length(text), 1) "
            "* 10000 + 0.5) / 10000.0 * 10, 1.0))) "
            "* 10000 + 0.5) / 10000.0 * 10000) as bigint) as q_int "
            "from documents) "
            "select lang, count(*) as n_docs, "
            "cast(sum(length(text)) as bigint) as total_chars, "
            "floor(quantile_cont(length(text), 0.5) * 10000 + 0.5) / 10000.0 "
            "as p50_chars, "
            "floor(quantile_cont(length(text), 0.9) * 10000 + 0.5) / 10000.0 "
            "as p90_chars, "
            "cast(max(length(text)) as bigint) as max_chars, "
            "cast(sum(n_words) as bigint) as total_words, "
            "floor(quantile_cont(n_words, 0.5) * 10000 + 0.5) / 10000.0 "
            "as p50_words, "
            "floor(sum(q_int) / (count(*) * 10000.0) * 10000 + 0.5) "
            "/ 10000.0 as mean_quality "
            "from q group by lang"
        ),
        "dedup_exact_groups": (
            # r5-cont9 arms: w_min/w_max = the SoftDedup alpha=1 weight
            # (1.0/n, FP-exact division — identical per member, so
            # group min = max = it, and a misattached count on ANY
            # member would split them); newest_id = argmax(ts) with
            # ties to the smallest id, ts = doc_id % 97 as planted.
            "with u as (select doc_id, text, doc_id % 97 as ts "
            "from (select doc_id, text from documents "
            "union all select doc_id + 10000000, text from documents)), "
            "m as (select text as mt, max(ts) as mx from u group by text) "
            "select u.text as dup_text, min(u.doc_id) as keeper_id, "
            "count(*) as n_dups, "
            "cast(1.0 as double) / cast(count(*) as double) as w_min, "
            "cast(1.0 as double) / cast(count(*) as double) as w_max, "
            "min(case when u.ts = m.mx then u.doc_id end) as newest_id "
            "from u join m on u.text = m.mt group by u.text"
        ),
        "url_filter_blocked": (
            # ground truth of the URL construction: k in (0,1) hits
            # blockedsite.com exactly or as a subdomain; k=2 is a
            # lookalike suffix host, k=3 a lookalike prefix, k=4 clean.
            # The link-graph arm recomputes the planted host graph
            # (i -> (i+1)%6, (2i+3)%6; self-edges out, duplicates
            # deduped) and unrolls 4 PageRank iterations at damping
            # 7/8 — every value is a dyadic rational by construction,
            # so the doubles are bit-identical to Spark's regardless
            # of either engine's summation order.
            # Outer wrap (r5-cont): head-directive arms — noindex is
            # planted on doc_id%11, the declared canonical (junk
            # params stripped by normalization) on doc_id%7; the
            # mirror-collapse keeper is min-doc_id per canonical key.
            # r5-cont: url_features arms — host label depth / path
            # depth / param count / host digit ratio, each stated
            # from the construction arithmetic (k=4 hosts are
            # 'ok<d>.example.org': one digit of 15 chars -> 0.0667)
            "select c.*, "
            "cast(case when c.doc_id % 5 = 0 then 3 "
            "when c.doc_id % 5 = 2 then 4 "
            "when c.doc_id % 5 = 4 then 3 else 2 end as int) "
            "as url_host_depth, "
            "cast(case when c.doc_id % 5 = 0 then 2 else 1 end as int) "
            "as url_path_depth, "
            "cast(3 as int) as url_n_params, "
            "cast(case when c.doc_id % 5 = 4 then 0.0667 else 0.0 end "
            "as double) as url_digit_ratio, "
            # r5-cont: resolved_href — the RFC 3986 join stated from
            # the construction (host by doc_id%5 lowercased, base dir
            # '/a/' only for k=0, href shape by doc_id%4)
            "case when c.doc_id % 4 = 2 then "
            "'http://cdn.example.net/x/' || cast(c.doc_id as varchar) "
            "when c.doc_id % 4 = 1 then 'http://' || "
            "(case c.doc_id % 5 when 0 then 'www.blockedsite.com' "
            "when 1 then 'blockedsite.com' "
            "when 2 then 'blockedsite.com.evil.net' "
            "when 3 then 'notblockedsite.com' "
            "else 'ok' || cast(c.doc_id % 10 as varchar) "
            "|| '.example.org' end) || '/rooted/' "
            "|| cast(c.doc_id as varchar) "
            "else 'http://' || "
            "(case c.doc_id % 5 when 0 then 'www.blockedsite.com' "
            "when 1 then 'blockedsite.com' "
            "when 2 then 'blockedsite.com.evil.net' "
            "when 3 then 'notblockedsite.com' "
            "else 'ok' || cast(c.doc_id % 10 as varchar) "
            "|| '.example.org' end) || "
            "(case when c.doc_id % 5 = 0 then '/a/' else '/' end) || "
            "(case when c.doc_id % 4 = 0 then 'same/' "
            "else 'sub/page' end) "
            "|| cast(c.doc_id as varchar) || '.html' end "
            "as resolved_href, "
            "row_number() over "
            "(partition by canon_key order by doc_id) = 1 "
            "as keep_canon from ("
            "select b.*, b.doc_id % 11 = 0 as noindex, "
            "case when b.doc_id % 7 = 0 then "
            "'http://canon.example.org/c' "
            "|| cast(b.doc_id % 13 as varchar) || '?b=2' "
            "else b.norm_url end as canon_key from ("
            "with h as ("
            "  select doc_id, doc_id % 5 in (0, 1) as blocked, "
            "    case doc_id % 5 "
            "      when 0 then 'www.blockedsite.com' "
            "      when 1 then 'blockedsite.com' "
            "      when 2 then 'blockedsite.com.evil.net' "
            "      when 3 then 'notblockedsite.com' "
            "      else 'ok' || cast(doc_id % 10 as varchar) "
            "        || '.example.org' end as host, "
            "    case when doc_id % 5 < 4 then doc_id % 5 "
            "      when doc_id % 10 = 4 then 4 else 5 end as idx "
            "  from documents"
            "), hosts as (select distinct idx, host from h"
            "), re as ("
            "  select idx as si, (idx + 1) % 6 as di from hosts "
            "  union "
            "  select idx, (idx * 2 + 3) % 6 from hosts"
            "), edges as ("
            "  select distinct s.host as src, d.host as dst from re "
            "  join hosts s on s.idx = re.si "
            "  join hosts d on d.idx = re.di "
            "  where re.si <> re.di"
            "), deg as ("
            "  select src, cast(count(*) as double) as od "
            "  from edges group by src"
            "), r0 as ("
            "  select host as node, cast(1 as double) as r from hosts"
            "), "
            + ", ".join(
                f"r{i} as (select hh.host as node, "
                f"cast(0.125 as double) + cast(0.875 as double) * "
                f"coalesce(sum(r{i - 1}.r / deg.od), 0) as r "
                f"from hosts hh "
                f"left join edges e on e.dst = hh.host "
                f"left join r{i - 1} on r{i - 1}.node = e.src "
                f"left join deg on deg.src = e.src "
                f"group by hh.host)"
                for i in (1, 2, 3, 4)
            )
            + ", h0 as (select host as node, cast(1 as double) as hv "
            "from hosts), "
            # HITS, 4 unrolled rounds: a_i(v) = sum of h_{i-1} over
            # in-edges, h_i(u) = sum of a_i over out-edges — all
            # whole-number doubles, no FP-order caveat
            + ", ".join(
                f"a{i} as (select hh.host as node, "
                f"coalesce(sum(h{i - 1}.hv), 0) as av from hosts hh "
                f"left join edges e on e.dst = hh.host "
                f"left join h{i - 1} on h{i - 1}.node = e.src "
                f"group by hh.host), "
                f"h{i} as (select hh.host as node, "
                f"coalesce(sum(a{i}.av), 0) as hv from hosts hh "
                f"left join edges e on e.src = hh.host "
                f"left join a{i} on a{i}.node = e.dst "
                f"group by hh.host)"
                for i in (1, 2, 3, 4)
            )
            + ", ind as ("
            "  select dst as node, count(*) as n from edges group by dst"
            # anchor_text_profile mirror: per-DOC link instances (two
            # anchors per doc, self-links and duplicate targets KEPT —
            # the profile counts links, not the deduped edge set),
            # aggregated per target host with (count desc, anchor asc)
            # ordered top/concat. Each host has <= 2 distinct anchors
            # so top_k=2 never truncates.
            "), il as ("
            "  select (idx + 1) % 6 as di, 'first link' as a from h "
            "  union all "
            "  select (idx * 2 + 3) % 6, 'second link' from h"
            "), ac as ("
            "  select di, a, count(*) as n from il group by di, a"
            "), prof as ("
            "  select d.host as node, "
            "    cast(sum(n) as bigint) as anchor_links, "
            "    cast(count(*) as bigint) as anchor_uniq, "
            "    first(a order by n desc, a) as anchor_top, "
            "    string_agg(a, ' | ' order by n desc, a) as anchor_tops "
            "  from ac join hosts d on d.idx = ac.di "
            "  group by d.host"
            ") select h.doc_id, h.blocked, "
            # robots_keep ground truth per planted arm: carve-out on
            # www (ids starting '1' allowed back), total block on
            # blockedsite.com, '*'-group empty disallow on
            # notblockedsite, $-anchored /44 on ok4, no row elsewhere
            "case when h.host = 'www.blockedsite.com' "
            "  then cast(h.doc_id as varchar) like '1%' "
            "when h.host = 'blockedsite.com' then false "
            "when h.host = 'ok4.example.org' then h.doc_id <> 44 "
            "else true end as robots_keep, "
            "row_number() over (partition by h.host order by h.doc_id) "
            "  <= 60 as keep_capped, "
            # canonical URL from the construction's ground truth:
            # scheme/host lowered, fragment + utm param gone, kept
            # params sorted ('a=' < 'z='), path preserved (no
            # trailing slash in the construction)
            "'http://' || h.host || case when h.doc_id % 5 = 0 "
            "  then '/a/' else '/' end || cast(h.doc_id as varchar) "
            "|| '?a=' || cast(h.doc_id % 2 as varchar) "
            "|| '&z=' || cast(h.doc_id % 3 as varchar) as norm_url, "
            "r4.r as pagerank, "
            "coalesce(ind.n, 0) as host_inlinks, "
            "h4.hv as host_hub, a4.av as host_auth, "
            "prof.anchor_links, prof.anchor_uniq, "
            "prof.anchor_top, prof.anchor_tops "
            "from h "
            "left join r4 on r4.node = h.host "
            "left join ind on ind.node = h.host "
            "left join h4 on h4.node = h.host "
            "left join a4 on a4.node = h.host "
            "left join prof on prof.node = h.host"
            ") b) c"
        ),
        "gopher_repetition": (
            "with v as ("
            "  select doc_id, case when doc_id % 3 = 1 then text || "
            "repeat(' repeated segment phrase here now', 20) "
            "else text end as text from documents"
            "), w as ("
            "  select doc_id, length(text) as dc, "
            "string_split_regex(trim(text), '\\s+') as words from v"
            "), g as ("
            # per-n unions: DuckDB's binder hits an internal error on
            # the values+lateral formulation of this same expansion
            + " union all ".join(
                f"select doc_id, dc, {n} as n, "
                f"unnest(list_transform(range(1, len(words) - {n} + 2), "
                f"i -> array_to_string(words[i : i + {n} - 1], ' '))) "
                f"as gram from w where len(words) >= {n}"
                for n in (2, 3, 4, 5, 6, 7, 8, 9, 10)
            )
            + "), cnt as ("
            "  select doc_id, n, gram, max(dc) as dc, count(*) as c, "
            "length(gram) as gl from g group by doc_id, n, gram"
            "), agg as ("
            "  select doc_id, n,"
            # argmax by count, ties by covered chars (struct max —
            # same lexicographic semantics as the Spark expression)
            "    max(struct_pack(c := c, p := c * gl)).p "
            "/ cast(max(dc) as double) as topf,"
            "    least(coalesce(sum(case when c > 1 then c * gl end), 0) "
            "/ cast(max(dc) as double), 1.0) as dupf"
            "  from cnt group by doc_id, n"
            ") select doc_id, "
            + ", ".join(
                f"floor(coalesce(max(case when n={n} then topf end), 0)"
                f" * 10000 + 0.5)/10000 as top_{n}gram_char_frac"
                for n in (2, 3, 4)
            )
            + ", "
            + ", ".join(
                f"floor(coalesce(max(case when n={n} then dupf end), 0)"
                f" * 10000 + 0.5)/10000 as dup_{n}gram_char_frac"
                for n in (5, 6, 7, 8, 9, 10)
            )
            + ", "
            + ", ".join(
                f"coalesce(max(case when n={n} then topf end), 0) <= {t} "
                f"as top_{n}gram_ok"
                for n, t in ((2, 0.20), (3, 0.18), (4, 0.16))
            )
            + ", "
            + ", ".join(
                f"coalesce(max(case when n={n} then dupf end), 0) <= {t} "
                f"as dup_{n}gram_ok"
                for n, t in (
                    (5, 0.15), (6, 0.14), (7, 0.13),
                    (8, 0.12), (9, 0.11), (10, 0.10),
                )
            )
            + ", ("
            + " and ".join(
                [
                    f"coalesce(max(case when n={n} then topf end), 0) <= {t}"
                    for n, t in ((2, 0.20), (3, 0.18), (4, 0.16))
                ]
                + [
                    f"coalesce(max(case when n={n} then dupf end), 0) <= {t}"
                    for n, t in (
                        (5, 0.15), (6, 0.14), (7, 0.13),
                        (8, 0.12), (9, 0.11), (10, 0.10),
                    )
                ]
            )
            + ") as repetition_keep from agg group by doc_id"
        ),
        "ann_cosine_topk": (
            # explicit double left-folds mirroring the Spark expression
            # (dot / (sqrt(na) * sqrt(nb))), then portable floor-rounding
            "with q as (select vec_id as query_id, embedding as qv "
            "from embeddings where vec_id < 5), "
            "scored as (select q.query_id, e.vec_id as candidate_id, "
            "floor(("
            "list_sum(list_transform(range(1, len(q.qv) + 1), "
            "i -> cast(q.qv[i] as double) * cast(e.embedding[i] as double))) "
            "/ (sqrt(list_sum(list_transform(q.qv, "
            "x -> cast(x as double) * cast(x as double)))) "
            "* sqrt(list_sum(list_transform(e.embedding, "
            "x -> cast(x as double) * cast(x as double)))))"
            ") * 10000 + 0.5) / 10000.0 as cosine "
            "from q, embeddings e where e.vec_id <> q.query_id), "
            "ranked as (select query_id, candidate_id, cosine, "
            "row_number() over (partition by query_id "
            "order by cosine desc, candidate_id asc) as rank from scored) "
            "select query_id, rank, candidate_id, cosine from ranked "
            "where rank <= 3"
        ),
        "semantic_dedup": (
            # mirrors q_semantic_dedup exactly: 8 block centroids
            # (1.0 on dims [8j,8j+8)), argmax assignment with ties to
            # the lowest centroid index, r4 floor-rounding everywhere,
            # removal iff a same-cluster row within eps=0.99 has
            # strictly lower (centroid_sim, id)
            "with base as (select vec_id, embedding from embeddings "
            "union all select vec_id + 10000000 as vec_id, embedding "
            "from embeddings), "
            "n as (select vec_id, embedding, "
            "sqrt(list_sum(list_transform(embedding, "
            "x -> cast(x as double) * cast(x as double)))) as nrm from base), "
            "sims as (select vec_id, embedding, nrm, c.j, "
            "floor((list_sum(list_transform(range(1, 9), "
            "i -> cast(embedding[c.j * 8 + i] as double))) "
            "/ (nrm * sqrt(8.0))) * 10000 + 0.5) / 10000.0 as sim "
            "from n, (select unnest(range(0, 8)) as j) c), "
            "assigned as (select vec_id, embedding, nrm, "
            "cast(j as int) as cluster, sim as centroid_sim from "
            "(select *, row_number() over (partition by vec_id "
            "order by sim desc, j asc) as rn from sims) where rn = 1), "
            "removed as (select distinct a.vec_id from assigned a "
            "join assigned b on a.cluster = b.cluster "
            "and a.vec_id <> b.vec_id "
            "where (b.centroid_sim < a.centroid_sim or "
            "(b.centroid_sim = a.centroid_sim and b.vec_id < a.vec_id)) "
            "and floor((list_sum(list_transform("
            "range(1, len(a.embedding) + 1), "
            "i -> cast(a.embedding[i] as double) "
            "* cast(b.embedding[i] as double))) "
            "/ (a.nrm * b.nrm)) * 10000 + 0.5) / 10000.0 >= 0.99) "
            # icp_pos (semantic_order): rank over ALL assigned rows —
            # the subquery forces the window BEFORE the removal filter
            "select vec_id, cluster, centroid_sim, icp_pos from ("
            "select vec_id, cluster, centroid_sim, "
            "row_number() over (partition by cluster "
            "order by centroid_sim desc, vec_id asc) as icp_pos "
            "from assigned) "
            "where vec_id not in (select vec_id from removed)"
        ),
        "pdf_extract": (
            "select d.doc_id, cast(g.i as int) as offset, 'text' as kind, "
            "trim(array_to_string(l.words[g.i*7+1 : least((g.i+1)*7, "
            "len(l.words))], ' ')) as text, cast(NULL as varchar) as "
            "media_ref from documents d, "
            "lateral (select string_split(d.text, ' ') as words) l, "
            "lateral (select unnest(generate_series(0, "
            "cast(ceil(len(l.words)/7.0) as int) - 1)) as i) g"
        ),
        "pricing_summary": (
            "select l_returnflag, l_linestatus, "
            "cast(sum(cast(l_quantity as decimal(18,4))) as double) as sum_qty, "
            "cast(sum(cast(l_extendedprice as decimal(18,4))) as double) as sum_base_price, "
            "cast(sum(cast(l_extendedprice as decimal(18,4)) * "
            "(cast(1 as decimal(18,4)) - cast(l_discount as decimal(18,4)))) "
            "as double) as sum_disc_price, "
            "count(*) as count_order from lineitem "
            "where l_shipdate <= timestamp '1998-09-01' "
            "group by l_returnflag, l_linestatus"
        ),
        "revenue_by_nation": (
            "select n_name, cast(sum(cast(o_totalprice as decimal(18,4))) "
            "as double) as revenue, count(*) as n_orders "
            "from orders join customer on o_custkey = c_custkey "
            "join nation on c_nationkey = n_nationkey group by n_name"
        ),
        "top_events_per_user": (
            "select user_id, rank, event_id, event_type, value from ("
            "select user_id, event_id, event_type, value, "
            "row_number() over (partition by user_id "
            "order by value desc, event_id asc) as rank from events) "
            "where rank <= 3"
        ),
        "sessionize_events": (
            "with g as (select user_id, "
            "case when lag(ts) over w is null "
            "or cast(floor(epoch(ts)) as bigint) - "
            "cast(floor(epoch(lag(ts) over w)) as bigint) > 1800 "
            "then 1 else 0 end as is_new from events "
            "window w as (partition by user_id order by ts, event_id)) "
            "select user_id, cast(sum(is_new) as bigint) as n_sessions, "
            "count(*) as n_events from g group by user_id"
        ),
        "windowed_counts": (
            "select cast(floor(epoch(time_bucket(interval '1 hour', ts))) "
            "as bigint) as window_start, "
            "event_type, count(*) as n_events, "
            "cast(sum(cast(value as decimal(28,10))) as double) as sum_value "
            "from events group by 1, 2"
        ),
        "media_catalog": (
            # decoded_text/enc_used: construction ground truth for the
            # charset-sniff arms — the suffixes and codec names are
            # exactly what the writer plants per doc_id%6
            "with u as ("
            "select doc_id, 'http://sm.example/' "
            "|| cast(doc_id as varchar) || '/a&b' as url from documents "
            "union all select doc_id, 'http://sm.example/' "
            "|| cast(doc_id as varchar) || '/two' from documents"
            "), s as (select doc_id, url, "
            "cast(row_number() over (order by url) - 1 as int) as wave "
            "from u), w as (select doc_id, "
            "max(case when url like '%/a&b' then wave end) as wave_a, "
            "max(case when url like '%/two' then wave end) as wave_two "
            "from s group by doc_id) "
            "select doc_id, media_ref, case "
            "when media_ref like 'http://img/%' then 'png' "
            "when media_ref like 'data:image/jpeg%' then 'jpg' "
            "else NULL end as media_type, "
            "case doc_id % 6 "
            "when 0 then text || ' — déjà vu' "
            "when 1 then text || ' café crème' "
            "when 2 then '<meta charset=shift_jis>' || text || ' 日本語' "
            "when 3 then text || ' café' "
            "when 4 then text || ' ünïcøde' "
            "else text || ' naïve' end as decoded_text, "
            "case doc_id % 6 "
            "when 0 then 'utf-8' when 1 then 'cp1252' "
            "when 2 then 'shift_jis' when 3 then 'cp1252' "
            "when 4 then 'utf-16-le' else 'utf-8' end as enc_used, "
            # sitemap arm: lexical sort puts 'sitemap~' first, then
            # the a&b page (entity-unescaped) before /two
            "'sitemap~http://sm.example/maps/' "
            "|| cast(doc_id % 5 as varchar) || '.xml~-' "
            "|| '|url~http://sm.example/' || cast(doc_id as varchar) "
            "|| '/a&b~2024-03-0' || cast(doc_id % 9 + 1 as varchar) "
            "|| '|url~http://sm.example/' || cast(doc_id as varchar) "
            "|| '/two~-' as sm_entries, "
            # frontier politeness waves: one shared host, so wave =
            # corpus-wide row_number over the URL set in string order
            "w.wave_a, w.wave_two "
            "from ("
            "select doc_id, text, case "
            "when doc_id % 4 = 0 then 'http://img/' || cast(doc_id as varchar) || '.PNG' "
            "when doc_id % 4 = 1 then 'data:image/jpeg;base64,' || source "
            "when doc_id % 4 = 2 then 'files/' || cast(doc_id as varchar) || '.webp' "
            "else 'media://' || cast(doc_id as varchar) end as media_ref "
            "from documents) join w using (doc_id)"
        ),
        "bm25_topk": (
            # BM25 recomputed with the SAME fixed-order double
            # arithmetic as operators/retrieval.py: tf/dl/df/N are
            # exact integers, every float op is left-associated
            # identically, float literals come from the same decimal
            # strings (1.2 + 1.0, 1.0 - 0.75 evaluated at runtime on
            # both engines), ln is the natural log, r4 rounding =
            # floor(x*1e4+0.5)/1e4.
            "with toks as (select doc_id, "
            "list_filter(string_split_regex(lower(text), '\\s+'), "
            "x -> x <> '') as l from documents), "
            "t as (select doc_id, len(l) as dl, "
            "len(list_filter(l, x -> x = 'hash')) as tf0, "
            "len(list_filter(l, x -> x = 'join')) as tf1, "
            "len(list_filter(l, x -> x = 'vector')) as tf2 from toks), "
            "c as (select cast(count(*) as double) as n_docs, "
            "cast(sum(dl) as double) / cast(count(*) as double) as avgdl "
            "from t), "
            "d as (select "
            "cast(sum(case when tf0 > 0 then 1 else 0 end) as double) as df0, "
            "cast(sum(case when tf1 > 0 then 1 else 0 end) as double) as df1, "
            "cast(sum(case when tf2 > 0 then 1 else 0 end) as double) as df2 "
            "from t where tf0 > 0 or tf1 > 0 or tf2 > 0) "
            "select doc_id, "
            "cast((case when tf0 > 0 then 1 else 0 end) "
            "+ (case when tf1 > 0 then 1 else 0 end) "
            "+ (case when tf2 > 0 then 1 else 0 end) as bigint) as n_matched, "
            "floor(("
            "ln(1.0 + (n_docs - df0 + 0.5) / (df0 + 0.5)) "
            "* tf0 * (1.2 + 1.0) "
            "/ (tf0 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) "
            "+ ln(1.0 + (n_docs - df1 + 0.5) / (df1 + 0.5)) "
            "* tf1 * (1.2 + 1.0) "
            "/ (tf1 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl)) "
            "+ ln(1.0 + (n_docs - df2 + 0.5) / (df2 + 0.5)) "
            "* tf2 * (1.2 + 1.0) "
            "/ (tf2 + 1.2 * ((1.0 - 0.75) + 0.75 * dl / avgdl))"
            ") * 10000 + 0.5) / 10000.0 as score "
            "from t, c, d where tf0 > 0 or tf1 > 0 or tf2 > 0 "
            "order by score desc, doc_id asc limit 25"
        ),
        "jaccard_verify": (
            "with w as ("
            "  select doc_id, text, "
            "  list_distinct(regexp_split_to_array(trim(text), '\\s+')) "
            "    as ws from documents"
            "), p as ("
            "  select a.doc_id as id_a, b.doc_id as id_b, a.ws as wa, "
            "  b.ws as wb, a.text as ta, b.text as tb "
            "  from w a join w b on b.doc_id = a.doc_id + 1 "
            "  where a.doc_id % 2 = 0"
            ") select id_a, id_b, "
            "floor((cast(len(list_intersect(wa, wb)) as double) / "
            "cast(len(list_distinct(list_concat(wa, wb))) as double)) "
            "* 10000 + 0.5) / 10000.0 as jaccard, "
            # character-level companion: DuckDB's levenshtein replays
            # Spark's — two independent DP implementations must agree
            "floor((case when greatest(length(ta), length(tb)) = 0 "
            "then 1.0 else 1.0 - cast(levenshtein(ta, tb) as double) / "
            "cast(greatest(length(ta), length(tb)) as double) end) "
            "* 10000 + 0.5) / 10000.0 as edit_sim from p"
        ),
        "dedup_minhash_pairs": (
            # exact all-pairs word-set Jaccard >= 0.9 on the planted
            # corpus: the ground truth the LSH-candidates + exact-verify
            # pipeline must reproduce (sketch recall must be total on
            # this set for the row to pass)
            "with u as ("
            "  select doc_id, text from documents"
            "  union all"
            "  select doc_id + 10000000 as doc_id, text from documents"
            "), w as ("
            "  select doc_id, string_split(regexp_replace(trim(text), "
            "  '\\s+', ' ', 'g'), ' ') as w from u"
            "), sh as ("
            # 3-gram shingles with the same degenerate-doc semantics as
            # word_shingles: a doc under 3 words yields its one partial
            # shingle (greatest(len-2, 1) windows)
            "  select doc_id, list_distinct(list_transform("
            "  generate_series(1, greatest(len(w) - 2, 1)), "
            "  i -> array_to_string(w[i:i+2], ' '))) as s from w"
            "), p as ("
            "  select a.doc_id as id_a, b.doc_id as id_b, "
            "  floor((cast(len(list_intersect(a.s, b.s)) as double) / "
            "  cast(len(list_distinct(list_concat(a.s, b.s))) as double))"
            "  * 10000 + 0.5) / 10000.0 as jaccard "
            "  from sh a join sh b on a.doc_id < b.doc_id"
            ") select id_a, id_b, jaccard from p where jaccard >= 0.9"
        ),
        "dedup_simhash": (
            # ground truth for the simhash sketch's provable recall
            # band: all pairs with IDENTICAL 3-gram shingle sets on
            # the 3-clique planted corpus (threshold 1.0 after r4
            # rounding) — see q_dedup_simhash for why 1.0 and not 0.9
            "with u as ("
            "  select doc_id, text from documents"
            "  union all"
            "  select doc_id + 10000000 as doc_id, text from documents"
            "  union all"
            "  select doc_id + 20000000 as doc_id, text from documents"
            "), w as ("
            "  select doc_id, string_split(regexp_replace(trim(text), "
            "  '\\s+', ' ', 'g'), ' ') as w from u"
            "), sh as ("
            "  select doc_id, list_distinct(list_transform("
            "  generate_series(1, greatest(len(w) - 2, 1)), "
            "  i -> array_to_string(w[i:i+2], ' '))) as s from w"
            "), p as ("
            "  select a.doc_id as id_a, b.doc_id as id_b, "
            "  floor((cast(len(list_intersect(a.s, b.s)) as double) / "
            "  cast(len(list_distinct(list_concat(a.s, b.s))) as double))"
            "  * 10000 + 0.5) / 10000.0 as jaccard "
            "  from sh a join sh b on a.doc_id < b.doc_id"
            ") select id_a, id_b, jaccard from p where jaccard >= 1.0"
        ),
        "dedup_clusters": (
            # connected components over the exact >= 0.9 pair graph
            # via recursive CTE (UNION dedupe terminates the
            # recursion; symmetric edges make min(reachable) the
            # component label). The Spark side's edge set is the
            # exact-verified pair set, so the partitions must match.
            "with recursive uc as ("
            "  select doc_id, text from documents where doc_id < 200"
            "  union all"
            "  select doc_id + 10000000 as doc_id, text from documents"
            "  where doc_id < 200"
            "), w as ("
            "  select doc_id, string_split(regexp_replace(trim(text), "
            "  '\\s+', ' ', 'g'), ' ') as w from uc"
            "), sh as ("
            "  select doc_id, list_distinct(list_transform("
            "  generate_series(1, greatest(len(w) - 2, 1)), "
            "  i -> array_to_string(w[i:i+2], ' '))) as s from w"
            "), p as ("
            "  select a.doc_id as id_a, b.doc_id as id_b"
            "  from sh a join sh b on a.doc_id < b.doc_id"
            "  where floor((cast(len(list_intersect(a.s, b.s)) as double)"
            "  / cast(len(list_distinct(list_concat(a.s, b.s))) "
            "  as double)) * 10000 + 0.5) / 10000.0 >= 0.9"
            "), e as ("
            "  select id_a as src, id_b as dst from p"
            "  union all select id_b as src, id_a as dst from p"
            "), reach(id, r) as ("
            "  select doc_id, doc_id from uc"
            "  union"
            "  select e.dst, reach.r from reach join e on e.src = reach.id"
            "), lab as ("
            "  select id as doc_id, min(r) as component from reach"
            "  group by id"
            ") select doc_id, component, keeper_id, "
            "(doc_id = keeper_id) as is_representative from ("
            "  select doc_id, component, "
            "  first_value(doc_id) over (partition by component "
            "  order by (doc_id % 7) desc, doc_id asc) as keeper_id "
            "  from lab)"
        ),
        "dedup_exact_normalized": (
            "with unioned as ("
            "  select doc_id, text from documents"
            "  union all"
            "  select doc_id + 10000000 as doc_id, "
            "  '  ' || upper(text) || '   ' as text from documents"
            ") select regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') "
            "  as norm_text, "
            "min(doc_id) as keeper_id, count(*) as n_dups "
            "from unioned group by 1"
        ),
        "paragraph_dedup": (
            "select * from ("
            "with s as ("
            "  select doc_id, "
            "    string_split(replace(text, ' ', '. '), '. ') as l "
            "  from documents"
            "), p as ("
            "  select doc_id, para, ord from ("
            "    select doc_id, unnest(l) as para, "
            "      unnest(range(1, len(l) + 1)) as ord from s"
            "  ) where para <> ''"
            "), r as ("
            "  select doc_id, para, ord, "
            "    row_number() over (partition by para order by doc_id, ord)"
            "      as rn, "
            "    count(*) over (partition by para) as cnt from p"
            ") select doc_id, count(*) as n_paras, "
            "cast(sum(case when rn = 1 then 1 else 0 end) as bigint) "
            "  as n_unique_first, "
            "cast(sum(case when rn > 1 then 1 else 0 end) as bigint) "
            "  as n_dupes, "
            "coalesce(string_agg(case when rn = 1 then para end, '. ' "
            "  order by ord), '') as clean_text, "
            "cast(sum(case when rn > 1 then 1 else 0 end) as bigint) "
            "  as n_removed_first, "
            "coalesce(string_agg(case when cnt <= 3 then para end, '. ' "
            "  order by ord), '') as stoplist_text, "
            "cast(sum(case when cnt > 3 then 1 else 0 end) as bigint) "
            "  as n_removed_hot "
            "from r group by doc_id"
            # within-doc line dedup mirror (dedup_lines_in_doc):
            # DuckDB list lambdas index from 1 where Spark's index
            # from 0, hence list_position(lf, x) = i (vs Spark's i+1)
            ") main join ("
            "  select doc_id, array_to_string(k, '. ') as self_text, "
            "    cast(len(lf) - len(k) as bigint) as n_removed_self "
            "  from ("
            "    select doc_id, lf, "
            "      list_filter(lf, (x, i) -> list_position(lf, x) = i) as k"
            "    from (select doc_id, list_filter(string_split("
            "      replace(text, ' ', '. '), '. '), x -> x <> '') as lf "
            "      from documents))"
            ") sd using (doc_id)"
            # host-template mirror (remove_host_template_lines): a
            # line in >= 3 DISTINCT docs of the same host ('h'||id%4)
            # is removed everywhere on that host; docs with no
            # removals keep their rejoined text (identical here —
            # the fabricated text has no empty segments)
            " join ("
            "  with hp as ("
            "    select doc_id, 'h' || cast(doc_id % 4 as varchar) as host,"
            "      para, ord from ("
            "      select doc_id, unnest(l) as para, "
            "        unnest(range(1, len(l) + 1)) as ord from ("
            "        select doc_id, string_split("
            "          replace(text, ' ', '. '), '. ') as l "
            "        from documents)"
            "    ) where para <> ''"
            "  ), tm as ("
            "    select host, para from ("
            "      select distinct doc_id, host, para from hp"
            "    ) group by host, para having count(*) >= 3"
            "  ) select doc_id, "
            "    coalesce(string_agg(case when tm.para is null then hp.para "
            "      end, '. ' order by ord), '') as tmpl_text, "
            "    cast(sum(case when tm.para is not null then 1 else 0 end) "
            "      as bigint) as n_removed_tmpl "
            "  from hp left join tm on tm.host = hp.host "
            "    and tm.para = hp.para "
            "  group by doc_id"
            ") ht using (doc_id)"
        ),
        "decontaminate_modes": (
            "select 'paragraph' as mode, doc_id, n_contaminated_paras "
            "as n_hits from ("
            "with bench as ("
            "  select distinct para from ("
            "    select unnest(string_split("
            "      'benchmark text. shared-' || cast(doc_id % 3 as varchar),"
            "      '. ')) as para from documents where doc_id % 97 = 0)"
            "  where para <> ''"
            "), tr as ("
            "  select doc_id, para from ("
            "    select doc_id, unnest(string_split("
            "      text || '. shared-' || cast(doc_id % 5 as varchar), "
            "      '. ')) as para from documents where doc_id % 97 <> 0)"
            "  where para <> ''"
            ") select doc_id, count(*) as n_contaminated_paras "
            "from tr join bench using (para) group by doc_id"
            ") union all "
            "select 'ngram' as mode, doc_id, n_contaminated_ngrams "
            "as n_hits from ("
            "with ph as (select * from (values "
            + ", ".join(
                f"({k}, '{p}')" for k, p in enumerate(_NGRAM_PHRASES)
            )
            + ") v(k, phrase)"
            "), tw as ("
            "  select d.doc_id, string_split(regexp_replace(trim("
            "    d.text || ' ' || ph.phrase), '\\s+', ' ', 'g'), ' ') as w"
            "  from documents d join ph on ph.k = d.doc_id % 5"
            "  where d.doc_id % 97 <> 0"
            "), bw as ("
            "  select string_split('benchhead ' || ph.phrase, ' ') as w"
            "  from documents d join ph on ph.k = d.doc_id % 3"
            "  where d.doc_id % 97 = 0"
            "), tg as ("
            "  select distinct doc_id, array_to_string(w[i:i+12], ' ') as g"
            "  from tw, unnest(generate_series(1, greatest(len(w) - 12, 0)))"
            "    as t(i)"
            "), bg as ("
            "  select distinct array_to_string(w[i:i+12], ' ') as g"
            "  from bw, unnest(generate_series(1, greatest(len(w) - 12, 0)))"
            "    as t(i)"
            ") select doc_id, count(*) as n_contaminated_ngrams "
            "from tg join bg using (g) group by doc_id"
            ") union all "
            # fuzzy arm: est_jaccard provably 1.0 (identical shingle
            # sets) and exactly one benchmark doc per doc_id%3 residue
            # (ids 0/97/194), so the flag set and hit count come
            # straight from the plant's ground truth
            "select 'fuzzy' as mode, doc_id, cast(1 as bigint) as n_hits "
            "from documents where doc_id % 97 <> 0 and doc_id % 4 = 0"
            " union all "
            # ngram_frac arm: the continuous score as exact ppm —
            # integer floor-division on both engines, zero-hit docs
            # kept at 0; same tw/bw/tg/bg construction as the ngram arm
            "select 'ngram_frac' as mode, doc_id, "
            "cast(case when coalesce(nt, 0) = 0 then 0 "
            "else (coalesce(nc, 0) * 1000000) // nt end as bigint) "
            "as n_hits from ("
            "with ph as (select * from (values "
            + ", ".join(
                f"({k}, '{p}')" for k, p in enumerate(_NGRAM_PHRASES)
            )
            + ") v(k, phrase)"
            "), tw as ("
            "  select d.doc_id, string_split(regexp_replace(trim("
            "    d.text || ' ' || ph.phrase), '\\s+', ' ', 'g'), ' ') as w"
            "  from documents d join ph on ph.k = d.doc_id % 5"
            "  where d.doc_id % 97 <> 0"
            "), bw as ("
            "  select string_split('benchhead ' || ph.phrase, ' ') as w"
            "  from documents d join ph on ph.k = d.doc_id % 3"
            "  where d.doc_id % 97 = 0"
            "), tg as ("
            "  select distinct doc_id, array_to_string(w[i:i+12], ' ') as g"
            "  from tw, unnest(generate_series(1, greatest(len(w) - 12, 0)))"
            "    as t(i)"
            "), bg as ("
            "  select distinct array_to_string(w[i:i+12], ' ') as g"
            "  from bw, unnest(generate_series(1, greatest(len(w) - 12, 0)))"
            "    as t(i)"
            "), tt as ("
            "  select doc_id, count(*) as nt from tg group by doc_id"
            "), hc as ("
            "  select doc_id, count(*) as nc from tg join bg using (g) "
            "  group by doc_id"
            ") select a.doc_id, tt.nt, hc.nc from tw a "
            "left join tt using (doc_id) left join hc using (doc_id))"
        ),
        "gopher_rules": (
            # same four text variants, then every Gopher stat/flag
            # recomputed in SQL (r4 rounding = floor(x*1e4+0.5)/1e4,
            # matching Spark's HALF_UP round(x, 4))
            "with v as ("
            "  select doc_id, case"
            "    when doc_id % 4 = 1 then replace(text, 'a', '#')"
            "    when doc_id % 4 = 2 then substr(text, 1, 40)"
            "    when doc_id % 4 = 3 then text || repeat(chr(10) || "
            "'• bullet line of words', 12)"
            "    else text end as text from documents"
            "), m as ("
            "  select doc_id, text,"
            "    string_split_regex(trim(text), '\\s+') as words,"
            "    list_filter(list_transform(string_split(text, chr(10)), "
            "l -> trim(l)), l -> l <> '') as lines"
            "  from v"
            "), s as ("
            "  select doc_id,"
            "    cast(len(words) as int) as n_words,"
            "    cast(list_sum(list_transform(words, w -> length(w))) "
            "as double) / greatest(len(words), 1) as mwl,"
            "    cast(len(regexp_extract_all(text, '#|\\.\\.\\.|…')) "
            "as double) / greatest(len(words), 1) as symr,"
            "    cast(len(list_filter(lines, l -> substr(l, 1, 1) in "
            "('•', '‣', '▪', '-', '*'))) as double) "
            "/ greatest(len(lines), 1) as bulr,"
            "    cast(len(list_filter(lines, l -> l like '%...' or "
            "l like '%…')) as double) / greatest(len(lines), 1) as ellr,"
            "    cast(len(list_filter(words, w -> regexp_matches(w, "
            "'[A-Za-z]'))) as double) / greatest(len(words), 1) as alpr,"
            "    cast("
            + " + ".join(
                "case when regexp_matches(text, "
                f"'(^|[^A-Za-z]){w}([^A-Za-z]|$)') then 1 else 0 end"
                for w in (
                    "the", "be", "to", "of", "and", "that", "have", "with"
                )
            )
            + " as int) as stop_hits"
            "  from m"
            "), bl as ("
            # r5 blocklist companion: planted doc_id%5 'zorple' hits,
            # lower+edge-strip normalization, fraction threshold 0.02
            "  select doc_id,"
            "    list_filter(string_split_regex(trim(text || "
            "repeat(' zorple', cast(doc_id % 5 as int))), '\\s+'), "
            "w -> regexp_replace(lower(w), "
            "'^[^a-z0-9]+|[^a-z0-9]+$', '', 'g') in ('zorple')) as fw,"
            "    string_split_regex(trim(text || repeat(' zorple', "
            "cast(doc_id % 5 as int))), '\\s+') as bw"
            "  from documents"
            "), bls as ("
            "  select doc_id, cast(len(fw) as int) as n_flagged_words,"
            "    cast(len(fw) as double) / greatest(len(bw), 1) as bfrac"
            "  from bl"
            "), e1 as ("
            # r5 entropy companion: doc_id%6==0 -> 64-char flood;
            # sorted-char RLE, terms folded in sorted-char order —
            # the same construction char_entropy_col codegens
            "  select doc_id, list_sort(string_split(case when "
            "doc_id % 6 = 0 then repeat('a', 64) else text end, '')) as cs"
            "  from documents"
            "), e2 as ("
            "  select doc_id, cs, len(cs) as m,"
            "    list_filter(generate_series(1, len(cs)), "
            "i -> i = 1 or cs[i] <> cs[i-1]) as st"
            "  from e1"
            "), e3 as ("
            "  select doc_id, m, list_transform("
            "generate_series(1, len(st)), "
            "j -> cast(coalesce(st[j+1], m + 1) - st[j] as double)) as ks"
            "  from e2"
            "), e4 as ("
            "  select doc_id, case when m >= 1 then "
            "list_sum(list_transform(ks, k -> -(k/m)*log2(k/m))) "
            "else 0.0 end as ent from e3"
            ") select s.doc_id, n_words,"
            "  floor(mwl * 10000 + 0.5) / 10000 as mean_word_len,"
            "  floor(symr * 10000 + 0.5) / 10000 as symbol_word_ratio,"
            "  floor(bulr * 10000 + 0.5) / 10000 as bullet_line_ratio,"
            "  floor(ellr * 10000 + 0.5) / 10000 as ellipsis_line_ratio,"
            "  floor(alpr * 10000 + 0.5) / 10000 as alpha_word_ratio,"
            "  stop_hits,"
            "  n_words >= 50 and n_words <= 100000 as word_count_ok,"
            "  mwl >= 3.0 and mwl <= 10.0 as word_len_ok,"
            "  symr <= 0.1 as symbol_ok,"
            "  bulr <= 0.9 as bullet_ok,"
            "  ellr <= 0.3 as ellipsis_ok,"
            "  alpr >= 0.8 as alpha_ok,"
            "  stop_hits >= 2 as stopword_ok,"
            "  (n_words >= 50 and n_words <= 100000) and "
            "  (mwl >= 3.0 and mwl <= 10.0) and symr <= 0.1 and "
            "  bulr <= 0.9 and ellr <= 0.3 and alpr >= 0.8 and "
            "  stop_hits >= 2 as gopher_keep,"
            "  n_flagged_words,"
            "  floor(bfrac * 10000 + 0.5) / 10000 as "
            "flagged_word_fraction,"
            "  bfrac <= 0.02 as blocklist_keep,"
            "  floor(ent * 10000 + 0.5) / 10000 as char_entropy,"
            "  ent >= 2.0 and ent <= 6.0 as entropy_keep"
            " from s join bls on s.doc_id = bls.doc_id "
            "join e4 on s.doc_id = e4.doc_id"
        ),
        "multimodal_pipeline": (
            "with d as (select * from documents where doc_id < 50) "
            "select 'decode' as stage, cast(doc_id as varchar) as doc_id, "
            "'media://i/' || cast(doc_id as varchar) as media_ref, "
            "sha256(text) as payload from d "
            "union all "
            "select 'resize', cast(doc_id as varchar), "
            "'media://i/' || cast(doc_id as varchar), "
            "'image/png:64x64:128' from d "
            "union all "
            "select 'frames', cast(doc_id as varchar), "
            "'media://v/' || cast(doc_id as varchar), "
            "cast(g.ms as varchar) "
            "from d, lateral (select unnest(generate_series(0, "
            "cast((doc_id % 5 + 1) * 1000 as int) - 500, 500)) as ms) g"
        ),
        "pii_scrub": (
            "with t as ("
            "  select doc_id, text as orig, "
            "  'contact User' || cast(doc_id as varchar) || "
            "  '+tag@Ex-ample.co.uk tel 555-123-4567 ip 10.0.' || "
            "  cast(doc_id % 256 as varchar) || '.1 board ' || "
            "  cast(doc_id * 1234567 as varchar) || "
            "  ' ' || text as text from documents"
            "), s as ("
            "  select doc_id, text, orig, regexp_replace(regexp_replace("
            "  regexp_replace(regexp_replace(text, "
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+([.][A-Za-z0-9-]+)+', "
            "  '<EMAIL>', 'g'), "
            "  '[(]?[0-9]{3}[)]?[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'), "
            "  '[0-9]{1,3}([.][0-9]{1,3}){3}', '<IP>', 'g'), "
            "  '[0-9]{7,}', '<NUM>', 'g') as scrubbed from t"
            ") select doc_id, scrubbed, scrubbed <> text as was_redacted, "
            # the demojibake plant: table text is ASCII (identity under
            # the repair chain), so fixed = orig || the clean suffix
            "orig || ' naïve é — €9 ½ “q”' as demojibaked, "
            # control-scrub plant: DuckDB replays the operator's own
            # pattern strings over the reconstructed dirty suffix
            + _ctrl_clean_sql("orig || " + _CTRL_SUFFIX_SQL)
            + " as ctrl_clean, "
            # NFC plant: DuckDB's own normalizer over the same dirty
            # suffix (table text is ASCII = NFC-identity)
            + f"nfc_normalize(orig || {_NFC_SUFFIX_SQL}) as nfc_text "
            "from s"
        ),
        "lineage_counts": (
            "select cast(doc_id % 32 as int) as partition_id, "
            "count(*) as input_count, "
            "cast(sum((doc_id + 1) * n_chars) % 1000000007 as bigint) "
            "as checksum from documents group by 1"
        ),
        "resume_antijoin": (
            "select cast(doc_id % 32 as int) as partition_id, "
            "count(*) as n_remaining from documents "
            "where doc_id % 32 >= 16 group by 1"
        ),
        "serialize_typed": (
            # extract∘serialize is the identity on this canonical input,
            # so the oracle is the constructed HTML itself; the Markdown
            # sibling's exact GFM string likewise falls out of the
            # construction (r5-cont)
            "select doc_id, '<h2>' || lang || '</h2><ul><li>' || source "
            "|| '</li><li>x</li></ul><p>' || lang || ' tail</p>' "
            "as html_out, "
            "'## ' || lang || chr(10) || chr(10) || "
            "'- ' || source || chr(10) || '- x' || chr(10) || chr(10) || "
            "lang || ' tail' as md_out "
            "from documents"
        ),
        "interleaved_stats": """
WITH sized AS (
  SELECT doc_id, source, string_split(text, ' ') AS ws,
         CAST(ceil(len(string_split(text, ' '))/5.0) AS INT) AS ng,
         (doc_id % 7 <> 0) AS has_img
  FROM documents
), built AS (
  SELECT doc_id,
    (CASE WHEN doc_id % 11 = 0 THEN [
        {'kind':'image','text':CAST(NULL AS VARCHAR),
         'media_ref':'media://banner/' || CAST(doc_id % 2 AS VARCHAR)},
        {'kind':'image','text':CAST(NULL AS VARCHAR),
         'media_ref':'media://banner/' || CAST(doc_id % 2 AS VARCHAR)}]
      ELSE CAST([] AS STRUCT(kind VARCHAR, text VARCHAR, media_ref VARCHAR)[]) END)
    || flatten(list_transform(range(0, ng), i ->
        [{'kind':'text','text':array_to_string(ws[i*5+1:i*5+5], ' '),
          'media_ref':CAST(NULL AS VARCHAR)}]
        || (CASE WHEN has_img AND (i+1)%3 = 0 THEN
              (CASE WHEN doc_id%3 = 0 THEN
                [{'kind':'image','text':CAST(NULL AS VARCHAR),
                  'media_ref':'media://' || source || '/' || CAST(i%4 AS VARCHAR)},
                 {'kind':'image','text':CAST(NULL AS VARCHAR),
                  'media_ref':'media://' || source || '/' || CAST(i%4 AS VARCHAR)}]
               ELSE [{'kind':'image','text':CAST(NULL AS VARCHAR),
                      'media_ref':'media://' || source || '/' || CAST(i%4 AS VARCHAR)}] END)
            ELSE CAST([] AS STRUCT(kind VARCHAR, text VARCHAR, media_ref VARCHAR)[]) END)))
    || (CASE WHEN has_img THEN
          [{'kind':'image','text':CAST(NULL AS VARCHAR),
            'media_ref':'media://doc/' || CAST(doc_id AS VARCHAR)}]
        ELSE CAST([] AS STRUCT(kind VARCHAR, text VARCHAR, media_ref VARCHAR)[]) END)
    AS spans
  FROM sized
), f AS (
  SELECT doc_id, generate_subscripts(spans, 1) AS ord,
         unnest(spans, recursive := false) AS s
  FROM built
), g AS (
  SELECT doc_id, ord, s.kind AS kind, s.text AS stext, s.media_ref AS ref FROM f
), agg AS (
  SELECT doc_id,
    CAST(count(*) AS INT) AS n_spans,
    CAST(count(*) FILTER (WHERE kind = 'text') AS INT) AS n_text,
    CAST(count(*) FILTER (WHERE kind = 'image') AS INT) AS n_images,
    CAST(coalesce(sum(length(stext)) FILTER (WHERE kind = 'text'), 0) AS BIGINT) AS text_chars,
    CAST(coalesce(min(ord) FILTER (WHERE kind <> 'image') - 1, count(*)) AS INT) AS leading_images
  FROM g GROUP BY doc_id
), runs AS (
  SELECT doc_id, CAST(max(cnt) AS INT) AS max_image_run FROM (
    SELECT doc_id, isl, count(*) AS cnt FROM (
      SELECT doc_id, ord,
             ord - row_number() OVER (PARTITION BY doc_id ORDER BY ord) AS isl
      FROM g WHERE kind = 'image') GROUP BY doc_id, isl) GROUP BY doc_id
), hot AS (
  SELECT ref FROM (SELECT DISTINCT doc_id, ref FROM g WHERE kind = 'image')
  GROUP BY ref HAVING count(*) >= 8
), hotcnt AS (
  SELECT doc_id, CAST(count(*) AS INT) AS n_hot_images
  FROM g WHERE kind = 'image' AND ref IN (SELECT ref FROM hot)
  GROUP BY doc_id
), langv AS (
  SELECT doc_id, CASE
    WHEN greatest(se, ss, sf, sd) = 0 THEN 'und'
    WHEN se = greatest(se, ss, sf, sd) THEN 'en'
    WHEN ss = greatest(se, ss, sf, sd) THEN 'es'
    WHEN sf = greatest(se, ss, sf, sd) THEN 'fr'
    ELSE 'de' END AS v
  FROM (SELECT doc_id,
    len(regexp_extract_all(lower(stext), '\\b(the|and|of|to|is)\\b')) AS se,
    len(regexp_extract_all(lower(stext), '\\b(el|la|de|que|los)\\b')) AS ss,
    len(regexp_extract_all(lower(stext), '\\b(le|la|les|et|des)\\b')) AS sf,
    len(regexp_extract_all(lower(stext), '\\b(der|die|und|das|ist)\\b')) AS sd
    FROM g WHERE kind = 'text')
), mmt AS (
  SELECT doc_id, array_to_string(list_transform(spans, s ->
    CASE WHEN s.kind = 'image' THEN '<image>'
         ELSE coalesce(s.text, '') END), ' ') AS mm_text
  FROM built
), mma AS (
  SELECT doc_id,
    coalesce(string_agg(ref, ' ' ORDER BY ord)
             FILTER (WHERE kind = 'image'), '') AS mm_refs,
    CAST(coalesce(sum(CASE WHEN kind <> 'image' THEN
      CASE WHEN trim(coalesce(stext, '')) = '' THEN 0
        ELSE len(string_split_regex(trim(stext), '\\s+')) END
      ELSE 0 END), 0) AS BIGINT) AS mm_text_tokens
  FROM g GROUP BY doc_id
), lvc AS (
  SELECT doc_id, v, count(*) AS n FROM langv GROUP BY doc_id, v
), lpick AS (
  SELECT doc_id, v AS main_span_lang, CAST(n AS INT) AS main_span_lang_n,
    CAST(count(*) OVER (PARTITION BY doc_id) AS INT) AS n_span_langs,
    floor(n * 1.0 / sum(n) OVER (PARTITION BY doc_id) * 10000 + 0.5)
      / 10000.0 AS span_lang_frac,
    row_number() OVER (PARTITION BY doc_id ORDER BY n DESC,
      CASE v WHEN 'en' THEN 0 WHEN 'es' THEN 1 WHEN 'fr' THEN 2
             WHEN 'de' THEN 3 ELSE 4 END) AS rn
  FROM lvc
)
SELECT CAST(a.doc_id AS BIGINT) AS doc_id, a.n_spans, a.n_text, a.n_images,
  a.text_chars, coalesce(r.max_image_run, 0) AS max_image_run,
  a.leading_images, coalesce(h.n_hot_images, 0) AS n_hot_images,
  CAST((a.text_chars >= 150 AND a.n_images <= 6 AND a.n_images >= 0
        AND (CAST(a.n_images AS DOUBLE) / a.n_spans) <= 0.4
        AND coalesce(r.max_image_run, 0) <= 1
        AND a.leading_images <= 0) AS INT) AS keep,
  l.main_span_lang, l.main_span_lang_n, l.n_span_langs, l.span_lang_frac,
  mmt.mm_text, mma.mm_refs, mma.mm_text_tokens,
  CAST(mma.mm_text_tokens + a.n_images * 64 AS BIGINT) AS mm_tokens
FROM agg a LEFT JOIN runs r USING (doc_id) LEFT JOIN hotcnt h USING (doc_id)
JOIN (SELECT * FROM lpick WHERE rn = 1) l USING (doc_id)
JOIN mmt USING (doc_id) JOIN mma USING (doc_id)
""",
        # Composed training pipeline (VERDICT r5 #5): the oracle
        # recomputes every stage from the planted corpus — text
        # synthesis, lang/quality (the lang_quality row's SQL),
        # exact dedup (min-id keeper per text), and near-dup removal
        # as 3-gram shingle-SET equality (provably what MinHash-LSH
        # surfaces here: identical sets => identical signatures =>
        # est 1.0; all other pairs share zero grams). Counts rows
        # mirror the Spark side's -1/-2 sentinels.
        "training_pipeline": """
WITH base AS (
  SELECT doc_id, doc_id // 20 AS g, doc_id % 20 AS r
  FROM documents WHERE doc_id % 5 = 0
), phr AS (
  SELECT doc_id, r,
    'the g' || g || 'x0 and g' || g || 'x1 of g' || g ||
      'x2 to g' || g || 'x3 is g' || g || 'x4 ' AS phrase,
    'the u' || doc_id || 'x0 and u' || doc_id || 'x1 of u' || doc_id ||
      'x2 to u' || doc_id || 'x3 is u' || doc_id || 'x4 ' AS uph
  FROM base
), planted AS (
  SELECT doc_id,
    CASE WHEN r IN (0, 5) THEN rtrim(repeat(phrase, 4))
         WHEN r = 10 THEN rtrim(repeat(phrase, 6))
         ELSE rtrim(repeat(uph, 3)) END AS text
  FROM phr
), scored AS (
  SELECT doc_id, text,
    len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS s_en,
    len(regexp_extract_all(lower(text), '\\b(el|la|de|que|los)\\b')) AS s_es,
    len(regexp_extract_all(lower(text), '\\b(le|la|les|et|des)\\b')) AS s_fr,
    len(regexp_extract_all(lower(text), '\\b(der|die|und|das|ist)\\b')) AS s_de,
    length(text) AS n_chars,
    len(string_split_regex(trim(text), '\\s+')) AS n_words,
    len(regexp_extract_all(text, '[^\\w\\s]')) AS n_punct,
    len(regexp_extract_all(lower(text), '\\b(the|and|of|to|is)\\b')) AS n_stop
  FROM planted
), lq AS (
  SELECT doc_id, text,
    CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
         WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
         WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es'
         WHEN s_fr = greatest(s_en, s_es, s_fr, s_de) THEN 'fr'
         ELSE 'de' END AS lang_pred,
    floor((0.5 * least(n_words / 20.0, 1.0)
      + 0.3 * least((floor(n_stop * 1.0 / greatest(n_words, 1) * 10000 + 0.5)
                     / 10000.0) * 5, 1.0)
      + 0.2 * (1 - least((floor(n_punct * 1.0 / greatest(n_chars, 1) * 10000
                     + 0.5) / 10000.0) * 10, 1.0))) * 10000 + 0.5)
      / 10000.0 AS quality
  FROM scored
), filtered AS (
  SELECT * FROM lq
  WHERE lang_pred IN ('en', 'es', 'fr', 'de') AND quality >= 0.0
), exact AS (
  SELECT *, row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
  FROM filtered
), survivors AS (
  SELECT doc_id, text, lang_pred, quality FROM exact WHERE rn = 1
), toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM survivors
), gsets AS (
  SELECT doc_id,
    list_sort(list(DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS gs
  FROM toks, unnest(generate_series(1, len(w) - 2)) AS t(i)
  GROUP BY doc_id
), near_losers AS (
  SELECT a.doc_id FROM gsets a JOIN gsets b
    ON a.gs = b.gs AND b.doc_id < a.doc_id
), final AS (
  SELECT doc_id, lang_pred, quality FROM survivors
  WHERE doc_id NOT IN (SELECT doc_id FROM near_losers)
)
SELECT doc_id, lang_pred, quality FROM final
UNION ALL
SELECT -1, 'n_exact', CAST(count(*) AS DOUBLE) FROM survivors
UNION ALL
SELECT -2, 'n_final', CAST(count(*) AS DOUBLE) FROM final
""",
        # ANN approximate paths (r5): each arm runs inside its
        # sketch's PROVABLE recall band on a planted clone corpus
        # (see the q_* docstrings), so the oracle is an honest
        # brute-force recomputation over the same union — scaled
        # clones for LSH (powers of two: float32-exact on both
        # engines), exact mirrors for IVF and the near-dup verify.
        "ann_approx_topk": """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv
  FROM embeddings WHERE vec_id < 5
), lshc AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 10000000,
    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 2.0 AS REAL))
  FROM embeddings
  UNION ALL SELECT vec_id + 20000000,
    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 0.5 AS REAL))
  FROM embeddings
  UNION ALL SELECT vec_id + 30000000,
    list_transform(embedding, x -> CAST(CAST(x AS DOUBLE) * 4.0 AS REAL))
  FROM embeddings
), ivfc AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings
  UNION ALL SELECT vec_id + 20000000, embedding FROM embeddings
  UNION ALL SELECT vec_id + 30000000, embedding FROM embeddings
), lsh_ranked AS (
  SELECT query_id, candidate_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, candidate_id ASC) AS rank
  FROM (
    SELECT q.query_id, e.vec_id AS candidate_id,
      floor((list_sum(list_transform(range(1, len(q.qv) + 1),
        i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(q.qv,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(e.embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))
      * 10000 + 0.5) / 10000.0 AS cosine
    FROM q, lshc e WHERE e.vec_id <> q.query_id)
), ivf_ranked AS (
  SELECT query_id, candidate_id, cosine,
    row_number() OVER (PARTITION BY query_id
                       ORDER BY cosine DESC, candidate_id ASC) AS rank
  FROM (
    SELECT q.query_id, e.vec_id AS candidate_id,
      floor((list_sum(list_transform(range(1, len(q.qv) + 1),
        i -> CAST(q.qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(q.qv,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(e.embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))
      * 10000 + 0.5) / 10000.0 AS cosine
    FROM q, ivfc e WHERE e.vec_id <> q.query_id)
), ndc AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL SELECT vec_id + 10000000, embedding FROM embeddings
), nd AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    floor((list_sum(list_transform(range(1, len(a.embedding) + 1),
      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(a.embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
     * sqrt(list_sum(list_transform(b.embedding,
         x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))
    * 10000 + 0.5) / 10000.0 AS cosine
  FROM ndc a JOIN ndc b ON b.vec_id > a.vec_id
)
SELECT query_id, rank, candidate_id, cosine, 'lsh' AS mode
FROM lsh_ranked WHERE rank <= 3
UNION ALL
SELECT query_id, rank, candidate_id, cosine, 'ivf' AS mode
FROM ivf_ranked WHERE rank <= 3
UNION ALL
SELECT id_a AS query_id, 0 AS rank, id_b AS candidate_id, cosine,
  'near_dup' AS mode
FROM nd WHERE cosine >= 0.99
""",
    }
