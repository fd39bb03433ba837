"""Corpus-hygiene operators for training-data pipelines (task brief:
"operations a large-scale training-data pipeline would need").

Three first-class operations every LLM data pipeline runs between
extraction and training, each expressed as pure JVM DataFrame plans
(no Python in the hot path) with DuckDB-portable semantics so the
driver's oracle gate covers them exactly:

- :func:`paragraph_dedup_stats` — corpus-wide exact dedup at PARAGRAPH
  granularity (web corpora repeat boilerplate paragraphs across
  otherwise-distinct pages; doc-level dedup misses them).
- :func:`decontaminate` — test-set decontamination: flag training docs
  sharing any exact paragraph with a benchmark/eval set.
- :func:`pii_scrub` — regex redaction of emails / long digit runs with
  patterns restricted to the RE2 ∩ Java-regex common dialect.

Scale shapes (100 TB lens) are documented per function.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame

# paragraph separator: a literal sentence/paragraph boundary. Kept as a
# LITERAL (escaped on the Spark side — split() takes a regex) so the
# DuckDB oracle's string_split matches byte-for-byte.
PARA_SEP = ". "


def _paragraphs(text_col: str):
    """text -> array of non-empty paragraphs (deterministic)."""
    from pyspark.sql import functions as F

    return F.filter(
        F.split(F.col(text_col), "\\. "), lambda p: p != ""
    )


def paragraph_dedup_stats(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """Corpus-wide exact paragraph dedup accounting: for every document,
    how many of its paragraphs are first occurrences vs repeats of a
    paragraph seen earlier (earlier = smaller (doc_id, position);
    deterministic total order, repartition-stable).

    Returns (doc_id, n_paras, n_unique_first, n_dupes).

    100 TB shape: explode -> ONE shuffle keyed by the paragraph hash
    (row_number window over ``xxhash64(para)``), then a doc-keyed
    partial aggregation. Shuffle rows carry only the 8-byte digest plus
    the (id, pos) pair — the paragraph text is projected away before
    the exchange — and the map-side combine on the final count keeps
    reduce traffic at one row per document. xxhash64 collisions are ~0
    at corpus scale and the same collision semantics are already
    accepted by ``dedup.exact_dedup``. Residual skew: an ULTRA-hot
    boilerplate paragraph (one repeated across millions of pages) still
    funnels its occurrences into one window task — a window cannot be
    AQE-skew-split; if a corpus profile shows such a paragraph, drop it
    with a broadcast stop-list (``decontaminate``-shaped) before this
    operator. To DROP the repeats instead of counting them, filter
    ``rn == 1`` before reassembly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(_paragraphs(text_col)).alias("pos", "para"),
    ).select("_id", "pos", F.xxhash64("para").alias("ph"))
    w = Window.partitionBy("ph").orderBy("_id", "pos")
    ranked = paras.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy(F.col("_id").alias(id_col))
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias(
                "n_unique_first"
            ),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dupes"),
        )
    )


def decontaminate(
    train: "DataFrame",
    benchmark: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Test-set decontamination: training documents sharing >= 1 exact
    paragraph with the benchmark set, with the overlap count.

    Returns (doc_id, n_contaminated_paras) — inner-join semantics, so
    clean documents do not appear; anti-join against this frame to get
    the decontaminated corpus.

    100 TB shape: the benchmark side is tiny (eval sets are thousands
    of documents); its DISTINCT paragraph set is broadcast, so the
    training corpus is scanned ONCE with a broadcast-hash semi-join —
    no corpus shuffle at all. The only shuffle is the final per-doc
    count (map-side combined).
    """
    from pyspark.sql import functions as F

    bench_paras = (
        benchmark.select(
            F.explode(_paragraphs(text_col)).alias("para")
        ).distinct()
    )
    train_paras = train.select(
        F.col(id_col).alias(id_col),
        F.explode(_paragraphs(text_col)).alias("para"),
    )
    return (
        train_paras.join(F.broadcast(bench_paras), "para")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_paras"))
    )


def _word_ngrams(text_col: str, n: int):
    """text -> array of DISTINCT sliding word n-grams (space-joined).
    Strict windows only: a document with fewer than ``n`` words yields
    an empty array (no partial grams — decontamination must not match
    a short doc against a gram prefix). The one-element-array transform
    gives let-binding semantics so the split runs once per row, not
    per gram (see dedup.word_shingles, round-2 find)."""
    from pyspark.sql import functions as F

    words = F.split(F.trim(F.col(text_col)), r"\s+")

    def grams(wb):
        k = F.size(wb) - (n - 1)
        return F.when(k <= 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
                lambda i: F.concat_ws(" ", F.slice(wb, i, n)),
            )
        )

    return F.array_distinct(F.flatten(F.transform(F.array(words), grams)))


def decontaminate_ngrams(
    train: "DataFrame",
    benchmark: "DataFrame",
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Sliding n-gram test-set decontamination (the standard eval-
    decontamination recipe — 13-gram overlap catches contamination that
    survives reflowing/light edits, which exact-paragraph equality
    misses). Returns (doc_id, n_contaminated_ngrams): training docs
    sharing >= 1 exact word n-gram with the benchmark set, with the
    count of distinct shared n-grams.

    100 TB shape: same as :func:`decontaminate` — the benchmark n-gram
    set is still small (eval sets are thousands of docs; ~1 gram per
    word), DISTINCT'd and broadcast, so the training corpus is scanned
    once with a broadcast-hash join and the only shuffle is the per-doc
    count (map-side combined). The train-side explode is transient —
    grams flow straight into the broadcast probe and only survivors
    reach the exchange.
    """
    from pyspark.sql import functions as F

    grams = _word_ngrams(text_col, n)
    bench_grams = benchmark.select(F.explode(grams).alias("g")).distinct()
    train_grams = train.select(
        F.col(id_col).alias(id_col), F.explode(grams).alias("g")
    )
    return (
        train_grams.join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_ngrams"))
    )


def contamination_fraction(
    train: "DataFrame",
    benchmark: "DataFrame",
    n: int = 13,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> "DataFrame":
    """Continuous contamination score — the REPORT companion to
    :func:`decontaminate_ngrams`'s binary drop: for EVERY training doc,
    the fraction of its distinct word n-grams that appear in the
    benchmark set. The published eval-hygiene recipes threshold on
    exactly this (a doc sharing one boilerplate gram is different from
    a doc that IS the benchmark item reflowed); returns
    (doc_id, n_grams, n_contaminated_ngrams, contamination_frac) with
    zero-hit docs kept at 0.0 and under-n-word docs (no strict windows)
    at n_grams = 0, frac = 0.0.

    100 TB shape: identical to the binary mode — benchmark grams
    DISTINCT'd and broadcast, corpus scanned once; the added total is
    a per-row projection (array size), no extra shuffle beyond the
    same per-doc hit count."""
    from pyspark.sql import functions as F

    grams = _word_ngrams(text_col, n)
    with_g = train.select(F.col(id_col), grams.alias("_gs"))
    per_doc = with_g.select(
        id_col, F.size("_gs").alias("n_grams")
    )
    bench_grams = benchmark.select(F.explode(grams).alias("g")).distinct()
    hits = (
        with_g.select(id_col, F.explode("_gs").alias("g"))
        .join(F.broadcast(bench_grams), "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_contaminated_ngrams"))
    )
    joined = per_doc.join(hits, id_col, "left").select(
        id_col,
        "n_grams",
        F.coalesce("n_contaminated_ngrams", F.lit(0)).alias(
            "n_contaminated_ngrams"
        ),
    )
    return joined.withColumn(
        "contamination_frac",
        F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
            F.col("n_contaminated_ngrams").cast("double")
            / F.col("n_grams").cast("double")
        ),
    )


def decontaminate_fuzzy(
    train: "DataFrame",
    benchmark: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    exact_verify: bool = False,
    benchmark_sigs: "DataFrame | None" = None,
    persist_sigs: bool = False,
) -> "DataFrame":
    """Fuzzy (near-duplicate) test-set decontamination: training docs
    whose MinHash-estimated shingle Jaccard against ANY benchmark doc
    reaches ``threshold`` — the document-level companion to the exact
    13-gram rule (the published recipes pair them: n-gram overlap
    catches verbatim splices, near-dup similarity catches lightly
    paraphrased / reformatted copies of whole eval documents).

    Returns (doc_id, n_benchmark_matches, max_est_jaccard
    [, max_jaccard with exact_verify]) — inner-join semantics like
    :func:`decontaminate`; anti-join to decontaminate.

    100 TB shape: delegates to ``incremental_near_pairs`` with the
    benchmark as the "history" side, so the training corpus NEVER
    self-joins — bands equi-join the (tiny) benchmark band table, hot
    benchmark buckets collapse to a representative, and with
    ``exact_verify`` true Jaccard is computed on surfaced pairs only.
    Pass ``benchmark_sigs`` (a persisted (doc_id, minhash) frame) to
    skip re-hashing the benchmark per snapshot.
    """
    from pyspark.sql import functions as F

    from .incremental import incremental_near_pairs

    pairs = incremental_near_pairs(
        train,
        benchmark,
        text_col,
        id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        exact_verify=exact_verify,
        history_sigs=benchmark_sigs,
        persist_sigs=persist_sigs,
    )
    aggs = [
        F.count("*").alias("n_benchmark_matches"),
        F.max("est_jaccard").alias("max_est_jaccard"),
    ]
    if exact_verify:
        aggs.append(F.max("jaccard").alias("max_jaccard"))
    return (
        pairs.select(F.col("new_id").alias(id_col), *pairs.columns[2:])
        .groupBy(id_col)
        .agg(*aggs)
    )


DECONTAMINATE_MODES = {
    "paragraph": decontaminate,
    "ngram": decontaminate_ngrams,
    "fuzzy": decontaminate_fuzzy,
}


def decontaminator(mode: str, benchmark: "DataFrame"):
    """corpus -> corpus minus the (doc_id, text) rows that ``mode``'s
    operator (``DECONTAMINATE_MODES``) finds in ``benchmark``: one
    doc_id anti-join, so the corpus is not re-shuffled. An unknown
    mode raises here, before any Spark work."""
    if mode not in DECONTAMINATE_MODES:
        raise ValueError(f"unknown decontaminate_mode {mode!r}")
    find = DECONTAMINATE_MODES[mode]
    return lambda corpus: corpus.join(
        find(corpus, benchmark).select("doc_id"), "doc_id", "left_anti"
    )


# patterns restricted to the RE2 (DuckDB) ∩ java.util.regex (Spark)
# common dialect: plain classes, bounded repetition, no lookaround.
# EMAIL covers case-mixed locals, +tags, hyphenated and multi-label
# domains (r3 verdict: the old [a-z0-9.]+@... under-redacted
# John.Doe+x@Example.CO.uk). PHONE is deliberately the separator-bearing
# NANP shape only (555-123-4567 etc.) — a bare 10-digit run is already
# caught by LONG_DIGITS, and separator-free international forms are out
# of scope. Replacement order matters: EMAIL first (so its digits are
# never phone/NUM-matched), then PHONE before IP ('123.456.7890' is a
# phone, not an IP prefix), then IP, then the digit-run catch-all.
EMAIL_PATTERN = "[A-Za-z0-9._%+-]+@[A-Za-z0-9-]+([.][A-Za-z0-9-]+)+"
PHONE_PATTERN = "[(]?[0-9]{3}[)]?[-. ][0-9]{3}[-. ][0-9]{4}"
IPV4_PATTERN = "[0-9]{1,3}([.][0-9]{1,3}){3}"
LONG_DIGITS_PATTERN = "[0-9]{7,}"


def pii_scrub_col(text_col: "Column | str") -> "Column":
    """Redaction as a single Column expression (join-free: pipelines add
    it as a projection). Emails -> <EMAIL>, NANP phones -> <PHONE>,
    dotted quads -> <IP>, 7+ digit runs -> <NUM>."""
    from pyspark.sql import functions as F

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.regexp_replace(c, EMAIL_PATTERN, "<EMAIL>")
    c = F.regexp_replace(c, PHONE_PATTERN, "<PHONE>")
    c = F.regexp_replace(c, IPV4_PATTERN, "<IP>")
    return F.regexp_replace(c, LONG_DIGITS_PATTERN, "<NUM>")


def pii_scrub(
    df: "DataFrame", text_col: str = "text", id_col: str = "doc_id"
) -> "DataFrame":
    """(doc_id, scrubbed, was_redacted): PII-redacted text plus a flag.

    100 TB shape: a pure projection — whole-stage codegen'd JVM regex,
    zero shuffle, zero Python. This is the hygiene stage's floor cost:
    one scan.
    """
    from pyspark.sql import functions as F

    scrubbed = pii_scrub_col(text_col)
    return df.select(
        id_col,
        scrubbed.alias("scrubbed"),
        (scrubbed != F.col(text_col)).alias("was_redacted"),
    )


def _mojibake_map() -> dict[str, str]:
    """UTF-8-bytes-misdecoded-as-cp1252/latin-1 digraphs -> the
    character they encode (the ftfy core table, generated rather than
    hand-typed): for every Latin-1-supplement char and the common
    Windows punctuation (curly quotes, dashes, ellipsis, euro, ...),
    its UTF-8 bytes are decoded the WRONG way (cp1252 first, latin-1
    where cp1252's undefined holes reject) and the resulting 2-3 char
    mojibake string maps back. 165 entries; 3-char sequences sort
    before 2-char so the replace chain is longest-match-first."""
    def sloppy_cp1252(data: bytes) -> str:
        # ftfy's "sloppy-windows-1252": per-byte cp1252 where defined,
        # raw latin-1 for the five undefined holes (81 8D 8F 90 9D) —
        # the decoder real crawls actually went through
        out = []
        for b in data:
            try:
                out.append(bytes([b]).decode("cp1252"))
            except UnicodeDecodeError:
                out.append(chr(b))
        return "".join(out)

    m: dict[str, str] = {}
    chars = [chr(c) for c in range(0xA0, 0x100)] + list(
        "‘’“”‚„–—…•€™‹›ƒˆ˜ŒœŠšŽžŸ†‡‰"
    )
    for ch in chars:
        u = ch.encode("utf-8")
        for moji in (sloppy_cp1252(u), u.decode("latin-1")):
            if moji != ch and moji not in m:
                m[moji] = ch
    return m


MOJIBAKE_MAP = _mojibake_map()
_MOJIBAKE_ORDER = sorted(
    MOJIBAKE_MAP, key=lambda k: (-len(k), k)
)  # longest first, then lexicographic: deterministic chain


def fix_mojibake_col(text_col: "Column | str") -> "Column":
    """Repair the classic web-crawl encoding bug — UTF-8 bytes decoded
    as cp1252/latin-1 ("Ã©" for "é", "â€”" for "—") — as a single JVM
    Column expression: an ordered longest-match-first `replace` chain
    over the generated digraph table. One pass (double-encoded text
    needs two applications, like ftfy's iterative mode); pure
    whole-stage-codegen, no Python, no shuffle, and the identical
    replace chain is expressible in ANSI SQL for oracle checking.
    Clean text is untouched: every pattern starts with Ã/Â/â/Å/Æ/Ê...
    followed by a specific continuation char, sequences that real
    non-mojibake text essentially never contains.

    Known limit: characters whose UTF-8 continuation byte is 0xA0
    (U+00A0 itself, and the à/á/... row's à = C3 A0) produce mojibake
    containing a literal NBSP; if whitespace normalization runs FIRST
    (e.g. the extraction pipeline's minify), that NBSP becomes a
    plain space and the digraph is no longer recognizable — a
    space-variant pattern ("Ã ") was deliberately NOT added because
    it can eat a real word separator. Repair before normalization
    when those characters matter (ftfy has the same ordering
    requirement)."""
    from pyspark.sql import functions as F

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    for k in _MOJIBAKE_ORDER:
        c = F.replace(c, F.lit(k), F.lit(MOJIBAKE_MAP[k]))
    return c


def fix_mojibake(
    df: "DataFrame", text_col: str = "text"
) -> "DataFrame":
    """``text_col`` repaired in place (see :func:`fix_mojibake_col`);
    adds ``was_mojibake`` marking rows the repair changed."""
    from pyspark.sql import functions as F

    fixed = fix_mojibake_col(text_col)
    return df.withColumn("_fixed", fixed).select(
        *[c for c in df.columns if c != text_col],
        F.col("_fixed").alias(text_col),
        (F.col("_fixed") != F.col(text_col)).alias("was_mojibake"),
    )


def remove_repeated_paragraphs(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "keep_first",
    max_occurrences: int = 3,
    sep: str = PARA_SEP,
) -> "DataFrame":
    """Corpus-level repeated-paragraph REMOVAL — the rewrite companion
    to :func:`paragraph_dedup_stats` (which only counts). Two policies
    from the published curation canon:

    - ``mode="keep_first"`` (CCNet paragraph dedup; C4's span dedup at
      paragraph granularity, Raffel et al. 2020 §2.2): every paragraph
      keeps its FIRST corpus occurrence (earliest (doc_id, position))
      and later occurrences are deleted from their documents.
    - ``mode="drop_hot"`` (RefinedWeb-style boilerplate stop-list):
      paragraphs occurring more than ``max_occurrences`` times
      corpus-wide are deleted from EVERY document — cookie banners and
      nav boilerplate disappear entirely instead of surviving once.

    Returns ``df`` with ``text_col`` rewritten (documents with no
    removals keep their original text byte-for-byte; rewritten ones
    rejoin surviving paragraphs with ``sep``) plus
    ``n_paras_removed``. ``sep`` is a LITERAL paragraph boundary
    (default :data:`PARA_SEP`; pass ``"\\n"`` for newline-joined
    pipeline text), regex-escaped before the split.

    100 TB shape: explode projects (id, pos, xxhash64(para)) — the
    8-byte digest shuffles, the paragraph text never does. keep_first
    is the stats operator's row_number window (same ultra-hot-
    paragraph caveat: a window cannot be AQE-skew-split; profile and
    stop-list such paragraphs first). drop_hot replaces the window
    with a map-side-combinable count + an inner join back on the
    digest — no window, so it IS skew-safe under AQE. The dropped
    (id, pos) pairs aggregate to one short row per AFFECTED document
    and join back id-keyed; untouched documents pay only that join's
    probe, and the rebuild is a pure codegen array filter + join (no
    Python)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if mode not in ("keep_first", "drop_hot"):
        raise ValueError(f"unknown mode: {mode!r}")

    import re as _re

    def split_paras(col):
        if sep == PARA_SEP:
            return _paragraphs(col)
        return F.filter(
            F.split(F.col(col), _re.escape(sep)), lambda p: p != ""
        )

    paras = df.select(
        F.col(id_col).alias("_id"),
        F.posexplode(split_paras(text_col)).alias("_pos", "para"),
    ).select("_id", "_pos", F.xxhash64("para").alias("_ph"))

    if mode == "keep_first":
        w = Window.partitionBy("_ph").orderBy("_id", "_pos")
        dropped = (
            paras.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select("_id", "_pos")
        )
    else:
        hot = (
            paras.groupBy("_ph")
            .count()
            .filter(F.col("count") > max_occurrences)
            .select("_ph")
        )
        dropped = paras.join(hot, "_ph").select("_id", "_pos")

    per_doc = dropped.groupBy("_id").agg(
        F.collect_list("_pos").alias("_dropped")
    )
    kept = F.filter(
        split_paras(text_col),
        lambda p, i: ~F.array_contains(F.col("_dropped"), i),
    )
    out = df.join(per_doc, df[id_col] == per_doc["_id"], "left")
    return out.select(
        *[c for c in df.columns if c != text_col],
        F.when(F.col("_dropped").isNull(), F.col(text_col))
        .otherwise(F.array_join(kept, sep))
        .alias(text_col),
        # explicit when(): size(NULL) is -1 under the legacy default,
        # so coalesce alone would never see a NULL to replace
        F.when(F.col("_dropped").isNull(), F.lit(0))
        .otherwise(F.size("_dropped"))
        .alias("n_paras_removed"),
    )


def dedup_lines_in_doc(
    df: "DataFrame",
    text_col: str = "text",
    sep: str = PARA_SEP,
) -> "DataFrame":
    """WITHIN-document line/paragraph dedup — the per-page half of the
    repetition story (Dolma's "remove duplicate paragraphs within a
    document"; RefinedWeb applies the same rule line-wise before the
    corpus-level passes): every line keeps only its FIRST occurrence
    inside its own document. Corpus-level repetition is
    :func:`remove_repeated_paragraphs`; this operator catches the
    nav-menu / footer block a single page repeats several times,
    which no cross-document pass can see as a within-page problem.

    Returns ``df`` with ``text_col`` rewritten (surviving lines
    rejoined with ``sep``) plus ``n_lines_removed``. ``sep`` is a
    LITERAL boundary (default :data:`PARA_SEP`; pass ``"\\n"`` for
    newline-joined pipeline text), regex-escaped before the split.
    Unlike :func:`remove_repeated_paragraphs` the text is ALWAYS
    rejoined (runs of consecutive separators collapse even in docs
    with no duplicates); empty-line segments never count as removed.
    ``text_col`` must be non-null (NULL propagates to both outputs).

    100 TB shape: ZERO shuffle, zero Python — one codegen projection
    (split → materialized array → ``filter`` keeping index ``i`` iff
    ``array_position`` of the element is ``i+1``). The lines array is
    materialized in its own Project before the lambda references it
    (the r4 transform-lambda lesson: an outer EXPRESSION inside a
    lambda re-evaluates per element). Per-doc cost is O(L²) in the
    LINE count via the array_position scan — bounded by the page
    length the extraction stage already capped, and strictly cheaper
    than the explode+window the corpus-level pass pays. DuckDB mirror:
    ``list_filter(l, (x, i) -> list_position(l, x) = i)`` (DuckDB
    lambda indices are 1-based where Spark's are 0-based)."""
    from pyspark.sql import functions as F

    import re as _re

    lines = F.filter(
        F.split(F.col(text_col), _re.escape(sep)), lambda p: p != ""
    )
    kept = F.filter(
        F.col("_lines"),
        lambda x, i: F.array_position(F.col("_lines"), x) == i + F.lit(1),
    )
    out = df.withColumn("_lines", lines)
    return out.select(
        *[c for c in df.columns if c != text_col],
        F.array_join(kept, sep).alias(text_col),
        (F.size("_lines") - F.size(kept)).cast("long")
        .alias("n_lines_removed"),
    )


def remove_host_template_lines(
    df: "DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
    host_col: str = "host",
    min_docs: int = 3,
    sep: str = PARA_SEP,
) -> "DataFrame":
    """HOST-scoped template-line removal — the per-SITE boilerplate
    rule (RefinedWeb's line-wise filtering and trafilatura-style
    main-content extraction both key on "this line appears on many
    pages of the same site": nav menus, cookie banners, footer
    legalese). A line is a template for its host when it occurs in at
    least ``min_docs`` DISTINCT documents of that host — distinct
    docs, not occurrences, so a single page repeating its own footer
    cannot promote it (that page is :func:`dedup_lines_in_doc`'s
    job). Template lines are removed from EVERY document of the host.

    Scope contrast with the corpus-wide pass
    (:func:`remove_repeated_paragraphs` ``drop_hot``): a line legit on
    one site but boilerplate on another ("About us") is only removed
    where it IS boilerplate, and a host's template never needs to
    clear a corpus-wide bar it would share with unrelated sites.

    Rows with a NULL ``host_col`` pass through untouched (no host
    evidence — the blocked-domains / domain-cap convention).

    Returns ``df`` with ``text_col`` rewritten (documents with no
    removals keep their original text byte-for-byte) plus
    ``n_tmpl_removed`` (removed line occurrences). ``sep`` is a
    LITERAL boundary (default :data:`PARA_SEP`; pass ``"\\n"`` for
    newline-joined pipeline text).

    100 TB shape: the explode projects (id, host, pos, xxhash64(line))
    — 8-byte digests shuffle, line text never does. The template set
    is a distinct + map-side-combinable count keyed on (host, digest)
    — an equi-join shape with NO window, so AQE can skew-split an
    ultra-hot host. Dropped (id, pos) pairs aggregate to one short
    row per AFFECTED document and join back id-keyed; untouched
    documents pay only the join probe, and the rebuild is a pure
    codegen array filter (no Python).
    """
    from pyspark.sql import functions as F

    import re as _re

    def split_lines(col):
        if sep == PARA_SEP:
            return _paragraphs(col)
        return F.filter(
            F.split(F.col(col), _re.escape(sep)), lambda p: p != ""
        )

    paras = df.filter(F.col(host_col).isNotNull()).select(
        F.col(id_col).alias("_id"),
        F.col(host_col).alias("_host"),
        F.posexplode(split_lines(text_col)).alias("_pos", "para"),
    ).select("_id", "_host", "_pos", F.xxhash64("para").alias("_ph"))

    template = (
        paras.select("_host", "_ph", "_id")
        .distinct()
        .groupBy("_host", "_ph")
        .count()
        .filter(F.col("count") >= min_docs)
        .select("_host", "_ph")
    )
    dropped = paras.join(template, ["_host", "_ph"]).select("_id", "_pos")

    per_doc = dropped.groupBy("_id").agg(
        F.collect_list("_pos").alias("_dropped")
    )
    kept = F.filter(
        split_lines(text_col),
        lambda p, i: ~F.array_contains(F.col("_dropped"), i),
    )
    out = df.join(per_doc, df[id_col] == per_doc["_id"], "left")
    return out.select(
        *[c for c in df.columns if c != text_col],
        F.when(F.col("_dropped").isNull(), F.col(text_col))
        .otherwise(F.array_join(kept, sep))
        .alias(text_col),
        F.when(F.col("_dropped").isNull(), F.lit(0))
        .otherwise(F.size("_dropped"))
        .alias("n_tmpl_removed"),
    )


# control/format-character scrub patterns — restricted to the
# RE2 ∩ Java-regex common dialect (both support \x{...} in classes)
# so the DuckDB oracle can run the IDENTICAL pattern strings.
#
# deletable: C0 controls except \t\n (\r is normalized to \n first),
# DEL, C1 controls (U+0080-U+009F — includes NEL), soft hyphen,
# zero-width space, word joiner, BOM/zero-width no-break space.
# ZWNJ/ZWJ (U+200C/U+200D) are deliberately KEPT: they are
# linguistically meaningful (Persian/Arabic/Indic shaping, emoji
# sequences) and removing them corrupts text a tokenizer handles fine.
CTRL_DELETE_RE = (
    "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f"
    "\\x{0080}-\\x{009f}\\x{00ad}\\x{200b}\\x{2060}\\x{feff}]"
)
# unicode space separators normalized to ASCII space (NBSP, ogham,
# en/em/figure/thin/hair spaces, narrow NBSP, math space, ideographic)
CTRL_SPACE_RE = (
    "[\\x{00a0}\\x{1680}\\x{2000}-\\x{200a}\\x{202f}\\x{205f}\\x{3000}]"
)


def clean_control_chars_col(text_col: "Column | str") -> "Column":
    """Pre-tokenization control/format-character scrub (the standard
    crawl-text cleanup every published pipeline runs in some form —
    C4 drops pages with bad codepoints, Dolma/CCNet normalize them):
    CRLF/CR -> LF, then control and invisible-format characters
    deleted (:data:`CTRL_DELETE_RE`), then unicode space separators
    mapped to ASCII space (:data:`CTRL_SPACE_RE`).

    Ordering contract: run AFTER :func:`fix_mojibake_col` — the
    repair chain needs the raw NBSP continuation bytes this scrub
    would rewrite (same repair-before-normalize rule ftfy documents).

    A pure Column projection (three JVM regexp_replace calls): zero
    Python, zero shuffle, and the patterns are RE2 ∩ Java so an
    engine-independent oracle can replay them byte-for-byte."""
    from pyspark.sql import functions as F

    c = F.col(text_col) if isinstance(text_col, str) else text_col
    c = F.regexp_replace(c, "\\r\\n?", "\n")
    c = F.regexp_replace(c, CTRL_DELETE_RE, "")
    return F.regexp_replace(c, CTRL_SPACE_RE, " ")


def clean_control_chars(
    df: "DataFrame", text_col: str = "text"
) -> "DataFrame":
    """Apply :func:`clean_control_chars_col` to ``text_col`` and add
    ``had_control`` (true when the scrub changed the text)."""
    from pyspark.sql import functions as F

    cleaned = clean_control_chars_col(text_col)
    return df.select(
        *[c for c in df.columns if c != text_col],
        cleaned.alias(text_col),
        (cleaned != F.col(text_col)).alias("had_control"),
    )


# Unicode normalization forms accepted by unicode_normalize_udf
NORMAL_FORMS = ("NFC", "NFKC", "NFD", "NFKD")


def unicode_normalize_udf(form: str = "NFC"):
    """Arrow-batched Unicode-normalization UDF; applying it to a text
    Column yields the normalized Column. Spark exposes no JVM Unicode
    normalizer, so this is the documented pandas-UDF exception — a
    stateless vectorized projection (pandas ``Series.str.normalize``,
    NULL-preserving), zero shuffle, no state.

    NFC is the crawl-pipeline default (ftfy and CCNet both normalize
    AFTER encoding repair — composed accents, singleton folds like
    U+212B ANGSTROM SIGN -> U+00C5, canonical combining-mark
    reordering). NFKC additionally folds compatibility forms
    (ligatures, fullwidth digits) — the aggressive variant some
    tokenizer stacks want; NFD/NFKD are the decomposed duals.

    Cross-engine oracle: DuckDB ``nfc_normalize`` recomputes the NFC
    form, so the gate pins two independent Unicode implementations
    (CPython unicodedata vs DuckDB's) against each other.

    100 TB shape: a pure per-row projection — no shuffle, no driver
    state; the only cost is the Arrow batch hop, paid exactly where
    the JVM genuinely lacks the primitive.
    """
    import pandas as pd  # noqa: F401 (signature typing)
    from pyspark.sql import functions as F

    if form not in NORMAL_FORMS:
        raise ValueError(
            f"unknown normalization form {form!r}; expected one of "
            f"{NORMAL_FORMS}"
        )

    @F.pandas_udf("string")
    def _norm(s):
        return s.str.normalize(form)

    return _norm


def unicode_normalize(
    df: "DataFrame", text_col: str = "text", form: str = "NFC"
) -> "DataFrame":
    """Normalize ``text_col`` to ``form`` and add ``was_denormalized``
    (true when normalization changed the text — i.e. the page carried
    decomposed/compatibility sequences). The UDF evaluates once: the
    raw column is aliased first and the flag compares materialized
    outputs, not two UDF invocations."""
    from pyspark.sql import functions as F

    keep = [c for c in df.columns if c != text_col]
    staged = df.select(
        *keep,
        F.col(text_col).alias("_raw_txt"),
        unicode_normalize_udf(form)(F.col(text_col)).alias(text_col),
    )
    return staged.select(
        *keep,
        text_col,
        (
            F.col(text_col).isNotNull()
            & (F.col(text_col) != F.col("_raw_txt"))
        ).alias("was_denormalized"),
    )
