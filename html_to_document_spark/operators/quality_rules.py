"""Rule-based corpus quality filters: the Gopher document rules and
C4-style line cleaning, as shuffle-free codegen projections.

Sources are the published recipes (public knowledge): the Gopher
document-quality rules of Rae et al. 2021 ("Scaling Language Models",
App. A1.1) and the C4 line filters of Raffel et al. 2020 ("Exploring
the Limits of Transfer Learning", §2.2). These are the heuristics a
real 100 TB curation run applies between language-ID and dedup — the
learned classifier (``quality_model.py``) ranks, these hard-filter.

Scale shape: every rule is a pure ``pyspark.sql.functions`` Column
expression over the text column — whole-stage codegen, zero shuffles,
zero Python. All expressions stay inside the RE2 ∩ Java ∩ DuckDB
regex dialect so the driver oracle can replicate them byte-exactly
(the same constraint ``corpus_hygiene.py`` holds for PII patterns).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import Column, DataFrame

__all__ = [
    "gopher_quality_flags",
    "gopher_keep_col",
    "c4_line_filter",
    "word_blocklist_flags",
    "blocklist_keep_col",
    "GOPHER_STOPWORDS",
]

# Gopher requires >= 2 of these to appear in the document
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")

_BULLETS = ("•", "‣", "▪", "-", "*")


def _words(c) -> "Column":
    from pyspark.sql import functions as F

    return F.split(F.trim(c), r"\s+")


def _gopher_exprs(
    c,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
):
    """(stats dict, flags dict, keep Column) over text Column ``c``."""
    from pyspark.sql import functions as F
    words = _words(c)
    n_words = F.size(words)
    sum_word_len = F.aggregate(
        F.transform(words, F.length), F.lit(0), lambda a, x: a + x
    )
    mean_word_len = sum_word_len / F.greatest(n_words, F.lit(1))
    # Gopher counts '#' and ellipses as symbols
    n_symbols = (
        F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), F.lit(0)))
    )
    symbol_ratio = n_symbols / F.greatest(n_words, F.lit(1))

    lines = F.filter(
        F.transform(F.split(c, r"\n"), F.trim), lambda l: l != ""
    )
    n_lines = F.size(lines)
    n_bullet = F.size(
        F.filter(lines, lambda l: F.substring(l, 1, 1).isin(*_BULLETS))
    )
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda l: l.endswith("...") | l.endswith("…"),
        )
    )
    bullet_ratio = n_bullet / F.greatest(n_lines, F.lit(1))
    ellipsis_ratio = n_ellipsis / F.greatest(n_lines, F.lit(1))

    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    )
    alpha_ratio = n_alpha_words / F.greatest(n_words, F.lit(1))

    stop_hits = None
    for w in GOPHER_STOPWORDS:
        hit = F.when(c.rlike(rf"(^|[^A-Za-z]){w}([^A-Za-z]|$)"), 1).otherwise(0)
        stop_hits = hit if stop_hits is None else stop_hits + hit

    r = lambda x: F.round(x, 4)  # noqa: E731 — stable float compare
    stats = {
        "n_words": n_words,
        "mean_word_len": r(mean_word_len),
        "symbol_word_ratio": r(symbol_ratio),
        "bullet_line_ratio": r(bullet_ratio),
        "ellipsis_line_ratio": r(ellipsis_ratio),
        "alpha_word_ratio": r(alpha_ratio),
        "stop_hits": stop_hits.cast("int"),
    }
    flags = {
        "word_count_ok": (n_words >= min_words) & (n_words <= max_words),
        "word_len_ok": (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len),
        "symbol_ok": symbol_ratio <= max_symbol_word_ratio,
        "bullet_ok": bullet_ratio <= max_bullet_line_ratio,
        "ellipsis_ok": ellipsis_ratio <= max_ellipsis_line_ratio,
        "alpha_ok": alpha_ratio >= min_alpha_word_ratio,
        "stopword_ok": stop_hits >= min_stop_hits,
    }
    keep = None
    for e in flags.values():
        keep = e if keep is None else keep & e
    return stats, flags, keep


def gopher_quality_flags(
    df: "DataFrame", text_col: str = "text", **thresholds
) -> "DataFrame":
    """Per-document Gopher rule flags + the conjunctive keep bit.

    Returns (doc_id, n_words, mean_word_len, symbol_word_ratio,
    bullet_line_ratio, ellipsis_line_ratio, alpha_word_ratio,
    stop_hits, word_count_ok, word_len_ok, symbol_ok, bullet_ok,
    ellipsis_ok, alpha_ok, stopword_ok, gopher_keep).

    Thresholds default to the published values; each rule column is
    exposed so downstream analysis can measure which rule fires (the
    standard ablation when tuning a curation recipe).
    """
    from pyspark.sql import functions as F

    stats, flags, keep = _gopher_exprs(F.col(text_col), **thresholds)
    return df.select(
        "doc_id",
        *[e.alias(name) for name, e in stats.items()],
        *[e.alias(name) for name, e in flags.items()],
        keep.alias("gopher_keep"),
    )


def gopher_keep_col(text_col: str = "text", **thresholds) -> "Column":
    """The conjunctive Gopher keep predicate as a bare Column — for
    zero-join ``df.filter(gopher_keep_col())`` pipeline stages."""
    from pyspark.sql import functions as F

    _, _, keep = _gopher_exprs(F.col(text_col), **thresholds)
    return keep


def c4_line_filter(
    df: "DataFrame",
    text_col: str = "text",
    *,
    min_line_words: int = 5,
    drop_markers: tuple = ("lorem ipsum", "javascript", "cookie policy"),
    require_terminal_punct: bool = True,
    min_kept_lines: int = 3,
) -> "DataFrame":
    """C4-style line-level cleaning: keep only lines that end in
    terminal punctuation, carry >= ``min_line_words`` words, and do
    not contain a drop marker; drop documents with fewer than
    ``min_kept_lines`` surviving lines or any curly brace (code).

    Returns the input columns with ``text`` REPLACED by the cleaned
    newline-joined text, plus (n_lines_in, n_lines_kept). Everything
    is a Column expression — the corpus is never shuffled and never
    leaves the JVM.
    """
    from pyspark.sql import functions as F

    c = F.col(text_col)
    lines = F.filter(
        F.transform(F.split(c, r"\n"), F.trim), lambda l: l != ""
    )

    _TERMINALS = (".", "!", "?", '."', ".”", '!"', "!”", '?"', "?”")

    def keep_line(l):
        ok = F.size(F.split(l, r"\s+")) >= min_line_words
        if require_terminal_punct:
            punct = None
            for t in _TERMINALS:
                e = l.endswith(t)
                punct = e if punct is None else punct | e
            ok = ok & punct
        low = F.lower(l)
        for m in drop_markers:
            ok = ok & ~low.contains(m)
        return ok

    kept = F.filter(lines, keep_line)
    out_cols = [
        F.col(n) if n != text_col else None for n in df.columns
    ]
    out_cols = [e for e in out_cols if e is not None]
    # the code rule (curly brace) must see the ORIGINAL text — line
    # cleaning may strip the very line that carries the brace; computed
    # as a column here so the post-select filter reuses it and
    # n_lines_kept instead of re-deriving the expression trees
    return (
        df.select(
            *out_cols,
            F.array_join(kept, "\n").alias(text_col),
            F.size(lines).alias("n_lines_in"),
            F.size(kept).alias("n_lines_kept"),
            c.contains("{").alias("_had_brace"),
        )
        .filter(
            (F.col("n_lines_kept") >= min_kept_lines)
            & ~F.col("_had_brace")
        )
        .drop("_had_brace")
    )


def _blocklist_exprs(c, blocklist, max_fraction: float):
    """(stats dict, keep Column) for the word-blocklist rule over text
    Column ``c``."""
    from pyspark.sql import functions as F

    norm = sorted({w.lower() for w in blocklist})
    if not norm:
        raise ValueError("blocklist must contain at least one word")
    words = _words(c)
    n_words = F.size(words)
    flagged = F.filter(
        words,
        lambda w: F.regexp_replace(
            F.lower(w), r"^[^a-z0-9]+|[^a-z0-9]+$", ""
        ).isin(*norm),
    )
    n_flagged = F.size(flagged)
    frac = n_flagged / F.greatest(n_words, F.lit(1))
    stats = {
        "n_flagged_words": n_flagged,
        "flagged_word_fraction": F.round(frac, 4),
    }
    return stats, frac <= max_fraction


def word_blocklist_flags(
    df: "DataFrame",
    blocklist,
    text_col: str = "text",
    *,
    max_fraction: float = 0.0,
) -> "DataFrame":
    """The C4 "bad words" page filter (Raffel et al. 2020 §2.2 drop
    any page containing a word on a blocklist; the published recipe
    uses the public LDNOOBW lexicon — the list itself is the CALLER's
    input here, this operator is the mechanism): per-document count
    and fraction of words whose lowercased, edge-punctuation-stripped
    form is on the list, plus the keep bit (``flagged_word_fraction <=
    max_fraction``; the C4 any-hit rule is the ``max_fraction=0.0``
    default, a fraction threshold is the Dolma/RefinedWeb relaxation).

    Returns (doc_id, n_flagged_words, flagged_word_fraction,
    blocklist_keep).

    Scale shape: the lexicon compiles to a codegen'd InSet probe over
    the per-row words array — a pure projection, zero shuffles, zero
    Python, same plan class as ``gopher_quality_flags``. Word
    normalization (lower + strip non-alphanumeric edges) catches the
    "word." / "Word," forms that raw whitespace tokens hide.
    """
    from pyspark.sql import functions as F

    stats, keep = _blocklist_exprs(F.col(text_col), blocklist, max_fraction)
    return df.select(
        "doc_id",
        *[e.alias(name) for name, e in stats.items()],
        keep.alias("blocklist_keep"),
    )


def blocklist_keep_col(
    blocklist, text_col: str = "text", *, max_fraction: float = 0.0
) -> "Column":
    """The blocklist keep predicate as a bare Column — for zero-join
    ``df.filter(blocklist_keep_col(words))`` pipeline stages."""
    from pyspark.sql import functions as F

    _, keep = _blocklist_exprs(F.col(text_col), blocklist, max_fraction)
    return keep


# Rae et al. 2021, App. A1.1 — repetition thresholds
TOP_NGRAM_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
DUP_NGRAM_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def gopher_repetition_flags(
    df: "DataFrame",
    text_col: str = "text",
    *,
    top_thresholds: dict = TOP_NGRAM_THRESHOLDS,
    dup_thresholds: dict = DUP_NGRAM_THRESHOLDS,
) -> "DataFrame":
    """The Gopher n-gram repetition rules: per document, the fraction
    of characters covered by the single most frequent word n-gram
    (n=2..4) and by all duplicated word n-grams (n=5..10), each against
    its published threshold, plus the conjunctive ``repetition_keep``.

    Character fractions are (occurrences x gram chars) / doc chars —
    overlapping occurrences are counted per occurrence (so the dup
    fraction is capped at 1.0); this matches the cheap shuffle
    definition, not a character-coverage bitmap, and is applied
    identically in the DuckDB oracle.

    Plan shape: one explode of every (n, gram) occurrence, grams
    pre-hashed to 64 bits map-side, then two aggregations — the same
    shape as the DuckDB oracle (see :func:`_repetition_shuffle`). A doc
    appears in the output iff it has at least one gram for the smallest
    n. The aggregates are what stop a filter on the flags (the usual
    ``.filter(~repetition_keep)``) from being pushed through the gram
    projections, which would inline the word split into every
    per-gram lambda and make the work O(words^2) per doc. A degenerate
    narrow input (single-file scan) is widened once before the gram
    stage (``parallelism.widen_small_scan``): the explode runs at scan
    width.
    """
    from pyspark.sql import functions as F

    from .parallelism import widen_small_scan

    df = widen_small_scan(df)
    c = F.col(text_col)
    all_ns = sorted(set(top_thresholds) | set(dup_thresholds))
    return _repetition_shuffle(
        df, c, all_ns, top_thresholds, dup_thresholds
    )


def _repetition_shuffle(df, c, all_ns, top_thresholds, dup_thresholds):
    """Explode + two-aggregation formulation: ONE explode emits every
    (n, gram) occurrence with the gram pre-hashed to 64 bits map-side —
    shuffle rows are (doc_id, n, hash, gram_chars, doc_chars), never
    gram text (same collision policy as exact_dedup). Per-gram count
    (map-side combinable), per-(doc, n) argmax/sum, then a
    conditional-agg pivot to one row per doc. All expressions
    JVM-side. The aggregates also fence the word split: a filter on
    the output flags cannot be pushed below them, so ``_w`` stays one
    materialized column under any filter."""
    from pyspark.sql import functions as F

    # materialize the split ONCE as a column before the gram lambdas:
    # a lambda that references the outer split() expression makes
    # Catalyst re-evaluate the split PER ARRAY ELEMENT — measured 85s
    # -> ~3s for the explode at sf0.1 (O(doc_len^2) per doc otherwise)
    words = F.col("_w")

    def grams_for(n: int):
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - n + 1),
                lambda i: F.struct(
                    F.lit(n).alias("n"),
                    F.array_join(F.slice(words, i, n), " ").alias("g"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<n:int,g:string>>"))

    exploded_grams = (
        df.select(
            "doc_id", F.length(c).alias("_dc"), _words(c).alias("_w")
        )
        .select(
            "doc_id",
            "_dc",
            F.explode(F.concat(*[grams_for(n) for n in all_ns])).alias("_g"),
        )
        .select(
            "doc_id",
            "_dc",
            F.col("_g.n").alias("n"),
            F.xxhash64("_g.g").alias("_gh"),
            F.length("_g.g").alias("_gl"),
        )
    )
    per_gram = exploded_grams.groupBy("doc_id", "n", "_gh").agg(
        F.count("*").alias("_cnt"),
        F.first("_gl").alias("_gl"),
        F.first("_dc").alias("_dc"),
    )
    # "most frequent n-gram" = argmax by count (ties broken by covered
    # chars, lexicographic struct max — identical semantics in the
    # DuckDB oracle); a long count-1 gram must NOT beat a short
    # frequent one, so max(count*len) alone would be wrong
    per_n = per_gram.groupBy("doc_id", "n").agg(
        (
            F.max(
                F.struct(
                    F.col("_cnt").alias("c"),
                    (F.col("_cnt") * F.col("_gl")).alias("p"),
                )
            )["p"]
            / F.max("_dc")
        ).alias("_topf"),
        F.least(
            F.coalesce(
                F.sum(
                    F.when(F.col("_cnt") > 1, F.col("_cnt") * F.col("_gl"))
                ),
                F.lit(0),
            )
            / F.max("_dc"),
            F.lit(1.0),
        ).alias("_dupf"),
    )

    r = lambda x: F.round(x, 4)  # noqa: E731
    stat_cols, flag_exprs = [], []
    for n, thr in sorted(top_thresholds.items()):
        frac = F.coalesce(
            F.max(F.when(F.col("n") == n, F.col("_topf"))), F.lit(0.0)
        )
        stat_cols.append(r(frac).alias(f"top_{n}gram_char_frac"))
        flag_exprs.append((frac <= thr).alias(f"top_{n}gram_ok"))
    for n, thr in sorted(dup_thresholds.items()):
        frac = F.coalesce(
            F.max(F.when(F.col("n") == n, F.col("_dupf"))), F.lit(0.0)
        )
        stat_cols.append(r(frac).alias(f"dup_{n}gram_char_frac"))
        flag_exprs.append((frac <= thr).alias(f"dup_{n}gram_ok"))
    keep = None
    for e in flag_exprs:
        keep = e if keep is None else keep & e

    return per_n.groupBy("doc_id").agg(
        *stat_cols, *flag_exprs, keep.alias("repetition_keep")
    )
