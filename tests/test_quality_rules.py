"""Gopher document rules + C4 line cleaning (published curation
heuristics as codegen projections)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from html_to_document_spark.operators.quality_rules import (
    c4_line_filter,
    gopher_keep_col,
    gopher_quality_flags,
)

GOOD = (
    "the data and words that we have with all of "
    + " ".join(f"word{i}" for i in range(60))
    + "."
)

CASES = [
    # (doc_id, text, failing flag or None)
    (1, GOOD, None),
    (2, "short text the and of", "word_count_ok"),
    (3, " ".join(["the", "of", "and"] + ["supercalifragilistical"] * 60),
     "word_len_ok"),
    (4, GOOD.replace("word", "#word"), "symbol_ok"),
    (5, "\n".join(
        ["• bullet the and of have with more words in this line here"] * 20
    ), "bullet_ok"),
    (6, "\n".join([GOOD + " trailing..."] * 10), "ellipsis_ok"),
    (7, "the and of that have with " + " ".join(["12345"] * 60), "alpha_ok"),
    (8, " ".join([f"unique{i}" for i in range(60)]), "stopword_ok"),
]

FLAG_COLS = [
    "word_count_ok", "word_len_ok", "symbol_ok", "bullet_ok",
    "ellipsis_ok", "alpha_ok", "stopword_ok",
]


def test_each_rule_fires_exactly_on_its_case(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in CASES], "doc_id long, text string"
    )
    rows = {r.doc_id: r for r in gopher_quality_flags(df).collect()}
    for doc_id, _, failing in CASES:
        r = rows[doc_id]
        if failing is None:
            assert r.gopher_keep, r
            assert all(r[f] for f in FLAG_COLS)
        else:
            assert not r.gopher_keep
            assert not r[failing], (doc_id, failing)
            others = [f for f in FLAG_COLS if f != failing]
            # each planted case violates ONLY its target rule
            assert all(r[f] for f in others), (doc_id, r)


def test_keep_col_equals_flags_frame(spark):
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in CASES], "doc_id long, text string"
    )
    via_flags = {
        r.doc_id
        for r in gopher_quality_flags(df).filter("gopher_keep").collect()
    }
    via_col = {r.doc_id for r in df.filter(gopher_keep_col()).collect()}
    assert via_flags == via_col == {1}


def test_thresholds_are_tunable(spark):
    df = spark.createDataFrame([(2, "short text the and of")],
                               "doc_id long, text string")
    assert df.filter(gopher_keep_col(min_words=3)).count() == 1


def test_plan_is_single_codegen_filter(spark):
    df = spark.createDataFrame([(1, GOOD)], "doc_id long, text string")
    plan = df.filter(gopher_keep_col())._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # no shuffle
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_c4_line_filter(spark):
    text = "\n".join([
        "A good long sentence with many words right here.",
        "short one",
        "Another solid line of useful text that ends properly.",
        "No terminal punctuation in this line at all",
        "A third proper sentence finishes this document nicely.",
        "lorem ipsum dolor sit amet consectetur adipiscing elit.",
        "Please accept our cookie policy before reading this article.",
    ])
    df = spark.createDataFrame(
        [(1, text),
         (2, "only one proper line ends with a period here today."),
         (3, "code { returns } plus a sentence ending with a period.\n"
             "Another fine sentence with enough words ends here too.\n"
             "A third complete sentence with plenty of words ends here.")],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in c4_line_filter(df).collect()}
    assert set(rows) == {1}
    r = rows[1]
    assert r.n_lines_in == 7 and r.n_lines_kept == 3
    kept = r.text.split("\n")
    assert all(l[0] == "A" for l in kept)  # the three proper sentences
    # doc 2: below min_kept_lines; doc 3: curly brace (code) rule


def test_c4_preserves_other_columns(spark):
    df = spark.createDataFrame(
        [(1, "u1", "One proper sentence with enough words ends here.\n" * 3)],
        "doc_id long, url string, text string",
    )
    out = c4_line_filter(df)
    assert out.columns == ["doc_id", "url", "text", "n_lines_in",
                           "n_lines_kept"]
    assert out.collect()[0].url == "u1"


def test_pipeline_gopher_stage(spark):
    """gopher_filter drops a rule-violating doc the base quality score
    lets through."""
    from html_to_document_spark.plans.pipeline import (
        build_training_pipeline,
    )

    def doc(i, body):
        return (f"d{i}", [{"kind": "text", "text": f"<p>{body}</p>",
                           "media_ref": None, "offset": 0}])

    good_body = GOOD
    # violates only the symbol rule — line-structure-independent AND
    # stopword-preserving, so base lang-ID still classifies it as en
    symbol_heavy = GOOD.replace("word", "#word")
    df = spark.createDataFrame(
        [doc(0, good_body), doc(1, symbol_heavy)],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    base = build_training_pipeline(
        df, num_partitions=2, min_quality=0.0, materialize="none"
    )
    strict = build_training_pipeline(
        df, num_partitions=2, min_quality=0.0, materialize="none",
        gopher_filter=True,
    )
    assert {r.doc_id for r in base.collect()} == {"d0", "d1"}
    assert {r.doc_id for r in strict.collect()} == {"d0"}


def test_repetition_flags(spark):
    from html_to_document_spark.operators.quality_rules import (
        gopher_repetition_flags,
    )

    clean = " ".join(f"distinct{i} token{i}" for i in range(30))
    spammy = "spam phrase repeated here " * 30
    top_heavy = ("the same pair " * 25) + " ".join(
        f"filler{i}" for i in range(40)
    )
    df = spark.createDataFrame(
        [(1, clean), (2, spammy), (3, top_heavy)],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in gopher_repetition_flags(df).collect()}
    r1 = rows[1]
    assert r1.repetition_keep
    assert r1.top_2gram_char_frac < 0.2 and r1.dup_5gram_char_frac == 0.0
    r2 = rows[2]
    assert not r2.repetition_keep
    assert not r2.dup_5gram_ok and not r2.dup_10gram_ok
    assert r2.dup_5gram_char_frac == 1.0  # capped
    r3 = rows[3]
    assert not r3.repetition_keep
    assert not r3.top_2gram_ok  # one dominant 2-gram
    # a doc shorter than every n yields no gram rows at all
    short = spark.createDataFrame([(9, "one")], "doc_id long, text string")
    assert gopher_repetition_flags(short).count() == 0


def test_repetition_shuffle_carries_hash_not_text(spark):
    from html_to_document_spark.operators.quality_rules import (
        gopher_repetition_flags,
    )

    df = spark.createDataFrame([(1, "a b c d e f g")],
                               "doc_id long, text string")
    plan = (
        gopher_repetition_flags(df)
        ._jdf.queryExecution().executedPlan().toString()
    )
    # the exchange between the explode and the per-gram count must key
    # on the 64-bit xxhash, never the gram string
    exch = [l for l in plan.split("\n") if "Exchange hashpartitioning" in l]
    assert exch and all("xxhash64" in l or "_gh" in l or "doc_id" in l
                        for l in exch)


# the word split evaluated inside a per-gram lambda: O(words^2) per doc
SPLIT_IN_GRAM_LAMBDA = "lambdafunction(array_join(slice(split("


def test_repetition_filter_keeps_split_out_of_gram_lambdas(spark):
    """A filter on the flags (what every caller does with them) must not
    be pushed into the gram projections: that inlines the word split
    into each per-gram lambda element."""
    from html_to_document_spark.operators.quality_rules import (
        gopher_repetition_flags,
    )

    df = spark.createDataFrame(
        [(i, " ".join(f"w{(i * j) % 13}" for j in range(40)))
         for i in range(8)],
        "doc_id long, text string",
    )
    spam = (
        gopher_repetition_flags(df)
        .filter(~F.col("repetition_keep"))
        .select("doc_id")
    )
    plan = spam._jdf.queryExecution().optimizedPlan().toString()
    assert SPLIT_IN_GRAM_LAMBDA not in plan


def test_pipeline_repetition_filter_returns(spark):
    """The pipeline's repetition stage (an anti-join against the
    filtered flags) over a 60-doc synthetic corpus: it returns, and its
    optimized plan keeps the word split out of the gram lambdas."""
    from html_to_document_spark.plans.pipeline import (
        build_training_pipeline,
    )
    from html_to_document_spark.sources.synthetic import generate_corpus

    out = build_training_pipeline(
        generate_corpus(spark, 60, seed=5, giant_frac=0.0),
        num_partitions=4, min_quality=0.0, text_join="newline",
        repetition_filter=True,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert SPLIT_IN_GRAM_LAMBDA not in plan
    assert out.count() > 0


def _gopher_repetition_reference(text, top_thresholds, dup_thresholds):
    """Rae et al. 2021, App. A1.1, in plain Python: words split like
    Spark's ``split(trim(text), '\\s+')`` (trim strips spaces only);
    occurrences counted overlapping; the top gram is the argmax by
    (count, covered chars); the dup fraction sums count x chars over
    grams seen more than once, capped at 1.0; stats rounded half-up to
    4 decimals, flags taken on the unrounded fraction. ``None`` for a
    doc with fewer words than the smallest n."""
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    words = re.split(r"[ \t\n\x0b\f\r]+", text.strip(" "))
    ns = sorted(set(top_thresholds) | set(dup_thresholds))
    if len(words) < ns[0]:
        return None

    def r4(x):
        return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                               ROUND_HALF_UP))

    def counts(n):
        return Counter(" ".join(words[i:i + n])
                       for i in range(len(words) - n + 1))

    out, flags = {}, {}
    for n, thr in sorted(top_thresholds.items()):
        c = counts(n)
        top = (max((k, k * len(g)) for g, k in c.items())[1] / len(text)
               if c else 0.0)
        out[f"top_{n}gram_char_frac"] = r4(top)
        flags[f"top_{n}gram_ok"] = top <= thr
    for n, thr in sorted(dup_thresholds.items()):
        c = counts(n)
        dup = (min(sum(k * len(g) for g, k in c.items() if k > 1)
                   / len(text), 1.0) if c else 0.0)
        out[f"dup_{n}gram_char_frac"] = r4(dup)
        flags[f"dup_{n}gram_ok"] = dup <= thr
    return {**out, **flags, "repetition_keep": all(flags.values())}


def test_repetition_matches_python_reference(spark):
    """Every column and the row membership equal a plain-Python replay
    of the published definition, on a corpus with planted repetition,
    whitespace edges, empty and sub-minimum docs."""
    import random

    from html_to_document_spark.operators.quality_rules import (
        DUP_NGRAM_THRESHOLDS,
        TOP_NGRAM_THRESHOLDS,
        gopher_repetition_flags,
    )

    rng = random.Random(7)
    vocab = ["alpha", "beta", "gamma", "delta", "eps", "zeta",
             "the", "of", "and", "xx", "yy", "zz"]
    rows = []
    for i in range(120):
        n = rng.randint(0, 60)
        words = [rng.choice(vocab) for _ in range(n)]
        if i % 5 == 0 and n > 4:
            words = words + words[: rng.randint(1, n)]
        txt = " ".join(words)
        if i % 17 == 0:
            txt = "   " + txt + "\t\n"
        if i % 31 == 0:
            txt = ""
        rows.append((i, txt))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.asDict() for r in gopher_repetition_flags(df).collect()}
    want = {}
    for i, txt in rows:
        ref = _gopher_repetition_reference(
            txt, TOP_NGRAM_THRESHOLDS, DUP_NGRAM_THRESHOLDS)
        if ref is not None:
            want[i] = {"doc_id": i, **ref}
    assert set(got) == set(want)
    assert len(got) > 100  # only the <2-word docs drop
    for i in sorted(want):
        assert got[i] == want[i], i


def test_pipeline_repetition_and_c4_stages(spark):
    """repetition_filter drops a spam doc; c4_clean with newline join
    strips unpunctuated lines and drops line-starved docs."""
    from html_to_document_spark.plans.pipeline import (
        build_training_pipeline,
    )

    def doc(name, blocks):
        return (name, [
            {"kind": "text", "text": f"<p>{b}</p>", "media_ref": None,
             "offset": i}
            for i, b in enumerate(blocks)
        ])

    # genuinely diverse lines: indexed tokens so no 5-gram repeats (a
    # shared sentence TEMPLATE legitimately trips the dup-5gram rule —
    # the first draft of this test proved that the hard way), plus one
    # stopword-rich line so lang-ID still reads as English
    sentences = [
        " ".join(f"tok{i}word{j}" for j in range(9)) + " fine."
        for i in range(5)
    ] + ["We have the results that go with all of them now."]
    spam_blocks = ["the spam phrase repeats here now again"] * 30
    df = spark.createDataFrame(
        [
            doc("clean", sentences),
            doc("spam", spam_blocks),
            doc("noisy", sentences + ["no terminal punctuation line",
                                      "menu home about contact"]),
        ],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    out = build_training_pipeline(
        df, num_partitions=2, min_quality=0.0, materialize="none",
        text_join="newline", repetition_filter=True,
    )
    ids = {r.doc_id for r in out.collect()}
    assert "spam" not in ids and "clean" in ids

    cleaned = build_training_pipeline(
        df, num_partitions=2, min_quality=0.0, materialize="none",
        text_join="newline", c4_clean=True,
    )
    rows = {r.doc_id: r for r in cleaned.collect()}
    assert "clean" in rows
    # the two junk lines are stripped from noisy's text
    assert "no terminal punctuation line" not in rows.get(
        "noisy", rows["clean"]
    ).text
    for r in rows.values():
        assert all(l.endswith(".") for l in r.text.split("\n"))


def test_c4_brace_rule_sees_original_text(spark):
    """A code line stripped by line cleaning must still trigger the
    document-level curly-brace drop (review finding: the rule must
    evaluate the ORIGINAL text, not the cleaned text)."""
    text = ("function handle() {\n"
            "A proper sentence with plenty of words ends here.\n"
            "Another proper sentence with plenty of words ends here.\n"
            "A third proper sentence with plenty of words ends here.")
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    assert c4_line_filter(df).count() == 0


def test_c4_keeps_quoted_exclamations(spark):
    text = ('She shouted across the room, "We finally won the game!"\n'
            "A proper sentence with plenty of words ends here.\n"
            'Did anyone actually expect that outcome to happen today?"\n')
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = c4_line_filter(df).collect()
    assert rows and rows[0].n_lines_kept == 3


def test_top_ngram_is_argmax_by_count_not_product(spark):
    """A single long unique n-gram must not beat a short frequent one
    (review finding: max(count*len) alone deviates from 'the most
    frequently-occurring n-gram')."""
    from html_to_document_spark.operators.quality_rules import (
        gopher_repetition_flags,
    )

    # "of the" occurs 3x (most frequent 2-gram, tiny); one very long
    # unique 2-gram would dominate a max-product formula
    text = (
        "of the alpha of the bravo of the "
        "supercalifragilisticexpialidocious pneumonoultramicroscopic "
        + " ".join(f"w{i}" for i in range(40))
    )
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = gopher_repetition_flags(df).collect()[0]
    # most frequent 2-gram = "of the" (3 occurrences, 6 chars) -> tiny
    assert r.top_2gram_char_frac < 0.12, r.top_2gram_char_frac
